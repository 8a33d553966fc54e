package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One lifecycle for every at-rest ledger family.
  *
  * A family is a [[Spec]]: its key columns, a merge from a closed set
  * ([[Merge]]), a retract ([[Retract]]), a compaction layout
  * ([[Layout]]) and an optional parameter sidecar ([[Params]]) with its
  * drift guard. This module writes each lifecycle step once — create,
  * advance (merge-in-place) or append (LSM delta), retract or remove,
  * compact, and read — over the crash-safe swap of
  * [[LedgerGuard.advanceInPlace]]; the families keep only their row
  * derivations and probes.
  *
  * Exactly-once rule, the same for every step that takes a `batchId`:
  *  1. the drift guard runs first (a replayed delivery with drifted
  *     parameters still fails loudly);
  *  2. the marker fast-path runs before any compute — an id equal to
  *     the ledger's last-applied marker makes the whole step a no-op;
  *  3. the marker is committed WITH the data: inside the staged swap
  *     for advances, retractions and removals, and right after the
  *     rows land for appends (a crash in between leaves the safe
  *     unmarked state — the replay re-appends rows every probe
  *     tolerates and compaction collapses, never a lying marker).
  *
  * The marker records the LAST id only (see [[LedgerGuard.advanceInPlace]]):
  * a retry of the most recent batch is absorbed, an out-of-order replay
  * of an older one is applied again. A scheduler that can replay older
  * batches keeps its own applied-set bookkeeping.
  */
object Ledger {

  // ------------------------------------------------------------------
  // Spec
  // ------------------------------------------------------------------

  /** How a delta folds into the stored rows. */
  sealed trait Merge
  object Merge {
    /** Per key, every measure adds (counts, sums): exact in both
      * directions, so it also retracts by negation.
      */
    final case class Sum(measures: String*) extends Merge
    /** Per key, the smallest label wins (the digest ledger's lowest
      * admitting id).
      */
    final case class MinLabel(label: String) extends Merge
    /** Set union: identical rows collapse (append-only stores whose
      * replays leave duplicate rows).
      */
    case object UnionDistinct extends Merge
    /** Bottom-k by `priority` (key tiebreak), replayed keys collapsing
      * to their first priority.
      */
    final case class BottomK(priority: String, k: Int) extends Merge
    /** A sketch or filter merge. With `perKey` aggregates (HLL union)
      * the fold is a keyed aggregate; with none, the family decodes,
      * merges and re-encodes on the driver (bloom OR, KLL) through
      * [[advanceWith]].
      */
    final case class Sketch(perKey: Column*) extends Merge
  }

  /** How forgotten content leaves the store. */
  sealed trait Retract
  object Retract {
    /** Subtract the forgotten rows' measures ([[Merge.Sum]] only) and
      * drop keys whose first measure reaches zero. Any measure going
      * negative, or a zero first measure with a remainder in another,
      * means the forgotten rows were never admitted as given: fail
      * loudly with the ledger unchanged.
      */
    case object Negate extends Retract
    /** Drop the stored rows whose `column` is in the removal set
      * (id-attributed stores: exact forget).
      */
    final case class AntiJoin(column: String) extends Retract
    /** Merge-only state (bits or registers shared between inputs):
      * forget means rebuild.
      */
    case object Unsupported extends Retract
  }

  /** On-disk shape of a generation. */
  sealed trait Layout
  object Layout {
    /** Advances write the merged rows as they come; compaction rewrites
      * them into sized files sorted by the first key (the first at-rest
      * column when the spec names no key), so min/max stats prune.
      */
    case object Sized extends Layout
    /** Model-sized state: every write is one file. */
    case object OneFile extends Layout
    /** Directory-partitioned by `column` (bucketed ANN stores). */
    final case class Partitioned(column: String) extends Layout
  }

  /** A family's parameter sidecar: the values its rows were built with
    * live WITH the rows (`_GRAFT_`-prefixed, so parquet readers skip it
    * and the staged swap carries it into each new generation), because
    * a caller-side default can drift while the files cannot.
    *
    * `strict`: creation always writes it, so a store without one is
    * damaged and every step fails loudly. Otherwise a store that
    * predates the sidecar adopts the caller's values on its first
    * write (trusted once) and is validated from then on. `recordOnly`
    * keys are stamped but never compared (an id-column name that
    * maintenance binds by name).
    */
  final case class Params(file: String, family: String, why: String,
      strict: Boolean = false, recordOnly: Set[String] = Set.empty) {

    def write(spark: SparkSession, path: String, kv: Seq[(String, Any)]): Unit =
      LedgerGuard.writeSidecarMeta(spark, path, file,
        kv.map { case (k, v) => k -> v.toString })

    /** The sidecar of the generation a reader would bind, if any. */
    def read(spark: SparkSession, path: String): Option[Map[String, String]] =
      LedgerGuard.readSidecarMeta(spark, path, file)

    /** The drift guard: every caller value (bar `recordOnly` keys) must
      * equal the stored one.
      * Mismatch → IllegalArgumentException naming both sides; an absent
      * sidecar → IllegalStateException when `mustExist` (or `strict`),
      * else a pass. Returns the stored values.
      */
    def check(spark: SparkSession, path: String, op: String,
        params: Seq[(String, Any)], mustExist: Boolean = false)
        : Option[Map[String, String]] = {
      val want = params.filterNot(kv => recordOnly(kv._1))
      val stored = read(spark, path)
      stored match {
        case None if mustExist || strict =>
          throw new IllegalStateException(
            s"$family $op at $path: no $file sidecar — cannot verify " +
              s"${want.map(_._1).mkString(", ")}; rebuild the ledger (or " +
              "restore the sidecar)")
        case Some(kv) if want.exists { case (k, v) => !kv.get(k).contains(v.toString) } =>
          val have = want.map { case (k, _) => s"$k=${kv.getOrElse(k, "?")}" }
          throw new IllegalArgumentException(
            s"$family $op at $path: ledger was created with " +
              s"${have.mkString(", ")} but the caller passed " +
              s"${want.map { case (k, v) => s"$k=$v" }.mkString(", ")} — $why; " +
              "pass the creation-time values (or rebuild the ledger)")
        case _ => ()
      }
      stored
    }

    /** The stored values, which a probe needs to exist. */
    def need(spark: SparkSession, path: String, op: String): Map[String, String] =
      check(spark, path, op, Nil, mustExist = true).get

    /** One stored value, which a probe needs to exist. */
    def need(spark: SparkSession, path: String, op: String, key: String): String =
      need(spark, path, op).getOrElse(key, throw new IllegalStateException(
        s"$family $op at $path: $file sidecar has no '$key'"))

    private[Ledger] def adopt(spark: SparkSession, path: String,
        kv: Seq[(String, Any)]): Unit =
      if (!strict && kv.nonEmpty && read(spark, path).isEmpty) write(spark, path, kv)
  }

  /** A ledger family. `what` names it in every message and lease. */
  final case class Spec(what: String, keys: Seq[String], merge: Merge,
      retract: Retract = Retract.Unsupported, layout: Layout = Layout.Sized,
      params: Option[Params] = None)

  // ------------------------------------------------------------------
  // Lifecycle
  // ------------------------------------------------------------------

  /** The stored rows of the generation a reader binds (footer-sniffed
    * schema: no inference job).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    LedgerGuard.readLedger(spark, path)

  /** Create/overwrite the ledger from an initial corpus's rows, and
    * stamp its parameter sidecar.
    */
  def create(spark: SparkSession, path: String, spec: Spec, rows: DataFrame,
      params: Seq[(String, Any)] = Nil): Unit = {
    shaped(spec, rows).mode("overwrite").parquet(path)
    spec.params.foreach(p => if (params.nonEmpty) p.write(spark, path, params))
  }

  /** The spec's merge over already-unioned rows. */
  def fold(spec: Spec, rows: DataFrame): DataFrame = {
    val keys = spec.keys.map(col)
    spec.merge match {
      case Merge.Sum(ms @ _*) =>
        val aggs = ms.map(m => sum(col(m)).as(m))
        rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      case Merge.MinLabel(l) => rows.groupBy(keys: _*).agg(min(col(l)).as(l))
      case Merge.UnionDistinct => rows.dropDuplicates()
      case Merge.BottomK(pr, k) =>
        rows.groupBy(keys: _*).agg(first(col(pr)).as(pr))
          .orderBy(col(pr) +: keys: _*).limit(k)
      case Merge.Sketch(aggs @ _*) =>
        require(aggs.nonEmpty,
          s"${spec.what}: a driver-side sketch merge goes through advanceWith")
        rows.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Stored ∪ delta under the spec's merge — lazily reads `path`;
    * persist to a NEW generation dir or use [[advance]].
    */
  def merged(spark: SparkSession, path: String, spec: Spec,
      delta: DataFrame): DataFrame =
    fold(spec, read(spark, path).unionByName(delta))

  /** True when `batchId` is the ledger's last-applied marker: the
    * exactly-once fast-path, run before any compute.
    */
  def applied(spark: SparkSession, path: String,
      batchId: Option[String]): Boolean =
    batchId.isDefined && LedgerGuard.lastAppliedBatchId(spark, path) == batchId

  /** Fold a batch's delta into the ledger IN PLACE: drift guard, marker
    * fast-path, then one staged swap that re-merges stored ∪ delta and
    * commits the marker with it; a store without its sidecar adopts
    * `params`.
    */
  def advance(spark: SparkSession, path: String, spec: Spec,
      batchId: Option[String], params: Seq[(String, Any)] = Nil)(
      delta: => DataFrame): Unit =
    advanceWith(spark, path, spec, batchId, params)(delta) { (stored, d) =>
      fold(spec, stored.unionByName(d))
    }

  /** [[advance]] with the family's own merge — the driver-side sketch
    * and filter merges (bloom OR, KLL), and merges whose delta depends
    * on the stored rows. `delta` is computed once, after the fast-path
    * and before the swap; `merge` runs inside the swap, after the
    * self-heal, over the stored generation.
    */
  def advanceWith[D](spark: SparkSession, path: String, spec: Spec,
      batchId: Option[String], params: Seq[(String, Any)] = Nil)(
      delta: => D)(merge: (DataFrame, D) => DataFrame): Unit = {
    guard(spark, path, spec, "advance", params)
    if (applied(spark, path, batchId)) return
    val d = delta
    LedgerGuard.advanceInPlace(spark, path, spec.what, batchId) { staging =>
      shaped(spec, merge(read(spark, path), d)).mode("overwrite").parquet(staging)
    }
    spec.params.foreach(_.adopt(spark, path, params))
  }

  /** Admit a batch's rows as an LSM delta: drift guard, marker
    * fast-path, `beforeWrite` on the append destination (e.g. dropping
    * an index the rows would make stale), the append itself, sidecar
    * adoption, then the marker. Existing files are never rewritten.
    */
  def append(spark: SparkSession, path: String, spec: Spec,
      batchId: Option[String], params: Seq[(String, Any)] = Nil,
      beforeWrite: String => Unit = _ => ())(rows: => DataFrame): Unit = {
    guard(spark, path, spec, "append", params)
    if (applied(spark, path, batchId)) return
    val dest = appendDir(spark, path)
    beforeWrite(dest)
    shaped(spec, rows).mode("append").parquet(dest)
    LedgerGuard.stepFailpoint("appended")
    spec.params.foreach(_.adopt(spark, path, params))
    batchId.foreach(id => LedgerGuard.recordBatchApplied(spark, path, id))
  }

  /** Right-to-be-forgotten by subtraction ([[Retract.Negate]]): the
    * forgotten rows' delta is negated, re-merged, checked, and the
    * emptied keys drop — all inside one swap.
    */
  def retract(spark: SparkSession, path: String, spec: Spec,
      batchId: Option[String], params: Seq[(String, Any)] = Nil)(
      delta: => DataFrame): Unit = {
    val ms = spec.merge match {
      case Merge.Sum(ms @ _*) if spec.retract == Retract.Negate => ms
      case _ => throw new UnsupportedOperationException(
        s"${spec.what} cannot retract by subtraction")
    }
    guard(spark, path, spec, "retract", params)
    if (applied(spark, path, batchId)) return
    val d = delta
    LedgerGuard.advanceInPlace(spark, path, s"${spec.what} retraction", batchId) { staging =>
      val negated = d.select(d.columns.map(c =>
        if (ms.contains(c)) (-col(c)).as(c) else col(c)): _*)
      val m = fold(spec, read(spark, path).unionByName(negated))
        .localCheckpoint() // one computation: the guard and the write
      val first = col(ms.head)
      val bad = ms.map(c => col(c) < 0).reduce(_ || _) ||
        (if (ms.size > 1) first === 0 && ms.tail.map(c => col(c) =!= 0).reduce(_ || _)
         else lit(false))
      m.filter(bad).limit(1).collect().headOption.foreach { r =>
        val at = spec.keys.map(k => s"$k=${r.getAs[Any](k)}").mkString(", ")
        throw new IllegalArgumentException(
          s"${spec.what} retraction at $path: $at would go inconsistent (a " +
            "negative measure, or a zero count with a remainder) — the forgotten rows were " +
            "never admitted, were already retracted, or differ from what " +
            "was admitted; retraction must subtract exactly what was added")
      }
      shaped(spec, m.filter(first > 0)).mode("overwrite").parquet(staging)
    }
  }

  /** Exact forget for id-attributed stores ([[Retract.AntiJoin]]):
    * `gone` is one column of removed values (broadcast — an operator-
    * issued removal batch is model-sized by nature).
    */
  def remove(spark: SparkSession, path: String, spec: Spec,
      batchId: Option[String], params: Seq[(String, Any)] = Nil)(
      gone: => DataFrame): Unit = {
    val c = spec.retract match {
      case Retract.AntiJoin(c) => c
      case _ => throw new UnsupportedOperationException(
        s"${spec.what} cannot forget per row")
    }
    guard(spark, path, spec, "forget", params)
    if (applied(spark, path, batchId)) return
    val g = gone
    LedgerGuard.advanceInPlace(spark, path, s"${spec.what} removal", batchId) { staging =>
      val drop = g.select(g.columns.head).distinct().toDF("__gone")
      shaped(spec, read(spark, path)
          .join(broadcast(drop), col(c) === col("__gone"), "left_anti"))
        .mode("overwrite").parquet(staging)
    }
  }

  /** Compact IN PLACE: fold the stored rows by the spec's merge
    * (collapsing replayed duplicates and accreted partial rows) and
    * rewrite them in the spec's layout — sized, first-key-sorted files
    * for [[Layout.Sized]]. Unmarked: the last-applied marker and every
    * sidecar ride into the new generation.
    */
  def compact(spark: SparkSession, path: String, spec: Spec,
      targetFiles: Int = 16, maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    compactWith(spark, path, spec) { staging =>
      writeSized(spark, path, spec, fold(spec, read(spark, path)), staging,
        targetFiles, maxRecordsPerFile)
    }

  /** [[compact]] with the family's own rewrite of the generation into
    * `staging` (a partitioned or driver-decoded layout, an index or
    * model derived alongside the rows). It runs after the self-heal,
    * so a read of `path` binds the current generation.
    */
  def compactWith(spark: SparkSession, path: String, spec: Spec)(
      writeStaging: String => Unit): Unit =
    LedgerGuard.advanceInPlace(spark, path, s"${spec.what} compaction")(writeStaging)

  /** The sized, first-key-sorted rewrite of [[Layout.Sized]]. */
  def writeSized(spark: SparkSession, path: String, spec: Spec,
      rows: DataFrame, staging: String, targetFiles: Int,
      maxRecordsPerFile: Long): Unit =
    LayoutOps.writeSized(rows, staging,
      col(spec.keys.headOption.getOrElse(rows.columns.head)),
      targetFiles, maxRecordsPerFile,
      srcBytes = LedgerGuard.readableDataBytes(spark, path))

  /** The key column named by sidecar `key`, checked against the stored
    * columns; a store without the sidecar falls back to its first
    * column. Re-folding on the wrong key would be silent, so a sidecar
    * naming a column the files lack fails loudly.
    */
  def storedKey(spark: SparkSession, path: String, params: Params,
      key: String): String = {
    val stored = read(spark, path).columns
    params.read(spark, path).flatMap(_.get(key)) match {
      case Some(name) =>
        require(stored.contains(name),
          s"${params.family} compaction at $path: sidecar names key column " +
            s"'$name' but the files carry ${stored.mkString(", ")}")
        name
      case None => stored.head
    }
  }

  // ------------------------------------------------------------------
  // Multi-store families (the cluster ledger): the same primitives,
  // addressed store by store
  // ------------------------------------------------------------------

  /** The directory an appender writes into (the current generation in
    * manifest mode, the path itself in plain mode).
    */
  def appendDir(spark: SparkSession, path: String): String =
    LedgerGuard.appendPath(spark, path)

  /** One staged swap of `path`, committing `batchId` with it. */
  def swap(spark: SparkSession, path: String, what: String,
      batchId: Option[String] = None)(writeStaging: String => Unit): Unit =
    LedgerGuard.advanceInPlace(spark, path, what, batchId)(writeStaging)

  /** Commit `batchId` without a data swap (a step that had nothing to
    * merge must still land its marker).
    */
  def markApplied(spark: SparkSession, path: String, batchId: Option[String]): Unit =
    batchId.foreach(id => LedgerGuard.recordBatchApplied(spark, path, id))

  // ------------------------------------------------------------------

  private def guard(spark: SparkSession, path: String, spec: Spec, op: String,
      params: Seq[(String, Any)]): Unit =
    spec.params.foreach(p => if (params.nonEmpty) p.check(spark, path, op, params))

  private def shaped(spec: Spec, rows: DataFrame) = spec.layout match {
    case Layout.OneFile => rows.coalesce(1).write
    case Layout.Partitioned(c) => rows.write.partitionBy(c)
    case Layout.Sized => rows.write
  }
}
