package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic KLL/MRL-style mergeable quantile sketch for DOUBLE
  * measures — the sketch-family member the exact quantile-histogram
  * ledger (d78) deliberately refuses to cover: unknown-range doubles
  * with no meaningful integer scaling. Sits next to HLL (d46, distinct
  * counts) and CMS (d22b, heavy hitters) to complete the mergeable-
  * sketch family.
  *
  * Structure is the classic Munro-Paterson / MRL level stack (the same
  * skeleton KLL [Karnin, Lang, Liberty 2016] randomizes): level `i`
  * holds items of weight `2^i` in a buffer capped at `k`; a full level
  * sorts, collapses pairs (keep one of each adjacent pair → weight
  * doubles, total weight EXACTLY preserved), and promotes the
  * survivors one level up. Two deliberate deviations from KLL, both
  * for the ledger discipline:
  *
  *  - **No RNG.** KLL flips a coin per collapse (keep odd vs even
  *    ranks); here the parity ALTERNATES via a collapse counter
  *    carried in the sketch. Same-inputs-same-partitioning runs
  *    produce bit-identical sketches, so the plain-vs-manifest cycle
  *    gate and replay determinism hold exactly — the property every
  *    other ledger family's conformance rests on. The price is the
  *    loss of KLL's probabilistic guarantee; what remains is the
  *    deterministic MRL bound, rank error O(H/k) with H = number of
  *    levels = O(log(n/k)) — ε-gated by `AccuracySpec`, and min/max
  *    are tracked exactly.
  *  - **Equal caps per level** (plain MRL), not KLL's geometrically
  *    shrinking ones — simpler state, same asymptotics up to the log
  *    factor, and the state is O(k·log(n/k)) doubles either way:
  *    model-sized at any corpus scale.
  *
  * Retraction: NOT supported — a collapsed sketch cannot subtract a
  * departed document (the d71 family-boundary discipline: sum-shaped
  * ledgers retract by subtraction, sketch-shaped ledgers REBUILD from
  * the surviving corpus; same boundary HLL's d46 documents).
  */
final case class KllSketch(k: Int, n: Long, min: Double, max: Double,
    flips: Long, levels: Vector[Vector[Double]]) {

  /** Merge two sketches: concatenate level-wise, then re-collapse any
    * overfull level bottom-up. Weight-exact; deterministic given the
    * argument order (callers fold in a sorted, stable order).
    */
  def merge(o: KllSketch): KllSketch = {
    require(k == o.k, s"cannot merge KLL sketches with k=$k and k=${o.k}")
    if (o.n == 0) return this
    if (n == 0) return o
    val depth = math.max(levels.length, o.levels.length)
    val buf = Array.tabulate(depth) { i =>
      val a = if (i < levels.length) levels(i) else Vector.empty
      val b = if (i < o.levels.length) o.levels(i) else Vector.empty
      scala.collection.mutable.ArrayBuffer[Double]((a ++ b): _*)
    }
    var fl = flips + o.flips
    val out = scala.collection.mutable.ArrayBuffer(buf: _*)
    var i = 0
    while (i < out.length) {
      if (out(i).length > k) {
        val (promoted, leftover, f) = KllSketch.collapse(out(i).toArray, fl)
        fl = f
        out(i).clear()
        out(i) ++= leftover // odd carry stays at its own weight
        if (i + 1 >= out.length)
          out += scala.collection.mutable.ArrayBuffer.empty[Double]
        out(i + 1) ++= promoted
      }
      i += 1
    }
    KllSketch(k, n + o.n, math.min(min, o.min), math.max(max, o.max), fl,
      out.map(_.toVector).toVector)
  }

  /** All retained (value, weight) pairs; total weight == n exactly. */
  def weighted: Seq[(Double, Long)] =
    levels.iterator.zipWithIndex.flatMap { case (lv, i) =>
      lv.iterator.map(v => (v, 1L << i))
    }.toSeq

  /** percentile_disc-style estimate: smallest retained value whose
    * cumulative weight reaches ceil(p·n); exact min/max at the ends.
    */
  def quantile(p: Double): Double = quantiles(Seq(p)).head

  /** All `probs` in ONE pass: the weighted multiset sorts once and a
    * single cumulative walk serves every requested rank (probing P
    * deciles used to re-sort the same data P times). Results align
    * positionally with `probs`.
    */
  def quantiles(probs: Seq[Double]): Seq[Double] = {
    probs.foreach(p =>
      require(p > 0.0 && p <= 1.0, s"prob must be in (0, 1], got $p"))
    require(n > 0, "empty sketch has no quantiles")
    val sorted = weighted.sortBy(_._1)
    // walk targets in ascending rank order, restore caller order after
    val order = probs.zipWithIndex.sortBy(_._1)
    val out = new Array[Double](probs.length)
    var cum = 0L
    var si = 0
    order.foreach { case (p, oi) =>
      if (p == 1.0) out(oi) = max
      else {
        val target = math.ceil(p * n).toLong
        while (cum < target && si < sorted.length) {
          cum += sorted(si)._2
          si += 1
        }
        out(oi) =
          if (cum >= target) math.max(min, math.min(max, sorted(si - 1)._1))
          else max
      }
    }
    out.toSeq
  }
}

object KllSketch {

  def empty(k: Int): KllSketch = {
    require(k >= 8 && k % 2 == 0, s"k must be even and >= 8, got $k")
    KllSketch(k, 0L, Double.PositiveInfinity, Double.NegativeInfinity, 0L,
      Vector(Vector.empty))
  }

  /** Sort and collapse a full buffer: pair adjacent ranks, keep the
    * even- or odd-ranked member of each pair by the alternating parity
    * counter (deterministic — no RNG), survivors promote with doubled
    * weight. An odd trailing item cannot pair; it is returned as the
    * LEFTOVER and stays at its own level/weight (the standard MRL
    * carry), so total retained weight is exactly preserved.
    * @return (promoted items, leftover at same level, flips')
    */
  private[operators] def collapse(items: Array[Double],
      flips: Long): (Array[Double], Array[Double], Long) = {
    java.util.Arrays.sort(items)
    val m = items.length / 2
    val keepOdd = (flips & 1L) == 1L
    val kept = new Array[Double](m)
    var i = 0
    while (i < m) {
      kept(i) = items(2 * i + (if (keepOdd) 1 else 0))
      i += 1
    }
    val leftover =
      if (items.length % 2 == 1) Array(items(items.length - 1))
      else Array.empty[Double]
    (kept, leftover, flips + 1)
  }

  /** Streaming builder: amortized-O(1) adds, weight-exact collapses.
    * Only ever collapses an even count (odd leftover stays at its
    * level), so total retained weight always equals the item count.
    */
  final class Builder(k: Int) {
    private var sk = KllSketch.empty(k)
    private val level0 = new scala.collection.mutable.ArrayBuffer[Double](k + 1)
    private var nAdd = 0L
    private var lo = Double.PositiveInfinity
    private var hi = Double.NegativeInfinity

    def add(v: Double): Unit = {
      if (java.lang.Double.isNaN(v)) return // NaN has no rank; skip, like SQL aggregates skip NULL
      nAdd += 1
      if (v < lo) lo = v
      if (v > hi) hi = v
      level0 += v
      if (level0.length >= k) flush()
    }

    private def flush(): Unit = {
      if (level0.nonEmpty) {
        val chunk = KllSketch(sk.k, level0.length.toLong,
          level0.min, level0.max, 0L, Vector(level0.toVector))
        sk = sk.merge(chunk)
        level0.clear()
      }
    }

    def result(): KllSketch = {
      flush()
      if (nAdd == 0) KllSketch.empty(k)
      else sk.copy(min = math.min(sk.min, lo), max = math.max(sk.max, hi))
    }
  }

  // ------------------------------------------------------------------
  // Ledger at rest: (key, kll_level, kll_idx, kll_v) rows per retained
  // item, plus per-key meta rows at kll_level = -1 (idx 0 → n, 1 → min,
  // 2 → max, 3 → flips; n ≤ 2^53 is exact in a double). Self-describing
  // via a _GRAFT_KLL_META sidecar (k, keyCol, valueCol) validated on
  // every advance/probe — sketches built at different k are not
  // comparable and must not silently merge.
  // ------------------------------------------------------------------

  // creation ALWAYS writes the sidecar (no pre-sidecar legacy for this
  // family), so an existing ledger without one is damaged state — and
  // merging at a guessed k would DECODE the stored rows as k'-sketches
  // and silently corrupt every later quantile, then stamp the wrong k
  // permanently: strict, every step fails loudly
  private val KllParams = Ledger.Params(LedgerGuard.SidecarPrefix + "KLL_META",
    "KLL ledger", "sketches with different parameters are incomparable",
    strict = true)

  private val KllSpec = Ledger.Spec("KLL sketch ledger", Seq("key"),
    Ledger.Merge.Sketch(), layout = Ledger.Layout.OneFile,
    params = Some(KllParams))

  /** Hard bound on per-key driver folds — batch side AND stored side. */
  private val MaxKeys = 4096

  private def kllParams(k: Int, keyCol: String, valueCol: String) =
    Seq("k" -> k, "keyCol" -> keyCol, "valueCol" -> valueCol)

  /** Per-key sketches of a double measure, built distributed: one
    * sketch per (partition, key) at the executors (each O(k·log)
    * doubles), folded per key on the driver in (key, partition) order
    * — deterministic for a fixed partitioning, and the collected state
    * is #partitions × #keys sketches, model-sized by contract (keys
    * are sources/domains, not documents).
    */
  def sketchPerKey(df: DataFrame, keyCol: String, valueCol: String,
      k: Int): Map[String, KllSketch] = {
    val spark = df.sparkSession
    import spark.implicits._
    // The driver folds #partitions × #keys shard sketches, so the KEY
    // CARDINALITY must be model-sized (sources/domains/languages — the
    // same contract as the stats/quantile-histogram ledgers, whose rows
    // are also per-key). A document-keyed call would silently try to
    // hold corpus-many sketches on the driver; fail loudly instead.
    // The guard is FUSED into the sketch job (one scan of the batch,
    // not a distinct pre-scan plus the sketch scan — at ingest scale a
    // guard pre-scan doubles the cost of every write/advance): each
    // task throws the moment a new key would push ITS builders map past
    // MaxKeys (which also bounds task memory at MaxKeys sketches — the
    // document-keyed case fires here, inside the first task wave), and
    // the driver re-checks the GLOBAL distinct count over the collected
    // shard keys, because thin partitions can each stay under the bound
    // while their union exceeds it (shard sketches for few-row keys are
    // tiny, so that violating collect stays small before the require).
    // Keys are the CAST string form with NULLs excluded in both checks
    // — the raw column would over-count (NULL is a distinct group;
    // distinct raw values can collapse under the cast) and spuriously
    // reject a batch at the boundary.
    // NULL measure = no rank, skipped like SQL aggregates skip NULL (the
    // same contract the Builder applies to NaN); a NULL KEY has no
    // ledger row either — filter or impute upstream. Without the filter
    // the primitive-Double decode aborts the job on the first NULL.
    val keyBoundMsg =
      s"KLL sketch ledger: more than $MaxKeys distinct '$keyCol' keys — " +
        "per-key sketches fold on the driver and the key must be " +
        "model-sized (source/domain/language), not a document id; bucket " +
        "the key upstream or use the exact quantile-histogram ledger per " +
        "shard"
    val parts0 = df.select(col(keyCol).cast("string").as("k"),
        col(valueCol).cast("double").as("v"))
      .filter(col("k").isNotNull && col("v").isNotNull)
      .as[(String, Double)]
      .mapPartitions { it =>
        val builders = scala.collection.mutable.LinkedHashMap[String, Builder]()
        it.foreach { case (key, v) =>
          if (builders.size >= MaxKeys && !builders.contains(key))
            throw new IllegalArgumentException(keyBoundMsg)
          builders.getOrElseUpdate(key, new Builder(k)).add(v)
        }
        val pid = org.apache.spark.TaskContext.getPartitionId()
        builders.iterator.map { case (key, b) =>
          val s = b.result()
          (key, pid, s.n, s.min, s.max, s.flips,
            s.levels.map(_.toArray).toArray)
        }
      }
    // The per-task bound surfaces from collect() wrapped in a
    // SparkException; the caller contract is IllegalArgumentException on
    // BOTH trip paths (task-local and driver re-check), so unwrap the
    // guard's own IAE from the cause chain — exception type must not
    // depend on which partition shape tripped the bound first.
    val collected =
      try parts0.collect()
      catch {
        case e: org.apache.spark.SparkException =>
          var c: Throwable = e
          while (c != null && !(c.isInstanceOf[IllegalArgumentException] &&
              c.getMessage == keyBoundMsg)) c = c.getCause
          if (c != null) throw c else throw e
      }
    val parts = collected
    require(parts.iterator.map(_._1).toSet.size <= MaxKeys, keyBoundMsg)
    parts.groupBy(_._1).map { case (key, rows) =>
      val merged = rows.sortBy(_._2).iterator
        .map { case (_, _, n, mn, mx, fl, lv) =>
          KllSketch(k, n, mn, mx, fl, lv.map(_.toVector).toVector)
        }
        .foldLeft(KllSketch.empty(k))(_ merge _)
      key -> merged
    }
  }

  private def toRows(spark: SparkSession,
      sketches: Map[String, KllSketch]): DataFrame = {
    import spark.implicits._
    val rows = sketches.toSeq.sortBy(_._1).flatMap { case (key, s) =>
      val meta = Seq((key, -1, 0, s.n.toDouble), (key, -1, 1, s.min),
        (key, -1, 2, s.max), (key, -1, 3, s.flips.toDouble))
      val items = s.levels.zipWithIndex.flatMap { case (lv, i) =>
        lv.zipWithIndex.map { case (v, j) => (key, i, j, v) }
      }
      meta ++ items
    }
    rows.toDF("key", "kll_level", "kll_idx", "kll_v")
  }

  /** Collect the stored ledger with a LOUD key-cardinality bound —
    * the same ≤4096 contract [[sketchPerKey]] enforces on the batch
    * side (and HnswIndex's ≤10k probe bound follows for its collect):
    * a ledger someone keyed by document id (or a foreign path) must
    * fail naming the problem, not melt the driver silently. ONE
    * limit-bounded collect job, not a distinct-count scan plus a
    * collect: the store is model-sized by construction (the
    * write/advance guards cap it at MaxKeys keys, each decoding to 4
    * meta rows plus at most ~3k compactor items), so `rowCap` bounds
    * driver memory even on a foreign store, and the key require fires
    * on the collected array. Both guards stay
    * IllegalArgumentException, raised BEFORE any mutation (every
    * caller reads ahead of its staged swap). The ledger itself is
    * left untouched.
    */
  private def guardedLedgerRows(stored: DataFrame, path: String,
      what: String, k: Int): Array[org.apache.spark.sql.Row] = {
    val rowCap = math.min(MaxKeys.toLong * (12L * k + 4L),
      Int.MaxValue.toLong - 1L).toInt
    val rows = stored.limit(rowCap + 1).collect()
    def oversized(kind: String) = new IllegalArgumentException(
      s"KLL sketch ledger $what at $path: more than $kind " +
        "in the stored ledger — per-key sketches fold on the driver and the " +
        "key must be model-sized (source/domain/language), not a document " +
        "id; this store was built outside the write/advance guards or the " +
        "path is not a KLL ledger")
    if (rows.length > rowCap) throw oversized(s"$rowCap rows")
    if (rows.iterator.map(_.getString(0)).toSet.size > MaxKeys)
      throw oversized(s"$MaxKeys distinct keys")
    rows
  }

  private def fromRows(rows: Array[org.apache.spark.sql.Row],
      k: Int): Map[String, KllSketch] =
    rows.groupBy(_.getString(0)).map { case (key, rs) =>
      val byLevel = rs.groupBy(_.getInt(1))
      val meta = byLevel.getOrElse(-1, Array.empty)
        .map(r => r.getInt(2) -> r.getDouble(3)).toMap
      val depth = byLevel.keys.filter(_ >= 0).foldLeft(-1)(math.max) + 1
      val levels = Vector.tabulate(math.max(depth, 1)) { i =>
        byLevel.getOrElse(i, Array.empty).sortBy(_.getInt(2))
          .map(_.getDouble(3)).toVector
      }
      key -> KllSketch(k, meta.getOrElse(0, 0.0).toLong,
        meta.getOrElse(1, Double.PositiveInfinity),
        meta.getOrElse(2, Double.NegativeInfinity),
        meta.getOrElse(3, 0.0).toLong, levels)
    }

  /** Create/overwrite the KLL ledger from an initial corpus. */
  def writeKllLedger(df: DataFrame, keyCol: String, valueCol: String,
      k: Int, path: String): Unit =
    Ledger.create(df.sparkSession, path, KllSpec,
      toRows(df.sparkSession, sketchPerKey(df, keyCol, valueCol, k)),
      kllParams(k, keyCol, valueCol))

  /** Fold a batch into the at-rest ledger IN PLACE — staged swap,
    * lease, manifest mode, exactly-once `batchId`: the
    * advanceStatsLedger contract. The rewrite is model-sized (the
    * sketch rows), never corpus-sized; the batch is read once to build
    * its own sketches.
    */
  def advanceKllLedger(batch: DataFrame, keyCol: String, valueCol: String,
      k: Int, path: String, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    Ledger.advanceWith(spark, path, KllSpec, batchId,
      kllParams(k, keyCol, valueCol))(sketchPerKey(batch, keyCol, valueCol, k)) {
      (stored, delta) =>
        val st = fromRows(guardedLedgerRows(stored, path, "advance", k), k)
        toRows(spark, (st.keySet ++ delta.keySet).iterator.map { key =>
          key -> st.getOrElse(key, KllSketch.empty(k))
            .merge(delta.getOrElse(key, KllSketch.empty(k)))
        }.toMap)
    }
  }

  /** Compact the ledger: collapse replayed duplicate row accretion by
    * round-tripping through the sketch decode (decode keeps one row
    * per (key, level, idx)) and rewrite as one sized file. Same staged
    * swap discipline; a no-op on a clean ledger.
    */
  def compactKllLedger(spark: SparkSession, path: String): Unit = {
    val k = KllParams.need(spark, path, "compaction", "k").toInt
    Ledger.compactWith(spark, path, KllSpec) { staging =>
      // duplicate (key, level, idx) rows come only from replayed
      // appends, so they are bit-identical — first-wins on the driver
      // matches what dropDuplicates kept, without its shuffle job
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[(String, Int, Int), org.apache.spark.sql.Row]
      guardedLedgerRows(Ledger.read(spark, path), path, "compaction", k).foreach { r =>
        seen.getOrElseUpdate((r.getString(0), r.getInt(1), r.getInt(2)), r)
      }
      toRows(spark, fromRows(seen.valuesIterator.toArray, k)).coalesce(1)
        .write.mode("overwrite").parquet(staging)
    }
  }

  /** Quantile estimates from the at-rest ledger, no corpus access:
    * `(key, prob, est, n)` per key × prob; `est` carries the MRL
    * deterministic rank-error bound ε = O(log(n/k)/k) (AccuracySpec-
    * gated), and min/max are exact.
    */
  def quantilesFromKllLedger(spark: SparkSession, path: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      "probs must be in (0, 1]")
    import spark.implicits._
    val k = KllParams.need(spark, path, "probe", "k").toInt
    val sketches =
      fromRows(guardedLedgerRows(Ledger.read(spark, path), path, "probe", k), k)
    sketches.toSeq.sortBy(_._1).flatMap { case (key, s) =>
      probs.zip(s.quantiles(probs)).map { case (p, est) => (key, p, est, s.n) }
    }.toDF("key", "prob", "est", "n")
  }
}
