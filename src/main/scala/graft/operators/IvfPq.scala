package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF×PQ composed ANN index (the standard composition from Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search" §V: an inverted
  * file prunes the search to a few coarse cells, and asymmetric distance
  * over PQ codes ranks WITHIN those cells).
  *
  * This closes the scale gap of each half used alone:
  *  - [[PqIndex.annTopK]] scores codes for the ENTIRE corpus per query
  *    (compression without pruning — every query touches every code);
  *  - [[IvfIndex.annTopK]] prunes to `nprobe`/`kc` of the corpus but
  *    re-scores full float vectors inside cells (pruning without
  *    compression — the floats must still be readable per probe).
  * Composed: a query reads only the PQ codes of `nprobe` cells
  * (~nprobe/kc of an 8-byte-per-vector table) and touches full floats
  * for just the `rerank` exact-re-rank pool — the shape that still
  * answers at 10¹¹ vectors.
  *
  * Built from the existing composable parts: `IvfIndex.assignCluster`
  * (cell id) and `PqIndex.encode` (code columns) are both per-row
  * codegen'd expressions over broadcast model literals, so the code
  * table build is one scan with zero shuffle. Codebooks quantize RAW
  * vectors (shared across cells), not per-cell residuals — simpler, and
  * the exact re-rank recovers the accuracy the residual refinement
  * would add.
  *
  * Scale note: here the cell pruning happens as an equi-join of the
  * in-flight code table against the broadcast (query, probed-cell)
  * list; a persisted deployment writes the code table PARTITIONED BY
  * cell (exactly like SimilarityOps.writeBucketedIndex does for LSH
  * buckets, s03) so the probe becomes a partition-pruned scan of
  * nprobe/kc of the files.
  */
object IvfPq {

  final case class Model(coarse: IvfIndex.Model, pq: PqIndex.Model,
      residual: Boolean = false)

  /** The residual of a vector w.r.t. its own coarse cell's centroid,
    * v − q1(v) — per-row arithmetic over the broadcast centroid literal
    * (one nested-array Literal, not a per-row CreateArray tree).
    */
  private def residualCol(vec: Column, coarse: IvfIndex.Model): Column = {
    val cents = typedlit(coarse.centroids.map(_.toSeq))
    zip_with(vec.cast("array<double>"),
      element_at(cents, IvfIndex.assignCluster(vec, coarse) + 1),
      (a, b) => a - b)
  }

  /** Train the coarse quantizer (kc cells) and the PQ codebooks (m
    * subspaces × k codewords) — both touch only centroid statistics;
    * the corpus never leaves executors. Deterministic (RNG-free init,
    * fixed iteration counts) like both constituents.
    *
    * `residual = true` selects the IVFADC refinement from the Jégou
    * paper (§V): the PQ codebooks quantize RESIDUALS v − q1(v) instead
    * of raw vectors. Residuals concentrate near zero with far less
    * variance than the raw corpus, so the same m×k code budget spends
    * its codewords on a much tighter distribution — higher recall at
    * identical index size and probe cost. The extra cost is one
    * per-row subtraction at encode time and per-(query, cell) LUTs at
    * probe time (driver math, nprobe× the shared-LUT cost).
    */
  def train(data: DataFrame, vecCol: String,
      kc: Int, m: Int, k: Int, iters: Int,
      residual: Boolean = false): Model = {
    val coarse = IvfIndex.train(data, vecCol, kc, iters)
    val pq =
      if (residual)
        PqIndex.train(
          data.select(residualCol(col(vecCol), coarse).as("__r")), "__r",
          m, k, iters)
      else PqIndex.train(data, vecCol, m, k, iters)
    Model(coarse, pq, residual)
  }

  /** The per-candidate index row: cell id + m code columns, all
    * codegen'd per-row expressions (one scan, no shuffle).
    */
  def codeTable(candidates: DataFrame, cId: String, cVec: String,
      model: Model): DataFrame = {
    val encVec =
      if (model.residual) residualCol(col(cVec), model.coarse) else col(cVec)
    candidates.select(
      col(cId).as("neighbor_id") +:
        IvfIndex.assignCluster(col(cVec), model.coarse).as("__cluster") +:
        PqIndex.encode(encVec, model.pq)
          .zipWithIndex.map { case (c, j) => c.as(s"__c$j") }: _*)
  }

  /** Persist the index at rest: the code table partitioned BY CELL
    * (each coarse cell its own directory — a probe's cell pruning
    * becomes a literal partition filter on the scan) plus the model as
    * a tiny parquet table of (kind, row, vector) — parquet doubles
    * round-trip bit-exactly, no text serialization.
    */
  def writeIndex(candidates: DataFrame, cId: String, cVec: String,
      model: Model, path: String): Unit = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // cluster the writer on the partition column first: without it every
    // write task emits one file into EVERY cell directory (tasks × kc
    // small files — the classic small-files trap; a probe of 6 cells
    // would open tasks×6 footers). Hash-repartitioned on __cluster each
    // cell's rows land in exactly one task → one well-sized file per
    // cell here; a 100 TB build raises spark.sql.shuffle.partitions so
    // each cell splits across ~partitions/kc writers, still O(1) files
    // per cell per writer.
    codeTable(candidates, cId, cVec, model)
      .repartition(col("__cluster"))
      .write.mode("overwrite").partitionBy("__cluster").parquet(s"$path/codes")
    val rows =
      (if (model.residual) Seq((-2, 0, Seq.empty[Double])) else Nil) ++
        model.coarse.centroids.zipWithIndex.map { case (v, i) => (-1, i, v.toSeq) } ++
        model.pq.codebooks.zipWithIndex.flatMap { case (b, j) =>
          b.centroids.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
        }
    rows.toDF("book", "row", "vec") // book -1 = coarse quantizer; -2 = residual marker
      .write.mode("overwrite").parquet(s"$path/model")
  }

  /** Incremental maintenance: encode ONLY the new batch with the
    * index's frozen model and append into the cell directories —
    * existing files are never rewritten, and a probe sees old + new
    * rows identically. (PQ models tolerate drift; retrain + full
    * rewrite when the corpus distribution has moved — standard IVF
    * practice.)
    */
  def appendToIndex(newRows: DataFrame, cId: String, cVec: String,
      path: String, batchId: Option[String] = None,
      preloadedModel: Option[Model] = None): Unit = {
    val spark = newRows.sparkSession
    // exactly-once (the Ledger rule): a marked replayed delivery appends
    // nothing — without a marker a crash-retried append stores every
    // batch row twice and the probe's top-k heap (which does not dedup
    // ids) surfaces the duplicate at two ranks until compaction.
    Ledger.append(spark, s"$path/codes", CodesSpec, batchId)({
      // an ingest loop that just built (or already probed) the index can
      // hand the model over — loadModel round-trips bit-exactly, so the
      // encode is identical either way; skipping it saves one model
      // read + collect per appended batch
      val model = preloadedModel.getOrElse(loadModel(spark, path))
      codeTable(newRows, cId, cVec, model)
        .repartition(col("__cluster")) // one file per touched cell per batch
    })
  }

  /** The codes table as a ledger family: cell-partitioned, append-only,
    * replayed rows collapsing at compaction.
    */
  private val CodesSpec = Ledger.Spec("IVFPQ index", Nil,
    Ledger.Merge.UnionDistinct, layout = Ledger.Layout.Partitioned("__cluster"))

  /** Reserved tombstone partition for [[deleteFromIndex]]. */
  private val TombstoneCell = -1

  /** Right-to-be-forgotten / retraction for the at-rest IVFPQ index
    * WITHOUT rewriting it — the maintenance op
    * [[SimilarityOps.deleteFromBucketedIndex]] (s17) provides for the
    * LSH index, mirrored here so both at-rest ANN families carry the
    * full CRUD story: append tombstone rows `(id, zero codes)` into the
    * reserved `__cluster = -1` partition (a model-cheap one-partition
    * write; existing cell files are never touched). [[probeIndex]]
    * applies LIVE tombstones as a broadcast anti-join before scoring;
    * [[compactIndex]] makes them physical. Same contract as s17,
    * documented + spec-pinned: a tombstone wins until compaction (it
    * kills later re-appends of the same id too, since tombstones apply
    * by id) — re-append AFTER the compaction.
    */
  /** The codes table with a driver-sniffed schema (footer columns from
    * one cell's part file + the `__cluster` partition column the layout
    * owns): saves the per-read schema-inference Spark job every delete,
    * compaction, and probe otherwise paid — partition pruning is
    * unaffected (discovery is directory-driven, not schema-driven).
    * Falls back to normal inference on any miss.
    */
  private def readCodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    codesSchema(spark, path) match {
      case Some(st) => spark.read.schema(st).parquet(s"$path/codes")
      case None => spark.read.parquet(s"$path/codes")
    }

  private def codesSchema(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] =
    LedgerGuard.sniffPartitionedSchema(spark, s"$path/codes", "__cluster",
      org.apache.spark.sql.types.IntegerType)

  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, cId: String): Unit = {
    // Tombstones must match the STORED schema exactly: an id column of a
    // different type (long caller vs int index, or vice versa) would
    // accrete mixed parquet schemas under /codes and break or silently
    // coerce every later probe/compact read. Lossless-castable ids are
    // cast to the stored type; anything else fails loudly here.
    // The code-column COUNT comes off this same schema — the old
    // loadModel call here paid a model-parquet read + collect per
    // delete for a number the footer already carries.
    val stored = codesSchema(spark, path)
      .getOrElse(spark.read.parquet(s"$path/codes").schema)
    val numCodeCols = stored.fieldNames.count(_.matches("__c\\d+"))
    val storedId = stored("neighbor_id").dataType
    val callerId = ids.schema(cId).dataType
    val idCol =
      if (callerId == storedId) col(cId)
      else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(callerId, storedId))
        col(cId).cast(storedId)
      else throw new IllegalArgumentException(
        s"deleteFromIndex: ids column '$cId' is ${callerId.simpleString} but the " +
          s"index stores neighbor_id as ${storedId.simpleString} — not losslessly " +
          "castable; delete with the index's id type")
    val codeCols = (0 until numCodeCols).map { j =>
      lit(0).cast(stored(s"__c$j").dataType).as(s"__c$j")
    }
    ids.select(
        idCol.as("neighbor_id") +: codeCols :+
          lit(TombstoneCell).as("__cluster"): _*)
      .write.mode("append").partitionBy("__cluster").parquet(s"$path/codes")
  }

  /** Live tombstone set of an at-rest index — a partition-pruned read
    * of the single reserved directory (empty scan when no delete ever
    * ran).
    */
  private def liveTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    readCodes(spark, path)
      .filter(col("__cluster") === TombstoneCell)
      .select(col("neighbor_id").as("__del")).distinct()

  /** Compact the at-rest IVFPQ index: collapse exact duplicate rows
    * (replayed appends), APPLY tombstones physically (dead codes and
    * the `__cluster = -1` partition both disappear), and rewrite each
    * cell's accreted per-batch small files into one sized file —
    * [[SimilarityOps.compactBucketedIndex]]'s contract for this layout,
    * under the same staged-swap/lease/manifest discipline
    * ([[Ledger.compactWith]] over the codes directory; the
    * model table is immutable and stays in place).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      maxRecordsPerFile: Long = 8L * 1000 * 1000): Unit =
    Ledger.compactWith(spark, s"$path/codes", CodesSpec) { staging =>
      val led = Ledger.fold(CodesSpec, readCodes(spark, path))
      val tombs = led.filter(col("__cluster") === TombstoneCell)
        .select(col("neighbor_id").as("__del")).distinct()
      val kept = led.filter(col("__cluster") =!= TombstoneCell)
        .join(broadcast(tombs), col("neighbor_id") === col("__del"), "left_anti")
      // ONE pass: write the normal partitioned layout, then dispatch
      // the fully-emptied case off the staging directory's FILE LIST
      // (driver metadata) — the old pre-write isEmpty probe ran the
      // dedup + anti-join plan a second time just to pick the layout.
      kept.repartition(col("__cluster"))
        .write.option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("__cluster").parquet(staging)
      val stagingPath = new org.apache.hadoop.fs.Path(staging)
      val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val anyData = fs.listStatus(stagingPath)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("__cluster="))
      if (!anyData) {
        // FULLY-EMPTIED index (every id purged): a partitioned write of
        // zero rows emits no parquet footer, and every later read of
        // /codes would die in schema inference — the store would be
        // bricked instead of legitimately empty. Write one 0-row
        // FOOTER-CARRYING file into a manually-named tombstone-cell
        // partition directory: the layout stays uniformly partitioned
        // (later appends compose), schema inference reads the footer,
        // and zero rows carry zero semantics.
        kept.drop("__cluster").limit(0).repartition(1)
          .write.mode("overwrite").parquet(s"$staging/__cluster=$TombstoneCell")
      }
    }

  /** Load the model written by [[writeIndex]] (bit-exact round-trip). */
  def loadModel(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    import spark.implicits._
    val rows = LedgerGuard.readParquetSniffed(spark, s"$path/model")
      .as[(Int, Int, Seq[Double])].collect() // model-sized by construction
    val coarse = rows.filter(_._1 == -1).sortBy(_._2).map(_._3.toArray).toVector
    val books = rows.filter(_._1 >= 0).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => IvfIndex.Model(rs.sortBy(_._2).map(_._3.toArray).toVector) }
      .toVector
    val subDim = books.head.centroids.head.length
    Model(IvfIndex.Model(coarse), PqIndex.Model(subDim, books),
      residual = rows.exists(_._1 == -2))
  }

  /** Probe a [[writeIndex]] layout. The query set is small by contract,
    * so its probed cells are computed driver-side and pushed as a
    * LITERAL partition filter — the codes scan reads only nprobe/kc of
    * the index directories (`PartitionFilters: [__cluster IN (...)]`,
    * asserted by test); full vectors are read only for the re-rank pool.
    * Row-identical to [[annTopK]] with the same model/params.
    */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String,
      k: Int, nprobe: Int, rerank: Int,
      preloadedModel: Option[Model] = None): DataFrame = {
    // a long-lived probe service loads the (tiny) model once and serves
    // many query batches against it — `preloadedModel` skips the
    // per-probe parquet read + collect without changing any result
    val model = preloadedModel.getOrElse(loadModel(spark, path))
    // ONE query collect for the whole probe: the same rows drive both
    // the driver-side partition filter here and annTopK's LUT build
    val qRows = collectQueries(queries, qId, qVec)
    val wanted = qRows.flatMap { case (_, v) =>
      nearestCells(model, v.toArray, nprobe)
    }.distinct.toSeq
    // live tombstones (s19 deletes) anti-join the pruned codes BEFORE
    // scoring, so a deleted id can never reach the re-rank pool; when no
    // delete ever ran this is a zero-file partition-pruned read. ONE
    // relation feeds both sides — a second spark.read.parquet would pay
    // the file listing + schema inference twice per probe
    val codesAll = readCodes(spark, path)
    val codes = codesAll
      .filter(col("__cluster").isin(wanted: _*))
      .join(broadcast(codesAll.filter(col("__cluster") === TombstoneCell)
        .select(col("neighbor_id").as("__del")).distinct()),
        col("neighbor_id") === col("__del"), "left_anti")
    annTopK(queries, qId, qVec, candidates, cId, cVec,
      model, k, nprobe, rerank, prebuiltCodes = Some(codes),
      collectedQueries = Some(qRows))
  }

  /** The bounded query-set collect shared by [[probeIndex]]/[[annTopK]]. */
  private def collectQueries(queries: DataFrame, qId: String,
      qVec: String): Array[(Long, Seq[Double])] = {
    val spark = queries.sparkSession
    import spark.implicits._
    queries.select(col(qId).cast("long"), col(qVec).cast("array<double>"))
      .as[(Long, Seq[Double])].collect() // bounded: the query set
  }

  /** The `nprobe` nearest coarse cells of one query vector (driver math
    * over the model-sized centroid list).
    */
  private def nearestCells(model: Model, va: Array[Double], nprobe: Int): Seq[Int] =
    model.coarse.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0; var j = 0
      while (j < c.length) { val t = va(j) - c(j); d += t * t; j += 1 }
      (d, i)
    }.sorted.take(nprobe).map(_._2).toSeq

  /** ANN top-k: prune to `nprobe` nearest cells per query, rank the
    * cells' PQ codes by asymmetric distance (broadcast per-query LUTs),
    * then exact-re-rank the top `rerank` pool with full vectors.
    * Output: (query_id, neighbor_id, dist, rk), exact L2 dist.
    *
    * `prebuiltCodes`: pass a persisted [[codeTable]] to amortize the
    * corpus encode across query batches — the code table IS the index;
    * re-deriving it per batch is a full-corpus scan the index already
    * paid for.
    */
  def annTopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String,
      model: Model, k: Int, nprobe: Int, rerank: Int,
      distDecimals: Int = 6,
      prebuiltCodes: Option[DataFrame] = None,
      collectedQueries: Option[Array[(Long, Seq[Double])]] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._

    val codes = prebuiltCodes.getOrElse(codeTable(candidates, cId, cVec, model))

    // (query, probed cell) rows + per-query LUT — all model-sized driver
    // math, broadcast. LUT layout matches PqIndex.annTopK: m × k doubles.
    // probeIndex passes its already-collected rows through so the probe
    // path runs ONE collect job, not two over the same query set.
    val qRows = collectedQueries.getOrElse(collectQueries(queries, qId, qVec))
    def lutOf(base: Array[Double]): Seq[Seq[Double]] =
      (0 until model.pq.m).map { j =>
        val off = j * model.pq.subDim
        model.pq.codebooks(j).centroids.map { c =>
          var d = 0.0; var i = 0
          while (i < model.pq.subDim) { val t = base(off + i) - c(i); d += t * t; i += 1 }
          d
        }.toSeq
      }
    val probes = qRows.toSeq.flatMap { case (id, v) =>
      val va = v.toArray
      if (!model.residual) {
        // raw-vector codebooks: one LUT serves every probed cell
        val lut = lutOf(va)
        nearestCells(model, va, nprobe).map(cell => (id, cell, lut))
      } else {
        // residual codebooks: the LUT is per (query, cell) — distances
        // are between the query's residual w.r.t. THAT cell's centroid
        // and the codewords (IVFADC; still model-sized driver math)
        nearestCells(model, va, nprobe).map { cell =>
          val c = model.coarse.centroids(cell)
          val r = Array.tabulate(va.length)(i => va(i) - c(i))
          (id, cell, lutOf(r))
        }
      }
    }
    val probeDf = probes.toDF("query_id", "__cluster", "__lut")

    // cell pruning = equi-join on the cell id: only rows of probed cells
    // flow into scoring (partition-pruned scan when the code table is
    // persisted partitioned by __cluster)
    val adist2 = (0 until model.pq.m)
      .map(j => element_at(element_at(col("__lut"), j + 1), col(s"__c$j") + 1))
      .reduce(_ + _)
    val scored = codes.join(broadcast(probeDf), Seq("__cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(sqrt(adist2), distDecimals).as("dist"))

    val pool = SimilarityOps.perKeyTopK(scored, "dist", asc = true, math.max(rerank, k))
      .select(col("query_id"), col("neighbor_id"))
    // exact re-rank: full vectors for only n_queries × rerank rows.
    // The query-side vectors ride the rows ALREADY collected for the
    // LUT build (float→double widening is exact, so narrowing back is
    // the identity) — a local relation instead of a second scan +
    // broadcast of the queries input: one fewer job per probe, same
    // bits in every distance.
    val qLocal = qRows.toSeq
      .map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("query_id", "__qv")
    val exact = broadcast(pool)
      .join(candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")), Seq("neighbor_id"))
      .join(broadcast(qLocal), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(
          sqrt(graft.functions.VectorExpressions.sqDistFF(col("__qv"), col("__cv"))),
          distDecimals).as("dist"))
    SimilarityOps.perKeyTopK(exact, "dist", asc = true, k)
  }
}
