package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based approximate aggregation.
  *
  * Scale design (100 TB): a count-min sketch is a FIXED-SIZE (w×d counter
  * grid) commutative monoid — each partition folds its rows into a local
  * sketch and the shuffle carries one sketch per partition instead of the
  * token stream, so a corpus-wide frequency summary costs one map-side-
  * combined aggregation regardless of vocabulary size. Point lookups then
  * answer from the sketch without ever materializing the vocab. The
  * estimate is deterministic (fixed seed; merge is additive, so partition
  * order cannot change the result) and one-sided: est ≥ true, with
  * est ≤ true + ε·N at confidence `conf`.
  */
object SketchOps {

  /** Build a count-min sketch over a string column and estimate the
    * counts of `candidates`. The sketch and candidate list are bounded
    * driver-side state (same contract as `IvfIndex.train`'s k×dim
    * centroid stats) — the data-sized work all happens in the one
    * distributed aggregation.
    */
  def cmsEstimates(df: DataFrame, valueCol: Column, candidates: Seq[String],
      eps: Double = 0.001, conf: Double = 0.99, seed: Int = 42): Seq[(String, Long)] = {
    val bin = df.select(valueCol.as("__v"))
      .agg(expr(s"count_min_sketch(__v, ${eps}d, ${conf}d, $seed)").as("__sk"))
      .head().getAs[Array[Byte]]("__sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bin))
    candidates.map(t => t -> cms.estimateCount(t))
  }

  /** Sketch estimates from PRE-AGGREGATED (value, count) rows: adding a
    * value with weight `count` touches the same cells `count` unit adds
    * would, and the sketch is additive, so the resulting sketch — and
    * therefore every estimate — is IDENTICAL to streaming the raw
    * occurrences (same library, same eps/conf/seed hash functions).
    * The win is pass economics: the sketch build runs over the
    * vocabulary, not the token stream, so a caller that already owns
    * the grouped counts (any heavy-hitter pipeline does) pays one
    * corpus pass total instead of two.
    */
  def cmsEstimatesWeighted(counts: DataFrame, valueCol: Column, weightCol: Column,
      candidates: Seq[String],
      eps: Double = 0.001, conf: Double = 0.99, seed: Int = 42): Seq[(String, Long)] = {
    val spark = counts.sparkSession
    import spark.implicits._
    val empty = org.apache.spark.util.sketch.CountMinSketch.create(eps, conf, seed)
    // the count_min_sketch SQL aggregate SKIPS NULL inputs; mirror that
    // here — CountMinSketch.add(null, c) would throw. A NULL WEIGHT is
    // skipped too (SQL aggregates skip NULL addends): without the
    // filter the non-nullable Long decode dies in the encoder with an
    // opaque NPE instead of the documented null contract
    val cms = counts.select(valueCol.cast("string").as("__v"), weightCol.cast("long").as("__c"))
      .filter(col("__v").isNotNull && col("__c").isNotNull)
      .as[(String, Long)].rdd
      .mapPartitions { it =>
        val sk = org.apache.spark.util.sketch.CountMinSketch.create(eps, conf, seed)
        it.foreach { case (v, c) => sk.add(v, c) }
        Iterator(sk)
      }
      // fold (not reduce): an empty counts frame still yields the empty
      // sketch instead of throwing
      .fold(empty) { (a, b) => a.mergeInPlace(b); a }
    candidates.map(t => t -> cms.estimateCount(t))
  }

  /** Approximate heavy hitters: the top-k tokens by exact count alongside
    * their count-min estimates. The exact top-k (a TakeOrdered over a
    * partial-agg) supplies the candidate set; the sketch supplies the
    * estimates a 100 TB pipeline would serve lookups from.
    * Output: (token, exact, est) ordered by exact desc, token.
    */
  def heavyHitters(df: DataFrame, tokenCol: Column, k: Int,
      eps: Double = 0.001, conf: Double = 0.99, seed: Int = 42): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus pass: the grouped counts feed both the exact top-k
    // (TakeOrdered) and the weighted sketch build — persisted so the
    // two actions share the explode+shuffle instead of re-running it.
    // The cache is vocabulary-sized (distinct tokens), never the token
    // stream, and is dropped synchronously after the second action.
    // NULL tokens are excluded up front: the sketch side skips NULLs
    // (count_min_sketch semantics), so a NULL in the top-k could never
    // be estimated anyway
    val counts = df.select(tokenCol.as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("exact"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val top = counts
        .orderBy(col("exact").desc, col("token")).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val ests = cmsEstimatesWeighted(counts, col("token"), col("exact"),
        top.map(_._1).toSeq, eps, conf, seed).toMap
      top.map { case (t, exact) => (t, exact, ests(t)) }.toSeq
        .toDF("token", "exact", "est")
        .orderBy(col("exact").desc, col("token"))
    } finally counts.unpersist(false)
  }

  // ------------------------------------------------------------------
  // Vocab-count ledger — EXACT heavy hitters over a growing corpus:
  // per-key token counts at rest, merged by addition (sums are the
  // one sketch that is both exact and mergeable). "Top tokens per
  // language over everything ingest has admitted" — vocabulary drift,
  // contamination spikes, tokenizer-retraining triggers — must not
  // re-tokenize the corpus; an advance tokenizes only the BATCH and
  // folds vocab-sized counts (the d41 stats-ledger regime; the ledger
  // is vocab-sized — what any heavy-hitter pipeline keeps — never the
  // token stream). The CMS path ([[cmsEstimates]], d22b) remains the
  // fixed-size-state option for point lookups; this ledger is the
  // exact companion that also answers ORDER statistics (top-k), which
  // a CMS alone cannot enumerate. Probes use the bounded-heap
  // per-key top-k — no whole-vocab window sort, and a mega-vocab key
  // streams through ≤k-element partial buffers. Self-describing:
  // `_GRAFT_VOCAB_META` persists (keyCol, tokenizerId) — advances
  // under a different tokenizer tag fail loudly naming both sides,
  // since counts from different tokenizations are incomparable and
  // the drift would be silent. Same staged-swap/lease/manifest +
  // exactly-once batchId discipline as every ledger family.
  // ------------------------------------------------------------------

  private val VocabParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "VOCAB_META", "vocab ledger",
    "counts from different tokenizations are incomparable")

  private def vocabSpec(keyCol: String) = Ledger.Spec("vocab ledger",
    Seq(keyCol, "token"), Ledger.Merge.Sum("tc"), Ledger.Retract.Negate,
    params = Some(VocabParams))

  private def vocabParams(keyCol: String, tokenizerId: String) =
    Seq("keyCol" -> keyCol, "tokenizerId" -> tokenizerId)

  /** Per-key token counts: `(key, token, tc)` — the mergeable unit.
    * `tokenCol` yields one ARRAY of tokens per row (e.g.
    * `TextOps.tokens(col("text"))`); null/empty tokens are dropped
    * (they cannot be looked up, mirroring the CMS null contract).
    */
  def tokenCounts(df: DataFrame, keyCol: String, tokenCol: Column): DataFrame =
    df.select(col(keyCol), explode(tokenCol).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy(col(keyCol), col("token"))
      .agg(count(lit(1)).as("tc"))

  /** Create/overwrite the vocab ledger from an initial corpus.
    * `tokenizerId` names the tokenization for drift detection — use a
    * stable tag per tokenizer config.
    */
  def writeVocabLedger(df: DataFrame, keyCol: String, tokenCol: Column,
      path: String, tokenizerId: String = "ws"): Unit =
    Ledger.create(df.sparkSession, path, vocabSpec(keyCol),
      tokenCounts(df, keyCol, tokenCol), vocabParams(keyCol, tokenizerId))

  /** Ledger ∪ batch counts, re-summed — lazily reads `path`; persist to
    * a NEW generation dir or use [[advanceVocabLedger]].
    */
  def mergeVocabLedger(batch: DataFrame, keyCol: String, tokenCol: Column,
      path: String, tokenizerId: String = "ws"): DataFrame = {
    VocabParams.check(batch.sparkSession, path, "merge",
      vocabParams(keyCol, tokenizerId))
    Ledger.merged(batch.sparkSession, path, vocabSpec(keyCol),
      tokenCounts(batch, keyCol, tokenCol))
  }

  /** Fold a batch into the at-rest counts IN PLACE (staged swap, lease,
    * manifest mode, exactly-once `batchId`). Only the batch is
    * tokenized; the merge is vocab-sized. A pre-sidecar ledger adopts
    * the caller's tags on first advance (trusted once).
    */
  def advanceVocabLedger(batch: DataFrame, keyCol: String, tokenCol: Column,
      path: String, tokenizerId: String = "ws",
      batchId: Option[String] = None): Unit =
    Ledger.advance(batch.sparkSession, path, vocabSpec(keyCol), batchId,
      vocabParams(keyCol, tokenizerId))(tokenCounts(batch, keyCol, tokenCol))

  /** EXACT per-key top-k tokens from the at-rest counts, no corpus
    * access: `(key, rk, token, tc)` ranked by (count desc, token) —
    * the bounded-heap top-k, so a key's whole vocabulary never sorts
    * in one task.
    */
  def topTokensFromLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val keyCol = VocabParams.need(spark, path, "probe", "keyCol")
    // re-sum defensively BEFORE the heap (the vocabLedgerJsd contract:
    // a pre-compaction ledger may hold one row per generation for a
    // (key, token) — the merge contract, not an error; ranking the
    // partial rows separately would return wrong "exact" top-k counts
    // and could place one token at two ranks)
    val led = LedgerGuard.readLedger(spark, path)
      .groupBy(col(keyCol), col("token")).agg(sum(col("tc")).as("tc"))
    // count desc, token as the deterministic tiebreak — exactly the
    // bounded heap's (score desc, id asc) contract; the heap carries
    // counts as doubles (exact to 2^53), re-cast on the way out
    SimilarityOps.perKeyTopK(led, Seq(keyCol), "token", "tc", asc = false, k)
      .select(col(keyCol), col("rk"), col("token"), col("tc").cast("long").as("tc"))
  }

  /** Lexical drift AT REST: per-key Jensen-Shannon divergence (bits,
    * [0,1]) between the token distributions of TWO vocab ledgers — two
    * corpora, two ingest windows, or pre/post a tokenizer-preserving
    * pipeline change — with ZERO corpus access at drift time: the
    * at-rest counterpart of `CurationOps.sourceUnigramJsd`, exactly as
    * `histogramDrift` is to the numeric KS/TV/PSI. Same inner-join
    * decomposition (one-sided tokens contribute ln2 · residual mass, so
    * the union vocabulary never materializes); a key present in only
    * one ledger reports the maximum (1 bit) by definition. Both
    * sidecars are required and must agree on keyCol AND tokenizerId —
    * distributions from different tokenizations are incomparable and
    * fail loudly naming both sides (the histogramDrift rule).
    */
  def vocabLedgerJsd(spark: org.apache.spark.sql.SparkSession,
      pathA: String, pathB: String, decimals: Int = 4): DataFrame = {
    def meta(p: String): (String, String) = {
      val kv = VocabParams.need(spark, p, "drift")
      (kv("keyCol"), kv("tokenizerId"))
    }
    val (ka, ta) = meta(pathA)
    val (kb, tb) = meta(pathB)
    if ((ka, ta) != ((kb, tb)))
      throw new IllegalArgumentException(
        s"vocab ledger drift: $pathA was created with keyCol=$ka, " +
          s"tokenizerId=$ta but $pathB with keyCol=$kb, tokenizerId=$tb — " +
          "token distributions keyed or tokenized differently are incomparable")
    // re-sum defensively: a pre-compaction ledger may hold one row per
    // generation for a (key, token) — the merge contract, not an error
    def dist(p: String): DataFrame = {
      val c = LedgerGuard.readLedger(spark, p)
        .groupBy(col(ka), col("token")).agg(sum(col("tc")).as("__c"))
      val n = c.groupBy(col(ka)).agg(sum(col("__c")).as("__n"))
      c.join(n, ka).select(col(ka), col("token"),
        (col("__c").cast("double") / col("__n")).as("__p"))
    }
    val a = dist(pathA).select(col(ka).as("__k"), col("token"), col("__p").as("__pa"))
    val b = dist(pathB).select(col(ka).as("__k"), col("token"), col("__p").as("__pb"))
    val pairs = a.join(b, Seq("__k", "token"))
    val keys = a.select(col("__k")).union(b.select(col("__k"))).distinct()
    // the shared fold lives in CurationOps.jsdBits — ONE implementation,
    // so the live (d112) and at-rest (d114) drift numbers cannot diverge
    CurationOps.jsdBits(pairs, Seq("__k"), keys, decimals)
      .withColumnRenamed("__k", ka)
  }

  /** TF-IDF for a BATCH against at-rest ledgers — incremental keyword
    * scoring: d18's exact formula (`round(tf · ln(N/df), 4)`) with tf
    * from the batch alone, df from a vocab ledger built over per-doc
    * DISTINCT tokens (`array_distinct` of the tokenizer output — one
    * count per admitting document), and N from the stats ledger's doc
    * count. At 100 TB the corpus-wide df/N pass is the cost that
    * matters; here both live at rest and an ingest batch scores its
    * keywords in O(batch + vocab). Advance both ledgers with the batch
    * BEFORE probing: tokens absent from the df ledger have no defined
    * df and are DROPPED (inner join) rather than scored with an
    * invented frequency. Output: `(idCol, token, tf, df, tfidf, rk)`,
    * per-doc top-k by (tfidf desc, token) — the per-doc window is
    * doc-length-bounded, so no low-cardinality skew trap. The df
    * ledger's tokenizer tag must match `tokenizerId` (df from a
    * different tokenization is incomparable — fails loudly); pass the
    * tag the df ledger was created with.
    */
  def tfidfAgainstLedgers(batch: DataFrame, idCol: String, tokenCol: Column,
      dfLedgerPath: String, statsLedgerPath: String, k: Int,
      tokenizerId: String = "ws-distinct"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = batch.sparkSession
    VocabParams.check(spark, dfLedgerPath, "tf-idf probe",
      Seq("tokenizerId" -> tokenizerId), mustExist = true)
    val tf = batch
      .select(col(idCol), explode(tokenCol).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfs = LedgerGuard.readLedger(spark, dfLedgerPath)
      .groupBy(col("token")).agg(sum(col("tc")).as("df"))
    val n = LedgerGuard.readLedger(spark, statsLedgerPath)
      .agg(sum(col("n_docs")).as("ndocs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfs, Seq("token"))
      .crossJoin(broadcast(n)) // 1-row aggregate
      .withColumn("tfidf",
        graft.queries.Qf.dround(col("tf") * log(col("ndocs") / col("df")), 4))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rk"))
  }

  /** Right-to-be-forgotten for the vocab ledger, by SUBTRACTION — the
    * [[CurationOps.retractFromQuantileLedger]] contract: exact (counts
    * merge both directions), caller supplies the forgotten documents
    * (counts are not id-attributed), emptied tokens leave the ledger,
    * and any count that would go negative fails loudly — that means
    * retracting text that was never admitted (or already retracted,
    * or tokenized differently), and clamping would silently skew
    * every later top-k.
    */
  def retractFromVocabLedger(forgotten: DataFrame, keyCol: String,
      tokenCol: Column, path: String, tokenizerId: String = "ws",
      batchId: Option[String] = None): Unit =
    Ledger.retract(forgotten.sparkSession, path, vocabSpec(keyCol), batchId,
      vocabParams(keyCol, tokenizerId))(tokenCounts(forgotten, keyCol, tokenCol))

  /** Compact the vocab ledger IN PLACE: re-sum accreted duplicate
    * (key, token) rows and rewrite small files keyed for pruning.
    */
  def compactVocabLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path,
      vocabSpec(Ledger.storedKey(spark, path, VocabParams, "keyCol")),
      targetFiles, maxRecordsPerFile)
}
