package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity-search operators over embedding columns (`Array[Float]`).
  *
  * Scale design (100 TB):
  *  - brute-force top-k broadcasts the (small) query set against the
  *    (huge) candidate table — no shuffle of candidates, and the per-query
  *    top-k is a TakeOrderedAndProject, not a global sort;
  *  - hyperplane LSH assigns each vector a bucket with a per-row
  *    expression; ANN probing then joins query buckets to candidate
  *    buckets, reading only matching buckets (bucket-partitioned layout
  *    at rest makes this a partition-pruned scan).
  */
object SimilarityOps {

  /** dot(a, b) accumulated left-to-right in double — element order is
    * deterministic, so results are bit-stable across engines. Composable
    * form; works for any numeric element types (e.g. float × double-
    * literal hyperplanes).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Fused native form for float embeddings — bit-identical semantics to
    * `dot` (float multiply, double accumulate) without the per-row
    * intermediate array; stays inside whole-stage codegen.
    */
  def dotF(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF(a, b)

  def norm(a: Column): Column = sqrt(dotF(a, a))

  def cosine(a: Column, b: Column): Column = dotF(a, b) / (norm(a) * norm(b))

  /** The one broadcast-cosine-topk shape behind [[bruteForceTopK]] and
    * [[hardNegatives]]: anchors (with any extra carried key columns,
    * pre-aliased, vector as `__qv`) broadcast against a candidate
    * stream (vector as `__cv`), self-pairs plus anything failing
    * `extraPred` dropped in the join condition, cosine rounded once,
    * ranked through the bounded heap. Keeping tie-break, rounding, and
    * broadcast placement in a single body means the row-equality tests
    * pin every caller at once.
    */
  private def cosineTopK(anchors: DataFrame, candidates: DataFrame,
      anchorKeys: Seq[String], extraPred: Column, k: Int,
      scoreDecimals: Int, excludeSelf: Boolean = true): DataFrame = {
    // excludeSelf drops query_id = neighbor_id pairs — correct when both
    // sides are the SAME id space (self is trivially its own nearest
    // neighbor); CROSS-corpus callers whose id spaces merely overlap
    // numerically (bitext: both sides numbered 1..N) must pass false or
    // every coincidentally-equal-id pair silently vanishes
    val selfPred =
      if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true)
    val scored = broadcast(anchors)
      .join(candidates, selfPred && extraPred)
      .select(Seq(col("query_id")) ++ anchorKeys.map(col) ++ Seq(col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), scoreDecimals).as("score")): _*)
    perKeyTopK(scored, "query_id" +: anchorKeys, "neighbor_id", "score",
      asc = false, k)
  }

  /** Brute-force exact top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast); `candidates` can be huge.
    */
  def bruteForceTopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String, k: Int,
      scoreDecimals: Int = 6): DataFrame =
    cosineTopK(
      queries.select(col(qId).as("query_id"), col(qVec).as("__qv")),
      candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
      anchorKeys = Nil, extraPred = lit(true), k, scoreDecimals)

  /** Contrastive hard-negative mining: for each anchor, the top-k
    * HIGHEST-cosine candidates whose label DIFFERS from the anchor's —
    * the near-miss impostors a contrastive/metric-learning trainer
    * wants next to each positive pair. Same regime as
    * [[bruteForceTopK]] (anchors broadcast, corpus streams once,
    * bounded-heap top-k — never a window), with the label inequality
    * folded into the join condition so same-label pairs are dropped
    * BEFORE the dot product is ever computed. The comparison is SQL
    * `<>`: a NULL label on EITHER side drops the pair (an unlabeled
    * candidate is never mined, an unlabeled anchor yields no rows) —
    * filter or impute labels upstream if that isn't what you want.
    * Output: `(query_id, anchor_label, neighbor_id, score, rk)`.
    */
  def hardNegatives(anchors: DataFrame, aId: String, aVec: String,
      aLabel: String, corpus: DataFrame, cId: String, cVec: String,
      cLabel: String, k: Int, scoreDecimals: Int = 6): DataFrame =
    cosineTopK(
      anchors.select(col(aId).as("query_id"), col(aLabel).as("anchor_label"),
        col(aVec).as("__qv")),
      corpus.select(col(cId).as("neighbor_id"), col(cLabel).as("__cl"),
        col(cVec).as("__cv")),
      anchorKeys = Seq("anchor_label"),
      extraPred = col("anchor_label") =!= col("__cl"), k, scoreDecimals)

  /** kNN label agreement — the standard intrinsic embedding-quality
    * probe (a usable embedding puts same-label points near each other):
    * for each labeled anchor, the fraction of its k nearest neighbors
    * by cosine (self excluded) sharing its label. Output one row per
    * anchor: `(query_id, query_label, knn_agree)` — aggregate further
    * per label/corpus for a scorecard. A collapsing agreement after an
    * embedding-model or index change is the canary that similarity
    * search, semantic dedup and decontamination are about to degrade.
    *
    * Shape: anchors are a model-sized PROBE SAMPLE (they broadcast via
    * [[bruteForceTopK]] — QA doesn't need every point scored); the
    * corpus streams ONCE through the bounded-heap top-k. Neighbor
    * labels then attach by broadcasting the (anchors × k)-sized
    * neighbor table against the corpus' 2-column (id, label)
    * projection — the corpus is never shuffled, and the label pass
    * reads only 2 columns (column pruning reaches the scan).
    */
  def knnLabelAgreement(anchors: DataFrame, aId: String, aVec: String,
      aLabel: String, corpus: DataFrame, cId: String, cVec: String,
      cLabel: String, k: Int, scoreDecimals: Int = 6,
      agreeDecimals: Int = 4): DataFrame = {
    val nn = bruteForceTopK(anchors, aId, aVec, corpus, cId, cVec, k,
      scoreDecimals)
    val aL = anchors.select(col(aId).as("query_id"), col(aLabel).as("__ql"))
    val cL = corpus.select(col(cId).as("neighbor_id"), col(cLabel).as("__nl"))
    // (nn ⋈ anchor labels) is anchors×k rows — broadcast it against the
    // corpus label projection so the corpus side never shuffles
    val probe = nn.join(broadcast(aL), "query_id")
    cL.join(broadcast(probe), "neighbor_id")
      .groupBy(col("query_id"), col("__ql"))
      .agg(graft.queries.Qf.dround(
        avg(when(col("__nl") === col("__ql"), 1d).otherwise(0d)),
        agreeDecimals).as("knn_agree"))
      .select(col("query_id"), col("__ql").as("query_label"), col("knn_agree"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    * LASER/CCMatrix parallel-corpus miner): for source vectors X and
    * target vectors Y (two languages in one multilingual embedding
    * space), score a candidate pair by the RATIO margin
    * `cos(x,y) / ((avg cos(x, NNk(x,Y)) + avg cos(y, NNk(y,X))) / 2)`
    * and keep each x's argmax y. Dividing by the two neighborhoods'
    * mean similarity cancels the hubness that makes raw-cosine
    * thresholds unusable across languages: a y that is everyone's
    * neighbor has a high denominator and wins nothing.
    *
    * Candidates are the standard forward ∪ backward top-k union (the
    * margin argmax can sit in the backward list — scoring all |X|·|Y|
    * pairs is exactly what the method avoids). Both directions run
    * through [[bruteForceTopK]]'s broadcast + bounded-heap shape; the
    * k-NN averages and the candidate set are (anchors × k)-sized, so
    * everything after the two directional passes is model-sized
    * broadcast work. 100 TB: replace the two brute-force passes with
    * the ANN index probes (s03/s12/s22) — the margin algebra downstream
    * is unchanged; mine per language-pair partition.
    *
    * Output: `(src_id, tgt_id, score, margin)`, one row per src vector
    * (ties on margin break by tgt id, pinned by the oracle).
    */
  def marginBitextMine(src: DataFrame, sId: String, sVec: String,
      tgt: DataFrame, tId: String, tVec: String, k: Int,
      scoreDecimals: Int = 6, marginDecimals: Int = 4): DataFrame = {
    // src and tgt are DIFFERENT corpora whose id spaces may overlap
    // numerically (sentence-aligned bitext is typically numbered 1..N on
    // BOTH sides): the same-corpus self-exclusion must NOT apply, or the
    // gold pair (i, i) silently vanishes from the candidates AND the
    // kNN-average denominators
    def directional(q: DataFrame, qId: String, qVec: String,
        c: DataFrame, cId: String, cVec: String): DataFrame =
      cosineTopK(
        q.select(col(qId).as("query_id"), col(qVec).as("__qv")),
        c.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
        anchorKeys = Nil, extraPred = lit(true), k, scoreDecimals,
        excludeSelf = false)
    val fwd = directional(src, sId, sVec, tgt, tId, tVec)
    val bwd = directional(tgt, tId, tVec, src, sId, sVec)
    val fAvg = fwd.groupBy(col("query_id")).agg(avg(col("score")).as("__fa"))
      .select(col("query_id").as("src_id"), col("__fa"))
    val bAvg = bwd.groupBy(col("query_id")).agg(avg(col("score")).as("__ba"))
      .select(col("query_id").as("tgt_id"), col("__ba"))
    // forward ∪ swapped-backward candidates; the rounded cosine is
    // direction-independent (elementwise products and the commutative
    // norm product are bit-identical), so first() after the dedup
    // groupBy is exact, not a nondeterministic pick
    val cand = fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("score"))
      .unionByName(bwd.select(col("neighbor_id").as("src_id"),
        col("query_id").as("tgt_id"), col("score")))
      .groupBy(col("src_id"), col("tgt_id"))
      .agg(first(col("score")).as("score"))
    val margined = cand
      .join(broadcast(fAvg), "src_id")
      .join(broadcast(bAvg), "tgt_id")
      .select(col("src_id"), col("tgt_id"), col("score"),
        graft.queries.Qf.dround(
          col("score") / ((col("__fa") + col("__ba")) / 2),
          marginDecimals).as("margin"))
    val best = perKeyTopK(
      margined.select(col("src_id").as("query_id"),
        col("tgt_id").as("neighbor_id"), col("margin")),
      "margin", asc = false, k = 1)
    // re-attach the raw cosine: (src,tgt) is unique in the candidate set
    best.select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("margin"))
      .join(broadcast(margined.select(col("src_id"), col("tgt_id"), col("score"))),
        Seq("src_id", "tgt_id"))
      .select(col("src_id"), col("tgt_id"), col("score"), col("margin"))
  }

  /** Per-key top-k via the bounded-heap aggregate — NOT a row_number
    * window: the window form sorts every key's full candidate set
    * (corpus-sized per key) where the aggregate streams candidates
    * through ≤k-element partial buffers, map-side combined. Identical
    * rows to `row_number over (partition by keys order by score
    * [desc], id) <= k` (same tie-break; pinned by test). Output:
    * `keys ++ (idCol, scoreCol, rk)`.
    */
  def perKeyTopK(scored: DataFrame, keys: Seq[String], idCol: String,
      scoreCol: String, asc: Boolean, k: Int): DataFrame = {
    val keyCols = keys.map(col)
    // string ids route to the UTF-8-ordered heap; everything else to
    // the long-id one (same contract, same tie-break semantics)
    val heap =
      if (scored.schema(idCol).dataType == org.apache.spark.sql.types.StringType)
        graft.functions.Aggregators.topKByScoreStr(k, asc)(col(scoreCol), col(idCol))
      else
        graft.functions.Aggregators.topKByScore(k, asc)(col(scoreCol), col(idCol))
    scored
      .groupBy(keyCols: _*)
      .agg(heap.as("__top"))
      .select(keyCols :+ posexplode(col("__top")).as(Seq("__p", "__s")): _*)
      .select(keyCols ++ Seq(
        col("__s.id").as(idCol),
        col("__s.score").as(scoreCol),
        (col("__p") + 1).cast("int").as("rk")): _*)
  }

  /** ANN-shaped convenience: key `query_id`, id `neighbor_id`. */
  def perKeyTopK(scored: DataFrame, scoreCol: String, asc: Boolean,
      k: Int): DataFrame =
    perKeyTopK(scored, Seq("query_id"), "neighbor_id", scoreCol, asc, k)

  /** Reciprocal Rank Fusion (Cormack & Clarke, SIGIR 2009) — the
    * standard combiner for HYBRID retrieval (BM25 lexical + dense
    * cosine being the classic pair): fused score(d) = Σ_r 1/(k0 +
    * rank_r(d)) over the rankings that contain d; documents absent
    * from a ranking contribute nothing. Rank-based, so retriever score
    * scales never need calibration against each other — the reason
    * RRF beats score interpolation in practice.
    *
    * Inputs: one frame per retriever with `keys ++ (idCol, rankCol)`
    * (ranks 1-based, e.g. the `rk` of [[perKeyTopK]]/
    * [[bruteForceTopK]]). Output: `keys ++ (idCol, rrf_score, rk)`,
    * top `k` per key by fused score with the deterministic id
    * tie-break.
    *
    * Scale shape: the inputs are already per-key top-k — MODEL-sized,
    * k × retrievers rows per key — so the union + map-side-combining
    * sum + bounded-heap top-k never touch a corpus; the heavy lifting
    * happened inside each retriever. Determinism: a (key, id) pair
    * appears at most once per ranking, so the fused sum has ≤
    * `rankings.size` terms — exact for the 2-retriever hybrid; beyond
    * that the one rounding absorbs partial-agg order.
    */
  def rrfFuse(rankings: Seq[DataFrame], keys: Seq[String], idCol: String,
      rankCol: String, k: Int, k0: Int = 60): DataFrame = {
    val shaped = rankings.map(_.select(
      keys.map(col) :+ col(idCol) :+ col(rankCol).cast("double").as("__rnk"): _*))
    val fused = shaped.reduce(_ unionByName _)
      .groupBy((keys :+ idCol).map(col): _*)
      .agg(graft.queries.Qf.dround(
        sum(lit(1.0) / (lit(k0.toDouble) + col("__rnk"))), 6).as("rrf_score"))
    perKeyTopK(fused, keys, idCol, "rrf_score", asc = false, k)
  }

  /** Exact Euclidean (L2) top-k neighbors per query — the metric twin of
    * [[bruteForceTopK]]: same broadcast-queries shape, but ranked by
    * distance ASCENDING through the fused float×float squared-distance
    * kernel (one codegen'd pass per pair, no intermediate arrays).
    */
  def l2TopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String, k: Int,
      distDecimals: Int = 6): DataFrame = {
    val sq = graft.functions.VectorExpressions.sqDistFF(col("__qv"), col("__cv"))
    val scored = broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv")))
      .join(candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(sqrt(sq), distDecimals).as("dist"))
    perKeyTopK(scored, "dist", asc = true, k)
  }

  /** Int8 scalar-quantized top-k (the faiss `SQ8` regime): rank by the
    * integer dot product of symmetric per-vector int8 codes
    * ([[graft.functions.VecQuantUtil.quantizeI8]] — scales cancel in
    * cosine, so the approximate score needs ONLY the 64 code bytes per
    * vector, 4× smaller than the float column), keep `k ·
    * rerankFactor` candidates per query through the bounded heap, then
    * re-rank exactly on the float vectors and cut to `k`. Same output
    * shape as [[bruteForceTopK]].
    *
    * Scale shape: the approx pass streams the corpus ONCE against
    * broadcast query codes — at rest, store `quantizeI8(vec)` next to
    * (or instead of) the float column and the scan reads a quarter of
    * the bytes, which is the entire point of SQ8 at 100 TB. The exact
    * re-rank touches only the candidate set (queries × k·rerankFactor
    * rows, model-sized): the candidate ids broadcast back against the
    * corpus, so the second pass is a broadcast-semi-join fetch, never
    * a shuffle. Recall is gated in AccuracySpec (int8 + 4× re-rank on
    * 64-dim embeddings recovers the exact top-k almost always).
    */
  def quantizedTopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String, k: Int,
      rerankFactor: Int = 4, scoreDecimals: Int = 6): DataFrame = {
    import graft.functions.VectorExpressions.{dotI8, quantizeI8}
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    def codes(df: DataFrame, id: String, vec: String, as: String,
        qAs: String, nAs: String) =
      df.select(col(id).as(as), quantizeI8(col(vec)).getField("q").as(qAs))
        .withColumn(nAs, sqrt(dotI8(col(qAs), col(qAs)).cast("double")))
    val qc = codes(queries, qId, qVec, "query_id", "__qq", "__qn")
    val cc = codes(candidates, cId, cVec, "neighbor_id", "__cq", "__cn")
    val approx = broadcast(qc)
      .join(cc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotI8(col("__qq"), col("__cq")).cast("double") /
          (col("__qn") * col("__cn"))).as("__approx"))
    val cand = perKeyTopK(approx, "__approx", asc = false, k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rer = candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), scoreDecimals).as("score"))
    perKeyTopK(rer, "score", asc = false, k)
  }

  /** Write the SQ8 at-rest corpus: `(id, q, scale, vec)` parquet, codes
    * first-class columns so a probe's approximate pass can read `(id,
    * q)` ALONE — parquet column pruning skips the float vectors, which
    * is the 4× scan-byte reduction that makes SQ8 pay at 100 TB (the
    * plan gate in PlanShapeSpec pins the pruned ReadSchema). The float
    * column rides along for the exact re-rank fetch (and any consumer
    * that wants full precision).
    */
  def writeQuantizedCorpus(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    import graft.functions.VectorExpressions.quantizeI8
    df.select(col(idCol), quantizeI8(col(vecCol)).as("__sq"), col(vecCol).as("vec"))
      .select(col(idCol), col("__sq.q").as("q"), col("__sq.scale").as("scale"), col("vec"))
      .write.mode("overwrite").parquet(path)
  }

  /** [[quantizedTopK]] against [[writeQuantizedCorpus]]'s at-rest form:
    * identical rows (same codes, same candidates, same exact re-rank —
    * pinned by test), but the approx pass scans only `(id, q)` and the
    * re-rank fetches only the candidates' float rows via a broadcast
    * semi-join. `idCol`/`vecCol` name the columns as stored.
    */
  def quantizedTopKAtRest(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String, qVec: String,
      idCol: String, k: Int, rerankFactor: Int = 4,
      scoreDecimals: Int = 6): DataFrame = {
    import graft.functions.VectorExpressions.{dotI8, quantizeI8}
    require(rerankFactor >= 1, "rerankFactor must be >= 1")
    val corpus = LedgerGuard.readParquetSniffed(spark, path)
    val qc = queries
      .select(col(qId).as("query_id"), quantizeI8(col(qVec)).getField("q").as("__qq"))
      .withColumn("__qn", sqrt(dotI8(col("__qq"), col("__qq")).cast("double")))
    val cc = corpus.select(col(idCol).as("neighbor_id"), col("q").as("__cq"))
      .withColumn("__cn", sqrt(dotI8(col("__cq"), col("__cq")).cast("double")))
    val approx = broadcast(qc)
      .join(cc, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotI8(col("__qq"), col("__cq")).cast("double") /
          (col("__qn") * col("__cn"))).as("__approx"))
    val cand = perKeyTopK(approx, "__approx", asc = false, k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rer = corpus.select(col(idCol).as("neighbor_id"), col("vec").as("__cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), scoreDecimals).as("score"))
    perKeyTopK(rer, "score", asc = false, k)
  }

  /** Matryoshka (MRL) truncated-prefix retrieval (Kusupati et al. 2022):
    * approximate ranking on the FIRST `prefixDim` dimensions (MRL
    * training makes every prefix a usable embedding), `k · candFactor`
    * candidates per query through the bounded heap, then an exact
    * full-dimension cosine re-rank cut to `k`. Both stages round scores
    * and tie-break on `neighbor_id`, so the whole pipeline is
    * DETERMINISTIC — an oracle re-derives identical rows (unlike the
    * quantization/LSH families, truncation has no engine-specific
    * state), which is why this one is hash-checked rather than
    * recall-gated.
    *
    * Scale shape: same two-pass regime as [[quantizedTopK]] — the
    * prefix pass streams the corpus once against broadcast query
    * prefixes and needs only `prefixDim/dim` of the vector bytes (at
    * rest, store the prefix as its own column next to the full vector
    * — the s14 column-pruning regime — and the scan-byte cut is
    * `dim/prefixDim`×); the exact pass touches only the candidate set
    * via a broadcast semi-join fetch, never a shuffle.
    */
  def matryoshkaTopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String, k: Int,
      prefixDim: Int, candFactor: Int = 4, scoreDecimals: Int = 6): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    require(candFactor >= 1, "candFactor must be >= 1")
    val qp = queries.select(col(qId).as("query_id"),
      slice(col(qVec), 1, prefixDim).as("__qp"))
    val cp = candidates.select(col(cId).as("neighbor_id"),
      slice(col(cVec), 1, prefixDim).as("__cp"))
    val approx = broadcast(qp)
      .join(cp, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qp"), col("__cp")), scoreDecimals)
          .as("__approx"))
    val cand = perKeyTopK(approx, "__approx", asc = false, k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rer = candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), scoreDecimals).as("score"))
    perKeyTopK(rer, "score", asc = false, k)
  }

  /** Sidecar of the MRL corpus's creation-time `prefixDim`: the stored
    * `prefix` column is exactly that many leading dims, so probing with
    * a different prefixDim would compare query prefixes against
    * corpus prefixes of another length — zip_with pads the short side
    * with nulls and the approximate scores silently degrade. Same
    * own-parameters treatment as the ANN index's (numPlanes, dim), the
    * signature ledger's shingling meta, and the sketch ledger's lgK.
    */
  private val MrlMetaFile = graft.operators.LedgerGuard.SidecarPrefix + "MRL_META"

  /** Write the Matryoshka at-rest corpus: `(id, prefix, vec)` parquet
    * with the truncated prefix as a FIRST-CLASS column, so a probe's
    * approximate pass scans `(id, prefix)` alone — parquet column
    * pruning delivers the `dim/prefixDim`× scan-byte cut (the same
    * regime as [[writeQuantizedCorpus]]'s codes; the PlanShapeSpec gate
    * pins the pruned ReadSchema). The full vector rides along for the
    * exact re-rank fetch.
    */
  def writeMatryoshkaCorpus(df: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int, path: String): Unit = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    df.select(col(idCol), slice(col(vecCol), 1, prefixDim).as("prefix"),
        col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(path)
    LedgerGuard.writeSidecarMeta(df.sparkSession, path, MrlMetaFile,
      Seq("prefixDim" -> prefixDim.toString))
  }

  /** [[matryoshkaTopK]] against [[writeMatryoshkaCorpus]]'s at-rest
    * form: identical rows by construction (same truncation, same
    * candidate cut, same exact re-rank), but the approximate pass scans
    * only `(id, prefix)` and the re-rank fetches only the candidates'
    * float rows via a broadcast semi-join. Fails loudly if the caller's
    * `prefixDim` differs from the corpus's creation-time value.
    */
  def matryoshkaTopKAtRest(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String, qVec: String,
      idCol: String, k: Int, prefixDim: Int, candFactor: Int = 4,
      scoreDecimals: Int = 6, allowMissingMeta: Boolean = false): DataFrame = {
    require(candFactor >= 1, "candFactor must be >= 1")
    LedgerGuard.readSidecarMeta(spark, path, MrlMetaFile)
      .flatMap(_.get("prefixDim")).flatMap(_.toLongOption) match {
      case Some(p) if p != prefixDim =>
        throw new IllegalArgumentException(
          s"MRL corpus probe at $path: corpus was written with " +
            s"prefixDim=$p but the caller passed prefixDim=$prefixDim — " +
            "prefixes of different lengths do not compare; pass the " +
            "creation-time value (or rewrite the corpus)")
      case Some(_) => ()
      case None if allowMissingMeta => () // explicitly-declared legacy corpus
      case None =>
        // a MISSING sidecar is the exact failure the sidecar exists to
        // prevent from passing silently: a probe with a wrong prefixDim
        // against such a corpus would quietly degrade scores
        throw new IllegalStateException(
          s"MRL corpus probe at $path: no readable ${MrlMetaFile} sidecar — " +
            "cannot validate the caller's prefixDim against the corpus. " +
            "For a corpus written before the sidecar existed, pass " +
            "allowMissingMeta = true (and prefer rewriting it with " +
            "writeMatryoshkaCorpus, which stamps the sidecar)")
    }
    val corpus = LedgerGuard.readParquetSniffed(spark, path)
    val qp = queries.select(col(qId).as("query_id"),
      slice(col(qVec), 1, prefixDim).as("__qp"))
    val cp = corpus.select(col(idCol).as("neighbor_id"), col("prefix").as("__cp"))
    val approx = broadcast(qp)
      .join(cp, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qp"), col("__cp")), scoreDecimals)
          .as("__approx"))
    val cand = perKeyTopK(approx, "__approx", asc = false, k * candFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rer = corpus.select(col(idCol).as("neighbor_id"), col("vec").as("__cv"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), scoreDecimals).as("score"))
    perKeyTopK(rer, "score", asc = false, k)
  }

  /** Deterministic pseudo-random hyperplanes (values in [-0.5, 0.5)),
    * reproducible from (plane, dim) alone so any engine can re-derive them.
    */
  def hyperplanes(numPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until numPlanes).map { j =>
      Array.tabulate(dim) { i =>
        ((1.0 + ((j * 7919 + i * 104729) % 1999)) / 1999.0) - 0.5
      }
    }

  /** Fused float×double form for embedding · plane-literal projections —
    * matches `dot` bit-for-bit (each float promotes to double before the
    * multiply, exactly the cast zip_with inserts).
    */
  def dotFD(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotFD(a, b)

  /** Sign-of-dot-product LSH bucket id (one bit per hyperplane). The
    * projection is the fused codegen'd kernel — the composable
    * `zip_with`+`aggregate` form is interpreted (no codegen, no CSE) and
    * was the r1 `weak` finding: it re-ran per plane per row at scan scale.
    */
  def hyperplaneBucket(vec: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val planeArr = array(p.toIndexedSeq.map(lit): _*)
      when(dotFD(vec, planeArr) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _).cast("int")

  /** Persist a corpus bucket-partitioned by its LSH bucket id — the
    * at-rest layout that turns an ANN probe into a partition-pruned scan
    * (only matching `bucket=` directories are read; at 100 TB a probe
    * touches 1/2^planes of the data, and the files never re-shuffle).
    */
  def writeBucketedIndex(candidates: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int, path: String): Unit = {
    val planes = hyperplanes(numPlanes, dim)
    candidates.select(col(idCol), col(vecCol),
        hyperplaneBucket(col(vecCol), planes).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    // idCol rides along so maintenance ops bind the id BY NAME instead
    // of inferring it from parquet field order (a layout change would
    // otherwise anti-join tombstones on the wrong column without error)
    AnnParams.write(candidates.sparkSession, path, annParams(numPlanes, dim, idCol))
  }

  /** Sidecar of the index's creation-time (numPlanes, dim): planes are
    * derived deterministically from those two numbers, so an index is
    * only probeable/appendable with the SAME pair — a drifted caller
    * default would bucket by different planes, silently losing recall
    * on probes and corrupting the layout on appends. Same treatment as
    * the signature ledger's shingling meta and the sketch ledger's lgK.
    */
  private val AnnParams = Ledger.Params(
    graft.operators.LedgerGuard.SidecarPrefix + "ANN_META", "ANN index",
    "different planes assign different buckets, so probes silently lose " +
      "recall and appends corrupt the layout", recordOnly = Set("idCol"))

  private val AnnSpec = Ledger.Spec("ANN index", Nil, Ledger.Merge.UnionDistinct,
    layout = Ledger.Layout.Partitioned("bucket"), params = Some(AnnParams))

  private def annParams(numPlanes: Int, dim: Int, idCol: String) =
    Seq("numPlanes" -> numPlanes, "dim" -> dim, "idCol" -> idCol)

  /** Admit a batch of vectors to the at-rest ANN index — the ingest
    * loop's maintenance path: the batch gets the SAME deterministic
    * bucket transform and appends new files into the matching
    * `bucket=` partitions (creating new ones as needed) — O(batch)
    * work, nothing rewrites, probes prune identically. Appends are not
    * replay-tolerant by themselves (a crash-and-retry append stores
    * duplicate rows which surface as duplicate candidates);
    * [[compactBucketedIndex]] collapses exact duplicates at rest, the
    * same remedy the signature ledger applies.
    */
  def appendToBucketedIndex(batch: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int, path: String,
      batchId: Option[String] = None): Unit = {
    // exactly-once (the Ledger rule): a marked replayed delivery skips
    // the re-bucket and the duplicate append (which would otherwise
    // surface as duplicate candidates until compaction)
    val planes = hyperplanes(numPlanes, dim)
    Ledger.append(batch.sparkSession, path, AnnSpec, batchId,
      annParams(numPlanes, dim, idCol))(
      batch.select(col(idCol), col(vecCol),
        hyperplaneBucket(col(vecCol), planes).as("bucket")))
  }

  /** Reserved partition holding delete TOMBSTONES: real vectors bucket
    * into `0 .. 2^numPlanes - 1`, so `bucket = -1` can never collide
    * with a probe's wanted-bucket list.
    */
  private val TombstoneBucket = -1

  /** Delete ids from the at-rest index WITHOUT rewriting it: appends
    * tombstone rows — `(id, NULL vector)` in the reserved
    * `bucket = -1` partition — an O(batch) append like every other
    * maintenance op. Every probe applies live tombstones as a
    * broadcast anti-join; [[compactBucketedIndex]] makes them physical
    * (drops the dead vectors AND the tombstone partition).
    *
    * Contract (documented + unit-tested): a tombstone wins until
    * compaction — re-admitting a deleted id before compacting leaves
    * it invisible (and the intervening compaction removes the re-added
    * rows too, since tombstones apply by id). Re-append AFTER the
    * compaction that absorbed the delete. The faiss `remove_ids` /
    * LSM-delete regime, not a bug.
    */
  def deleteFromBucketedIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame, idCol: String, vecCol: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    ids.select(col(idCol),
        lit(null).cast(ArrayType(FloatType)).as(vecCol),
        lit(TombstoneBucket).as("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(Ledger.appendDir(spark, path))
  }

  /** Compact the at-rest ANN index: collapse exact duplicate rows
    * (replayed appends), APPLY tombstones physically (dead vectors and
    * the `bucket = -1` partition both disappear), and rewrite each
    * bucket's accreted per-batch small files into one sized file
    * (clustering on the partition column — each bucket lands in
    * exactly one task, the same one-file-per-cell layout the IVFPQ
    * index write uses). Runs under the shared staged-swap/lease/
    * manifest discipline ([[LedgerGuard.advanceInPlace]]), so it is
    * crash-safe in plain mode and object-store-safe in manifest mode.
    */
  def compactBucketedIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, maxRecordsPerFile: Long = 8L * 1000 * 1000): Unit =
    Ledger.compactWith(spark, path, AnnSpec) { staging =>
      val led = Ledger.fold(AnnSpec, Ledger.read(spark, path))
      // bind the id BY NAME from the sidecar when present (legacy
      // pre-idCol indexes fall back to field order); a sidecar naming
      // a column the files don't carry fails loudly here rather than
      // anti-joining tombstones on the wrong column
      val idc = Ledger.storedKey(spark, path, AnnParams, "idCol")
      val tombs = led.filter(col("bucket") === TombstoneBucket)
        .select(col(idc).as("__del")).distinct()
      led.filter(col("bucket") =!= TombstoneBucket)
        .join(broadcast(tombs), col(idc) === col("__del"), "left_anti")
        .repartition(col("bucket"))
        .write.option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy("bucket").parquet(staging)
    }

  /** ANN top-k against a [[writeBucketedIndex]] layout. The query set is
    * small by contract (same contract that lets annTopK broadcast it), so
    * its buckets are computed driver-side and pushed as a LITERAL
    * partition filter — the scan plan shows `PartitionFilters:
    * [bucket IN (...)]` and reads only those directories.
    *
    * The literal list is bounded by the DISTINCT bucket count, which the
    * plane count caps at 2^numPlanes — fine for the shallow indexes the
    * static filter targets, but a deep index (say 24 planes → 16M
    * possible buckets) probed by a large query batch would collect and
    * inline an unbounded literal list into the plan. Above
    * `maxLiteralBuckets` possible buckets the probe switches to a
    * broadcast LEFT SEMI join of the index against the distinct query
    * buckets: no driver collect, no giant plan literal, identical rows —
    * trading the static `PartitionFilters` for Spark's runtime pruning
    * of the broadcast join.
    */
  def probeBucketedIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      cId: String, cVec: String,
      numPlanes: Int, dim: Int, k: Int,
      maxLiteralBuckets: Int = 1024): DataFrame = {
    AnnParams.check(spark, path, "probe", Seq("numPlanes" -> numPlanes, "dim" -> dim))
    val planes = hyperplanes(numPlanes, dim)
    val qb = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
      hyperplaneBucket(col(qVec), planes).as("bucket"))
    // readLedger: resolves the manifest generation / staging fallback —
    // a partition-discovered read either way, so pruning is unchanged
    val idx = LedgerGuard.readLedger(spark, path)
    val prunedIdx =
      if (numPlanes < 31 && (1L << numPlanes) <= maxLiteralBuckets) {
        // bounded driver collect (≤ 2^numPlanes ints) → static partition
        // pruning in the scan
        val wanted = qb.select(col("bucket")).distinct().collect().map(_.getInt(0)).toSeq
        idx.filter(col("bucket").isin(wanted: _*))
      } else
        idx.join(broadcast(qb.select(col("bucket")).distinct()), Seq("bucket"), "left_semi")
    // live delete tombstones (bucket = -1 — a partition real buckets
    // can never select) apply as a broadcast anti-join; the scan of the
    // tombstone partition reads ids only (column-pruned) and is empty
    // on an index with no pending deletes
    val tombs = idx.filter(col("bucket") === TombstoneBucket)
      .select(col(cId).as("neighbor_id")).distinct()
    val pruned = prunedIdx
      .select(col("bucket"), col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .join(broadcast(tombs), Seq("neighbor_id"), "left_anti")
    val scored = broadcast(qb).join(pruned, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), 6).as("score"))
    perKeyTopK(scored, "score", asc = false, k)
  }

  /** ANN via LSH buckets: exact rescoring restricted to the query's bucket.
    * Recall is tuned by the number of planes (fewer planes = bigger
    * buckets = higher recall, more rescoring).
    */
  def annTopK(queries: DataFrame, qId: String, qVec: String,
      candidates: DataFrame, cId: String, cVec: String,
      k: Int, numPlanes: Int, dim: Int): DataFrame = {
    val planes = hyperplanes(numPlanes, dim)
    val qb = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"),
      hyperplaneBucket(col(qVec), planes).as("__bucket"))
    val cb = candidates.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"),
      hyperplaneBucket(col(cVec), planes).as("__bucket"))
    val scored = broadcast(qb).join(cb, Seq("__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.queries.Qf.dround(cosine(col("__qv"), col("__cv")), 6).as("score"))
    perKeyTopK(scored, "score", asc = false, k)
  }

  /** Per-group element-wise mean vector. The explode → (group, pos)
    * partial-agg is the 100 TB shape: shuffles carry k×dim scalar
    * centroid stats, never the vectors themselves. Components are
    * rounded to `decimals` so downstream consumers (and cross-engine
    * oracles) score against bit-identical centroids regardless of
    * floating-point summation order.
    */
  def groupCentroids(vecs: DataFrame, groupCol: String, vecCol: String,
      decimals: Int = 6): DataFrame =
    vecs.select(col(groupCol), posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col(groupCol), col("__p"))
      .agg(avg(col("__v")).as("__c"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__c")))).as("__pc"))
      .select(col(groupCol),
        transform(col("__pc"),
          x => graft.queries.Qf.dround(x.getField("__c"), decimals)).as("centroid"))

  /** Cluster-cohesion report: per group, the member count, centroid
    * L2 norm, and mean member-to-centroid cosine. The centroid frame is
    * k rows and BROADCAST back onto the members; the per-member cosine
    * runs through the fused float×double kernel. The `__cnorm` fold is
    * an interpreted HOF but evaluates once per GROUP (k rows), not per
    * member.
    */
  def centroidCohesion(vecs: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val cen = groupCentroids(vecs, groupCol, vecCol)
      .withColumn("__cnorm",
        sqrt(aggregate(col("centroid"), lit(0.0), (a, x) => a + x * x)))
    vecs.join(broadcast(cen), Seq(groupCol))
      .select(col(groupCol), col("__cnorm"),
        (dotFD(col(vecCol), col("centroid")) / (norm(col(vecCol)) * col("__cnorm")))
          .as("__cos"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_members"),
        first(col("__cnorm")).as("centroid_norm_raw"),
        avg(col("__cos")).as("avg_cos_raw"))
  }

  /** Dominant embedding direction by POWER ITERATION — the first half
    * of "All-but-the-Top" post-processing (Mu & Viswanath 2018, ICLR:
    * embedding sets are anisotropic — a nonzero mean plus a few
    * dominant directions carry corpus-frequency noise; subtracting
    * them measurably improves similarity tasks). Returns the per-dim
    * table `(pos, mu, comp)`: the mean vector and the unit top
    * component of the centered covariance, `iters` rounds of
    * `v ← normalize(Σᵢ (xᵢ−μ)·⟨xᵢ−μ, v⟩)`.
    *
    * Scale shape: each round is ONE corpus pass — the per-row
    * projection `c = ⟨x, v⟩ − ⟨μ, v⟩` is the fused float×double
    * kernel, and the per-dim sums `Σ xᵢⱼ·cᵢ` are posexplode partial
    * aggregates (shuffles carry dim-sized partials, never vectors —
    * the [[groupCentroids]] 100 TB shape). Driver state is the
    * dim-sized (μ, v) pair, collected once per round (annotated:
    * model-sized, iters-bounded — not a data loop).
    *
    * Cross-engine determinism: μ, each round's per-dim sums, and the
    * normalized v are ROUNDED to `decimals` at every step — summation
    * order can drift a few ulps per engine, rounding resets it before
    * it can compound through the normalization (the groupCentroids
    * contract). The start vector is uniform `1/√dim` (exact for
    * power-of-two dims); the final sign is fixed deterministically
    * (the largest-|component| coordinate — first index on ties — is
    * made positive).
    */
  def topComponent(vecs: DataFrame, vecCol: String, iters: Int = 3,
      decimals: Int = 6): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(decimals >= 1 && decimals <= 9, s"decimals in [1, 9], got $decimals")
    val spark = vecs.sparkSession
    def rnd(x: Double): Double = graft.queries.Qf.droundD(x, decimals)
    // per-dim mean: model-sized posexplode agg, one collect
    val mu = vecs.select(posexplode(col(vecCol)).as(Seq("__p", "__v")))
      .groupBy(col("__p")).agg(avg(col("__v")).as("__m"))
      .collect().map(r => r.getInt(0) -> rnd(r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    val dim = mu.length
    require(dim > 0, "empty input: no vectors to decompose")
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val vLit = array(v.map(lit).toIndexedSeq: _*)
      // ⟨μ, v⟩ folded left in index order — the oracle replays the order
      val muDotV = mu.zip(v).foldLeft(0.0) { case (a, (m, w)) => a + m * w }
      val c = dotFD(col(vecCol), vLit) - lit(muDotV)
      val per = vecs.select(c.as("__c"), posexplode(col(vecCol)).as(Seq("__p", "__x")))
        .groupBy(col("__p"))
        .agg(sum(col("__x") * col("__c")).as("__xy"), sum(col("__c")).as("__sc"))
        .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2))))
        .sortBy(_._1).map(_._2)
      val y = per.zipWithIndex.map { case ((xy, sc), j) => rnd(xy - mu(j) * sc) }
      val nrm = math.sqrt(y.foldLeft(0.0)((a, x) => a + x * x))
      require(nrm > 0, "degenerate corpus: centered data is all-zero")
      v = y.map(x => rnd(x / nrm))
    }
    // deterministic sign: the largest-|comp| coordinate (first on ties)
    // points positive; `+ 0.0` collapses −0.0 so both engines emit the
    // same zero bit pattern
    val lead = v.indices.maxBy(j => (math.abs(v(j)), -j))
    val sgn = if (v(lead) < 0) -1.0 else 1.0
    val signed = v.map(x => x * sgn + 0.0)
    import spark.implicits._
    mu.zip(signed).zipWithIndex
      .map { case ((m, w), j) => (j, m, w) }.toSeq
      .toDF("pos", "mu", "comp")
  }

  /** The second half of All-but-the-Top: `x' = x − μ − v·⟨x−μ, v⟩` —
    * remove the mean and the top component's projection, per row, zero
    * shuffle (μ and v ride as array literals; the projection is the
    * fused kernel). Output replaces `vecCol` with a double array; pass
    * [[topComponent]]'s table split into its two arrays.
    */
  def removeTopComponent(vecs: DataFrame, vecCol: String,
      mu: Array[Double], comp: Array[Double], decimals: Int = 6): DataFrame = {
    require(mu.length == comp.length && mu.nonEmpty, "mu/comp must align")
    val muLit = array(mu.map(lit).toIndexedSeq: _*)
    val compLit = array(comp.map(lit).toIndexedSeq: _*)
    val muDotV = mu.zip(comp).foldLeft(0.0) { case (a, (m, w)) => a + m * w }
    val c = dotFD(col(vecCol), compLit) - lit(muDotV)
    vecs.withColumn(vecCol,
      zip_with(
        zip_with(col(vecCol).cast("array<double>"), muLit, (x, m) => x - m),
        compLit,
        (xc, w) => graft.queries.Qf.dround(xc - w * c, decimals)))
  }

  /** SemDeDup-style semantic deduplication (public method: Abbas et al.
    * 2023, arXiv:2303.09540): k-means-cluster the embeddings, then look
    * for near-duplicates only WITHIN clusters — pairwise cosine over a
    * cluster-equi-join instead of the quadratic all-pairs sweep. A vector
    * is dropped when a lower-id vector in a shared cluster has cosine
    * ≥ `tau` (deterministic keep-lowest-id policy).
    *
    * `nprobe`-way soft assignment (each vector lands in its `nprobe`
    * nearest clusters) recovers pairs that a hard k-means boundary would
    * split — measured 0.37 → 0.95 dropped-id recall at k=12/nprobe=3 on
    * the sf0.001 fixture (gated in AccuracySpec). Precision is exactly 1
    * by construction: every within-cluster pair is a true pair.
    *
    * Scale shape: training touches only k×(dim+1) partial sums
    * ([[IvfIndex.train]]); the candidate join is an equi-join on the
    * cluster id — Σ(cluster size²) work, co-partitioned by the shuffle,
    * never all-pairs. k grows with corpus size to bound cluster sizes;
    * AQE splits skewed clusters at runtime.
    */
  /** [[semDedup]] with the cluster COUNT derived from a target cluster
    * SIZE — the scale-honest parameterization: candidate work is
    * Σ(cluster²) ≈ n·size·nprobe², so holding `targetClusterSize` fixed
    * keeps per-cluster work constant as the corpus grows (k ∝ n), where
    * a fixed k degrades quadratically. Costs one count() of the corpus.
    */
  def semDedupAuto(emb: DataFrame, idCol: String, vecCol: String,
      targetClusterSize: Int, iters: Int, nprobe: Int, tau: Double): DataFrame = {
    val n = emb.count()
    val k = math.max(2, math.ceil(n.toDouble / targetClusterSize).toInt)
    semDedup(emb, idCol, vecCol, k, iters, nprobe, tau)
  }

  /** The probe-cell pair join runs over one representative per DISTINCT
    * vector value, never over raw rows: an embedding corpus degenerated
    * by exact-duplicate vectors (the boilerplate pathology) would
    * otherwise concentrate every copy into the same probe cells and
    * blow the self-join up quadratically inside single cells. The
    * collapse is EXACT — the dropped set is provably the one the raw
    * join produces:
    *   - identical vectors share every probe cell and score cosine 1,
    *     so a member is within-group-dropped iff a smaller member
    *     exists (⟺ group rep < member; guarded by the group''s own
    *     self-cosine so zero/NaN vectors keep their raw behavior);
    *   - a cross-group pair shares cells and scores exactly like its
    *     representatives (both are functions of the vector values
    *     alone), so member m of group B is dropped via group A iff
    *     some a∈A < m ⟺ rep(A) < m.
    * Grouping is BY VECTOR VALUE (map-side combined), not by digest —
    * no hash-collision risk, and the shuffle already carries one row
    * per distinct vector. Centroid training is untouched (full corpus),
    * so cluster assignments are identical to the previous behavior.
    */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, nprobe: Int, tau: Double): DataFrame = {
    val model = IvfIndex.train(emb, vecCol, k, iters)
    val groups = emb.groupBy(col(vecCol).as("__v"))
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__gsize"))
    val reps = groups.select(col("__rep"), col("__v"),
      explode(IvfIndex.assignClusters(col("__v"), model, nprobe)).as("__probe"))
    val a = reps.select(col("__probe"), col("__rep").as("__ra"), col("__v").as("__va"))
    val b = reps.select(col("__probe"), col("__rep").as("__rb"), col("__v").as("__vb"))
    val edges = a.join(b, Seq("__probe"))
      .filter(col("__ra") < col("__rb"))
      .filter(cosine(col("__va"), col("__vb")) >= tau)
      .select(col("__ra"), col("__rb")).distinct()
    val mem = emb.select(col(vecCol).as("__v"), col(idCol).as("__m"))
      .join(groups.select(col("__v"), col("__rep")), Seq("__v"))
      .select(col("__rep"), col("__m"))
    val within = mem
      .join(groups.filter(col("__gsize") >= 2)
        .filter(cosine(col("__v"), col("__v")) >= tau)
        .select(col("__rep")), Seq("__rep"))
      .filter(col("__m") =!= col("__rep"))
      .select(col("__m").as(idCol))
    val crossB = edges
      .join(mem.select(col("__rep").as("__rb"), col("__m")), "__rb")
      .filter(col("__m") > col("__ra")).select(col("__m").as(idCol))
    val crossA = edges
      .join(mem.select(col("__rep").as("__ra"), col("__m")), "__ra")
      .filter(col("__m") > col("__rb")).select(col("__m").as(idCol))
    val dropped = within.unionByName(crossB).unionByName(crossA)
      .distinct().withColumn("__dup", lit(true))
    emb.select(col(idCol),
        IvfIndex.assignCluster(col(vecCol), model).as("cluster"))
      .join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("__dup"), lit(true)).as("keep"))
  }
}
