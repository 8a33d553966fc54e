package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: repetition-based quality rules, benchmark
  * decontamination, keyword search, PII scrubbing, weighted sampling,
  * token-budget corpus mixing, passage-level exact dedup, and
  * context-window packing.
  *
  * Scale design (100 TB):
  *  - every operator is a declarative plan (explode + partial-agg
  *    shuffles on small keys, broadcast for model-sized sides) — no
  *    driver-side loops, no per-row UDFs;
  *  - decontamination broadcasts the BENCHMARK side (benchmarks are
  *    model-sized; the corpus streams past it);
  *  - packing is partitioned by a shard key — bin assignment is a
  *    running sum per shard, the only honest way to pack sequentially
  *    at scale without a global sort bottleneck.
  */
object CurationOps {

  /** Gopher-style repetition statistics per document: token counts,
    * unique-token ratio, most-frequent-bigram share, duplicate-trigram
    * share. High top-bigram / duplicate-trigram fractions flag the
    * degenerate repetitive text that length/stopword heuristics miss.
    *
    * Shape: every counter is PER-DOCUMENT, so the whole battery is one
    * pass of the fused [[graft.functions.RepetitionStats]] kernel —
    * per-row work at scan speed, ZERO shuffles at any corpus size (the
    * explode → (id, gram) groupBy alternative shuffles every gram of
    * the corpus twice). Gram fields are NULL for documents with too few
    * tokens, matching the LEFT JOIN shape of the oracle SQL.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.NgramExpressions.repetitionStats(col(textCol))
    docs.select(col(idCol),
      st.getField("n_tokens").as("n_tokens"),
      graft.queries.Qf.dround(st.getField("n_unique") / st.getField("n_tokens"), 4)
        .as("unique_ratio"),
      graft.queries.Qf.dround(st.getField("top_bigram_n") / st.getField("n_bigrams"), 4)
        .as("top_bigram_frac"),
      graft.queries.Qf.dround(
        (st.getField("n_trigrams") - st.getField("n_distinct_trigrams")) / st.getField("n_trigrams"), 4)
        .as("dup_trigram_frac"))
  }

  /** Benchmark decontamination: training documents sharing at least one
    * word `n`-gram with any benchmark document, with the count of
    * distinct shared grams. Grams are md5-hashed to fixed-width keys so
    * the join shuffles 8-byte hashes, not text; the benchmark gram set
    * is model-sized and BROADCAST — the corpus never shuffles.
    */
  def ngramOverlap(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(graft.functions.NgramExpressions.wordGramMd5s(col(textCol), n)).as("__h"))
    val benchGrams = grams(bench).select(col("__h")).distinct()
    grams(train).distinct()
      .join(broadcast(benchGrams), Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Bloom-filter decontamination: the constant-memory form of
    * [[ngramOverlap]] for when even the benchmark's distinct-gram SET is
    * too wide to broadcast exactly (many benchmarks × many grams). The
    * benchmark grams fold into a `util.sketch.BloomFilter` via
    * `df.stat.bloomFilter` (mergeable partial sketches — driver holds
    * one filter of `fpp`-sized bits, never the gram set), the corpus
    * probes it as a broadcast per-row predicate at scan speed.
    *
    * One-sided by construction: the flagged set is a SUPERSET of the
    * exact [[ngramOverlap]] answer (bloom filters have no false
    * negatives — a gate asserts this plus the false-positive budget).
    * Use where recall is the requirement (decontamination: dropping a
    * few extra training docs is cheap; leaking benchmark text is not).
    */
  def ngramOverlapBloom(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int, expectedGrams: Long, fpp: Double = 0.01): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol),
      explode(graft.functions.NgramExpressions.wordGramMd5s(col(textCol), n)).as("__h"))
    val filter = grams(bench).select(col("__h")).stat
      .bloomFilter("__h", expectedGrams, fpp)
    // shared codegen probe kernel (graft.functions.BloomMightContain):
    // the filter ships as a BROADCAST referenced from the expression
    // (TorrentBroadcast, once per executor — never the task binary),
    // and the probe stays inside whole-stage codegen — no UDF seam
    grams(train).distinct()
      .filter(graft.functions.BloomExpressions.mightContain(col("__h"), filter))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_flagged"))
  }

  /** Embedding-space decontamination — the SEMANTIC companion of
    * [[ngramOverlap]]/[[ngramOverlapBloom]] (d24): a corpus document is
    * contaminated when the cosine between its embedding and ANY
    * benchmark item's embedding reaches `threshold`. N-gram overlap
    * catches verbatim leakage; this catches the paraphrases,
    * translations, and re-formattings that share no surface n-grams —
    * the reason modern pipelines run BOTH checks before training.
    * Returns one row per contaminated document:
    * (idCol, bench_id, max_cos) with the smallest matching benchmark id
    * on a tied score (deterministic across partitionings).
    *
    * Scale shape: benchmark suites are model-sized (10³–10⁵ rows ×
    * ~64-1536 floats), so the bench side BROADCASTS and the 100 TB
    * corpus STREAMS past it through the fused float-dot kernel
    * ([[SimilarityOps.cosine]]) — scores are rounded once (engine-
    * stable), the per-document max is a map-side-combining aggregate
    * (the shuffle carries one row per document, and only until the
    * threshold filter prunes it), and nothing ever materializes the
    * corpus × benchmark pair set. For benchmark sets too large to
    * broadcast, pre-filter with the ANN index
    * ([[SimilarityOps.probeBucketedIndex]]) and rescore the candidates
    * here — same contract as every LSH→exact pipeline in this repo.
    */
  def semanticDecontamination(corpus: DataFrame, idCol: String, vecCol: String,
      bench: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
    val b = bench.select(col(benchIdCol).as("__bid"), col(benchVecCol).as("__bv"))
    c.crossJoin(broadcast(b))
      .select(col(idCol), col("__bid"),
        graft.queries.Qf.dround(
          SimilarityOps.cosine(col("__cv"), col("__bv")), 6).as("__cos"))
      // arg-max with deterministic tie-break: max on (score, -id) picks
      // the SMALLEST benchmark id among tied scores
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos").as("c"), (-col("__bid")).as("nb"))).as("__m"))
      .select(col(idCol), (-col("__m.nb")).as("bench_id"), col("__m.c").as("max_cos"))
      .filter(col("max_cos") >= threshold)
  }

  /** ANN-prefiltered [[semanticDecontamination]] — the documented scale
    * path made real, for benchmark suites too large to broadcast: the
    * bench set is coarse-quantized once (IVF cells, model-sized
    * centroid literal), each corpus document probes only its `nprobe`
    * nearest cells, and the exact rounded cosine + threshold + arg-max
    * run over those candidates with the identical contract as the
    * brute-force form. Both sides join on the CELL key — the bench
    * side is cell-partitioned at rest, the corpus side shuffles one
    * (id, vec, cell) row per probe — so nothing ever materializes the
    * corpus × bench pair set AND nothing broadcasts the bench.
    *
    * Recall: a contaminated pair is missed only when the matching
    * bench vector lies outside the document's `nprobe` nearest cells —
    * bounded in AccuracySpec against the exact form (precision is 1 by
    * construction: every emitted pair carries its exact cosine).
    */
  def semanticDecontaminationIvf(corpus: DataFrame, idCol: String,
      vecCol: String, bench: DataFrame, benchIdCol: String,
      benchVecCol: String, threshold: Double, model: IvfIndex.Model,
      nprobe: Int): DataFrame = {
    val b = bench.select(col(benchIdCol).as("__bid"), col(benchVecCol).as("__bv"),
      IvfIndex.assignCluster(col(benchVecCol), model).as("__cell"))
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"),
      explode(IvfIndex.assignClusters(col(vecCol), model, nprobe)).as("__cell"))
    c.join(b, Seq("__cell"))
      .select(col(idCol), col("__bid"),
        graft.queries.Qf.dround(
          SimilarityOps.cosine(col("__cv"), col("__bv")), 6).as("__cos"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos").as("c"), (-col("__bid")).as("nb"))).as("__m"))
      .select(col(idCol), (-col("__m.nb")).as("bench_id"), col("__m.c").as("max_cos"))
      .filter(col("max_cos") >= threshold)
  }

  /** BM25 keyword scoring: per-document score over a fixed term set.
    * Classic Robertson/Sparck-Jones idf `ln((N−df+0.5)/(df+0.5) + 1)`
    * with k1/b term saturation. The per-term document frequencies and
    * the corpus aggregates (N, avgdl) are one-row/model-sized frames
    * joined in as broadcasts; tf is an explode + partial-agg on
    * (doc, term) — the standard inverted-index build shape.
    */
  def bm25Scores(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val id = col(idCol)
    val lens = docs.select(id, TextOps.tokenCount(col(textCol)).cast("double").as("dl"))
    val corpus = lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = docs.select(id, explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(id, col("term")).agg(count(lit(1)).cast("double").as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    tf.join(broadcast(df_), Seq("term"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(corpus))
      // association mirrors the oracle SQL exactly (floating-point is not
      // associative; both sides must build the same expression tree):
      // idf * (tf * (k1+1)) / (tf + k1 * ((1-b) + (b * dl) / avgdl))
      .withColumn("__s",
        idf * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(id)
      .agg(sum(col("__s")).as("bm25_raw"))
  }

  /** PII scrubbing: masks email addresses and long digit runs, and
    * counts the masked occurrences. Pure codegen'd regexes — scan-speed,
    * zero shuffle; extend the pattern list for phone/IP/etc.
    */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val NumberPattern = "[0-9]{3,}"
  def piiScrub(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      NumberPattern, "<NUM>")
  def piiCounts(text: Column): (Column, Column) =
    (size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("int"),
      size(regexp_extract_all(regexp_replace(text, EmailPattern, "<EMAIL>"),
        lit(NumberPattern), lit(0))).cast("int"))

  /** Deterministic probability-proportional-to-size Bernoulli sample:
    * keep a row iff `hash(id) mod M  <  min(M, weight · scale)`. Pure
    * integer arithmetic on a stable md5-based hash — reproducible across
    * engines and partitionings (unlike `df.sample`), push-down-able as a
    * per-row predicate, zero state.
    */
  val SampleM: Long = 1000000L
  def weightedKeep(id: Column, weight: Column, scale: Long): Column =
    pmod(DedupOps.md5Hash32(id.cast("string"), ""), lit(SampleM)) <
      // multiply BEFORE casting so fractional weights keep their
      // probability (weight 0.5 → 0.5·scale, not 0)
      least(lit(SampleM), (weight * lit(scale)).cast("long"))

  /** Deterministic train/validation/test assignment: the id's stable
    * hash bucket (ppm of [[SampleM]]) routed through cumulative integer
    * thresholds. Same contract as [[weightedKeep]] — reproducible across
    * engines, partitionings and retries — and INDEPENDENT of corpus
    * membership: a document keeps its split as the corpus around it
    * grows, so yesterday's held-out set can never leak into tomorrow's
    * training run. Fractions become fixed-point ppm cut points (no
    * float rounding to diverge cross-engine); evaluation is a per-row
    * codegen hash + comparison chain — zero shuffle, zero state.
    * NULL id → NULL split (like [[weightedKeep]]'s NULL-drop): an
    * unidentifiable row must never silently land in the held-out set.
    */
  def splitAssign(id: Column, splits: Seq[(String, Double)],
      salt: String = "split"): Column = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) &&
        math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be positive and sum to 1: $splits")
    val ppm = splits.map { case (name, f) => (name, math.round(f * SampleM)) }
    val cuts = ppm.scanLeft(0L)(_ + _._2).tail // cumulative upper bounds
    val bucket = pmod(DedupOps.md5Hash32(id.cast("string"), salt), lit(SampleM))
    // last split is the CASE default so rounding slack can't drop a row;
    // the explicit NULL guard keeps a NULL bucket out of that default
    when(bucket.isNull, lit(null).cast("string")).otherwise(
      ppm.init.zip(cuts.init).foldRight(lit(ppm.last._1): Column) {
        case (((name, _), cut), els) => when(bucket < cut, lit(name)).otherwise(els)
      })
  }

  /** Temperature-scaled (α-smoothed) source sampling — the
    * multilingual mixture trick (XLM-R / mT5): raw source shares
    * p_i ∝ T_i are flattened to p_i^α (α < 1 upweights small sources,
    * α = 1 is proportional, α → 0 is uniform), then each source keeps
    * rows at `rate_i = min(1, B·q_i / T_i)` where q_i is the smoothed
    * share — expected kept tokens track the smoothed mixture under the
    * token budget B. Output: the SOURCE-sized rate table `(key,
    * n_tokens, smoothed share q, keep_ppm)`; membership composes via
    * [[weightedKeep]]'s stable-hash predicate at fixed-point ppm, so
    * the sample is reproducible across engines, partitionings and
    * retries ([[corpusMix]]'s contract with α-smoothing in front).
    *
    * Cross-engine determinism: α = 0.5 computes the smoothing with
    * `sqrt` (IEEE correctly-rounded in both engines — exact); other α
    * use `pow`, which is deterministic per libm build — pin rates by
    * persisting the table if bit-parity across engines matters there.
    * The ppm is rounded at the integer-ppm boundary (one `round`,
    * integral double, exact cast) rather than truncated, so both
    * engines derive the identical integer rate.
    *
    * Scale shape: the rate table is mixture-sized math over per-source
    * token counts (read them from the stats ledger at plan time — zero
    * corpus access, the d92 regime); the corpus itself only ever
    * streams past the broadcast rate table.
    */
  def temperatureSampleRates(tokenCounts: DataFrame, keyCol: String,
      tokensCol: String, budgetTokens: Long, alpha: Double = 0.5): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    val base = tokenCounts.select(col(keyCol),
      col(tokensCol).cast("long").as("n_tokens"))
    val smoothed =
      if (alpha == 0.5) sqrt(col("n_tokens").cast("double"))
      else pow(col("n_tokens").cast("double"), lit(alpha))
    // the normalizer sums floats in KEY order (ordered unbounded frame)
    // so the addition order — hence every last ulp of q — is identical
    // in any engine replaying the same definition; mixture-sized window
    base.withColumn("__q", smoothed)
      .withColumn("__qsum", sum(col("__q")).over(
        Window.orderBy(col(keyCol)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col(keyCol), col("n_tokens"),
        (col("__q") / col("__qsum")).as("q"),
        when(col("n_tokens") === 0, lit(0L)).otherwise(
          least(lit(SampleM),
            round(least(lit(1.0),
              lit(budgetTokens.toDouble) * (col("__q") / col("__qsum")) /
                col("n_tokens")) * lit(SampleM), 0).cast("long")))
          .as("keep_ppm"))
  }

  /** One FEEDBACK-derived mixture-reweighting step (the DoReMi lineage
    * — Xie et al. 2023's group-DRO update collapsed to a single
    * exponentiated-gradient step over a measurable proxy loss): score
    * every document under the corpus's own bigram LM
    * ([[bigramLmScore]] — the reference-model role), take each
    * source's mean NLL, and upweight sources by how much WORSE than
    * the corpus mean they score: `w_s ∝ share_s · exp(η · excess_s)`,
    * normalized. Harder-than-average sources (higher excess) gain
    * mixture mass — the "train more where the reference model is
    * perplexed" signal — while the share prior keeps a tiny source
    * from exploding. This is the missing third face of mixture
    * planning next to [[mixturePlan]]'s budget water-filling (static
    * weights → allocations) and [[temperatureMix]]'s α-smoothing
    * (counts → smoothed weights): feedback → weights.
    *
    * Scale shape: the scorer's two corpus passes dominate (count pass
    * + scoring pass, see bigramLmScore); everything after is one
    * mixture-sized aggregate — K rows for K sources. Cross-engine
    * determinism: per-doc NLLs are 4dp-rounded BEFORE the per-source
    * mean (the d34-pinned parity boundary), all later rounding at
    * `decimals`; docs the scorer excludes (no bigram) carry no signal
    * and are excluded from `n_docs` too, documented here.
    *
    * Output: `(srcCol, n_docs, avg_nll, excess, weight)` — weights sum
    * to 1 before rounding.
    */
  def mixtureReweight(docs: DataFrame, idCol: String, srcCol: String,
      textCol: String, eta: Double = 1.0, decimals: Int = 4): DataFrame =
    mixtureReweightScored(docs.select(col(idCol), col(srcCol)), idCol, srcCol,
      bigramLmScore(docs, idCol, textCol), eta, decimals)

  /** [[mixtureReweight]] over an ALREADY-SCORED per-doc table
    * (`idCol`, `avg_nll_raw`, ...) — the score-once/reuse-many face:
    * the reference-model pass is the only corpus-scale cost, so a
    * pipeline that also buckets (d67) or filters on the same scores
    * should compute them once and feed every consumer.
    */
  def mixtureReweightScored(docsSrc: DataFrame, idCol: String, srcCol: String,
      scored: DataFrame, eta: Double = 1.0, decimals: Int = 4): DataFrame = {
    require(eta >= 0, s"eta must be >= 0, got $eta")
    val perDoc = scored
      .select(col(idCol), graft.queries.Qf.dround(col("avg_nll_raw"), 4).as("__nll"))
    val bySrc = docsSrc.select(col(idCol), col(srcCol))
      .join(perDoc, Seq(idCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), avg(col("__nll")).as("__nll_s"))
    // mixture-sized from here (K rows): the corpus mean is the
    // doc-weighted mean of the per-source means — numerically the
    // all-docs mean, expressed over the K-row frame so no second
    // corpus-wide aggregate runs
    val tot = bySrc.agg(
      (sum(col("__nll_s") * col("n_docs")) / sum(col("n_docs"))).as("__mean"),
      sum(col("n_docs")).cast("double").as("__ndocs"))
    val weighted = bySrc.crossJoin(broadcast(tot))
      .select(col(srcCol), col("n_docs"), col("__nll_s"),
        (col("__nll_s") - col("__mean")).as("__excess"),
        (col("n_docs") / col("__ndocs") *
          exp(lit(eta) * (col("__nll_s") - col("__mean")))).as("__wraw"))
    val z = weighted.agg(sum(col("__wraw")).as("__z"))
    weighted.crossJoin(broadcast(z))
      .select(col(srcCol), col("n_docs").cast("int").as("n_docs"),
        graft.queries.Qf.dround(col("__nll_s"), decimals).as("avg_nll"),
        graft.queries.Qf.dround(col("__excess"), decimals).as("excess"),
        graft.queries.Qf.dround(col("__wraw") / col("__z"), decimals).as("weight"))
  }

  /** [[corpusMix]] with α-temperature smoothing: downsample each
    * source so expected kept tokens track the SMOOTHED mixture under
    * the budget. The corpus streams past the broadcast rate table;
    * membership is the stable-hash ppm predicate.
    */
  def temperatureMix(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, budgetTokens: Long, alpha: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col(srcCol))
      .agg(sum(TextOps.tokenCount(col(textCol)).cast("long")).as("__tot"))
    val rates = temperatureSampleRates(counts, srcCol, "__tot",
      budgetTokens, alpha).select(col(srcCol).as("__src_r"), col("keep_ppm"))
    // null-SAFE join (the leakageSafeSplit discipline): groupBy already
    // forms a NULL-source group with its own rate, so a NULL-source row
    // must sample at that rate — an equi-join would silently drop every
    // unattributable row from the mix
    docs.join(broadcast(rates), col(srcCol) <=> col("__src_r"))
      .drop("__src_r")
      .filter(pmod(DedupOps.md5Hash32(col(idCol).cast("string"), ""), lit(SampleM))
        < col("keep_ppm"))
  }

  /** LEAKAGE-SAFE split assignment: route every member of a duplicate
    * GROUP through the same train/val/test split. [[splitAssign]] hashes
    * the document id, so two near-copies of one page can land on
    * opposite sides of the train/test wall — the held-out set then
    * contains (near-)training data and every evaluation on it is
    * quietly inflated. This variant decides the split ONCE per group —
    * by the group's canonical representative, `min(id)` — and every
    * member inherits it. `keyCols` is whatever grouping the pipeline
    * already has: the d05 content digest, a d17/d66 dedup-cluster
    * label, a d57 canonical URL — any column(s) under which "same
    * content" collapses.
    *
    * Determinism contract matches [[splitAssign]]: the rep's stable
    * hash, fixed-point cut points — a group keeps its split as the
    * corpus grows, across engines, partitionings and retries, PROVIDED
    * ids are assigned monotonically (the usual case): `min(id)` is then
    * fixed at the group's first admission. A backfilled smaller id
    * would re-elect the rep and can flip the group's split — if ids
    * are not monotone, pass a content-derived id instead. A NULL
    * group key or NULL rep yields a NULL split (an unattributable row
    * must never silently land in the held-out set).
    *
    * Scale shape: one partial-agg `groupBy(keyCols) → min(id)` (the
    * group table is distinct-content-sized — NOT broadcastable at
    * corpus scale) and one shuffle hash join back on the group key;
    * the split expression evaluates once per GROUP, not per row.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, keyCols: Seq[String],
      splits: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must name at least one group column")
    val keyIsNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val reps = df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("__rep"))
      .select(keyCols.map(k => col(k).as(s"__k_$k")) :+
        when(keyIsNull, lit(null).cast("string"))
          .otherwise(splitAssign(col("__rep"), splits, salt)).as("split"): _*)
    // null-SAFE join: a NULL-keyed row must come back (with its NULL
    // split), not silently vanish from the corpus
    val cond = keyCols.map(k => df(k) <=> reps(s"__k_$k")).reduce(_ && _)
    df.join(reps, cond).drop(keyCols.map(k => s"__k_$k"): _*)
  }

  /** Token-budget corpus mixing: downsample each source to (at most) a
    * token budget, deterministically. Per-source keep rates derive from
    * per-source token totals — a model-sized aggregate broadcast back —
    * and membership is the same stable-hash predicate as
    * [[weightedKeep]], so the mix is reproducible across engines,
    * partitionings and retries. Rates are fixed-point (ppm) computed in
    * INTEGER arithmetic: `keep_ppm = min(M, B·M div total)` — no float
    * rounding to diverge cross-engine. The corpus itself never
    * shuffles; it streams past a broadcast rate table.
    */
  def corpusMix(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String, budgetTokens: Long): DataFrame = {
    val base = docs.select(col(srcCol), col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
    val rates = base.groupBy(col(srcCol))
      .agg(sum(col("n_tok")).as("__tot"))
      .withColumn("keep_ppm",
        least(lit(SampleM), expr(s"${budgetTokens * SampleM}L div __tot")))
      .select(col(srcCol), col("keep_ppm"))
    base.join(broadcast(rates), Seq(srcCol))
      .filter(pmod(DedupOps.md5Hash32(col(idCol).cast("string"), ""), lit(SampleM))
        < col("keep_ppm"))
  }

  /** Token-budget mixture plan — the per-source allocation table a
    * data-mixing run is configured from: given `(key, n_tokens,
    * weight)` rows, a total token budget, and a max-epochs cap,
    * allocate `budget` across sources ∝ weight, capping any source at
    * `maxEpochs × n_tokens` (re-seeing text beyond a few epochs stops
    * helping — the constraint every published mixture balances against).
    * Capping redistributes the surplus to the uncapped sources, which
    * may cap others in turn: classic WATER-FILLING, solved here in
    * closed form rather than by iteration. Sort sources by the level at
    * which each would cap, `r = capacity/weight`; for a cut after sorted
    * position i−1 the level is `λ = (B − Σ_{j<i} c_j)/(Σ_{j≥i} w_j)`,
    * and the true λ* is the unique candidate lying in its own bracket
    * `[r_{i−1}, r_i]` — one sorted prefix scan finds it, no loop. Then
    * `alloc = min(λ*·w, c)`. If the budget exceeds total capacity the
    * plan allocates every capacity and reports the shortfall instead of
    * silently over-sampling.
    *
    * Scale shape: the plan table is MIXTURE-sized (#sources — tens, not
    * billions), so the single-partition window over it is deliberate;
    * the corpus-scale work (per-source token counts) happens upstream —
    * at rest in the stats ledger, which is where [[d92]]'s conformance
    * form reads it from, with zero corpus access at plan time.
    *
    * Cross-engine determinism: with integral weights and capacities
    * (integer-valued doubles), every cumulative sum is exact, λ* is a
    * single division, and `alloc` a single multiply — the plan is
    * bit-identical across engines regardless of each engine's window
    * internals. `maxEpochs` with a short binary expansion (2.0, 1.5,
    * 2.5) keeps capacities integral-or-half-integral and preserves this.
    */
  def mixturePlan(sources: DataFrame, keyCol: String, tokensCol: String,
      weightCol: String, budgetTokens: Long, maxEpochs: Double): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    val base = sources.select(col(keyCol).as("mix_key"),
      col(tokensCol).cast("long").as("n_tokens"),
      col(weightCol).cast("double").as("weight"))
    // invalid weights would produce a plausible-looking but wrong plan
    // (the pageRank lesson) — validate loudly; model-sized collect
    val bad = base.filter(col("weight") <= 0 || col("weight").isNull ||
      col("n_tokens") < 0 || col("n_tokens").isNull).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"mixturePlan: source '${bad.head.get(0)}' has n_tokens=" +
          s"${bad.head.get(1)}, weight=${bad.head.get(2)} — weights must be " +
          "> 0 and token counts >= 0 (drop or fix the row; a silently " +
          "clamped weight would skew every other source's allocation)")
    val byLevel = Window.orderBy(col("r"), col("mix_key"))
    val prefix = byLevel.rowsBetween(Window.unboundedPreceding, -1)
    val all = byLevel.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val b = lit(budgetTokens.toDouble)
    val scanned = base
      .withColumn("capacity", lit(maxEpochs) * col("n_tokens"))
      .withColumn("r", col("capacity") / col("weight"))
      .withColumn("__cumc", coalesce(sum(col("capacity")).over(prefix), lit(0.0)))
      .withColumn("__cumw", coalesce(sum(col("weight")).over(prefix), lit(0.0)))
      .withColumn("__totc", sum(col("capacity")).over(all))
      .withColumn("__totw", sum(col("weight")).over(all))
      .withColumn("__rprev", lag(col("r"), 1).over(byLevel))
      .withColumn("__lam", (b - col("__cumc")) / (col("__totw") - col("__cumw")))
    // λ*: the unique candidate bracketed by its neighbours (budget-poor
    // mode only; budget-rich mode never reads it)
    val lam = scanned.agg(
      max(when(col("__lam") <= col("r") &&
        (col("__rprev").isNull || col("__rprev") <= col("__lam")), col("__lam")))
        .as("__lamstar"))
    scanned.crossJoin(broadcast(lam)) // 1-row plan scalar
      .withColumn("alloc_raw", when(col("__totc") <= b, col("capacity"))
        .otherwise(least(col("__lamstar") * col("weight"), col("capacity"))))
      .select(col("mix_key"), col("weight"), col("n_tokens"),
        // ROUND, not truncate: with half-integral capacities (maxEpochs
        // 1.5, odd n_tokens) a truncated report column would sit 0.5
        // BELOW the capacity the allocation math actually used, so a
        // capped row could show alloc_raw > capacity_tokens
        round(col("capacity"), 0).cast("long").as("capacity_tokens"),
        col("alloc_raw"),
        when(col("n_tokens") > 0, col("alloc_raw") / col("n_tokens"))
          .otherwise(lit(0.0)).as("epochs_raw"),
        (col("alloc_raw") >= col("capacity")).cast("int").as("capped"),
        greatest(b - col("__totc"), lit(0.0)).cast("long").as("budget_shortfall"))
  }

  /** Passage-level exact deduplication (the chunk-dedup pass big
    * pipelines run to strip boilerplate repeated ACROSS documents that
    * document-level dedup can't see): split each document into
    * non-overlapping `w`-token passages, keep each distinct passage only
    * at its first occurrence (min (doc_id, position) corpus-wide), and
    * rebuild the scrubbed text per document.
    *
    * Scale shape: winner selection is `groupBy(passage-hash) →
    * min(struct(id, pos))` — a partial aggregation that combines
    * map-side, so a boilerplate passage with 10⁹ copies never funnels
    * into one task (a `row_number` window over the hash WOULD — that is
    * the skew trap this avoids). Two data shuffles total (winner join on
    * the 8-byte hash, rebuild groupBy on id), each bounded by corpus
    * size — inherent, since the output IS the scrubbed corpus.
    */
  /** Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line-dedup
    * rule, cf. Wenzek et al. 2019 §3.1 / Penedo et al. 2023): split each
    * document into non-overlapping `w`-token lines and drop EVERY copy of
    * any line that occurs in at least `maxDf` distinct documents —
    * headers, nav bars, license blurbs. The complement of [[passageDedup]]:
    * that keeps the first occurrence of a duplicated passage; boilerplate
    * is noise in all its copies, so none survives.
    *
    * Scale shape: doc-frequency is a two-stage exact distinct count —
    * `(hash, id).distinct` dedupes with map-side partial aggregation
    * (a line with 10⁹ copies in one doc combines before the shuffle),
    * then a count per hash. The frequency table is distinct-line-sized,
    * NOT broadcastable at corpus scale, so it joins back on the 8-byte
    * hash as a shuffle join. Three shuffles (distinct, freq join,
    * rebuild groupBy), each bounded by corpus size.
    */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 12, maxDf: Int = 2): DataFrame = {
    val id = col(idCol)
    val spans = docs
      .select(id,
        explode(graft.functions.NgramExpressions.wordChunks(col(textCol), w)).as("__c"))
      .select(id, col("__c.pos").as("__pos"), col("__c.chunk").as("__chunk"),
        col("__c.h").as("__h"))
    val docFreq = spans.select(col("__h"), id).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    spans.join(docFreq, Seq("__h"))
      .withColumn("__keep", col("__df") < maxDf)
      .groupBy(id)
      .agg(
        count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("__keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        when(sum(when(col("__keep"), 1).otherwise(0)) === 0, lit(null).cast("string"))
          .otherwise(array_join(
            transform(
              array_sort(collect_list(when(col("__keep"), struct(col("__pos"), col("__chunk"))))),
              x => x.getField("__chunk")), " "))
          .as("text_clean"))
  }

  def passageDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame = {
    val id = col(idCol)
    val spans = docs
      .select(id,
        explode(graft.functions.NgramExpressions.wordChunks(col(textCol), w)).as("__c"))
      .select(id, col("__c.pos").as("__pos"), col("__c.chunk").as("__chunk"),
        col("__c.h").as("__h"))
    val winners = spans.groupBy(col("__h"))
      .agg(min(struct(id, col("__pos"))).as("__w"))
    spans.join(winners, Seq("__h"))
      .withColumn("__keep", col("__w") === struct(id, col("__pos")))
      .groupBy(id)
      .agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("__keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        when(sum(when(col("__keep"), 1).otherwise(0)) === 0, lit(null).cast("string"))
          .otherwise(array_join(
            transform(
              array_sort(collect_list(when(col("__keep"), struct(col("__pos"), col("__chunk"))))),
              x => x.getField("__chunk")), " "))
          .as("text_dedup"))
  }

  /** Laplace-smoothed bigram language-model cross-entropy per document —
    * the CCNet-style "how surprising is this text under the corpus's own
    * statistics" quality signal (low = fluent/common, high = garbled or
    * off-distribution). Score = mean over bigram positions of
    * `-ln((c(w1,w2) + 1) / (c(w1) + V))`.
    *
    * Scale shape: bigram extraction is a per-row `transform` (no
    * window/lag shuffle — positions never leave the row). The exploded
    * stream carries one extra TAIL row `(last_token, NULL)` per
    * document, so every token of every document appears in the `w1`
    * column — and ONE tiny (w1, w2)-count aggregation then yields all
    * three global tables: c2 (rows with w2 non-NULL), c1 = Σ_w2 c2,
    * and V = countDistinct(w1) over the aggregate itself (the oracle's
    * V counts ALL distinct tokens, including final and single-token-doc
    * tokens that never open a bigram — the tail rows are exactly those).
    * That removes the separate vocab pass: the corpus is scanned and
    * tokenized TWICE total (count pass + scoring pass), which is the
    * inherent floor — the scoring pass cannot begin until the count
    * tables derived from the first pass are built (measured: persisting
    * the exploded stream to share one tokenize is SLOWER at bench scale
    * than re-deriving it, see SCALE.md d34). Counts are partial-agg
    * shuffles on token keys; the per-bigram score table is
    * corpus-vocab-bounded and stays distributed (AQE broadcasts it when
    * small). Hot unigrams ("the") skew the c1 join; AQE skew-join
    * splits those at runtime.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val toks = docs.select(id, TextOps.tokens(col(textCol)).as("__l"))
    val stream = toks.filter(size(col("__l")) >= 1)
      .select(id, explode(expr(
        "transform(sequence(1, size(__l)), i -> struct(__l[i-1] AS w1, " +
          "CASE WHEN i < size(__l) THEN __l[i] ELSE NULL END AS w2))"))
        .as("__z"))
      .select(id, col("__z.w1").as("w1"), col("__z.w2").as("w2"))
    // ONE aggregation of the stream feeds c2, c1 AND vocab — the three
    // consumers share the identical exchange subplan, so the shuffle
    // (and the tokenize under it) materializes once (ReuseExchange)
    val aggT = stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
    val c2 = aggT.filter(col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("n").as("n2"))
    // c1(w1) = Σ_w2 c2(w1,w2): summing the bigram table reuses its
    // exchange instead of paying a second corpus scan + shuffle
    val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
    val vocab = aggT.agg(countDistinct(col("w1")).as("vocab"))
    // fold counts + smoothing into ONE per-bigram score table, so the
    // (large) occurrence stream pays a single join
    val bg = c2.join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        (-log((col("n2") + lit(1.0)) / (col("n1") + col("vocab")))).as("__nll"))
    stream.filter(col("w2").isNotNull)
      .join(bg, Seq("w1", "w2"))
      .groupBy(id)
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__nll")).as("avg_nll_raw"))
  }

  // ------------------------------------------------------------------
  // Bigram-LM ledger — the corpus LANGUAGE MODEL at rest (a
  // count-mergeable family, the stats/quantile/vocab regime applied
  // to the CCNet quality signal): rows are `(w1, w2, n)` — exactly
  // the one aggregate [[bigramLmScore]] derives its three tables
  // from, INCLUDING one tail row `(last_token, NULL)` per document,
  // so V = countDistinct(w1) over the ledger equals the from-scratch
  // pass's vocabulary (final and single-token-doc tokens never open a
  // bigram but must count toward V — the d34 invariant). Counts merge
  // by addition in BOTH directions: an advance tokenizes only the
  // batch and folds vocab²-bounded rows (the corpus is never
  // re-read — at 100 TB the corpus-wide count pass is the cost that
  // matters), and right-to-be-forgotten is exact subtraction with the
  // family's fail-loud-on-negative contract. Scoring an ingest batch
  // against the ledger is O(batch + model): "how fluent is this batch
  // under everything admitted so far", the d83 incremental-TF-IDF
  // regime applied to perplexity. Laplace smoothing makes
  // NOT-yet-admitted text scoreable too (the from-scratch form never
  // sees an unseen bigram; the ledger form is where smoothing earns
  // its keep): unseen (w1, w2) scores −ln(1/(c1(w1)+V)), unseen w1
  // scores −ln(1/V) — defined and bounded. `_GRAFT_BIGRAM_META`
  // persists the tokenizer tag: counts from different tokenizations
  // are incomparable, so drifted advances/probes fail loudly naming
  // both sides. Same staged-swap/lease/manifest + exactly-once
  // batchId discipline as every ledger family.
  // ------------------------------------------------------------------

  private val BigramParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "BIGRAM_META", "bigram ledger",
    "bigram counts from different tokenizations are incomparable")

  private val BigramSpec = Ledger.Spec("bigram ledger", Seq("w1", "w2"),
    Ledger.Merge.Sum("n"), Ledger.Retract.Negate, params = Some(BigramParams))

  /** The drift guard every bigram-LM probe runs: the sidecar must exist
    * and carry the caller's tokenizer.
    */
  private def requireBigramProbe(spark: org.apache.spark.sql.SparkSession,
      path: String, tokenizerId: String): Unit =
    BigramParams.check(spark, path, "probe", Seq("tokenizerId" -> tokenizerId),
      mustExist = true)

  /** The mergeable unit: `(w1, w2, n)` bigram counts with one
    * `(last_token, NULL)` tail row per document (see the family note
    * above — the tail rows carry V). Whitespace tokens, matching
    * [[bigramLmScore]]'s stream exactly.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(TextOps.tokens(col(textCol)).as("__l"))
      .filter(size(col("__l")) >= 1)
      .select(explode(expr(
        "transform(sequence(1, size(__l)), i -> struct(__l[i-1] AS w1, " +
          "CASE WHEN i < size(__l) THEN __l[i] ELSE NULL END AS w2))"))
        .as("__z"))
      .select(col("__z.w1").as("w1"), col("__z.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n"))

  /** Create/overwrite the bigram-LM ledger from an initial corpus. */
  def writeBigramLedger(docs: DataFrame, textCol: String, path: String,
      tokenizerId: String = "ws"): Unit =
    Ledger.create(docs.sparkSession, path, BigramSpec,
      bigramCounts(docs, textCol), Seq("tokenizerId" -> tokenizerId))

  /** Ledger ∪ batch counts, re-summed — lazily reads `path`; persist
    * to a NEW generation dir or use [[advanceBigramLedger]].
    */
  def mergeBigramLedger(batch: DataFrame, textCol: String, path: String,
      tokenizerId: String = "ws"): DataFrame = {
    BigramParams.check(batch.sparkSession, path, "merge",
      Seq("tokenizerId" -> tokenizerId))
    Ledger.merged(batch.sparkSession, path, BigramSpec,
      bigramCounts(batch, textCol))
  }

  /** Fold a batch into the at-rest counts IN PLACE (staged swap,
    * lease, manifest mode, exactly-once `batchId`). Only the batch is
    * tokenized; the merge is vocab²-bounded. A pre-sidecar ledger
    * adopts the caller's tag on first advance (trusted once).
    */
  def advanceBigramLedger(batch: DataFrame, textCol: String, path: String,
      tokenizerId: String = "ws", batchId: Option[String] = None): Unit =
    Ledger.advance(batch.sparkSession, path, BigramSpec, batchId,
      Seq("tokenizerId" -> tokenizerId))(bigramCounts(batch, textCol))

  /** Score a batch's documents against the AT-REST language model —
    * [[bigramLmScore]]'s output shape `(idCol, n_bigrams,
    * avg_nll_raw)` with c2/c1/V read from the ledger instead of
    * re-derived from the corpus. For batches already admitted (the
    * advance-before-probe discipline, d83's contract) every bigram is
    * present and the score equals the from-scratch pass exactly; for
    * un-admitted text the Laplace terms smooth unseen bigrams/tokens
    * (see the family note). Plan shape: the ledger-derived tables are
    * model-sized (AQE broadcasts them when small); the batch stream
    * pays two hash joins (c2 on (w1,w2), c1 on w1) and one broadcast
    * 1-row V — batch-proportional, zero corpus access.
    */
  def bigramScoreFromLedger(batch: DataFrame, idCol: String, textCol: String,
      path: String, tokenizerId: String = "ws"): DataFrame = {
    val spark = batch.sparkSession
    requireBigramProbe(spark, path, tokenizerId)
    // compaction-time model sidecar when present (see
    // [[compactBigramLedger]] / [[bindBigram]]): per-token sums and
    // the vocab total are READ, not recomputed. Same arithmetic on
    // integral counts → same hashes.
    val b = bindBigram(spark, path)
    val c2 = b.c2
    val c1 = bigramC1(b)
    val v = b.modelDir match {
      case Some(m) => LedgerGuard.readParquetSniffed(spark, s"$m/tot").select(col("vocab"))
      case None => b.led.agg(countDistinct(col("w1")).as("vocab"))
    }
    val id = col(idCol)
    val stream = batch.select(id, TextOps.tokens(col(textCol)).as("__l"))
      .filter(size(col("__l")) >= 2)
      .select(id, explode(expr(
        "transform(sequence(1, size(__l) - 1), i -> struct(__l[i-1] AS w1, " +
          "__l[i] AS w2))")).as("__z"))
      .select(id, col("__z.w1").as("w1"), col("__z.w2").as("w2"))
    stream.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v)) // 1-row aggregate
      .select(id,
        (-log((coalesce(col("n2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("n1"), lit(0L)) + col("vocab")))).as("__nll"))
      .groupBy(id)
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__nll")).as("avg_nll_raw"))
  }

  /** Jelinek-Mercer INTERPOLATED scoring from the SAME bigram ledger —
    * the CCNet-grade upgrade over [[bigramScoreFromLedger]]'s Laplace
    * form: `p(w2|w1) = λ2·p_ML(w2|w1) + λ1·p_uni(w2) + λ0/V`, so a
    * rare-but-fluent continuation is scored by the unigram channel
    * instead of flat add-one mass, and the uniform floor keeps wholly
    * unseen tokens finite. Everything comes from the one `(w1, w2, n)`
    * aggregate: bigram ML from the non-tail rows, UNIGRAM counts are
    * the per-w1 row sums (each token position contributes exactly one
    * w1 occurrence — tails included, which is why the family stores
    * them), N their total, V the distinct-w1 count. O(batch + model),
    * zero corpus access, same meta/tokenizer guards as the family.
    * Deterministic cross-engine: integer-valued ledger counts, single
    * divisions, fixed-λ multiply-adds in declaration order; the ln is
    * rounded at the query layer as usual.
    */
  def bigramScoreInterpolated(batch: DataFrame, idCol: String, textCol: String,
      path: String, lambda2: Double = 0.7, lambda1: Double = 0.25,
      lambda0: Double = 0.05, tokenizerId: String = "ws"): DataFrame = {
    require(lambda2 >= 0 && lambda1 >= 0 && lambda0 > 0 &&
      math.abs(lambda2 + lambda1 + lambda0 - 1.0) < 1e-9,
      s"λ must be a distribution with λ0 > 0 (the finite-score floor): " +
        s"($lambda2, $lambda1, $lambda0)")
    val spark = batch.sparkSession
    requireBigramProbe(spark, path, tokenizerId)
    // model sidecar when present: every recompute aggregation becomes
    // a read (see [[bindBigram]]; identical arithmetic)
    val b = bindBigram(spark, path)
    val c2 = b.c2
    val c1 = bigramC1(b)
    val uni = b.tok match {
      case Some(t) => t.select(col("tok").as("w1"), col("nu"))
      case None => b.led.groupBy(col("w1")).agg(sum(col("n")).as("nu"))
    }
    val nv = b.modelDir match {
      case Some(m) => LedgerGuard.readParquetSniffed(spark, s"$m/tot")
        .select(col("bigN").cast("double").as("bigN"),
          col("vocab").cast("double").as("vocab"))
      case None => b.led.agg(sum(col("n")).cast("double").as("bigN"),
        countDistinct(col("w1")).cast("double").as("vocab"))
    }
    val id = col(idCol)
    val stream = batch.select(id, TextOps.tokens(col(textCol)).as("__l"))
      .filter(size(col("__l")) >= 2)
      .select(id, explode(expr(
        "transform(sequence(1, size(__l) - 1), i -> struct(__l[i-1] AS w1, " +
          "__l[i] AS w2))")).as("__z"))
      .select(id, col("__z.w1").as("w1"), col("__z.w2").as("w2"))
    stream.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(uni.withColumnRenamed("w1", "w2"), Seq("w2"), "left")
      .crossJoin(broadcast(nv)) // 1-row aggregate
      .select(id,
        (-log(
          lit(lambda2) * coalesce(col("n2").cast("double") / col("n1"), lit(0.0)) +
          lit(lambda1) * coalesce(col("nu").cast("double") / col("bigN"), lit(0.0)) +
          lit(lambda0) / col("vocab"))).as("__nll"))
      .groupBy(id)
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__nll")).as("avg_nll_raw"))
  }

  /** Interpolated KNESER-NEY scoring from the SAME d90 ledger — the
    * smoothing the CCNet-class quality scorers actually use (Chen &
    * Goodman 1998 §2.7's interpolated KN, bigram order): absolute
    * discount `d` on seen bigrams, the freed mass routed per-w1 to the
    * CONTINUATION distribution pCont(w2) = N1+(·,w2)/N1+(··) — "how
    * many contexts does w2 complete" rather than raw frequency, the
    * property that keeps "Francisco" cheap outside "San Francisco".
    * Every model quantity derives from the ledger's (w1, w2, n) rows:
    * c(w1,w2), c(w1) as row sums, N1+(w1,·)/N1+(·,w2) as distinct
    * counts, N1+(··) as the distinct-bigram total, V from the tail
    * rows (the d34 invariant). A small uniform floor `alpha`/V keeps
    * unseen-everything finite (the d102 λ0 channel, same rationale).
    * O(batch + model), zero corpus access — the third scorer off one
    * at-rest store (Laplace d91, Jelinek-Mercer d102, KN this).
    */
  def bigramScoreKneserNey(batch: DataFrame, idCol: String, textCol: String,
      path: String, discount: Double = 0.75, alpha: Double = 0.05,
      tokenizerId: String = "ws"): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must be in (0,1), got $discount")
    require(alpha > 0 && alpha < 1,
      s"alpha must be in (0,1) — it is the finite-score floor: $alpha")
    val spark = batch.sparkSession
    requireBigramProbe(spark, path, tokenizerId)
    // model sidecar when present: every recompute aggregation becomes
    // a read (see [[bindBigram]]; identical arithmetic)
    val b = bindBigram(spark, path)
    val c2 = b.c2
    // ONE aggregation of c2 feeds both per-w1 tables (row sum + distinct
    // continuation count share the exchange) on the recompute path
    val byW1 = b.tok match {
      case Some(t) => t.filter(col("n1").isNotNull)
        .select(col("tok").as("w1"), col("n1"), col("n1fw"))
      case None => c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"),
        count(lit(1)).cast("double").as("n1fw"))
    }
    val byW2 = b.tok match {
      case Some(t) => t.filter(col("n1bw").isNotNull)
        .select(col("tok").as("w2"), col("n1bw"))
      case None => c2.groupBy(col("w2")).agg(count(lit(1)).cast("double").as("n1bw"))
    }
    val tot = b.modelDir match {
      case Some(m) => LedgerGuard.readParquetSniffed(spark, s"$m/tot")
        .select(col("n1tot").cast("double").as("n1tot"),
          col("vocab").cast("double").as("vocab"))
      case None => c2.agg(count(lit(1)).cast("double").as("n1tot"))
        // broadcast like every other 1-row scalar crossJoin site: the
        // plan choice must not be left to AQE
        .crossJoin(broadcast(
          b.led.agg(countDistinct(col("w1")).cast("double").as("vocab"))))
    }
    val id = col(idCol)
    val stream = batch.select(id, TextOps.tokens(col(textCol)).as("__l"))
      .filter(size(col("__l")) >= 2)
      .select(id, explode(expr(
        "transform(sequence(1, size(__l) - 1), i -> struct(__l[i-1] AS w1, " +
          "__l[i] AS w2))")).as("__z"))
      .select(id, col("__z.w1").as("w1"), col("__z.w2").as("w2"))
    val pc = coalesce(col("n1bw") / col("n1tot"), lit(0.0))
    val pkn = when(col("n1").isNotNull,
        greatest(coalesce(col("n2").cast("double"), lit(0.0)) - lit(discount),
          lit(0.0)) / col("n1") +
          lit(discount) * col("n1fw") / col("n1") * pc)
      .otherwise(pc)
    stream.join(c2, Seq("w1", "w2"), "left")
      .join(byW1, Seq("w1"), "left")
      .join(byW2, Seq("w2"), "left")
      .crossJoin(broadcast(tot)) // 1-row aggregate
      .select(id,
        (-log(lit(1.0 - alpha) * pkn + lit(alpha) / col("vocab"))).as("__nll"))
      .groupBy(id)
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        avg(col("__nll")).as("avg_nll_raw"))
  }

  /** Right-to-be-forgotten for the bigram ledger, by SUBTRACTION —
    * the [[retractFromQuantileLedger]] contract: exact (counts merge
    * both directions), caller supplies the forgotten documents'
    * text (counts are not id-attributed — the family's stated
    * boundary), emptied rows leave the store (a fully-departed w1
    * shrinks V, matching the from-scratch pass over the remainder),
    * and any count that would go negative fails loudly with the
    * ledger unchanged.
    */
  def retractFromBigramLedger(forgotten: DataFrame, textCol: String,
      path: String, tokenizerId: String = "ws",
      batchId: Option[String] = None): Unit =
    Ledger.retract(forgotten.sparkSession, path, BigramSpec, batchId,
      Seq("tokenizerId" -> tokenizerId))(bigramCounts(forgotten, textCol))

  /** Compact the bigram ledger IN PLACE: re-sum accreted duplicate
    * `(w1, w2)` rows and rewrite small files keyed for pruning — and
    * persist the DERIVED MODEL TABLES the scorers otherwise recompute
    * per probe (see [[writeBigramModel]]): compaction is the one
    * moment the whole store is being paid for anyway, so the per-token
    * sums/distinct-counts land at rest next to the rows they derive
    * from. The model lives in a `_GRAFT_BIGRAM_MODEL/` SUBDIRECTORY of
    * the new generation: invisible to parquet readers of the ledger
    * (underscore convention), atomic with the compacted rows (same
    * swap), and — because [[LedgerGuard.advanceInPlace]]'s sidecar
    * carry-forward copies only FILES — automatically DROPPED by any
    * later advance/retraction, so a probe can never bind a stale model
    * to fresher counts.
    */
  def compactBigramLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compactWith(spark, path, BigramSpec) { staging =>
      Ledger.writeSized(spark, path, BigramSpec,
        Ledger.fold(BigramSpec, Ledger.read(spark, path)), staging,
        targetFiles, maxRecordsPerFile)
      // derive the model from the rows JUST WRITTEN (read back, one
      // materialization) so model ≡ file contents by construction
      writeBigramModel(LedgerGuard.readParquetSniffed(spark, staging), staging)
    }

  /** Generation-scoped model subdirectory name (underscore-prefixed:
    * parquet readers of the generation never see it).
    */
  private val BigramModelDir = LedgerGuard.SidecarPrefix + "BIGRAM_MODEL"

  /** Persist the scorers' derived model tables under
    * `genDir/_GRAFT_BIGRAM_MODEL/`:
    *
    *  - `tok/` — one row per distinct token (every token occurs as a
    *    `w1` thanks to the tail rows): `nu` = Σn over w1=tok (unigram
    *    count, tails included — d102's channel), `n1` = Σn over
    *    NON-tail w1=tok (NULL when the token never opens a bigram —
    *    the scorers' left-join-miss semantics ride on that), `n1fw` =
    *    N1+(tok,·), `n1bw` = N1+(·,tok) (NULL when never a
    *    continuation).
    *  - `tot/` — one row: `bigN` = Σn (all rows), `vocab` = distinct
    *    tokens, `n1tot` = N1+(··) (distinct non-tail bigrams).
    *
    * All counts are stored INTEGRAL (longs where the scorers cast, so
    * sidecar-vs-recomputed arithmetic is bit-identical; `n1fw`/`n1bw`
    * stay the doubles the KN scorer uses directly). Tables are
    * vocab-bounded — model-sized, coalesced to single files.
    *
    * ONE aggregation derives the whole `tok` table: each `(w1, w2, n)`
    * row contributes a w1-keyed partial (nu, and the non-tail n1/n1fw)
    * and a w2-keyed partial (n1bw); `sum` over all-NULL groups stays
    * NULL, which is exactly the never-opens / never-continues
    * semantics above. `tot/` then folds the written `tok` file — two
    * small jobs total per rewrite.
    */
  private def writeBigramModel(counts: DataFrame, genDir: String): Unit = {
    val nullL = lit(null).cast("long")
    val nullD = lit(null).cast("double")
    val parts = counts.select(explode(array(
        struct(col("w1").as("tok"), col("n").as("nu"),
          when(col("w2").isNotNull, col("n")).as("n1"),
          when(col("w2").isNotNull, lit(1.0)).as("n1fw"),
          nullD.as("n1bw")),
        struct(col("w2").as("tok"), nullL.as("nu"), nullL.as("n1"),
          nullD.as("n1fw"),
          when(col("w2").isNotNull, lit(1.0)).as("n1bw"))))
        .as("p"))
      .filter(col("p.tok").isNotNull)
    parts.groupBy(col("p.tok").as("tok"))
      .agg(sum(col("p.nu")).as("nu"), sum(col("p.n1")).as("n1"),
        sum(col("p.n1fw")).as("n1fw"), sum(col("p.n1bw")).as("n1bw"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$genDir/$BigramModelDir/tok")
    val back = LedgerGuard.readParquetSniffed(counts.sparkSession, s"$genDir/$BigramModelDir/tok")
    back.agg(coalesce(sum(col("nu")), lit(0L)).as("bigN"),
        count(lit(1)).as("vocab"),
        // Σ n1fw (sum skips the NULLs of never-opening tokens) = the
        // distinct non-tail bigram count; integral-valued, exact
        coalesce(sum(col("n1fw")).cast("long"), lit(0L)).as("n1tot"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$genDir/$BigramModelDir/tot")
  }

  /** The model directory of the generation a READER binds, iff the
    * compaction-time sidecar is present AND complete (`tok/_SUCCESS`):
    * probes then skip every recompute aggregation. Model present also
    * certifies the generation's `(w1, w2)` rows are the compacted,
    * duplicate-free snapshot (any mutation goes through an advance,
    * which drops the subdirectory — see [[compactBigramLedger]]), so
    * the defensive re-sum of `c2` is skippable too.
    */
  private def readBigramModelDir(fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path): Option[String] = {
    try {
      val model = new org.apache.hadoop.fs.Path(gen, BigramModelDir)
      val complete =
        fs.exists(new org.apache.hadoop.fs.Path(model, "tok/_SUCCESS")) &&
          fs.exists(new org.apache.hadoop.fs.Path(model, "tot/_SUCCESS"))
      if (complete) Some(model.toString) else None
    } catch { case _: java.io.IOException => None }
  }

  /** The three scorers' ONE model-vs-recompute binding (the sidecar ≡
    * recomputed invariant lives here and in [[writeBigramModel]], not
    * in three per-scorer copies): ledger rows, the bound model `tok`
    * table when the compaction-time sidecar is present, and `c2` —
    * read straight off the rows when the model certifies the
    * duplicate-free compacted snapshot, defensively re-summed
    * otherwise (the tfidfAgainstLedgers contract).
    */
  private final case class BigramBinding(led: DataFrame,
      modelDir: Option[String], tok: Option[DataFrame], c2: DataFrame)

  private def bindBigram(spark: org.apache.spark.sql.SparkSession,
      path: String): BigramBinding = {
    // Resolve the readable generation ONCE and take both the ledger
    // rows and the model sidecar from that single directory: two
    // independent readablePath resolutions could — under keep-2
    // manifest retention with an advance completing in between — bind
    // the RETIRED generation's model to the NEW generation's rows and
    // score silently wrong, instead of the loud FileNotFound the
    // plan-vs-action caveat (readLedger's doc) accepts.
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = LedgerGuard.readablePath(fs, target)
    val led = LedgerGuard.readParquetSniffed(spark, gen.toString)
    val model = readBigramModelDir(fs, gen)
    val tok = model.map(m => LedgerGuard.readParquetSniffed(spark, s"$m/tok"))
    val c2 = model match {
      case Some(_) => led.filter(col("w2").isNotNull)
        .select(col("w1"), col("w2"), col("n").as("n2"))
      case None => led.filter(col("w2").isNotNull)
        .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("n2"))
    }
    BigramBinding(led, model, tok, c2)
  }

  /** c1(w1) = Σ non-tail n — tokens that never open a bigram MISS the
    * join (NULL n1 rows filtered on the model path ≡ the recompute
    * path's absent rows).
    */
  private def bigramC1(b: BigramBinding): DataFrame = b.tok match {
    case Some(t) => t.filter(col("n1").isNotNull)
      .select(col("tok").as("w1"), col("n1"))
    case None => b.c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like it is, `log w(x) = Σ_f count_f(x) ·
    * (ln p̂_target(f) − ln p̂_raw(f))`, over HASHED n-gram features
    * (unigrams + bigrams folded into `buckets` slots — the paper's
    * trick that makes both "LMs" a pair of fixed-size count tables
    * instead of open vocabularies). Laplace add-1 smoothing over the
    * bucket space on both sides, so unseen buckets are defined and the
    * ratio is bounded. Downstream, sample ∝ exp(log_weight) (Gumbel
    * top-k) to select target-like training data.
    *
    * Scale shape: the feature stream reuses the fused overlapping-gram
    * kernel (one pass, no gram strings); both count tables are ≤
    * `buckets` rows — MODEL-sized, so the log-ratio table broadcasts
    * and the corpus-side join is map-side; the per-doc sum is a
    * map-side-combining aggregate. Nothing shuffles but (bucket,
    * count) partials and one row per document.
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 1024, logDecimals: Int = 4): DataFrame = {
    import graft.functions.NgramExpressions.wordGramMd5s
    val id = col(idCol)
    def feats(df: DataFrame) = df.select(id,
        explode(concat(wordGramMd5s(col(textCol), 1), wordGramMd5s(col(textCol), 2)))
          .as("__h"))
      .select(id, (col("__h") % buckets).as("__f")) // md5-32 ≥ 0, % stays ≥ 0
    val tf = feats(target).groupBy(col("__f")).agg(count(lit(1)).as("__ct"))
    val rf = feats(raw).groupBy(col("__f")).agg(count(lit(1)).as("__cr"))
    val tTot = tf.agg(sum(col("__ct")).cast("double").as("__tt"))
    val rTot = rf.agg(sum(col("__cr")).cast("double").as("__rt"))
    // association mirrors the oracle SQL exactly (floats are not
    // associative): ln(ct+1) - ln(tt+B) - ln(cr+1) + ln(rt+B)
    val lr = tf.join(rf, Seq("__f"), "full_outer")
      .na.fill(0L, Seq("__ct", "__cr"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(rTot))
      .select(col("__f"),
        (log(col("__ct") + 1.0) - log(col("__tt") + buckets)
          - log(col("__cr") + 1.0) + log(col("__rt") + buckets)).as("__lr"))
    feats(raw).join(broadcast(lr), Seq("__f"))
      .groupBy(id)
      .agg(graft.queries.Qf.dround(sum(col("__lr")), logDecimals).as("log_weight"))
  }

  /** Gumbel-top-k importance RESAMPLING — the selection step DSIR runs
    * over [[dsirLogWeights]]: sampling n documents WITHOUT replacement
    * with probability ∝ exp(log_weight) is exactly "take the top n by
    * `log_weight + Gumbel(0,1) noise`" (the Gumbel-max trick), which
    * distributes as a bounded-heap top-n instead of a sequential
    * sampler. The noise is DETERMINISTIC — `g = −ln(−ln(u))`,
    * `u = (md5₃₂(id‖salt)+0.5)/2³²` — so retries, both engines, and
    * any partitioning draw the same sample; vary `salt` for a fresh
    * draw. Output: `(id, log_weight, gumbel_key)`, top n by rounded
    * key with the id tie-break.
    */
  def gumbelTopK(weighted: DataFrame, idCol: String, logWeightCol: String,
      n: Int, salt: String = "dsir", decimals: Int = 4): DataFrame = {
    val u = (DedupOps.md5Hash32(col(idCol).cast("string"), salt).cast("double")
      + 0.5) / lit(4294967296.0)
    val key = col(logWeightCol) - log(-log(u))
    weighted.select(col(idCol), col(logWeightCol),
        graft.queries.Qf.dround(key, decimals).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col(idCol)) // TakeOrdered heap, no global sort
      .limit(n)
  }

  /** One BPE-training iteration's merge-pair statistics (Sennrich et al.
    * 2016 §3.2): adjacent-symbol pair counts weighted by word frequency,
    * the quantity whose argmax is the next merge. Symbols here are
    * characters — the state of iteration 1; iterating means re-running
    * over a re-segmented vocab, and the SHAPE below is what makes that
    * affordable at corpus scale: the corpus collapses to its VOCAB
    * first (one token-count aggregation — the only corpus-sized
    * shuffle, map-side combined on hot words), and the pair explosion
    * runs over DISTINCT words only, so its cost is vocabulary-sized no
    * matter how many tokens the corpus holds. This is exactly why
    * production BPE trainers count words once and train on the
    * frequency table. Output: top `topN` `(pair, cnt)` by (count desc,
    * pair) — a deterministic total order, so the cut is portable.
    */
  def bpePairStats(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val vocab = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("__freq"))
    // sequence(1, len-1) guarded: Spark's sequence DESCENDS when start >
    // stop, so a 1-char word would yield [1, 0] instead of no pairs.
    val pairs = vocab
      .filter(length(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"), col("__freq"))
    pairs.groupBy(col("pair")).agg(sum(col("__freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")) // TakeOrdered heap, no global sort
      .limit(topN)
  }

  /** Unigram-LM vocabulary LEARNING — the training half of the d105
    * apply kernel (Kudo 2018 §3.2's EM procedure, the same
    * learn-then-apply pairing BPE has with d85/d86). Seed = every
    * single character plus the `seedSize` most frequent substrings up
    * to `seedMaxLen`, scores ∝ frequency; each EM round computes
    * per-piece EXPECTED counts by exact forward-backward over ALL
    * segmentations of each distinct word
    * ([[graft.functions.UnigramUtil.expectedCounts]] — sum-product in
    * log space, not Viterbi) weighted by word count, then renormalizes
    * (the multinomial M-step, so corpus log-likelihood is
    * non-decreasing round over round — the returned `lls` let callers
    * assert it). Final pruning keeps every single code point (the
    * segmentability guarantee the apply kernel's closure gate relies
    * on) plus the highest-probability multi-char pieces, renormalized.
    * Simplification vs Kudo's full trainer, documented: pruning is by
    * piece probability, not by per-piece likelihood-loss ranking, and
    * the seed is frequency-capped rather than suffix-array-complete.
    *
    * Scale shape: ONE corpus pass builds the `(word, count)` table
    * (the learnBpeMerges collapse); every EM pass maps that
    * VOCAB-SIZED table against a broadcast model and reduces
    * model-sized `(piece, expected-count)` partials — the corpus is
    * never re-read, and the driver holds only the model.
    *
    * `roundDecimals` (None = exact, the default every gate runs):
    * round the per-round expected counts and every log-prob at that
    * many decimals via the [[graft.queries.Qf.droundD]] IEEE
    * expression — the d34/s20/d105 oracle-parity discipline, which is
    * what lets the d106 conformance query hash-match a DuckDB replay
    * of the EM (rounding each round absorbs the forward-backward-vs-
    * brute-force and sum-order float divergence between engines).
    *
    * @return (vocab as (piece, logprob) sorted by piece,
    *         per-round corpus log-likelihoods)
    */
  def learnUnigramVocab(docs: DataFrame, textCol: String,
      seedMaxLen: Int = 4, seedSize: Int = 300, emRounds: Int = 3,
      finalSize: Int = 120, roundDecimals: Option[Int] = None)
      : (Seq[(String, Double)], Seq[Double]) = {
    val rd: Double => Double = x =>
      roundDecimals.fold(x)(d => graft.queries.Qf.droundD(x, d))
    require(seedMaxLen >= 2 && seedSize >= 1 && emRounds >= 1 && finalSize >= 1,
      s"invalid unigram-training parameters: seedMaxLen=$seedMaxLen " +
        s"seedSize=$seedSize emRounds=$emRounds finalSize=$finalSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .as[(String, Long)]
      .persist()
    try {
      // ONE driver job seeds the model: the char vocabulary and the
      // top-k substring candidates come back in a single two-leg union
      // collect over the persisted word table (the r15 shape ran them
      // as two sequential jobs — a driver-barrier latency each, which
      // host contention multiplied into the bench tail). The legs
      // share the word table's shuffle; both results are model-sized.
      val charLeg = words.toDF("w", "c")
        .select(explode(split(col("w"), "")).as("p"), col("c"))
        .filter(length(col("p")) === 1)
        .groupBy(col("p")).agg(sum(col("c")).as("n"))
        .select(lit(true).as("isChar"), col("p"), col("n"))
      val subLeg = words.flatMap { case (w, c) =>
        for {
          l <- 2 to math.min(seedMaxLen, w.length)
          i <- 0 to w.length - l
        } yield (w.substring(i, i + l), c)
      }.toDF("p", "c").groupBy(col("p")).agg(sum(col("c")).as("n"))
        .orderBy(col("n").desc, col("p")).limit(seedSize)
        .select(lit(false).as("isChar"), col("p"), col("n"))
      val seedRows = charLeg.unionAll(subLeg).collect()
      val chars = seedRows.filter(_.getBoolean(0))
        .map(r => (r.getString(1), r.getLong(2)))
      val subs = seedRows.filterNot(_.getBoolean(0))
        .map(r => (r.getString(1), r.getLong(2)))
      require(chars.length <= 512,
        s"unigram training: ${chars.length} distinct characters — the " +
          "single-char closure set must stay model-sized; use a " +
          "byte-level vocabulary for arbitrary-charset corpora")
      require(chars.nonEmpty,
        "unigram training: the corpus has no tokens — nothing to learn " +
          "from (an empty vocab would fail only later, at apply time)")
      val seedTot = (chars.iterator ++ subs.iterator).map(_._2).sum.toDouble
      var vocab: Seq[(String, Double)] = (chars ++ subs).toSeq
        .map { case (p, n) => (p, rd(math.log(n / seedTot))) }.sortBy(_._1)
      val lls = Seq.newBuilder[Double]
      (1 to emRounds).foreach { _ =>
        val vm = new java.util.HashMap[String, java.lang.Double](vocab.size * 2)
        vocab.foreach { case (p, lp) => vm.put(p, java.lang.Double.valueOf(lp)) }
        val vb = spark.sparkContext.broadcast(vm)
        val stats = words.mapPartitions { it =>
          val m = vb.value
          it.flatMap { case (w, c) =>
            val (ec, z) = graft.functions.UnigramUtil.expectedCounts(w, m, seedMaxLen)
            if (z == Double.NegativeInfinity) Iterator.empty // unsegmentable: skip
            else {
              import scala.jdk.CollectionConverters._
              ec.asScala.iterator.map { case (p, e) =>
                (false, p, e.doubleValue() * c) } ++ Iterator((true, "", z * c))
            }
          }
        }.toDF("isLL", "p", "v")
          .groupBy(col("isLL"), col("p")).agg(sum(col("v")).as("v"))
          .collect() // model-sized: |vocab| + 1 rows
        lls += stats.find(_.getBoolean(0)).map(_.getDouble(2)).getOrElse(0.0)
        val cnts = stats.filterNot(_.getBoolean(0))
          .map(r => r.getString(1) -> rd(r.getDouble(2))).toMap
        val total = cnts.values.sum
        vocab = vocab.flatMap { case (p, _) =>
          val e = cnts.getOrElse(p, 0.0)
          if (e > 0) Some(p -> rd(math.log(e / total)))
          // a zero-expectation single char keeps a floor so every word
          // stays segmentable (cannot trigger for corpus-derived seeds —
          // a char's own one-piece segmentations always carry mass)
          else if (p.codePointCount(0, p.length) == 1) Some(p -> -30.0)
          else None // EM support shrinkage: a dead piece never re-enters
        }
        // non-blocking executor-side release: the round is over and the
        // next broadcast is independent — the no-arg destroy() blocks
        // on cluster-wide removal, a driver barrier per EM round for
        // nothing (and its Boolean overload is private[spark])
        vb.unpersist(false)
      }
      val (singles, multis) = vocab.partition(
        p => p._1.codePointCount(0, p._1.length) == 1)
      val kept = singles ++ multis.sortBy { case (p, lp) => (-lp, p) }
        .take(math.max(0, finalSize - singles.size))
      val norm = math.log(kept.iterator.map { case (_, lp) => math.exp(lp) }.sum)
      (kept.map { case (p, lp) => (p, rd(lp - norm)) }.sortBy(_._1), lls.result())
    } finally { words.unpersist(false); () }
  }

  /** Default driver-collect bound for the tokenizer-learn local fast
    * path: below this many DISTINCT words the merge loop runs on the
    * driver (the [[GraphOps.pageRank]] small-graph precedent). 1M
    * words × ~100 B ≈ 100 MB of driver heap — a bound on a *driver
    * collect*, not on corpus size, so production keeps the default;
    * override via `spark.graft.smallTokenizerWords`.
    */
  val SmallTokenizerWords: Long = 1000000L

  private def smallTokenizerWords(spark: org.apache.spark.sql.SparkSession): Long = {
    val key = "spark.graft.smallTokenizerWords"
    spark.conf.getOption(key).fold(SmallTokenizerWords)(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException(s"$key must be a whole number of words, got '$v'")))
  }

  /** Spark's (and DuckDB's) string sort order is UTF-8 BINARY byte
    * order (`UTF8String.compareTo`); Java's `String.compareTo` is
    * UTF-16 code-unit order, which disagrees for code points above the
    * BMP vs U+E000..U+FFFF. The local merge loops must replay the
    * distributed argmax's tie order exactly, so compare encoded bytes.
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Per-code-point split, bit-faithful to the distributed path's
    * `regexp_extract_all(w, "[\s\S]", 0)`: run the SAME java.util.regex
    * pattern the executors run, so surrogate handling cannot diverge.
    */
  private val symSplitPattern = java.util.regex.Pattern.compile("[\\s\\S]")
  private def splitSyms(w: String): Array[String] = {
    val m = symSplitPattern.matcher(w)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toArray
  }

  /** Left-to-right non-overlapping merge — the replace-last fold the
    * distributed path runs as an `aggregate` HOF (see the invariant
    * note there: a just-merged `a+b` can never string-equal `a`).
    */
  private def mergeRewrite(syms: Array[String], a: String, b: String): Array[String] = {
    // a word with no adjacent (a, b) pair cannot change (the fold merges
    // only such pairs): hand its array back instead of rebuilding it —
    // most words, most rounds
    var j = 1
    while (j < syms.length && !(syms(j - 1) == a && syms(j) == b)) j += 1
    if (j >= syms.length) return syms
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** One corpus pass building the distinct `(word, count)` table, then
    * EITHER the collected array (≤ `bound` words — the local merge-loop
    * route) OR the vocab-sized `(cnt, syms)` frame localCheckpointed for
    * the distributed rounds. The persist makes the bound check and the
    * follow-up read share one corpus scan on both routes.
    */
  private def wordCountsOrFrame(docs: DataFrame, textCol: String)
      : Either[Array[(String, Long)], DataFrame] = {
    val bound = smallTokenizerWords(docs.sparkSession)
    val wc = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .persist()
    val nWords = wc.count() // materializes the cache for either route
    val res =
      if (nWords <= bound)
        Left(wc.collect().map(r => (r.getString(0), r.getLong(1))))
      else
        Right(wc.select(col("cnt"),
          regexp_extract_all(col("w"), lit("[\\s\\S]"), lit(0)).as("syms"))
          .localCheckpoint())
    wc.unpersist(false)
    res
  }

  /** Driver-side BPE merge loop — the distributed rounds' exact
    * semantics on the collected `(word, count)` table. Every pair
    * frequency is an exact Long sum (order-independent, so local ≡
    * distributed bit-for-bit); argmax ties break on (freq desc, lhs,
    * rhs) in UTF-8 byte order, the order the distributed
    * `orderBy(desc, a, b)` uses.
    */
  private[operators] def localBpeMerges(wordCounts: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long)] = {
    var ws: Array[(Long, Array[String])] =
      wordCounts.map { case (w, c) => (c, splitSyms(w)) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val freq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      ws.foreach { case (c, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          freq.update(k, freq.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (freq.isEmpty) done = true
      else {
        var bestA: String = null
        var bestB: String = null
        var bestF = Long.MinValue
        freq.foreach { case (k, f) =>
          val better = f > bestF || (f == bestF && {
            val ca = utf8Cmp(k._1, bestA)
            ca < 0 || (ca == 0 && utf8Cmp(k._2, bestB) < 0)
          })
          if (better) { bestA = k._1; bestB = k._2; bestF = f }
        }
        out += ((r, bestA, bestB, bestF))
        ws = ws.map { case (c, syms) => (c, mergeRewrite(syms, bestA, bestB)) }
        r += 1
      }
    }
    out.toSeq
  }

  /** Driver-side WordPiece merge loop — likelihood-gain argmax
    * `freq(ab) / (freq(a)·freq(b))` per round over the collected word
    * table. All frequencies are exact Long sums; the score is the same
    * double division of the same longs the distributed plan computes,
    * so the (score desc, lhs, rhs) order is bit-identical.
    */
  private[operators] def localWordPieceMerges(wordCounts: Array[(String, Long)],
      numMerges: Int): Seq[(Int, String, String, Long, Long, Long)] = {
    var ws: Array[(Long, Array[String])] =
      wordCounts.map { case (w, c) => (c, splitSyms(w)) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val symFreq = scala.collection.mutable.HashMap.empty[String, Long]
      val pairFreq = scala.collection.mutable.HashMap.empty[(String, String), Long]
      ws.foreach { case (c, syms) =>
        var i = 0
        while (i < syms.length) {
          symFreq.update(syms(i), symFreq.getOrElse(syms(i), 0L) + c)
          if (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            pairFreq.update(k, pairFreq.getOrElse(k, 0L) + c)
          }
          i += 1
        }
      }
      if (pairFreq.isEmpty) done = true
      else {
        var bestA: String = null
        var bestB: String = null
        var bestF = 0L
        var bestScore = Double.NegativeInfinity
        pairFreq.foreach { case (k, f) =>
          val score = f.toDouble /
            (symFreq(k._1).toDouble * symFreq(k._2).toDouble)
          val better = score > bestScore || (score == bestScore && {
            val ca = utf8Cmp(k._1, bestA)
            ca < 0 || (ca == 0 && utf8Cmp(k._2, bestB) < 0)
          })
          if (better) { bestA = k._1; bestB = k._2; bestF = f; bestScore = score }
        }
        out += ((r, bestA, bestB, bestF, symFreq(bestA), symFreq(bestB)))
        ws = ws.map { case (c, syms) => (c, mergeRewrite(syms, bestA, bestB)) }
        r += 1
      }
    }
    out.toSeq
  }

  /** Iterative BPE vocabulary LEARNING — the training loop d61's
    * one-round pair stats feed (Sennrich 2016 §3.2's learn-BPE
    * algorithm re-expressed for Spark). The scale discipline is the
    * word-count collapse: ONE corpus pass builds the `(word, count)`
    * table, and every merge round runs over that VOCAB-SIZED table — pair counting is a zip of adjacent
    * symbols weighted by word count, the argmax is a bounded 1-row
    * collect (count desc, then (first, second) byte order — the
    * deterministic tie the conformance oracle replays), and the merge
    * applies as a left-to-right non-overlapping rewrite of each word's
    * symbol array. The rewrite is a fold (replace-last when
    * `(last, cur) == (a, b)`) — provably equal to the sequential scan
    * because a just-merged symbol `a+b` can never string-equal `a` —
    * and runs as an interpreted `aggregate` HOF: documented against
    * the §7.3 rule, acceptable here because it touches vocab-sized
    * data once per round, never the corpus. Each round
    * localCheckpoints the rewritten table so lineage stays flat over
    * `numMerges` rounds. Returns the ordered merge list
    * `(rk, lhs, rhs, freq)` — rounds after pair exhaustion (every
    * word a single symbol) stop early.
    *
    * Small-vocab fast path (the pageRank local-route precedent): below
    * `spark.graft.smallTokenizerWords` distinct words the collected
    * table runs the merge loop on the driver — 2 jobs total instead of
    * `1 + 2·numMerges` driver barriers. Bit-identical by construction:
    * every statistic is an exact Long sum (order-independent), the
    * argmax tie order is replayed in UTF-8 byte order, and the symbol
    * split runs the same java.util.regex pattern (spec-pinned local ≡
    * distributed).
    */
  def learnBpeMerges(docs: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 1000, "numMerges must be in [1, 1000]")
    val spark = docs.sparkSession
    import spark.implicits._
    // symbols via regexp '[\s\S]' (code points, incl. newline) — the
    // exact per-char split the oracle's RE2 runs
    var words = wordCountsOrFrame(docs, textCol) match {
      case Left(wcRows) =>
        return localBpeMerges(wcRows, numMerges)
          .toDF("rk", "lhs", "rhs", "freq")
      case Right(frame) => frame
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val best = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("freq"))
        .orderBy(col("freq").desc, col("a"), col("b")) // TakeOrdered heap
        .limit(1)
        .collect() // bounded: the round's single winning pair
      if (best.isEmpty) done = true
      else {
        val (a, b, f) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        out += ((r, a, b, f))
        // left-to-right non-overlapping merge as a replace-last fold;
        // `get` (null on empty) keeps ANSI mode from throwing on []
        words = words.select(col("cnt"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, s) => when(
                get(acc, size(acc) - 1) === lit(a) && s === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq.toDF("rk", "lhs", "rhs", "freq")
  }

  /** TRUE WordPiece vocabulary learning (Schuster & Nakajima 2012; the
    * objective BERT's tokenizer was trained with): per round, merge the
    * adjacent symbol pair maximizing the LIKELIHOOD GAIN of a unigram
    * LM over the current segmentation — score(a,b) =
    * freq(ab) / (freq(a) · freq(b)) — not the raw pair frequency BPE
    * maximizes (Sennrich 2016). The two objectives genuinely disagree:
    * a pair of two very common symbols can have the highest count yet
    * a tiny score, while a rare-but-always-together pair scores near
    * its own inverse frequency (the spec pins a corpus where the two
    * argmaxes differ). Everything else reuses [[learnBpeMerges]]'s
    * scale shape: ONE corpus pass builds the vocab-sized (word, count)
    * table; each round is a symbol-frequency aggregate + a pair
    * aggregate over that table, a 1-row argmax collect (score desc,
    * then (lhs, rhs) byte order — the deterministic tie the DuckDB
    * oracle replays), and the same left-to-right non-overlapping
    * replace-last fold rewrite. Scores are IEEE doubles from exact
    * longs (< 2^53), so Spark and DuckDB order them identically.
    *
    * @return ordered merges (rk, lhs, rhs, freq, lhs_freq, rhs_freq) —
    *         all-integer output so the cross-engine hash is exact; the
    *         score is freq/(lhs_freq·rhs_freq) by construction.
    */
  def learnWordPieceMerges(docs: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1 && numMerges <= 1000, "numMerges must be in [1, 1000]")
    val spark = docs.sparkSession
    import spark.implicits._
    // small-vocab local route + bit-identity argument: see
    // [[learnBpeMerges]] (the score adds a double division of the same
    // exact longs — deterministic per pair on both routes)
    var words = wordCountsOrFrame(docs, textCol) match {
      case Left(wcRows) =>
        return localWordPieceMerges(wcRows, numMerges)
          .toDF("rk", "lhs", "rhs", "freq", "lhs_freq", "rhs_freq")
      case Right(frame) => frame
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Long, Long)]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      // current-segmentation symbol frequencies — the likelihood
      // denominator; vocab-sized (distinct symbols), recomputed per
      // round because each merge shifts mass from (a, b) to ab
      val symFreq = words
        .select(explode(col("syms")).as("s"), col("cnt"))
        .groupBy(col("s")).agg(sum(col("cnt")).as("f"))
      val pairs = words
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("freq"))
      val best = pairs
        .join(symFreq.select(col("s").as("a"), col("f").as("fa")), Seq("a"))
        .join(symFreq.select(col("s").as("b"), col("f").as("fb")), Seq("b"))
        .select(col("a"), col("b"), col("freq"), col("fa"), col("fb"),
          (col("freq").cast("double") /
            (col("fa").cast("double") * col("fb").cast("double"))).as("score"))
        .orderBy(col("score").desc, col("a"), col("b")) // TakeOrdered heap
        .limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val row = best.head // explicit select above fixes column order
        val (a, b) = (row.getString(0), row.getString(1))
        out += ((r, a, b, row.getLong(2), row.getLong(3), row.getLong(4)))
        words = words.select(col("cnt"),
          aggregate(col("syms"), array().cast("array<string>"),
            (acc, s) => when(
                get(acc, size(acc) - 1) === lit(a) && s === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(s)))).as("syms"))
          .localCheckpoint()
        r += 1
      }
    }
    out.toSeq.toDF("rk", "lhs", "rhs", "freq", "lhs_freq", "rhs_freq")
  }

  /** Context-window packing: assign documents to fixed-token-budget bins
    * greedily in id order WITHIN a shard partition (exclusive running
    * token sum ÷ context length). Packing is inherently sequential, so
    * the scale-honest form parallelizes across shards and packs within
    * each — one sort-based window per shard, no global sort.
    */
  def packBins(docs: DataFrame, shardCol: String, idCol: String,
      textCol: String, contextLen: Int): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(shardCol), col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("n_tok"))
      .withColumn("__cum_excl", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("__cum_excl") / contextLen).cast("int"))
  }

  // ------------------------------------------------------------------
  // Incremental corpus-stats LEDGER — at-rest per-source aggregates
  // (docs, tokens, chars) maintained by MERGING each ingested batch's
  // delta instead of recomputing over the whole corpus. The companion
  // to DedupOps' digest ledger: at 100 TB, "what does the corpus look
  // like now" must cost O(batch), not O(corpus). All three stats are
  // associative sums, so merge(ledger, delta(batch)) is EXACTLY equal
  // to recompute(old ∪ new) — d41 hash-checks the merged ledger
  // against the full-recompute oracle.
  // ------------------------------------------------------------------

  /** Per-key corpus statistics — the ledger's row shape (one row per
    * key: tiny at rest, partial-agg map-side combined in flight).
    */
  def corpusStats(df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))

  private def statsSpec(keyCol: String) = Ledger.Spec("stats ledger",
    Seq(keyCol), Ledger.Merge.Sum("n_docs", "n_tokens", "n_chars"),
    Ledger.Retract.Negate)

  /** Create/overwrite the stats ledger from an initial corpus. */
  def writeStatsLedger(df: DataFrame, keyCol: String, textCol: String,
      path: String): Unit =
    Ledger.create(df.sparkSession, path, statsSpec(keyCol),
      corpusStats(df, keyCol, textCol))

  /** Fold a new batch into the at-rest stats without touching the
    * original documents: union the ledger rows with the batch's delta
    * aggregate and re-sum per key. Keys new to this batch appear via
    * the union; the original corpus is never re-read.
    *
    * The result LAZILY READS `path` — persist it to a NEW generation
    * directory (writing back to `path` itself throws Spark's
    * cannot-overwrite-a-path-being-read error, or worse silently
    * corrupts through a path alias). For fixed-location ledgers use
    * [[advanceStatsLedger]], which stages and swaps for you.
    */
  def mergeStatsLedger(batch: DataFrame, keyCol: String, textCol: String,
      path: String): DataFrame =
    Ledger.merged(batch.sparkSession, path, statsSpec(keyCol),
      corpusStats(batch, keyCol, textCol))

  /** Merge `batch` into the ledger at `path` IN PLACE: the merged frame
    * is materialized to a staging sibling first, then swapped in with
    * filesystem renames, so the read and the overwrite never touch the
    * same files. Each RENAME is atomic on HDFS/local, but the swap is
    * two of them — a crash in between leaves the ledger parked at the
    * staging sibling; the next call (or reader that finds `path`
    * absent) self-heals by promoting it. On object stores, where rename
    * is copy+delete, prefer explicit generation dirs via
    * [[mergeStatsLedger]]. Concurrency and the full swap contract live
    * in [[LedgerGuard.advanceInPlace]] (per-path in-JVM lock + the
    * cross-JVM fail-fast lease); readers bind through
    * [[LedgerGuard.readLedger]]'s staging fallback and can only fail
    * transiently if a swap completes between bind and action.
    */
  def advanceStatsLedger(batch: DataFrame, keyCol: String, textCol: String,
      path: String, batchId: Option[String] = None): Unit =
    Ledger.advance(batch.sparkSession, path, statsSpec(keyCol), batchId)(
      corpusStats(batch, keyCol, textCol))

  /** Right-to-be-forgotten for the stats ledger, by SUBTRACTION — the
    * [[retractFromQuantileLedger]] contract: exact (all three stats
    * are sums, mergeable in both directions), the caller supplies the
    * forgotten rows with their ORIGINAL text (aggregates are not
    * id-attributed, so the ledger cannot reconstruct them — the
    * documented boundary the merge-only families share), keys whose
    * doc count reaches zero leave the ledger, and any stat that would
    * go negative — or a zero-doc key with leftover tokens/chars, which
    * means the forgotten text is not the admitted text — FAILS LOUDLY,
    * because clamping would silently skew every later corpus card.
    */
  def retractFromStatsLedger(forgotten: DataFrame, keyCol: String,
      textCol: String, path: String, batchId: Option[String] = None): Unit =
    Ledger.retract(forgotten.sparkSession, path, statsSpec(keyCol), batchId)(
      corpusStats(forgotten, keyCol, textCol))

  // ------------------------------------------------------------------
  // Distinct-content SKETCH ledger — at-rest per-key HLL sketches
  // (Spark's built-in Datasketches hll_* functions) maintained by
  // UNIONING each batch's delta sketch, the distinct-count companion
  // to the sum-mergeable stats ledger above. Sums answer "how much";
  // only a mergeable sketch answers "how many DISTINCT" in O(batch):
  // at 100 TB, "how many unique documents has ingest seen per source"
  // must not re-read the corpus, and keeping every digest at rest is
  // the (much heavier) dedup ledger's job. HLL register-wise max is
  // associative, so union(ledger, delta) covers exactly old ∪ new;
  // the ESTIMATE of a unioned sketch may differ from a single-pass
  // sketch at the estimator level (Datasketches invalidates the HIP
  // estimator on union and falls back to the composite one), which is
  // why the accuracy gate pins both merged-vs-single-pass closeness
  // and vs-exact error.
  // ------------------------------------------------------------------

  /** Per-key sketch row: exact doc count + an HLL sketch of
    * `distinctCol` (lgK=12 ⇒ ~1.6 KB dense, ~2.6% RSE). One row per
    * key — model-sized at rest, partial-agg map-side combined. The
    * creation-time lgK rides along as a column: sketches of different
    * lgK refuse to union (Spark's single-arg `hll_union_agg` throws),
    * so the ledger must remember its own precision — a later merge
    * builds its delta at the LEDGER's lgK, not at whatever the caller
    * happened to default to.
    */
  def corpusSketch(df: DataFrame, keyCol: String, distinctCol: Column,
      lgK: Int = 12): DataFrame =
    df.groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_docs"),
        hll_sketch_agg(distinctCol, lit(lgK)).as("hll"),
        min(lit(lgK)).as("lgk"))

  private def sketchSpec(keyCol: String) = Ledger.Spec("sketch ledger",
    Seq(keyCol), Ledger.Merge.Sketch(sum(col("n_docs")).as("n_docs"),
      hll_union_agg(col("hll")).as("hll"), min(col("lgk")).as("lgk")))

  /** Create/overwrite the sketch ledger from an initial corpus. */
  def writeSketchLedger(df: DataFrame, keyCol: String, distinctCol: Column,
      path: String, lgK: Int = 12): Unit =
    Ledger.create(df.sparkSession, path, sketchSpec(keyCol),
      corpusSketch(df, keyCol, distinctCol, lgK))

  /** Fold a batch's delta sketch into the at-rest ledger: union rows,
    * sum exact counts, HLL-union sketches per key. Same read-side
    * contract as [[mergeStatsLedger]] (binds through the staging
    * fallback; persist to a NEW generation dir, or use
    * [[advanceSketchLedger]] for fixed-location in-place swaps).
    */
  def mergeSketchLedger(batch: DataFrame, keyCol: String, distinctCol: Column,
      path: String, lgK: Int = 12): DataFrame =
    sketchMerged(Ledger.read(batch.sparkSession, path), batch, keyCol,
      distinctCol, lgK)

  private def sketchMerged(ledger: DataFrame, batch: DataFrame, keyCol: String,
      distinctCol: Column, lgK: Int): DataFrame = {
    // the delta MUST be sketched at the ledger's own lgK or the union
    // throws (HLL_UNION_DIFFERENT_LG_K) — the `lgK` parameter is only
    // the fallback for a ledger with zero rows (empty initial corpus).
    // One-row driver lookup against a model-sized table.
    val atRestLgK = ledger.select(col("lgk")).take(1).headOption
      .map(_.getInt(0)).getOrElse(lgK)
    Ledger.fold(sketchSpec(keyCol),
      ledger.unionByName(corpusSketch(batch, keyCol, distinctCol, atRestLgK)))
  }

  /** Merge `batch` into the sketch ledger at `path` IN PLACE — the same
    * staged-rename swap, lease, and self-heal as [[advanceStatsLedger]].
    */
  def advanceSketchLedger(batch: DataFrame, keyCol: String, distinctCol: Column,
      path: String, lgK: Int = 12, batchId: Option[String] = None): Unit =
    Ledger.advanceWith(batch.sparkSession, path, sketchSpec(keyCol), batchId)(()) {
      (stored, _) => sketchMerged(stored, batch, keyCol, distinctCol, lgK)
    }

  /** Readable view of the sketch ledger: per key, the exact doc count
    * and the approximate distinct count — the dedup-rate monitor
    * (n_docs far above approx_distinct ⇒ the ingest is re-seeing
    * content and the heavyweight dedup pass is overdue).
    */
  def sketchEstimates(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    LedgerGuard.readLedger(spark, path)
      .withColumn("approx_distinct", hll_sketch_estimate(col("hll")))
      .drop("hll", "lgk")

  /** Estimated distinct-content OVERLAP between every pair of ledger
    * keys, from the sketches alone — no corpus read: by
    * inclusion-exclusion, |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) with
    * the union taken register-wise (`hll_union`). The cross-source
    * contamination monitor: "how much of source A's content has source
    * B also shipped" for the cost of a self-join over one model-sized
    * row per key.
    *
    * Honest error bar: HLL gives RELATIVE error (~2.6% at lgK=12) on
    * each term, so the DIFFERENCE inherits an ABSOLUTE error of a few
    * percent of |A ∪ B| — a small overlap between two large sources
    * drowns in that noise. Readings are clamped at 0; near-zero means
    * "no material overlap", not an exact count. When a reading is
    * material, confirm with the exact machinery
    * ([[DedupOps.crossDedupPairs]] over the corpora themselves).
    */
  def sketchOverlap(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val led = LedgerGuard.readLedger(spark, path)
    val keyName = led.columns.head // ledger shape: key, n_docs, hll, lgk
    val a = led.select(col(keyName).as("key_a"), col("hll").as("__ha"))
    val b = led.select(col(keyName).as("key_b"), col("hll").as("__hb"))
    a.join(b, col("key_a") < col("key_b")) // model-sized × model-sized
      .select(col("key_a"), col("key_b"),
        greatest(lit(0L),
          hll_sketch_estimate(col("__ha")) + hll_sketch_estimate(col("__hb"))
            - hll_sketch_estimate(hll_union(col("__ha"), col("__hb"))))
          .as("approx_overlap"))
  }

  // ------------------------------------------------------------------
  // Quantile-histogram ledger — incremental per-key QUANTILES over a
  // growing corpus, the distribution companion to the sum-mergeable
  // stats ledger (which answers "how much") and the HLL sketch ledger
  // ("how many distinct"). "What is the p99 document length per
  // source, across everything ingest has ever admitted" must not
  // re-read the corpus; exact order statistics are not mergeable, but
  // a FIXED-BUCKETING histogram is: rows are `(key, qh_b, qh_c)` with
  // `qh_b = value >> shift` (arithmetic shift = floor division by
  // 2^shift — order-preserving for signed longs, so bucket ids sort
  // like the values; no prior min/max pass, no per-batch bucket
  // drift), and merging is count addition per (key, bucket).
  // DETERMINISTIC, unlike a KLL/t-digest: a probe's answer depends
  // only on the data and the shift, so incremental ≡ from-scratch
  // exactly and conformance is oracle-checkable, with the error bound
  // explicit and user-chosen (the true quantile lies INSIDE the
  // selected bucket — width 2^shift value units). The measure must be
  // integral — the q16b discipline: scale floats to integer units
  // first, which also makes the bound meaningful in those units.
  // The histogram is model-sized (keys × occupied buckets, ≤
  // value-range/2^shift each), so advance's re-aggregation is
  // model-cost, not corpus-cost — the stats-ledger regime, not d66's
  // per-doc assignments table. Self-describing: creation persists
  // (shift, keyCol, valueCol) in a `_GRAFT_QHIST_META` sidecar;
  // advances and probes validate against it and fail loudly naming
  // both sides — histograms bucketed at different shifts are
  // incomparable, and a silent mix would return plausible wrong
  // bounds. Same staged-swap/lease/manifest + exactly-once batchId
  // discipline as every other ledger family.
  // ------------------------------------------------------------------

  private val QhistParams = Ledger.Params(
    LedgerGuard.SidecarPrefix + "QHIST_META", "quantile ledger",
    "histograms bucketed differently are incomparable")

  private def qhistSpec(keyCol: String) = Ledger.Spec("quantile ledger",
    Seq(keyCol, "qh_b"), Ledger.Merge.Sum("qh_c"), Ledger.Retract.Negate,
    params = Some(QhistParams))

  private def qhistParams(shift: Int, keyCol: String, valueCol: String) =
    Seq("shift" -> shift, "keyCol" -> keyCol, "valueCol" -> valueCol)

  /** The persisted (shift, keyCol, valueCol) of a quantile ledger — a
    * probe cannot recover the shift any other way, and guessing would
    * return plausible wrong bounds.
    */
  private def qhistMeta(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String): (Int, String, String) = {
    val kv = QhistParams.need(spark, path, op)
    (kv("shift").toInt, kv("keyCol"), kv("valueCol"))
  }

  /** Per-key bucket counts of an integral measure: `(key, qh_b, qh_c)`
    * with `qh_b = value >> shift`. The mergeable unit — and the probe's
    * input shape.
    */
  def longHistogram(df: DataFrame, keyCol: String, valueCol: String,
      shift: Int): DataFrame = {
    require(shift >= 0 && shift < 63, "shift must be in [0, 63)")
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType)
        .contains(df.schema(valueCol).dataType),
      s"$valueCol must be integral (fixed power-of-two buckets); " +
        "scale floats to integer units first")
    df.groupBy(col(keyCol),
        shiftright(col(valueCol).cast("long"), shift).as("qh_b"))
      .agg(count(lit(1)).as("qh_c"))
  }

  /** Create/overwrite the quantile ledger from an initial corpus. */
  def writeQuantileLedger(df: DataFrame, keyCol: String, valueCol: String,
      shift: Int, path: String): Unit =
    Ledger.create(df.sparkSession, path, qhistSpec(keyCol),
      longHistogram(df, keyCol, valueCol, shift),
      qhistParams(shift, keyCol, valueCol))

  /** Ledger ∪ batch, re-summed per (key, bucket) — lazily reads `path`;
    * persist to a NEW generation dir (see [[mergeStatsLedger]]) or use
    * [[advanceQuantileLedger]] for fixed-location ledgers.
    */
  def mergeQuantileLedger(batch: DataFrame, keyCol: String, valueCol: String,
      shift: Int, path: String): DataFrame = {
    QhistParams.check(batch.sparkSession, path, "merge",
      qhistParams(shift, keyCol, valueCol))
    Ledger.merged(batch.sparkSession, path, qhistSpec(keyCol),
      longHistogram(batch, keyCol, valueCol, shift))
  }

  /** Fold a batch into the at-rest histogram IN PLACE (staged swap,
    * lease, manifest-mode, exactly-once `batchId` — the
    * [[advanceStatsLedger]] contract). A pre-sidecar ledger adopts the
    * caller's parameters on first advance (trusted once).
    */
  def advanceQuantileLedger(batch: DataFrame, keyCol: String, valueCol: String,
      shift: Int, path: String, batchId: Option[String] = None): Unit =
    Ledger.advance(batch.sparkSession, path, qhistSpec(keyCol), batchId,
      qhistParams(shift, keyCol, valueCol))(
      longHistogram(batch, keyCol, valueCol, shift))

  /** Quantile BOUNDS from the at-rest histogram, no corpus access: for
    * each key and probability, the `percentile_disc`-selected value
    * (rank `ceil(p·n)` in ascending order) provably lies in
    * `[lo, hi]` — the selected bucket's bounds, width `2^shift`.
    * Output: `(key, prob, lo, hi)`, one row per key × prob. The
    * cumulative window runs over the MODEL-SIZED histogram (keys ×
    * occupied buckets), never data — low-cardinality keys are fine
    * here, unlike a data-sized window.
    */
  def quantilesFromLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      "probs must be in (0, 1]")
    val (shift, keyCol, _) = qhistMeta(spark, path, "probe")
    val led = LedgerGuard.readLedger(spark, path)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("qh_b"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
    val cum = led
      .withColumn("__endc", sum(col("qh_c")).over(w))
      .withColumn("__n", sum(col("qh_c")).over(wAll))
    val ps = probs.map(p => struct(lit(p).as("prob"))).toArray
    cum.select(col(keyCol), col("qh_b"), col("__endc"), col("__n"),
        explode(array(ps: _*)).as("__p"))
      .select(col(keyCol), col("qh_b"), col("__endc"), col("__n"),
        col("__p.prob").as("prob"))
      .filter(col("__endc") >= ceil(col("prob") * col("__n")))
      .groupBy(col(keyCol), col("prob"))
      .agg(min(col("qh_b")).as("__b"))
      .select(col(keyCol), col("prob"),
        shiftleft(col("__b"), shift).as("lo"),
        (shiftleft(col("__b") + 1L, shift) - 1L).as("hi"))
  }

  /** Pairwise Jensen-Shannon divergence (in bits, [0,1]) between the
    * per-group unigram TOKEN distributions — the lexical-drift
    * complement of [[histogramDrift]]'s numeric KS/TV/PSI: "how far
    * apart do two corpus sources speak?", the standard diagnostic
    * before choosing mixture weights (d92/d101) or flagging a crawl
    * snapshot whose vocabulary shifted.
    *
    * Computed WITHOUT a full-outer join over the pair-union vocabulary:
    * JS(P,Q) = ½·Σ_{x: p,q>0} [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
    *         + ½·ln2·[(1 − Σ_{both} p) + (1 − Σ_{both} q)],
    * because every one-sided token contributes exactly p·ln2 (its
    * mixture mass is p/2) — so the shared-token INNER join plus each
    * side's shared-mass total carries the whole sum. Result divided by
    * ln2 → bits, 1.0 = disjoint vocabularies.
    *
    * Scale shape: one corpus pass to (group, token) counts (map-side
    * combined), token probabilities via a broadcast of the K group
    * totals, then a self-join keyed on TOKEN (vocab-sized state, ≤ K²/2
    * rows per shared token) with partial aggregation down to K·(K−1)/2
    * result rows. The corpus text never shuffles; only the vocab does.
    */
  def sourceUnigramJsd(docs: DataFrame, groupCol: String, textCol: String,
      decimals: Int = 4): DataFrame = {
    val counts = docs.select(col(groupCol).as("__g"),
        explode(TextOps.tokens(col(textCol))).as("__tok"))
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("__g")).agg(sum(col("__c")).as("__n"))
    val dist = counts.join(broadcast(totals), "__g")
      .select(col("__g"), col("__tok"),
        (col("__c").cast("double") / col("__n")).as("__p"))
    val a = dist.select(col("__g").as("src1"), col("__tok"), col("__p").as("__pa"))
    val b = dist.select(col("__g").as("src2"), col("__tok"), col("__p").as("__pb"))
    val pairs = a.join(b, a("__tok") === b("__tok") && col("src1") < col("src2"))
    // a pair with NO shared token has no inner-join row — it must still
    // report (at the maximum, 1 bit), so the result attaches to the
    // complete K·(K−1)/2 pair grid built from the model-sized group list
    val groups = totals.select(col("__g"))
    val allPairs = groups.select(col("__g").as("src1"))
      .join(groups.select(col("__g").as("src2")), col("src1") < col("src2"))
    jsdBits(pairs, Seq("src1", "src2"), allPairs, decimals)
  }

  /** The JSD-in-bits fold both drift faces share (`sourceUnigramJsd`
    * live, `SketchOps.vocabLedgerJsd` at rest): given the SHARED-token
    * inner-join rows `keys ++ (__pa, __pb)` and the COMPLETE key frame,
    * aggregate the both-present term + each side's shared mass, attach
    * to every key (absent = fully disjoint = 1 bit), and emit
    * `keys ++ js_bits`. One implementation so the live and at-rest
    * numbers can never drift apart.
    */
  private[operators] def jsdBits(pairs: DataFrame, keyCols: Seq[String],
      allKeys: DataFrame, decimals: Int): DataFrame = {
    val ln2 = math.log(2d)
    val shared = pairs
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum(col("__pa") * log(lit(2d) * col("__pa") / (col("__pa") + col("__pb"))) +
          col("__pb") * log(lit(2d) * col("__pb") / (col("__pa") + col("__pb"))))
          .as("__both"),
        sum(col("__pa")).as("__shp"), sum(col("__pb")).as("__shq"))
    allKeys.join(shared, keyCols, "left")
      .select(keyCols.map(col) :+
        graft.queries.Qf.dround(
          (lit(0.5) * coalesce(col("__both"), lit(0d)) +
            lit(0.5 * ln2) * ((lit(1d) - coalesce(col("__shp"), lit(0d))) +
              (lit(1d) - coalesce(col("__shq"), lit(0d))))) / ln2,
          decimals).as("js_bits"): _*)
  }

  /** Deterministic bottom-k sample — the classic bottom-k sketch run on
    * a hash PRIORITY instead of an RNG: sample = the k smallest
    * `md5Hash32(id·salt)` values (id tiebreak), so membership is a pure
    * function of (salt, id) — reproducible across engines, retries and
    * partitionings, like [[weightedKeep]]/[[splitAssign]], but with an
    * EXACT size k instead of a probabilistic rate. With `weightCol`,
    * the Efraimidis-Spirakis (2006) weighted form on hash-derived
    * uniforms: u = (h+1)/2³², key = u^(1/w), keep the k LARGEST — a
    * weight-proportional sample without replacement, still fully
    * deterministic.
    *
    * Mergeable by construction: bottom-k(A ∪ B) =
    * bottom-k(bottom-k(A) ∪ bottom-k(B)) for any fixed per-id priority
    * — the property [[advanceSampleLedger]] rests on, and why the
    * at-rest state is k rows, not a corpus. Ids are assumed unique (they
    * are keys); re-DELIVERED ids across ledger advances dedup in the
    * merge, where the duplicate can actually arise.
    *
    * Scale: priorities are per-row codegen; the top-k runs through the
    * bounded heap (map-side ≤k partial buffers), never a global sort.
    * Output: `(idCol, pr, rk)` — pr is the hash priority (uniform) or
    * the E-S key rounded to 6 (weighted).
    */
  def bottomKSample(docs: DataFrame, idCol: String, salt: String, k: Int,
      weightCol: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = DedupOps.md5Hash32(col(idCol).cast("string"), salt)
    val scored = weightCol match {
      case None =>
        docs.select(lit(1).as("__all"), col(idCol), h.cast("double").as("__pr"))
      case Some(w) =>
        // E-S requires w > 0: w = 0 → 1/w = Inf → key 0 (row silently
        // never sampled); w < 0 → key ≥ 1 (row ALWAYS sampled); NULL →
        // NULL priority in the heap. All three are silent sample
        // corruption — fail loudly naming the id instead
        val guarded = when(col(w).isNull || col(w) <= 0d,
          raise_error(concat(
            lit("bottomKSample: weight column '" + w + "' must be > 0 and " +
              "non-NULL for every row (Efraimidis-Spirakis), got "),
            coalesce(col(w).cast("string"), lit("NULL")),
            lit(s" at $idCol="), col(idCol).cast("string"))))
          .otherwise(col(w).cast("double"))
        docs.select(lit(1).as("__all"), col(idCol),
          pow((h + 1d) / lit(4294967296d), lit(1d) / guarded).as("__pr"))
    }
    val asc = weightCol.isEmpty // uniform: smallest priorities; E-S: largest keys
    val top = SimilarityOps.perKeyTopK(scored, Seq("__all"), idCol, "__pr",
      asc = asc, k = k)
    val pr =
      if (weightCol.isEmpty) col("__pr").cast("long").as("pr")
      else graft.queries.Qf.dround(col("__pr"), 6).as("pr")
    top.select(col(idCol), pr, col("rk"))
  }

  private val SampleParams = Ledger.Params("_GRAFT_SAMPLE_META",
    "sample ledger", "different parameters define a different sample")

  private def sampleSpec(idCol: String, k: Int) = Ledger.Spec(
    "bottom-k sample ledger", Seq(idCol), Ledger.Merge.BottomK("pr", k),
    layout = Ledger.Layout.OneFile, params = Some(SampleParams))

  /** Create/overwrite the at-rest bottom-k sample. */
  def writeSampleLedger(docs: DataFrame, idCol: String, salt: String, k: Int,
      path: String): Unit =
    Ledger.create(docs.sparkSession, path, sampleSpec(idCol, k),
      bottomKSample(docs, idCol, salt, k).drop("rk"),
      Seq("idCol" -> idCol, "salt" -> salt, "k" -> k))

  /** Fold a batch into the at-rest sample IN PLACE (staged swap, lease,
    * manifest mode, exactly-once batchId): union the stored k rows with
    * the batch's own bottom-k and keep the global bottom-k — the
    * bottom-k sketch merge, model-sized on the ledger side. The sidecar
    * (idCol, salt, k) must match: a sample under a different salt or k
    * is a DIFFERENT sample and merging them yields silent garbage.
    */
  def advanceSampleLedger(batch: DataFrame, idCol: String, salt: String,
      k: Int, path: String, batchId: Option[String] = None): Unit =
    Ledger.advance(batch.sparkSession, path, sampleSpec(idCol, k), batchId,
      Seq("idCol" -> idCol, "salt" -> salt, "k" -> k))(
      bottomKSample(batch, idCol, salt, k).drop("rk"))

  /** Deterministic per-EPOCH corpus reshuffle: position = global rank of
    * `md5(salt:id)` (id tiebreak) — the reproducible data-ordering every
    * trainer needs per epoch. No RNG and no stored permutation: any
    * worker, any restart, any engine recomputes the identical order from
    * (salt, id) alone; a new salt = a fresh, uncorrelated permutation
    * (the d42 stable-split argument applied to ORDER). The global
    * row_number runs through WindowRankOps.partitionedRanks with a
    * constant group — range-partitioned local ranks + a driver fold of
    * per-slice offsets — never a single-partition window, so the sort
    * stays at full shuffle width at any corpus size.
    * Output: `(pos, id, hk)`, pos = 1..N exactly once.
    */
  def epochShuffle(docs: DataFrame, idCol: String, salt: String): DataFrame =
    graft.operators.WindowRankOps.partitionedRanks(
      docs.select(col(idCol),
        // concat (not concat_ws): a NULL id must hash to NULL — the
        // documented md5(salt:id) definition and the oracle's `||`
        // NULL-propagating semantics — not collide on md5("salt:")
        md5(concat(lit(s"$salt:"), col(idCol).cast("string"))).as("__hk"),
        lit(1).as("__g")),
      Seq("__g"), Seq(("__hk", true), (idCol, true)), ntileN = 1)
      .select(col("rn").as("pos"), col(idCol), col("__hk").as("hk"))

  /** Distribution-DRIFT report between two at-rest quantile-histogram
    * ledgers (two corpora, two ingest windows, or pre/post a pipeline
    * change): per key, the Kolmogorov-Smirnov statistic (max CDF gap),
    * total-variation distance (half the L1 gap of bucket masses), and
    * the population stability index (Σ (pA−pB)·ln(pA/pB) over buckets
    * occupied on BOTH sides, with the one-sided bucket count reported
    * explicitly rather than hidden behind an ε-smoothing constant).
    * The monitoring query every at-scale pipeline runs per ingest —
    * and it reads two MODEL-sized stores, never a corpus: at 100 TB
    * drift detection costs keys × occupied buckets, the d87 regime.
    *
    * Both ledgers must carry their `_GRAFT_QHIST_META` sidecar and
    * agree on (shift, keyCol, valueCol) — histograms bucketed
    * differently are incomparable, so a mismatch (or a missing
    * sidecar) fails loudly naming both sides. Counts are re-summed
    * defensively per (key, bucket) before comparing (accreted
    * duplicate rows tolerated, the probe contract every family
    * shares). KS and TV are exact cross-engine (integral cumulative
    * sums, then single divisions); PSI's `ln` is libm-dependent in the
    * last ulp — round it one digit coarser than the exact stats.
    *
    * A key with an empty side is maximal drift by definition: ks = tv
    * = 1.0, psi null. Output: `(key, n_a, n_b, ks_raw, tv_raw,
    * psi_raw, n_onesided)`.
    */
  def histogramDrift(spark: org.apache.spark.sql.SparkSession,
      pathA: String, pathB: String): DataFrame = {
    val (sa, ka, va) = qhistMeta(spark, pathA, "drift")
    val (sb, kb, vb) = qhistMeta(spark, pathB, "drift")
    if ((sa, ka, va) != ((sb, kb, vb)))
      throw new IllegalArgumentException(
        s"histogram drift: $pathA was created with shift=$sa, keyCol=$ka, " +
          s"valueCol=$va but $pathB with shift=$sb, keyCol=$kb, valueCol=$vb " +
          "— histograms bucketed differently are incomparable")
    def side(p: String, as: String): DataFrame =
      LedgerGuard.readLedger(spark, p)
        .groupBy(col(ka), col("qh_b")).agg(sum(col("qh_c")).as(as))
    val u = side(pathA, "__ca").join(side(pathB, "__cb"),
        Seq(ka, "qh_b"), "full_outer")
      .select(col(ka), col("qh_b"),
        coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val byB = Window.partitionBy(col(ka)).orderBy(col("qh_b"))
    val whole = Window.partitionBy(col(ka))
    val denom = (n: Column) => when(n === 0, lit(null)).otherwise(n)
    val s = u
      .withColumn("__cuma", sum(col("__ca")).over(byB))
      .withColumn("__cumb", sum(col("__cb")).over(byB))
      .withColumn("__na", sum(col("__ca")).over(whole))
      .withColumn("__nb", sum(col("__cb")).over(whole))
      .withColumn("__fa", col("__cuma").cast("double") / denom(col("__na")))
      .withColumn("__fb", col("__cumb").cast("double") / denom(col("__nb")))
      .withColumn("__pa", col("__ca").cast("double") / denom(col("__na")))
      .withColumn("__pb", col("__cb").cast("double") / denom(col("__nb")))
    s.groupBy(col(ka))
      .agg(
        max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        max(abs(col("__fa") - col("__fb"))).as("__ks"),
        (lit(0.5) * sum(abs(col("__pa") - col("__pb")))).as("__tv"),
        sum(when(col("__ca") > 0 && col("__cb") > 0,
          (col("__pa") - col("__pb")) *
            log((col("__ca").cast("double") * col("__nb")) /
              (col("__cb").cast("double") * col("__na")))))
          .as("psi_raw"),
        sum(when((col("__ca") > 0) =!= (col("__cb") > 0), 1L)
          .otherwise(0L)).as("n_onesided"))
      .select(col(ka),
        col("n_a"), col("n_b"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(1.0))
          .otherwise(col("__ks")).as("ks_raw"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(1.0))
          .otherwise(col("__tv")).as("tv_raw"),
        col("psi_raw"), col("n_onesided"))
  }

  /** Right-to-be-forgotten for the quantile ledger, by SUBTRACTION —
    * exact because bucket counts are mergeable in both directions. The
    * caller supplies the forgotten rows' (key, value) pairs (counts
    * are not id-attributed, so the ledger itself cannot reconstruct
    * them — the documented boundary the sketch families share); their
    * bucket counts are subtracted and emptied buckets leave the
    * ledger, so later probes answer as if the rows were never
    * admitted. FAILS LOUDLY if any count would go negative — that
    * means retracting data that was never admitted (or already
    * retracted), and clamping would silently skew every later
    * quantile. Same staged-swap/lease/manifest + batchId discipline.
    */
  def retractFromQuantileLedger(forgotten: DataFrame, keyCol: String,
      valueCol: String, shift: Int, path: String,
      batchId: Option[String] = None): Unit =
    Ledger.retract(forgotten.sparkSession, path, qhistSpec(keyCol), batchId,
      qhistParams(shift, keyCol, valueCol))(
      longHistogram(forgotten, keyCol, valueCol, shift))

  /** Compact the quantile ledger IN PLACE: re-sum any accreted
    * duplicate (key, bucket) rows and rewrite small files, sorted by
    * key so file-level stats prune keyed reads. Same staged swap,
    * lease, self-heal, and manifest-mode support as every other
    * ledger family.
    */
  def compactQuantileLedger(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 16,
      maxRecordsPerFile: Long = 64L * 1000 * 1000): Unit =
    Ledger.compact(spark, path,
      qhistSpec(Ledger.storedKey(spark, path, QhistParams, "keyCol")),
      targetFiles, maxRecordsPerFile)
}
