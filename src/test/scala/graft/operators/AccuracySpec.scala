package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Accuracy gates for the operators whose results are model- or
  * sketch-dependent and therefore have NO cross-engine oracle (the driver
  * records them rows-only): IVF ANN (s04), approx_count_distinct (q29),
  * approx_percentile (q40b). Each is bounded against its exact
  * counterpart in-Spark instead.
  */
class AccuracySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("s04 gate: IVF ANN recall@5 vs brute force ≥ 0.6 at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val model = IvfIndex.train(emb, "embedding", k = 8, iters = 3)
    val ivf = IvfIndex.annTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", model, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.bruteForceTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, f"IVF recall@5 = $recall%.3f < 0.6 (nprobe=3/8)")
  }

  test("d49b gate: IVF-prefiltered semantic decon — precision 1 vs exact, recall bounded at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val corpus = emb.filter(col("vec_id") % 50 =!= 0)
    val exact = CurationOps.semanticDecontamination(corpus, "vec_id", "embedding",
      bench, "vec_id", "embedding", threshold = 0.3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val model = IvfIndex.train(bench, "embedding", k = 8, iters = 3)
    val ann = CurationOps.semanticDecontaminationIvf(corpus, "vec_id", "embedding",
      bench, "vec_id", "embedding", threshold = 0.3, model, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // precision 1: every ANN-flagged doc carries an exact cosine ≥ τ,
    // so it must also be flagged by the brute-force form
    assert(ann.subsetOf(exact), s"false positives: ${ann.diff(exact).take(5)}")
    val recall = if (exact.isEmpty) 1.0 else ann.size.toDouble / exact.size
    info(f"d49b recall = $recall%.3f (${ann.size}/${exact.size}, nprobe=3/8)")
    assert(recall >= 0.8, f"IVF-prefilter recall = $recall%.3f < 0.8 (nprobe=3/8)")
  }

  test("s13 gate: int8 SQ8 + exact re-rank recall@5 ≥ 0.9 and score parity at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "score")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sq = pairs(SimilarityOps.quantizedTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5))
    val brute = pairs(SimilarityOps.bruteForceTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5))
    val common = sq.keySet.intersect(brute.keySet)
    val recall = common.size.toDouble / brute.size
    assert(recall >= 0.9, f"SQ8 recall@5 = $recall%.3f < 0.9 (rerankFactor=4)")
    // the re-rank is the EXACT rounded cosine: every pair both methods
    // return must carry an identical score
    common.foreach { p =>
      assert(sq(p) == brute(p), s"score drift on $p: ${sq(p)} vs ${brute(p)}")
    }
  }

  test("s14 gate: SQ8 at-rest probe equals the inline s13 rows exactly at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val path = java.nio.file.Files.createTempDirectory("sq8rest").toString + "/corpus"
    SimilarityOps.writeQuantizedCorpus(emb, "vec_id", "embedding", path)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "score", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val atRest = rows(SimilarityOps.quantizedTopKAtRest(spark, path,
      queries, "vec_id", "embedding", "vec_id", k = 5))
    val inline = rows(SimilarityOps.quantizedTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5))
    assert(atRest == inline && inline.nonEmpty,
      s"atRest diff: ${atRest.diff(inline).take(3)} / ${inline.diff(atRest).take(3)}")
  }

  test("s07 gate: PQ+rerank ANN recall@5 vs brute force ≥ 0.7 at sf0.01") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val model = PqIndex.train(emb, "embedding", m = 8, k = 32, iters = 5)
    val pq = PqIndex.annTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", model, k = 5, rerank = 100)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.l2TopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.7, f"PQ recall@5 = $recall%.3f < 0.7 (m=8, k=32, rerank=100)")
  }

  test("s08 gate: residual IVFPQ recall@5 ≥ 0.85 AND the probe scores only nprobe/kc of the corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 8)
    val nQueries = queries.count()
    val corpus = emb.count()
    val (kc, nprobe) = (8, 6)
    // residual (IVFADC) codebooks at the same m×k code budget and the
    // same rerank budget as the round-5 raw form. The r6 probe sweep
    // showed recall on this corpus is PRUNING-bound:
    // measured recall equals the probed-cell ceiling in 17/20 configs,
    // so the 0.7 → 0.85 gate raise comes from probing 6/8 cells
    // (ceiling 0.925, measured 0.875); residual coding holds parity
    // with raw at identical budgets and is the right default where
    // within-cell variance ≪ corpus variance.
    val model = IvfPq.train(emb, "embedding", kc = kc, m = 8, k = 32, iters = 5,
      residual = true)
    val got = IvfPq.annTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", model, k = 5, nprobe = nprobe, rerank = 100)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.l2TopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.85, f"IVFPQ recall@5 = $recall%.3f < 0.85 (residual, kc=$kc nprobe=$nprobe rerank=100)")

    // pruning evidence: ADC candidates per query = the probed cells'
    // rows only, ≈ nprobe/kc of the corpus (1.25× slack for cell-size
    // skew — at nprobe=6/8 a 2× slack would exceed the full-scan count
    // and gate nothing)
    val codes = IvfPq.codeTable(emb, "vec_id", "embedding", model)
    val probed = queries.select(col("vec_id"),
      explode(slice(array_sort(array(model.coarse.centroids.zipWithIndex.map { case (c, i) =>
        struct(graft.functions.VectorExpressions.sqDistFD(
          col("embedding"), array(c.map(lit).toIndexedSeq: _*)).as("d"), lit(i).as("c"))
      }: _*)), 1, nprobe)).as("p"))
      .select(col("vec_id").as("query_id"), col("p.c").as("__cluster"))
    val scoredCandidates = codes.join(probed, Seq("__cluster")).count()
    val bound = (1.25 * nQueries * corpus * nprobe / kc).toLong
    assert(scoredCandidates <= bound,
      s"IVFPQ scored $scoredCandidates candidate pairs > bound $bound " +
        s"(corpus=$corpus queries=$nQueries nprobe=$nprobe/$kc cells)")
    assert(scoredCandidates < nQueries * corpus,
      "IVFPQ must score strictly fewer pairs than a full-corpus ADC scan")
  }

  test("d22 gate: count-min estimates are one-sided and within the ε·N bound") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tok = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
    val n = tok.count()
    val eps = 0.001
    val hh = SketchOps.heavyHitters(tok, col("token"), k = 20, eps = eps)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(hh.length == 20)
    hh.foreach { case (t, exact, est) =>
      assert(est >= exact, s"CMS undercounted '$t': est=$est < exact=$exact")
      // ε·N overcount bound holds per query w.p. `conf`; doubled slack so
      // the gate checks the operator, not one tail event
      assert(est <= exact + 2 * math.ceil(eps * n).toLong,
        s"CMS overcount for '$t': est=$est exact=$exact bound=${exact + 2 * math.ceil(eps * n).toLong}")
    }
  }

  test("semDedup duplicate-vector collapse is exact: same output as the raw probe-cell pair join") {
    // corpus WITH exact duplicates: every vector appears 3x under
    // distinct ids (the degenerate case the collapse exists for),
    // interleaved so group reps are not simply the lowest id block
    // pinned by predicate, NOT limit(): an unordered limit re-executes
    // independently per action, so `got` and `ref` could sample
    // different rows — a latent flake, not a product property
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 120).select(col("vec_id"), col("embedding"))
    val dup = base
      .unionByName(base.select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      .unionByName(base.select((col("vec_id") + 200000L).as("vec_id"), col("embedding")))
    val (k, iters, nprobe, tau) = (6, 4, 2, 0.4)
    val got = SimilarityOps.semDedup(dup, "vec_id", "embedding", k, iters, nprobe, tau)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).sortBy(_._1).toSeq
    // reference: the pre-collapse formulation, raw rows through the
    // probe-cell self-join (same model — training is untouched)
    val model = IvfIndex.train(dup, "embedding", k, iters)
    val assigned = dup.select(col("vec_id"), col("embedding"),
      explode(IvfIndex.assignClusters(col("embedding"), model, nprobe)).as("__probe"))
    val a = assigned.select(col("__probe"), col("vec_id").as("__ida"), col("embedding").as("__va"))
    val b = assigned.select(col("__probe"), col("vec_id").as("__idb"), col("embedding").as("__vb"))
    val droppedRef = a.join(b, Seq("__probe"))
      .filter(col("__ida") < col("__idb"))
      .filter(SimilarityOps.cosine(col("__va"), col("__vb")) >= tau)
      .select(col("__idb")).distinct()
      .collect().map(_.getLong(0)).toSet
    val ref = dup.select(col("vec_id"),
        IvfIndex.assignCluster(col("embedding"), model).as("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1), !droppedRef(r.getLong(0))))
      .sortBy(_._1).toSeq
    assert(got == ref)
    // sanity: the duplicates really did drop (each vector's 2 copies)
    assert(got.count(!_._3) >= 240)
  }

  test("d33 gate: semDedup dropped ids — precision 1 (subset) and recall ≥ 0.85 vs all-pairs") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val tau = 0.4
    val sem = SimilarityOps.semDedup(emb, "vec_id", "embedding",
      k = 12, iters = 5, nprobe = 3, tau = tau)
      .filter(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("ida") < col("idb"))
      .filter(SimilarityOps.cosine(col("va"), col("vb")) >= tau)
      .select("idb").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(sem.subsetOf(exact),
      s"semDedup dropped ${(sem -- exact).size} ids no all-pairs sweep drops (precision < 1)")
    val recall = sem.size.toDouble / exact.size
    assert(recall >= 0.85, f"semDedup dropped-id recall = $recall%.3f < 0.85 (k=12, nprobe=3)")
  }

  test("d24b gate: bloom decontamination has NO false negatives and bounded false positives") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val exact = CurationOps.ngramOverlap(train, bench, "doc_id", "text", n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = CurationOps.ngramOverlapBloom(train, bench, "doc_id", "text",
      n = 3, expectedGrams = 100000L, fpp = 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact.subsetOf(bloom),
      s"bloom missed ${(exact -- bloom).size} truly-contaminated docs (false negatives!)")
    // false-positive docs: each clean doc has ~hundreds of grams probing a
    // 1% filter, so a loose 25% doc-level budget still catches a broken fpp
    val clean = train.select("doc_id").distinct().count() - exact.size
    val fpDocs = (bloom -- exact).size
    assert(fpDocs <= clean * 0.25,
      s"$fpDocs false-positive docs of $clean clean — bloom fpp out of budget")
  }

  test("d119 gate: bloom ledger — no false negatives, fp budget, BIT-EXACT incremental merge, replay no-op, sizing guard") {
    val base = java.nio.file.Files.createTempDirectory("graft-bloomled").toString
    val (path, oneShot) = (s"$base/led", s"$base/one")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val digest = DedupOps.md5Hash32(col("text"), "")
    val admitted = docs.filter(col("doc_id") % 2 === 0)
    DedupOps.writeBloomLedger(admitted.filter(col("doc_id") % 4 === 0),
      digest, "md5-32", 10000L, 0.01, path)
    val g2 = admitted.filter(col("doc_id") % 4 =!= 0)
    DedupOps.advanceBloomLedger(g2, digest, "md5-32", 10000L, 0.01, path,
      batchId = Some("g2"))
    val afterOnce = spark.read.parquet(path)
      .head().getAs[Array[Byte]](0).toSeq
    DedupOps.advanceBloomLedger(g2, digest, "md5-32", 10000L, 0.01, path,
      batchId = Some("g2")) // replay: bytes must be untouched
    assert(spark.read.parquet(path).head().getAs[Array[Byte]](0).toSeq == afterOnce)
    // OR-merge of per-batch filters IS the filter over the union — byte-exact
    DedupOps.writeBloomLedger(admitted, digest, "md5-32", 10000L, 0.01, oneShot)
    assert(spark.read.parquet(oneShot).head().getAs[Array[Byte]](0).toSeq == afterOnce,
      "incremental bloom != from-scratch bloom (merge must be bit-exact)")
    // probe: every admitted digest says true (no false negatives — proof
    // of novelty contract); unadmitted digests' fp rate within budget
    val probe = DedupOps.probeBloomLedger(docs, "doc_id", digest, path,
      "md5-32", 10000L, 0.01)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val admittedIds = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    // duplicate text across the parity boundary can make an unadmitted
    // doc's digest genuinely admitted — classify by DIGEST membership
    val admittedDigests = admitted.select(digest.as("h"))
      .collect().map(_.getLong(0)).toSet
    val docDigest = docs.select(col("doc_id"), digest.as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (in, out) = probe.keys.partition(id => admittedDigests(docDigest(id)))
    assert(in.forall(probe(_)), "false negative: an admitted digest probed false")
    val fp = out.count(probe(_))
    assert(fp <= math.max(3, out.size * 0.05),
      s"$fp of ${out.size} unadmitted digests probed true — fpp out of budget")
    assert(admittedIds.forall(probe(_))) // a fortiori
    // sizing/digest drift is a DIFFERENT filter — loud, naming both sides
    val e = intercept[IllegalArgumentException](DedupOps.advanceBloomLedger(
      g2, digest, "md5-32", 20000L, 0.01, path))
    assert(e.getMessage.contains("expectedItems"), e.getMessage)
    // a NULL digest (NULL text) probes TRUE — conservative routing to
    // the exact branch; a NULL verdict would vanish from BOTH branch
    // filters of a prefilter composition (the d120 hazard)
    import spark.implicits._
    val nullProbe = DedupOps.probeBloomLedger(
      Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", DedupOps.md5Hash32(col("text"), ""), path, "md5-32",
      10000L, 0.01).collect()
    assert(nullProbe.length == 1 && nullProbe(0).getBoolean(1),
      nullProbe.mkString(","))
  }

  test("d37 gate: quality classifier holdout AUC ≥ 0.8 against the weak labels") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val scored = MlOps.scoreQuality(docs, "doc_id", "text")
      .filter(!col("is_train"))
      .select("weak_label", "p_good")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val pos = scored.count(_._1 == 1).toLong
    val neg = scored.length - pos
    assert(pos > 10 && neg > 10, s"degenerate holdout: $pos positives, $neg negatives")
    // AUC = P(score(pos) > score(neg)), ties count half — exact pairwise
    // on the model-sized holdout
    var wins = 0.0
    for ((la, pa) <- scored if la == 1; (lb, pb) <- scored if lb == 0)
      wins += (if (pa > pb) 1.0 else if (pa == pb) 0.5 else 0.0)
    val auc = wins / (pos * neg)
    assert(auc >= 0.8, f"holdout AUC = $auc%.3f < 0.8")
  }

  test("d68 gate: WordPiece encode — lossless reconstruction and closed vocabulary over the corpus") {
    // the rows-only conformance query's bound: greedy segmentation is
    // engine-specific, but two invariants pin it corpus-wide —
    // (1) stripping ## and concatenating reproduces the input sans
    // spaces for every non-UNK document, (2) every emitted piece is in
    // the vocabulary (or is [UNK]). The demo vocab has full single-char
    // coverage, so this corpus must produce zero UNK documents.
    val vocab = graft.queries.PipelineQueries.wordPieceVocab
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val p = graft.functions.TokenizeExpressions.wordPieceEncode(col("text"), vocab)
    val enc = docs.select(col("doc_id"), col("text"), p.as("p"))
    val unkDocs = enc.filter(array_contains(col("p"), "[UNK]")).count()
    assert(unkDocs == 0, s"$unkDocs UNK docs on an all-alphanumeric corpus")
    val bad = enc.filter(
      concat_ws("", transform(col("p"),
        x => regexp_replace(x, "^##", ""))) =!=
        regexp_replace(trim(col("text")), " ", "")).count()
    assert(bad == 0, s"$bad docs fail piece reconstruction")
    val outOfVocab = enc
      .select(explode(col("p")).as("piece")).distinct()
      .filter(!col("piece").isin(vocab :+ "[UNK]": _*)).count()
    assert(outOfVocab == 0, s"$outOfVocab pieces outside the vocabulary")
  }

  test("d86 gate: BPE encode — lossless per-token reconstruction and piece closure over the corpus") {
    // the rows-only conformance query's bound: the encoding itself is
    // engine-specific, but (1) concatenating each token's pieces must
    // reproduce the token exactly, (2) every piece is a single code
    // point or the target of a learned merge, (3) the merges actually
    // fire corpus-wide (the gate is not vacuous).
    import graft.operators.CurationOps
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val merges = CurationOps.learnBpeMerges(docs, "text", 12)
      .orderBy("rk").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.size == 12, s"expected 12 merges, got ${merges.size}")
    val p = graft.functions.TokenizeExpressions.bpeEncode(col("text"), merges)
    val enc = docs.select(col("doc_id"), col("text"), p.as("p"))
    val bad = enc.filter(
      transform(col("p"), w => array_join(w, "")) =!=
        array_remove(graft.operators.TextOps.tokens(col("text")), "")).count()
    assert(bad == 0, s"$bad docs fail per-token piece reconstruction")
    val targets = merges.map { case (a, b) => a + b }
    val badPieces = enc.select(explode(flatten(col("p"))).as("piece")).distinct()
      .filter(!col("piece").isin(targets: _*) &&
        size(regexp_extract_all(col("piece"), lit("[\\s\\S]"), lit(0))) =!= 1)
      .count()
    assert(badPieces == 0, s"$badPieces pieces outside the merge closure")
    val fired = enc.select(explode(flatten(col("p"))).as("piece"))
      .filter(col("piece").isin(targets: _*)).count()
    assert(fired > 0, "no learned merge ever fired — vacuous gate")
  }

  test("d105 gate: unigram encode — lossless reconstruction, closed vocabulary, and real multi-char pieces over the corpus") {
    // the rows-only conformance query's bound, the d86 regime for the
    // unigram family: (1) concatenating each token's Viterbi pieces
    // reproduces the token exactly, (2) every emitted piece is in the
    // vocabulary or is a single code point (the unk fallback channel),
    // (3) multi-char vocabulary pieces actually win segmentations
    // corpus-wide (the gate is not vacuous).
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val toks = docs.select(explode(graft.operators.TextOps.tokens(col("text"))).as("w"))
    val wc = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
    val totW = wc.agg(sum(col("n"))).first.getLong(0).toDouble
    val topWords = wc.orderBy(col("n").desc, col("w")).limit(80)
      .collect().map(r => (r.getString(0), math.log(r.getLong(1) / totW)))
    val chars = toks.select(explode(split(col("w"), "")).as("c"))
      .filter(length(col("c")) === 1)
      .groupBy(col("c")).agg(count(lit(1)).as("n")).collect()
    val totC = chars.map(_.getLong(1)).sum.toDouble
    val pieces = (topWords ++ chars.map(r =>
      (r.getString(0), math.log(r.getLong(1) / totC))))
      .groupBy(_._1).map { case (p, vs) => (p, vs.map(_._2).max) }.toSeq
      .sortBy(_._1)
    val enc = docs.select(col("doc_id"), col("text"),
      graft.functions.TokenizeExpressions.unigramEncode(col("text"), pieces).as("p"))
    val bad = enc.filter(
      transform(col("p"), w => array_join(w, "")) =!=
        array_remove(graft.operators.TextOps.tokens(col("text")), "")).count()
    assert(bad == 0, s"$bad docs fail per-token piece reconstruction")
    val vocabSet = pieces.map(_._1)
    val badPieces = enc.select(explode(flatten(col("p"))).as("piece")).distinct()
      .filter(!col("piece").isin(vocabSet: _*) &&
        size(regexp_extract_all(col("piece"), lit("[\\s\\S]"), lit(0))) =!= 1)
      .count()
    assert(badPieces == 0, s"$badPieces pieces outside vocab ∪ single code points")
    val multi = enc.select(explode(flatten(col("p"))).as("piece"))
      .filter(length(col("piece")) > 1).count()
    assert(multi > 0, "no multi-char piece ever won a segmentation — vacuous gate")
  }

  test("d106 gate: unigram EM training — monotone corpus LL, lossless reconstruction and closure under the LEARNED vocab") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val (pieces, lls) = graft.operators.CurationOps.learnUnigramVocab(
      docs, "text", seedMaxLen = 4, seedSize = 200, emRounds = 3, finalSize = 160)
    // EM's defining property, corpus-scale: log-likelihood never drops
    lls.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-6, s"EM log-likelihood decreased across rounds: $lls") }
    assert(pieces.count(_._1.length > 1) >= 10,
      s"only ${pieces.count(_._1.length > 1)} multi-char pieces survived pruning")
    // the learned vocab is a valid d105 model: lossless reconstruction
    // and closed membership over the whole conformance corpus
    val enc = docs.select(col("doc_id"), col("text"),
      graft.functions.TokenizeExpressions.unigramEncode(col("text"), pieces).as("p"))
    val bad = enc.filter(
      transform(col("p"), w => array_join(w, "")) =!=
        array_remove(graft.operators.TextOps.tokens(col("text")), "")).count()
    assert(bad == 0, s"$bad docs fail per-token piece reconstruction")
    val vocabSet = pieces.map(_._1)
    val badPieces = enc.select(explode(flatten(col("p"))).as("piece")).distinct()
      .filter(!col("piece").isin(vocabSet: _*) &&
        size(regexp_extract_all(col("piece"), lit("[\\s\\S]"), lit(0))) =!= 1)
      .count()
    assert(badPieces == 0, s"$badPieces pieces outside learned vocab ∪ single code points")
    val multiUsed = enc.select(explode(flatten(col("p"))).as("piece"))
      .filter(length(col("piece")) > 1).count()
    assert(multiUsed > 0, "no learned multi-char piece ever won a segmentation — vacuous")
  }

  test("d68 gate (basic=true): punctuation-glued and CJK web text segments instead of falling to UNK") {
    // the r9 gap: raw web text puts punctuation-glued tokens and CJK
    // runs in front of WordPiece; without BasicTokenizer every such
    // token is whole-word [UNK]. With basic=true the same invariants
    // hold against the BASIC-TOKENIZED stream: (1) closed vocabulary,
    // (2) reconstruction reproduces the basic-tokenized form sans
    // spaces, (3) zero UNK on fixtures whose chars the vocab covers.
    val vocab = graft.queries.PipelineQueries.wordPieceVocab ++
      Seq(",", ".", "!", "?", "'", "\"", "(", ")", "-", ":", ";", "日", "本", "語")
    import spark.implicits._
    val web = Seq(
      "Hello, world! (Really.)", "don't stop - ever; why?",
      "mixed 日本語 and ascii.", "\"quoted\" text:", "a,b,c").toDF("text")
    val p = graft.functions.TokenizeExpressions.wordPieceEncode(
      col("text"), vocab, basic = true, lowercase = true)
    val enc = web.select(col("text"), p.as("p"))
    val unkDocs = enc.filter(array_contains(col("p"), "[UNK]")).count()
    assert(unkDocs == 0, s"$unkDocs UNK docs with basic pre-tokenization")
    // reconstruction vs the basic-tokenized stream (what BERT's
    // pipeline defines as the tokenizer's input)
    val basic = udf((t: String) =>
      graft.functions.WordPieceUtil.basicTokenize(t, true))
    val bad = enc.filter(
      concat_ws("", transform(col("p"), x => regexp_replace(x, "^##", ""))) =!=
        regexp_replace(basic(col("text")), " ", "")).count()
    assert(bad == 0, s"$bad docs fail basic-form reconstruction")
    // and default-off stays the pre-existing contract: the same rows
    // WITHOUT basic fall to whole-word UNK on their glued tokens
    val gluedUnk = web.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("text"), vocab).as("p"))
      .filter(array_contains(col("p"), "[UNK]")).count()
    assert(gluedUnk == web.count(), "default-off behavior drifted")
  }

  test("m07 gate: aHash is codec- and scale-invariant on structured content, separates distinct content") {
    import graft.operators.MultimodalOps._
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // the three perceptual properties the rows-only m07 entry rests on,
    // exercised over every fixture seed — real decode, real rescale
    (0L until 8L).foreach { seed =>
      val png = syntheticGradientImage(seed, 32, 24, "png")
      val jpg = syntheticGradientImage(seed, 32, 24, "jpg")
      val big = imageIoResize(png, 128, 96) // decode → bilinear upscale → re-encode
      val h = aHash64(png)
      assert(hamming(h, aHash64(jpg)) <= 8,
        s"seed $seed: PNG vs JPEG of the same content drifted ${hamming(h, aHash64(jpg))} bits")
      assert(hamming(h, aHash64(big)) <= 8,
        s"seed $seed: 4x rescale drifted ${hamming(h, aHash64(big))} bits")
    }
    // distinct structured content lands far apart (and hashes are not
    // degenerate constants)
    val hs = (0L until 8L).map(s => aHash64(syntheticGradientImage(s, 32, 24, "png")))
    val minSep = (for (i <- 0 until 8; j <- i + 1 until 8)
      yield hamming(hs(i), hs(j))).min
    assert(minSep >= 4, s"closest distinct-content pair only $minSep bits apart")
  }

  test("m10 gate: image near-dup pairs ≡ brute force over the fixture's real aHashes (64-bit, 63-bit banding)") {
    import spark.implicits._
    import graft.operators.{DedupOps, MultimodalOps}
    // the m10 fixture's actual hash multiset: 40 docs over the 8
    // synthetic gradients, PNG/JPEG mixed — real decode, real hash
    val rows = (0L until 40L).map { id =>
      val m = id % 8
      (id, MultimodalOps.aHash64(MultimodalOps.syntheticGradientImage(
        m, 32, 24, if (m % 2 == 0) "png" else "jpg")))
    }
    val got = DedupOps.hammingPairs(rows.toDF("id", "h"), "id", "h",
        maxHamming = 8, bits = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (i1, h1) <- rows; (i2, h2) <- rows if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 8
    } yield (i1, i2, d)).toSet
    assert(got == want && want.nonEmpty,
      s"got ${got.size}, want ${want.size}")
    // every same-image pair is present (the codec-invariance budget
    // means identical source → Hamming 0 here, same bytes per m)
    val sameImage = (for {
      (i1, m1) <- rows.map(r => r._1 -> r._1 % 8)
      (i2, m2) <- rows.map(r => r._1 -> r._1 % 8) if i1 < i2 && m1 == m2
    } yield (i1, i2)).toSet
    assert(sameImage.forall(p => got.exists(g => (g._1, g._2) == p)),
      "a same-image pair is missing")
  }

  test("m11 gate: audio fingerprint is volume- and resample-invariant on tonal content, separates distinct content") {
    import graft.operators.MultimodalOps._
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // the three properties the rows-only m11 entry rests on — real JDK
    // decode, real FFT, over every fixture content class
    val fps = (0L until 16L).map { seed =>
      val base = audioFingerprint32(syntheticToneWav(seed, 8000, 4096))
      assert(base != 0L, s"seed $seed: degenerate zero fingerprint")
      // volume invariance is EXACT: gain scales every band energy by
      // the same factor, the band-vs-mean comparisons never move
      assert(audioFingerprint32(syntheticToneWav(seed, 8000, 4096, 0.25)) == base,
        s"seed $seed: volume change moved the fingerprint")
      // resample invariance is exact BY FIXTURE CONSTRUCTION (tones on
      // shared FFT bins at both rates; bands are fixed in Hz)
      assert(audioFingerprint32(syntheticToneWav(seed, 16000, 8192)) == base,
        s"seed $seed: 2x resample moved the fingerprint")
      // duration robustness: the whole-recording band profile of a
      // stationary mixture doesn't depend on length
      assert(audioFingerprint32(syntheticToneWav(seed, 8000, 8192)) == base,
        s"seed $seed: doubled duration moved the fingerprint")
      base
    }
    // distinct tonal content lands in distinct bands
    val minSep = (for (i <- 0 until 16; j <- i + 1 until 16)
      yield hamming(fps(i), fps(j))).min
    assert(minSep >= 2, s"closest distinct-content pair only $minSep bits apart")
    // undecodable / too-short / too-low-rate payloads key to 0 (the
    // aHash convention), never throw
    assert(audioFingerprint32(null) == 0L)
    assert(audioFingerprint32(Array.emptyByteArray) == 0L)
    assert(audioFingerprint32(Array.fill[Byte](100)(7)) == 0L)
    assert(audioFingerprint32(syntheticToneWav(1L, 8000, 512)) == 0L,
      "sub-frame payload must key to 0")
    assert(audioFingerprint32(syntheticToneWav(1L, 4000, 4096)) == 0L,
      "a rate that cannot carry the 3 kHz band must key to 0")
  }

  test("m12 gate: audio near-dup pairs ≡ brute force over real fingerprints; controlled near-miss lands at Hamming 2") {
    import spark.implicits._
    import graft.operators.{DedupOps, MultimodalOps}
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // the m12 fixture's actual fingerprint multiset: 48 docs over 12
    // base tone contents + their near variants — real decode, real FFT
    val rows = (0L until 48L).map { id =>
      val m = id % 12
      val wav =
        if (id % 24 >= 12) MultimodalOps.syntheticToneWavNear(m, 8000, 4096)
        else MultimodalOps.syntheticToneWav(m, 8000, 4096)
      (id, MultimodalOps.audioFingerprint32(wav))
    }
    val got = DedupOps.hammingPairs(rows.toDF("id", "h"), "id", "h",
        maxHamming = 2, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (i1, h1) <- rows; (i2, h2) <- rows if i1 < i2
      d = hamming(h1, h2) if d <= 2
    } yield (i1, i2, d)).toSet
    assert(got == want && want.nonEmpty, s"got ${got.size}, want ${want.size}")
    // the controlled near variant is exactly 2 bits from its base (one
    // band off, one band on), so every (base, near) doc pair is present
    (0L until 12L).foreach { m =>
      val base = MultimodalOps.audioFingerprint32(
        MultimodalOps.syntheticToneWav(m, 8000, 4096))
      val near = MultimodalOps.audioFingerprint32(
        MultimodalOps.syntheticToneWavNear(m, 8000, 4096))
      assert(hamming(base, near) == 2,
        s"content $m: near variant drifted ${hamming(base, near)} bits, want 2")
      assert(got.exists(p => p._1 == m && p._2 == m + 12),
        s"missing (base=$m, near=${m + 12}) pair")
    }
  }

  test("m13 gate: audio-fp ledger probe ≡ brute force over surviving fingerprints; replay no-op; forget + re-admission; geometry guard") {
    import spark.implicits._
    import graft.operators.MultimodalOps
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    def wav(id: Long): Array[Byte] = {
      val m = id % 8
      if (id % 16 >= 8) MultimodalOps.syntheticToneWavNear(m, 8000, 4096)
      else MultimodalOps.syntheticToneWav(m, 8000, 4096)
    }
    val corpusIds = (1L to 40L).filter(_ % 5 != 0)
    val probeIds = (1L to 40L).filter(_ % 5 == 0)
    def df(ids: Seq[Long]) = ids.map(i => (i, wav(i))).toDF("id", "wav")
    val path = java.nio.file.Files.createTempDirectory("graft-afp").toString + "/led"
    val (g1, g2) = corpusIds.partition(_ % 2 == 0)
    MultimodalOps.writeAudioFpLedger(df(g1), "id", "wav", path)
    MultimodalOps.appendToAudioFpLedger(df(g2), "id", "wav", path)
    MultimodalOps.appendToAudioFpLedger(df(g2), "id", "wav", path) // replay
    MultimodalOps.compactAudioFpLedger(spark, path, targetFiles = 2)
    def probe(): Set[(Long, Long, Int)] =
      MultimodalOps.audioNearDupAgainstLedger(df(probeIds), "id", "wav", path,
        maxHamming = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def brute(survivors: Seq[Long]): Set[(Long, Long, Int)] = {
      val fp = (probeIds ++ survivors)
        .map(i => i -> MultimodalOps.audioFingerprint32(wav(i))).toMap
      (for {
        p <- probeIds; c <- survivors
        d = hamming(fp(p), fp(c)) if d <= 2
      } yield (p, c, d)).toSet
    }
    // full corpus (replay invented nothing; compaction lost nothing)
    assert(probe() == brute(corpusIds) && probe().nonEmpty)
    // forget: the purged slice's pairs vanish, nothing else moves
    val gone = corpusIds.filter(_ % 3 == 1)
    MultimodalOps.removeFromAudioFpLedger(gone.toDF("id"), "id", path)
    assert(probe() == brute(corpusIds.filterNot(_ % 3 == 1)))
    // re-admission: one append restores the pairs exactly
    MultimodalOps.appendToAudioFpLedger(df(gone), "id", "wav", path)
    assert(probe() == brute(corpusIds))
    // a store without the geometry sidecar refuses to probe (silent
    // recall loss from a drifted band layout is the failure this guards)
    val bare = java.nio.file.Files.createTempDirectory("graft-afp2").toString + "/led"
    MultimodalOps.audioFingerprintPartitioned(df(g1), "wav")
      .write.parquet(bare)
    val e = intercept[IllegalStateException](
      MultimodalOps.audioNearDupAgainstLedger(df(probeIds), "id", "wav", bare))
    assert(e.getMessage.contains("geometry"), e.getMessage)
  }

  test("q29 gate: approx_count_distinct within 5% of exact per group") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    // rsd=0.02: the default sketch's rsd is 0.05, i.e. the 5% gate would
    // sit at 1σ and flake — the gate checks the operator, not the default
    val cmp = li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"),
        countDistinct(col("l_orderkey")).as("exact"))
      .collect()
    cmp.foreach { r =>
      val (a, e) = (r.getLong(1), r.getLong(2))
      val err = math.abs(a - e).toDouble / e
      assert(err <= 0.05, f"group ${r.getString(0)}: approx=$a exact=$e rel.err=$err%.4f > 5%%")
    }
  }

  test("d46 gate: sketch-ledger estimates — n_docs exact, distinct within 5%, merge within 2% of single-pass") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("d46gate").toString + "/led"
    // same construction as d46: ledger from the even half, advanced
    // with the odd half
    CurationOps.writeSketchLedger(docs.filter(col("doc_id") % 2 === 0), "lang", col("text"), dir)
    CurationOps.advanceSketchLedger(docs.filter(col("doc_id") % 2 === 1), "lang", col("text"), dir)
    val merged = CurationOps.sketchEstimates(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("d"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val single = CurationOps.corpusSketch(docs, "lang", col("text"))
      .select(col("lang"), hll_sketch_estimate(col("hll")).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged.keySet == exact.keySet)
    merged.foreach { case (lang, (nDocs, approx)) =>
      // the exact count is sum-merged alongside the sketch — equality,
      // not a bound
      assert(nDocs == exact(lang)._1, s"$lang: n_docs $nDocs != ${exact(lang)._1}")
      val e = exact(lang)._2
      val err = math.abs(approx - e).toDouble / e
      assert(err <= 0.05, f"$lang: approx=$approx exact=$e rel.err=$err%.4f > 5%%")
      // union(ledger, delta) covers exactly old ∪ new; only the
      // estimator may differ from a single-pass sketch (HIP is
      // invalidated on union) — pin that slack tightly
      val s1 = single(lang)
      val merr = math.abs(approx - s1).toDouble / math.max(s1, 1)
      assert(merr <= 0.02, f"$lang: merged=$approx single-pass=$s1 rel.diff=$merr%.4f > 2%%")
    }
  }

  test("q40b gate: approx_percentile within 1% of exact percentile per group") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val cmp = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx"),
        expr("percentile(l_extendedprice, 0.5)").as("exact"))
      .collect()
    cmp.foreach { r =>
      val (a, e) = (r.getDouble(1), r.getDouble(2))
      val err = math.abs(a - e) / e
      assert(err <= 0.01, f"group ${r.getString(0)}: approx=$a exact=$e rel.err=$err%.4f > 1%%")
    }
  }

  test("d95 gate: deflate ratio — inflate∘deflate lossless over 2000 cases, band separation, empty→null, partitioning-invariant") {
    import spark.implicits._
    import graft.functions.DeflateUtil
    import org.scalacheck.{Gen, Prop}
    // losslessness: the size the filter keys on is the size of a stream
    // that provably reconstructs the input byte-for-byte
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.oneOf("é日", "über straße", " ", "\n", "spam spam ", " ")))
      .map(_.mkString)
    val prop = Prop.forAll(gen) { s =>
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.util.Arrays.equals(DeflateUtil.inflate(DeflateUtil.deflate(b)), b)
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
    // band separation: template spam ≪ varied prose ≪ hash-chain noise
    val repetitive = "click here to win now " * 60
    val prose = (1 to 30).map(i =>
      s"paragraph $i ponders a ${i * 37 % 97} percent chance of ${i * i} outcomes " +
        s"under clause ${i * 13 % 41} of section $i").mkString(". ")
    val noise = Iterator.iterate("seed")(s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString).drop(1).take(40).mkString
    val got = Seq(("rep", repetitive), ("prose", prose), ("noise", noise))
      .toDF("k", "t")
      .select(col("k"), TextOps.compressionRatio(col("t")).as("r"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("rep") < 0.10, s"template text should crush: ${got("rep")}")
    assert(got("rep") < got("prose") && got("prose") < got("noise"),
      got.toString)
    assert(got("noise") > 0.5, s"hash-chain hex should resist: ${got("noise")}")
    // empty and null → null (no fabricated ratio from the fixed
    // empty-stream overhead)
    val edge = Seq(Some(""), Option.empty[String]).toDF("t")
      .select(TextOps.compressionRatio(col("t"))).collect()
    assert(edge.forall(_.isNullAt(0)), edge.mkString(","))
    // the value is a pure per-row function: partitioning cannot move it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def dump(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"),
          graft.functions.CompressionExpression.deflatedSize(col("text")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dump(docs.repartition(7)) == dump(docs.coalesce(1)))
  }

  test("m11 decode-width gate: one fixture per WAV format class — 8-bit, 24-bit, 32-bit float, mu-law all fingerprint like 16-bit PCM") {
    // hand-built WAV containers (RIFF + fmt + data), one per format
    // class the widened decoder accepts; all carry the SAME 880 Hz tone
    // at 8 kHz, so every decode path must land the same dominant band.
    val rate = 8000
    val n = rate // 1 s
    val tone = Array.tabulate(n)(i => 0.6 * math.sin(2 * math.Pi * 880.0 * i / rate))
    def le(v: Long, bytes: Int): Array[Byte] =
      Array.tabulate(bytes)(i => ((v >> (8 * i)) & 0xff).toByte)
    def wav(fmtTag: Int, bits: Int, payload: Array[Byte]): Array[Byte] = {
      val blockAlign = bits / 8
      val byteRate = rate * blockAlign
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("RIFF".getBytes); bos.write(le(36L + payload.length, 4))
      bos.write("WAVE".getBytes)
      bos.write("fmt ".getBytes); bos.write(le(16, 4))
      bos.write(le(fmtTag, 2)); bos.write(le(1, 2)) // mono
      bos.write(le(rate, 4)); bos.write(le(byteRate, 4))
      bos.write(le(blockAlign, 2)); bos.write(le(bits, 2))
      bos.write("data".getBytes); bos.write(le(payload.length, 4))
      bos.write(payload)
      bos.toByteArray
    }
    def muLaw(x: Double): Byte = { // G.711 mu-law compression (public spec)
      val MAX = 0x1FFF; val BIAS = 0x84
      var pcm = math.max(-32768, math.min(32767, math.round(x * 32767).toInt)) >> 2
      val sign = if (pcm < 0) { pcm = -pcm; 0x80 } else 0
      pcm += BIAS >> 2
      if (pcm > MAX) pcm = MAX
      var exp = 7
      var mask = 0x1000
      while (exp > 0 && (pcm & mask) == 0) { exp -= 1; mask >>= 1 }
      val mantissa = (pcm >> (exp + 1)) & 0x0f
      (~(sign | (exp << 4) | mantissa)).toByte
    }
    val pcm16 = wav(1, 16, tone.flatMap(v => le(math.round(v * 32767), 2)))
    val pcm8 = wav(1, 8, tone.map(v => ((math.round(v * 127) + 128) & 0xff).toByte))
    val pcm24 = wav(1, 24, tone.flatMap(v => le(math.round(v * 8388607), 3)))
    val f32 = wav(3, 32, tone.flatMap(v =>
      le(java.lang.Float.floatToIntBits(v.toFloat).toLong & 0xffffffffL, 4)))
    val ulaw = wav(7, 8, tone.map(muLaw))
    val base = MultimodalOps.audioFingerprint32(pcm16)
    assert(base != 0L, "16-bit baseline fingerprint must be nonzero")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    Seq("pcm8" -> pcm8, "pcm24" -> pcm24, "float32" -> f32, "mulaw" -> ulaw)
      .foreach { case (name, bytes) =>
        val (sr, samples) = MultimodalOps.decodeWavPcmMono(bytes) match {
          case null => fail(s"$name: widened decoder returned null")
          case t => t
        }
        assert(sr == rate && samples.length == n, s"$name: sr=$sr len=${samples.length}")
        val fp = MultimodalOps.audioFingerprint32(bytes)
        assert(fp != 0L, s"$name must not silently fingerprint to 0")
        // same tone, same bands: quantization noise may flip at most a
        // marginal bit or two near the band-mean threshold
        assert(ham(fp, base) <= 2, s"$name: fp=$fp base=$base hamming=${ham(fp, base)}")
      }
    // unsupported stays an honest null, never garbage
    assert(MultimodalOps.decodeWavPcmMono("nonsense".getBytes) == null)
    // 64-bit integer PCM would overflow the full-scale shift and decode
    // sign-flipped — honest null instead
    val pcm64 = wav(1, 64, tone.flatMap(v => le(math.round(v * 32767), 8)))
    assert(MultimodalOps.decodeWavPcmMono(pcm64) == null, "64-bit int PCM must be rejected")
  }

  test("s22 gate: HNSW recall@10 vs brute force >= 0.9 at sf0.01; deterministic across runs") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 16)
    def run() = HnswIndex.annTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 10,
      m = 16, efConstruction = 128, efSearch = 96)
    val hnsw = run().select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = SimilarityOps.bruteForceTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = hnsw.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.9, f"HNSW recall@10 = $recall%.3f < 0.9 (M=16, ef=96)")
    // hash-derived levels, not RNG: a second run answers identically
    val again = run().select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == hnsw, "HNSW must be deterministic across runs")
  }

  test("d110 gate: KLL ledger quantiles within 0.035 rank error of exact; min/max exact; n exact") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("lang"),
        (length(col("text")).cast("double") /
          greatest(size(split(trim(col("text")), " +")), lit(1)).cast("double"))
          .as("mwl"))
    val path = java.nio.file.Files.createTempDirectory("graft-kll-acc").toString + "/led"
    KllSketch.writeKllLedger(docs.filter(col("doc_id") % 3 =!= 0), "lang", "mwl",
      k = 128, path = path)
    KllSketch.advanceKllLedger(docs.filter(col("doc_id") % 3 === 0), "lang", "mwl",
      128, path, batchId = Some("g2"))
    val probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val est = KllSketch.quantilesFromKllLedger(spark, path, probs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    val exact = docs.select(col("lang"), col("mwl")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).sorted }
    exact.foreach { case (lang, vs) =>
      val n = vs.length.toLong
      probs.foreach { p =>
        val (e, en) = est((lang, p))
        assert(en == n, s"$lang n: sketch=$en exact=$n")
        // rank error: the estimate's rank position vs the target rank
        val below = vs.count(_ <= e).toLong
        val target = math.ceil(p * n).toLong
        val err = math.abs(below - target).toDouble / n
        assert(err <= 0.035, f"$lang p=$p: est=$e rank-err=$err%.4f > 0.035 (n=$n)")
      }
      val (mx, _) = est((lang, 1.0))
      assert(mx == vs.last, s"$lang max: sketch=$mx exact=${vs.last}")
    }
    // drifted-parameter advance fails loudly naming both sides
    val e = intercept[IllegalArgumentException](
      KllSketch.advanceKllLedger(docs.limit(5), "lang", "mwl", 64, path))
    assert(e.getMessage.contains("k=128") && e.getMessage.contains("k=64"), e.getMessage)
  }

  test("d110 determinism: same data + partitioning => bit-identical sketch; replay with batchId is a no-op") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("lang"), length(col("text")).cast("double").as("v"))
    val a = KllSketch.sketchPerKey(docs, "lang", "v", k = 64)
    val b = KllSketch.sketchPerKey(docs, "lang", "v", k = 64)
    assert(a == b, "deterministic build: two identical runs must agree exactly")
    val base = java.nio.file.Files.createTempDirectory("graft-kll-det").toString
    val path = base + "/led"
    KllSketch.writeKllLedger(docs, "lang", "v", k = 64, path = path)
    val q1 = KllSketch.quantilesFromKllLedger(spark, path, Seq(0.5, 0.9))
      .collect().map(_.toSeq).toSeq
    KllSketch.advanceKllLedger(docs.limit(50), "lang", "v", 64, path, batchId = Some("gX"))
    val q2 = KllSketch.quantilesFromKllLedger(spark, path, Seq(0.5, 0.9))
      .collect().map(_.toSeq).toSeq
    KllSketch.advanceKllLedger(docs.limit(50), "lang", "v", 64, path, batchId = Some("gX"))
    val q3 = KllSketch.quantilesFromKllLedger(spark, path, Seq(0.5, 0.9))
      .collect().map(_.toSeq).toSeq
    assert(q2 == q3, "exactly-once: replaying batchId gX must not re-merge")
    assert(q1 != null && q2 != null)
    // document-keyed misuse fails loudly instead of folding corpus-many
    // sketches on the driver
    val docs2 = spark.range(5000)
      .select(col("id").cast("string").as("k"), col("id").cast("double").as("v"))
    val eg = intercept[IllegalArgumentException](
      KllSketch.sketchPerKey(docs2, "k", "v", k = 64))
    assert(eg.getMessage.contains("model-sized"), eg.getMessage)
    // the PER-TASK trip path (one partition holds > MaxKeys keys) must
    // surface the same exception type, unwrapped from Spark's task-
    // failure wrapper — the caller contract is path-independent
    val eg1 = intercept[IllegalArgumentException](
      KllSketch.sketchPerKey(docs2.repartition(1), "k", "v", k = 64))
    assert(eg1.getMessage.contains("model-sized"), eg1.getMessage)
    // NULL measures/keys are SKIPPED (the SQL-aggregate contract), not
    // a job abort from the primitive decode
    import spark.implicits._
    val withNulls = Seq(("en", Some(1.0)), ("en", None), (null, Some(9.0)),
      ("en", Some(3.0))).toDF("k", "v")
    val sk = KllSketch.sketchPerKey(withNulls, "k", "v", k = 16)
    assert(sk.keySet == Set("en") && sk("en").n == 2L, sk.toString)
  }

  test("d110 guard: oversized STORED KLL ledger fails loudly on probe/advance/compact, store intact") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-kll-guard").toString
    val path = base + "/led"
    val docs = Seq(("en", 1.0), ("en", 2.0), ("de", 3.0)).toDF("lang", "v")
    KllSketch.writeKllLedger(docs, "lang", "v", k = 16, path = path)
    // Corrupt the store the only way the bound can be exceeded: append
    // document-keyed rows DIRECTLY, bypassing the write/advance guards
    // (a foreign tool writing into the path). Schema matches toRows.
    spark.range(5000)
      .select(concat(lit("doc_"), col("id")).as("key"),
        lit(-1).as("kll_level"), lit(0).as("kll_idx"), lit(1.0).as("kll_v"))
      .write.mode("append").parquet(path)
    val stored = spark.read.parquet(path).count()
    val e1 = intercept[IllegalArgumentException](
      KllSketch.quantilesFromKllLedger(spark, path, Seq(0.5)))
    assert(e1.getMessage.contains("4096") && e1.getMessage.contains("probe"),
      e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      KllSketch.advanceKllLedger(docs, "lang", "v", 16, path))
    assert(e2.getMessage.contains("advance"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException](
      KllSketch.compactKllLedger(spark, path))
    assert(e3.getMessage.contains("compaction"), e3.getMessage)
    // the failed advance/compaction aborted BEFORE any swap: rows intact
    assert(spark.read.parquet(path).count() == stored,
      "guard must fire before any mutation — stored rows changed")
  }
}
