package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Direct library-API tests for the pipeline operators (the oracle
  * conformance gate covers them end-to-end; these pin semantics with
  * hand-checkable fixtures).
  */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("AsOfJoin.backward picks latest right row at or before left ts") {
    val left = Seq((1, 10L, "l1"), (1, 20L, "l2"), (2, 5L, "l3"))
      .toDF("k", "ts", "lv")
    val right = Seq((1, 10L, "r10"), (1, 15L, "r15"), (2, 9L, "r9"))
      .toDF("k", "rts", "rv")
    val out = AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("rv"))
      .select("k", "ts", "lv", "rv").as[(Int, Long, String, Option[String])]
      .collect().toSet
    assert(out == Set(
      (1, 10L, "l1", Some("r10")), // equal ts is visible
      (1, 20L, "l2", Some("r15")), // latest ≤ 20
      (2, 5L, "l3", None)))        // nothing at or before 5
  }

  test("AsOfJoin.forward picks earliest right row at or after left ts; tolerance masks far matches") {
    val left = Seq((1, 10L, "l1"), (1, 20L, "l2"), (2, 5L, "l3"))
      .toDF("k", "ts", "lv")
    val right = Seq((1, 10L, "r10"), (1, 15L, "r15"), (2, 1L, "r1"))
      .toDF("k", "rts", "rv")
    val fwd = AsOfJoin.forward(left, right, "k", "ts", "rts", Seq("rv"))
      .select("k", "ts", "rv").as[(Int, Long, Option[String])].collect().toSet
    assert(fwd == Set(
      (1, 10L, Some("r10")), // equal ts visible
      (1, 20L, None),        // nothing at or after 20
      (2, 5L, None)))        // right row is in the past
    val tol = AsOfJoin.backward(left, right, "k", "ts", "rts", Seq("rv"),
        tolerance = Some(3.0))
      .select("k", "ts", "rv").as[(Int, Long, Option[String])].collect().toSet
    assert(tol == Set(
      (1, 10L, Some("r10")), // Δ=0 within tolerance
      (1, 20L, None),        // nearest is r15, Δ=5 > 3 → masked
      (2, 5L, None)))        // nearest is r1, Δ=4 > 3 → masked
  }

  test("exactDedup keeps lowest id per duplicate content") {
    val df = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (4L, "aaa"))
      .toDF("id", "text")
    val out = DedupOps.exactDedup(df, "id", Seq("text"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L))
  }

  test("exactDedup fingerprint is injective over NULL positions and separators") {
    // (a, NULL, b) vs (a, b, NULL): concat_ws would skip the NULLs and
    // collide these into one fingerprint, silently dropping a distinct row
    val df = Seq(
      (1L, Option("a"), Option.empty[String], Option("b")),
      (2L, Option("a"), Option("b"), Option.empty[String]),
      (3L, Option("a:1"), Option("b"), Option.empty[String]), // netstring chars in data
      (4L, Option("a"), Option(":1b"), Option.empty[String])  // boundary shift attempt
    ).toDF("id", "c1", "c2", "c3")
    val out = DedupOps.exactDedup(df, "id", Seq("c1", "c2", "c3"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 4L)) // all four rows are distinct
    // and true duplicates (including NULL pattern) still collapse
    val dup = df.union(Seq((5L, Option("a"), Option.empty[String], Option("b")))
      .toDF("id", "c1", "c2", "c3"))
    val out2 = DedupOps.exactDedup(dup, "id", Seq("c1", "c2", "c3"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(out2 == Seq(1L, 2L, 3L, 4L))
  }

  test("connectedComponents labels every member with the component's min id") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (21L, 22L), (22L, 20L))
      .toDF("a", "b")
    val labels = DedupOps.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents converges on a path graph (needs many propagation rounds)") {
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = DedupOps.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 12 && labels.forall(_._2 == 1L))
  }

  test("connectedComponents: one-task DSU path and distributed loop agree on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 400).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("a", "b")
    val viaDsu = DedupOps.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = DedupOps.connectedComponents(edges, "a", "b", smallGraphEdges = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDsu == viaLoop)
    assert(viaDsu.nonEmpty)
  }

  test("fused shingle hashes equal the composable substr+md5 chain (incl. non-ASCII)") {
    val df = Seq(
      (1L, "hello world shingles"),
      (2L, "héllo wörld — ünïcode ✓ text"),
      (3L, "tiny"), // shorter than the shingle size
      (4L, "exact")) // exactly the shingle size
      .toDF("id", "text")
    val fused = df.select(col("id"), DedupOps.hashedShingles(col("text"), 5).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val composable = df.select(col("id"),
      transform(DedupOps.shingles(col("text"), 5),
        x => DedupOps.md5Hash32(x, "") % DedupOps.MinHashP).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == composable)
    assert(fused(3L).isEmpty && fused(4L).length == 1)
  }

  test("lshStarEdges spans the same components as pairwise candidate edges") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy dog once more today"),
      (4L, "completely different content that shares nothing with the others here"),
      (5L, "completely different content that shares nothing with the others here"))
      .toDF("doc_id", "text")
    def components(e: org.apache.spark.sql.DataFrame) =
      DedupOps.connectedComponents(e, "d1", "d2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = components(
      DedupOps.lshCandidatePairs(docs, "doc_id", "text", 8, 4, 5).select(col("d1"), col("d2")))
    val viaStars = components(DedupOps.lshStarEdges(docs, "doc_id", "text", 8, 4, 5))
    assert(viaPairs == viaStars && viaPairs.nonEmpty)
  }

  test("cdcChunks: shift-robust boundaries, exact reassembly, degenerate inputs") {
    import graft.operators.TextOps
    // deterministic pseudo-random text (~1.6k chars → ~25 boundaries at
    // the 2^6 mask) — hash hex so windows are well-mixed
    val base = (1 to 50).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"seed-$i".getBytes("UTF-8")).map("%02x".format(_)).mkString).mkString
    def chunksOf(t: String): Seq[(Int, Int, String)] =
      Seq(Tuple1(t)).toDF("text")
        .select(explode(TextOps.cdcChunks(col("text"))).as("c"))
        .select(col("c.idx"), col("c.len"), col("c.digest"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    val orig = chunksOf(base)
    assert(orig.length > 10, s"expected many chunks, got ${orig.length}")
    // chunks reassemble the document exactly
    assert(orig.map(_._2).sum == base.length)
    assert(orig.map(_._1) == (1 to orig.length))
    // THE CDC PROPERTY: a prefix edit re-chunks only its neighborhood —
    // every chunk after the first boundary past the edit keeps its digest
    // (fixed-stride chunking would re-digest the ENTIRE document here)
    val shifted = chunksOf("EDITED-PREFIX " + base)
    val kept = orig.map(_._3).toSet intersect shifted.map(_._3).toSet
    assert(kept.size >= orig.length - 2,
      s"only ${kept.size}/${orig.length} chunk digests survived a prefix edit")
    // ...and a mid-document edit preserves both flanks
    val mid = base.length / 2
    val midEdit = chunksOf(base.substring(0, mid) + "XYZ" + base.substring(mid))
    val keptMid = orig.map(_._3).toSet intersect midEdit.map(_._3).toSet
    assert(keptMid.size >= orig.length - 3,
      s"only ${keptMid.size}/${orig.length} survived a mid-document edit")
    // degenerate inputs: shorter than the window → one whole-doc chunk;
    // empty → no chunks
    assert(chunksOf("tiny") == Seq((1, 4,
      java.security.MessageDigest.getInstance("MD5")
        .digest("tiny".getBytes("UTF-8")).map("%02x".format(_)).mkString)))
    assert(chunksOf("") == Seq.empty)
  }

  test("knnLabelAgreement scores the fraction of same-label neighbors") {
    // 2-d toy space: ids 1,2,3 cluster near (1,0) with label 0 except id 3
    // (label 1); id 4 sits alone near (0,1) with label 1.
    val vecs = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(0.8f, 0.2f), 1),
      (4L, Array(0f, 1f), 1)).toDF("id", "v", "lab")
    val out = SimilarityOps.knnLabelAgreement(
      vecs, "id", "v", "lab", vecs, "id", "v", "lab", k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // id 1's 2-NN = {2, 3} → one of two shares label 0; id 3's 2-NN =
    // {1, 2} (closer than 4) → zero share label 1; id 4's 2-NN = {3, 2}
    // → 3 has label 1 → 0.5
    assert(out == Map(1L -> 0.5, 2L -> 0.5, 3L -> 0.0, 4L -> 0.5), out)
  }

  test("marginBitextMine: the ratio margin beats the raw-cosine hub") {
    // hub target 20 is near EVERY source; target 21 is the true match of
    // source 2 only. Raw cosine for source 2 prefers the hub; the margin
    // divides by the hub's inflated backward neighborhood and flips the
    // choice to 21 — the Artetxe & Schwenk effect in miniature.
    val src = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(0f, 1f, 0.55f)),
      (3L, Array(0.7f, 0.7f, 0f))).toDF("id", "v")
    val tgt = Seq(
      (20L, Array(0.6f, 0.6f, 0.5f)), // the hub: close to everything
      (21L, Array(0f, 0.8f, 0.65f)),  // genuinely parallel to source 2
      (22L, Array(0.9f, 0.1f, 0f))).toDF("id", "v")
    val out = SimilarityOps.marginBitextMine(src, "id", "v", tgt, "id", "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // OVERLAPPING id spaces (sentence-aligned corpora number both sides
    // 1..N): the gold pair (i, i) must survive — same-corpus
    // self-exclusion does not apply across corpora
    val srcN = Seq((1L, Array(1f, 0f, 0f)), (2L, Array(0f, 1f, 0f))).toDF("id", "v")
    val tgtN = Seq((1L, Array(0.99f, 0.1f, 0f)), (2L, Array(0.1f, 0.99f, 0f)))
      .toDF("id", "v")
    val aligned = SimilarityOps.marginBitextMine(srcN, "id", "v", tgtN, "id", "v", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(aligned == Map(1L -> 1L, 2L -> 2L), aligned)
    // raw cosine would pair source 2 with the hub 20 — assert the
    // premise, then that the margin picks 21 instead
    val raw = SimilarityOps.bruteForceTopK(src.filter(col("id") === 2L),
      "id", "v", tgt, "id", "v", k = 1)
      .collect().map(r => r.getLong(1)).head
    assert(raw == 20L || raw == 21L) // cosine is close either way
    assert(out(2L) == 21L, out)
    assert(out(1L) == 22L, out) // source 1's best margin is its true match
  }

  test("sourceUnigramJsd: 0 bits for identical distributions, 1 bit for disjoint vocabularies") {
    val docs = Seq(
      ("a", "x y z"), ("b", "x y z"),        // identical unigram dists
      ("c", "p q r p")).toDF("source", "text") // disjoint from both
    val out = CurationOps.sourceUnigramJsd(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("a", "b")) == 0.0, out)
    assert(out(("a", "c")) == 1.0 && out(("b", "c")) == 1.0, out)
    // partial overlap lands strictly between
    val mix = CurationOps.sourceUnigramJsd(
      Seq(("a", "x y"), ("b", "x q")).toDF("source", "text"), "source", "text")
      .collect().head.getDouble(2)
    assert(mix > 0.0 && mix < 1.0, mix)
  }

  test("l2TopK ranks by Euclidean distance ascending") {
    val vecs = Seq(
      (1L, Array(0f, 0f)),
      (2L, Array(1f, 0f)),
      (3L, Array(3f, 4f)),
      (4L, Array(0f, 2f))).toDF("id", "v")
    val out = SimilarityOps.l2TopK(vecs.filter(col("id") === 1L), "id", "v",
        vecs, "id", "v", k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(out == Seq((2L, 1.0, 1), (4L, 2.0, 2), (3L, 5.0, 3)))
  }

  test("tokenJaccard on known token sets") {
    val df = Seq(("a b c", "b c d")).toDF("x", "y")
      .select(DedupOps.tokenJaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].head() == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("sortedContainment catches doc-inside-doc that Jaccard suppresses") {
    // small set {a,b} fully inside the big one: containment 1.0, Jaccard 0.25
    val df = Seq((Seq("a", "b"), Seq("a", "b", "c", "d", "e", "f", "g", "h")))
      .toDF("x", "y")
      .select(DedupOps.sortedContainment(col("x"), col("y")).as("c"),
        DedupOps.sortedJaccard(col("x"), col("y")).as("j"))
    val (c, j) = df.as[(Double, Double)].head()
    assert(c == 1.0 && j == 0.25, s"c=$c j=$j")
    // symmetric: min(|a|,|b|) normalizes regardless of argument order
    val rev = Seq((Seq("a", "b", "c", "d", "e", "f", "g", "h"), Seq("a", "b")))
      .toDF("x", "y")
      .select(DedupOps.sortedContainment(col("x"), col("y")).as("c"))
    assert(rev.as[Double].head() == 1.0)
  }

  test("minhash is permutation-stable: identical text ⇒ identical signature") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "a completely different document"))
      .toDF("id", "text")
    val sig = DedupOps.minHashSignatures(df, "id", "text", 4, 5)
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("simHash16 of near-identical docs is close, different docs far") {
    def ham(a: Int, b: Int): Int = Integer.bitCount(a ^ b)
    val df = Seq(
      (1L, "spark query engine for large scale data processing pipelines"),
      (2L, "spark query engine for large scale data processing pipeline"),
      (3L, "completely unrelated words about cooking pasta tonight"))
      .toDF("id", "text")
    val m = df.select(col("id"), DedupOps.simHash16(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("c"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0))
  }

  test("decodePartitioned flows binary through mapPartitions and emits metadata") {
    val df = Seq((1L, "abcd"), (2L, "abcde")).toDF("id", "text")
      .withColumn("payload", col("text").cast("binary"))
      .drop("text")
    val out = MultimodalOps.decodePartitioned(df, "payload")
    assert(out.columns.toSeq == Seq("id", "meta"))
    val metas = out.select("id", "meta.width", "meta.format")
      .as[(Long, Int, String)].collect().map { case (k, v, f) => k -> ((v, f)) }.toMap
    assert(metas(1L) == ((4, "png")))
    assert(metas(2L) == ((5, "jpeg")))
  }

  test("resizePartitioned replaces the payload in place at the target size") {
    val df = Seq((1L, "abcdefgh"), (2L, ""), (3L, "xy")).toDF("id", "text")
      .withColumn("payload", col("text").cast("binary"))
      .drop("text")
    val out = MultimodalOps.resizePartitioned(df, "payload", outW = 4, outH = 2)
    assert(out.schema == df.schema) // schema preserved, payload swapped
    val sizes = out.select("id", "payload")
      .as[(Long, Array[Byte])].collect().map { case (k, b) => k -> b }.toMap
    assert(sizes.values.forall(_.length == 8)) // every payload resized to w*h
    assert(new String(sizes(1L)) == "abcdefgh") // same-size input passes through
    assert(sizes(2L).forall(_ == 0)) // empty input -> zeroed canvas
    // deterministic: same input bytes, same output bytes
    val again = MultimodalOps.resizePartitioned(df, "payload", 4, 2)
      .select("id", "payload").as[(Long, Array[Byte])].collect().map { case (k, b) => k -> b }.toMap
    assert(sizes.keys.forall(k => java.util.Arrays.equals(sizes(k), again(k))))
  }

  test("imageIoDecode parses real PNG and JPEG headers + pixels") {
    val png = MultimodalOps.syntheticImage(7L, 20, 12, "png")
    assert(MultimodalOps.imageIoDecode(png) == ((20, 12, 3, "png")))
    val jpg = MultimodalOps.syntheticImage(8L, 33, 9, "jpg")
    assert(MultimodalOps.imageIoDecode(jpg)._1 == 33)
    assert(MultimodalOps.imageIoDecode(jpg)._2 == 9)
    assert(MultimodalOps.imageIoDecode(jpg)._4 == "jpeg")
    // non-image bytes stay total, not an exception
    assert(MultimodalOps.imageIoDecode("not an image".getBytes) == ((0, 0, 0, "unknown")))
    assert(MultimodalOps.imageIoDecode(null) == ((0, 0, 0, "unknown")))
  }

  test("imageIoHeader agrees with the full pixel decode, without reading pixels") {
    for ((fmt, w, h) <- Seq(("png", 20, 12), ("jpg", 33, 9))) {
      val img = MultimodalOps.syntheticImage(7L, w, h, fmt)
      assert(MultimodalOps.imageIoHeader(img) == MultimodalOps.imageIoDecode(img))
    }
    assert(MultimodalOps.imageIoHeader("not an image".getBytes) == ((0, 0, 0, "unknown")))
    assert(MultimodalOps.imageIoHeader(null) == ((0, 0, 0, "unknown")))
    // memoized fixture generator returns the identical payload per key
    val a = MultimodalOps.syntheticImageCached(3L, 10, 8, "png")
    assert(java.util.Arrays.equals(a, MultimodalOps.syntheticImage(3L, 10, 8, "png")))
    assert(MultimodalOps.syntheticImageCached(3L, 10, 8, "png") eq a)
  }

  test("imageIoResize re-encodes at the target dimensions (decode round-trip)") {
    val png = MultimodalOps.syntheticImage(11L, 40, 30, "png")
    val small = MultimodalOps.imageIoResize(png, 16, 12)
    assert(MultimodalOps.imageIoDecode(small) == ((16, 12, 3, "png")))
    // deterministic: same input, same bytes
    assert(java.util.Arrays.equals(small, MultimodalOps.imageIoResize(png, 16, 12)))
    // undecodable payload falls back to the stub (w*h bytes)
    assert(MultimodalOps.imageIoResize("junk".getBytes, 4, 2).length == 8)
  }

  test("decodePartitioned with the REAL decoder emits true dimensions") {
    val rows = Seq(1L, 2L, 3L).map(i =>
      (i, MultimodalOps.syntheticImage(i, 10 + i.toInt, 5 + i.toInt, "png")))
    val df = rows.toDF("id", "img")
    val out = MultimodalOps.decodePartitioned(df, "img", MultimodalOps.imageIoDecode)
      .select("id", "meta.width", "meta.height", "meta.format")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    Seq(1L, 2L, 3L).foreach { i =>
      assert(out(i) == ((10 + i.toInt, 5 + i.toInt, "png")))
    }
  }

  test("IVF: assignment matches brute-force nearest centroid; ANN finds self-cluster neighbors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = IvfIndex.train(emb, "embedding", k = 4, iters = 2)
    assert(model.k == 4)
    assert(model.centroids.forall(_.length == 64))
    // assignment sanity: every vector gets a cluster in range, all clusters used
    val clusters = emb.select(IvfIndex.assignCluster(col("embedding"), model).as("c"))
      .groupBy("c").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(clusters.keys.forall(c => c >= 0 && c < 4))
    assert(clusters.size >= 2, s"degenerate clustering: $clusters")
    // probing all clusters == brute force top-k
    val ivfAll = IvfIndex.annTopK(emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      emb, "vec_id", "embedding", model, k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val brute = SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(ivfAll == brute)
  }

  test("hardNegatives excludes the anchor's label and equals the per-anchor filtered brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val anchors = emb.filter(col("vec_id") < 4)
    val rows = SimilarityOps.hardNegatives(anchors, "vec_id", "embedding", "label",
      emb, "vec_id", "embedding", "label", k = 3).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(labels(r.getLong(r.fieldIndex("neighbor_id"))) !=
        r.getInt(r.fieldIndex("anchor_label")))
    }
    // per anchor, identical to brute-force top-k over the other-label candidates
    anchors.select("vec_id", "label").collect().foreach { a =>
      val (aid, albl) = (a.getLong(0), a.getInt(1))
      val expected = SimilarityOps.bruteForceTopK(
        anchors.filter(col("vec_id") === aid), "vec_id", "embedding",
        emb.filter(col("label") =!= albl), "vec_id", "embedding", k = 3)
        .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
      val mine = rows.filter(_.getLong(0) == aid)
        .map(r => (r.getLong(r.fieldIndex("neighbor_id")), r.getInt(r.fieldIndex("rk")))).toSet
      assert(mine == expected, s"anchor $aid")
    }
  }

  test("fused NormalizeText equals regexp_replace(lower(trim), ' +', ' ')") {
    def composable(t: org.apache.spark.sql.Column) =
      regexp_replace(lower(trim(t)), " +", " ")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.filter(graft.functions.TextStatsExpression.normalizeText(col("text"))
      =!= composable(col("text"))).count() == 0L)
    val edges = Seq("", " ", "  A  B  ", "MiXeD CaSe", "ÄÖÜ STRASSE", "🐥  DUCK", "tab\tX  Y")
      .toDF("text")
    assert(edges.filter(graft.functions.TextStatsExpression.normalizeText(col("text"))
      =!= composable(col("text"))).count() == 0L)
  }

  test("fused TextStats equals the composable split/filter forms, incl. edges") {
    val stopArr = array(TextOps.DefaultStopwords.map(lit): _*)
    def composableTokens(t: org.apache.spark.sql.Column) = split(trim(t), " ")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val bad = df.filter(
        TextOps.tokenCount(col("text")) =!= size(composableTokens(col("text"))) ||
        TextOps.stopwordCount(col("text")) =!=
          size(filter(composableTokens(col("text")), t => array_contains(stopArr, t))) ||
        TextOps.avgTokenLength(col("text")) =!=
          (length(regexp_replace(col("text"), " ", "")) / size(composableTokens(col("text")))))
        .count()
      assert(bad == 0L)
    }
    check(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    check(Seq("", " ", "   ", "the", " the  a ", "a  b", "tab\there", "🐥 the 🐥", "of")
      .toDF("text"))
  }

  test("fused Md5Hash32 equals the composable conv(substring(md5)) chain") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val composable = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
    val bad = docs.filter(DedupOps.md5Hash32(col("text"), "") =!= composable).count()
    assert(bad == 0L)
    // unicode + empty-string edges
    val edge = Seq("", "a", "🐥 unicode", "x" * 10000).toDF("s")
    val bad2 = edge.filter(DedupOps.md5Hash32(col("s"), "salt") =!=
      conv(substring(md5(concat(col("s"), lit("salt"))), 1, 8), 16, 10).cast("long")).count()
    assert(bad2 == 0L)
  }

  test("shingles of texts shorter than n are empty, not garbage positions") {
    val df = Seq((1L, "ab"), (2L, "abcd"), (3L, "abcde"), (4L, "abcdef"))
      .toDF("id", "text")
      .select(col("id"), DedupOps.shingles(col("text"), 5).as("sh"))
    val m = df.as[(Long, Seq[String])].collect().toMap
    assert(m(1L) == Seq.empty && m(2L) == Seq.empty)
    assert(m(3L) == Seq("abcde"))
    assert(m(4L) == Seq("abcde", "bcdef"))
  }

  test("minHashSignatures keeps no-shingle docs as NULL rows; LSH excludes them") {
    val df = Seq((1L, "ab"), (2L, "a much longer document body"), (3L, "zz"))
      .toDF("id", "text")
    val sig = DedupOps.minHashSignatures(df, "id", "text", 4, 5)
    val rows = sig.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "short docs must not be dropped")
    assert(rows(1L) && rows(3L) && !rows(2L))
    // short docs never become near-dup candidates (their bucket is NULL)
    val pairs = DedupOps.lshCandidatePairs(df, "id", "text", 4, 2, 5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 1L || p._2 == 1L || p._1 == 3L || p._2 == 3L))
  }

  test("fused kernels match their composable HOF forms bit-exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(64).select(col("vec_id"), col("embedding"))
    val planes = SimilarityOps.hyperplanes(4, 64)
    val planeArr = array(planes.head.map(lit).toIndexedSeq: _*)
    val hofDot = aggregate(zip_with(col("embedding"), planeArr, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val hofSq = aggregate(zip_with(col("embedding"), planeArr, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val diffs = emb.select(
      (SimilarityOps.dotFD(col("embedding"), planeArr) === hofDot).as("dOk"),
      (graft.functions.VectorExpressions.sqDistFD(col("embedding"), planeArr) === hofSq).as("sOk"))
      .as[(Boolean, Boolean)].collect()
    assert(diffs.forall(t => t._1 && t._2), "fused kernel diverged from HOF form")
  }

  test("IntersectCountS equals size(array_intersect) on sorted distinct arrays") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(40)
    val tok = array_sort(array_distinct(TextOps.tokens(col("text"))))
    val a = docs.select(col("doc_id").as("d1"), tok.as("ta"))
    val b = docs.select(col("doc_id").as("d2"), tok.as("tb"))
    val joined = a.join(b, col("d1") < col("d2"))
    val bad = joined.filter(
      graft.functions.VectorExpressions.intersectCountSorted(col("ta"), col("tb"))
        =!= size(array_intersect(col("ta"), col("tb"))).cast("long")).count()
    assert(bad == 0L)
    // and on hand-built edge cases: empty, disjoint, identical, subset
    val edge = Seq(
      (Seq.empty[String], Seq.empty[String], 0L),
      (Seq("a", "b"), Seq.empty[String], 0L),
      (Seq("a", "b"), Seq("c", "d"), 0L),
      (Seq("a", "b", "c"), Seq("a", "b", "c"), 3L),
      (Seq("a", "c"), Seq("a", "b", "c", "d"), 2L))
      .toDF("x", "y", "expect")
    val wrong = edge.filter(
      graft.functions.VectorExpressions.intersectCountSorted(col("x"), col("y")) =!= col("expect"))
      .count()
    assert(wrong == 0L)
  }

  test("bucketed ANN index: partition-pruned probe matches in-memory annTopK") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ann-index").toString
    SimilarityOps.writeBucketedIndex(emb, "vec_id", "embedding", 4, 64, dir)
    val queries = emb.filter(col("vec_id") < 4)
    val probed = SimilarityOps.probeBucketedIndex(spark, dir, queries,
      "vec_id", "embedding", "vec_id", "embedding", 4, 64, k = 3)
    // the scan plan must prune to the queries' bucket partitions
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket partition pruning in plan:\n$plan")
    val fromIndex = probed.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    val inMemory = SimilarityOps.annTopK(queries, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3, numPlanes = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(fromIndex == inMemory)
    // above the literal-list threshold the probe switches to a broadcast
    // LEFT SEMI join on the bucket column (no driver collect, no giant
    // IN literal) — identical rows
    val semi = SimilarityOps.probeBucketedIndex(spark, dir, queries,
      "vec_id", "embedding", "vec_id", "embedding", 4, 64, k = 3,
      maxLiteralBuckets = 4) // 2^4 = 16 possible buckets > 4 → semi-join path
    val semiPlan = semi.queryExecution.executedPlan.toString
    // rendered attributes carry exprIds ("bucket#12 IN (...)"), so the
    // negative match must allow for them or it can never fire
    assert(semiPlan.contains("LeftSemi") &&
        "bucket#\\d+ IN \\(".r.findFirstIn(semiPlan).isEmpty,
      s"expected a bucket semi-join instead of the IN literal:\n$semiPlan")
    val fromSemi = semi.collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(fromSemi == inMemory)
  }

  test("ANN index is self-describing: plane-parameter drift fails loudly on probe and append") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("annmeta").toString + "/idx"
    SimilarityOps.writeBucketedIndex(emb, "vec_id", "embedding", 4, 64, dir)
    val e = intercept[IllegalArgumentException](
      SimilarityOps.probeBucketedIndex(spark, dir,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        "vec_id", "embedding", numPlanes = 5, dim = 64, k = 3))
    assert(e.getMessage.contains("numPlanes=4") && e.getMessage.contains("numPlanes=5"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SimilarityOps.appendToBucketedIndex(emb, "vec_id", "embedding", 4, 32, dir))
    assert(e2.getMessage.contains("dim=64") && e2.getMessage.contains("dim=32"),
      e2.getMessage)
    // compaction keeps the sidecar (the _GRAFT_ carry): probe still gated
    SimilarityOps.compactBucketedIndex(spark, dir)
    assert(new java.io.File(dir, "_GRAFT_ANN_META").exists,
      "compaction dropped the ANN meta sidecar")
    val e3 = intercept[IllegalArgumentException](
      SimilarityOps.probeBucketedIndex(spark, dir,
        emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        "vec_id", "embedding", numPlanes = 5, dim = 64, k = 3))
    assert(e3.getMessage.contains("numPlanes=4"), e3.getMessage)
  }

  test("canonicalUrl: every rule fires and NULL propagates") {
    val cases = Seq(
      // fragment drop + case fold + default port + trailing slash +
      // tracking strip + param sort, all at once
      "HTTP://WWW.Ex.COM:80/a/B/?b=2&utm_source=x&a=1#Frag" -> "http://www.ex.com/a/B?a=1&b=2",
      "https://ex.com:443/" -> "https://ex.com",           // root path collapses
      "https://ex.com:8443/p" -> "https://ex.com:8443/p",  // non-default port kept
      "http://ex.com:443/p" -> "http://ex.com:443/p",      // 443 is not http's default
      "http://ex.com/p?fbclid=z&gclid=y" -> "http://ex.com/p", // all tracking → no '?'
      "http://ex.com/p?ref=main" -> "http://ex.com/p?ref=main", // ref NOT in the default list
      "https://alice:pw@Ex.com/a" -> "https://ex.com/a",   // userinfo never keys identity
      "http://[2001:DB8::1]:8080/p" -> "http://[2001:db8::1]:8080/p", // IPv6 colons survive
      "http://[2001:db8::1]:80/p" -> "http://[2001:db8::1]/p",        // default port, bracketed
      "http://ex.com:8080x/p" -> "http://ex.com:8080x/p", // garbage port kept VERBATIM, no collision
      "http://ex.com:0080/p" -> "http://ex.com/p",        // leading zeros ≡ default port
      // percent-encoding (RFC 3986 §6.2.2.2): unreserved escapes decode,
      // others get canonical uppercase hex; malformed escapes verbatim
      "http://ex.com/%7Euser/%41%2fb?x=%7E1" -> "http://ex.com/~user/A%2Fb?x=~1",
      "http://ex.com/a%G1%" -> "http://ex.com/a%G1%",
      // schemeless crawl garbage passes through VERBATIM — never "://…"
      "example.com/a?utm_source=x" -> "example.com/a?utm_source=x",
      "//cdn.ex.com/lib.js" -> "//cdn.ex.com/lib.js",
      "https://ex.com:00443/p" -> "https://ex.com/p",
      "http://ex.com" -> "http://ex.com")
    val got = cases.map(_._1).toDF("u")
      .select(TextOps.canonicalUrl(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2),
      got.zip(cases.map(_._2)).filter(p => p._1 != p._2).mkString("; "))
    // extended tracking list: caller opts ref in
    val refGot = Seq("http://ex.com/p?ref=a&b=1").toDF("u")
      .select(TextOps.canonicalUrl(col("u"),
        Seq("utm_[^=]*", "fbclid", "gclid", "ref")).as("c"))
      .collect().head.getString(0)
    assert(refGot == "http://ex.com/p?b=1", refGot)
    val n = Seq(Option.empty[String]).toDF("u")
      .select(TextOps.canonicalUrl(col("u"))).collect()
    assert(n.head.isNullAt(0))
    // host extraction: userinfo and port stripped, case folded
    val hosts = Seq("HTTP://alice:pw@WWW.Ex.COM:8080/p?a=1#f", "https://ex.com")
      .toDF("u").select(TextOps.urlHost(col("u"))).collect().map(_.getString(0)).toSeq
    assert(hosts == Seq("www.ex.com", "ex.com"), hosts.mkString("; "))
  }

  test("scrubPii: every rule fires, order shields email digits, counts precede rewriting, NULL propagates") {
    val cases = Seq(
      // one of each, mixed prose
      "mail a.b+c%d@sub.ex.co.uk now" -> "mail <EMAIL> now",
      "server at 10.0.255.7 down" -> "server at <IP> down",
      "call +44 555-123-4567 today" -> "call <PHONE> today",
      // email digits never feed the phone/ip rules (email runs first,
      // placeholder carries no digits)
      "x1.2.3.4@ex.com" -> "<EMAIL>",
      // ip rule is recall-first: no octet range check
      "999.999.999.999" -> "<IP>",
      // dotted phone separators; trailing boundary at end of string
      "+1 555.123.4567" -> "<PHONE>",
      // bare domestic digit runs are NOT phones (ids/years/quantities)
      "ticket 5551234567 of 2024" -> "ticket 5551234567 of 2024",
      // version-ish dotted pairs are not IPs (needs all four octets)
      "v1.2.3 and 1.2 remain" -> "v1.2.3 and 1.2 remain",
      "" -> "")
    val got = cases.map(_._1).toDF("t")
      .select(TextOps.scrubPii(col("t")).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2),
      got.zip(cases.map(_._2)).filter(p => p._1 != p._2).mkString("; "))
    // counts are per-rule on the ORIGINAL text (independent rules; the
    // email's embedded quad is NOT an extra IP — 'x1' has no \b)
    val c = Seq("a@ex.com b@ex.org 1.2.3.4 +1 555-1234 x1.2.3.4@ex.com")
      .toDF("t").select(TextOps.piiCounts(col("t")).as("p"))
      .select("p.n_email", "p.n_ip", "p.n_phone")
      .collect().head
    assert((c.getInt(0), c.getInt(1), c.getInt(2)) == ((3, 1, 1)), c.toString)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TextOps.scrubPii(col("t")), TextOps.piiCounts(col("t"))).collect()
    assert(n.head.isNullAt(0))
  }

  test("PII kernel ≡ java.util.regex reference: scrub and counts over 3000 fragment-junction cases") {
    import graft.functions.PiiUtil
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop}
    val pats = Seq(TextOps.PiiEmailPattern, TextOps.PiiIpv4Pattern,
      TextOps.PiiPhonePattern).map(java.util.regex.Pattern.compile)
    val toks = Seq("<EMAIL>", "<IP>", "<PHONE>")
    def refScrub(s: String): String =
      pats.zip(toks).foldLeft(s) { case (t, (p, tok)) =>
        p.matcher(t).replaceAll(java.util.regex.Matcher.quoteReplacement(tok)) }
    def refCounts(s: String): (Int, Int, Int) = {
      def c(p: java.util.regex.Pattern) = {
        val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
      }
      (c(pats(0)), c(pats(1)), c(pats(2)))
    }
    def kScrub(s: String): String = PiiUtil.scrub(UTF8String.fromString(s),
      toks(0).getBytes, toks(1).getBytes, toks(2).getBytes).toString
    def kCounts(s: String): (Int, Int, Int) = {
      val r = PiiUtil.counts(UTF8String.fromString(s))
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
    // junction-heavy fragments: valid PII, near-misses, boundary bait
    val frag = Gen.oneOf(Gen.oneOf(
      "a@ex.com", "x1.2.3.4@e.co", "a@b.c", "@ex.com", "a@", "a@@b.com",
      "user@sub.ex.co.uk3", "a.b+c%d@x-y.org", "a@1.2.3.4", "a@b..com", "a@.com"),
      Gen.oneOf(
        "1.2.3.4", "999.999.999.999", "1234.5.6.7", "1.2.3.4567", "1.2.3.4.5",
        "11.22.33.44", "1.2.3", "0.0.0.0_", "a1.2.3.4", "1.2.3.4a"),
      Gen.oneOf(
        "+1 555-1234", "+44 555-123-4567", "+1 555.123.4567", "+123 4567",
        "+1-555-1234", "+1 5551234567", "+1 555 12", "+12 345-678 word",
        "+12 345-678 ,", "+ 555-1234", "+1  555-1234", "5551234567",
        "+1 55512345678", "+1 555-123456789",
        // unseparated paste formats (r14: the first separator is
        // optional, the country code backtracks inside a long run)
        "+14155551234", "+441234567890", "+12345678901234", "+1234567",
        "+123456", "+14155551234567890", "+1415-555-1234"),
      Gen.oneOf(" ", ".", "-", "", "word", "é日", "_", "2024", "..", "+", "@", "%"))
    val strGen = Gen.listOf(frag).map(_.mkString)
    val prop = Prop.forAll(strGen) { s =>
      val ok = kScrub(s) == refScrub(s) && kCounts(s) == refCounts(s)
      if (!ok) println(s"PII parity break on <$s>: kernel=${kScrub(s)}/${kCounts(s)} " +
        s"regex=${refScrub(s)}/${refCounts(s)}")
      ok
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(3000), prop)
    assert(result.passed, result.status.toString)
    // the Column plumbing builds the same kernel (vs the regex Column form)
    val rows = Seq("a@ex.com at 1.2.3.4 or +1 555-1234 x1.2.3.4@e.co word",
      "+12 345-678 word 999.999.999.999 user@sub.ex.co.uk3").toDF("t")
    val both = rows.select(
      TextOps.scrubPii(col("t")).as("k"), TextOps.scrubPiiRegex(col("t")).as("r"),
      TextOps.piiCounts(col("t")).as("kc"), TextOps.piiCountsRegex(col("t")).as("rc"))
      .collect()
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"${r.getString(0)} != ${r.getString(1)}")
      assert(r.getStruct(2) == r.getStruct(3), s"${r.getStruct(2)} != ${r.getStruct(3)}")
    }
  }

  test("signature ledger: write + append probes equal the direct cross-dedup") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("sigled").toString + "/led"
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val gen1 = docs.filter((col("doc_id") % 10).between(1, 5))
    val gen2 = docs.filter(col("doc_id") % 10 > 5)
    DedupOps.writeSignatureLedger(gen1, "doc_id", "text", dir)
    DedupOps.appendToSignatureLedger(gen2, "doc_id", "text", dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val atRest = rows(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir))
    val direct = rows(DedupOps.crossDedupPairs(batch, gen1.unionByName(gen2), "doc_id", "text"))
    assert(atRest == direct && direct.nonEmpty, s"atRest=$atRest direct=$direct")
  }

  test("Qf.concurrently: wedged leg fails loudly at the deadline, sibling failures ride as suppressed") {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set("spark.graft.concurrentLegTimeoutSec", "2")
    try {
      val t0 = System.nanoTime()
      val e = intercept[java.util.concurrent.TimeoutException](
        graft.queries.Qf.concurrently(
          () => Thread.sleep(15000), // wedged leg: never completes in time
          () => throw new RuntimeException("sibling failure")))
      assert((System.nanoTime() - t0) / 1e9 < 10,
        "the deadline must bound the wait — Duration.Inf would hang here")
      assert(e.getMessage.contains("wedged"), e.getMessage)
      assert(e.getSuppressed.exists(_.getMessage == "sibling failure"),
        s"sibling failure dropped: [${e.getSuppressed.mkString(", ")}]")
      // two plain failures: first declared stays primary, second suppressed
      val e2 = intercept[RuntimeException](graft.queries.Qf.concurrently(
        () => throw new RuntimeException("first"),
        () => throw new RuntimeException("second")))
      assert(e2.getMessage == "first", e2.getMessage)
      assert(e2.getSuppressed.exists(_.getMessage == "second"),
        s"second failure dropped: [${e2.getSuppressed.mkString(", ")}]")
      // a fatal throwable must complete the leg's future (surfacing
      // boxed, scala.concurrent's fatal-error convention), not hang it
      // until the deadline: Future(l()) would never complete here
      val t1 = System.nanoTime()
      val e3 = intercept[Throwable](graft.queries.Qf.concurrently(
        () => throw new StackOverflowError("fatal in leg")))
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e3).exists(_.isInstanceOf[StackOverflowError]), e3.toString)
      assert((System.nanoTime() - t1) / 1e9 < 1.5,
        "fatal error must surface immediately, not via the deadline")
    } finally spark.conf.unset("spark.graft.concurrentLegTimeoutSec")
  }

  test("crossPairsCore precondition: duplicated batch-side rows multiply emitted pairs (invariant pin)") {
    // the batch side `n` MUST be one row per id (minHashSignatures'
    // groupBy(id) guarantees it) — this spec feeds a deliberately
    // duplicated `n` and pins the failure mode (every pair emitted once
    // per copy), so the no-dedup expansion invariant cannot rot silently
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    def keyed(df: org.apache.spark.sql.DataFrame) = {
      val sig = DedupOps.minHashSignatures(df, "doc_id", "text", 8, 5)
        .filter(col("mh0").isNotNull)
      sig.withColumn("__sig", md5(concat_ws("_",
        (0 until 8).map(i => col(s"mh$i").cast("string")): _*)))
    }
    val n = keyed(batch)
    val c = keyed(corpus)
    val clean = DedupOps.crossPairsCore(n, c, None, "doc_id", 8, 4)
    val dup = DedupOps.crossPairsCore(n.unionByName(n), c, None, "doc_id", 8, 4)
    val nClean = clean.count()
    assert(nClean > 0, "fixture produced no cross pairs")
    assert(dup.count() == 2 * nClean,
      s"duplicated batch rows must multiply pairs (got ${dup.count()} vs 2*$nClean)")
  }

  test("signature-ledger pre-banded index: probe ≡ recompute, dropped by append, rebuilt by compaction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("sigidx").toString + "/led"
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val gen1 = docs.filter((col("doc_id") % 10).between(1, 5))
    val gen2 = docs.filter(col("doc_id") % 10 > 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val idxDir = new java.io.File(dir, "_GRAFT_SIG_INDEX2_B4")
    // creation deliberately writes NO index (the standalone ledger's
    // steady state is append-then-probe, and an append drops it —
    // creation-time banding would be a write tax); compaction does
    DedupOps.writeSignatureLedger(gen1, "doc_id", "text", dir)
    assert(!idxDir.exists, "standalone creation must not pay the index write")
    DedupOps.compactSignatureLedger(spark, dir, targetFiles = 2)
    assert(new java.io.File(idxDir, "bands/_SUCCESS").exists,
      "compaction did not leave a complete pre-banded index")
    val viaIndex = rows(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir))
    // index ≡ recomputed: deleting the subdir forces the derive path
    def deleteRec(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec); f.delete()
    }
    deleteRec(idxDir)
    val viaDerive = rows(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir))
    assert(viaIndex == viaDerive && viaIndex.nonEmpty,
      s"index/recompute divergence: $viaIndex != $viaDerive")
    // an append DROPS the (stale-to-be) index before its rows land...
    DedupOps.compactSignatureLedger(spark, dir, targetFiles = 2) // rebuild first
    assert(new java.io.File(idxDir, "bands/_SUCCESS").exists,
      "compaction did not rebuild the pre-banded index")
    DedupOps.appendToSignatureLedger(gen2, "doc_id", "text", dir)
    assert(!idxDir.exists,
      "append left a stale pre-banded index behind — probes would " +
        "silently miss collisions with the appended rows")
    // ...and the post-append probe (derive path) still equals direct
    val atRest = rows(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir))
    val direct = rows(DedupOps.crossDedupPairs(batch, gen1.unionByName(gen2), "doc_id", "text"))
    assert(atRest == direct, s"atRest=$atRest direct=$direct")
    // compaction rebuilds; the indexed probe over BOTH generations
    // again equals direct (n_bands included — the index collapses
    // replayed duplicates exactly like the recompute path)
    DedupOps.compactSignatureLedger(spark, dir, targetFiles = 2)
    assert(new java.io.File(idxDir, "bands/_SUCCESS").exists)
    assert(rows(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir)) == direct)
  }

  test("signature ledger is self-describing: parameter mismatch fails loudly, meta survives compaction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("sigmeta").toString + "/led"
    val gen1 = docs.filter((col("doc_id") % 10).between(1, 5))
    val batch = docs.filter(col("doc_id") % 10 === 0)
    DedupOps.writeSignatureLedger(gen1, "doc_id", "text", dir, numHashes = 8, shingleSize = 5)
    // a probe with drifted shingling must throw naming BOTH sides —
    // without the gate it would silently degrade recall
    val e = intercept[IllegalArgumentException](
      DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir, shingleSize = 7))
    assert(e.getMessage.contains("shingleSize=5") && e.getMessage.contains("shingleSize=7"),
      e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      DedupOps.appendToSignatureLedger(batch, "doc_id", "text", dir, numHashes = 6, shingleSize = 5))
    assert(e2.getMessage.contains("numHashes=8") && e2.getMessage.contains("numHashes=6"),
      e2.getMessage)
    // the sidecar rides through compaction (advanceInPlace _GRAFT_ carry)
    DedupOps.compactSignatureLedger(spark, dir, targetFiles = 2)
    assert(new java.io.File(dir, "_GRAFT_SIG_META").exists,
      "compaction dropped the signature-ledger meta sidecar")
    val e3 = intercept[IllegalArgumentException](
      DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir, shingleSize = 7))
    assert(e3.getMessage.contains("shingleSize=5"), e3.getMessage)
    assert(DedupOps.crossDedupAgainstSignatures(batch, "doc_id", "text", dir).count() > 0)
    // legacy ledger (no sidecar): first append adopts the caller's values
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_GRAFT_SIG_META"))
    DedupOps.appendToSignatureLedger(
      docs.filter(col("doc_id") % 10 > 5), "doc_id", "text", dir)
    assert(new java.io.File(dir, "_GRAFT_SIG_META").exists,
      "append did not stamp a pre-sidecar ledger")
  }

  test("span-hash ledger: scrub-against-ledger equals whole-corpus scrub on the batch slice") {
    // incremental == batch equivalence: scrubbing a probe slice against
    // a ledger of the REST of the corpus must give the same rows the
    // whole-corpus scrubDuplicatedSpans gives for those docs, because
    // the rest-slice was admitted first (its ids are all smaller —
    // corpus canonical copies live there whenever a hash is shared)
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "q r a b c d e w"),
      (10L, "x y a b c d e z"),   // probe: shares "a b c d e" with corpus
      (11L, "m n o p m n o p m n o p"), // probe: self-repeating, fresh hashes
      (12L, "u v w x y z a a"))   // probe: no recurrence
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 10)
    val probe = docs.filter(col("doc_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("spanled").toString + "/led"
    DedupOps.writeSpanHashLedger(corpus, "doc_id", "text", k = 4, dir)
    val got = DedupOps.scrubAgainstSpanLedger(probe, "doc_id", "text", dir)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (10L, "x y z", 5L),          // ledger hit: span cut, corpus holds canonical
      (11L, "m n o p", 8L),        // fresh hashes: within-batch rule applies
      (12L, "u v w x y z a a", 0L)))
    val whole = DedupOps.scrubDuplicatedSpans(docs, "doc_id", "text", k = 4)
      .filter(col("doc_id") >= 10)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == whole, s"incremental=$got whole=$whole")
  }

  test("span-hash ledger is self-describing: k mismatch fails loudly; replayed append + compaction are lossless") {
    val docs = Seq((1L, "a b c d e f"), (10L, "p q a b c d e")).toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 10)
    val probe = docs.filter(col("doc_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("spanmeta").toString + "/led"
    DedupOps.writeSpanHashLedger(corpus, "doc_id", "text", k = 4, dir)
    val e = intercept[IllegalArgumentException](
      DedupOps.appendToSpanHashLedger(probe, "doc_id", "text", k = 5, dir))
    assert(e.getMessage.contains("k=4") && e.getMessage.contains("k=5"), e.getMessage)
    val before = DedupOps.scrubAgainstSpanLedger(probe, "doc_id", "text", dir)
      .as[(Long, String, Long)].collect().toSeq
    // replayed append (same batch twice) + compaction change nothing
    DedupOps.appendToSpanHashLedger(corpus, "doc_id", "text", k = 4, dir)
    DedupOps.appendToSpanHashLedger(corpus, "doc_id", "text", k = 4, dir)
    DedupOps.compactSpanHashLedger(spark, dir, targetFiles = 2)
    assert(new java.io.File(dir, "_GRAFT_SPAN_META").exists,
      "compaction dropped the span-ledger meta sidecar")
    val after = DedupOps.scrubAgainstSpanLedger(probe, "doc_id", "text", dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(before == after, s"before=$before after=$after")
  }

  test("canonicalUrl property: parses any assembled URL back to the component-built canonical") {
    import org.scalacheck.{Gen, Prop}
    // mirror of the d47 oracle at property scale: the URL is ASSEMBLED
    // from known components, the reference canonical is BUILT from
    // them, and the column function must recover it by parsing alone
    // "" = schemeless crawl garbage: assembled WITHOUT "://" and the
    // canonical is the raw input VERBATIM (pass-through policy)
    val schemes = Gen.oneOf("http", "HTTPS", "HtTp", "ftp", "")
    val users = Gen.oneOf("", "u@", "alice:pw@")
    val hosts = Gen.oneOf("Ex.COM", "WWW.site5.org", "[2001:DB8::1]", "localhost")
    val ports = Gen.oneOf("", ":80", ":443", ":8080", ":0080", ":00443", ":8080x")
    val paths = Gen.oneOf("", "/", "/A/b", "/a/b/", "/a//", "/p",
      "/%7Eu", "/%41b", "/a%2fb", "/%2F/")
    val queries = Gen.someOf(Seq("a=1", "B=2", "utm_source=x", "fbclid=z", "c=",
      "x=%7E1", "y=%2F2")).map(_.toList)
    val frags = Gen.oneOf("", "#f", "#Sec1")
    // component-built percent normalization (imperative, deliberately
    // nothing like the column function's split/transform shape)
    def refPct(s: String): String = {
      val m = java.util.regex.Pattern.compile("%([0-9A-Fa-f]{2})").matcher(s)
      val sb = new StringBuffer
      while (m.find()) {
        val code = Integer.parseInt(m.group(1), 16)
        val unreserved = (code >= 48 && code <= 57) || (code >= 65 && code <= 90) ||
          (code >= 97 && code <= 122) || code == 45 || code == 46 || code == 95 || code == 126
        val rep = if (unreserved) code.toChar.toString else "%" + m.group(1).toUpperCase
        m.appendReplacement(sb, java.util.regex.Matcher.quoteReplacement(rep))
      }
      m.appendTail(sb); sb.toString
    }
    def refCanonical(scheme: String, host: String, port: String,
        path: String, params: List[String]): String = {
      val ls = scheme.toLowerCase
      val lh = host.toLowerCase
      val portNorm =
        if (port.isEmpty) ""
        else if (port.matches(":[0-9]+")) {
          val num = port.drop(1).replaceFirst("^0+([0-9])", "$1")
          if ((ls == "http" && num == "80") || (ls == "https" && num == "443")) ""
          else ":" + num
        } else port // garbage tail verbatim
      val pathNorm = refPct(path.replaceAll("/+$", ""))
      val kept = params.map(refPct).filter(p =>
        p.nonEmpty && !p.matches("(utm_[^=]*|fbclid|gclid)=.*")).sorted
      val qNorm = kept.mkString("&")
      ls + "://" + lh + portNorm + pathNorm +
        (if (qNorm.isEmpty) "" else "?" + qNorm)
    }
    val gen = for {
      s <- schemes; u <- users; h <- hosts; p <- ports
      pa <- paths; q <- queries; f <- frags
    } yield (s, u, h, p, pa, q, f)
    val prop = Prop.forAll(gen) { case (s, u, h, p, pa, q, f) =>
      val qs = if (q.isEmpty) "" else "?" + q.mkString("&")
      val url =
        if (s.isEmpty) u + h + p + pa + qs + f // schemeless: no "://"
        else s + "://" + u + h + p + pa + qs + f
      val got = Seq(url).toDF("u")
        .select(TextOps.canonicalUrl(col("u"))).collect().head.getString(0)
      val want = if (s.isEmpty) url else refCanonical(s, h, p, pa, q)
      if (got != want) println(s"URL $url: got $got want $want")
      got == want
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(result.passed, result.status.toString)
  }

  test("d10 n-gram jaccard keeps NULL-text documents in the pair output") {
    // the oracle's pair join has no predicate on the token set, so a
    // NULL-text document still pairs with every anchor (NULL jaccard);
    // the duplicate-set collapse must expand through NULL-SAFE joins or
    // those rows vanish
    val dir = java.nio.file.Files.createTempDirectory("d10null").toString
    Seq((0L, Some("alpha beta")), (1L, Some("alpha beta")), (2L, Option.empty[String]))
      .toDF("doc_id", "text").write.parquet(dir + "/documents.parquet")
    val out = graft.SparkEntry.queries("d10_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSeq
    assert(out == Seq((0L, 1L, Some(1.0)), (0L, 2L, None)))
  }

  test("SkewOps.saltedAgg is row-identical to the plain aggregation") {
    import SkewOps._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val salted = saltedAgg(li, Seq("l_returnflag"), salts = 16, Seq(
      CountAgg("n"), MinAgg(col("l_quantity"), "mn"), MaxAgg(col("l_quantity"), "mx")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val plain = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), min(col("l_quantity")).as("mn"), max(col("l_quantity")).as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(salted == plain)
  }

  test("SkewOps.saltedJoin is row-identical to the plain equi-join") {
    import spark.implicits._
    // hot key: id 7 carries half the big side
    val big = ((1L to 500L).map(i => (i % 20, s"b$i")) ++
      (1L to 500L).map(i => (7L, s"hot$i"))).toDF("id", "payload")
    val small = (0L to 19L).map(i => (i, s"dim$i")).toDF("id", "attr")
    for (salts <- Seq(1, 4, 16)) {
      val salted = SkewOps.saltedJoin(big, small, "id", salts)
        .select("id", "payload", "attr").as[(Long, String, String)].collect().sorted.toSeq
      val plain = big.join(small, Seq("id"))
        .select("id", "payload", "attr").as[(Long, String, String)].collect().sorted.toSeq
      assert(salted == plain, s"salts=$salts diverged")
    }
  }

  test("IntervalJoin.pointInInterval matches the nested-loop theta join") {
    val points = (0L to 200L).map(i => (i, i % 97)).toDF("p_id", "p")
    val intervals = Seq((1L, 5L, 20L), (2L, 18L, 19L), (3L, 90L, 130L), (4L, 300L, 400L))
      .toDF("i_id", "lo", "hi")
    for (binWidth <- Seq(1L, 7L, 64L, 1000L)) {
      val binned = IntervalJoin.pointInInterval(points, "p", intervals, "lo", "hi", binWidth)
        .select("p_id", "i_id").as[(Long, Long)].collect().toSet
      val theta = points.join(intervals,
        col("p") >= col("lo") && col("p") <= col("hi"))
        .select("p_id", "i_id").as[(Long, Long)].collect().toSet
      assert(binned == theta, s"binWidth=$binWidth diverged")
    }
  }

  test("PercentileOps.exactQuantiles matches the built-in percentile aggregate") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val qs = Seq("q0" -> 0.0, "q25" -> 0.25, "q5" -> 0.5, "q9" -> 0.9, "q1" -> 1.0)
    val ours = PercentileOps.exactQuantiles(li, Seq("l_returnflag"), col("l_extendedprice"), qs)
      .collect().map(r => r.getString(0) -> qs.indices.map(i => r.getDouble(i + 1))).toMap
    val builtin = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.0, 0.25, 0.5, 0.9, 1.0))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(ours.keySet == builtin.keySet)
    ours.foreach { case (k, v) =>
      assert(v == builtin(k), s"group $k: $v != ${builtin(k)}")
    }
  }

  test("exactQuantilesHist: timestamp group keys match (Spark-rendered composite keys); empty global emits one NULL row") {
    import spark.implicits._
    // java.sql.Timestamp.toString renders a trailing '.0' that Spark's
    // cast-to-string does not — the candidate filter must compare
    // SPARK-rendered keys on both sides or every group misses
    val df = Seq(
      (new java.sql.Timestamp(1700000000000L), 1.0),
      (new java.sql.Timestamp(1700000000000L), 3.0),
      (new java.sql.Timestamp(1700003600000L), 10.0))
      .toDF("hour", "v")
    val got = PercentileOps.exactQuantilesHist(df, Seq("hour"),
        Seq(("v", col("v"), Seq(("p50", 0.5)))))
      .orderBy("hour")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getDouble(1))).toSeq
    assert(got == Seq((1700000000000L, 2.0), (1700003600000L, 10.0)), got.toString)
    // global aggregation over EMPTY input: one row of NULL quantiles,
    // like the built-in aggregate and the sibling forms
    val empty = PercentileOps.exactQuantilesHist(df.filter(lit(false)),
        Seq.empty, Seq(("v", col("v"), Seq(("p50", 0.5)))))
      .collect()
    assert(empty.length == 1 && empty.head.isNullAt(0), empty.toSeq.toString)
  }

  test("exactQuantilesHist is bit-identical to the window form (incl. ties, nulls, edge q)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val measures = Seq(
      // near-unique doubles + heavily-tied small ints + edge quantiles
      ("price", col("l_extendedprice"), Seq("p0" -> 0.0, "p25" -> 0.25, "p90" -> 0.9, "p100" -> 1.0)),
      ("qty", col("l_quantity"), Seq("med" -> 0.5)),
      // null-bearing measure: quantity where discount>0.05 else NULL
      ("qn", when(col("l_discount") > 0.05, col("l_quantity")), Seq("qn5" -> 0.5)))
    val hist = PercentileOps.exactQuantilesHist(li, Seq("l_returnflag"), measures, shift = 52)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getDouble)).toMap
    val win = PercentileOps.exactQuantilesMulti(li, Seq("l_returnflag"), measures)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getDouble)).toMap
    assert(hist.keySet == win.keySet)
    hist.foreach { case (k, v) => assert(v == win(k), s"group $k: $v != ${win(k)}") }
    // pathological candidate blow-up falls back to the window form
    val fb = PercentileOps.exactQuantilesHist(li, Seq("l_returnflag"),
      Seq(("p", col("l_extendedprice"), Seq("p50" -> 0.5))), shift = 63, maxCandidates = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wb = PercentileOps.exactQuantilesMulti(li, Seq("l_returnflag"),
      Seq(("p", col("l_extendedprice"), Seq("p50" -> 0.5))))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fb == wb)
  }

  test("exactQuantilesHist disc mode is row-equal to Spark's built-in percentile_disc (incl. ties, edge q, fallback)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val qs = Seq("p0" -> 0.0, "p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p100" -> 1.0)
    val measures = Seq(
      ("price", col("l_extendedprice"), qs), // near-unique doubles
      ("qty", col("l_quantity"), Seq("qmed" -> 0.5))) // heavily tied
    val hist = PercentileOps.exactQuantilesHist(li, Seq("l_returnflag"), measures, shift = 52, disc = true)
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getDouble)).toMap
    val builtin = li.groupBy(col("l_returnflag")).agg(
      expr("percentile_disc(0.0)  WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("percentile_disc(1.0)  WITHIN GROUP (ORDER BY l_extendedprice)"),
      expr("percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_quantity)"))
      .collect().map(r => r.getString(0) -> (1 to 6).map(r.getDouble)).toMap
    assert(hist.keySet == builtin.keySet)
    hist.foreach { case (k, v) => assert(v == builtin(k), s"group $k: $v != ${builtin(k)}") }
    // point-mass guard routes disc mode to the built-in, not the cont form
    val fb = PercentileOps.exactQuantilesHist(li, Seq("l_returnflag"),
      Seq(("p", col("l_extendedprice"), Seq("p50" -> 0.5))), shift = 63, maxCandidates = 10, disc = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val wb = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice)"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fb == wb)
  }

  test("all-NULL groups emit a row with NULL quantiles on EVERY path (built-in parity)") {
    // the built-in percentile/percentile_disc aggregates keep a group
    // whose measure is entirely NULL — group membership never depends on
    // the measure — and emit NULL. All four of our paths must agree:
    // this parity is what makes PercentileAggregateRewrite sound.
    val rows = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)),
      ("z", None), ("z", None)) // group with NO non-NULL measure values
    val df = spark.createDataFrame(rows).toDF("g", "v")
    val measures = Seq(("m", col("v"), Seq("p50" -> 0.5)))
    def asMap(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r => r.getString(0) -> Option(r.getAs[java.lang.Double](1))).toMap
    val expected = Map("a" -> Some(2.0), "z" -> None)
    val histD = asMap(PercentileOps.exactQuantilesHist(df, Seq("g"), measures, disc = true))
    val fbD = asMap(PercentileOps.exactQuantilesHist(df, Seq("g"), measures,
      maxCandidates = 1, disc = true)) // guard trips → built-in fallback
    val histC = asMap(PercentileOps.exactQuantilesHist(df, Seq("g"), measures))
    val winC = asMap(PercentileOps.exactQuantilesMulti(df, Seq("g"), measures))
    assert(histD == expected, s"hist disc: $histD")
    assert(fbD == expected, s"fallback disc: $fbD")
    assert(histC == expected, s"hist cont: $histC")
    assert(winC == expected, s"window cont: $winC")
  }

  test("exactQuantilesHist handles negatives, ±0.0, ties, and single-value groups (bit-order edge cases)") {
    val rows = Seq(
      // group n: spans negative/zero/positive with ties and -0.0
      ("n", -5.0), ("n", -5.0), ("n", -1.25), ("n", -0.0), ("n", 0.0),
      ("n", 0.0), ("n", 3.5), ("n", 1e300), ("n", -1e300), ("n", 2.0),
      // group s: single value; group t: all ties
      ("s", 42.0),
      ("t", 7.0), ("t", 7.0), ("t", 7.0))
    val df = spark.createDataFrame(rows).toDF("g", "v")
    val measures = Seq(("m", col("v"), Seq("q0" -> 0.0, "q25" -> 0.25, "q5" -> 0.5, "q75" -> 0.75, "q1" -> 1.0)))
    val hist = PercentileOps.exactQuantilesHist(df, Seq("g"), measures, shift = 48)
      .collect().map(r => r.getString(0) -> (1 to 5).map(r.getDouble)).toMap
    val builtin = df.groupBy(col("g"))
      .agg(expr("percentile(v, array(0.0, 0.25, 0.5, 0.75, 1.0))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    assert(hist.keySet == builtin.keySet)
    hist.foreach { case (k, v) => assert(v == builtin(k), s"group $k: $v != ${builtin(k)}") }
  }

  test("exactQuantilesHist handles NULL group keys (concat_ws would silently drop them)") {
    // a NULL key column must form its own group, exactly like the window
    // form and the built-in aggregate — the round-5 composite key lost
    // NULLs to concat_ws's skip-null semantics and threw on the probe
    val rows = Seq(
      (Option("a"), 1.0), (Option("a"), 3.0), (Option("a"), 5.0),
      (Option.empty[String], 10.0), (Option.empty[String], 20.0),
      (Option.empty[String], 40.0), (Option.empty[String], 80.0))
    val df = spark.createDataFrame(rows).toDF("g", "v")
    val measures = Seq(("m", col("v"), Seq("q25" -> 0.25, "med" -> 0.5, "q75" -> 0.75)))
    val hist = PercentileOps.exactQuantilesHist(df, Seq("g"), measures, shift = 48)
      .collect().map(r => Option(r.getString(0)) -> (1 to 3).map(r.getDouble)).toMap
    val win = PercentileOps.exactQuantilesMulti(df, Seq("g"), measures)
      .collect().map(r => Option(r.getString(0)) -> (1 to 3).map(r.getDouble)).toMap
    assert(hist.keySet == win.keySet && hist.keySet.contains(None))
    hist.foreach { case (k, v) => assert(v == win(k), s"group $k: $v != ${win(k)}") }
    // and both agree with the built-in aggregate (groupBy keeps NULL keys)
    val builtin = df.groupBy(col("g"))
      .agg(expr("percentile(v, array(0.25, 0.5, 0.75))").as("p"))
      .collect().map(r => Option(r.getString(0)) -> r.getSeq[Double](1).toIndexedSeq).toMap
    assert(win.keySet == builtin.keySet)
    win.foreach { case (k, v) => assert(v == builtin(k), s"group $k: $v != ${builtin(k)}") }
  }

  test("editDistanceSelfJoin equals the brute-force all-pairs sweep (superset blocking + exact rescore)") {
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    for (k <- Seq(1, 2)) {
      val fast = FuzzyJoin.editDistanceSelfJoin(part, "p_name", k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val names = part.select(col("p_name").as("__s")).distinct()
      val brute = names.select(col("__s").as("a"))
        .crossJoin(names.select(col("__s").as("b")))
        .filter(col("a") < col("b"))
        .withColumn("dist", levenshtein(col("a"), col("b")))
        .filter(col("dist") <= k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(fast == brute, s"k=$k: missing=${(brute -- fast).take(5)} extra=${(fast -- brute).take(5)}")
      assert(brute.nonEmpty, s"k=$k: fixture has no close pairs — test is vacuous")
    }
  }

  test("editDistanceSelfJoin is exact on short strings (len <= k), where pigeonhole blocking fails") {
    // "ab"/"cd" share no substring yet lev=2; ""/"a" likewise; the
    // round-5 blocking silently dropped every such pair
    val strs = Seq("", "a", "b", "ab", "cd", "ba", "xy", "abc", "abd", "wxyz",
      "cold bolt", "old bolt", "x", "ax", "cab")
    val df = strs.toDF("s")
    for (k <- Seq(1, 2, 3)) {
      val fast = FuzzyJoin.editDistanceSelfJoin(df, "s", k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      val names = df.select(col("s").as("__s")).distinct()
      val brute = names.select(col("__s").as("a"))
        .crossJoin(names.select(col("__s").as("b")))
        .filter(col("a") < col("b"))
        .withColumn("dist", levenshtein(col("a"), col("b")))
        .filter(col("dist") <= k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
      assert(fast == brute, s"k=$k: missing=${(brute -- fast).take(8)} extra=${(fast -- brute).take(8)}")
      assert(brute.exists { case (a, b, _) => a.length <= k && b.length <= k },
        s"k=$k: no all-short pair in the truth set — test is vacuous")
    }
  }

  test("dedup ledger: anti-join + in-batch dedup + append-only admit cycle") {
    val path = java.nio.file.Files.createTempDirectory("graft-ledger").toString + "/led"
    val batch1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("id", "t")
    val batch2 = Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma"), (13L, "delta")).toDF("id", "t")
    DedupOps.writeLedger(batch1, "id", Seq("t"), path)
    val fresh = DedupOps.dedupAgainstLedger(batch2, "id", Seq("t"), path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // "beta" already admitted; "gamma" first copy wins; "delta" new
    assert(fresh == Seq((11L, "gamma"), (13L, "delta")))
    // admit the survivors: the SAME batch now fully dedups away
    DedupOps.appendToLedger(batch2.filter(col("id").isin(11L, 13L)), "id", Seq("t"), path)
    assert(DedupOps.dedupAgainstLedger(batch2, "id", Seq("t"), path).count() == 0)
    // and a later batch still dedups against BOTH generations
    val batch3 = Seq((20L, "delta"), (21L, "alpha"), (22L, "epsilon")).toDF("id", "t")
    val fresh3 = DedupOps.dedupAgainstLedger(batch3, "id", Seq("t"), path)
      .as[(Long, String)].collect().toSeq
    assert(fresh3 == Seq((22L, "epsilon")))
  }

  test("mp4Meta: box-walk round-trips the generator for v0 and v1; malformed payloads fall to unknown") {
    import MultimodalOps.{mp4Meta, syntheticMp4}
    for (v <- Seq(0, 1)) {
      val b = syntheticMp4(seed = 3L, durationUnits = 2500L, timescale = 1000,
        width = 960, height = 540, nTracks = 2, version = v)
      assert(mp4Meta(b) == ((2500L, 1000, 960, 540, 2, "mp4")), s"version $v")
    }
    // 64-bit duration through the v1 layout
    val big = syntheticMp4(1L, 5000000000L, 1000000, 64, 48, 1, version = 1)
    assert(mp4Meta(big) == ((5000000L, 1000000, 64, 48, 1, "mp4")))
    // adversarial duration near Long.MaxValue: the *1000 ms scaling would
    // overflow negative — must fall to unknown, not report a "valid" mp4
    val huge = syntheticMp4(1L, Long.MaxValue / 900, 1000, 64, 48, 1, version = 1)
    assert(mp4Meta(huge) == ((0L, 0, 0, 0, 0, "unknown")))
    // malformed: truncation mid-moov, flipped size to past-the-end,
    // garbage, empty, null — all fall to unknown, never throw
    val good = syntheticMp4(2L, 1000L, 600, 320, 240, 1)
    assert(mp4Meta(good.take(40)) == ((0L, 0, 0, 0, 0, "unknown")))
    val oversize = good.clone()
    oversize(0) = 0x7f.toByte // ftyp size far beyond the buffer
    assert(mp4Meta(oversize) == ((0L, 0, 0, 0, 0, "unknown")))
    assert(mp4Meta("definitely not an mp4 payload....".getBytes) == ((0L, 0, 0, 0, 0, "unknown")))
    assert(mp4Meta(Array.emptyByteArray) == ((0L, 0, 0, 0, 0, "unknown")))
    assert(mp4Meta(null) == ((0L, 0, 0, 0, 0, "unknown")))
    // size==0 (box runs to end) on the LAST box is legal: rewrite the
    // mdat header size to 0 and expect identical metadata
    val mdatAt = {
      // find 'mdat' fourcc offset
      val pat = "mdat".getBytes
      (0 until good.length - 4).find(i => pat.indices.forall(j => good(i + j) == pat(j))).get - 4
    }
    val toEnd = good.clone()
    toEnd(mdatAt) = 0; toEnd(mdatAt + 1) = 0; toEnd(mdatAt + 2) = 0; toEnd(mdatAt + 3) = 0
    assert(mp4Meta(toEnd) == ((1000L * 1000 / 600, 600, 320, 240, 1, "mp4")))
  }

    test("compactLedger: collapses digests, hits target file count, dedup results bit-identical") {
    val path = java.nio.file.Files.createTempDirectory("graft-ledger-c").toString + "/led"
    DedupOps.writeLedger(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "t"), "id", Seq("t"), path)
    // three appends, one of them re-admitting an existing digest with a
    // HIGHER id (dup digest rows at rest — compaction must keep id 2)
    DedupOps.appendToLedger(Seq((5L, "gamma")).toDF("id", "t"), "id", Seq("t"), path)
    DedupOps.appendToLedger(Seq((9L, "beta"), (7L, "delta")).toDF("id", "t"), "id", Seq("t"), path)
    DedupOps.appendToLedger(Seq((8L, "epsilon")).toDF("id", "t"), "id", Seq("t"), path)
    val probe = Seq((30L, "alpha"), (31L, "gamma"), (32L, "zeta"), (33L, "zeta"),
      (34L, "epsilon")).toDF("id", "t")
    def results() = DedupOps.dedupAgainstLedger(probe, "id", Seq("t"), path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    def ledgerState() = spark.read.parquet(path)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val before = results()
    assert(before == Seq((32L, "zeta"))) // zeta new, first copy wins
    val filesBefore = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 2, s"fixture too small to prove compaction: $filesBefore files")
    // the re-admitted beta digest sits twice at rest pre-compaction
    val stateBefore = ledgerState()
    assert(stateBefore.size == 6 && stateBefore.map(_._1).distinct.size == 5)
    val minBefore = stateBefore.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    DedupOps.compactLedger(spark, path, targetFiles = 2)
    val filesAfter = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter <= 2, s"compaction left $filesAfter files")
    assert(results() == before) // anti-join semantics bit-identical
    // one row per digest now, each at the min admitting id
    assert(ledgerState().size == 5)
    assert(ledgerState().toMap == minBefore)
    // the ledger keeps working as an append target after the rewrite
    DedupOps.appendToLedger(Seq((32L, "zeta")).toDF("id", "t"), "id", Seq("t"), path)
    assert(results().isEmpty)
  }

  test("ledger writer lease: a second writer fails fast naming the holder; stale leases break") {
    val path = java.nio.file.Files.createTempDirectory("graft-ledger-l").toString + "/led"
    DedupOps.writeLedger(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "t"), "id", Seq("t"), path)
    DedupOps.appendToLedger(Seq((9L, "beta")).toDF("id", "t"), "id", Seq("t"), path)
    // simulate another LIVE process holding the lease (fresh mtime)
    val lock = new java.io.File(path + ".lock")
    java.nio.file.Files.writeString(lock.toPath, "4242@otherhost")
    val e = intercept[IllegalStateException](DedupOps.compactLedger(spark, path, targetFiles = 2))
    assert(e.getMessage.contains("4242@otherhost"), e.getMessage)
    // ledger untouched by the refused writer
    assert(spark.read.parquet(path).count() == 3)
    // a STALE lease (crashed holder) is broken and the compaction runs
    assert(lock.setLastModified(System.currentTimeMillis - 16L * 60 * 1000))
    DedupOps.compactLedger(spark, path, targetFiles = 2)
    assert(spark.read.parquet(path).count() == 2) // beta collapsed
    assert(!lock.exists) // lease released
  }

  test("ledger readers fall back to the staging sibling during the swap window") {
    val base = java.nio.file.Files.createTempDirectory("graft-ledger-r").toString
    val path = base + "/led"
    // the swap window / crash state: target absent, completed generation
    // parked at .staging — readers must answer from it WITHOUT renaming
    DedupOps.writeLedger(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "t"),
      "id", Seq("t"), path + ".staging")
    val probe = Seq((30L, "alpha"), (31L, "gamma")).toDF("id", "t")
    val fresh = DedupOps.dedupAgainstLedger(probe, "id", Seq("t"), path)
      .as[(Long, String)].collect().toSeq
    assert(fresh == Seq((31L, "gamma")))
    // read-only: the staging dir is still where it was
    assert(new java.io.File(path + ".staging").exists && !new java.io.File(path).exists)
  }

  test("unicodeNormalize matches java.text.Normalizer for all four forms; null-safe; codegen path") {
    import graft.functions.TextStatsExpression.unicodeNormalize
    val cases = Seq(
      "cafe\u0301",     // e + combining acute: composes under NFC
      "caf\u00e9",      // already composed
      "\ufb01le fine",  // ligature fi: NFKC decomposes it, NFC keeps it
      "\u2460 circled one", // circled 1 -> "1" under NFKC
      "plain ascii", "")
    val df = (cases.map(Option(_)) :+ None).toDF("s")
    for (form <- Seq("NFC", "NFD", "NFKC", "NFKD")) {
      val got = df.select(unicodeNormalize(col("s"), form)).as[Option[String]].collect()
      val want = (cases.map(c => Some(java.text.Normalizer.normalize(
        c, java.text.Normalizer.Form.valueOf(form)))) :+ None).toArray
      assert(got.toSeq.sorted == want.toSeq.sorted, s"form=$form")
    }
    // the composed result really differs from the decomposed input
    val nfc = df.filter(col("s") === "cafe\u0301")
      .select(unicodeNormalize(col("s"))).as[String].head()
    assert(nfc == "caf\u00e9" && nfc != "cafe\u0301")
    intercept[IllegalArgumentException](unicodeNormalize(col("s"), "NFX"))
  }

  test("audioHeader parses real WAV containers; audioMetaPartitioned flows binary through mapPartitions") {
    // header fields are known BY CONSTRUCTION of the synthesized WAV
    val wav = MultimodalOps.syntheticWav(seed = 7, sampleRate = 22050, channels = 2, nFrames = 123)
    assert(MultimodalOps.audioHeader(wav) == (22050, 2, 16, 123L, "wav"))
    // the direct RIFF walk must agree with the provider machinery field
    // for field (the fast path answers first for RIFF/WAVE payloads)
    val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
      new java.io.ByteArrayInputStream(wav))
    assert(MultimodalOps.audioHeader(wav) ==
      (aff.getFormat.getSampleRate.toInt, aff.getFormat.getChannels,
        aff.getFormat.getSampleSizeInBits, aff.getFrameLength.toLong,
        aff.getType.getExtension))
    // unparseable / empty payloads stay total
    assert(MultimodalOps.audioHeader(Array[Byte](1, 2, 3)) == (0, 0, 0, 0L, "unknown"))
    assert(MultimodalOps.audioHeader(null) == (0, 0, 0, 0L, "unknown"))
    // adversarial RIFF: a chunk size of 0xFFFFFFF8 once truncated to int
    // is -8 — the walk must bail (total), never stall or throw
    val evil = new Array[Byte](64)
    System.arraycopy("RIFF".getBytes, 0, evil, 0, 4)
    System.arraycopy("WAVE".getBytes, 0, evil, 8, 4)
    System.arraycopy("junk".getBytes, 0, evil, 12, 4)
    evil(16) = 0xF8.toByte; evil(17) = 0xFF.toByte; evil(18) = 0xFF.toByte; evil(19) = 0xFF.toByte
    assert(MultimodalOps.audioHeader(evil) == (0, 0, 0, 0L, "unknown"))
    // and one that would drive pos negative (size near 2^31)
    evil(16) = 0xF0.toByte; evil(17) = 0xFF.toByte; evil(18) = 0xFF.toByte; evil(19) = 0x7F.toByte
    assert(MultimodalOps.audioHeader(evil) == (0, 0, 0, 0L, "unknown"))
    val df = Seq((1L, 8000, 1, 50), (2L, 44100, 2, 99)).toDF("id", "sr", "ch", "fr")
      .select(col("id"), udf((sr: Int, ch: Int, fr: Int) =>
        MultimodalOps.syntheticWav(0, sr, ch, fr)).apply(col("sr"), col("ch"), col("fr")).as("wav"))
    val got = MultimodalOps.audioMetaPartitioned(df, "wav")
      .select(col("id"), col("meta.sample_rate"), col("meta.channels"),
        col("meta.bits"), col("meta.frames"), col("meta.container"))
      .as[(Long, Int, Int, Int, Long, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 8000, 1, 16, 50L, "wav"), (2L, 44100, 2, 16, 99L, "wav")))
  }

  test("sampleFrames explodes byte chunks deterministically") {
    val df = Seq((1L, "0123456789abcdef")).toDF("id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val frames = MultimodalOps.sampleFrames(df, "id", "payload", frameBytes = 4, everyK = 2)
      .select(col("id"), col("frame_no"), col("frame_bytes").cast("string"))
      .as[(Long, Int, String)].collect().sortBy(_._2).toSeq
    assert(frames == Seq((1L, 0, "0123"), (1L, 1, "89ab")))
  }

  test("quantizeI8 bounds reconstruction error at half a step; dotI8 matches boxed arithmetic") {
    import graft.functions.VectorExpressions.{dotI8, quantizeI8}
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 2.0f)),
      (2L, Array(-0.1f, 0.0f, 1.5f, -2.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // all-zero: scale 0, codes 0
      .toDF("id", "v")
    val rows = vecs.select(col("id"), col("v"),
        quantizeI8(col("v")).as("sq"))
      .select(col("id"), col("v"), col("sq.q"), col("sq.scale"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1)
      val q = r.getAs[Array[Byte]](2)
      val scale = r.getDouble(3)
      assert(q.length == v.length)
      if (v.forall(_ == 0f)) assert(scale == 0.0 && q.forall(_ == 0))
      else v.zip(q).foreach { case (x, c) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
          s"code $c * $scale too far from $x")
        assert(c >= -127 && c <= 127)
      }
    }
    // integer dot product parity with boxed arithmetic on the codes
    val a = Array[Byte](1, -2, 127, -127)
    val b = Array[Byte](3, 4, -1, -1)
    val expected = a.zip(b).map { case (x, y) => x.toLong * y.toLong }.sum
    val got = Seq((a, b)).toDF("a", "b")
      .select(dotI8(col("a"), col("b"))).as[Long].head()
    assert(got == expected)
  }

  test("duplicatedSpans merges overlapping recurring windows into maximal spans") {
    val df = Seq(
      (1L, "a b c d e f g h"),   // shares "a b c d e" with doc 2
      (2L, "x y a b c d e z"),   // same 5-token substring at offset 2
      (3L, "p q r s t u"))       // no recurrence
      .toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(df, "doc_id", "text", k = 4)
      .as[(Long, Int, Int, Long)].collect().toSet
    // two 4-windows each ("a b c d", "b c d e") merge into one span
    assert(got == Set((1L, 0, 5, 2L), (2L, 2, 7, 2L)))
  }

  test("duplicatedSpans chains WITHIN-doc repetition through adjacency") {
    val df = Seq((4L, "m n o p m n o p m n o p")).toDF("doc_id", "text")
    val got = DedupOps.duplicatedSpans(df, "doc_id", "text", k = 4)
      .as[(Long, Int, Int, Long)].collect().toSeq
    // every one of the 9 windows recurs (period-4 text) → one maximal span
    assert(got == Seq((4L, 0, 12, 9L)))
  }

  test("scrubDuplicatedSpans keeps exactly the canonical copy of each span") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e z"),
      (3L, "p q r s t u"))
      .toDF("doc_id", "text")
    val got = DedupOps.scrubDuplicatedSpans(df, "doc_id", "text", k = 4)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a b c d e f g h", 0L), // (id,pos)-minimal copy survives intact
      (2L, "x y z", 5L),           // the other copy loses the span
      (3L, "p q r s t u", 0L)))
  }

  test("scrubDuplicatedSpans leaves one period of self-repeating text") {
    val df = Seq((4L, "m n o p m n o p m n o p")).toDF("doc_id", "text")
    val got = DedupOps.scrubDuplicatedSpans(df, "doc_id", "text", k = 4)
      .as[(Long, String, Long)].collect().toSeq
    // canonical windows are pos 0-3 (first occurrence of each distinct
    // hash); the non-canonical tail [4, 12) is cut
    assert(got == Seq((4L, "m n o p", 8L)))
  }

  test("scrubDuplicatedSpans round-trips untouched docs exactly, incl. empty tokens") {
    val df = Seq((1L, "  a  b c  "), (2L, "")).toDF("doc_id", "text")
    val got = DedupOps.scrubDuplicatedSpans(df, "doc_id", "text", k = 4)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // split-on-single-space keeps the empty tokens of "a  b" so rejoin
    // reproduces trim(text) byte-for-byte
    assert(got == Seq((1L, "a  b c", 0L), (2L, "", 0L)))
  }

  test("bpePairStats weights pairs by word frequency; 1-char and empty tokens contribute nothing") {
    val df = Seq("abc abc x", "abc  ab").toDF("text") // 'abc'×3, 'ab'×1, 'x'×1, ''×1
    val got = CurationOps.bpePairStats(df, "text", topN = 10)
      .as[(String, Long)].collect().toSeq
    // 'ab' appears in 'abc' (×3) and 'ab' (×1) = 4; 'bc' only in 'abc' = 3;
    // 'x' (1 char) and the empty token from the double space yield no pairs
    assert(got == Seq(("ab", 4L), ("bc", 3L)))
  }

  test("bpePairStats counts within-word repeats and cuts deterministically at topN") {
    val df = Seq("aaa bb").toDF("text") // 'aaa' → aa,aa ; 'bb' → bb
    val got = CurationOps.bpePairStats(df, "text", topN = 1)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("aa", 2L))) // count desc beats pair-asc 'bb'
  }

  test("stripHtml removes tags without gluing words; anchorTextChars sums anchor inner text only") {
    val df = Seq(
      "<p>hello <b>world</b></p>",
      "<nav><a href=\"/x\">abc</a>-<a id=1>de</a></nav><p>fg</p>",
      "no markup at all").toDF("h")
    val got = df.select(TextOps.stripHtml(col("h")).as("t"),
      TextOps.anchorTextChars(col("h")).as("a"))
      .as[(String, Int)].collect().toSeq
    assert(got(0) == (("hello world", 0)))
    assert(got(1) == (("abc - de fg", 5))) // 'abc'(3) + 'de'(2); <p>/<nav> text excluded
    assert(got(2) == (("no markup at all", 0)))
  }

  test("thresholdSweep: cumulative tp/fp/fn and P/R/F1 per descending threshold bucket") {
    val df = Seq((0.9, 1), (0.9, 0), (0.5, 1), (0.1, 0)).toDF("s", "l")
    val got = MlOps.thresholdSweep(df, "s", "l", decimals = 2)
      .orderBy(col("thr").desc)
      .as[(Double, Long, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(
      (0.9, 1L, 1L, 1L, 0.5, 0.5, 0.5),
      (0.5, 2L, 1L, 0L, 0.6667, 1.0, 0.8),
      (0.1, 2L, 2L, 0L, 0.5, 1.0, 0.6667)))
  }

  test("matryoshkaTopK with a candidate pool covering the corpus equals brute force exactly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val q = emb.filter(col("vec_id") < 3)
    // k·candFactor = 5·8 = 40 ≥ corpus, so the prefix pass prunes nothing
    // and the exact re-rank must reproduce bruteForceTopK row-for-row
    val mrl = SimilarityOps.matryoshkaTopK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5, prefixDim = 16, candFactor = 8)
      .orderBy("query_id", "rk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val brute = SimilarityOps.bruteForceTopK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rk")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(mrl == brute)
  }

  test("matryoshkaTopK re-rank scores are exact full-dim cosines even when the prefix pass prunes") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val mrl = SimilarityOps.matryoshkaTopK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5, prefixDim = 16, candFactor = 4)
    // the guarantee truncation retrieval makes: whatever the prefix pass
    // keeps, the SCORES and final order are the exact full-dim cosine —
    // re-derive each returned pair's cosine independently and compare
    val exact = mrl
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("__qv")), "query_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv")), "neighbor_id")
      .select(col("score"),
        graft.queries.Qf.dround(SimilarityOps.cosine(col("__qv"), col("__cv")), 6).as("e"))
      .as[(Double, Double)].collect()
    assert(exact.length == 40) // 8 queries × k=5, the pool never starves
    exact.foreach { case (s, e) => assert(s == e, s"re-rank score $s != exact cosine $e") }
    // recall vs full-dim brute force is FIXTURE-dependent: these synthetic
    // embeddings are random, so a 16/64 prefix is weakly informative (real
    // MRL models train prefixes to preserve ranking). Keep only a floor
    // that proves the candidate pool isn't degenerate.
    val mset = mrl.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = SimilarityOps.bruteForceTopK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (mset intersect brute).size.toDouble / brute.size
    assert(recall >= 0.2, s"MRL recall $recall degenerate on the random fixture")
  }

  test("matryoshkaTopKAtRest: row-identical to the in-flight form; drifted prefixDim fails loudly") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 4)
    val path = java.nio.file.Files.createTempDirectory("graft-mrl").toString + "/corpus"
    SimilarityOps.writeMatryoshkaCorpus(emb, "vec_id", "embedding", prefixDim = 16, path)
    val atRest = SimilarityOps.matryoshkaTopKAtRest(spark, path,
      q, "vec_id", "embedding", "vec_id", k = 4, prefixDim = 16)
      .orderBy("query_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    val inFlight = SimilarityOps.matryoshkaTopK(q, "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 4, prefixDim = 16)
      .orderBy("query_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(atRest == inFlight)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.matryoshkaTopKAtRest(spark, path,
        q, "vec_id", "embedding", "vec_id", k = 4, prefixDim = 8)
    }
    assert(e.getMessage.contains("prefixDim=16") && e.getMessage.contains("prefixDim=8"))
    // a MISSING sidecar fails loudly too (the drift guard must not
    // silently disarm); explicit legacy opt-out restores the probe
    val legacy = java.nio.file.Files.createTempDirectory("graft-mrl2").toString + "/corpus"
    emb.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("prefix"),
      col("embedding").as("vec")).write.parquet(legacy)
    val e2 = intercept[IllegalStateException] {
      SimilarityOps.matryoshkaTopKAtRest(spark, legacy,
        q, "vec_id", "embedding", "vec_id", k = 4, prefixDim = 16)
    }
    assert(e2.getMessage.contains("allowMissingMeta"), e2.getMessage)
    val optedIn = SimilarityOps.matryoshkaTopKAtRest(spark, legacy,
      q, "vec_id", "embedding", "vec_id", k = 4, prefixDim = 16,
      allowMissingMeta = true)
      .orderBy("query_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    assert(optedIn == inFlight)
  }

  test("cluster ledger: a lower-id batch arrival relabels the stored cluster (remap), replay is a no-op") {
    val path = java.nio.file.Files.createTempDirectory("graft-clled").toString + "/cl"
    // corpus ids HIGH so the batch can take over the minimum: doc 10's
    // cluster must remap 10 -> 1 when identical doc 1 arrives
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (20L, "one two three four five six seven")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // near-dup (identical) of 10
      (5L, "completely different text with no overlap at all")).toDF("doc_id", "text")
    DedupOps.writeClusterLedger(corpus, "doc_id", "text", path)
    val before = DedupOps.readClusterAssignments(spark, path)
      .as[(Long, Long)].collect().toMap
    assert(before == Map(10L -> 10L, 20L -> 20L))
    DedupOps.advanceClusterLedger(batch, "doc_id", "text", path)
    DedupOps.advanceClusterLedger(batch, "doc_id", "text", path) // crash-and-retry replay
    val after = DedupOps.readClusterAssignments(spark, path)
      .as[(Long, Long)].collect()
    assert(after.length == after.map(_._1).distinct.length, "duplicate node rows after replay")
    assert(after.toMap == Map(10L -> 1L, 1L -> 1L, 20L -> 20L, 5L -> 5L), after.toMap.toString)
  }

  test("cluster ledger: the marked-replay fast path touches NO ledger state (structurally job-free)") {
    // the batchId fast path returns before requireSigMeta, the probe, or
    // any append — proven by deleting /sig outright and replaying: the
    // marked replay must no-op silently, while a NEW batchId must fail
    // loudly on the missing signature sidecar. This pins the replay at
    // zero Spark jobs without a
    // fragile listener: any ledger read would throw here.
    val path = java.nio.file.Files.createTempDirectory("graft-clfp").toString + "/cl"
    val corpus = Seq((10L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    DedupOps.writeClusterLedger(corpus, "doc_id", "text", path)
    DedupOps.advanceClusterLedger(batch, "doc_id", "text", path,
      batchId = Some("b-1"))
    val resolved = DedupOps.readClusterAssignments(spark, path)
      .as[(Long, Long)].collect().toMap
    val sigDir = new org.apache.hadoop.fs.Path(path + "/sig")
    val fs = sigDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(sigDir, true))
    DedupOps.advanceClusterLedger(batch, "doc_id", "text", path,
      batchId = Some("b-1")) // marked replay: must not read the (gone) sig side
    assert(DedupOps.readClusterAssignments(spark, path)
      .as[(Long, Long)].collect().toMap == resolved)
    intercept[Exception] { // a NEW batch must fail loudly, not invent state
      DedupOps.advanceClusterLedger(batch, "doc_id", "text", path,
        batchId = Some("b-2"))
    }
  }

  test("cluster ledger: incremental maintenance equals clustering the whole corpus from scratch") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incPath = java.nio.file.Files.createTempDirectory("graft-clinc").toString + "/cl"
    val fullPath = java.nio.file.Files.createTempDirectory("graft-clfull").toString + "/cl"
    DedupOps.writeClusterLedger(docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", incPath)
    DedupOps.advanceClusterLedger(docs.filter(col("doc_id") % 3 === 1), "doc_id", "text", incPath)
    DedupOps.advanceClusterLedger(docs.filter(col("doc_id") % 3 === 2), "doc_id", "text", incPath)
    DedupOps.compactClusterLedger(spark, incPath)
    DedupOps.writeClusterLedger(docs, "doc_id", "text", fullPath)
    val inc = DedupOps.readClusterAssignments(spark, incPath)
      .as[(Long, Long)].collect().toSet
    val full = DedupOps.readClusterAssignments(spark, fullPath)
      .as[(Long, Long)].collect().toSet
    assert(inc == full && full.nonEmpty, s"inc=${inc.size} full=${full.size}")
    assert(full.exists { case (n, l) => n != l }, "fixture produced no non-trivial cluster")
  }

  test("c4LineFilter: keeps >=5-word terminal-punctuation lines only; counts and rejoin exact") {
    val page = Seq(
      "this line has enough words and ends right.", // kept
      "short line.",                                 // < 5 words
      "this line has enough words but no mark",      // no terminal punctuation
      "does a question with enough words count?",    // kept
      "  padded line with five words inside!  ",     // kept (trimmed first)
      "").mkString("\n")
    val got = Seq(page).toDF("t")
      .select(TextOps.c4LineFilter(col("t"), minWords = 5).as("f"))
      .select(col("f.n_lines"), col("f.n_kept"), col("f.kept"))
      .as[(Int, Int, String)].head()
    assert(got._1 == 6 && got._2 == 3, got.toString)
    assert(got._3 == Seq(
      "this line has enough words and ends right.",
      "does a question with enough words count?",
      "padded line with five words inside!").mkString("\n"), got._3)
  }

  test("repairMojibake: recovers 1 and 2 cp1252 layers exactly; clean/ASCII/non-cp1252 untouched; property") {
    import graft.functions.MojibakeUtil
    import org.apache.spark.unsafe.types.UTF8String
    // the exact wild transform: utf-8 bytes through a SLOPPY cp1252
    // reader (Java's own charset maps the 5 undefined bytes to U+FFFD
    // and would destroy the round-trip — ftfy's sloppy-windows-1252)
    def corrupt(s: String) =
      MojibakeUtil.sloppyDecode(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def rep(s: String) = MojibakeUtil.repair(UTF8String.fromString(s), 2).toString
    Seq("café du marché", "naïve — déjà vu", "日本語テキスト", "Привет мир").foreach { s =>
      assert(rep(corrupt(s)) == s, s"1-layer repair failed for $s")
      assert(rep(corrupt(corrupt(s))) == s, s"2-layer repair failed for $s")
      assert(rep(s) == s, s"clean text modified: $s") // none of these read as mojibake
    }
    assert(rep("plain ascii only") == "plain ascii only")
    assert(rep("αβγ δεζ") == "αβγ δεζ") // greek is not cp1252-encodable → untouched
    // round-trip property on repair-idempotent strings: one corruption
    // layer undoes EXACTLY (2000 cases over mixed ascii/latin/CJK/cyrillic)
    import org.scalacheck.{Gen, Prop}
    val charGen = Gen.frequency(
      6 -> Gen.alphaNumChar,
      2 -> Gen.oneOf('é', 'ü', 'ß', 'ñ', 'ø'),
      1 -> Gen.oneOf('—', '…', '“', '”', '’'),
      1 -> Gen.oneOf('日', '本', 'ж', 'я', 'Ω'))
    val strGen = Gen.listOf(charGen).map(_.mkString)
    val prop = Prop.forAll(strGen) { s =>
      MojibakeUtil.repairOnce(s) != s || // precondition: skip strings that already read as mojibake
        MojibakeUtil.repairOnce(corrupt(s)) == s
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
  }

  test("pageRank: cycle is uniform, star concentrates on the hub, mass conserves") {
    import graft.operators.GraphOps
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val cr = GraphOps.pageRank(cycle, "s", "d", iters = 7).as[(Long, Double)].collect().toMap
    cr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, s"cycle not uniform: $cr"))
    // star: a→{b,c}, b→a, c→a — one synchronous round from uniform:
    // a = 0.05 + 0.85·(1/3 + 1/3); b = c = 0.05 + 0.85·(1/3)/2
    val star = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("s", "d")
    val sr = GraphOps.pageRank(star, "s", "d", iters = 1).as[(Long, Double)].collect().toMap
    assert(math.abs(sr(1L) - (0.05 + 0.85 * 2.0 / 3)) < 1e-12, sr.toString)
    assert(math.abs(sr(2L) - (0.05 + 0.85 / 6)) < 1e-12 && sr(2L) == sr(3L), sr.toString)
    // no dangling nodes ⇒ total mass conserves at every depth
    (1 to 3).foreach { k =>
      val tot = GraphOps.pageRank(star, "s", "d", iters = k)
        .agg(sum(col("rank"))).head().getDouble(0)
      assert(math.abs(tot - 1.0) < 1e-9, s"mass $tot at iters=$k")
    }
    // a sink node (no out-edge) would silently leak mass → enforced
    val dangling = Seq((1L, 2L), (2L, 3L)).toDF("s", "d") // 3 is a sink
    val e = intercept[IllegalArgumentException](
      GraphOps.pageRank(dangling, "s", "d", iters = 2))
    assert(e.getMessage.contains("no out-edge"), e.getMessage)
    // the small-graph fast path must agree with the distributed loop
    // to double-rounding noise (both orders are ulp-apart sums), and
    // the dangling contract must hold on BOTH routes
    val mixed = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 4L), (4L, 1L),
      (4L, 2L), (2L, 4L)).toDF("s", "d")
    val local = GraphOps.pageRank(mixed, "s", "d", iters = 6)
      .as[(Long, Double)].collect().toMap
    val dist = GraphOps.pageRank(mixed, "s", "d", iters = 6,
      smallGraphEdges = 0L).as[(Long, Double)].collect().toMap
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-12, s"node $k: local $v dist ${dist(k)}") }
    val e2 = intercept[IllegalArgumentException](
      GraphOps.pageRank(dangling, "s", "d", iters = 2, smallGraphEdges = 0L))
    assert(e2.getMessage.contains("no out-edge"), e2.getMessage)
    // mixed-width src/dst (int vs long) must route to the distributed
    // path (boxed Integer(1) != Long(1) would silently miss in the
    // local maps) and still agree with the all-long form
    val mixedWidth = Seq((1, 2L), (2, 1L)).toDF("s", "d")
    val mw = GraphOps.pageRank(mixedWidth, "s", "d", iters = 3)
      .selectExpr("cast(node as long) node", "rank")
      .as[(Long, Double)].collect().toMap
    val allLong = GraphOps.pageRank(
      Seq((1L, 2L), (2L, 1L)).toDF("s", "d"), "s", "d", iters = 3)
      .as[(Long, Double)].collect().toMap
    mw.foreach { case (k, v) => assert(math.abs(v - allLong(k)) < 1e-12) }
  }

  test("ledger forget: purged content re-admits; signature forget stops probe pairs; sidecars survive") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // digest ledger: content blocked before the purge admits after it
    val dPath = java.nio.file.Files.createTempDirectory("graft-forget").toString + "/led"
    DedupOps.writeLedger(docs, "doc_id", Seq("text"), dPath)
    val before = DedupOps.dedupAgainstLedger(docs, "doc_id", Seq("text"), dPath).count()
    assert(before == 0, "everything is admitted, nothing should survive")
    DedupOps.removeFromLedger(docs.filter(col("doc_id") < 50), Seq("text"), dPath)
    val after = DedupOps.dedupAgainstLedger(docs, "doc_id", Seq("text"), dPath)
      .select("doc_id").as[Long].collect().toSet
    // exactly the purged contents' min-id representatives re-admit
    assert(after.nonEmpty && after.forall(_ < 50),
      s"re-admission wrong: ${after.take(5)}")
    // signature ledger: forgotten ids stop pairing, meta sidecar survives
    val sPath = java.nio.file.Files.createTempDirectory("graft-sforget").toString + "/sig"
    DedupOps.writeSignatureLedger(docs, "doc_id", "text", sPath)
    val probeBatch = docs.filter(col("doc_id") < 20)
    val pairsBefore = DedupOps.crossDedupAgainstSignatures(probeBatch, "doc_id", "text", sPath)
      .filter(col("new_id") =!= col("corpus_id"))
      .select("corpus_id").as[Long].collect().toSet
    DedupOps.removeFromSignatureLedger(
      docs.filter(col("doc_id") >= 100).select(col("doc_id")), "doc_id", sPath)
    val pairsAfter = DedupOps.crossDedupAgainstSignatures(probeBatch, "doc_id", "text", sPath)
      .filter(col("new_id") =!= col("corpus_id"))
      .select("corpus_id").as[Long].collect().toSet
    assert(pairsAfter.forall(_ < 100), "forgotten ids still pair")
    assert(pairsAfter == pairsBefore.filter(_ < 100), "removal changed unrelated pairs")
    // the self-describing meta rode through the removal swap
    val e = intercept[IllegalArgumentException](
      DedupOps.crossDedupAgainstSignatures(probeBatch, "doc_id", "text", sPath, shingleSize = 7))
    assert(e.getMessage.contains("shingleSize=5"), e.getMessage)
  }

  test("ANN index deletes: compact equals live tombstones; tombstone wins until compaction; partition drops") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 4)
    val path = java.nio.file.Files.createTempDirectory("graft-anndel").toString + "/idx"
    SimilarityOps.writeBucketedIndex(emb, "vec_id", "embedding", 4, 64, path)
    val deleted = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    SimilarityOps.deleteFromBucketedIndex(spark, path, deleted, "vec_id", "embedding")
    def probe() = SimilarityOps.probeBucketedIndex(spark, path, q,
      "vec_id", "embedding", "vec_id", "embedding", 4, 64, k = 5)
      .orderBy("query_id", "rk").as[(Long, Long, Double, Int)].collect().toSeq
    val live = probe()
    assert(live.nonEmpty && live.forall(_._2 % 3 != 0), "deleted ids surfaced")
    // a probe at id 0's own vector MUST rank id 0 first whenever it is
    // visible (cosine 1.0) — the decisive visibility witness
    val q0 = emb.filter(col("vec_id") === 0)
      .select(lit(999L).as("vec_id"), col("embedding"))
    def sees0() = SimilarityOps.probeBucketedIndex(spark, path, q0,
      "vec_id", "embedding", "vec_id", "embedding", 4, 64, k = 5)
      .collect().exists(_.getAs[Long]("neighbor_id") == 0L)
    assert(!sees0(), "deleted id visible to its own vector")
    // tombstone wins: re-appending a deleted id before compaction stays invisible
    SimilarityOps.appendToBucketedIndex(
      emb.filter(col("vec_id") === 0), "vec_id", "embedding", 4, 64, path)
    assert(!sees0(), "tombstoned id resurfaced before compaction")
    // compaction absorbs the delete (killing the premature re-add too,
    // per the documented contract) and drops the tombstone partition
    SimilarityOps.compactBucketedIndex(spark, path)
    assert(probe() == live, "compaction changed the probe result")
    assert(!sees0(), "premature re-add survived the compaction that absorbed its tombstone")
    assert(!new java.io.File(path).listFiles().exists(_.getName == "bucket=-1"),
      "tombstone partition survived compaction")
    // after the compaction that absorbed the delete, re-admission works
    SimilarityOps.appendToBucketedIndex(
      emb.filter(col("vec_id") === 0), "vec_id", "embedding", 4, 64, path)
    assert(sees0(), "re-admitted id still invisible after compaction")
  }

  test("wordPieceEncode: greedy longest-match, ## continuations, whole-word UNK, empty-token skip") {
    val vocab = Seq("tab", "table", "##le", "##t", "scan", "##ner", "a", "b", "##b")
    val df = Seq("table", "tablet", "scanner", "abb", "xyz", "tabx", "a b", "", " a  b ")
      .toDF("t")
    val got = df.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("t"), vocab).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(got == Seq(
      Seq("table"),            // longest FIRST piece beats "tab"+"##le"
      Seq("table", "##t"),
      Seq("scan", "##ner"),
      Seq("a", "##b", "##b"),
      Seq("[UNK]"),            // nothing matches
      Seq("[UNK]"),            // "tab" matched, then no "##x" → WHOLE word falls back
      Seq("a", "b"),
      Seq(),                   // empty text
      Seq("a", "b")))          // leading/trailing/double spaces yield no empty pieces
  }

  test("wordPieceEncode basic=true: BasicTokenizer punctuation/CJK/case/accents; default-off unchanged") {
    val vocab = Seq("hello", "world", "don", "t", "'", ",", "!", "日", "本", "cafe")
    val df = Seq("Hello, world!", "don't", "日本", "Café", "hello world").toDF("t")
    // default OFF: punctuation-glued tokens fall to whole-word [UNK] —
    // the pre-existing contract (d68 hashes pin it)
    val off = df.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("t"), vocab).as("p")).as[Seq[String]].collect().toSeq
    assert(off == Seq(Seq("[UNK]", "[UNK]"), Seq("[UNK]"), Seq("[UNK]"),
      Seq("[UNK]"), Seq("hello", "world")))
    // basic + lowercase ON: punctuation splits off, CJK chars isolate,
    // case folds, accents strip — raw web text segments
    val on = df.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("t"), vocab, basic = true, lowercase = true).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(on == Seq(
      Seq("hello", ",", "world", "!"),
      Seq("don", "'", "t"),
      Seq("日", "本"),
      Seq("cafe"),
      Seq("hello", "world")))
  }

  test("wordPieceEncode: over-long words emit whole-word [UNK] (max_input_chars_per_word)") {
    val vocab = Seq("a", "##a")
    val df = Seq("a" * 200, "a" * 201).toDF("t")
    val got = df.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("t"), vocab).as("p")).as[Seq[String]].collect().toSeq
    assert(got.head.size == 200 && got.head.head == "a" && got.head.last == "##a")
    assert(got(1) == Seq("[UNK]")) // 201 chars > BERT's 200 cap → no segmentation
    val capped = df.select(graft.functions.TokenizeExpressions
        .wordPieceEncode(col("t"), vocab, maxWordChars = 300).as("p"))
      .as[Seq[String]].collect().toSeq
    assert(capped(1).size == 201) // raised cap segments it again
  }

  test("wordPieceEncode codegen path equals interpreted eval") {
    val vocab = Seq("tab", "##le", "a", "##a", "x")
    val rows = Seq("table", "aaa x tab", "q").toDF("t")
    val expr = graft.functions.TokenizeExpressions.wordPieceEncode(col("t"), vocab)
    // wholestage on (default) vs forced-off interpreted projection
    val on = rows.select(expr.as("p")).as[Seq[String]].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = rows.select(expr.as("p")).as[Seq[String]].collect().toSeq
      assert(on == off, s"codegen $on != interpreted $off")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("unigramEncode: Viterbi ≡ brute-force max-likelihood over 2000 ScalaCheck cases; unk fallback; codegen parity") {
    import graft.functions.{TokenizeExpressions, UnigramUtil}
    import org.scalacheck.{Gen, Prop}
    // brute force: enumerate EVERY segmentation of a short word, score
    // with the same (vocab | single-cp-unk) rule, take the max — shares
    // no code with the kernel's DP
    def bruteBest(w: String, m: Map[String, Double], unk: Double): Double = {
      if (w.isEmpty) return 0.0
      (1 to w.length).flatMap { k =>
        val head = w.substring(0, k)
        val hs = m.get(head).orElse(
          if (head.codePointCount(0, head.length) == 1) Some(unk) else None)
        hs.map(_ + bruteBest(w.substring(k), m, unk))
      } match { case xs if xs.isEmpty => Double.NegativeInfinity case xs => xs.max }
    }
    val pieceGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString take 4)
    val vocabGen = for {
      ps <- Gen.listOfN(8, pieceGen)
      lps <- Gen.listOfN(8, Gen.choose(-8.0, -0.5))
    } yield ps.distinct.zip(lps).toMap
    val wordGen = Gen.listOf(Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString take 9)
    val prop = Prop.forAll(vocabGen, wordGen) { (vm, w0) =>
      val vm2 = if (vm.isEmpty) Map("a" -> -1.0) else vm
      val w = w0.trim
      val vocab = new UnigramUtil.Vocab(vm2.toSeq, -20.0)
      val got = if (w.isEmpty) 0.0 else UnigramUtil.wordScore(w, vocab)
      val want = bruteBest(w, vm2, -20.0)
      val ok = math.abs(got - want) < 1e-9
      if (!ok) println(s"viterbi break on <$w> vocab=$vm2: got $got want $want")
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
    // hand pins: max-likelihood beats greedy-longest ("abc" as a+bc
    // when ab is cheap but a·bc is cheaper), unk fallback preserves
    // text, multi-token split, longest-piece tie-break
    val vocab = Seq("a" -> -1.0, "ab" -> -3.5, "bc" -> -1.5, "abc" -> -6.0, "c" -> -2.0)
    val out = Seq("abc zq ab").toDF("t")
      .select(TokenizeExpressions.unigramEncode(col("t"), vocab).as("p"))
      .as[Seq[Seq[String]]].head()
    // a(-1)+bc(-1.5)=-2.5 beats ab(-3.5)+c(-2)=-5.5 and abc(-6)
    assert(out == Seq(Seq("a", "bc"), Seq("z", "q"), Seq("ab")), out.toString)
    // ties prefer the longest last piece
    val tied = Seq("xy").toDF("t")
      .select(TokenizeExpressions.unigramEncode(col("t"),
        Seq("x" -> -1.0, "y" -> -1.0, "xy" -> -2.0)).as("p"))
      .as[Seq[Seq[String]]].head()
    assert(tied == Seq(Seq("xy")), tied.toString)
    // codegen vs interpreted
    val rows = Seq("abc zq", "", "a").toDF("t")
    val expr = TokenizeExpressions.unigramEncode(col("t"), vocab)
    val on = rows.select(expr.as("p")).as[Seq[Seq[String]]].collect().toSeq
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val off = rows.select(expr.as("p")).as[Seq[Seq[String]]].collect().toSeq
      assert(on == off, s"codegen $on != interpreted $off")
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("totality fuzz: unigramEncode reconstructs arbitrary unicode (lone surrogates included); audioFingerprint32 never throws on corrupt bytes") {
    import graft.functions.UnigramUtil
    import org.scalacheck.{Gen, Prop}
    // ANY input string — full unicode including unpaired surrogates —
    // must reconstruct losslessly per whitespace token under ANY vocab
    // (the single-char fallback makes the encoder total)
    val vocab = new UnigramUtil.Vocab(
      Seq("ab" -> -1.0, "a" -> -2.0, "é" -> -1.5, "😀" -> -1.0), -20.0)
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaChar, Gen.oneOf(' ', 'é', '世', '\ud83d', '\ude00', ' ')))
      .map(_.mkString take 40)
    val prop = Prop.forAll(strGen) { s0 =>
      // Spark strings are UTF-8 (UTF8String) — a JVM-String lone
      // surrogate canonicalizes to '?' at that boundary, so the
      // lossless contract is against the UTF-8 form the engine stores
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s0)
      val s = u.toString
      val enc = UnigramUtil.encode(u, vocab)
      // space-ONLY tokenization (split on ' ', empties dropped) — the
      // repo-wide contract (TextOps.tokens = Spark trim + split, the
      // oracles' trim(text)); the kernels' SpaceTrim matches it, where
      // Java's String.trim would also strip U+0000..U+0020 edge chars
      val toks = s.split(' ').filter(_.nonEmpty).toSeq
      val rebuilt = (0 until enc.numElements()).map { i =>
        val w = enc.getArray(i)
        (0 until w.numElements()).map(j => w.getUTF8String(j).toString).mkString
      }
      val ok = rebuilt == toks
      if (!ok) println(s"totality break on ${s.map(_.toInt)}: $rebuilt != $toks")
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(res.passed, res.status.toString)
    // audio: arbitrary byte garbage and bit-flipped real WAVs must key
    // to a value or 0 — never throw out of the partition seam
    val real = MultimodalOps.syntheticToneWav(3L, 8000, 2048)
    val rnd = new scala.util.Random(7)
    (0 until 300).foreach { i =>
      val bytes =
        if (i % 3 == 0) Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
        else {
          val b = real.clone()
          (0 until 1 + rnd.nextInt(8)).foreach { _ =>
            b(rnd.nextInt(b.length)) = rnd.nextInt().toByte }
          if (i % 3 == 1) b else b.take(rnd.nextInt(b.length))
        }
      MultimodalOps.audioFingerprint32(bytes): Unit // must not throw
    }
  }

  test("unigram EM E-step: forward-backward expected counts ≡ brute-force enumeration over 1500 ScalaCheck cases; trainer LL monotone") {
    import graft.functions.UnigramUtil
    import org.scalacheck.{Gen, Prop}
    // brute force: enumerate every segmentation, weight each piece
    // occurrence by the segmentation's probability share — shares no
    // code with the kernel's log-space DP
    def bruteExpected(w: String, m: Map[String, Double])
        : (Map[String, Double], Double) = {
      def segs(s: String): Seq[List[String]] =
        if (s.isEmpty) Seq(Nil)
        else (1 to s.length).flatMap { k =>
          val h = s.substring(0, k)
          if (m.contains(h)) segs(s.substring(k)).map(h :: _) else Nil
        }
      val all = segs(w)
      if (all.isEmpty) return (Map.empty, Double.NegativeInfinity)
      val probs = all.map(seg => seg.map(p => math.exp(m(p))).product)
      val z = probs.sum
      val exp = all.zip(probs).foldLeft(Map.empty[String, Double]) {
        case (acc, (seg, pr)) => seg.foldLeft(acc) { (a, p) =>
          a.updated(p, a.getOrElse(p, 0.0) + pr / z)
        }
      }
      (exp, math.log(z))
    }
    val pieceGen = Gen.nonEmptyListOf(Gen.oneOf('a', 'b')).map(_.mkString take 3)
    val vocabGen = for {
      ps <- Gen.listOfN(6, pieceGen)
      lps <- Gen.listOfN(8, Gen.choose(-6.0, -0.5))
    } yield (ps ++ Seq("a", "b")).distinct.zip(lps).toMap // chars always in
    val wordGen = Gen.listOf(Gen.oneOf('a', 'b')).map(_.mkString take 7)
    val prop = Prop.forAll(vocabGen, wordGen) { (vm, w) =>
      val jm = new java.util.HashMap[String, java.lang.Double]()
      vm.foreach { case (p, lp) => jm.put(p, java.lang.Double.valueOf(lp)) }
      val (gotEc, gotZ) = UnigramUtil.expectedCounts(w, jm, 3)
      val (wantEc, wantZ) = bruteExpected(w, vm)
      import scala.jdk.CollectionConverters._
      val g = gotEc.asScala.map { case (k, v) => k -> v.doubleValue() }.toMap
      val zOk = (gotZ.isNegInfinity && wantZ.isNegInfinity) ||
        math.abs(gotZ - wantZ) < 1e-9
      val ecOk = (g.keySet ++ wantEc.keySet).forall(k =>
        math.abs(g.getOrElse(k, 0.0) - wantEc.getOrElse(k, 0.0)) < 1e-9)
      val ok = zOk && ecOk
      if (!ok) println(s"FB break on <$w> vocab=$vm: got ($g, $gotZ) want ($wantEc, $wantZ)")
      ok
    }
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(1500), prop)
    assert(res.passed, res.status.toString)
    // trainer on a tiny corpus: LL non-decreasing, singles retained,
    // learned vocab round-trips through the apply kernel losslessly
    val docs = Seq("the cat sat", "the cat ran", "the the the").toDF("text")
    val (pieces, lls) = CurationOps.learnUnigramVocab(docs, "text",
      seedMaxLen = 3, seedSize = 20, emRounds = 4, finalSize = 16)
    assert(lls.size == 4)
    lls.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 1e-9, s"EM log-likelihood decreased: $lls") }
    assert(pieces.exists(_._1 == "t") && pieces.exists(_._1 == "c"))
    assert(pieces.exists(p => p._1.length > 1), "no multi-char piece learned")
    val enc = Seq("the cat").toDF("t")
      .select(graft.functions.TokenizeExpressions.unigramEncode(col("t"), pieces).as("p"))
      .as[Seq[Seq[String]]].head()
    assert(enc.map(_.mkString) == Seq("the", "cat"), enc.toString)
  }

  test("containsAnyWord is token-exact: no substring (Scunthorpe) hits, empty text never trips") {
    val df = Seq("the class is full", "bad word here", "badge of honor", "", "bad").toDF("text")
    val got = df.select(TextOps.containsAnyWord(col("text"), Seq("bad", "ass")).as("h"))
      .as[Boolean].collect().toSeq
    // "class" does not match "ass"; "badge" does not match "bad"
    assert(got == Seq(false, true, false, false, true))
  }

  test("boilerplateLines cuts chunks shared across docs; all-boilerplate docs go null") {
    val df = Seq(
      (1L, "x y a b"),   // chunks "x y" (shared with doc 2 → cut), "a b" (kept)
      (2L, "x y c d"),
      (3L, "p q r s"),   // nothing shared → intact
      (4L, "x y"))       // only the shared chunk → scrubbed to null
      .toDF("doc_id", "text")
    val got = CurationOps.boilerplateLines(df, "doc_id", "text", w = 2, maxDf = 2)
      .orderBy("doc_id").as[(Long, Int, Int, Option[String])].collect().toSeq
    assert(got == Seq(
      (1L, 2, 1, Some("a b")), (2L, 2, 1, Some("c d")),
      (3L, 2, 2, Some("p q r s")), (4L, 1, 0, None)))
  }

  test("frameDedupPairs: identical payloads hit jaccard 1; disjoint payloads never pair") {
    val df = Seq(
      (1L, "aaaaaaaabbbbbbbbccccccccdddddddd"), // frames: chunks 0 and 1 of 16
      (2L, "aaaaaaaabbbbbbbbccccccccdddddddd"), // identical → jaccard 1.0
      (3L, "aaaaaaaabbbbbbbbzzzzzzzzyyyyyyyy"), // shares frame 0 only → 1/3
      (4L, "qqqqqqqqrrrrrrrrsssssssstttttttt")) // disjoint
      .toDF("doc_id", "text")
      .withColumn("__bin", col("text").cast("binary"))
    val got = MultimodalOps.frameDedupPairs(df, "doc_id", "__bin",
      frameBytes = 8, everyK = 2, minJaccard = 0.0)
      .orderBy("a_id", "b_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // 32-byte payloads → frames at offsets 0 and 16 (8 bytes each):
    // doc1/doc2 share both; doc3 shares only 'aaaaaaaa'; doc4 nothing
    assert(got == Seq(
      (1L, 2L, 2, 1.0),
      (1L, 3L, 1, 0.3333),
      (2L, 3L, 1, 0.3333)))
  }

  test("partitioned* auto-route: small inputs take the built-in plan (no slice machinery), identical values") {
    val df = (1 to 60).map(i => ("g" + (i % 3), i % 5, i.toLong))
      .toDF("flag", "qty", "ln")
    // default threshold: a tiny frame routes to the built-in window —
    // no slice id in the plan, nothing collected on the driver
    spark.conf.unset(WindowRankOps.MinBytesKey)
    assert(WindowRankOps.routesToBuiltin(df), "tiny input must route to the built-in")
    def ranks() = WindowRankOps.partitionedRanks(df, Seq("flag"),
      Seq(("qty", true), ("ln", true)), ntileN = 3)
    assert(!ranks().queryExecution.executedPlan.toString.contains("__pid"),
      "built-in route must not carry the slice machinery")
    val viaBuiltin = ranks().orderBy("flag", "qty", "ln").collect().toSeq
    // conf 0 forces the distributed form — same values, same schema
    spark.conf.set(WindowRankOps.MinBytesKey, "0")
    assert(!WindowRankOps.routesToBuiltin(df))
    val viaDistributed = ranks().orderBy("flag", "qty", "ln").collect().toSeq
    assert(viaBuiltin == viaDistributed && viaBuiltin.nonEmpty,
      s"route divergence: $viaBuiltin != $viaDistributed")

    // ALL FOUR entry points must agree route-vs-distributed on values
    // AND schema — a column-name or frame mismatch in a built-in branch
    // would silently change small-input results (the branches build
    // their output column lists by hand)
    def bothRoutes(f: () => org.apache.spark.sql.DataFrame): Unit = {
      spark.conf.unset(WindowRankOps.MinBytesKey)
      val b = f().orderBy("flag", "qty", "ln")
      val builtinRows = b.collect().toSeq
      val builtinSchema = b.schema.map(x => (x.name, x.dataType))
      spark.conf.set(WindowRankOps.MinBytesKey, "0")
      val d = f().orderBy("flag", "qty", "ln")
      assert(builtinSchema == d.schema.map(x => (x.name, x.dataType)),
        s"schema divergence: $builtinSchema != ${d.schema}")
      val distRows = d.collect().toSeq
      assert(builtinRows == distRows && builtinRows.nonEmpty,
        s"route divergence: $builtinRows != $distRows")
    }
    bothRoutes(() => WindowRankOps.partitionedRunning(df, Seq("flag"),
      Seq(("qty", true), ("ln", true)), valueCol = "qty", movingK = 3))
    bothRoutes(() => WindowRankOps.partitionedShift(df, Seq("flag"),
      Seq(("qty", true), ("ln", true)), valueCols = Seq("qty", "ln"), k = 2))
    bothRoutes(() => WindowRankOps.partitionedDistribution(df, Seq("flag"),
      Seq(("qty", true), ("ln", true)), ntileN = 3))
    bothRoutes(() => WindowRankOps.partitionedRanks(df, Seq("flag"),
      Seq(("qty", true), ("ln", true)), ntileN = 3))
  }

  test("partitionedRanks == built-in window (rank/dense_rank/row_number/ntile), ties straddling slices") {
    spark.conf.set(WindowRankOps.MinBytesKey, "0") // force the distributed path

    import org.apache.spark.sql.expressions.Window
    // tie-heavy fixture: few distinct order values so tie groups span
    // range-slice boundaries (4 shuffle partitions), multiple groups of
    // very different sizes, a group smaller than the ntile count, and a
    // descending first order column like q17's
    val rows = for {
      g <- Seq("A", "B", "C")
      i <- 1 to (if (g == "A") 400 else if (g == "B") 37 else 2)
    } yield (g, (i % 5).toDouble, (i % 7).toLong, i)
    val df = rows.toDF("flag", "qty", "ok", "ln")
    val got = WindowRankOps.partitionedRanks(df, Seq("flag"),
      Seq(("qty", false), ("ok", true), ("ln", true)), ntileN = 4,
      ntileCol = "quartile")
      .select(col("flag"), col("qty"), col("ok"), col("ln"),
        col("rnk").cast("int"), col("drnk").cast("int"),
        col("rn").cast("int"), col("quartile").cast("int"))
      .orderBy("flag", "qty", "ok", "ln")
      .collect().toSeq
    val w = Window.partitionBy(col("flag"))
      .orderBy(col("qty").desc, col("ok"), col("ln"))
    val exp = df.select(col("flag"), col("qty"), col("ok"), col("ln"),
        rank().over(w).as("rnk"), dense_rank().over(w).as("drnk"),
        row_number().over(w).as("rn"), ntile(4).over(w).as("quartile"))
      .orderBy("flag", "qty", "ok", "ln")
      .collect().toSeq
    // row_number breaks ties arbitrarily BUT both forms order ties the
    // same way here (rn/ntile compared only where keys are unique is
    // the general contract; this fixture's within-tie order agrees
    // because both sort on the same full key) — compare rank/dense
    // exactly everywhere, rn/ntile as multisets per (flag, key)
    assert(got.map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3),
      r.getInt(4), r.getInt(5))) ==
      exp.map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getInt(3),
        r.getInt(4), r.getInt(5))), "rank/dense_rank mismatch")
    def tiles(s: Seq[org.apache.spark.sql.Row]) = s.groupBy(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
      .map { case (k, rs) => k -> rs.map(r => (r.getInt(6), r.getInt(7))).sorted }
    assert(tiles(got) == tiles(exp), "rn/ntile multiset mismatch")
    // NULL order values sort per Spark defaults on both forms
    val nulled = Seq(("A", Some(1.0), 1L, 1), ("A", None, 2L, 2), ("A", None, 2L, 3),
      ("A", Some(3.0), 0L, 4), ("B", None, 9L, 5))
      .toDF("flag", "qty", "ok", "ln")
    val gotN = WindowRankOps.partitionedRanks(nulled, Seq("flag"),
      Seq(("qty", false), ("ok", true), ("ln", true)), ntileN = 2, ntileCol = "t")
      .select(col("flag"), col("ln"), col("rnk").cast("int"), col("drnk").cast("int"),
        col("rn").cast("int"), col("t").cast("int"))
      .orderBy("flag", "ln").collect().toSeq
    val wN = Window.partitionBy(col("flag"))
      .orderBy(col("qty").desc, col("ok"), col("ln"))
    val expN = nulled.select(col("flag"), col("ln"), rank().over(wN), dense_rank().over(wN),
        row_number().over(wN), ntile(2).over(wN))
      .orderBy("flag", "ln").collect().toSeq
    assert(gotN == expN, s"null-order mismatch: $gotN vs $expN")
    // reserved-name collision fails loudly
    val e = intercept[IllegalArgumentException](WindowRankOps.partitionedRanks(
      nulled.withColumnRenamed("ln", "rnk"), Seq("flag"), Seq(("qty", true)), 2))
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("partitionedRunning == built-in running/moving sums, frames straddling slices") {
    spark.conf.set(WindowRankOps.MinBytesKey, "0") // force the distributed path

    import org.apache.spark.sql.expressions.Window
    // long runs per group so moving frames straddle the 4 range slices;
    // group C has fewer rows than the moving frame
    val rows = for {
      g <- Seq("A", "B", "C")
      i <- 1 to (if (g == "A") 500 else if (g == "B") 41 else 2)
    } yield (g, i.toLong, (i * 7 % 100).toLong)
    val df = rows.toDF("flag", "seq", "cents")
    val got = WindowRankOps.partitionedRunning(df, Seq("flag"),
      Seq(("seq", true)), "cents", movingK = 3)
      .select(col("flag"), col("seq"), col("running_total"), col("moving_sum3"))
      .orderBy("flag", "seq").collect().toSeq
    val w = Window.partitionBy(col("flag")).orderBy(col("seq"))
    val exp = df.select(col("flag"), col("seq"),
        sum(col("cents")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_total"),
        sum(col("cents")).over(w.rowsBetween(-2, Window.currentRow)).as("moving_sum3"))
      .orderBy("flag", "seq").collect().toSeq
    assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    // movingK = 1 degenerates to the value itself
    val k1 = WindowRankOps.partitionedRunning(df, Seq("flag"),
      Seq(("seq", true)), "cents", movingK = 1)
      .select(col("cents"), col("moving_sum1")).collect()
    k1.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // non-integral measures fail loudly (float fold order would drift)
    val e = intercept[IllegalArgumentException](WindowRankOps.partitionedRunning(
      df.withColumn("d", col("cents").cast("double")), Seq("flag"),
      Seq(("seq", true)), "d", 3))
    assert(e.getMessage.contains("integral"), e.getMessage)
  }

  test("partitionedDistribution == built-in percent_rank/cume_dist/ntile, bit-identical, ties straddling slices") {
    spark.conf.set(WindowRankOps.MinBytesKey, "0") // force the distributed path

    import org.apache.spark.sql.expressions.Window
    // same tie-heavy shape as the ranks test: tie groups span the 4
    // range slices, a 1-row group (percent_rank's N=1 special case),
    // and a descending first order column
    val rows = for {
      g <- Seq("A", "B", "C")
      i <- 1 to (if (g == "A") 400 else if (g == "B") 37 else 1)
    } yield (g, (i % 5).toDouble, (i % 7).toLong, i)
    val df = rows.toDF("flag", "qty", "ok", "ln")
    val got = WindowRankOps.partitionedDistribution(df, Seq("flag"),
      Seq(("qty", false), ("ok", true), ("ln", true)), ntileN = 4,
      ntileCol = "quartile")
      .select(col("flag"), col("qty"), col("ok"), col("ln"), col("rnk"),
        col("quartile").cast("int"), col("pct_rank"), col("cume_dist"))
      .orderBy("flag", "qty", "ok", "ln").collect().toSeq
    val w = Window.partitionBy(col("flag"))
      .orderBy(col("qty").desc, col("ok"), col("ln"))
    val exp = df.select(col("flag"), col("qty"), col("ok"), col("ln"),
        rank().over(w).cast("long").as("rnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume_dist"))
      .orderBy("flag", "qty", "ok", "ln").collect().toSeq
    // rank/pct/cume are tie-invariant: compare EXACTLY (the doubles
    // must be bit-identical — same integer numerators, one division);
    // ntile depends on arbitrary within-tie order: multisets per key
    assert(got.map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
      r.getLong(4), r.getDouble(6), r.getDouble(7))) ==
      exp.map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(4), r.getDouble(6), r.getDouble(7))),
      "rnk/pct_rank/cume_dist mismatch")
    def tiles(s: Seq[org.apache.spark.sql.Row]) =
      s.groupBy(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .map { case (k, rs) => k -> rs.map(_.getInt(5)).sorted }
    assert(tiles(got) == tiles(exp), "ntile multiset mismatch")
    // NULL order values: peers both directions, Spark default placement
    val nulled = Seq(("A", Some(1.0), 1), ("A", None, 2), ("A", None, 3),
      ("A", Some(3.0), 4), ("B", None, 5))
      .toDF("flag", "qty", "ln")
    val gotN = WindowRankOps.partitionedDistribution(nulled, Seq("flag"),
      Seq(("qty", true)), ntileN = 2)
      .select(col("flag"), col("ln"), col("pct_rank"), col("cume_dist"))
      .orderBy("flag", "ln", "pct_rank").collect().toSeq
    val wN = Window.partitionBy(col("flag")).orderBy(col("qty"))
    val expN = nulled.select(col("flag"), col("ln"),
        percent_rank().over(wN).as("pct_rank"), cume_dist().over(wN).as("cume_dist"))
      .orderBy("flag", "ln", "pct_rank").collect().toSeq
    assert(gotN == expN, s"null-order mismatch: $gotN vs $expN")
    // reserved-name collision fails loudly
    val e = intercept[IllegalArgumentException](WindowRankOps.partitionedDistribution(
      nulled.withColumnRenamed("ln", "cume_dist"), Seq("flag"), Seq(("qty", true)), 2))
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("partitionedShift == built-in lag/lead, offsets straddling slices") {
    spark.conf.set(WindowRankOps.MinBytesKey, "0") // force the distributed path

    import org.apache.spark.sql.expressions.Window
    // group A spans all 4 range slices so k=3 shifts straddle slice
    // boundaries repeatedly; B is SHORTER than k (all lags/leads from
    // the carries or null); C has exactly one row (all null)
    val rows = for {
      g <- Seq("A", "B", "C")
      i <- 1 to (if (g == "A") 500 else if (g == "B") 2 else 1)
    } yield (g, i.toLong, s"v$g$i", (i * 3 % 11).toLong)
    val df = rows.toDF("flag", "seq", "name", "x")
    val got = WindowRankOps.partitionedShift(df, Seq("flag"),
      Seq(("seq", true)), Seq("name", "x"), k = 3)
      .select(col("flag"), col("seq"),
        col("lag3.name").as("pn"), col("lag3.x").as("px"),
        col("lead3.name").as("nn"), col("lead3.x").as("nx"))
      .orderBy("flag", "seq").collect().toSeq
    val w = Window.partitionBy(col("flag")).orderBy(col("seq"))
    val vs = struct(col("name"), col("x"))
    val exp = df.select(col("flag"), col("seq"),
        lag(vs, 3).over(w).getField("name").as("pn"),
        lag(vs, 3).over(w).getField("x").as("px"),
        lead(vs, 3).over(w).getField("name").as("nn"),
        lead(vs, 3).over(w).getField("x").as("nx"))
      .orderBy("flag", "seq").collect().toSeq
    assert(got == exp, s"first diff: ${got.zip(exp).find(p => p._1 != p._2)}")
    // k = 1, single value col
    val got1 = WindowRankOps.partitionedShift(df, Seq("flag"),
      Seq(("seq", true)), Seq("x"), k = 1)
      .select(col("flag"), col("seq"), col("lag1.x"), col("lead1.x"))
      .orderBy("flag", "seq").collect().toSeq
    val exp1 = df.select(col("flag"), col("seq"),
        lag(col("x"), 1).over(w), lead(col("x"), 1).over(w))
      .orderBy("flag", "seq").collect().toSeq
    assert(got1 == exp1)
    // reserved-name collision fails loudly
    val e = intercept[IllegalArgumentException](WindowRankOps.partitionedShift(
      df.withColumnRenamed("x", "lag2"), Seq("flag"), Seq(("seq", true)), Seq("name"), 2))
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("fused FrameMd5s signature kernel == explode-md5-collect composable form") {
    // adversarial payload shapes: empty, shorter than a frame, exact
    // frame multiple, one byte past a stride, repeated frames (distinct
    // collapse), long payload
    val rows = Seq((1L, ""), (2L, "abc"), (3L, "a" * 16), (4L, "b" * 17),
      (5L, "cccccccc" * 6), (6L, ("x" * 16) + ("y" * 16) + ("x" * 16)),
      (7L, "z" * 333))
    val df = rows.toDF("doc_id", "text").withColumn("__bin", col("text").cast("binary"))
    val fused = MultimodalOps.frameSignatures(df, "doc_id", "__bin", 8, 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2)))
    val comp = MultimodalOps.sampleFrames(df, "doc_id", "__bin", 8, 2)
      .select(col("doc_id"), md5(col("frame_bytes")).as("fh"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("fh"))).as("fhs"))
      .select(col("doc_id"), size(col("fhs")).as("n"), col("fhs"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2)))
    assert(fused.toSeq == comp.toSeq)
  }

  test("FrameMd5s kernel == explode form on 300 random payloads x 3 framings (seeded)") {
    val rnd = new scala.util.Random(0xF4A3E5)
    val payloads = (1 to 300).map { i =>
      val n = rnd.nextInt(200)
      val b = new Array[Byte](n)
      rnd.nextBytes(b)
      (i.toLong, b)
    }
    val df = payloads.toDF("doc_id", "__bin")
    Seq((8, 2), (16, 1), (5, 3)).foreach { case (fb, ek) =>
      val fused = MultimodalOps.frameSignatures(df, "doc_id", "__bin", fb, ek)
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](2)))
      val comp = MultimodalOps.sampleFrames(df, "doc_id", "__bin", fb, ek)
        .select(col("doc_id"), md5(col("frame_bytes")).as("fh"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("fh"))).as("fhs"))
        .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[String](1)))
      assert(fused.toSeq == comp.toSeq, s"framing ($fb, $ek)")
    }
  }

  test("LSM append markers: a marked replay is a full no-op, a new batchId appends, unmarked stays tolerated") {
    val path = java.nio.file.Files.createTempDirectory("graft-mark").toString + "/led"
    val docs = Seq((1L, "a b c d e"), (2L, "f g h i j"), (3L, "k l m n o"))
      .toDF("doc_id", "text")
    DedupOps.writeSignatureLedger(docs.filter(col("doc_id") === 1), "doc_id", "text", path)
    def nRows = spark.read.parquet(path).count()
    val base = nRows
    DedupOps.appendToSignatureLedger(docs.filter(col("doc_id") === 2),
      "doc_id", "text", path, batchId = Some("b2"))
    val afterB2 = nRows
    assert(afterB2 > base)
    // marked replay: no re-hash, no duplicate rows
    DedupOps.appendToSignatureLedger(docs.filter(col("doc_id") === 2),
      "doc_id", "text", path, batchId = Some("b2"))
    assert(nRows == afterB2, "marked replay must append nothing")
    // a NEW batchId appends (monotonic-retry semantics: only the LAST
    // id is remembered)
    DedupOps.appendToSignatureLedger(docs.filter(col("doc_id") === 3),
      "doc_id", "text", path, batchId = Some("b3"))
    val afterB3 = nRows
    assert(afterB3 > afterB2)
    // unmarked append after a marked one still lands (tolerated path)
    DedupOps.appendToSignatureLedger(docs.filter(col("doc_id") === 3),
      "doc_id", "text", path)
    assert(nRows > afterB3, "unmarked append must not be swallowed by the marker")
  }

  test("frame ledger: cycle == in-flight cross pairs; framing drift fails loudly") {
    val path = java.nio.file.Files.createTempDirectory("graft-frames").toString + "/led"
    val mk = (id: Long, t: String) => (id, t)
    val docs = Seq(
      mk(1L, "aaaaaaaabbbbbbbbccccccccdddddddd"),
      mk(2L, "aaaaaaaabbbbbbbbzzzzzzzzyyyyyyyy"),
      mk(3L, "qqqqqqqqrrrrrrrrsssssssstttttttt"),
      mk(10L, "aaaaaaaabbbbbbbbccccccccdddddddd"), // probe: identical to 1
      mk(11L, "aaaaaaaabbbbbbbbzzzzzzzzwwwwwwww")) // probe: shares with 1,2
      .toDF("doc_id", "text").withColumn("__bin", col("text").cast("binary"))
    val corpus = docs.filter(col("doc_id") < 10)
    val batch = docs.filter(col("doc_id") >= 10)
    MultimodalOps.writeFrameLedger(corpus.filter(col("doc_id") === 1), "doc_id", "__bin", 8, 2, path)
    MultimodalOps.appendToFrameLedger(corpus.filter(col("doc_id") > 1), "doc_id", "__bin", 8, 2, path)
    MultimodalOps.appendToFrameLedger(corpus.filter(col("doc_id") > 1), "doc_id", "__bin", 8, 2, path) // replay
    MultimodalOps.compactFrameLedger(spark, path, targetFiles = 2)
    val got = MultimodalOps.frameDedupAgainstLedger(batch, "doc_id", "__bin", path, 8, 2, 0.0)
      .orderBy("new_id", "corpus_id")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // doc10 ≡ doc1 (jaccard 1), shares 'aaaaaaaa' with doc2 (1/3);
    // doc11 shares frame0 with 1 (1/3), frames 0+16 with 2 (2/2 of
    // union 2+2-2=2 → 1.0? doc11 frames: aaaaaaaa, zzzzzzzz;
    // doc2 frames: aaaaaaaa, zzzzzzzz → identical sets → 1.0)
    assert(got == Seq(
      (10L, 1L, 2, 1.0), (10L, 2L, 1, 0.3333),
      (11L, 1L, 1, 0.3333), (11L, 2L, 2, 1.0)))
    // framing drift: a probe/append with different (frameBytes, everyK)
    // must fail loudly naming both sides
    val e = intercept[IllegalArgumentException](
      MultimodalOps.frameDedupAgainstLedger(batch, "doc_id", "__bin", path, 4, 2, 0.0))
    assert(e.getMessage.contains("frameBytes=8") && e.getMessage.contains("frameBytes=4"))
    val e2 = intercept[IllegalArgumentException](
      MultimodalOps.appendToFrameLedger(batch, "doc_id", "__bin", 8, 3, path))
    assert(e2.getMessage.contains("everyK=2") && e2.getMessage.contains("everyK=3"))
    // forget: doc1's hashes leave; probes stop pairing against it
    MultimodalOps.removeFromFrameLedger(
      corpus.filter(col("doc_id") === 1).select(col("doc_id")), "doc_id", path)
    val afterForget = MultimodalOps
      .frameDedupAgainstLedger(batch, "doc_id", "__bin", path, 8, 2, 0.0)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Int, Double)].collect().toSeq
    assert(afterForget == Seq((10L, 2L, 1, 0.3333), (11L, 2L, 2, 1.0)))
    // re-admission witness: a forgotten payload appends back like any
    // batch and pairs again
    MultimodalOps.appendToFrameLedger(
      corpus.filter(col("doc_id") === 1), "doc_id", "__bin", 8, 2, path)
    val readmitted = MultimodalOps
      .frameDedupAgainstLedger(batch, "doc_id", "__bin", path, 8, 2, 0.0)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Int, Double)].collect().toSeq
    assert(readmitted == got)
  }

  test("aucRankSum == pairwise ties-half AUC on tie-heavy samples; degenerate one-class inputs are 0") {
    def pairwise(pairs: Array[(Int, Double)]): Double = {
      val pos = pairs.count(_._1 == 1).toLong
      val neg = pairs.length - pos
      if (pos == 0 || neg == 0) return 0.0
      var wins = 0.0
      for ((la, pa) <- pairs if la == 1; (lb, pb) <- pairs if lb == 0)
        wins += (if (pa > pb) 1.0 else if (pa == pb) 0.5 else 0.0)
      wins / (pos * neg)
    }
    // deterministic tie-heavy fixtures: scores quantized to few levels
    // so tied pos/neg pairs dominate; labels from a hash-ish pattern
    val fixtures = Seq(
      (0 until 200).map(i => ((i * 7 + 3) % 5 % 2, (i * 13 % 4) * 0.25)).toArray,
      (0 until 101).map(i => (if (i % 3 == 0) 1 else 0, (i % 2) * 1.0)).toArray,
      Array((1, 0.5), (0, 0.5)), // a single fully-tied pair → 0.5
      (0 until 50).map(i => (i % 2, i * 0.01)).toArray) // no ties
    fixtures.foreach { f =>
      val rs = MlOps.aucRankSum(f)
      val pw = pairwise(f)
      assert(math.abs(rs - pw) < 1e-12, s"rank-sum $rs != pairwise $pw")
    }
    assert(MlOps.aucRankSum(Array((1, 0.3), (1, 0.9))) == 0.0)
    assert(MlOps.aucRankSum(Array.empty[(Int, Double)]) == 0.0)
    // NaN scores must TERMINATE (NaN == NaN is false: a tie scan that
    // starts at i would never advance) — each NaN forms a singleton
    // block; java's Double ordering sorts NaN above every finite score,
    // so a NaN-scored positive ranks top. The pin is termination +
    // finite output, not a semantic claim about NaN rank quality.
    val withNaN = Array((1, Double.NaN), (0, 0.2), (1, 0.8), (0, Double.NaN))
    val v = MlOps.aucRankSum(withNaN)
    assert(!v.isNaN && v >= 0.0 && v <= 1.0, s"NaN input gave $v")
  }

  test("frame-ledger probe: reduced route == full-scan route; group-key (set, n) keeps distinct sizes apart") {
    val path = java.nio.file.Files.createTempDirectory("graft-frames-r").toString + "/led"
    // frames are 8-byte chunks at everyK=2 (chunks 0, 2, ... of 16-byte
    // strides): d1/d2 share exactly frame 'aaaaaaaa' with the batch but
    // differ in their second frame; d3 carries it among THREE frames —
    // its reduced set equals d1/d2's but its n differs, so the
    // (set, n) group key must keep it in its own group (different
    // Jaccard denominator)
    val docs = Seq(
      (1L, "aaaaaaaa________bbbbbbbb________"),
      (2L, "aaaaaaaa________cccccccc________"),
      (3L, "aaaaaaaa________dddddddd________eeeeeeee________"),
      (10L, "aaaaaaaa________")) // probe: single frame
      .toDF("doc_id", "text").withColumn("__bin", col("text").cast("binary"))
    MultimodalOps.writeFrameLedger(docs.filter(col("doc_id") < 10),
      "doc_id", "__bin", 8, 2, path)
    val batch = docs.filter(col("doc_id") === 10)
    def probe(): Seq[(Long, Long, Int, Double)] = MultimodalOps
      .frameDedupAgainstLedger(batch, "doc_id", "__bin", path, 8, 2, 0.0)
      .orderBy("new_id", "corpus_id").as[(Long, Long, Int, Double)].collect().toSeq
    val expected = Seq(
      (10L, 1L, 1, 0.5), (10L, 2L, 1, 0.5), (10L, 3L, 1, 0.3333))
    spark.conf.set("spark.graft.frameProbe.reduceMinBytes", "0") // force reduce
    val reduced = try probe()
    finally spark.conf.set("spark.graft.frameProbe.reduceMinBytes",
      Long.MaxValue.toString)
    val full = try probe()
    finally spark.conf.unset("spark.graft.frameProbe.reduceMinBytes")
    assert(reduced == expected, s"reduced route: $reduced")
    assert(full == expected, s"full-scan route: $full")
    // edge: an EMPTY batch probes to zero rows on both routes (the
    // reduction's build side is empty — nothing may throw)
    val none = docs.filter(col("doc_id") < 0)
    spark.conf.set("spark.graft.frameProbe.reduceMinBytes", "0")
    try assert(MultimodalOps.frameDedupAgainstLedger(
      none, "doc_id", "__bin", path, 8, 2, 0.0).count() == 0)
    finally spark.conf.unset("spark.graft.frameProbe.reduceMinBytes")
    assert(MultimodalOps.frameDedupAgainstLedger(
      none, "doc_id", "__bin", path, 8, 2, 0.0).count() == 0)
    // edge: a degenerate threshold > 1 yields empty prefixes → empty
    // result (the clamp path), not an error
    assert(MultimodalOps.frameDedupAgainstLedger(
      batch, "doc_id", "__bin", path, 8, 2, 1.5).count() == 0)
  }

  test("tuneLshParams: S-curve argmin matches the independent quadrature; tuned pairs == hand-tuned pairs") {
    // independently verified (numpy midpoint quadrature, 200 steps,
    // equal weights): best (b, r) under a 16-hash budget is (5, 3) at
    // t=0.5 (cost .068, margin .005 to 2nd) and (2, 8) at t=0.8
    // (cost .047, margin .001) — margins far above float-fold noise
    assert(DedupOps.tuneLshParams(spark, 16, 0.5) == ((5, 3)))
    assert(DedupOps.tuneLshParams(spark, 16, 0.8) == ((2, 8)))
    // heavier FN weight buys recall: more bands at the same threshold
    val (bRecall, _) = DedupOps.tuneLshParams(spark, 16, 0.8, fpWeight = 0.1, fnWeight = 0.9)
    assert(bRecall > 2, s"fn-weighted tuning should add bands, got b=$bRecall")
    // the tuned entry point is exactly the standard banding at (b*r, r)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark and scala engines"),
      (4L, "a completely different document about spark and scala motors"))
      .toDF("doc_id", "text")
    val tuned = DedupOps.lshCandidatePairsTuned(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("d1", "d2").collect().toSeq
    val hand = DedupOps.lshCandidatePairs(docs, "doc_id", "text", numHashes = 15, bandSize = 3)
      .orderBy("d1", "d2").collect().toSeq
    assert(tuned == hand)
  }

  test("registrableDomains: publicsuffix.org algorithm vectors (plain/nested/wildcard/exception/default)") {
    // the rule classes from the published algorithm description, plus
    // PSL file noise (comment + blank lines) the parser must drop
    val rules = Seq("com", "example.com", "uk", "co.uk", "jp", "ac.jp",
      "*.kawasaki.jp", "!city.kawasaki.jp", "*.ck", "!www.ck",
      "// this is a comment", "").toDF("rule")
    val hosts = Seq(
      "example.com",        // host IS a public suffix → null registrable
      "www.example.com",    // nested plain rule beats 'com'
      "a.b.example.com",    // registrable is example.com + 1 label up
      "shop.co.uk",         // 2-label plain rule
      "co.uk",              // public suffix itself
      "keio.ac.jp",
      "x.kawasaki.jp",      // wildcard: host == matched suffix → null
      "y.x.kawasaki.jp",    // wildcard + 1
      "city.kawasaki.jp",   // exception cancels the wildcard
      "sub.city.kawasaki.jp",
      "www.ck",             // exception: registrable despite *.ck
      "sub.www.ck",
      "other.ck",           // wildcard *.ck, host == suffix → null
      "unknown.tld",        // no rule → default '*' (rightmost label)
      "WWW.Example.COM"     // case folds before matching
    ).toDF("host")
    val got = DomainOps.registrableDomains(hosts, "host", rules)
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("example.com") == (("example.com", None)))
    assert(got("www.example.com") == (("example.com", Some("www.example.com"))))
    assert(got("a.b.example.com") == (("example.com", Some("b.example.com"))))
    assert(got("shop.co.uk") == (("co.uk", Some("shop.co.uk"))))
    assert(got("co.uk") == (("co.uk", None)))
    assert(got("keio.ac.jp") == (("ac.jp", Some("keio.ac.jp"))))
    assert(got("x.kawasaki.jp") == (("x.kawasaki.jp", None)))
    assert(got("y.x.kawasaki.jp") == (("x.kawasaki.jp", Some("y.x.kawasaki.jp"))))
    assert(got("city.kawasaki.jp") == (("kawasaki.jp", Some("city.kawasaki.jp"))))
    assert(got("sub.city.kawasaki.jp") == (("kawasaki.jp", Some("city.kawasaki.jp"))))
    assert(got("www.ck") == (("ck", Some("www.ck"))))
    assert(got("sub.www.ck") == (("ck", Some("www.ck"))))
    assert(got("other.ck") == (("other.ck", None)))
    assert(got("unknown.tld") == (("tld", Some("unknown.tld"))))
    // case-folded key: the mixed-case host resolves under its folded form
    assert(got("www.example.com") == (("example.com", Some("www.example.com"))))
    assert(!got.contains("WWW.Example.COM") || got.size == 15)
    // corpus convenience: mixed-case host column still resolves via the fold
    val corpus = Seq((1L, "WWW.Example.COM"), (2L, "unknown.tld")).toDF("id", "h")
    val joined = DomainOps.withRegistrableDomain(corpus, "h", rules)
      .select("id", "registrable_domain").as[(Long, Option[String])].collect().toMap
    assert(joined(1L) == Some("www.example.com"))
    assert(joined(2L) == Some("unknown.tld"))
  }

  test("fused SimHash60 kernel == explode/60-agg reference, incl. tokenization edges and md5Hash60 prefix parity") {
    val awkward = Seq("", " ", "   ", "a", " a ", "a  b", "  a b  c ", "a b",
      "x y x y x y x y", "über straße — ümlaut über straße",
      "日本 語 日本 語 日本", "a a a a a a a a a a", "tab\tis one token",
      "one two three four five six seven eight nine ten")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = awkward.toDF("id", "t")
    val fused = DedupOps.simHash60Df(df, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = DedupOps.simHash60AggDf(df, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused == ref && fused.values.forall(v => v >= 0 && v < (1L << 60)),
      s"$fused != $ref")
    // md5Hash60 == the SQL '0x'||substr(md5, 1, 15) parse it mirrors
    val viaSql = df.selectExpr(
      "id", "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) AS h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = df.select(col("id"), DedupOps.md5Hash60(col("t")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaKernel)
  }

  test("ABTT: power iteration recovers a planted direction; removal leaves residuals orthogonal and centered") {
    // planted anisotropy: a fixed offset + one strong direction with
    // deterministic per-row coefficients + small structured noise
    val dim = 16
    val planted = Array.tabulate(dim)(j => math.sin(j + 1.0))
    val pn = math.sqrt(planted.map(x => x * x).sum)
    val unit = planted.map(_ / pn)
    val rows = (0 until 300).map { i =>
      val coef = (i % 21) - 10.0 // strong, zero-mean-ish spread
      val vec = Array.tabulate(dim)(j =>
        (0.3 * j + coef * unit(j) + 0.01 * math.cos(i * (j + 1))).toFloat)
      Tuple1(vec.toSeq)
    }
    val df = rows.toDF("embedding")
    val comp = SimilarityOps.topComponent(df, "embedding", iters = 5)
      .orderBy("pos").collect()
    val v = comp.map(_.getDouble(2))
    val mu = comp.map(_.getDouble(1))
    val cos = v.zip(unit).map { case (a, b) => a * b }.sum /
      math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(cos) > 0.999, s"planted-direction recovery: |cos| = $cos")
    assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-4, "unit norm")
    // removal: residuals are orthogonal to the component and centered
    val post = SimilarityOps.removeTopComponent(df, "embedding", mu, v)
      .collect().map(_.getSeq[Double](0))
    val maxProj = post.map(x => math.abs(x.zip(v).map { case (a, b) => a * b }.sum)).max
    assert(maxProj < 1e-3, s"residual projection on comp: $maxProj")
    val meanNorm = math.sqrt((0 until dim).map(j =>
      math.pow(post.map(_(j)).sum / post.length, 2)).sum)
    assert(meanNorm < 1e-3, s"residual mean norm: $meanNorm")
    // degenerate corpus fails loudly instead of dividing by zero
    val zeros = Seq(Tuple1(Seq.fill(4)(0.0f)), Tuple1(Seq.fill(4)(0.0f))).toDF("embedding")
    val e = intercept[IllegalArgumentException](
      SimilarityOps.topComponent(zeros, "embedding"))
    assert(e.getMessage.contains("degenerate"), e.getMessage)
  }

  test("card kernel ≡ regex+Luhn reference: counts, digits, scrub over 3000 junction cases; SQL edge pins") {
    import graft.functions.PiiUtil
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop}
    val runPat = java.util.regex.Pattern.compile("\\d([ -]?\\d)*")
    def luhn(ds: String): Boolean = {
      var sum = 0
      ds.reverse.zipWithIndex.foreach { case (c, i) =>
        var d = c - '0'
        if (i % 2 == 1) { d *= 2; if (d > 9) d -= 9 }
        sum += d
      }
      sum % 10 == 0
    }
    // reference card spans WITHIN a run: whole-run for 13-19 digits;
    // greedy boundary segmentation (longest valid segment per start
    // group, skip a group on failure) for over-long runs — an
    // independent re-derivation of the contract, not the kernel's walk
    def refSegs(run: String): List[(Int, Int)] = {
      val nd = run.count(_.isDigit)
      if (nd >= 13 && nd <= 19) {
        if (luhn(run.filter(_.isDigit))) List((0, run.length)) else Nil
      } else if (nd > 19) {
        // digit groups as (start, end) offsets within the run
        val gs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        var i = 0
        while (i < run.length) {
          if (run(i).isDigit) {
            val s0 = i
            while (i < run.length && run(i).isDigit) i += 1
            gs += ((s0, i))
          } else i += 1
        }
        val out = List.newBuilder[(Int, Int)]
        var gi = 0
        while (gi < gs.length) {
          var best = -1; var cum = 0
          var gj = gi
          var go = true
          while (go && gj < gs.length) {
            cum += gs(gj)._2 - gs(gj)._1
            if (cum > 19) go = false
            else {
              if (cum >= 13 &&
                  luhn(run.substring(gs(gi)._1, gs(gj)._2).filter(_.isDigit)))
                best = gj
              gj += 1
            }
          }
          if (best >= 0) { out += ((gs(gi)._1, gs(best)._2)); gi = best + 1 }
          else gi += 1
        }
        out.result()
      } else Nil
    }
    def refCounts(s: String): (Int, Int) = {
      val m = runPat.matcher(s)
      var n = 0; var dsum = 0
      while (m.find()) refSegs(m.group()).foreach { case (a, b) =>
        n += 1; dsum += m.group().substring(a, b).count(_.isDigit)
      }
      (n, dsum)
    }
    def refScrub(s: String): String = {
      val m = runPat.matcher(s)
      val sb = new java.lang.StringBuilder
      var p = 0
      while (m.find()) refSegs(m.group()).foreach { case (a, b) =>
        sb.append(s.substring(p, m.start() + a)).append("<CARD>")
        p = m.start() + b
      }
      sb.append(s.substring(p)).toString
    }
    def kCounts(s: String): (Int, Int) = {
      val r = PiiUtil.cardCountsRow(UTF8String.fromString(s))
      (r.getInt(0), r.getInt(1))
    }
    def kScrub(s: String): String =
      PiiUtil.scrubCards(UTF8String.fromString(s), "<CARD>".getBytes).toString
    // junction-heavy fragments: valid cards both separators, the Luhn
    // near-miss, boundary-length runs, glue that merges runs
    val frag = Gen.oneOf(
      "4539 1488 0343 6467", "6011-0009-9013-9424", "4539148803436467",
      "1234 5678 9012 3456", "123456789012", "12345678901234567890",
      "4222222222222", "4222222222223", // 13-digit: valid / off-by-one
      "0", "00", " ", "-", "--", "x", "4", "a 1 b", "", "9 9", "12-34")
    val strGen = Gen.listOf(frag).map(_.mkString)
    val prop = Prop.forAll(strGen) { s =>
      val ok = kCounts(s) == refCounts(s) && kScrub(s) == refScrub(s)
      if (!ok) println(s"card parity break on <$s>: kernel=${kCounts(s)}/" +
        s"${kScrub(s)} ref=${refCounts(s)}/${refScrub(s)}")
      ok
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(3000), prop)
    assert(result.passed, result.status.toString)
    // hand pins: two cards in one string redact independently; a run
    // merged by glue digits stops qualifying (maximal-run semantics)
    assert(kScrub("pay 4539 1488 0343 6467 and 6011-0009-9013-9424 ok")
      == "pay <CARD> and <CARD> ok")
    assert(kCounts("45391488034364679")._1 == 0, "17-digit Luhn-fail merged run")
    // over-long run segmentation: adjacent cards one space/dash apart
    // redact (the dump/CSV case a whole-run-only rule silently leaks)
    assert(kScrub("4111111111111111 4012888888881881") == "<CARD> <CARD>",
      "adjacent contiguous-digit cards")
    assert(kCounts("duo 4539 1488 0343 6467 6011-0009-9013-9424") == (2, 32),
      "adjacent grouped cards, mixed separators")
    assert(kScrub("12345 4111111111111111") == "12345 <CARD>", "junk prefix")
    assert(kScrub("4111111111111111 12345") == "<CARD> 12345", "junk suffix")
    // a 19-digit run (card + 3-digit tail) is NOT over-long: the
    // whole-run rule still owns it, and Luhn over all 19 fails — the
    // its-an-ID defense at the boundary
    assert(kCounts("4111111111111111 123")._1 == 0, "19-digit run stays whole-run")
    // but a CONTIGUOUS over-long blob has no boundaries — still an ID,
    // never carved into a 19-digit "card"
    assert(kCounts("12345678901234567890")._1 == 0, "20-digit contiguous blob")
    assert(kCounts("41111111111111114012888888881881")._1 == 0,
      "two cards fused with NO separator stay a blob")
    // the Column plumbing builds the same kernel
    val rows = Seq("a 4539 1488 0343 6467 b", "no cards 1 2 3").toDF("t")
      .select(TextOps.scrubCards(col("t")).as("s"), TextOps.cardCounts(col("t")).as("c"))
      .collect()
    assert(rows(0).getString(0) == "a <CARD> b" && rows(0).getStruct(1).getInt(0) == 1)
    assert(rows(1).getString(0) == "no cards 1 2 3" && rows(1).getStruct(1).getInt(0) == 0)
  }

  test("SimHash60 kernel == independent pure-Scala reference over 2000 ScalaCheck strings") {
    import org.scalacheck.{Gen, Prop}
    // independent reference: tokenize like split(trim, ' '), md5 via
    // java.security per token, 15-hex-digit prefix parse, sign > 0 —
    // shares NO code with the kernel's byte walk
    def ref(s: String): Long = {
      val t = {
        var a = s; while (a.startsWith(" ")) a = a.substring(1)
        while (a.endsWith(" ")) a = a.substring(0, a.length - 1); a
      }
      val toks = t.split(" ", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val sums = new Array[Int](60)
      toks.foreach { tok =>
        md.reset()
        val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val th = java.lang.Long.parseLong(hex.substring(0, 15), 16)
        (0 until 60).foreach(j =>
          if (((th >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1)
      }
      (0 until 60).foldLeft(0L)((acc, j) => if (sums(j) > 0) acc | (1L << j) else acc)
    }
    val frag = Gen.oneOf(Gen.alphaNumStr, Gen.oneOf("", " ", "  ", "é", "日本",
      "über", "a b", "\t", "…"), Gen.asciiPrintableStr.map(_.take(6)))
    val strGen = Gen.listOf(frag).map(_.mkString(" "))
    val prop = Prop.forAll(strGen) { s =>
      val k = graft.functions.Md5Util.simHash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val r = ref(s)
      if (k != r) println(s"simhash60 break on <$s>: kernel=$k ref=$r")
      k == r
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
  }

  test("hammingPairs: multi-block banding equals brute force across widths, thresholds, duplicates") {
    // seeded clustered fixture: cluster centers + members within a few
    // flipped bits, plus exact duplicates (the within-group arm) and
    // far-away noise — every regime the pigeonhole must cover
    def fixture(seed: Int, bits: Int, n: Int): Seq[(Long, Long)] = {
      val rnd = new scala.util.Random(seed)
      val mask = if (bits == 63) -1L >>> 1 else (1L << bits) - 1
      val centers = Seq.fill(5)(rnd.nextLong() & mask)
      (0 until n).map { i =>
        val h =
          if (i % 7 == 0) centers(i % 5) // exact duplicate of a center
          else if (i % 2 == 0) { // near a center: flip 1..8 random bits
            var v = centers(i % 5)
            (0 until 1 + rnd.nextInt(8)).foreach(_ => v ^= 1L << rnd.nextInt(bits))
            v & mask
          } else rnd.nextLong() & mask // noise
        (i.toLong, h)
      }
    }
    def brute(rows: Seq[(Long, Long)], maxH: Int): Set[(Long, Long, Int)] =
      (for {
        (i1, h1) <- rows; (i2, h2) <- rows if i1 < i2
        d = java.lang.Long.bitCount(h1 ^ h2) if d <= maxH
      } yield (i1, i2, d)).toSet
    for ((bits, maxH, seed) <- Seq((60, 6, 1), (60, 11, 2), (63, 3, 3),
        (16, 6, 4), (8, 2, 5))) {
      val rows = fixture(seed, bits, 120)
      val got = DedupOps.hammingPairs(rows.toDF("id", "h"), "id", "h", maxH, bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = brute(rows, maxH)
      assert(got == want && want.nonEmpty,
        s"bits=$bits maxH=$maxH: got ${got.size}, want ${want.size}; " +
          s"missing=${(want -- got).take(3)}, extra=${(got -- want).take(3)}")
    }
    // guards: width/threshold domains
    intercept[IllegalArgumentException](DedupOps.hammingPairs(
      Seq((1L, 1L)).toDF("id", "h"), "id", "h", maxHamming = 60, bits = 60))
    intercept[IllegalArgumentException](DedupOps.hammingPairs(
      Seq((1L, 1L)).toDF("id", "h"), "id", "h", maxHamming = 1, bits = 64))
  }

  test("hammingJoin (bipartite) equals brute force, incl. equal hashes across sides and duplicate ids") {
    val rnd = new scala.util.Random(42)
    val mask = (1L << 60) - 1
    val centers = Seq.fill(4)(rnd.nextLong() & mask)
    def side(n: Int, off: Long): Seq[(Long, Long)] = (0 until n).map { i =>
      val h =
        if (i % 3 == 0) centers(i % 4)
        else if (i % 3 == 1) {
          var v = centers(i % 4)
          (0 until 1 + rnd.nextInt(6)).foreach(_ => v ^= 1L << rnd.nextInt(60))
          v
        } else rnd.nextLong() & mask
      (off + i, h)
    }
    val l = side(40, 0L) ++ Seq((1000L, centers(0))) // duplicate-hash left rows
    val r = side(50, 5000L)
    val got = DedupOps.hammingJoin(l.toDF("lid", "lh"), "lid", "lh",
        r.toDF("rid", "rh"), "rid", "rh", maxHamming = 5, bits = 60)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val want = (for {
      (li, lh) <- l; (ri, rh) <- r
      d = java.lang.Long.bitCount(lh ^ rh) if d <= 5
    } yield (li, ri, d)).toSet
    assert(got == want && want.nonEmpty,
      s"got ${got.size}, want ${want.size}; missing=${(want -- got).take(3)}")
    // equal hashes across sides pair at Hamming 0 (no within-arm needed)
    assert(want.exists(_._3 == 0))
  }

  test("simhash-ledger forget is exact: purged ids stop pairing, re-admission restores them") {
    val path = java.nio.file.Files.createTempDirectory("graft-shforget").toString + "/led"
    val corpus = Seq((1L, "a b a b c"), (2L, "a b a b c"), (3L, "q r s t u"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "a b a b c")).toDF("doc_id", "text")
    DedupOps.writeSimHashLedger(corpus, "doc_id", "text", path)
    def pairs(): Set[Long] =
      DedupOps.crossDedupAgainstSimHashes(batch, "doc_id", "text", path,
        maxHamming = 0).collect().map(_.getLong(1)).toSet
    assert(pairs() == Set(1L, 2L))
    DedupOps.removeFromSimHashLedger(Seq(1L).toDF("doc_id"), "doc_id", path,
      batchId = Some("rm1"))
    assert(pairs() == Set(2L), "purged id must stop pairing")
    // exactly-once: replaying the purge is a no-op
    DedupOps.removeFromSimHashLedger(Seq(1L).toDF("doc_id"), "doc_id", path,
      batchId = Some("rm1"))
    assert(pairs() == Set(2L))
    // re-admission is one append
    DedupOps.appendToSimHashLedger(
      corpus.filter(col("doc_id") === 1L), "doc_id", "text", path)
    assert(pairs() == Set(1L, 2L), "re-admitted id must pair again")
  }
}
