package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit gates for the corpus-curation operators (repetition rules,
  * decontamination, BM25, PII scrubbing, weighted sampling, packing).
  * Each is checked on hand-crafted rows with known answers; the
  * cross-engine conformance runs live in d23-d28.
  */
class CurationOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("wordNgrams emits sliding space-joined grams; short docs yield empty") {
    val df = Seq("a b c d", "a b", "a", "").toDF("text")
      .select(TextOps.wordNgrams(col("text"), 3).as("g"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1).isEmpty && got(2).isEmpty && got(3).isEmpty)
  }

  // Awkward-corpus rows exercising every tokenization edge: empty text,
  // all-space text, leading/trailing/consecutive spaces (empty tokens
  // count), single token, unicode + multibyte, long repetition runs.
  private val awkward = Seq(
    "", " ", "   ", "a", " a ", "a  b", "  a b  c ", "a b", "x y x y x y x y",
    "über straße — ümlaut über straße", "日本 語 日本 語 日本", "a a a a a a a a a a",
    "one two three four five six seven eight nine ten", "tab\tis one token",
    "spam spam spam spam spam spam", "a b c d e f g h i j k l m n o p q r s t")

  test("fused RepetitionStats kernel == composable explode/groupBy forms") {
    import graft.functions.NgramExpressions
    val df = awkward.toDF("text")
    val st = NgramExpressions.repetitionStats(col("text"))
    val fused = df.select(
      st.getField("n_tokens").as("nt"), st.getField("n_unique").as("nu"),
      st.getField("top_bigram_n").as("tb"), st.getField("n_bigrams").as("nb"),
      st.getField("n_distinct_bigrams").as("ndb"),
      st.getField("n_trigrams").as("ntr"), st.getField("n_distinct_trigrams").as("ndt"))
      .collect()
    val composable = df.select(
      TextOps.tokenCount(col("text")).as("nt"),
      size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("nu"),
      TextOps.wordNgrams(col("text"), 2).as("bi"),
      TextOps.wordNgrams(col("text"), 3).as("tri"))
      .collect()
    awkward.indices.foreach { i =>
      val f = fused(i); val c = composable(i)
      assert(f.getInt(0) == c.getInt(0), s"n_tokens row $i: ${awkward(i)}")
      assert(f.getLong(1) == c.getLong(1), s"n_unique row $i: ${awkward(i)}")
      val bi = c.getSeq[String](2)
      val tri = c.getSeq[String](3)
      if (bi.isEmpty) assert(f.isNullAt(2) && f.isNullAt(3) && f.isNullAt(4), s"row $i")
      else {
        val counts = bi.groupBy(identity).map(_._2.size)
        assert(f.getLong(2) == counts.max.toLong, s"top_bigram row $i: ${awkward(i)}")
        assert(f.getLong(3) == bi.size.toLong, s"n_bigrams row $i")
        assert(f.getLong(4) == bi.distinct.size.toLong, s"nd_bigrams row $i")
      }
      if (tri.isEmpty) assert(f.isNullAt(5) && f.isNullAt(6), s"row $i")
      else {
        assert(f.getLong(5) == tri.size.toLong, s"n_trigrams row $i")
        assert(f.getLong(6) == tri.distinct.size.toLong, s"nd_trigrams row $i")
      }
    }
  }

  test("RepetitionStats kernel matches a plain-Scala reference on random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop}
    // alphabet rich in spaces + multibyte chars to stress span arithmetic
    val charGen = Gen.frequency((4, Gen.const(' ')), (3, Gen.oneOf('a', 'b')),
      (1, Gen.oneOf('ü', '日')), (1, Gen.oneOf('x', 'Z', '0')))
    val strGen = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    def reference(s: String): (Int, Long, Option[(Long, Long, Long)], Option[(Long, Long)]) = {
      val toks = s.replaceAll("^ +", "").replaceAll(" +$", "").split(" ", -1).toSeq
      def grams(n: Int) = if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val bi = grams(2); val tri = grams(3)
      (toks.size, toks.distinct.size.toLong,
        if (bi.isEmpty) None
        else Some((bi.groupBy(identity).map(_._2.size).max.toLong, bi.size.toLong, bi.distinct.size.toLong)),
        if (tri.isEmpty) None else Some((tri.size.toLong, tri.distinct.size.toLong)))
    }
    val prop = Prop.forAll(strGen) { s =>
      val row = graft.functions.NgramUtil.repetitionStats(UTF8String.fromString(s))
      val (nt, nu, biRef, triRef) = reference(s)
      row.getInt(0) == nt && row.getLong(1) == nu &&
        (biRef match {
          case None => row.isNullAt(2) && row.isNullAt(3) && row.isNullAt(4)
          case Some((top, total, dist)) =>
            row.getLong(2) == top && row.getLong(3) == total && row.getLong(4) == dist
        }) &&
        (triRef match {
          case None => row.isNullAt(5) && row.isNullAt(6)
          case Some((total, dist)) => row.getLong(5) == total && row.getLong(6) == dist
        })
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(result.passed, result.status.toString)
  }

  test("curation kernels and passage dedup tolerate NULL text") {
    import graft.functions.NgramExpressions
    val df = Seq((1L, "a b c"), (2L, null)).toDF("doc_id", "text")
    val rep = df.select(NgramExpressions.repetitionStats(col("text")).as("s"))
      .collect()
    assert(!rep(0).isNullAt(0) && rep(1).isNullAt(0)) // null in -> null struct
    val grams = df.select(NgramExpressions.wordGramMd5s(col("text"), 2).as("g"))
      .collect()
    assert(grams(0).getSeq[Long](0).nonEmpty && grams(1).isNullAt(0))
    val dedup = CurationOps.passageDedup(df, "doc_id", "text", w = 2)
      .orderBy("doc_id").collect()
    assert(dedup.length == 1 && dedup(0).getLong(0) == 1L) // null doc drops from explode
  }

  test("fused WordChunks kernel == composable slice/concat chunking") {
    import graft.functions.NgramExpressions
    val df = awkward.toDF("text")
    Seq(2, 10).foreach { w =>
      val fused = df.select(NgramExpressions.wordChunks(col("text"), w).as("c"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))))
      val composable = df.select(
        transform(
          sequence(lit(0),
            ceil(size(TextOps.tokens(col("text"))) / lit(w.toDouble)).cast("int") - 1),
          p => struct(p.as("pos"),
            concat_ws(" ", slice(TextOps.tokens(col("text")), p * w + 1, lit(w))).as("chunk"),
            DedupOps.md5Hash32(
              concat_ws(" ", slice(TextOps.tokens(col("text")), p * w + 1, lit(w))), "").as("h")))
          .as("c"))
        .collect().map(_.getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))))
      awkward.indices.foreach { i =>
        assert(fused(i) == composable(i), s"w=$w row $i: '${awkward(i)}'")
      }
    }
  }

  test("fused WordGramMd5s kernel == md5Hash32 over composable wordNgrams") {
    import graft.functions.NgramExpressions
    val df = awkward.toDF("text")
    Seq(1, 2, 3).foreach { n =>
      val fused = df.select(NgramExpressions.wordGramMd5s(col("text"), n).as("h"))
        .collect().map(_.getSeq[Long](0))
      val composable = df.select(
        transform(TextOps.wordNgrams(col("text"), n),
          g => DedupOps.md5Hash32(g, "")).as("h"))
        .collect().map(_.getSeq[Long](0))
      awkward.indices.foreach { i =>
        assert(fused(i) == composable(i), s"n=$n row $i: '${awkward(i)}'")
      }
    }
  }

  test("repetitionStats flags a degenerate looping doc, clears a diverse one") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam"),   // one bigram repeated 5x
      (2L, "one two three four five six")       // all grams distinct
    ).toDF("doc_id", "text")
    val rows = CurationOps.repetitionStats(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val spam = rows(0)
    assert(spam.getAs[Double]("unique_ratio") == 0.1667) // dround(1/6, 4)
    assert(spam.getAs[Double]("top_bigram_frac") == 1.0)   // 5 of 5 bigrams
    assert(spam.getAs[Double]("dup_trigram_frac") == 0.75) // 4 tri, 1 distinct
    val clean = rows(1)
    assert(clean.getAs[Double]("unique_ratio") == 1.0)
    assert(clean.getAs[Double]("top_bigram_frac") == 0.2)
    assert(clean.getAs[Double]("dup_trigram_frac") == 0.0)
  }

  test("ngramOverlap finds exactly the training docs sharing a gram with the benchmark") {
    val train = Seq(
      (10L, "alpha beta gamma delta"),  // shares "alpha beta gamma" + "beta gamma delta"
      (11L, "alpha beta gamma"),        // shares one 3-gram
      (12L, "zeta eta theta iota")      // clean
    ).toDF("doc_id", "text")
    val bench = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = CurationOps.ngramOverlap(train, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(got.toSeq == Seq((10L, 2L), (11L, 1L)))
  }

  test("passageDedup keeps first occurrence of each passage, rebuilds text") {
    // w=2 passages; doc 1: [a b][c d][a b] — third passage duplicates its
    // own first; doc 2 repeats doc 1's opener then adds fresh text; doc 3
    // is entirely doc 1's opener (fully scrubbed away).
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "a b x y"),
      (3L, "a b")
    ).toDF("doc_id", "text")
    val got = CurationOps.passageDedup(docs, "doc_id", "text", w = 2)
      .orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(got == Seq(
      (1L, 3, 2, "a b c d"),
      (2L, 2, 1, "x y"),
      (3L, 1, 0, null)))
  }

  test("bm25: repeated query term outscores single hit; absent term scores no doc") {
    val docs = Seq(
      (1L, "cat cat cat dog"),
      (2L, "cat bird fish mouse"),
      (3L, "bird fish mouse vole")
    ).toDF("doc_id", "text")
    val got = CurationOps.bm25Scores(docs, "doc_id", "text", Seq("cat", "unicorn"))
      .orderBy("doc_id")
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == Set(1L, 2L))      // only docs containing a query term
    assert(got(1L) > got(2L))              // tf saturation still ranks 3x above 1x
    assert(got.values.forall(_ > 0))
  }

  test("piiScrub masks emails before digit runs; counts match occurrences") {
    val df = Seq("mail bob123@x.co and 4567 code 89").toDF("t")
    val (ne, nn) = CurationOps.piiCounts(col("t"))
    val row = df.select(CurationOps.piiScrub(col("t")), ne, nn).head()
    // the 123 inside the email must be consumed by <EMAIL>, not <NUM>;
    // "89" is under the 3-digit floor and survives
    assert(row.getString(0) == "mail <EMAIL> and <NUM> code 89")
    assert(row.getInt(1) == 1 && row.getInt(2) == 1)
  }

  test("weightedKeep is deterministic and monotone in weight") {
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("w_lo", lit(100L)).withColumn("w_hi", lit(20000L))
    val lo = df.filter(CurationOps.weightedKeep(col("id"), col("w_lo"), 100)).count()
    val lo2 = df.filter(CurationOps.weightedKeep(col("id"), col("w_lo"), 100)).count()
    val hi = df.filter(CurationOps.weightedKeep(col("id"), col("w_hi"), 100)).count()
    assert(lo == lo2)                       // same hash, same sample
    assert(lo < hi)                         // bigger weight, bigger sample
    assert(hi == 2000)                      // 20000·100 ≥ M keeps everything
    // keep rate ≈ weight·scale/M = 1%: loose 3σ band around 20/2000
    assert(lo >= 5 && lo <= 45, s"lo=$lo outside the 1% band")
  }

  test("chunkWithOverlap: every token covered, 50% overlap, clamped tail, NULL in → NULL out") {
    val texts = Seq(
      Option("a b c d e f g"),  // 7 tokens, size 4 / stride 2 → starts 1,3,5,7
      Option("a b"),            // shorter than one chunk → single clamped chunk
      Option(""),               // empty doc → NO chunks (nothing to embed)
      Option.empty[String])
    val got = texts.toDF("text")
      .select(TextOps.chunkWithOverlap(col("text"), chunkSize = 4, stride = 2).as("c"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(got(0) == Seq("a b c d", "c d e f", "e f g", "g"))
    assert(got(1) == Seq("a b"))
    assert(got(2) == Seq.empty)
    assert(got(3) == null)
    intercept[IllegalArgumentException] {
      TextOps.chunkWithOverlap(col("text"), chunkSize = 4, stride = 5)
    }
  }

  test("splitAssign covers every id, holds the fractions, and is membership-independent") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val ids = spark.range(0, 20000).toDF("id")
    val assigned = ids.select(col("id"), CurationOps.splitAssign(col("id"), splits).as("split"))
    val counts = assigned.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts.values.sum == 20000L)     // a partition: nothing dropped
    assert(math.abs(counts("train") / 20000.0 - 0.8) < 0.02)
    assert(math.abs(counts("val") / 20000.0 - 0.1) < 0.01)
    // membership independence: a subset corpus assigns identically
    val sub = ids.filter(col("id") % 3 === 0)
      .select(col("id"), CurationOps.splitAssign(col("id"), splits).as("split"))
    assert(sub.except(assigned).count() == 0)
    intercept[IllegalArgumentException] {
      CurationOps.splitAssign(col("id"), Seq("a" -> 0.5, "b" -> 0.3))
    }
    // negative fractions sum to 1 but would make a split unreachable
    intercept[IllegalArgumentException] {
      CurationOps.splitAssign(col("id"), Seq("a" -> 1.1, "b" -> -0.1))
    }
    // NULL id → NULL split, never the CASE-default (held-out) bucket
    val withNull = Seq(Option(1L), Option.empty[Long]).toDF("id")
      .select(CurationOps.splitAssign(col("id"), splits).as("split")).collect()
    assert(withNull.count(_.isNullAt(0)) == 1)
    assert(withNull.count(r => !r.isNullAt(0)) == 1)
  }

  test("corpusDiff labels added/removed/changed/unchanged; NULL text diffs like IS DISTINCT FROM") {
    val oldDf = Seq(1L -> Option("a"), 2L -> Option("b"), 3L -> Option.empty[String],
      4L -> Option("d"), 5L -> Option.empty[String]).toDF("id", "text")
    val newDf = Seq(2L -> Option("B"), 3L -> Option.empty[String], 4L -> Option("d"),
      5L -> Option("e"), 6L -> Option("f")).toDF("id", "text")
    val got = DedupOps.corpusDiff(oldDf, newDf, "id", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "changed", 3L -> "unchanged",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"))
  }

  test("byteEntropy: 0 bits for one symbol, 1 bit for two, 2 bits for four") {
    val got = Seq("aaaa", "abab", "abcd").toDF("t")
      .select(TextOps.byteEntropy(col("t")).as("e"))
      .as[Double].collect()
    assert(got(0) == 0.0 && got(1) == 1.0 && got(2) == 2.0)
  }

  test("centroidCohesion: known 2-d case and member counts") {
    val df = Seq(
      (0, 1L, Seq(1.0f, 0.0f)), (0, 2L, Seq(0.0f, 1.0f)),  // centroid (.5,.5)
      (1, 3L, Seq(1.0f, 0.0f))                             // singleton: cos 1
    ).toDF("label", "vec_id", "embedding")
    val got = SimilarityOps.centroidCohesion(df, "label", "embedding")
      .orderBy("label").collect()
    assert(got(0).getAs[Long]("n_members") == 2)
    assert(math.abs(got(0).getAs[Double]("avg_cos_raw") - math.sqrt(0.5)) < 1e-6)
    assert(math.abs(got(0).getAs[Double]("centroid_norm_raw") - math.sqrt(0.5)) < 1e-6)
    assert(got(1).getAs[Long]("n_members") == 1)
    assert(math.abs(got(1).getAs[Double]("avg_cos_raw") - 1.0) < 1e-6)
  }

  test("PassJoin blocking soundness: every pair within k edits shares a segment/substring (property)") {
    // plain-Scala mirrors of FuzzyJoin's Column-level split/enumeration
    def segs(s: String, k: Int): Seq[String] =
      (0 to k).map { i =>
        s.substring(s.length * i / (k + 1), s.length * (i + 1) / (k + 1))
      }.filter(_.nonEmpty)
    def substrings(s: String, k: Int): Set[String] = {
      val wMin = math.max(1, (s.length - k) / (k + 1))
      val wMax = math.max(wMin, math.ceil((s.length + k).toDouble / (k + 1)).toInt)
      (wMin to wMax).flatMap(w => s.sliding(w).filter(_.length == w)).toSet
    }
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "abc x"
    def edit(s: String): String = {
      val pos = if (s.isEmpty) 0 else rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 if s.nonEmpty => s.updated(pos, alphabet(rnd.nextInt(alphabet.length))).toString
        case 1 => s.patch(pos, alphabet(rnd.nextInt(alphabet.length)).toString, 0)
        case 2 if s.length > 2 => s.patch(pos, "", 1)
        case _ => s
      }
    }
    // mirror of FuzzyJoin.candidatePairs' two regimes: pigeonhole segment
    // blocking for len(a) > k, peer-length blocking for len(a) <= k
    // (where pigeonhole fails — a length-L string has only L non-empty
    // segments, all touchable by edits when L <= k)
    def candidate(a: String, b: String, k: Int): Boolean =
      math.abs(a.length - b.length) <= k &&
        (a.length <= k || segs(a, k).exists(substrings(b, k).contains))
    val k = 2
    var checked = 0
    var short = 0
    (1 to 2000).foreach { _ =>
      // lengths 0..14 — MUST include the <= k band (the round-5 property
      // only generated len >= 3 and could not catch the short-string hole)
      val a = Seq.fill(rnd.nextInt(15))(alphabet(rnd.nextInt(alphabet.length))).mkString
      var b = a
      (1 to (1 + rnd.nextInt(k))).foreach(_ => b = edit(b))
      val d = lev(a, b)
      if (d > 0 && d <= k) {
        checked += 1
        if (a.length <= k || b.length <= k) short += 1
        // the invariant the join relies on, in BOTH orientations (the
        // self-join probes smaller→larger; the optimizer rewrite probes
        // left→right, either of which may be the short one)
        assert(candidate(a, b, k), s"candidatePairs misses '$a'→'$b' at lev=$d")
        assert(candidate(b, a, k), s"candidatePairs misses '$b'→'$a' at lev=$d")
      }
    }
    assert(checked > 300, s"only $checked non-trivial pairs generated — property under-exercised")
    assert(short > 20, s"only $short short-string pairs generated — the len<=k band is under-exercised")
    // the exact counter-examples from the round-5 audit: disjoint short
    // strings, and the empty string, are within k edits yet share nothing
    for ((a, b, kk) <- Seq(("ab", "cd", 2), ("", "ab", 2), ("a", "b", 1), ("ab", "ba", 2)))
      assert(candidate(a, b, kk) && candidate(b, a, kk), s"short pair ('$a','$b') k=$kk not candidate")
  }

  test("packBins: exclusive running sum bins docs per shard without splitting") {
    val df = Seq(
      // shard a: token counts 3,3,3 with context 4 → cum_excl 0,3,6 → bins 0,0,1
      ("a", 1L, "x x x"), ("a", 2L, "y y y"), ("a", 3L, "z z z"),
      // shard b packs independently from zero
      ("b", 4L, "p p p")
    ).toDF("source", "doc_id", "text")
    val got = CurationOps.packBins(df, "source", "doc_id", "text", contextLen = 4)
      .select("source", "doc_id", "bin")
      .as[(String, Long, Int)].collect().toSet
    assert(got == Set(("a", 1L, 0), ("a", 2L, 0), ("a", 3L, 1), ("b", 4L, 0)))
  }

  test("advanceStatsLedger swaps the ledger in place and equals the full recompute") {
    val path = java.nio.file.Files.createTempDirectory("graft-adv").toString + "/ledger"
    val seed = Seq(("s1", "a b c"), ("s2", "d")).toDF("source", "text")
    val b1 = Seq(("s1", "e f"), ("s3", "g h i")).toDF("source", "text")
    val b2 = Seq(("s2", "j"), ("s3", "k l")).toDF("source", "text")
    CurationOps.writeStatsLedger(seed, "source", "text", path)
    CurationOps.advanceStatsLedger(b1, "source", "text", path) // same fixed path, twice
    CurationOps.advanceStatsLedger(b2, "source", "text", path)
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = CurationOps.corpusStats(seed.unionByName(b1).unionByName(b2), "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == want, s"$got != $want")
    // no staging/retired debris left behind
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
    // retraction by subtraction: forget b1 and b2 → exactly the seed stats
    CurationOps.retractFromStatsLedger(b1, "source", "text", path)
    CurationOps.retractFromStatsLedger(b2, "source", "text", path)
    val afterForget = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val seedOnly = CurationOps.corpusStats(seed, "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(afterForget == seedOnly, s"retraction drift: $afterForget != $seedOnly")
    assert(!afterForget.contains("s3"), "emptied key should leave the ledger")
    // retracting text that differs from admission fails loudly, ledger intact
    val eR = intercept[IllegalArgumentException](CurationOps.retractFromStatsLedger(
      Seq(("s1", "a b c d e f g h i j k")).toDF("source", "text"), "source", "text", path))
    assert(eR.getMessage.contains("inconsistent"), eR.getMessage)
    assert(spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap == seedOnly,
      "failed retraction must not change the ledger")
  }

  test("quantile ledger: incremental == from-scratch, bounds contain percentile_disc, exactly-once replay, meta guard") {
    val path = java.nio.file.Files.createTempDirectory("graft-qh").toString + "/ledger"
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map(i =>
      (if (i % 3 == 0) "s1" else "s2", rnd.nextInt(1000).toLong))
    val df = rows.toDF("source", "len")
    val (seed, b1) = (df.filter(col("len") < 500), df.filter(col("len") >= 500))
    CurationOps.writeQuantileLedger(seed, "source", "len", shift = 4, path)
    CurationOps.advanceQuantileLedger(b1, "source", "len", 4, path, batchId = Some("b-1"))
    CurationOps.advanceQuantileLedger(b1, "source", "len", 4, path, batchId = Some("b-1")) // replay: no-op
    // incremental histogram == from-scratch histogram
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = CurationOps.longHistogram(df, "source", "len", 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"histogram drift: ${got.toSet.diff(want.toSet)}")
    // probe bounds contain the exact percentile_disc value, width 2^4
    val probs = Seq(0.5, 0.9, 0.99)
    val bounds = CurationOps.quantilesFromLedger(spark, path, probs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val byKey = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    for ((k, vs) <- byKey; p <- probs) {
      val exact = vs(math.ceil(p * vs.size).toInt - 1)
      val (lo, hi) = bounds((k, p))
      assert(lo <= exact && exact <= hi && hi - lo == 15,
        s"$k p$p: exact $exact outside [$lo, $hi]")
    }
    // compaction re-sums and preserves the probe answer
    CurationOps.compactQuantileLedger(spark, path, targetFiles = 1)
    val bounds2 = CurationOps.quantilesFromLedger(spark, path, probs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(bounds2 == bounds)
    // drifted shift fails loudly naming both sides
    val e = intercept[IllegalArgumentException](
      CurationOps.advanceQuantileLedger(b1, "source", "len", 5, path))
    assert(e.getMessage.contains("shift=4") && e.getMessage.contains("shift=5"), e.getMessage)
    // non-integral measures fail loudly
    val e2 = intercept[IllegalArgumentException](CurationOps.longHistogram(
      df.withColumn("d", col("len").cast("double")), "source", "d", 4))
    assert(e2.getMessage.contains("integral"), e2.getMessage)
    // retraction by subtraction: forget b1 → exactly the seed histogram
    CurationOps.retractFromQuantileLedger(b1, "source", "len", 4, path)
    val afterForget = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val seedOnly = CurationOps.longHistogram(seed, "source", "len", 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterForget == seedOnly, s"retraction drift: $afterForget != $seedOnly")
    // retracting never-admitted data fails loudly, ledger intact
    val eR = intercept[IllegalArgumentException](
      CurationOps.retractFromQuantileLedger(
        Seq(("s9", 5L)).toDF("source", "len"), "source", "len", 4, path))
    assert(eR.getMessage.contains("negative"), eR.getMessage)
    assert(spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap == seedOnly,
      "failed retraction must not change the ledger")
    // a probe without the sidecar fails loudly (no guessed shift)
    new java.io.File(
      new java.io.File(path), "_GRAFT_QHIST_META").delete()
    val e3 = intercept[IllegalStateException](
      CurationOps.quantilesFromLedger(spark, path, probs))
    assert(e3.getMessage.contains("QHIST_META"), e3.getMessage)
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
  }

  test("bigramScoreInterpolated: hand-computed JM mixture — unigram channel, uniform floor, λ guard") {
    val path = java.nio.file.Files.createTempDirectory("graft-jm").toString + "/ledger"
    // corpus "a b a c" ⇒ unigrams a:2 b:1 c:1 (N=4, V=3); bigrams
    // (a,b):1 (b,a):1 (a,c):1 ⇒ c1(a)=2, c1(b)=1
    CurationOps.writeBigramLedger(Seq((1L, "a b a c")).toDF("doc_id", "text"),
      "text", path)
    def score(text: String): Double =
      CurationOps.bigramScoreInterpolated(
        Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text", path)
        .collect().head.getDouble(2)
    def nll(pBi: Double, pUni: Double): Double =
      -math.log(0.7 * pBi + 0.25 * pUni + 0.05 / 3.0)
    // seen bigram: p_ML(b|a) = 1/2, p_uni(b) = 1/4
    assert(math.abs(score("a b") - nll(0.5, 0.25)) < 1e-12)
    // unseen bigram with SEEN w2: the unigram channel carries it —
    // (c,a): p_bi = 0, p_uni(a) = 2/4
    assert(math.abs(score("c a") - nll(0.0, 0.5)) < 1e-12)
    // wholly unseen w2: only the uniform floor — finite, as promised
    assert(math.abs(score("a zz") - nll(0.0, 0.0)) < 1e-12)
    // the unigram channel ranks the fluent-but-unseen pair better than
    // the wholly-unseen one (the property Laplace flattens away)
    assert(score("c a") < score("c zz"))
    // λ must be a distribution with a positive uniform floor
    intercept[IllegalArgumentException](CurationOps.bigramScoreInterpolated(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", path,
      lambda2 = 0.8, lambda1 = 0.2, lambda0 = 0.0))
    intercept[IllegalArgumentException](CurationOps.bigramScoreInterpolated(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", path,
      lambda2 = 0.8, lambda1 = 0.3, lambda0 = 0.05))
  }

  test("bigramScoreKneserNey: hand-computed KN — discount mass, continuation ranking, unseen-w1 backoff, param guards") {
    val path = java.nio.file.Files.createTempDirectory("graft-kn").toString + "/ledger"
    // corpus "x a y a z a q b": bigrams (x,a)(a,y)(y,a)(a,z)(z,a)(a,q)(q,b)
    // — 'a' completes 3 distinct contexts (x,y,z), 'b' completes 1 (q):
    // KN's continuation counts distinguish them where raw frequency of
    // the PREDICTED token would too, so pin with unseen-bigram probes
    CurationOps.writeBigramLedger(
      Seq((1L, "x a y a z a q b")).toDF("doc_id", "text"), "text", path)
    def score(text: String): Double =
      CurationOps.bigramScoreKneserNey(
        Seq((9L, text)).toDF("doc_id", "text"), "doc_id", "text", path)
        .collect().head.getDouble(2)
    // model tables: c2 has 7 distinct bigrams, all count 1;
    // by1: c1(a)=3 n1fw(a)=3; c1(x)=c1(y)=c1(z)=c1(q)=1 n1fw=1
    // by2: n1bw(a)=3 (x,y,z), n1bw(y)=n1bw(z)=n1bw(q)=1(a), n1bw(b)=1(q)
    // n1tot=7; V = 7 distinct tokens (x a y z q b + tail… tokens: x,a,y,z,q,b = 6)
    val V = 6.0; val d = 0.75; val al = 0.05
    def nll(pkn: Double): Double = -math.log((1.0 - al) * pkn + al / V)
    // seen bigram (a,y): (1-d)/3 + d*3/3 * pCont(y)=1/7
    assert(math.abs(score("a y") - nll((1 - d) / 3.0 + d * 3.0 / 3.0 * (1.0 / 7.0))) < 1e-12)
    // unseen bigram, seen w1 (x,b): 0/1 + d*1/1 * pCont(b)=1/7
    assert(math.abs(score("x b") - nll(d * (1.0 / 7.0))) < 1e-12)
    // unseen w1 backs off to pure continuation: (zz,a) vs (zz,b) —
    // 'a' completes 3 contexts, 'b' one: KN ranks 'a' cheaper
    assert(math.abs(score("zz a") - nll(3.0 / 7.0)) < 1e-12)
    assert(math.abs(score("zz b") - nll(1.0 / 7.0)) < 1e-12)
    assert(score("zz a") < score("zz b"))
    // wholly unseen: the uniform floor keeps it finite
    assert(math.abs(score("zz qq") - nll(0.0)) < 1e-12)
    intercept[IllegalArgumentException](CurationOps.bigramScoreKneserNey(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", path, discount = 1.0))
    intercept[IllegalArgumentException](CurationOps.bigramScoreKneserNey(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", path, alpha = 0.0))
  }

  test("histogramDrift: hand-computed KS/TV/PSI, zero self-drift, empty-side key, meta guards") {
    val root = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val (pA, pB, pC, pD) = (root + "/a", root + "/b", root + "/c", root + "/d")
    // A: key k — values 0,0,16,32 (buckets 0:2, 1:1, 2:1, n=4)
    //    key only_a — one value (the empty-B-side case)
    // B: key k — values 0,16,16,48,48,48 (buckets 0:1, 1:2, 3:3, n=6)
    val a = Seq(("k", 0L), ("k", 0L), ("k", 16L), ("k", 32L), ("only_a", 5L))
      .toDF("src", "v")
    val b = Seq(("k", 0L), ("k", 16L), ("k", 16L), ("k", 48L), ("k", 48L),
      ("k", 48L)).toDF("src", "v")
    CurationOps.writeQuantileLedger(a, "src", "v", shift = 4, pA)
    CurationOps.writeQuantileLedger(b, "src", "v", shift = 4, pB)
    val got = CurationOps.histogramDrift(spark, pA, pB)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]), r.getLong(6)))).toMap
    // hand computation for k: cumA/4 = .5, .75, 1, 1 ; cumB/6 = 1/6, .5, .5, 1
    //   KS = max(1/3, 1/4, 1/2, 0) = 0.5
    //   TV = .5·(|.5−1/6| + |.25−1/3| + |.25−0| + |0−.5|) = .5·(1/3+1/12+1/4+1/2) = 7/12
    //   PSI over both-occupied buckets 0 and 1:
    //     (.5−1/6)·ln(3) + (.25−1/3)·ln(.75) ; one-sided buckets: 2 and 3
    val (na, nb, ks, tv, psi, oneSided) = got("k")
    assert(na == 4 && nb == 6 && oneSided == 2)
    assert(math.abs(ks - 0.5) < 1e-12, ks.toString)
    assert(math.abs(tv - 7.0 / 12.0) < 1e-12, tv.toString)
    val wantPsi = (0.5 - 1.0 / 6.0) * math.log(3.0) +
      (0.25 - 1.0 / 3.0) * math.log(0.75)
    assert(math.abs(psi.get - wantPsi) < 1e-12, psi.toString)
    // a key missing on one side is maximal drift by definition
    val (naO, nbO, ksO, tvO, psiO, _) = got("only_a")
    assert(naO == 1 && nbO == 0 && ksO == 1.0 && tvO == 1.0 && psiO.isEmpty)
    // a ledger against itself is zero drift everywhere
    val self = CurationOps.histogramDrift(spark, pA, pA)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getLong(6)))
    assert(self.forall { case (k2, t2, o2) => k2 == 0.0 && t2 == 0.0 && o2 == 0L })
    // differently-bucketed ledgers fail loudly naming both sides
    CurationOps.writeQuantileLedger(a, "src", "v", shift = 5, pC)
    val e = intercept[IllegalArgumentException](
      CurationOps.histogramDrift(spark, pA, pC))
    assert(e.getMessage.contains("shift=4") && e.getMessage.contains("shift=5"),
      e.getMessage)
    // a missing sidecar refuses to guess
    CurationOps.writeQuantileLedger(a, "src", "v", shift = 4, pD)
    new java.io.File(new java.io.File(pD), "_GRAFT_QHIST_META").delete()
    val e2 = intercept[IllegalStateException](
      CurationOps.histogramDrift(spark, pA, pD))
    assert(e2.getMessage.contains("QHIST_META"), e2.getMessage)
  }

  test("bottomKSample: deterministic, merge-equals-one-shot ledger, replay no-op, param gate, weighted leans heavy") {
    import graft.operators.{CurationOps, LedgerGuard}
    val docs = spark.range(0, 300).toDF("doc_id")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = ids(CurationOps.bottomKSample(docs, "doc_id", "s", 20))
    assert(oneShot.size == 20)
    // deterministic: same (salt, corpus) → same sample
    assert(ids(CurationOps.bottomKSample(docs, "doc_id", "s", 20)) == oneShot)
    // incremental == from-scratch: two advances in arbitrary split order
    val base = java.nio.file.Files.createTempDirectory("graft-bks").toString
    val path = s"$base/ledger"
    CurationOps.writeSampleLedger(docs.filter(col("doc_id") < 100),
      "doc_id", "s", 20, path)
    CurationOps.advanceSampleLedger(docs.filter(col("doc_id") >= 200),
      "doc_id", "s", 20, path, batchId = Some("b1"))
    CurationOps.advanceSampleLedger(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200),
      "doc_id", "s", 20, path, batchId = Some("b2"))
    // replayed delivery: no-op (and no double-occupancy of the sample)
    CurationOps.advanceSampleLedger(docs.filter(col("doc_id") >= 200),
      "doc_id", "s", 20, path, batchId = Some("b1"))
    assert(ids(LedgerGuard.readLedger(spark, path)) == oneShot)
    // parameter drift is a DIFFERENT sample — loud, naming the sidecar
    val e = intercept[IllegalArgumentException](CurationOps.advanceSampleLedger(
      docs, "doc_id", "OTHER", 20, path))
    assert(e.getMessage.contains("salt") && e.getMessage.contains("OTHER"),
      e.getMessage)
    // Efraimidis-Spirakis: weight-1000 ids should dominate weight-1 ids
    val weighted = docs.withColumn("w",
      when(col("doc_id") < 30, 1000d).otherwise(1d))
    val heavy = ids(CurationOps.bottomKSample(weighted, "doc_id", "w", 20,
      weightCol = Some("w"))).count(_ < 30)
    assert(heavy >= 15, s"only $heavy of 20 from the heavy stratum")
    // E-S requires w > 0: zero/negative/NULL weights silently corrupt
    // the sample (never-sampled / always-sampled / NULL priority) — loud
    def chainMsg(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chainMsg(t.getCause)
    val zero = intercept[Exception](ids(CurationOps.bottomKSample(
      docs.withColumn("w", when(col("doc_id") === 7, 0d).otherwise(1d)),
      "doc_id", "s", 5, weightCol = Some("w"))))
    assert(chainMsg(zero).contains("must be > 0") &&
      chainMsg(zero).contains("doc_id=7"), chainMsg(zero))
    val neg = intercept[Exception](ids(CurationOps.bottomKSample(
      docs.withColumn("w", lit(-1d)), "doc_id", "s", 5, weightCol = Some("w"))))
    assert(chainMsg(neg).contains("must be > 0"), chainMsg(neg))
  }

  test("epochShuffle: exact permutation, reproducible per salt, uncorrelated across salts") {
    import graft.operators.CurationOps
    val docs = spark.range(0, 200).toDF("doc_id")
    def order(salt: String): Seq[Long] =
      CurationOps.epochShuffle(docs, "doc_id", salt)
        .orderBy("pos").collect().map(_.getLong(1)).toSeq
    val e1 = order("epoch-1")
    // a permutation: every id exactly once
    assert(e1.sorted == (0L until 200L), e1.take(10))
    // deterministic: recomputing the same epoch gives the identical order
    assert(order("epoch-1") == e1)
    // a different salt is a different permutation
    val e2 = order("epoch-2")
    assert(e2 != e1 && e2.sorted == (0L until 200L))
    // pos is the contiguous 1..N ranking, not a sparse rank
    val pos = CurationOps.epochShuffle(docs, "doc_id", "epoch-1")
      .orderBy("pos").collect().map(_.getLong(0)).toSeq
    assert(pos == (1L to 200L), pos.take(10))
  }

  test("calibrationBins: hand-checked bins, top-bin fold for score 1.0, ECE weighting") {
    import graft.operators.MlOps
    // bin 0: scores .01/.05, labels 0,0 → conf .03, acc 0, gap .03
    // bin 9: scores .9/.95/1.0 (1.0 folds in), labels 1,0,1
    //        → conf .95, acc round(2/3, 4) = .6667, gap .2833
    val scored = Seq((0.01, 0), (0.05, 0), (0.9, 1), (0.95, 0), (1.0, 1))
      .toDF("score", "label")
    val rows = MlOps.calibrationBins(scored, "score", "label", bins = 10)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(rows.keySet == Set(0, 9), rows)
    // ECE = (2·0.03 + 3·0.2833) / 5 = 0.9099 / 5 = 0.18198 → 0.182
    assert(rows(0) == ((2L, 0.03, 0.0, 0.03, 0.182)), rows(0))
    assert(rows(9) == ((3L, 0.95, 0.6667, 0.2833, 0.182)), rows(9))
  }

  test("vocabLedgerJsd: zero self-drift, 1 bit for one-sided keys, sidecar guards") {
    import graft.operators.{SketchOps, TextOps}
    val base = java.nio.file.Files.createTempDirectory("graft-vjsd").toString
    val (pA, pB, pC) = (s"$base/a", s"$base/b", s"$base/c")
    val a = Seq(("en", "a b a"), ("de", "x y")).toDF("lang", "text")
    val b = Seq(("en", "a b a"), ("fr", "z")).toDF("lang", "text")
    SketchOps.writeVocabLedger(a, "lang", TextOps.tokens(col("text")), pA)
    SketchOps.writeVocabLedger(b, "lang", TextOps.tokens(col("text")), pB)
    val out = SketchOps.vocabLedgerJsd(spark, pA, pB)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // en identical on both sides → 0; de/fr exist on one side only → 1
    assert(out == Map("en" -> 0.0, "de" -> 1.0, "fr" -> 1.0), out)
    // self-drift is identically zero
    assert(SketchOps.vocabLedgerJsd(spark, pA, pA)
      .collect().forall(_.getDouble(1) == 0.0))
    // a differently-tokenized ledger is incomparable — loud, naming both
    SketchOps.writeVocabLedger(a, "lang", TextOps.tokens(col("text")), pC,
      tokenizerId = "bpe-v2")
    val e = intercept[IllegalArgumentException](
      SketchOps.vocabLedgerJsd(spark, pA, pC))
    assert(e.getMessage.contains("ws") && e.getMessage.contains("bpe-v2"),
      e.getMessage)
    // a missing sidecar refuses to guess
    new java.io.File(new java.io.File(pB), "_GRAFT_VOCAB_META").delete()
    val e2 = intercept[IllegalStateException](
      SketchOps.vocabLedgerJsd(spark, pA, pB))
    assert(e2.getMessage.contains("VOCAB_META"), e2.getMessage)
  }

  test("vocab ledger: incremental == from-scratch counts, exact top-k probe, exactly-once replay, tokenizer guard") {
    val path = java.nio.file.Files.createTempDirectory("graft-vocab").toString + "/ledger"
    import graft.operators.{SketchOps, TextOps}
    val seed = Seq(("en", "a b a"), ("de", "x y")).toDF("lang", "text")
    val b1 = Seq(("en", "b b c"), ("fr", "z")).toDF("lang", "text")
    SketchOps.writeVocabLedger(seed, "lang", TextOps.tokens(col("text")), path)
    SketchOps.advanceVocabLedger(b1, "lang", TextOps.tokens(col("text")), path,
      batchId = Some("b-1"))
    SketchOps.advanceVocabLedger(b1, "lang", TextOps.tokens(col("text")), path,
      batchId = Some("b-1")) // replay: no-op
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = SketchOps.tokenCounts(seed.unionByName(b1), "lang",
        TextOps.tokens(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want && want.nonEmpty, s"$got != $want")
    // exact top-2 with (count desc, token asc) ties: en has b=3, a=2, c=1
    SketchOps.compactVocabLedger(spark, path, targetFiles = 1)
    val top = SketchOps.topTokensFromLedger(spark, path, 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(top == Set(("en", 1, "b", 3L), ("en", 2, "a", 2L),
      ("de", 1, "x", 1L), ("de", 2, "y", 1L), ("fr", 1, "z", 1L)), top.toString)
    // a drifted tokenizer tag fails loudly naming both sides
    val e = intercept[IllegalArgumentException](SketchOps.advanceVocabLedger(
      b1, "lang", TextOps.tokens(col("text")), path, tokenizerId = "bpe-v2"))
    assert(e.getMessage.contains("tokenizerId=ws") &&
      e.getMessage.contains("tokenizerId=bpe-v2"), e.getMessage)
    // retraction by subtraction: forget b1 → exactly the seed counts,
    // with b1's only-fr token gone entirely
    SketchOps.retractFromVocabLedger(b1, "lang", TextOps.tokens(col("text")), path)
    val afterForget = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val seedOnly = SketchOps.tokenCounts(seed, "lang", TextOps.tokens(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(afterForget == seedOnly, s"retraction drift: $afterForget != $seedOnly")
    assert(!afterForget.keySet.exists(_._1 == "fr"), "emptied key should leave the ledger")
    // retracting never-admitted text fails loudly, ledger intact
    val eR = intercept[IllegalArgumentException](SketchOps.retractFromVocabLedger(
      Seq(("en", "zzz")).toDF("lang", "text"), "lang", TextOps.tokens(col("text")), path))
    assert(eR.getMessage.contains("negative"), eR.getMessage)
  }

  test("bigram-LM ledger: at-rest score == from-scratch, replay, smoothing, tokenizer guard, retraction") {
    val path = java.nio.file.Files.createTempDirectory("graft-bigram").toString + "/ledger"
    // seed + batch chosen so the batch introduces new bigrams, repeats
    // seed bigrams, and carries a single-token doc (tail-row-only: it
    // must still count toward V — the d34 invariant)
    val seed = Seq((1L, "a b a b c"), (2L, "c a"), (3L, "q")).toDF("doc_id", "text")
    val b1 = Seq((4L, "b c a"), (5L, "z")).toDF("doc_id", "text")
    val all = seed.unionByName(b1)
    CurationOps.writeBigramLedger(seed, "text", path)
    CurationOps.advanceBigramLedger(b1, "text", path, batchId = Some("b-1"))
    CurationOps.advanceBigramLedger(b1, "text", path, batchId = Some("b-1")) // replay: no-op
    // ledger counts == one from-scratch pass over seed ∪ batch
    val got = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = CurationOps.bigramCounts(all, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want && want.nonEmpty, s"$got != $want")
    // scoring admitted docs from the ledger == bigramLmScore from scratch
    CurationOps.compactBigramLedger(spark, path, targetFiles = 1)
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Double)] =
      df.collect().map(r => r.getLong(0) -> ((r.getInt(1),
        math.rint(r.getDouble(2) * 1e9) / 1e9))).toMap
    val atRest = scores(CurationOps.bigramScoreFromLedger(all, "doc_id", "text", path))
    val scratch = scores(CurationOps.bigramLmScore(all, "doc_id", "text"))
    assert(atRest == scratch && atRest.nonEmpty, s"$atRest != $scratch")
    // un-admitted text scores via Laplace smoothing: unseen (w1,w2) with
    // seen w1 → −ln(1/(c1(w1)+V)); wholly unseen w1 → −ln(1/V).
    // V = distinct w1 over the ledger = {a,b,c,q,z} = 5; c1("a") = 2
    // ("a b" ×2 in doc 1; the "a"→nothing tail rows are excluded from c1).
    val novel = scores(CurationOps.bigramScoreFromLedger(
      Seq((9L, "a zz"), (10L, "yy zz")).toDF("doc_id", "text"), "doc_id", "text", path))
    assert(math.abs(novel(9L)._2 - math.log(2 + 5)) < 1e-9, novel.toString)
    assert(math.abs(novel(10L)._2 - math.log(5)) < 1e-9, novel.toString)
    // a drifted tokenizer tag fails loudly naming both sides
    val e = intercept[IllegalArgumentException](
      CurationOps.advanceBigramLedger(b1, "text", path, tokenizerId = "bpe-v2"))
    assert(e.getMessage.contains("tokenizerId=ws") &&
      e.getMessage.contains("tokenizerId=bpe-v2"), e.getMessage)
    // retraction by subtraction: forget b1 → exactly the seed counts;
    // z (b1-only token) leaves entirely, so V shrinks with it
    CurationOps.retractFromBigramLedger(b1, "text", path)
    val afterForget = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val seedOnly = CurationOps.bigramCounts(seed, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(afterForget == seedOnly, s"retraction drift: $afterForget != $seedOnly")
    assert(!afterForget.keySet.exists(_._1 == "z"), "emptied w1 should leave the ledger")
    // retracting never-admitted text fails loudly, ledger intact
    val eR = intercept[IllegalArgumentException](
      CurationOps.retractFromBigramLedger(Seq((99L, "zz qq")).toDF("doc_id", "text"), "text", path))
    assert(eR.getMessage.contains("negative"), eR.getMessage)
    assert(spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap == seedOnly,
      "failed retraction must not change the ledger")
    // a probe without the sidecar fails loudly (scores under an unknown
    // tokenization are incomparable)
    new java.io.File(new java.io.File(path), "_GRAFT_BIGRAM_META").delete()
    val e3 = intercept[IllegalStateException](
      CurationOps.bigramScoreFromLedger(seed, "doc_id", "text", path))
    assert(e3.getMessage.contains("BIGRAM_META"), e3.getMessage)
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
  }

  test("mixtureReweight: harder sources gain mass, weights normalize, eta=0 returns the share prior") {
    // two sources: src A's docs repeat one fluent bigram (low NLL),
    // src B's docs are each unique word salad (every bigram count 1 →
    // higher NLL than A's repeated pair)
    val docs = Seq(
      (1L, "A", "x y x y x y"), (2L, "A", "x y x y"),
      (3L, "B", "q w e r"), (4L, "B", "t u i o"))
      .toDF("doc_id", "source", "text")
    val got = CurationOps.mixtureReweight(docs, "doc_id", "source", "text")
      .orderBy("source")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got.map(_._1) == Seq("A", "B") && got.map(_._2) == Seq(2, 2))
    val (a, b) = (got(0), got(1))
    assert(b._3 > a._3, s"word salad must score worse: $got")
    // excess is centered on the doc-weighted mean: equal doc counts →
    // excesses are symmetric
    assert(math.abs(a._4 + b._4) <= 2e-4, s"excess not centered: $got")
    assert(b._4 > 0 && a._4 < 0)
    // the harder source gains mass; weights sum to 1 (4dp)
    assert(b._5 > 0.5 && a._5 < 0.5 && math.abs(a._5 + b._5 - 1.0) <= 2e-4, got.toString)
    // eta = 0: feedback off, weights collapse to the share prior
    val flat = CurationOps.mixtureReweight(docs, "doc_id", "source", "text", eta = 0.0)
      .collect().map(_.getDouble(4)).toSeq
    assert(flat == Seq(0.5, 0.5), flat.toString)
    intercept[IllegalArgumentException](
      CurationOps.mixtureReweight(docs, "doc_id", "source", "text", eta = -1.0))
  }

  test("bigram model sidecar: compaction persists it, all three scorers bind it ≡ recomputed, any advance drops it") {
    val path = java.nio.file.Files.createTempDirectory("graft-bgm").toString + "/ledger"
    val seed = Seq((1L, "a b a b c"), (2L, "c a"), (3L, "q")).toDF("doc_id", "text")
    val b1 = Seq((4L, "b c a"), (5L, "z")).toDF("doc_id", "text")
    val probe = Seq((9L, "a b zz"), (10L, "c a q")).toDF("doc_id", "text")
    def modelDir = new java.io.File(new java.io.File(path), "_GRAFT_BIGRAM_MODEL")
    def delRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(delRec)
      f.delete(): Unit
    }
    CurationOps.writeBigramLedger(seed, "text", path)
    CurationOps.advanceBigramLedger(b1, "text", path, batchId = Some("b-1"))
    assert(!modelDir.exists, "no model before compaction")
    CurationOps.compactBigramLedger(spark, path, targetFiles = 1)
    assert(new java.io.File(modelDir, "tok/_SUCCESS").exists &&
      new java.io.File(modelDir, "tot/_SUCCESS").exists,
      "compaction must persist the complete model sidecar")
    // sidecar-bound scores ≡ recomputed scores, for ALL THREE scorers
    // (delete the sidecar between passes; same ledger rows both times)
    def all3 = Seq(
      CurationOps.bigramScoreFromLedger(probe, "doc_id", "text", path),
      CurationOps.bigramScoreInterpolated(probe, "doc_id", "text", path),
      CurationOps.bigramScoreKneserNey(probe, "doc_id", "text", path))
      .map(_.collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap)
    val withModel = all3
    delRec(modelDir)
    assert(!modelDir.exists)
    val recomputed = all3
    assert(withModel == recomputed && withModel.forall(_.nonEmpty),
      s"sidecar-vs-recomputed drift: $withModel != $recomputed")
    // staleness guarantee: ANY advance/retraction rewrites the
    // generation and the model subdirectory does not ride along
    CurationOps.compactBigramLedger(spark, path, targetFiles = 1)
    assert(modelDir.exists)
    CurationOps.advanceBigramLedger(
      Seq((6L, "q z")).toDF("doc_id", "text"), "text", path, batchId = Some("b-2"))
    assert(!modelDir.exists, "an advance must drop the compaction-time model")
    CurationOps.compactBigramLedger(spark, path, targetFiles = 1)
    assert(modelDir.exists)
    CurationOps.retractFromBigramLedger(
      Seq((6L, "q z")).toDF("doc_id", "text"), "text", path)
    assert(!modelDir.exists, "a retraction must drop the compaction-time model")
  }

  test("leakageSafeSplit: members inherit the rep's split; growth-stable under monotone ids; NULL key isolated") {
    val docs = Seq((1L, "g1"), (2L, "g1"), (7L, "g2"), (3L, "g1"), (9L, "g2"),
      (11L, null.asInstanceOf[String])).toDF("id", "fam")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = CurationOps.leakageSafeSplit(docs, "id", Seq("fam"), splits)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    // every member of a family shares one split — and it is exactly the
    // REP's per-document split (the d42 function applied to min(id))
    def solo(id: Long) = Seq((id, "x")).toDF("id", "fam")
      .select(CurationOps.splitAssign(col("id"), splits)).collect().head.getString(0)
    assert(got(1L) == got(2L) && got(2L) == got(3L) && got(1L).contains(solo(1L)))
    assert(got(7L) == got(9L) && got(7L).contains(solo(7L)))
    // growing the corpus with LARGER ids never moves an existing group
    val grown = CurationOps.leakageSafeSplit(
      docs.unionByName(Seq((20L, "g1"), (21L, "g3")).toDF("id", "fam")),
      "id", Seq("fam"), splits)
      .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(Seq(1L, 2L, 3L, 7L, 9L).forall(i => grown(i) == got(i)))
    assert(grown(20L) == got(1L), "a new member inherits its family's split")
    // a NULL family key survives the (null-safe) join and gets a NULL
    // split — an unattributable row must neither vanish from the
    // corpus nor silently land in the held-out set
    assert(got.contains(11L) && got(11L).isEmpty, got.toString)
  }

  test("temperatureSampleRates: α flattens shares toward uniform; α=1 is proportional; budget respected; guards") {
    val counts = Seq(("big", 90000L), ("small", 10000L), ("zero", 0L))
      .toDF("src", "toks")
    def rates(alpha: Double, b: Long): Map[String, (Double, Long)] =
      CurationOps.temperatureSampleRates(counts, "src", "toks", b, alpha)
        .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    // α = 1: q is the raw share, keep rates equal across sources
    // (B·(T/ΣT)/T = B/ΣT) — the proportional mix
    val r1 = rates(1.0, 50000L)
    assert(math.abs(r1("big")._1 - 0.9) < 1e-12 && math.abs(r1("small")._1 - 0.1) < 1e-12)
    assert(r1("big")._2 == r1("small")._2 && r1("big")._2 == 500000L)
    // α = 0.5: shares flatten (big's falls, small's rises), so small's
    // keep rate EXCEEDS big's — the upweighting the trick exists for.
    // q_big = 300/400, q_small = 100/400; B = 20000 keeps both uncapped
    val rH = rates(0.5, 20000L)
    assert(rH("big")._1 < 0.9 && rH("small")._1 > 0.1)
    assert(rH("small")._2 > rH("big")._2,
      s"small must be upweighted: $rH")
    // expected kept tokens ≈ budget (Σ rate_i·T_i = B when nothing caps)
    val expTok = Seq(("big", 90000L), ("small", 10000L)).map { case (k, t) =>
      rH(k)._2.toDouble / 1e6 * t }.sum
    assert(math.abs(expTok - 20000.0) < 100.0, expTok.toString)
    // a budget big enough to cap the small source: its rate pins at
    // 1e6 ppm (keep everything) and the surplus is NOT re-spread —
    // temperature sampling is rate-based, not water-filling (d92 is)
    assert(rates(0.5, 50000L)("small")._2 == 1000000L)
    // a tiny budget with a huge source never caps above 1e6 ppm; a
    // zero-token source keeps nothing rather than dividing by zero
    assert(rates(0.5, Long.MaxValue / 4)("big")._2 == 1000000L)
    assert(rH("zero")._2 == 0L)
    intercept[IllegalArgumentException](
      CurationOps.temperatureSampleRates(counts, "src", "toks", 10L, alpha = 0.0))
    intercept[IllegalArgumentException](
      CurationOps.temperatureSampleRates(counts, "src", "toks", -1L))
    // temperatureMix: membership is the stable-hash predicate over the
    // same ppm table — reproducible across partitionings
    val docs = (1L to 200L).map(i =>
      (i, if (i % 10 == 0) "small" else "big", "w " * (i % 7 + 1).toInt)).toDF("id", "src", "text")
    val a = CurationOps.temperatureMix(docs.repartition(7), "id", "text", "src", 300L)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = CurationOps.temperatureMix(docs.coalesce(1), "id", "text", "src", 300L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // NULL-source rows form their own rate group and sample at it —
    // never silently vanish (the leakageSafeSplit null-safe discipline)
    val withNull = (1L to 100L).map(i =>
      (i, if (i % 4 == 0) null else "big", "w " * (i % 5 + 1).toInt))
      .toDF("id", "src", "text")
    val mixed = CurationOps.temperatureMix(withNull, "id", "text", "src",
      budgetTokens = 100000L) // budget >> tokens → every group keeps all
    assert(mixed.count() == 100L,
      "a keep-everything budget must return every row, NULL sources included")
    assert(mixed.filter(col("src").isNull).count() == 25L)
  }

  test("mixturePlan: closed-form water-filling equals the iterative reference; shortfall mode; weight guard") {
    // iterative reference: raise λ until budget is spent, re-capping
    // each round (the textbook fixed-point the closed form replaces)
    def ref(rows: Seq[(String, Long, Double)], budget: Long, maxEpochs: Double)
        : Map[String, Double] = {
      val cap = rows.map { case (k, t, _) => k -> maxEpochs * t }.toMap
      var capped = Set.empty[String]
      var lam = 0.0
      var changed = true
      while (changed) {
        val freeW = rows.filterNot(r => capped(r._1)).map(_._3).sum
        val spent = capped.toSeq.map(cap).sum
        lam = if (freeW == 0) 0.0 else (budget - spent) / freeW
        val newly = rows.filterNot(r => capped(r._1))
          .filter(r => lam * r._3 >= cap(r._1)).map(_._1).toSet
        changed = newly.nonEmpty
        capped ++= newly
      }
      rows.map { case (k, _, w) =>
        k -> (if (capped(k)) cap(k) else lam * w) }.toMap
    }
    val rows = Seq(("a", 100L, 1.0), ("b", 50L, 5.0), ("c", 400L, 2.0),
      ("d", 10L, 4.0), ("e", 0L, 1.0))
    val df = rows.toDF("src", "toks", "w")
    def plan(budget: Long, eps: Double): Map[String, (Double, Double, Int, Long)] =
      CurationOps.mixturePlan(df, "src", "toks", "w", budget, eps)
        .collect().map(r => r.getString(0) ->
          ((r.getDouble(4), r.getDouble(5), r.getInt(6), r.getLong(7)))).toMap
    // budget-poor: closed form == iterative reference, budget fully spent
    for (budget <- Seq(0L, 100L, 300L, 500L, 900L); eps <- Seq(0.5, 2.0)) {
      val got = plan(budget, eps)
      val want = ref(rows, budget, eps)
      val totalCap = rows.map(_._2 * eps).sum
      rows.foreach { case (k, _, _) =>
        assert(math.abs(got(k)._1 - math.min(want(k), rows.find(_._1 == k).get._2 * eps)) < 1e-6,
          s"budget=$budget eps=$eps key=$k: ${got(k)._1} != ${want(k)}")
      }
      if (budget <= totalCap)
        assert(math.abs(got.values.map(_._1).sum - budget) < 1e-6,
          s"budget=$budget eps=$eps: plan must spend the whole budget, " +
            s"spent ${got.values.map(_._1).sum}")
    }
    // zero-token source: alloc 0, epochs 0 (not NaN), capped
    val g = plan(300L, 2.0)
    assert(g("e")._1 == 0.0 && g("e")._2 == 0.0 && g("e")._3 == 1)
    // budget-rich: every capacity allocated, shortfall reported
    val rich = plan(5000L, 2.0)
    assert(rich.values.forall(_._3 == 1))
    assert(math.abs(rich.values.map(_._1).sum - 1120.0) < 1e-9) // Σ 2·toks
    assert(rich.values.head._4 == 5000L - 1120L, rich.toString)
    // half-integral capacities (maxEpochs=1.5, odd n_tokens): the
    // report column ROUNDS, so a capped row never shows
    // alloc_raw > capacity_tokens (truncation sat 0.5 below the
    // capacity the allocation math used)
    val half = CurationOps.mixturePlan(
      Seq(("a", 7L, 1.0), ("b", 9L, 1.0)).toDF("src", "toks", "w"),
      "src", "toks", "w", budgetTokens = 1000L, maxEpochs = 1.5)
      .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4), r.getInt(6)))).toMap
    assert(half("a") == ((11L, 10.5, 1)), half.toString) // round(10.5)=11 >= alloc
    assert(half("b") == ((14L, 13.5, 1)), half.toString)
    assert(half.values.forall { case (capT, alloc, capped) =>
      capped == 0 || alloc <= capT }, s"capped rows must show alloc <= capacity: $half")
    // a non-positive weight fails loudly naming the row (a clamped
    // weight would silently skew every other source's allocation)
    val e = intercept[IllegalArgumentException](
      CurationOps.mixturePlan(
        Seq(("a", 10L, 0.0)).toDF("src", "toks", "w"), "src", "toks", "w", 5L, 1.0)
        .collect())
    assert(e.getMessage.contains("'a'") && e.getMessage.contains("weight=0.0"),
      e.getMessage)
  }

  test("learnBpeMerges: equals the sequential Sennrich reference; ties break on (lhs, rhs); early stop") {
    // sequential reference: literal learn-BPE (pair counts over the
    // word-count table, argmax by (freq desc, lhs, rhs), left-to-right
    // non-overlapping scan merge)
    def ref(words0: Map[String, Long], k: Int): Seq[(Int, String, String, Long)] = {
      var words = words0.map { case (w, c) => (w.map(_.toString).toVector, c) }
      var out = Vector.empty[(Int, String, String, Long)]
      for (r <- 1 to k if out.length == r - 1) {
        val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, c) <- words; i <- 0 until syms.length - 1)
          pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + c
        if (pairs.nonEmpty) {
          val ((a, b), f) = pairs.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
          out :+= ((r, a, b, f))
          words = words.map { case (syms, c) =>
            val nb = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                nb += (a + b); i += 2
              } else { nb += syms(i); i += 1 }
            }
            (nb.result(), c)
          }
        }
      }
      out
    }
    val corpus = Seq("low low low low low", "lower lower newest widest",
      "newest newest newest newest newest", "widest widest ab cd ab")
    val docs = corpus.toDF("text")
    val got = CurationOps.learnBpeMerges(docs, "text", 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val wc = corpus.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    assert(got == ref(wc, 6), s"got $got\nref ${ref(wc, 6)}")
    // a corpus whose words all collapse to single symbols stops early
    val tiny = Seq("aa aa", "aa").toDF("text")
    val tinyGot = CurationOps.learnBpeMerges(tiny, "text", 5)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(tinyGot == Seq((1, "a", "a", 3L)), tinyGot.toString)
  }

  test("tokenizer learns: local fast path ≡ distributed rounds (BPE + WordPiece)") {
    // the small-vocab driver loop must replay the distributed rounds
    // bit-for-bit (exact long sums, UTF-8 tie order, same regex split);
    // forcing the bound to 0 routes the same corpus through the
    // distributed path — incl. ties, multi-round merged symbols and an
    // early-stop word shape
    val corpus = Seq("low low low low low", "lower lower newest widest",
      "newest newest newest newest newest", "widest widest ab cd ab",
      "aa aa ab ba", "xyz xyz xy yz", "a")
    val docs = corpus.toDF("text")
    val localB = CurationOps.learnBpeMerges(docs, "text", 6)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val localW = CurationOps.learnWordPieceMerges(docs, "text", 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    spark.conf.set("spark.graft.smallTokenizerWords", "0")
    try {
      val distB = CurationOps.learnBpeMerges(docs, "text", 6)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      val distW = CurationOps.learnWordPieceMerges(docs, "text", 4)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
      assert(localB == distB, s"BPE local $localB\ndistributed $distB")
      assert(localW == distW, s"WP local $localW\ndistributed $distW")
    } finally spark.conf.unset("spark.graft.smallTokenizerWords")
  }

  test("tokenizer learn: a malformed smallTokenizerWords bound fails, naming the key and value") {
    val docs = Seq("low low lower").toDF("text")
    spark.conf.set("spark.graft.smallTokenizerWords", "1m")
    try {
      val e = intercept[IllegalArgumentException](CurationOps.learnBpeMerges(docs, "text", 2))
      assert(e.getMessage.contains("spark.graft.smallTokenizerWords") && e.getMessage.contains("'1m'"),
        e.getMessage)
    } finally spark.conf.unset("spark.graft.smallTokenizerWords")
  }

  test("bpeEncode: priority-loop apply — divergence from naive list order, multi-occurrence, empties, NULL") {
    import graft.functions.TokenizeExpressions.bpeEncode
    def enc(text: String, merges: Seq[(String, String)]): Seq[Seq[String]] =
      Seq(text).toDF("t").select(bpeEncode(col("t"), merges).as("p"))
        .collect().head.getSeq[scala.collection.Seq[String]](0)
        .map(_.toSeq).toSeq
    // THE divergence case: rank0 = (ab, c) names a symbol only rank1 =
    // (a, b) can manufacture. The priority loop applies rank1 first
    // (only present pair), THEN rank0 → [abc]; naive in-list-order
    // application would stop at [ab, c].
    assert(enc("abc", Seq(("ab", "c"), ("a", "b"))) == Seq(Seq("abc")))
    // left-to-right non-overlap within one merge step
    assert(enc("bbb", Seq(("b", "b"))) == Seq(Seq("bb", "b")))
    // all occurrences merge in one step; untouched tokens pass through
    assert(enc("abab cd", Seq(("a", "b"))) ==
      Seq(Seq("ab", "ab"), Seq("c", "d")))
    // empty tokens (double spaces, edges) contribute no piece arrays
    assert(enc("  ab  b ", Seq(("a", "b"))) == Seq(Seq("ab"), Seq("b")))
    val n = Seq(Option.empty[String]).toDF("t")
      .select(bpeEncode(col("t"), Seq(("a", "b")))).collect()
    assert(n.head.isNullAt(0))
  }

  test("tfidfAgainstLedgers: ledger-backed df/N == from-scratch scoring; unseen tokens drop; tokenizer guard") {
    import graft.operators.{SketchOps, TextOps}
    val base = java.nio.file.Files.createTempDirectory("graft-tfidf").toString
    val (dfPath, stPath) = (base + "/df", base + "/stats")
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "a c c d"))
      .toDF("doc_id", "text").withColumn("corpus", lit("all"))
    val dtok = array_distinct(TextOps.tokens(col("text")))
    SketchOps.writeVocabLedger(docs.filter(col("doc_id") < 3), "corpus", dtok,
      dfPath, tokenizerId = "ws-distinct")
    SketchOps.advanceVocabLedger(docs.filter(col("doc_id") === 3), "corpus",
      dtok, dfPath, tokenizerId = "ws-distinct", batchId = Some("g2"))
    CurationOps.writeStatsLedger(docs, "corpus", "text", stPath)
    val got = SketchOps.tfidfAgainstLedgers(
      Seq((9L, "a b zzz")).toDF("doc_id", "text"), "doc_id",
      TextOps.tokens(col("text")), dfPath, stPath, k = 5)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toSet
    // N=3; df(a)=2, df(b)=2 → tfidf = round(1·ln(3/2), 4) = 0.4055 for
    // both; rank tie broken by token; 'zzz' never admitted → dropped
    assert(got == Set(("a", 1L, 2L, 0.4055, 1), ("b", 1L, 2L, 0.4055, 2)), got.toString)
    // a drifted tokenizer tag fails loudly naming both sides
    val e = intercept[IllegalArgumentException](SketchOps.tfidfAgainstLedgers(
      docs, "doc_id", TextOps.tokens(col("text")), dfPath, stPath, k = 3,
      tokenizerId = "ws"))
    assert(e.getMessage.contains("ws-distinct") && e.getMessage.contains("tokenizerId=ws"),
      e.getMessage)
  }

  test("advanceSketchLedger: three-batch advance — exact counts sum, distinct estimate exact at tiny cardinality") {
    val path = java.nio.file.Files.createTempDirectory("graft-sketch").toString + "/ledger"
    // "a b" appears in seed AND b1 under s1 — the union must not
    // double-count it; tiny cardinalities are exact for HLL (the
    // sketch stores them in sparse/coupon mode)
    val seed = Seq(("s1", "a b"), ("s2", "d")).toDF("source", "text")
    val b1 = Seq(("s1", "a b"), ("s1", "e f"), ("s3", "g")).toDF("source", "text")
    val b2 = Seq(("s2", "d"), ("s3", "k l")).toDF("source", "text")
    CurationOps.writeSketchLedger(seed, "source", col("text"), path)
    CurationOps.advanceSketchLedger(b1, "source", col("text"), path)
    CurationOps.advanceSketchLedger(b2, "source", col("text"), path)
    val got = CurationOps.sketchEstimates(spark, path)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // n_docs: exact sums; approx_distinct: exact at these cardinalities
    assert(got == Map("s1" -> ((3L, 2L)), "s2" -> ((2L, 1L)), "s3" -> ((2L, 2L))), got.toString)
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
  }

  test("sketchOverlap: inclusion-exclusion over ledger sketches recovers tiny-cardinality overlaps exactly") {
    val path = java.nio.file.Files.createTempDirectory("graft-skov").toString + "/ledger"
    val corpus = Seq(
      ("s1", "a"), ("s1", "b"), ("s1", "c"),
      ("s2", "b"), ("s2", "c"), ("s2", "d"),
      ("s3", "x")).toDF("source", "text")
    CurationOps.writeSketchLedger(corpus, "source", col("text"), path)
    val got = CurationOps.sketchOverlap(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // sparse-mode sketches are exact at these cardinalities, so the
    // inclusion-exclusion difference is exact too
    assert(got == Map(
      ("s1", "s2") -> 2L, // {b, c}
      ("s1", "s3") -> 0L,
      ("s2", "s3") -> 0L), got.toString)
  }

  test("semanticDecontamination: threshold boundary inclusive, tied scores pick the smallest bench id") {
    // benchmark ids 7 and 3 carry the SAME vector: doc 1 matches both
    // with an identical rounded score and must report bench_id 3
    val bench = Seq(
      (7L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f)),
      (9L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f)),   // cos 1.0 vs bench 3 AND 7
      (2L, Array(1.0f, 1.0f)),   // cos ~0.7071 vs all three
      (4L, Array(-1.0f, 0.0f))). // best cos 0.0 (vs bench 9) — below threshold
      toDF("vec_id", "embedding")
    val got = CurationOps.semanticDecontamination(
      corpus, "vec_id", "embedding", bench, "vec_id", "embedding",
      threshold = 0.707107) // exactly doc 2's rounded score: inclusive
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 3L, 1.0), (2L, 3L, 0.707107)), got.toString)
  }

  test("advance with a batchId is exactly-once: a replayed batch is a no-op") {
    val path = java.nio.file.Files.createTempDirectory("graft-once").toString + "/ledger"
    val seed = Seq(("s1", "a b")).toDF("source", "text")
    val b1 = Seq(("s1", "c d e"), ("s2", "f")).toDF("source", "text")
    CurationOps.writeStatsLedger(seed, "source", "text", path)
    CurationOps.advanceStatsLedger(b1, "source", "text", path, batchId = Some("batch-1"))
    // application retry after a crash report: same id, must not re-sum
    CurationOps.advanceStatsLedger(b1, "source", "text", path, batchId = Some("batch-1"))
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("s1" -> ((2L, 5L)), "s2" -> ((1L, 1L))), got.toString)
    // a NEW id applies normally
    CurationOps.advanceStatsLedger(
      Seq(("s2", "g h")).toDF("source", "text"), "source", "text", path,
      batchId = Some("batch-2"))
    val got2 = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got2 == Map("s1" -> ((2L, 5L)), "s2" -> ((2L, 3L))), got2.toString)
  }

  test("an unmarked advance (compaction) carries the exactly-once marker forward") {
    val path = java.nio.file.Files.createTempDirectory("graft-once-cpt").toString + "/ledger"
    val seed = Seq(("s1", "a b")).toDF("source", "text")
    val b1 = Seq(("s1", "c d e"), ("s2", "f")).toDF("source", "text")
    CurationOps.writeStatsLedger(seed, "source", "text", path)
    CurationOps.advanceStatsLedger(b1, "source", "text", path, batchId = Some("batch-1"))
    // compaction-style rewrite: advanceInPlace with batchId = None
    // materializes a fresh generation — the marker must ride along or
    // a crash-and-replay of batch-1 straddling this compaction would
    // re-sum it
    LedgerGuard.advanceInPlace(spark, path, "test compaction") { staging =>
      spark.read.parquet(path).write.parquet(staging)
    }
    assert(new java.io.File(path, "_GRAFT_LAST_BATCH").exists,
      "compaction erased the exactly-once marker")
    CurationOps.advanceStatsLedger(b1, "source", "text", path, batchId = Some("batch-1"))
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("s1" -> ((2L, 5L)), "s2" -> ((1L, 1L))), got.toString)
  }

  test("advanceSketchLedger: the ledger's own lgK governs later advances (default param cannot poison it)") {
    val path = java.nio.file.Files.createTempDirectory("graft-sklgk").toString + "/ledger"
    val seed = Seq(("s1", "a"), ("s1", "b")).toDF("source", "text")
    CurationOps.writeSketchLedger(seed, "source", col("text"), path, lgK = 14)
    // default lgK = 12: without the persisted-lgk lookup this union
    // would throw HLL_UNION_DIFFERENT_LG_K and the ledger could never
    // be advanced again
    CurationOps.advanceSketchLedger(Seq(("s1", "c"), ("s2", "d")).toDF("source", "text"),
      "source", col("text"), path)
    val got = CurationOps.sketchEstimates(spark, path)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("s1" -> ((3L, 3L)), "s2" -> ((1L, 1L))), got.toString)
    assert(spark.read.parquet(path).select("lgk").distinct().collect().map(_.getInt(0)).toSeq == Seq(14))
  }

  test("advanceStatsLedger normalizes a trailing-slash path (siblings never nest inside the target)") {
    val path = java.nio.file.Files.createTempDirectory("graft-adv-slash").toString + "/ledger"
    val seed = Seq(("s1", "a b")).toDF("source", "text")
    val b1 = Seq(("s1", "c"), ("s2", "d e")).toDF("source", "text")
    CurationOps.writeStatsLedger(seed, "source", "text", path)
    CurationOps.advanceStatsLedger(b1, "source", "text", path + "/") // trailing slash
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("s1" -> 3L, "s2" -> 2L), s"$got")
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
  }

  test("advanceStatsLedger self-heals a crash between the retire and promote renames") {
    val base = java.nio.file.Files.createTempDirectory("graft-adv-heal").toString
    val path = base + "/ledger"
    val seed = Seq(("s1", "a b c")).toDF("source", "text")
    // Crash state of a previous advance: the completed NEW generation sits
    // at .staging, the OLD one at .old, and the target itself is absent
    // (killed after rename(target, .old), before rename(.staging, target)).
    CurationOps.writeStatsLedger(seed, "source", "text", path + ".staging")
    CurationOps.writeStatsLedger(Seq(("stale", "x")).toDF("source", "text"),
      "source", "text", path + ".old")
    val b1 = Seq(("s2", "d e")).toDF("source", "text")
    CurationOps.advanceStatsLedger(b1, "source", "text", path)
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // staging (the newer generation) won the heal; the stale retired copy did not
    assert(got == Map("s1" -> 3L, "s2" -> 2L), s"$got")
    assert(!new java.io.File(path + ".staging").exists && !new java.io.File(path + ".old").exists)
  }

  test("withLease release is identity-checked: a usurped lock survives the displaced holder's release") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease-id").toString
    val target = new org.apache.hadoop.fs.Path(dir + "/led")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lockFile = java.nio.file.Paths.get(dir + "/led.lock")
    LedgerGuard.withLease(fs, target) {
      // simulate: this holder's lease went stale mid-body and another
      // writer broke it and re-acquired — the lock now carries THEIR
      // token. Our release must leave it alone.
      java.nio.file.Files.delete(lockFile)
      java.nio.file.Files.writeString(lockFile, "usurper@elsewhere/fff")
    }
    assert(java.nio.file.Files.exists(lockFile),
      "displaced holder deleted the new holder's lease")
    assert(java.nio.file.Files.readString(lockFile) == "usurper@elsewhere/fff")
  }

  test("advanceStatsLedger: a concurrent cross-JVM writer lease fails fast, ledger intact") {
    val path = java.nio.file.Files.createTempDirectory("graft-adv-lock").toString + "/ledger"
    val seed = Seq(("s1", "a b c")).toDF("source", "text")
    CurationOps.writeStatsLedger(seed, "source", "text", path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path + ".lock"), "777@elsewhere")
    val b1 = Seq(("s2", "d e")).toDF("source", "text")
    val e = intercept[IllegalStateException](
      CurationOps.advanceStatsLedger(b1, "source", "text", path))
    assert(e.getMessage.contains("777@elsewhere"), e.getMessage)
    val got = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("s1" -> 3L)) // refused writer changed nothing
    // holder releases → the same advance succeeds
    java.nio.file.Files.delete(java.nio.file.Paths.get(path + ".lock"))
    CurationOps.advanceStatsLedger(b1, "source", "text", path)
    val after = spark.read.parquet(path)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(after == Map("s1" -> 3L, "s2" -> 2L))
  }

  // Multi-line pages exercising every C4 line-rule edge: trailing
  // newlines (split keeps trailing empties), blank and all-space lines,
  // consecutive spaces (empty tokens COUNT toward the word count),
  // every terminal mark incl. the quote, unicode lines, a line that is
  // only punctuation, untrimmed padding around keepable lines.
  private val pages = Seq(
    "", "\n", "\n\n", "no terminal here", "one two three four five.",
    "one two three four five", "one two three four five!\nshort.\n",
    "  one two three four five?  \nsix seven eight nine ten\"\n\n",
    "a  b  c  d  e.", // 8 split-tokens (empty count) but 5 words
    "ends with quote one two\"\nends bang one two three four five six!",
    "über straße geht é ü.\n日本 語 で す ね。\nascii one two three four.",
    ".", " . ", "one two three four .", "line one two three four five.\r",
    "tab\thas one two three four five.")

  test("fused C4LineFilter kernel == composable filter/split HOF form") {
    val df = pages.toDF("text")
    val f = df.select(TextOps.c4LineFilter(col("text"), minWords = 5).as("s"))
      .select(col("s.n_lines"), col("s.n_kept"), col("s.kept")).collect()
    val kept = filter(split(col("text"), "\n"), l => {
      val t = trim(l)
      (size(split(t, " ")) >= 5) && substring(t, -1, 1).isin(".", "!", "?", "\"")
    })
    val c = df.select(
      size(split(col("text"), "\n")).as("n_lines"), size(kept).as("n_kept"),
      array_join(transform(kept, l => trim(l)), "\n").as("kept")).collect()
    pages.indices.foreach { i =>
      assert(f(i) == c(i), s"row $i: ${pages(i).replace("\n", "\\n")}")
    }
  }

  test("fused SynthC4Page fixture kernel == composable slice/transform form") {
    val w = 8
    val df = awkward.zipWithIndex.map { case (t, i) => (t, i.toLong * 7) }
      .toDF("text", "doc_id")
    val fused = df.select(graft.functions.LineFilterExpressions
      .synthC4Page(col("text"), col("doc_id"), w).as("p")).collect()
    val t = TextOps.tokens(col("text"))
    val nl = ceil(size(t) / lit(w.toDouble)).cast("int")
    val page = array_join(
      transform(sequence(lit(0), greatest(nl - 1, lit(0))), p =>
        concat(
          array_join(slice(t, p * w + 1, lit(w)), " "),
          element_at(array(lit(""), lit("."), lit("!")),
            ((col("doc_id") + p) % 3 + 1).cast("int")))),
      "\n")
    val comp = df.select(page.as("p")).collect()
    awkward.indices.foreach { i =>
      assert(fused(i) == comp(i), s"row $i: ${awkward(i)}")
    }
  }

  test("C4LineFilter kernel == HOF form on 500 random pages (seeded)") {
    val rnd = new scala.util.Random(0xC4C4)
    val alphabet = "ab .!?\"\n\té日 "
    val random = (1 to 500).map { _ =>
      val n = rnd.nextInt(60)
      (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val df = random.toDF("text")
    val f = df.select(TextOps.c4LineFilter(col("text"), minWords = 2).as("s"))
      .select(col("s.n_lines"), col("s.n_kept"), col("s.kept")).collect()
    val kept = filter(split(col("text"), "\n"), l => {
      val t = trim(l)
      (size(split(t, " ")) >= 2) && substring(t, -1, 1).isin(".", "!", "?", "\"")
    })
    val c = df.select(
      size(split(col("text"), "\n")).as("n_lines"), size(kept).as("n_kept"),
      array_join(transform(kept, l => trim(l)), "\n").as("kept")).collect()
    random.indices.foreach { i =>
      assert(f(i) == c(i), s"row $i: ${random(i).replace("\n", "\\n")}")
    }
  }

  test("fused ScrubSpans kernel == composable filter/exists HOF form") {
    import graft.functions.NgramExpressions
    // (text, sorted disjoint spans) — mergeSpans-shaped inputs: empty
    // span set, span at the front, middle, clipped tail, whole doc,
    // adjacent-but-disjoint spans, empty-token docs
    val rows = Seq(
      ("a b c d e f g h", Seq((1, 3, 2L), (5, 7, 2L))),
      ("a b c d e f g h", Seq.empty[(Int, Int, Long)]),
      ("a b c d", Seq((0, 4, 4L))),
      ("a b c d", Seq((0, 1, 1L), (3, 4, 1L))),
      ("solo", Seq((0, 1, 1L))),
      ("  padded   doc here  ", Seq((1, 2, 1L))),
      ("über straße é ü ok", Seq((2, 4, 2L))),
      ("", Seq.empty[(Int, Int, Long)]))
    val df = rows.toDF("text", "raw")
      .withColumn("spans", expr(
        "transform(raw, r -> named_struct('s', r._1, 'e', r._2, 'nw', r._3))"))
    val fused = df.select(NgramExpressions.scrubSpans(col("text"), col("spans")).as("r"))
      .select(col("r.clean_text"), col("r.n_removed")).collect()
    val toks = split(trim(col("text")), " ")
    val comp = df.select(
      array_join(filter(toks, (_, i) => !exists(col("spans"),
        sp => i >= sp.getField("s") && i < sp.getField("e"))), " ")
        .as("clean_text"),
      aggregate(col("spans"), lit(0L),
        (a, sp) => a + (sp.getField("e") - sp.getField("s"))).as("n_removed"))
      .collect()
    rows.indices.foreach { i =>
      assert(fused(i) == comp(i), s"row $i: ${rows(i)}")
    }
  }

  test("licenseClass: copyleft precedence, tag families, null/none edges (d111)") {
    def cls(t: String): String =
      Seq(Option(t)).toDF("t").select(TextOps.licenseClass(col("t"))).head().getString(0)
    // copyleft beats permissive no matter the stamp order
    assert(cls("SPDX-License-Identifier: MIT\nGNU General Public License") == "copyleft")
    assert(cls("Licensed under the Apache License\nSPDX-License-Identifier: LGPL-2.1") == "copyleft")
    assert(cls("GNU Lesser General Public License") == "copyleft")
    assert(cls("SPDX-License-Identifier: MPL-2.0") == "copyleft")
    assert(cls("SPDX-License-Identifier: BSD-3-Clause") == "permissive")
    assert(cls("Permission is hereby granted, free of charge") == "permissive")
    assert(cls("Creative Commons Attribution") == "cc")
    assert(cls("SPDX-License-Identifier: CC-BY-4.0") == "cc")
    // policy edges (r12 ADVICE): CC0 is a public-domain dedication →
    // permissive, not cc; BSD-4-Clause's advertising clause drops the
    // TAG out of permissive (other), but another permissive tag on the
    // same file still admits it
    assert(cls("SPDX-License-Identifier: CC0-1.0") == "permissive")
    assert(cls("SPDX-License-Identifier: BSD-4-Clause") == "other")
    assert(cls("SPDX-License-Identifier: BSD-4-Clause\nSPDX-License-Identifier: MIT") == "permissive")
    // a tag we don't classify is still a STATEMENT → 'other', not 'none'
    assert(cls("SPDX-License-Identifier: Artistic-2.0") == "other")
    assert(cls("no license here") == "none")
    assert(cls(null) == "none")
    // gate: permissive-only by default; widen explicitly
    val g = Seq("SPDX-License-Identifier: MIT", "plain").toDF("t")
      .select(TextOps.licenseGate(col("t")).as("a"),
        TextOps.licenseGate(col("t"), extraClasses = Seq("none")).as("b"))
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)))
    assert(g.toSeq == Seq((true, true), (false, true)))
  }

  // -- d109: TRUE WordPiece learning (likelihood argmax) -----------------

  /** Sequential reference for WordPiece learning: the textbook
    * single-threaded loop (Schuster & Nakajima 2012) — symbol freqs,
    * pair freqs, argmax freq(ab)/(freq(a)·freq(b)) with (score desc,
    * a, b) ties, left-to-right non-overlapping merge.
    */
  private def wordPieceRef(words: Seq[(String, Long)], rounds: Int)
      : Seq[(Int, String, String, Long, Long, Long)] = {
    var segs = words.map { case (w, c) => (w.split("").toSeq, c) }
    val out = Seq.newBuilder[(Int, String, String, Long, Long, Long)]
    var stop = false
    (1 to rounds).foreach { r => if (!stop) {
      val sym = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val pair = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      segs.foreach { case (ss, c) =>
        ss.foreach(s => sym(s) += c)
        ss.zip(ss.drop(1)).foreach(p => pair(p) += c)
      }
      if (pair.isEmpty) stop = true
      else {
        val best = pair.toSeq.map { case ((a, b), f) =>
          (a, b, f, sym(a), sym(b), f.toDouble / (sym(a).toDouble * sym(b).toDouble))
        }.minBy { case (a, b, _, _, _, sc) => (-sc, a, b) }
        out += ((r, best._1, best._2, best._3, best._4, best._5))
        val (a, b) = (best._1, best._2)
        segs = segs.map { case (ss, c) =>
          val acc = scala.collection.mutable.ArrayBuffer[String]()
          ss.foreach { s =>
            if (acc.nonEmpty && acc.last == a && s == b) { acc.remove(acc.length - 1); acc += (a + b) }
            else acc += s
          }
          (acc.toSeq, c)
        }
      }
    }}
    out.result()
  }

  test("learnWordPieceMerges == sequential reference, incl. a corpus where likelihood and raw frequency disagree") {
    // 'xy' appears 6 times but x and y are everywhere (score 6/(9·8));
    // 'qz' appears only 3 times but q,z appear ONLY together (score
    // 3/(3·3) = 1/3 — the maximum possible). BPE's frequency argmax
    // picks (x,y); WordPiece's likelihood argmax must pick (q,z).
    val corpus = Seq(("qz", 3L), ("xy", 6L), ("x", 3L), ("y", 2L))
    val df = Seq(corpus.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }
      .mkString(" ")).toDF("text") // one doc holding all words
    val got = CurationOps.learnWordPieceMerges(df, "text", numMerges = 3)
      .orderBy("rk").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val want = wordPieceRef(corpus, 3)
    assert(got == want, s"got=$got want=$want")
    // the disagreement is real: round 1's raw-frequency argmax differs
    val pairFreqs = {
      val sym = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val pair = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      corpus.foreach { case (w, c) =>
        val ss = w.split("").toSeq
        ss.foreach(s => sym(s) += c)
        ss.zip(ss.drop(1)).foreach(p => pair(p) += c)
      }
      pair
    }
    val bpePick = pairFreqs.toSeq.minBy { case ((a, b), f) => (-f, a, b) }._1
    assert((got.head._2, got.head._3) == ("q", "z"), s"likelihood argmax: ${got.head}")
    assert(bpePick == ("x", "y"), s"frequency argmax should differ: $bpePick")
  }

  test("d68 apply over a d109-learned vocab: learned pieces tokenize the corpus losslessly and actually fire") {
    import graft.functions.TokenizeExpressions
    // normalize whitespace to single spaces: the encoder's word split
    // and this test's reconstruction then agree exactly
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        regexp_replace(lower(col("text")), "\\s+", " ").as("text"))
    val merges = CurationOps.learnWordPieceMerges(docs, "text", numMerges = 8)
      .orderBy("rk").collect()
    assert(merges.length == 8)
    val learned = merges.map(r => r.getString(1) + r.getString(2)).toSeq
    // vocab = the learned multi-char pieces (word-initial and ##-
    // continuation forms) + full single-char closure over the corpus
    val chars = docs
      .select(explode(split(col("text"), "")).as("c"))
      .filter(length(col("c")) === 1).distinct()
      .collect().map(_.getString(0)).toSeq.filterNot(_ == " ")
    val vocab = (chars ++ chars.map("##" + _) ++
      learned ++ learned.map("##" + _)).distinct
    val enc = docs.select(col("text"),
      TokenizeExpressions.wordPieceEncode(col("text"), vocab,
        maxWordChars = 100000).as("p"))
      .collect()
    // lossless: strip ## and concat == input sans spaces; no [UNK]
    enc.foreach { r =>
      val txt = r.getString(0).split("\\s+").filter(_.nonEmpty).mkString("")
      val ps = r.getSeq[String](1)
      assert(!ps.contains("[UNK]"), s"UNK in: ${r.getString(0).take(60)}")
      assert(ps.map(_.stripPrefix("##")).mkString("") == txt,
        s"reconstruction failed for: ${r.getString(0).take(60)}")
    }
    // the learned pieces FIRE: at least one multi-char learned piece
    // appears in the encoded corpus (greedy longest-match uses it)
    val used = enc.iterator.flatMap(_.getSeq[String](1))
      .map(_.stripPrefix("##")).toSet
    assert(learned.exists(p => used.contains(p)),
      s"no learned piece used; learned=$learned")
  }
}
