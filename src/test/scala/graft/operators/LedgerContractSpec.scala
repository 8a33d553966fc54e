package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The at-rest ledger contract, one parametrised run over all 17
  * families ([[Ledger]]). Every family goes through the same four
  * checks:
  *  - a crash after each commit step of an advance, then a retry of the
  *    same batch, leaves the state of one clean application;
  *  - a retry of the last batch is a no-op (stored rows unchanged);
  *  - manifest mode (on a copy+delete-rename filesystem) ≡ plain mode;
  *  - incremental advances over random batch splits ≡ a from-scratch
  *    build.
  */
class LedgerContractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.hadoopConfiguration.set(
      "fs.nonatomic.impl", classOf[NonAtomicRenameFs].getName)
    s
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-contract").toString + "/led"

  private lazy val docs: DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .filter(col("doc_id") < 120)
    .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    .cache()

  private lazy val vecs: DataFrame = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .filter(col("vec_id") < 120).select(col("vec_id"), col("embedding"))
    .cache()

  private lazy val wavs: DataFrame = {
    import spark.implicits._
    (1L to 40L).map { id =>
      val m = id % 8
      (id, if (id % 16 >= 8) MultimodalOps.syntheticToneWavNear(m, 8000, 4096)
           else MultimodalOps.syntheticToneWav(m, 8000, 4096))
    }.toDF("id", "wav")
  }

  private lazy val payloads: DataFrame = docs.select(col("doc_id"),
    encode(col("text"), "UTF-8").as("bin"))

  private lazy val ivfModel =
    IvfPq.train(vecs, "embedding", kc = 4, m = 4, k = 8, iters = 2)

  /** Sorted string form of every stored row (duplicates kept). */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def stored(path: String): Seq[String] =
    rows(LedgerGuard.readLedger(spark, path))

  /** One family under test: how to build it from a corpus, advance it
    * by one batch under an exactly-once id, and observe it.
    *
    * `raw` is the stored multiset (a re-applied batch shows in it);
    * `view` is the family's observable state, which its probes answer
    * from (LSM duplicates collapsed). `scratch` builds the whole corpus
    * at once; `parts` lists the sub-stores manifest mode converts.
    */
  private case class Family(name: String, input: () => DataFrame, id: String,
      create: (DataFrame, String) => Unit,
      advance: (DataFrame, String, Option[String]) => Unit,
      raw: String => Seq[String] = p => stored(p),
      view: Option[String => Seq[String]] = None,
      scratch: Option[(DataFrame, String) => Unit] = None,
      parts: Seq[String] = Seq(""),
      append: Boolean = false) {
    def observe(p: String): Seq[String] = view.getOrElse(raw.andThen(_.distinct))(p)
    def build(all: DataFrame, p: String): Unit = scratch.getOrElse(create)(all, p)
  }

  private val families: Seq[Family] = Seq(
    Family("exact", () => docs, "doc_id",
      (d, p) => DedupOps.writeLedger(d, "doc_id", Seq("text"), p),
      // the digest ledger's ingest: dedup against the store, admit the rest
      (b, p, _) => DedupOps.appendToLedger(
        DedupOps.dedupAgainstLedger(b, "doc_id", Seq("text"), p),
        "doc_id", Seq("text"), p),
      // admitted digests (the admitting id of a digest seen in two
      // batches is the first batch's, by design)
      view = Some(p => rows(LedgerGuard.readLedger(spark, p)
        .select(col("digest")).distinct())),
      append = true),
    Family("signature", () => docs, "doc_id",
      (d, p) => DedupOps.writeSignatureLedger(d, "doc_id", "text", p),
      (b, p, id) => DedupOps.appendToSignatureLedger(b, "doc_id", "text", p,
        batchId = id),
      append = true),
    Family("cluster", () => docs, "doc_id",
      (d, p) => DedupOps.writeClusterLedger(d, "doc_id", "text", p),
      (b, p, id) => DedupOps.advanceClusterLedger(b, "doc_id", "text", p, id),
      raw = p => stored(p + "/asg"),
      view = Some(p => rows(DedupOps.readClusterAssignments(spark, p))),
      parts = Seq("/sig", "/asg", "/rmp")),
    Family("bloom", () => docs, "doc_id",
      (d, p) => DedupOps.writeBloomLedger(d, DedupOps.md5Hash32(col("text"), ""),
        "md5h32", 1000L, 0.01, p),
      (b, p, id) => DedupOps.advanceBloomLedger(b, DedupOps.md5Hash32(col("text"), ""),
        "md5h32", 1000L, 0.01, p, id)),
    Family("simhash", () => docs, "doc_id",
      (d, p) => DedupOps.writeSimHashLedger(d, "doc_id", "text", p),
      (b, p, id) => DedupOps.appendToSimHashLedger(b, "doc_id", "text", p,
        batchId = id),
      append = true),
    Family("span-hash", () => docs, "doc_id",
      (d, p) => DedupOps.writeSpanHashLedger(d, "doc_id", "text", 4, p),
      (b, p, id) => DedupOps.appendToSpanHashLedger(b, "doc_id", "text", 4, p, id),
      append = true),
    Family("bigram", () => docs, "doc_id",
      (d, p) => CurationOps.writeBigramLedger(d, "text", p),
      (b, p, id) => CurationOps.advanceBigramLedger(b, "text", p, batchId = id)),
    Family("stats", () => docs, "doc_id",
      (d, p) => CurationOps.writeStatsLedger(d, "source", "text", p),
      (b, p, id) => CurationOps.advanceStatsLedger(b, "source", "text", p, id)),
    Family("sketch", () => docs, "doc_id",
      (d, p) => CurationOps.writeSketchLedger(d, "source", col("text"), p),
      (b, p, id) => CurationOps.advanceSketchLedger(b, "source", col("text"), p,
        batchId = id),
      // sketch bytes depend on the union order; the estimates must not
      view = Some(p => rows(CurationOps.sketchEstimates(spark, p)))),
    Family("quantile", () => docs, "doc_id",
      (d, p) => CurationOps.writeQuantileLedger(d, "source", "n_chars", 4, p),
      (b, p, id) => CurationOps.advanceQuantileLedger(b, "source", "n_chars", 4,
        p, id)),
    Family("sample", () => docs, "doc_id",
      (d, p) => CurationOps.writeSampleLedger(d, "doc_id", "s1", 10, p),
      (b, p, id) => CurationOps.advanceSampleLedger(b, "doc_id", "s1", 10, p, id)),
    Family("vocab", () => docs, "doc_id",
      (d, p) => SketchOps.writeVocabLedger(d, "source", TextOps.tokens(col("text")), p),
      (b, p, id) => SketchOps.advanceVocabLedger(b, "source",
        TextOps.tokens(col("text")), p, batchId = id)),
    Family("kll", () => docs, "doc_id",
      (d, p) => KllSketch.writeKllLedger(d, "source", "n_chars", 16, p),
      (b, p, id) => KllSketch.advanceKllLedger(b, "source", "n_chars", 16, p, id),
      // retained items depend on the compaction sequence; count, min and
      // max per key are exact under any split
      view = Some(p => rows(LedgerGuard.readLedger(spark, p)
        .filter(col("kll_level") === -1 && col("kll_idx") < 3)))),
    Family("audio-fp", () => wavs, "id",
      (d, p) => MultimodalOps.writeAudioFpLedger(d, "id", "wav", p),
      (b, p, id) => MultimodalOps.appendToAudioFpLedger(b, "id", "wav", p, id),
      append = true),
    Family("frame", () => payloads, "doc_id",
      (d, p) => MultimodalOps.writeFrameLedger(d, "doc_id", "bin", 8, 2, p),
      (b, p, id) => MultimodalOps.appendToFrameLedger(b, "doc_id", "bin", 8, 2,
        p, id),
      append = true),
    Family("ivfpq-codes", () => vecs, "vec_id",
      (d, p) => IvfPq.writeIndex(d, "vec_id", "embedding", ivfModel, p),
      (b, p, id) => IvfPq.appendToIndex(b, "vec_id", "embedding", p, id),
      raw = p => stored(p + "/codes"),
      parts = Seq("/codes"), append = true),
    Family("bucketed-lsh", () => vecs, "vec_id",
      (d, p) => SimilarityOps.writeBucketedIndex(d, "vec_id", "embedding", 4, 64, p),
      (b, p, id) => SimilarityOps.appendToBucketedIndex(b, "vec_id", "embedding",
        4, 64, p, id),
      append = true))

  /** Rows of the family's corpus split into `n` batches by a seeded hash
    * of the id — a different random split per seed.
    */
  private def split(f: Family, n: Int, seed: Int): Seq[DataFrame] = {
    val in = f.input()
    (0 until n).map(i => in.filter(pmod(hash(col(f.id), lit(seed)), lit(n)) === i))
  }

  private def build(f: Family, p: String, batches: Seq[DataFrame]): Unit = {
    f.create(batches.head, p)
    batches.tail.zipWithIndex.foreach { case (b, i) => f.advance(b, p, Some(s"b$i")) }
  }

  private class Crash(step: String) extends RuntimeException(s"crash after $step")

  for (f <- families) {
    test(s"${f.name}: a crash after any commit step, then a retry, applies the batch once") {
      val Seq(b0, b1) = split(f, 2, 11)
      val ref = tmp()
      build(f, ref, Seq(b0, b1))
      val want = f.observe(ref)
      val steps = if (f.append) Seq("appended") else Seq("staged", "retired", "promoted")
      for (step <- steps) {
        val p = tmp()
        f.create(b0, p)
        var fired = false
        LedgerGuard.stepFailpoint = s =>
          if (s == step && !fired) { fired = true; throw new Crash(s) }
        try intercept[Crash](f.advance(b1, p, Some("b0")))
        finally LedgerGuard.stepFailpoint = _ => ()
        f.advance(b1, p, Some("b0")) // the retry
        assert(f.observe(p) == want, s"after a crash at '$step' and a retry")
      }
    }

    test(s"${f.name}: a retry of the last batch is a no-op") {
      val Seq(b0, b1, b2) = split(f, 3, 12)
      val p = tmp()
      build(f, p, Seq(b0, b1, b2))
      val before = f.raw(p)
      f.advance(b2, p, Some("b1")) // same id as the last advance
      assert(f.raw(p) == before)
    }

    test(s"${f.name}: manifest mode equals plain mode") {
      val batches = split(f, 3, 13)
      def cycle(p: String, manifested: Boolean): Seq[String] = {
        f.create(batches.head, p)
        if (manifested) f.parts.foreach(s => LedgerGuard.convertToManifested(spark, p + s))
        batches.tail.zipWithIndex.foreach { case (b, i) => f.advance(b, p, Some(s"b$i")) }
        f.observe(p)
      }
      val plain = cycle(tmp(), manifested = false)
      val mani = cycle("nonatomic://" + tmp(), manifested = true)
      assert(mani == plain && plain.nonEmpty)
    }

    test(s"${f.name}: incremental advances over random splits equal a from-scratch build") {
      val all = tmp()
      f.build(f.input(), all)
      val want = f.observe(all)
      for ((n, seed) <- Seq(3 -> 21, 4 -> 22)) {
        val p = tmp()
        build(f, p, split(f, n, seed))
        assert(f.observe(p) == want, s"split into $n batches, seed $seed")
      }
    }
  }

  test("last id only: a retry of the last batch is absorbed, an older batch re-applies") {
    import spark.implicits._
    val a = Seq(("s1", "a b"), ("s2", "c")).toDF("source", "text")
    val b = Seq(("s1", "d e f")).toDF("source", "text")
    val p = tmp()
    CurationOps.writeStatsLedger(Seq(("s3", "x")).toDF("source", "text"), "source", "text", p)
    def docsOf(src: String): Long = LedgerGuard.readLedger(spark, p)
      .filter(col("source") === src).select(col("n_docs")).as[Long].collect().sum
    CurationOps.advanceStatsLedger(a, "source", "text", p, Some("A"))
    CurationOps.advanceStatsLedger(b, "source", "text", p, Some("B"))
    assert((docsOf("s1"), docsOf("s2")) == ((2L, 1L)))
    CurationOps.advanceStatsLedger(b, "source", "text", p, Some("B")) // absorbed
    assert((docsOf("s1"), docsOf("s2")) == ((2L, 1L)))
    // the marker holds the LAST id only: replaying A after B applies A
    // again — the documented limit; schedulers that replay older
    // batches keep their own applied set
    CurationOps.advanceStatsLedger(a, "source", "text", p, Some("A"))
    assert((docsOf("s1"), docsOf("s2")) == ((3L, 2L)))
  }

  test("a side lane that throws StackOverflowError fails its caller within seconds") {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    // a lane started with a bare Future never completes on a fatal
    // error, so the caller would wait out this whole deadline
    spark.conf.set("spark.graft.concurrentLegTimeoutSec", "60")
    DedupOps.clusterCreateSigLaneFailpoint = () => throw new StackOverflowError("lane")
    try {
      val t0 = System.nanoTime()
      val e = intercept[Throwable](DedupOps.writeClusterLedger(docs, "doc_id", "text", tmp()))
      def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[StackOverflowError]), e.toString)
      assert((System.nanoTime() - t0) / 1e9 < 30, "the fatal lane failure must not wait for the deadline")
    } finally {
      DedupOps.clusterCreateSigLaneFailpoint = () => ()
      spark.conf.unset("spark.graft.concurrentLegTimeoutSec")
    }
  }

  test("a malformed lane deadline fails loudly naming the key and the value") {
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    spark.conf.set("spark.graft.concurrentLegTimeoutSec", "90s")
    try {
      val e = intercept[IllegalArgumentException](graft.queries.Qf.concurrently(() => ()))
      assert(e.getMessage.contains("spark.graft.concurrentLegTimeoutSec") &&
        e.getMessage.contains("'90s'"), e.getMessage)
    } finally spark.conf.unset("spark.graft.concurrentLegTimeoutSec")
  }
}
