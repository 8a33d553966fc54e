package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.net.FakeRedisServer

/** Redis Streams ingestion: micro-batches of a `redis-stream` read advance an at-rest ledger. */
class RedisStreamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new FakeRedisServer()
  private var port: Int = _

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = port = server.start()

  override def afterAll(): Unit = server.stop()

  test("end-to-end: Redis Streams ingestion feeds the stats ledger — per-microbatch advances equal one batch pass") {
    import org.apache.spark.sql.functions._
    import graft.net.RedisCommands
    // live pipeline shape: XADD events land in a Redis Stream, the
    // redis-stream source replays them exactly-once by entry id, and
    // each micro-batch folds into the at-rest stats ledger with the
    // micro-batch id as the exactly-once marker. Parity: the composed
    // at-rest state equals computing the stats over the whole stream
    // read back in one batch via XRANGE.
    val k = "ing:docs"
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try (1 to 6).foreach(i => RedisCommands.xadd(c, k, s"5-$i",
      Seq("src" -> (if (i % 2 == 0) "web" else "books"), "text" -> s"w$i " * i)))
    finally c.close()
    val path = java.nio.file.Files.createTempDirectory("graft-xing").toString + "/led"
    graft.operators.CurationOps.writeStatsLedger(
      spark.emptyDataFrame.select(lit("x").as("src"), lit("").as("text")).limit(0),
      "src", "text", path)
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).option("maxEntriesPerTrigger", "2")
      .load()
      .select(col("fields")("src").as("src"), col("fields")("text").as("text"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.operators.CurationOps.advanceStatsLedger(batch, "src", "text", path,
          batchId = Some(id.toString))
      }
      .start()
    try {
      graft.StreamTestGuard.drain(q)
      // more arrivals while the query runs: later micro-batches fold in
      val c2 = new graft.net.RedisConnection("127.0.0.1", port)
      try (7 to 8).foreach(i => RedisCommands.xadd(c2, k, s"6-$i",
        Seq("src" -> "web", "text" -> s"w$i late")))
      finally c2.close()
      graft.StreamTestGuard.drain(q)
    } finally q.stop()
    val atRest = graft.operators.LedgerGuard.readLedger(spark, path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val oneShot = spark.read.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).load()
      .select(col("fields")("src").as("src"), col("fields")("text").as("text"))
    val expect = graft.operators.CurationOps.corpusStats(oneShot, "src", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(atRest == expect && expect.nonEmpty, s"atRest=$atRest expect=$expect")
  }

  test("a batch streams.pattern read plans its partitions once per query: one SCAN walk per action") {
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try Seq("plan:a", "plan:b").foreach(k => (1 to 3).foreach(i =>
      graft.net.RedisCommands.xadd(c, k, s"1-$i", Seq("v" -> s"$k.$i"))))
    finally c.close()
    val df = spark.read.format("redis-stream").option("host", "127.0.0.1").option("port", port.toString)
      .option("streams.pattern", "plan:*").load()
    def walks(action: => Any): Int = { server.resetScanCalls(); action; server.scanCalls }
    assert(walks(assert(df.collect().length == 6)) == 1)
    assert(walks(assert(df.count() == 6)) == 1)
    assert(walks(assert(df.groupBy().count().head().getLong(0) == 6)) == 1)
  }
}
