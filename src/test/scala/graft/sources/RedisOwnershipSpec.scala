package graft.sources

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RedduckFunctions
import graft.net.{FakeRedisServer, RedisCommands, RedisConnection}

/** Every Redis connection has one owner that closes it: after each read,
  * lookup or stream below, run over several partitions, the servers'
  * open-connection counts return to where they were. And
  * `withHashFields` batches its HGETALLs without changing a result.
  */
class RedisOwnershipSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `n` started servers, filled by `seed`, then handed to `body` and stopped. */
  private def withServers[T](n: Int)(seed: Seq[FakeRedisServer] => Unit)(
      body: Seq[FakeRedisServer] => T): T = {
    val servers = Seq.fill(n)(new FakeRedisServer())
    servers.foreach(_.start())
    try { seed(servers); body(servers) } finally servers.foreach(_.stop())
  }

  /** Runs `body`, then waits up to 10 s for every server's count of open
    * connections to return to what it was before.
    */
  private def closesAll[T](servers: FakeRedisServer*)(body: => T): T = {
    val before = servers.map(_.openConnections)
    val out = body
    val deadline = System.nanoTime() + 10000000000L
    while (servers.map(_.openConnections) != before && System.nanoTime() < deadline) Thread.sleep(20)
    assert(servers.map(_.openConnections) == before, "a connection outlived its owner")
    out
  }

  private def port(s: FakeRedisServer): Int = s.start() // started: answers its port

  /** `keys` as a one-column DataFrame of `parts` partitions. */
  private def keyFrame(keys: Seq[String], parts: Int = 3): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(keys.map(Row(_)), parts),
      StructType(Seq(StructField("key", StringType))))

  test("withRedisValues over 3 partitions closes every connection it opens") {
    withServers(1)(s => (0 until 30).foreach(i => s.head.put(s"o:$i", s"v$i"))) { case Seq(s) =>
      val keys = (0 until 36).map(i => if (i % 7 == 3) null else s"o:$i")
      val got = closesAll(s) {
        RedduckFunctions.withRedisValues(keyFrame(keys), "key", batchSize = 5,
          hostPort = Some("127.0.0.1" -> port(s))).collect().map(r => (r.getString(0), r.getString(1)))
      }
      assert(got.toSeq == keys.map(k => (k, if (k == null || k.drop(2).toInt >= 30) null else "v" + k.drop(2))))
    }
  }

  test("withHashFields over 3 partitions closes every connection it opens") {
    withServers(1)(s => (0 until 30).foreach(i => s.head.putHash(s"oh:$i", Map("f" -> s"$i")))) { case Seq(s) =>
      val keys = (0 until 36).map(i => if (i % 7 == 3) null else s"oh:$i")
      val got = closesAll(s) {
        RedduckFunctions.withHashFields(keyFrame(keys), "key", hostPort = Some("127.0.0.1" -> port(s)))
          .collect().map(r => (r.getString(0), Option(r.getMap[String, String](1)).map(_.toMap).orNull))
      }
      assert(got.toSeq == keys.map(k => (k,
        if (k == null) null else if (k.drop(3).toInt >= 30) Map.empty else Map("f" -> k.drop(3)))))
    }
  }

  test("redis_get and redis_hgetall in SQL close their connections, in tasks and on the driver") {
    withServers(1) { s =>
      (0 until 12).foreach { i => s.head.put(s"o:$i", s"v$i"); s.head.putHash(s"oh:$i", Map("f" -> s"$i")) }
    } { case Seq(s) =>
      graft.GraftRedis.connect(spark, s"127.0.0.1:${port(s)}")
      graft.GraftRedis.registerSql(spark)
      val got = closesAll(s) {
        spark.range(0, 12, 1, 3)
          .selectExpr("redis_get(concat('o:', id))", "redis_hgetall(concat('oh:', id))")
          .collect().map(r => (r.getString(0), r.getMap[String, String](1).toMap))
      }
      assert(got.toSeq == (0 until 12).map(i => (s"v$i", Map("f" -> s"$i"))))
      // constant-folded on the driver: the call opens and closes its own
      assert(closesAll(s)(spark.sql("SELECT redis_get('o:4')").head().getString(0)) == "v4")
    }
  }

  test("a redis-kv scan under MOVED closes its redirect targets with its readers") {
    withServers(2) { case Seq(a, b) =>
      (0 until 20).foreach { i => a.put(s"mv:${"ab"(i % 2)}$i", "stale"); b.put(s"mv:${"ab"(i % 2)}$i", s"b$i") }
      a.setMoved("mv:", s"127.0.0.1:${port(b)}")
    } { case Seq(a, b) =>
      val got = closesAll(a, b) {
        spark.read.format("redis-kv").option("host", "127.0.0.1").option("port", port(a).toString)
          .option("partition.patterns", "mv:a*,mv:b*").option("scan.count", "4").load()
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      }
      assert(got == (0 until 20).map(i => s"mv:${"ab"(i % 2)}$i" -> s"b$i").toMap)
    }
  }

  test("a redis-hash scan under ASK closes its redirect targets with its readers") {
    withServers(2) { case Seq(a, b) =>
      (0 until 20).foreach { i =>
        a.putHash(s"ak:${"ab"(i % 2)}$i", Map("f" -> "stale"))
        b.putHash(s"ak:${"ab"(i % 2)}$i", Map("f" -> s"b$i"))
      }
      a.setAsk("ak:", s"127.0.0.1:${port(b)}")
      b.setImporting("ak:", s"127.0.0.1:${port(a)}")
    } { case Seq(a, b) =>
      val got = closesAll(a, b) {
        spark.read.format("redis-hash").option("host", "127.0.0.1").option("port", port(a).toString)
          .option("partition.patterns", "ak:a*,ak:b*").option("scan.count", "4").load()
          .collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
      }
      assert(got == (0 until 20).map(i => s"ak:${"ab"(i % 2)}$i" -> Map("f" -> s"b$i")).toMap)
    }
  }

  private def seedStreams(s: FakeRedisServer): Unit =
    Seq("os1", "os2").foreach(k => (1 to 5).foreach(i => s.putStreamEntry(k, s"1-$i", Seq("v" -> s"$k.$i"))))

  test("a batch redis-stream read over two streams closes every connection it opens") {
    withServers(1)(s => seedStreams(s.head)) { case Seq(s) =>
      val got = closesAll(s) {
        spark.read.format("redis-stream").option("host", "127.0.0.1").option("port", port(s).toString)
          .option("streams", "os1,os2").load().collect().map(r => (r.getString(0), r.getString(1)))
      }
      assert(got.toSeq.sorted == Seq("os1", "os2").flatMap(k => (1 to 5).map(i => (k, s"1-$i"))))
    }
  }

  test("a stopped redis-stream micro-batch query has closed its driver and reader connections") {
    withServers(1)(s => seedStreams(s.head)) { case Seq(s) =>
      closesAll(s) {
        val q = spark.readStream.format("redis-stream").option("host", "127.0.0.1")
          .option("port", port(s).toString).option("streams", "os1,os2").option("maxEntriesPerTrigger", "4")
          .load().writeStream.format("memory").queryName("owned_streams").start()
        try graft.StreamTestGuard.drain(q) finally q.stop()
        assert(spark.table("owned_streams").count() == 10)
      }
    }
  }

  test("withHashFields equals per-key HGETALL over random hashes, missing keys and NULL keys; WRONGTYPE fails the query") {
    val rnd = new Random(17)
    withServers(1) { case Seq(s) =>
      (0 until 1200).foreach { i =>
        if (rnd.nextInt(5) > 0) s.putHash(s"rh:$i",
          (0 until rnd.nextInt(12)).map(f => s"f${rnd.nextInt(40)}" -> rnd.alphanumeric.take(rnd.nextInt(30)).mkString).toMap)
      }
      s.put("rh:str", "a string")
    } { case Seq(s) =>
      val keys = (0 until 1300).map(i => if (rnd.nextInt(9) == 0) null else s"rh:${rnd.nextInt(1400)}")
      val got = RedduckFunctions.withHashFields(keyFrame(keys, parts = 4), "key",
        hostPort = Some("127.0.0.1" -> port(s))).collect()
        .map(r => (r.getString(0), Option(r.getMap[String, String](1)).map(_.toMap).orNull))
      val c = new RedisConnection("127.0.0.1", port(s))
      val expected = try keys.map(k => (k, if (k == null) null else RedisCommands.hgetall(c, k))) finally c.close()
      assert(expected.count(e => e._2 != null && e._2.nonEmpty) > 600)
      assert(got.toSeq == expected)

      val e = intercept[Exception](RedduckFunctions.withHashFields(keyFrame(Seq("rh:1", "rh:str", "rh:2")), "key",
        hostPort = Some("127.0.0.1" -> port(s))).collect())
      def chain(t: Throwable): String = if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
      assert(chain(e).contains("HGETALL error: WRONGTYPE"), chain(e))
    }
  }
}
