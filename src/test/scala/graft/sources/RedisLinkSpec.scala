package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.net.FakeRedisServer

/** One connection identity from the options to every socket (redirect
  * targets and the cluster seed included), one SQL registration shared
  * by the extension and `GraftRedis.registerSql`, and one `redis-stream`
  * micro-batch for the single- and multi-stream selections.
  */
class RedisLinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new FakeRedisServer()
  private var port: Int = _

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    (1 to 10).foreach(i => server.putStreamEntry("lnk:s", s"5-$i", Seq("v" -> s"e$i")))
    port = server.start()
  }

  override def afterAll(): Unit = server.stop()

  /** A self-signed PKCS12 keystore made with the JDK's own keytool. */
  private def keystore(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-link-tls").toString
    val ks = s"$dir/server.p12"
    val gen = new ProcessBuilder("keytool", "-genkeypair", "-alias", "redis",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "2",
      "-dname", "CN=localhost", "-keystore", ks, "-storetype", "PKCS12",
      "-storepass", "changeit", "-keypass", "changeit")
      .redirectErrorStream(true).start()
    assert(gen.waitFor() == 0, "keytool failed")
    ks
  }

  test("a MOVED redirect keeps the read's TLS, trust-all and credential") {
    val ks = keystore()
    val nodeA = new FakeRedisServer(tlsKeystore = Some((ks, "changeit")))
    val nodeB = new FakeRedisServer(tlsKeystore = Some((ks, "changeit")))
    Seq(nodeA, nodeB).foreach(_.setRequirePass("linkpw"))
    (1 to 3).foreach { i =>
      nodeA.put(s"mv:$i", s"a$i")
      nodeB.put(s"mv:$i", s"b$i")
    }
    val portA = nodeA.start()
    val portB = nodeB.start()
    nodeA.setMoved("mv:", s"127.0.0.1:$portB")
    try {
      val got = spark.read.format("redis-kv")
        .option("host", "127.0.0.1").option("port", portA.toString)
        .option("tls", "true").option("tls.trustAll", "true")
        .option("password", "linkpw").option("pattern", "mv:*").load()
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // A lists the keys; their values come from B, over TLS with AUTH
      assert(got == (1 to 3).map(i => s"mv:$i" -> s"b$i").toMap, got)
    } finally { nodeA.stop(); nodeB.stop() }
  }

  test("partition.mode=cluster with resp=3: the seed's CLUSTER SLOTS connection sends HELLO 3 too") {
    val seed = new FakeRedisServer()
    val master = new FakeRedisServer()
    val seedPort = seed.start()
    val masterPort = master.start()
    try {
      (1 to 4).foreach(i => master.put(s"cs:$i", s"v$i"))
      // the seed owns no slots: the only connections it serves are the
      // planner's CLUSTER SLOTS
      val slotMap = Seq((0, 16383, "127.0.0.1", masterPort))
      seed.setClusterSlots(slotMap)
      master.setClusterSlots(slotMap)
      val keys = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", seedPort.toString)
        .option("partition.mode", "cluster").option("resp", "3")
        .option("pattern", "cs:*").load()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(keys == (1 to 4).map(i => s"cs:$i"))
      assert(seed.helloCalls >= 1, s"seed HELLO calls: ${seed.helloCalls}")
      assert(master.helloCalls >= 1, s"master HELLO calls: ${master.helloCalls}")
    } finally { seed.stop(); master.stop() }
  }

  /** Entry ids per micro-batch of a capped `redis-stream` read of "lnk:s"
    * selected by `selector` (`stream` or `streams`), and the source
    * offset its checkpoint holds for batch 0.
    */
  private def batches(selector: String, availableNow: Boolean): (Seq[Seq[String]], String) = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-link-ckpt").toString
    val seen = new java.util.concurrent.ConcurrentSkipListMap[Long, Seq[String]]()
    val w = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option(selector, "lnk:s").option("maxEntriesPerTrigger", "3")
      .load().select("entry_id")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, id: Long) =>
        seen.put(id, df.collect().map(_.getString(0)).sorted.toSeq); ()
      }
    val q = (if (availableNow) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()) else w).start()
    try {
      if (availableNow) assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
      else graft.StreamTestGuard.drain(q)
    } finally q.stop()
    val offset = scala.io.Source.fromFile(s"$ckpt/offsets/0")
    try (scala.jdk.CollectionConverters.CollectionHasAsScala(seen.values()).asScala.toSeq,
      offset.getLines().toSeq.last)
    finally offset.close()
  }

  test("stream=s and streams=s read the same entry ids per micro-batch; offsets stay bare-id vs JSON") {
    Seq(false, true).foreach { availableNow =>
      val (single, singleOffset) = batches("stream", availableNow)
      val (multi, multiOffset) = batches("streams", availableNow)
      assert(single == multi, s"availableNow=$availableNow: $single vs $multi")
      assert(single.count(_.nonEmpty) >= 3, single)
      assert(single.flatten.sorted == (1 to 10).map(i => s"5-$i").sorted)
      assert(singleOffset == "5-3", singleOffset)
      assert(multiOffset == """{"lnk:s":"5-3"}""", multiOffset)
    }
  }

  test("an extension-only session reads redis_kv and redis_stream after redis_connect with a credential; EXPLAIN hides it") {
    val authed = new FakeRedisServer()
    authed.setRequirePass("s3cretLinkPw")
    (1 to 3).foreach(i => authed.put(s"ek:$i", s"v$i"))
    authed.putStreamEntry("es", "1-1", Seq("f" -> "x"))
    authed.putStreamEntry("es", "1-2", Seq("f" -> "y"))
    val aport = authed.start()
    def redisTableFunctions(s: SparkSession): Set[String] =
      s.sessionState.tableFunctionRegistry.listFunction().map(_.funcName)
        .filter(_.startsWith("redis_")).toSet
    val plain = spark
    try {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val ext = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.GraftSparkExtensions()(_))
        .getOrCreate()
      assert(ext ne plain)
      graft.GraftRedis.connect(ext, s"127.0.0.1:$aport", "s3cretLinkPw")
      val kv = ext.sql("SELECT key, value FROM redis_kv('ek:*')").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(kv == (1 to 3).map(i => s"ek:$i" -> s"v$i").toMap, kv)
      val ids = ext.sql("SELECT entry_id FROM redis_stream('es')").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(ids == Seq("1-1", "1-2"), ids)
      val explain = ext.sql("EXPLAIN EXTENDED SELECT * FROM redis_kv('ek:*')")
        .collect().map(_.getString(0)).mkString("\n")
      assert(explain.contains("ek:*"), explain)
      assert(!explain.contains("s3cretLinkPw"), explain)

      // the same four Redis table functions as a registerSql session
      // built without the extension
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val registered = SparkSession.builder().master("local[4]").getOrCreate()
      assert(registered ne ext)
      assert(redisTableFunctions(registered).isEmpty)
      graft.GraftRedis.registerSql(registered)
      assert(redisTableFunctions(ext) ==
        Set("redis_scan", "redis_kv", "redis_hash", "redis_stream"))
      assert(redisTableFunctions(ext) == redisTableFunctions(registered))
    } finally {
      authed.stop()
      SparkSession.setDefaultSession(plain)
      SparkSession.setActiveSession(plain)
    }
  }
}
