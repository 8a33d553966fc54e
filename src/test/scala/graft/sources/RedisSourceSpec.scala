package graft.sources

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.net.FakeRedisServer

/** DSv2 source parity tests — the reference's scan.test golden assertions
  * (/root/reference/test/sql/scan.test:19-29) plus pushdown and
  * partition-sharding behavior it has no analog for.
  */
class RedisSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new FakeRedisServer()
  private var port: Int = _

  /** Flatten an exception's cause chain into one searchable string. */
  private def chain(t: Throwable): String =
    if (t == null) "" else t.getMessage + " | " + chain(t.getCause)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    (1 to 10).foreach(i => server.put(f"testkey:$i%04d", s"value$i"))
    server.put("binpat:a_b", "underscore")
    server.put("binpat:axb", "x-variant")
    server.putHash("hash:1", Map("a" -> "1", "b" -> "x"))
    server.putHash("hash:2", Map("a" -> "2"))
    port = server.start()
  }

  test("redis_connect validates host:port and fails fast on unreachable targets") {
    // malformed target strings are rejected before any I/O
    // (reference: SetAddressScalarFun validation, redduck_extension.cpp:54-119)
    intercept[IllegalArgumentException] {
      graft.GraftRedis.connect(spark, "no-port-here")
    }
    intercept[IllegalArgumentException] {
      graft.GraftRedis.connect(spark, "host:")
    }
    intercept[IllegalArgumentException] {
      graft.GraftRedis.connect(spark, "host:not-a-number")
    }
    // eager PING: an unreachable target fails at connect time, not first query
    intercept[Exception] {
      graft.GraftRedis.connect(spark, "127.0.0.1:1") // nothing listens on 1
    }
    // a failed connect must not clobber a previously working target
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    assert(graft.functions.RedduckFunctions.target(spark) == ("127.0.0.1", port))
  }

  test("redis-hash source reads hashes as (key, fields map)") {
    val rows = spark.read.format("redis-hash")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "hash:*").load()
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(rows == Map(
      "hash:1" -> Map("a" -> "1", "b" -> "x"),
      "hash:2" -> Map("a" -> "2")))
  }

  test("scan.type pushes SCAN ... TYPE t server-side: non-matching types never cross the wire") {
    // the fixture keyspace is MIXED: strings (testkey:*, binpat:*),
    // hashes (hash:*) — a `mixed:` prefix shared by BOTH types proves
    // the filter is by TYPE, not by pattern
    server.put("mixed:s1", "a-string")
    server.putHash("mixed:h1", Map("f" -> "v"))
    try {
      val keys = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", port)
        .option("pattern", "mixed:*").option("scan.type", "hash").load()
        .collect().map(_.getString(0)).toSeq
      assert(keys == Seq("mixed:h1"), s"TYPE hash should exclude mixed:s1, got $keys")
      // command-level assertion: the filter ran ON THE SERVER — the last
      // SCAN carried a literal TYPE argument (not a client-side filter)
      val args = server.lastScanArgs.map(_.toUpperCase)
      val ti = args.indexOf("TYPE")
      assert(ti > 0 && args.lift(ti + 1).contains("HASH"),
        s"expected SCAN ... TYPE hash on the wire, got ${server.lastScanArgs}")
      // the hash source composes: scan.type=hash keeps the string key out
      // of the HGETALL batch entirely
      val hashRows = spark.read.format("redis-hash")
        .option("host", "127.0.0.1").option("port", port)
        .option("pattern", "mixed:*").option("scan.type", "hash").load()
        .collect().map(_.getString(0)).toSeq
      assert(hashRows == Seq("mixed:h1"))
      // invalid type name fails at option-parse time, naming the values
      val e = intercept[IllegalArgumentException] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", port)
          .option("scan.type", "hashes").load().collect()
      }
      assert(chain(e).contains("scan.type"))
    } finally {
      // remove the mixed keys so the pattern-only suites stay untouched
      val conn = new graft.net.RedisConnection("127.0.0.1", port)
      try conn.command("DEL", "mixed:s1", "mixed:h1") finally conn.close()
    }
  }

  test("redis-hash WHERE on key pushes a MATCH glob like the other sources") {
    val df = spark.read.format("redis-hash")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "*").load()
      .filter(org.apache.spark.sql.functions.col("key").startsWith("hash:"))
    val leaf = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaf.contains("hash:"), s"expected pushed glob in hash scan:\n$leaf")
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("hash:1", "hash:2"))
  }

  test("partition.mode=cluster: one partition per master, disjoint union = keyspace") {
    // two masters, each owning half the slots — and therefore half the
    // keys (a real cluster node's SCAN only walks the keys it owns; the
    // fakes model that by simply holding disjoint key sets)
    val nodeA = new FakeRedisServer()
    val nodeB = new FakeRedisServer()
    val portA = nodeA.start()
    val portB = nodeB.start()
    try {
      (0 until 10).foreach { i =>
        val owner = if (i % 2 == 0) nodeA else nodeB
        owner.put(f"ck:$i%02d", s"v$i")
      }
      // both nodes answer the SAME (MOVED-consistent) slot map
      val slotMap = Seq((0, 8191, "127.0.0.1", portA), (8192, 16383, "127.0.0.1", portB))
      nodeA.setClusterSlots(slotMap)
      nodeB.setClusterSlots(slotMap)

      val df = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", portA)
        .option("partition.mode", "cluster")
        .option("pattern", "ck:*").load()
      assert(df.rdd.getNumPartitions == 2, "one input partition per master node")
      val keys = df.collect().map(_.getString(0)).toSeq
      assert(keys.size == keys.distinct.size, "per-node scans must be disjoint")
      assert(keys.sorted == (0 until 10).map(i => f"ck:$i%02d"),
        "union of per-node scans must equal the keyspace")

      // kv mode plans through the same seam (values come from each node)
      val kv = spark.read.format("redis-kv")
        .option("host", "127.0.0.1").option("port", portB) // any seed node works
        .option("partition.mode", "cluster")
        .option("pattern", "ck:*").load()
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(kv == (0 until 10).map(i => f"ck:$i%02d" -> s"v$i").toMap)
    } finally { nodeA.stop(); nodeB.stop() }
  }

  test("partition.mode=cluster: a mid-scan reshard fails loudly naming the moved slots — never a silently short result") {
    val nodeA = new FakeRedisServer()
    val nodeB = new FakeRedisServer()
    val portA = nodeA.start()
    val portB = nodeB.start()
    try {
      (0 until 12).foreach { i =>
        (if (i % 2 == 0) nodeA else nodeB).put(f"rk:$i%02d", s"v$i")
      }
      val before = Seq((0, 8191, "127.0.0.1", portA), (8192, 16383, "127.0.0.1", portB))
      nodeA.setClusterSlots(before)
      nodeB.setClusterSlots(before)
      // after the 2nd SCAN round trip on node A, half of A's slots
      // migrate to B (one-shot toggle) — the cursor is mid-walk
      val after = Seq((0, 4095, "127.0.0.1", portA), (4096, 16383, "127.0.0.1", portB))
      nodeA.setReshardAfterScans(2, after)
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", portA)
          .option("partition.mode", "cluster")
          .option("scan.count", "2") // force a multi-page cursor
          .option("pattern", "rk:*").load()
          .collect()
      }
      val msg = chain(e)
      assert(msg.contains("cluster reshard during scan"), msg)
      assert(msg.contains("[4096,8191]"), msg) // names the moved range
      assert(msg.contains(s":$portB"), msg) // ...and its new owner
      // an UNCHANGED map sails through the same guard (no false alarms)
      nodeA.setClusterSlots(after)
      nodeB.setClusterSlots(after)
      val keys = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", portA)
        .option("partition.mode", "cluster")
        .option("scan.count", "2")
        .option("pattern", "rk:*").load()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(keys == (0 until 12).map(i => f"rk:$i%02d"))
    } finally { nodeA.stop(); nodeB.stop() }
  }

  test("partition.mode=cluster: a pushed LIMIT satisfied early skips the reshard guard (any-n answer cannot be incomplete)") {
    val nodeA = new FakeRedisServer()
    val nodeB = new FakeRedisServer()
    val portA = nodeA.start()
    val portB = nodeB.start()
    try {
      (0 until 12).foreach { i =>
        (if (i % 2 == 0) nodeA else nodeB).put(f"lk:$i%02d", s"v$i")
      }
      val before = Seq((0, 8191, "127.0.0.1", portA), (8192, 16383, "127.0.0.1", portB))
      nodeA.setClusterSlots(before)
      nodeB.setClusterSlots(before)
      val after = Seq((0, 4095, "127.0.0.1", portA), (4096, 16383, "127.0.0.1", portB))
      nodeA.setReshardAfterScans(1, after)
      // LIMIT-without-ORDER: any 4 matching keys are a complete answer,
      // so the early-stopped cursor must NOT pay (or fail) the guard
      val got = spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", portA)
        .option("partition.mode", "cluster")
        .option("scan.count", "2")
        .option("pattern", "lk:*").load()
        .limit(4).collect()
      assert(got.length == 4, s"got ${got.length}")
    } finally { nodeA.stop(); nodeB.stop() }
  }

  test("redis-stream sink renders EXTERNAL value forms (date/timestamp/binary) and fails loudly on unsupported types and empty rows") {
    import spark.implicits._
    val k = "xsink:types"
    val df = spark.sql(
      """SELECT 42 AS n, DATE'2026-08-15' AS d,
        |  TIMESTAMP'2026-08-15 12:30:00 UTC' AS ts,
        |  CAST('hi' AS BINARY) AS b, 2.5D AS x""".stripMargin)
    df.write.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).mode("append").save()
    val f = spark.read.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).load()
      .selectExpr("fields['n']", "fields['d']", "fields['ts']", "fields['b']", "fields['x']")
      .head()
    assert(f.getString(0) == "42")
    assert(f.getString(1) == "2026-08-15", f.getString(1)) // ISO date, not epoch days
    assert(f.getString(2).startsWith("2026-08-15T12:30:00"), f.getString(2)) // UTC instant, not micros
    assert(new String(java.util.Base64.getDecoder.decode(f.getString(3))) == "hi")
    assert(f.getString(4) == "2.5")
    // unsupported column type: loud, names the column
    val bad = intercept[Exception] {
      Seq((1, Seq(1, 2))).toDF("n", "arr").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).mode("append").save()
    }
    assert(chain(bad).contains("unsupported type"), chain(bad))
    // all-NULL row: loud, never silently dropped
    val empt = intercept[Exception] {
      Seq(Option.empty[String]).toDF("v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).mode("append").save()
    }
    assert(chain(empt).contains("no representable fields"), chain(empt))
  }

  test("partition.mode=cluster rejects gapped slot maps and option conflicts") {
    val node = new FakeRedisServer()
    val p = node.start()
    try {
      node.put("gk:1", "v")
      // gap: 100..199 unowned — a scan would silently drop those slots' keys
      node.setClusterSlots(Seq((0, 99, "127.0.0.1", p), (200, 16383, "127.0.0.1", p)))
      val e = intercept[Exception] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", p)
          .option("partition.mode", "cluster").option("pattern", "gk:*").load()
          .collect()
      }
      assert(e.getMessage != null)
      // cluster mode + pattern-sharding options is ambiguous → reject
      intercept[Exception] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", p)
          .option("partition.mode", "cluster").option("partition.slots", "4")
          .option("pattern", "gk:*").load().collect()
      }
    } finally node.stop()
  }

  override def afterAll(): Unit = server.stop()

  private def scan(pattern: String) = spark.read.format("redis-scan")
    .option("host", "127.0.0.1").option("port", port)
    .option("pattern", pattern).load()

  test("scan.test:19-22 — COUNT(*) over redis_scan('testkey:*') = 10") {
    assert(scan("testkey:*").count() == 10L)
  }

  test("scan.test:24-29 — ORDER BY key_name LIMIT 3") {
    val rows = scan("testkey:*").orderBy("key_name").limit(3)
      .collect().map(_.getString(0)).toSeq
    assert(rows == Seq("testkey:0001", "testkey:0002", "testkey:0003"))
  }

  test("key scans AND kv scans read columnar (ColumnarToRow above the scan); pushed-topN keeps rows") {
    val df = scan("testkey:*")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected columnar scan handoff:\n$plan")
    assert(df.count() == 10L)
    // kv mode reads columnar too (r17): page keys + one pipelined MGET
    // per page land as (key, value) vectors, missing keys as nulls
    val kv = spark.read.format("redis-kv")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").load()
    val kvPlan = kv.queryExecution.executedPlan.toString
    assert(kvPlan.contains("ColumnarToRow"),
      s"expected columnar kv handoff:\n$kvPlan")
    val got = kv.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 10 && got("testkey:0001") == "value1", got.toString)
    // the pushed ORDER BY key LIMIT path carries bounded-heap state
    // across pages — it must still plan the row reader
    val topPlan = scan("testkey:*").orderBy("key_name").limit(3)
      .queryExecution.executedPlan.toString
    assert(!topPlan.contains("ColumnarToRow"), topPlan)
  }

  test("small scan.count forces multi-page cursor with identical results") {
    val keys = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").option("scan.count", "2").load()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys == (1 to 10).map(i => f"testkey:$i%04d"))
  }

  test("WHERE startsWith pushes a MATCH glob into the scan") {
    val df = scan("*").filter(org.apache.spark.sql.functions.col("key_name").startsWith("binpat:"))
    val planned = df.queryExecution.executedPlan.toString
    assert(planned.contains("PushedFilters") || planned.contains("RedisScan"),
      s"expected scan node in plan:\n$planned")
    // semantics: only the matching keys come back
    assert(df.collect().map(_.getString(0)).sorted.toSeq == Seq("binpat:a_b", "binpat:axb"))
    // and the pushed glob actually narrowed the scan to one pattern
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("binpat:"), s"expected pushed pattern in scan:\n$scanDesc")
  }

  test("equality filter matches glob-metacharacter keys literally") {
    // binpat:a_b contains '_' (glob-significant in the reference's broken
    // SqlToResp); an EqualTo must escape it and match exactly one key
    val df = scan("*").filter(org.apache.spark.sql.functions.col("key_name") === "binpat:a_b")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("binpat:a_b"))
  }

  test("redis-kv returns values via pipelined MGET") {
    val rows = spark.read.format("redis-kv")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").load()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows == (1 to 10).map(i => f"testkey:$i%04d" -> s"value$i").toMap)
  }

  test("GraftRedis facade: connect + scan + kv + SQL registration") {
    val status = graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    assert(status == s"Redis Target Set: 127.0.0.1:$port")
    assert(graft.GraftRedis.scan(spark, "testkey:*").count() == 10L)
    val kv = graft.GraftRedis.kv(spark, "testkey:*").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kv("testkey:0005") == "value5")
    graft.GraftRedis.registerSql(spark)
    assert(spark.sql("SELECT redis_get('testkey:0002') AS v").head().getString(0) == "value2")
    assert(spark.sql("SELECT redduck('x') AS v").head().getString(0) == "Redduck x 🐥")
  }

  test("pushed LIMIT stops the SCAN cursor early (fewer round trips)") {
    val base = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").option("scan.count", "2")
    // full drain: 12 keys at COUNT 2 → 6 SCAN round trips
    server.resetScanCalls()
    assert(base.load().collect().length == 10)
    val fullTrips = server.scanCalls
    assert(fullTrips >= 6, s"expected ≥6 full-drain trips, got $fullTrips")
    // LIMIT 3: cursor stops once 3 keys matched
    server.resetScanCalls()
    val limited = base.load().limit(3)
    val leaf = limited.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaf.contains("limit=3"), s"expected pushed limit in scan:\n$leaf")
    assert(limited.collect().length == 3)
    assert(server.scanCalls < fullTrips,
      s"pushed limit did not cut round trips: ${server.scanCalls} vs $fullTrips")
  }

  test("pushed ORDER BY + LIMIT keeps an n-element heap per partition") {
    val df = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").load()
      .orderBy("key_name").limit(3)
    val leaf = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(leaf.contains("topN=3 ASC"), s"expected pushed topN in scan:\n$leaf")
    assert(df.collect().map(_.getString(0)).toSeq ==
      Seq("testkey:0001", "testkey:0002", "testkey:0003"))
    // descending too
    val desc = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "testkey:*").load()
      .orderBy(org.apache.spark.sql.functions.col("key_name").desc).limit(2)
    assert(desc.collect().map(_.getString(0)).toSeq == Seq("testkey:0010", "testkey:0009"))
  }

  test("pushed TopN heap selects in UTF8 binary order (Spark StringType), not UTF-16") {
    // U+1F600 (surrogate pair D83D DE00) sorts BEFORE U+FFFF in UTF-16
    // code-unit order but AFTER it in UTF-8 binary order — Spark sorts
    // StringType in binary order, and keys the heap drops are gone before
    // Spark's re-sort, so a UTF-16 heap would silently return the wrong key
    val bmpMax = "uni:" + "\uFFFF"
    val emoji = "uni:" + new String(Character.toChars(0x1F600))
    server.put(bmpMax, "bmp-max")
    server.put(emoji, "emoji")
    def scan() = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "uni:*").load()
    assert(scan().orderBy("key_name").limit(1)
      .collect().map(_.getString(0)).toSeq == Seq(bmpMax))
    assert(scan().orderBy(org.apache.spark.sql.functions.col("key_name").desc).limit(1)
      .collect().map(_.getString(0)).toSeq == Seq(emoji))
  }

  test("scan.test verbatim SQL: table-valued redis_scan in FROM") {
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    graft.GraftRedis.registerSql(spark)
    // test/sql/scan.test:19-22
    assert(spark.sql("SELECT COUNT(*) FROM redis_scan('testkey:*')").head().getLong(0) == 10L)
    // test/sql/scan.test:24-29
    val top3 = spark.sql("SELECT key_name FROM redis_scan('testkey:*') ORDER BY key_name LIMIT 3")
      .collect().map(_.getString(0)).toSeq
    assert(top3 == Seq("testkey:0001", "testkey:0002", "testkey:0003"))
    // kv TVF joins + projects like any relation
    val v = spark.sql(
      "SELECT value FROM redis_kv('testkey:*') WHERE key = 'testkey:0007'")
      .head().getString(0)
    assert(v == "value7")
    // non-literal argument is rejected with a clear message
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM redis_scan(key_name)").collect()
    }
    assert(err.getMessage != null)
  }

  test("partition.patterns shards the keyspace into one partition each") {
    val df = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("partition.patterns", "testkey:000*, testkey:001*, binpat:*").load()
    assert(df.rdd.getNumPartitions == 3)
    val keys = df.collect().map(_.getString(0)).sorted.toSeq
    assert(keys == ((1 to 10).map(i => f"testkey:$i%04d") ++ Seq("binpat:a_b", "binpat:axb")).sorted)
  }

  test("partition.slots shards into disjoint, exhaustive partitions") {
    // exercise every shard shape: alphanumeric suffixes, a non-alphabet
    // suffix (%), and a key equal to the bare prefix
    server.put("slot:", "bare-prefix")
    server.put("slot:%weird", "non-alnum")
    (0 until 26).foreach(i => server.put(s"slot:${('a' + i).toChar}$i", s"v$i"))
    val df = spark.read.format("redis-scan")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "slot:*").option("partition.slots", "4").load()
    assert(df.rdd.getNumPartitions == 4)
    val perPartition = df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      rows.map(r => pid -> r.getString(0))
    }.collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val all = perPartition.values.flatten.toSeq
    // exhaustive: every key seen exactly once across partitions
    assert(all.size == all.toSet.size, "a key appeared in two shards")
    assert(all.toSet == ((0 until 26).map(i => s"slot:${('a' + i).toChar}$i").toSet
      + "slot:" + "slot:%weird"))
    // disjoint by construction AND actually spread over >1 partition
    assert(perPartition.count(_._2.nonEmpty) >= 3, s"degenerate sharding: $perPartition")
    // bare prefix + non-alphabet suffix land in the complement shard (last)
    assert(perPartition(3).contains("slot:") && perPartition(3).contains("slot:%weird"))
  }

  test("redis-kv write path: pipelined SET round-trips through the read path") {
    import spark.implicits._
    val df = (1 to 300).map(i => (f"written:$i%04d", s"wv$i")).toDF("key", "value")
    df.repartition(3).write.format("redis-kv")
      .option("host", "127.0.0.1").option("port", port)
      .option("scan.count", "64") // force multiple pipeline flushes per partition
      .mode("append").save()
    val back = spark.read.format("redis-kv")
      .option("host", "127.0.0.1").option("port", port)
      .option("pattern", "written:*").load()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back.size == 300)
    assert(back("written:0007") == "wv7" && back("written:0300") == "wv300")
    // scan source stays read-only
    val err = intercept[Exception] {
      df.write.format("redis-scan")
        .option("host", "127.0.0.1").option("port", port)
        .mode("append").save()
    }
    assert(err.getMessage != null)
  }

  test("legacyEmptyStringForMissingKey reproduces the reference's '' semantics") {
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    // default: missing key → SQL NULL
    spark.conf.set(graft.functions.RedduckFunctions.LegacyEmptyConf, "false")
    graft.GraftRedis.registerSql(spark)
    assert(spark.sql("SELECT redis_get('no:such:key') AS v").head().isNullAt(0))
    // legacy flag: missing key → "" like the reference's RedisClient
    spark.conf.set(graft.functions.RedduckFunctions.LegacyEmptyConf, "true")
    graft.GraftRedis.registerSql(spark)
    assert(spark.sql("SELECT redis_get('no:such:key') AS v").head().getString(0) == "")
    // batched form honors the same conf
    import spark.implicits._
    val keys = Seq("testkey:0001", "no:such:key").toDF("key")
    val vals = graft.functions.RedduckFunctions.withRedisValues(keys, "key",
      hostPort = Some(("127.0.0.1", port)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vals("testkey:0001") == "value1" && vals("no:such:key") == "")
    spark.conf.set(graft.functions.RedduckFunctions.LegacyEmptyConf, "false")
    graft.GraftRedis.registerSql(spark)
  }

  test("withRedisValues: NULL keys yield NULL unsent (also under the legacy flag); non-STRING keys fail at call time") {
    import spark.implicits._
    // batchSize 3: the second batch is all NULL, the others straddle it
    val keys = Seq[String]("testkey:0001", null, "no:such:key", null, null, null,
      "testkey:0002", null).toDF("key")
    def lookup(): Seq[(String, String)] =
      graft.functions.RedduckFunctions.withRedisValues(keys, "key", batchSize = 3,
        hostPort = Some(("127.0.0.1", port))).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(lookup() == Seq(("testkey:0001", "value1"), (null, null), ("no:such:key", null),
      (null, null), (null, null), (null, null), ("testkey:0002", "value2"), (null, null)))
    // NULL keys are never sent: an all-NULL input needs no server at all
    val closedPort = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    assert(graft.functions.RedduckFunctions.withRedisValues(Seq[String](null, null).toDF("key"), "key",
      hostPort = Some(("127.0.0.1", closedPort))).collect().forall(_.isNullAt(1)))
    spark.conf.set(graft.functions.RedduckFunctions.LegacyEmptyConf, "true")
    try assert(lookup().map(_._2) == Seq("value1", null, "", null, null, null, "value2", null))
    finally spark.conf.set(graft.functions.RedduckFunctions.LegacyEmptyConf, "false")

    val e = intercept[IllegalArgumentException] {
      graft.functions.RedduckFunctions.withRedisValues(Seq(1, 2).toDF("id"), "id",
        hostPort = Some(("127.0.0.1", port)))
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("INT"), e.getMessage)
  }

  test("AUTH: requirepass server rejects unauthenticated reads; .option(auth)/session conf authenticate; ACL 2-arg form; wrong password fails loudly") {
    val authServer = new FakeRedisServer()
    authServer.setRequirePass("s3cret")
    (1 to 5).foreach(i => authServer.put(s"ak:$i", s"v$i"))
    val aport = authServer.start()
    try {
      // no credentials → the server's NOAUTH surfaces loudly
      val noAuth = intercept[Exception] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", aport.toString)
          .option("pattern", "ak:*").load().count()
      }
      assert(noAuth.getMessage.contains("NOAUTH") ||
        Option(noAuth.getCause).exists(_.getMessage.contains("NOAUTH")),
        s"expected NOAUTH, got: ${noAuth.getMessage}")
      // wrong password fails at connect, naming AUTH (never silently)
      val badPw = intercept[Exception] {
        spark.read.format("redis-scan")
          .option("host", "127.0.0.1").option("port", aport.toString)
          .option("auth", "wrong").option("pattern", "ak:*").load().count()
      }
      assert(badPw.getMessage.contains("AUTH") ||
        Option(badPw.getCause).exists(_.getMessage.contains("AUTH")),
        s"expected AUTH failure, got: ${badPw.getMessage}")
      // correct password: scan + kv read + write path all authenticate
      def authed(fmt: String) = spark.read.format(fmt)
        .option("host", "127.0.0.1").option("port", aport.toString)
        .option("auth", "s3cret").option("pattern", "ak:*").load()
      assert(authed("redis-scan").count() == 5)
      assert(authed("redis-kv").collect().map(_.getString(1)).sorted.toSeq ==
        Seq("v1", "v2", "v3", "v4", "v5"))
      import spark.implicits._
      Seq(("ak:6", "v6")).toDF("key", "value").write.format("redis-kv")
        .option("host", "127.0.0.1").option("port", aport.toString)
        .option("auth", "s3cret").mode("append").save()
      assert(authed("redis-scan").count() == 6)
      // ACL 2-arg form ("user password", one space)
      authServer.setRequirePass("pw2", user = Some("svc"))
      assert(spark.read.format("redis-scan")
        .option("host", "127.0.0.1").option("port", aport.toString)
        .option("auth", "svc pw2").option("pattern", "ak:*").load().count() == 6)
      // session surface: connect(host:port, auth) persists the credential,
      // UDFs and TVF-style reads pick it up; the status string never
      // echoes the credential
      val status = graft.GraftRedis.connect(spark, s"127.0.0.1:$aport", "svc pw2")
      assert(status == s"Redis Target Set: 127.0.0.1:$aport" && !status.contains("pw2"))
      graft.GraftRedis.registerSql(spark)
      assert(spark.sql("SELECT redis_get('ak:1') AS v").head().getString(0) == "v1")
      assert(graft.GraftRedis.scan(spark, "ak:*").count() == 6)
    } finally {
      authServer.stop()
      spark.conf.unset(graft.functions.RedduckFunctions.AuthConf)
      graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
      graft.GraftRedis.registerSql(spark)
    }
  }

  test("TLS: rediss-style server serves scans over .option(tls); plain client and handshake failures are loud; AUTH composes") {
    // self-signed server keystore via the JDK's own keytool (offline)
    val dir = java.nio.file.Files.createTempDirectory("graft-tls").toString
    val ks = s"$dir/server.p12"
    val gen = new ProcessBuilder("keytool", "-genkeypair", "-alias", "redis",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "2",
      "-dname", "CN=localhost", "-keystore", ks, "-storetype", "PKCS12",
      "-storepass", "changeit", "-keypass", "changeit")
      .redirectErrorStream(true).start()
    assert(gen.waitFor() == 0, "keytool failed")
    val tlsServer = new FakeRedisServer(tlsKeystore = Some((ks, "changeit")))
    tlsServer.setRequirePass("tlspw")
    (1 to 4).foreach(i => tlsServer.put(s"tk:$i", s"v$i"))
    val tport = tlsServer.start()
    try {
      def reader(tls: Boolean, trustAll: Boolean, auth: Boolean) = {
        var r = spark.read.format("redis-kv")
          .option("host", "127.0.0.1").option("port", tport.toString)
          .option("pattern", "tk:*")
        if (tls) r = r.option("tls", "true")
        if (trustAll) r = r.option("tls.trustAll", "true")
        if (auth) r = r.option("auth", "tlspw")
        r.load()
      }
      // the full stack: TLS transport + AUTH + pipelined MGET values
      assert(reader(tls = true, trustAll = true, auth = true)
        .collect().map(_.getString(1)).sorted.toSeq == Seq("v1", "v2", "v3", "v4"))
      // a PLAIN client against a TLS server fails loudly (garbled RESP /
      // connection reset — never silent wrong data)
      intercept[Exception](reader(tls = false, trustAll = false, auth = true).count())
      // without trustAll the self-signed chain is rejected at handshake
      val bad = intercept[Exception](
        reader(tls = true, trustAll = false, auth = true).count())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.toString +: chain(t.getCause)
      assert(chain(bad).exists(m => m.contains("SSL") || m.contains("PKIX") ||
        m.contains("certificate")), chain(bad).mkString(" | "))
    } finally tlsServer.stop()
  }

  // -- Redis Streams (XADD/XRANGE/XLEN + the redis-stream source) ---------

  test("Streams command layer: XADD id rules, XRANGE inclusive/exclusive bounds, XLEN, last-id") {
    import graft.net.{RedisCommands, RedisConnection}
    val c = new RedisConnection("127.0.0.1", port)
    try {
      val k = "xcmd:s1"
      assert(RedisCommands.xlen(c, k) == 0) // missing stream = empty, like real Redis
      assert(RedisCommands.xadd(c, k, "5-1", Seq("a" -> "1")) == "5-1")
      assert(RedisCommands.xadd(c, k, "5-2", Seq("a" -> "2", "b" -> "x")) == "5-2")
      assert(RedisCommands.xadd(c, k, "7", Seq("a" -> "3")) == "7-0") // bare ms = ms-0
      assert(RedisCommands.xadd(c, k, "7-*", Seq("a" -> "4")) == "7-1") // ms-* = next seq
      // auto id is strictly greater than the top entry
      val auto = RedisCommands.xadd(c, k, "*", Seq("a" -> "5"))
      assert(RedisCommands.compareStreamIds(auto, "7-1") > 0, auto)
      // id ≤ top is the documented XADD error, loud
      val e = intercept[java.io.IOException](RedisCommands.xadd(c, k, "5-2", Seq("a" -> "x")))
      assert(e.getMessage.contains("equal or smaller"), e.getMessage)
      assert(RedisCommands.xlen(c, k) == 5)
      assert(RedisCommands.xlast(c, k).contains(auto))
      // inclusive full range, inclusive sub-range, exclusive start, COUNT
      assert(RedisCommands.xrange(c, k, "-", "+").map(_.id) ==
        Seq("5-1", "5-2", "7-0", "7-1", auto))
      assert(RedisCommands.xrange(c, k, "5-2", "7-0").map(_.id) == Seq("5-2", "7-0"))
      assert(RedisCommands.xrange(c, k, "(5-2", "7-1").map(_.id) == Seq("7-0", "7-1"))
      assert(RedisCommands.xrange(c, k, "(0-0", "+", Some(2)).map(_.id) == Seq("5-1", "5-2"))
      // bare-ms bounds: start means ms-0, end means ms-MAX
      assert(RedisCommands.xrange(c, k, "5", "7").map(_.id) == Seq("5-1", "5-2", "7-0", "7-1"))
      // field order and values survive the round trip
      assert(RedisCommands.xrange(c, k, "5-2", "5-2").head.fields ==
        Seq("a" -> "2", "b" -> "x"))
      // entry-id order is numeric, not lexicographic
      assert(RedisCommands.compareStreamIds("9-1", "10-0") < 0)
      assert(RedisCommands.compareStreamIds("10-2", "10-10") < 0)
    } finally c.close()
  }

  test("redis-stream micro-batch source: entry-id offsets, admission control across ≥3 batches, batch-face parity, live appends") {
    import graft.net.RedisCommands
    val k = "xsrc:ev"
    (1 to 9).foreach(i => server.putStreamEntry(k, s"1-$i", Seq("v" -> s"d$i")))
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).option("maxEntriesPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("xs1")
      .start()
    try {
      graft.StreamTestGuard.drain(q)
      val got = spark.table("xs1").collect()
        .map(r => r.getString(0) -> r.getMap[String, String](1).toMap)
      assert(got.map(_._1).toSeq.sorted == (1 to 9).map(i => s"1-$i").sorted)
      assert(got.toMap.apply("1-4") == Map("v" -> "d4"))
      // admission control actually split the backlog: 9 entries at 3 per
      // trigger is ≥3 non-empty micro-batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
      // batch face reads the same entries (the in-engine oracle)
      val batch = spark.read.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).load()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(batch == got.map(_._1).toSeq.sorted)
      // entries appended WHILE the query runs arrive in later batches
      val c = new graft.net.RedisConnection("127.0.0.1", port)
      try {
        RedisCommands.xadd(c, k, "2-1", Seq("v" -> "late1"))
        RedisCommands.xadd(c, k, "2-2", Seq("v" -> "late2"))
      } finally c.close()
      graft.StreamTestGuard.drain(q)
      assert(spark.table("xs1").count() == 11)
    } finally q.stop()
  }

  test("redis-stream checkpoint restart: resumes from the committed entry id, no replay, no loss") {
    import graft.net.RedisCommands
    val k = "xsrc:ckpt"
    (1 to 5).foreach(i => server.putStreamEntry(k, s"3-$i", Seq("v" -> s"a$i")))
    val base = java.nio.file.Files.createTempDirectory("graft-xckpt").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).option("maxEntriesPerTrigger", "2")
        .load()
        .selectExpr("entry_id", "fields['v'] AS v")
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    val q1 = run()
    try { graft.StreamTestGuard.drain(q1) } finally q1.stop()
    assert(spark.read.parquet(s"$base/out").count() == 5)
    // appends while the query is DOWN
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      RedisCommands.xadd(c, k, "4-1", Seq("v" -> "b1"))
      RedisCommands.xadd(c, k, "4-2", Seq("v" -> "b2"))
      RedisCommands.xadd(c, k, "4-3", Seq("v" -> "b3"))
    } finally c.close()
    // restart from the same checkpoint: exactly the three new entries
    // land — the committed entry-id offset held, nothing replayed, and
    // the union is complete with no duplicates
    val q2 = run()
    try { graft.StreamTestGuard.drain(q2) } finally q2.stop()
    val all = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(all == Seq("3-1" -> "a1", "3-2" -> "a2", "3-3" -> "a3", "3-4" -> "a4",
      "3-5" -> "a5", "4-1" -> "b1", "4-2" -> "b2", "4-3" -> "b3"), all.mkString(","))
  }

  test("multi-stream: streams=a,b reads both under one composite offset, prepends the stream column, splits the cap, batch face matches") {
    val (a, b) = ("xmulti:a", "xmulti:b")
    (1 to 6).foreach(i => server.putStreamEntry(a, s"10-$i", Seq("v" -> s"a$i")))
    (1 to 6).foreach(i => server.putStreamEntry(b, s"11-$i", Seq("v" -> s"b$i")))
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams", s"$a, $b").option("maxEntriesPerTrigger", "4")
      .load()
      .writeStream.format("memory").queryName("xmulti")
      .start()
    try {
      graft.StreamTestGuard.drain(q)
      val got = spark.table("xmulti").collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getMap[String, String](2).toMap.apply("v"))).sortBy(t => (t._1, t._2))
      // union-equals-backlog, stream column names the origin
      assert(got.toSeq ==
        (1 to 6).map(i => (a, s"10-$i", s"a$i")) ++
          (1 to 6).map(i => (b, s"11-$i", s"b$i")), got.mkString(","))
      // the cap was ADMISSION (per batch ≤ 4, so ≥3 non-empty batches),
      // split across the two streams rather than serialized one-by-one
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.forall(_ <= 4), sizes.mkString(","))
      assert(sizes.length >= 3, sizes.mkString(","))
      // batch face: same union, same schema
      val batch = spark.read.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams", s"$a,$b").load()
      assert(batch.columns.toSeq == Seq("stream", "entry_id", "fields"))
      assert(batch.count() == 12)
    } finally q.stop()
    // a multi-stream write needs per-row routing: without streamColumn
    // the builder rejects at plan time naming the missing option (the
    // routed-sink face — see the dedicated routed-sink test)
    val w = intercept[Exception] {
      import spark.implicits._
      Seq(("1", "x")).toDF("n", "v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams", s"$a,$b").mode("append").save()
    }
    assert(chain(w).contains("streamColumn"), chain(w))
    // stream/streams/streams.pattern are mutually exclusive
    val x = intercept[Exception] {
      spark.read.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", a).option("streams", s"$a,$b").load()
    }
    assert(chain(x).contains("mutually exclusive"), chain(x))
  }

  test("multi-stream checkpoint restart: the composite {stream -> id} offset resumes every stream, no replay, no loss") {
    import graft.net.RedisCommands
    val (a, b) = ("xmc:a", "xmc:b")
    (1 to 3).foreach(i => server.putStreamEntry(a, s"20-$i", Seq("v" -> s"a$i")))
    (1 to 2).foreach(i => server.putStreamEntry(b, s"21-$i", Seq("v" -> s"b$i")))
    val base = java.nio.file.Files.createTempDirectory("graft-xmc").toString
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams", s"$a,$b").option("maxEntriesPerTrigger", "2")
        .load()
        .selectExpr("stream", "entry_id", "fields['v'] AS v")
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .start()
    val q1 = run()
    try { graft.StreamTestGuard.drain(q1) } finally q1.stop()
    assert(spark.read.parquet(s"$base/out").count() == 5)
    // the committed offset is a canonical JSON map (sorted keys)
    val offsetFiles = new java.io.File(s"$base/ckpt/offsets").listFiles().sortBy(_.getName)
    val lastOffset = new String(java.nio.file.Files.readAllBytes(
      offsetFiles.last.toPath), "UTF-8")
    assert(lastOffset.contains(s"""{"$a":"20-3","$b":"21-2"}"""), lastOffset)
    // appends to BOTH streams while the query is down
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      RedisCommands.xadd(c, a, "22-1", Seq("v" -> "a4"))
      RedisCommands.xadd(c, b, "22-2", Seq("v" -> "b3"))
    } finally c.close()
    val q2 = run()
    try { graft.StreamTestGuard.drain(q2) } finally q2.stop()
    val all = spark.read.parquet(s"$base/out").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(all == Seq((a, "20-1", "a1"), (a, "20-2", "a2"), (a, "20-3", "a3"),
      (a, "22-1", "a4"), (b, "21-1", "b1"), (b, "21-2", "b2"), (b, "22-2", "b3")),
      all.mkString(","))
  }

  test("streams.pattern: TYPE-filtered glob membership, re-resolved per trigger — a stream created mid-query joins from 0-0") {
    import graft.net.RedisCommands
    val (a, b) = ("xpat:one", "xpat:two")
    (1 to 2).foreach(i => server.putStreamEntry(a, s"30-$i", Seq("v" -> s"a$i")))
    (1 to 2).foreach(i => server.putStreamEntry(b, s"31-$i", Seq("v" -> s"b$i")))
    // a STRING key matching the glob must not be treated as a stream
    // (membership scan runs SCAN ... TYPE stream)
    server.put("xpat:decoy", "not-a-stream")
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams.pattern", "xpat:*")
      .load()
      .writeStream.format("memory").queryName("xpat")
      .start()
    try {
      graft.StreamTestGuard.drain(q)
      assert(spark.table("xpat").select("stream").distinct().collect()
        .map(_.getString(0)).sorted.toSeq == Seq(a, b))
      // a brand-new stream matching the pattern joins the SAME query,
      // read from its beginning
      val c = new graft.net.RedisConnection("127.0.0.1", port)
      try RedisCommands.xadd(c, "xpat:three", "32-1", Seq("v" -> "c1"))
      finally c.close()
      graft.StreamTestGuard.drain(q)
      val got = spark.table("xpat").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == Seq((a, "30-1"), (a, "30-2"), ("xpat:three", "32-1"),
        (b, "31-1"), (b, "31-2")), got.mkString(","))
    } finally q.stop()
  }

  test("multi-stream cap smaller than stream count: rotation + carry drain every stream (no starvation); AvailableNow pins the multi tip") {
    import graft.net.RedisCommands
    val streams = Seq("xrot:a", "xrot:b", "xrot:c")
    streams.zipWithIndex.foreach { case (s, si) =>
      (1 to 4).foreach(i => server.putStreamEntry(s, s"4${si}-$i", Seq("v" -> s"$si$i")))
    }
    // cap 2 < 3 streams: a FIXED probe order would starve the last
    // stream; the offset-hash rotation + leftover carry must drain all 12
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams", streams.mkString(","))
      .option("maxEntriesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("xrot")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow + multi: tips pinned per stream, the drain terminates
    assert(q.awaitTermination(120000), "AvailableNow multi-stream drain must self-terminate")
    val got = spark.table("xrot").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got.length == 12 && got.map(_._1).distinct.length == 3, got.mkString(","))
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(sizes.forall(_ <= 2), sizes.mkString(","))
  }

  test("multi-stream admission is work-conserving: a drained stream's unused quota reaches the hot stream regardless of probe order") {
    import graft.net.RedisCommands
    // one hot stream (6 entries), one empty: every non-final trigger must
    // admit the FULL cap of 4, wherever rotation puts the drained stream
    // in probe order (a dropped final carry would admit only 2 when the
    // drained stream probes last)
    (1 to 6).foreach(i => server.putStreamEntry("xwc:hot", s"70-$i", Seq("v" -> s"h$i")))
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams", "xwc:hot,xwc:empty")
      .option("maxEntriesPerTrigger", "4")
      .load()
      .writeStream.format("memory").queryName("xwc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow drain must self-terminate")
    assert(spark.table("xwc").count() == 6)
    val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    // 6 entries at a work-conserving cap of 4 → exactly [4, 2]
    assert(sizes == Seq(4, 2), sizes.mkString(","))
  }

  test("redis-stream sink: batch + streaming XADD writes round-trip through the source; redis_stream TVF reads in SQL") {
    import spark.implicits._
    val k = "xsink:rt"
    def opts[T](w: org.apache.spark.sql.DataFrameWriter[T]) = w
      .format("redis-stream").option("host", "127.0.0.1")
      .option("port", port.toString).option("stream", k).mode("append")
    // batch write, arbitrary columns: each non-null column becomes a field
    opts(Seq((1L, "x"), (2L, "y")).toDF("n", "v").write).save()
    // batch write, single-MAP form: the map IS the entry
    opts(Seq(Map("n" -> "3", "v" -> "z")).toDF("fields").write).save()
    val batchRead = spark.read.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).load()
      .selectExpr("fields['n'] AS n", "fields['v'] AS v")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(batchRead == Set("1" -> "x", "2" -> "y", "3" -> "z"), batchRead)
    // streaming sink: micro-batches append as they commit
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-xsink").toString
    val q = ms.toDS().toDF("n", "v").writeStream
      .format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k)
      .option("checkpointLocation", s"$ckpt/c")
      .start()
    try {
      ms.addData((4L, "w")); graft.StreamTestGuard.drain(q)
      ms.addData((5L, "u")); graft.StreamTestGuard.drain(q)
    } finally q.stop()
    // TVF face: the reference-style literal syntax, via the session target
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    graft.GraftRedis.registerSql(spark)
    val sqlRead = spark.sql(s"SELECT fields['n'] AS n FROM redis_stream('$k')")
      .collect().map(_.getString(0)).toSet
    assert(sqlRead == Set("1", "2", "3", "4", "5"), sqlRead)
    // ids stayed strictly increasing across both write faces
    val ids = spark.sql(s"SELECT entry_id FROM redis_stream('$k')")
      .collect().map(_.getString(0)).toSeq
    val parsed = ids.map { s => val Array(a, b) = s.split("-"); (a.toLong, b.toLong) }
    assert(parsed == parsed.sorted && parsed.distinct.size == 5, ids.mkString(","))
  }

  test("idempotent sink (idColumn): replayed epoch is server-deduplicated, out-of-order or colliding ids fail loudly") {
    import spark.implicits._
    import graft.net.RedisCommands
    val k = "xsink:idem"
    def write(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("redis-stream").option("host", "127.0.0.1")
        .option("port", port.toString).option("stream", k)
        .option("idColumn", "id").mode("append").save()
    val batch = Seq(("5-1", "a"), ("5-2", "b"), ("5-3", "c")).toDF("id", "v")
      .coalesce(1).sortWithinPartitions("id")
    write(batch)
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      assert(RedisCommands.xlen(c, k) == 3)
      // the id column was CONSUMED as the entry id, not written as a field
      val entries = RedisCommands.xrange(c, k, "-", "+")
      assert(entries.map(_.id) == Seq("5-1", "5-2", "5-3"))
      assert(entries.forall(_.fields.map(_._1) == Seq("v")),
        entries.map(_.fields).mkString(","))
    } finally c.close()
    // same batch written twice (the task-retry / epoch-replay shape):
    // every XADD is rejected by the server's monotonic-id rule, the
    // writer verifies equal payloads at those exact ids, and skips —
    // XLEN unchanged
    write(batch)
    val c2 = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      assert(RedisCommands.xlen(c2, k) == 3)
      assert(RedisCommands.xrange(c2, k, "-", "+")
        .map(e => e.id -> e.fields) == Seq(
        "5-1" -> Seq("v" -> "a"), "5-2" -> Seq("v" -> "b"), "5-3" -> Seq("v" -> "c")))
    } finally c2.close()
    // an id <= stream top with a DIFFERENT payload is NOT a replay:
    // loud failure naming the id, nothing silently dropped
    val coll = intercept[Exception] {
      write(Seq(("5-2", "DIFFERENT")).toDF("id", "v"))
    }
    assert(chain(coll).contains("5-2") && chain(coll).contains("no equal"), chain(coll))
    // an id that never existed but sorts below the top: out-of-order, loud
    val ooo = intercept[Exception] {
      write(Seq(("4-9", "late")).toDF("id", "v"))
    }
    assert(chain(ooo).contains("4-9"), chain(ooo))
    // driver-side schema gates: missing / non-string / field-less id column
    val miss = intercept[Exception] {
      write(Seq(("5-9", "x")).toDF("wrong", "v"))
    }
    assert(chain(miss).contains("idColumn"), chain(miss))
    val nonStr = intercept[Exception] {
      Seq((59L, "x")).toDF("id", "v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).option("idColumn", "id").mode("append").save()
    }
    assert(chain(nonStr).contains("STRING"), chain(nonStr))
    // default mode (no idColumn) is untouched: same duplicate ids would
    // never arise because the server assigns them
    Seq(("z", "tail")).toDF("n", "v").write.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).mode("append").save()
    val c3 = new graft.net.RedisConnection("127.0.0.1", port)
    try assert(RedisCommands.xlen(c3, k) == 4) finally c3.close()
  }

  test("routed multi-stream sink (streamColumn): rows land on their named streams; read→write round-trip replicates; misuse is loud") {
    import spark.implicits._
    import graft.net.RedisCommands
    val (a, b) = ("xroute:a", "xroute:b")
    def routedWrite(df: org.apache.spark.sql.DataFrame, streams: String,
        extra: Map[String, String] = Map.empty): Unit = {
      val w = df.write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams", streams).option("streamColumn", "stream")
        .mode("append")
      extra.foreach { case (k, v) => w.option(k, v) }
      w.save()
    }
    // batch write routed by the stream column — interleaved targets
    routedWrite(Seq((a, "1", "x"), (b, "2", "y"), (a, "3", "z"), (b, "4", "w"))
      .toDF("stream", "n", "v").coalesce(1), s"$a,$b")
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      // each stream holds exactly its rows; the stream column was
      // CONSUMED for routing, never written as a field
      val ea = RedisCommands.xrange(c, a, "-", "+")
      val eb = RedisCommands.xrange(c, b, "-", "+")
      assert(ea.map(_.fields.toMap.apply("n")) == Seq("1", "3"), ea)
      assert(eb.map(_.fields.toMap.apply("n")) == Seq("2", "4"), eb)
      assert((ea ++ eb).forall(_.fields.map(_._1) == Seq("n", "v")),
        (ea ++ eb).map(_.fields).mkString(","))
    } finally c.close()
    // ROUND-TRIP REPLICATION: the multi-stream READ schema
    // (stream, entry_id, fields) writes straight back through the routed
    // + idempotent face — rename streams, keep ids, one shot
    val (a2, b2) = ("xroute:a2", "xroute:b2")
    val mirrored = spark.read.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams", s"$a,$b").load()
      .withColumn("stream",
        org.apache.spark.sql.functions.concat_ws("", $"stream",
          org.apache.spark.sql.functions.lit("2")))
      .coalesce(1).sortWithinPartitions("stream", "entry_id")
    routedWrite(mirrored, s"$a2,$b2", Map("idColumn" -> "entry_id"))
    // a REPLAY of the same replication batch is server-deduplicated
    // per stream (idempotent + routed compose)
    routedWrite(mirrored, s"$a2,$b2", Map("idColumn" -> "entry_id"))
    val c2 = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      val src = RedisCommands.xrange(c2, a, "-", "+").map(e => e.id -> e.fields)
      val dst = RedisCommands.xrange(c2, a2, "-", "+").map(e => e.id -> e.fields)
      assert(src == dst, s"$src != $dst")
      assert(RedisCommands.xlen(c2, b2) == 2)
    } finally c2.close()
    // loud misuse, all driver-side at plan time where possible:
    // (1) a routed value outside the DECLARED set — typos must not
    // spray entries into new keys
    val stray = intercept[Exception] {
      routedWrite(Seq(("xroute:TYPO", "9", "q")).toDF("stream", "n", "v"), s"$a,$b")
    }
    assert(chain(stray).contains("TYPO") && chain(stray).contains("declared"),
      chain(stray))
    // (2) NULL routing value
    val nul = intercept[Exception] {
      routedWrite(Seq((null.asInstanceOf[String], "9", "q"))
        .toDF("stream", "n", "v"), s"$a,$b")
    }
    assert(chain(nul).contains("NULL"), chain(nul))
    // (3) multi-stream write without streamColumn names the option
    val noCol = intercept[Exception] {
      Seq(("9", "q")).toDF("n", "v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams", s"$a,$b").mode("append").save()
    }
    assert(chain(noCol).contains("streamColumn"), chain(noCol))
    // (4) streamColumn on a single-stream table is meaningless — loud
    val single = intercept[Exception] {
      Seq((a, "9", "q")).toDF("stream", "n", "v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", a).option("streamColumn", "stream")
        .mode("append").save()
    }
    assert(chain(single).contains("single-stream"), chain(single))
    // (5) pattern tables are read-only for writes
    val pat = intercept[Exception] {
      Seq((a, "9", "q")).toDF("stream", "n", "v").write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("streams.pattern", "xroute:*").option("streamColumn", "stream")
        .mode("append").save()
    }
    // the pattern table advertises no write capability, so Spark itself
    // refuses before our builder runs ("does not allow create table as
    // select" on the writer-v2 path) — any loud refusal is correct here
    assert(Seq("read-only", "does not support", "does not allow")
      .exists(chain(pat).toLowerCase.contains), chain(pat))
    // (6) one column cannot be both id and route
    val both = intercept[Exception] {
      routedWrite(Seq((a, "9", "q")).toDF("stream", "n", "v"), s"$a,$b",
        Map("idColumn" -> "stream"))
    }
    assert(chain(both).contains("both"), chain(both))
    // streaming face: micro-batches route per row under a checkpoint
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-xroute").toString
    val q = ms.toDS().toDF("stream", "v").writeStream
      .format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("streams", s"$a,$b").option("streamColumn", "stream")
      .option("checkpointLocation", s"$ckpt/c")
      .start()
    try {
      ms.addData((a, "s1"), (b, "s2")); graft.StreamTestGuard.drain(q)
      ms.addData((b, "s3")); graft.StreamTestGuard.drain(q)
    } finally q.stop()
    val c3 = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      assert(RedisCommands.xlen(c3, a) == 3)
      assert(RedisCommands.xlen(c3, b) == 4)
    } finally c3.close()
  }

  test("stream retention: sink maxlen trims inline (XADD MAXLEN ~), XTRIM/trimStream trim at rest, multi-arg redis_stream TVF") {
    import spark.implicits._
    import graft.net.RedisCommands
    val k = "xret:cap"
    // inline retention: every XADD carries MAXLEN ~ 5 — the stream
    // never grows past the cap no matter how many rows are written
    (1 to 3).foreach { wave =>
      Seq((s"w$wave-1", "a"), (s"w$wave-2", "b"), (s"w$wave-3", "c"))
        .toDF("n", "v").coalesce(1) // one writer: deterministic arrival order
        .write.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).option("maxlen", "5").mode("append").save()
    }
    val c = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      assert(RedisCommands.xlen(c, k) == 5, s"xlen=${RedisCommands.xlen(c, k)}")
      // the SURVIVING entries are the newest five (oldest trimmed first)
      val vs = RedisCommands.xrange(c, k, "-", "+").flatMap(_.fields)
        .collect { case ("n", v) => v }
      assert(vs == Seq("w2-2", "w2-3", "w3-1", "w3-2", "w3-3"), vs.mkString(","))
      // at-rest retention: XTRIM to 2
      assert(RedisCommands.xtrim(c, k, 2) == 3)
      assert(RedisCommands.xlen(c, k) == 2)
    } finally c.close()
    // facade form over the session target
    graft.GraftRedis.connect(spark, s"127.0.0.1:$port")
    assert(graft.GraftRedis.trimStream(spark, k, 1) == 1)
    // multi-arg TVF: two streams in one FROM, leading stream column
    graft.GraftRedis.registerSql(spark)
    val c2 = new graft.net.RedisConnection("127.0.0.1", port)
    try {
      RedisCommands.xadd(c2, "xret:t1", "1-1", Seq("v" -> "x"))
      RedisCommands.xadd(c2, "xret:t2", "1-1", Seq("v" -> "y"))
    } finally c2.close()
    val rows = spark.sql(
      "SELECT stream, fields['v'] AS v FROM redis_stream('xret:t1', 'xret:t2') ORDER BY stream")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq("xret:t1" -> "x", "xret:t2" -> "y"), rows.mkString(","))
  }

  test("redis-stream startingOffsets=<entry-id> backfills strictly after the given id; Trigger.AvailableNow drains and stops") {
    import graft.net.RedisCommands
    val k = "xoff:bf"
    (1 to 6).foreach(i => server.putStreamEntry(k, s"7-$i", Seq("v" -> s"e$i")))
    // explicit-id start: strictly after 7-3 → 7-4..7-6 only
    val q = spark.readStream.format("redis-stream")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("stream", k).option("startingOffsets", "7-3")
      .option("maxEntriesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("xbf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow: the query drains the backlog in capped batches and
    // TERMINATES on its own — await, don't stop
    assert(q.awaitTermination(60000), "AvailableNow query must self-terminate")
    val got = spark.table("xbf").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("7-4", "7-5", "7-6"), got.mkString(","))
    // malformed id fails loudly at option parse
    val bad = intercept[Exception] {
      spark.readStream.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port.toString)
        .option("stream", k).option("startingOffsets", "yesterday")
        .load()
    }
    assert(chain(bad).contains("startingOffsets"), chain(bad))
  }

  test("redis-stream startingOffsets=latest skips the backlog; AUTH via the redaction-friendly password option") {
    import graft.net.RedisCommands
    val authServer = new FakeRedisServer()
    authServer.setRequirePass("xpw")
    authServer.putStreamEntry("xs:auth", "1-1", Seq("v" -> "old"))
    val aport = authServer.start()
    try {
      // batch face + AUTH through .option("password", …) — the alias that
      // Spark's default options-redaction regex masks in plan dumps
      val rows = spark.read.format("redis-stream")
        .option("host", "127.0.0.1").option("port", aport.toString)
        .option("password", "xpw").option("stream", "xs:auth").load()
      assert(rows.collect().map(_.getString(0)).toSeq == Seq("1-1"))
      // latest: initial offset is the current tip, so only post-start
      // appends flow
      val q = spark.readStream.format("redis-stream")
        .option("host", "127.0.0.1").option("port", aport.toString)
        .option("password", "xpw").option("stream", "xs:auth")
        .option("startingOffsets", "latest")
        .load()
        .writeStream.format("memory").queryName("xlat")
        .start()
      try {
        graft.StreamTestGuard.drain(q)
        assert(spark.table("xlat").count() == 0)
        val c = new graft.net.RedisConnection("127.0.0.1", aport, auth = Some("xpw"))
        try RedisCommands.xadd(c, "xs:auth", "9-1", Seq("v" -> "new")) finally c.close()
        graft.StreamTestGuard.drain(q)
        assert(spark.table("xlat").collect().map(_.getString(0)).toSeq == Seq("9-1"))
      } finally q.stop()
    } finally authServer.stop()
  }
}
