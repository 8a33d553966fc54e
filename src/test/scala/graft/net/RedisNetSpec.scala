package graft.net

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Client↔server integration over real sockets: connect/PING handshake,
  * SCAN cursor pagination (incl. empty pages with a non-zero cursor),
  * GET/MGET/HGETALL, pipelining, and missing-key semantics.
  */
class RedisNetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val server = new FakeRedisServer()
  private var port: Int = _
  private var conn: RedisConnection = _

  override def beforeAll(): Unit = {
    (1 to 10).foreach(i => server.put(f"testkey:$i%04d", s"value$i"))
    server.put("other:1", "x")
    server.putHash("user:1001", Map("name" -> "Ada", "age" -> "36"))
    port = server.start()
    conn = new RedisConnection("127.0.0.1", port)
  }

  override def afterAll(): Unit = {
    if (conn != null) conn.close()
    server.stop()
  }

  test("PING handshake") { conn.ping() }

  test("single-key commands follow a MOVED cluster redirect") {
    // second "node" holding the resharded key
    val nodeB = new FakeRedisServer()
    nodeB.put("resharded:1", "moved-value")
    nodeB.putHash("resharded:h", Map("f" -> "42"))
    val portB = nodeB.start()
    server.setMoved("resharded:", s"127.0.0.1:$portB")
    try {
      assert(RedisCommands.get(conn, "resharded:1").contains("moved-value"))
      assert(RedisCommands.hgetall(conn, "resharded:h") == Map("f" -> "42"))
      // non-redirected keys still answer locally
      assert(RedisCommands.get(conn, "testkey:0001").contains("value1"))
    } finally {
      server.clearMoved()
      nodeB.stop()
    }
  }

  test("ASK redirects send ASKING before the command on the target node") {
    import graft.resp.RespValue._
    // nodeB is IMPORTING the slot: it serves `migrating:*` only to a
    // connection whose previous command was ASKING, else bounces MOVED back
    val nodeB = new FakeRedisServer()
    nodeB.put("migrating:1", "ask-value")
    nodeB.putHash("migrating:h", Map("f" -> "7"))
    val portB = nodeB.start()
    nodeB.setImporting("migrating:", s"127.0.0.1:$port")
    server.setAsk("migrating:", s"127.0.0.1:$portB")
    try {
      // un-prefixed direct access is refused (proves the fake enforces ASKING)
      val direct = new RedisConnection("127.0.0.1", portB)
      try direct.command("GET", "migrating:1") match {
        case Err(m) => assert(m.startsWith("MOVED"))
        case other => fail(s"importing node served without ASKING: $other")
      } finally direct.close()
      // the client path follows ASK with the ASKING prefix and succeeds
      assert(RedisCommands.get(conn, "migrating:1").contains("ask-value"))
      assert(RedisCommands.hgetall(conn, "migrating:h") == Map("f" -> "7"))
    } finally {
      server.clearAsk()
      nodeB.stop()
    }
  }

  test("SCAN survives a slot migration between pages: cursor stays on the old owner, values follow MOVED") {
    // mid-scan migration: after page 1 the whole prefix moves to node B.
    // The SCAN cursor must keep walking node A (SCAN iterates one node's
    // keyspace — it is never redirected), while every subsequent value
    // fetch gets MOVED and recovers via the one-hop redirect plumbing.
    val nodeA = new FakeRedisServer()
    (1 to 9).foreach(i => nodeA.put(s"mig:$i", s"v$i"))
    val portA = nodeA.start()
    val ca = new RedisConnection("127.0.0.1", portA)
    val nodeB = new FakeRedisServer()
    val portB = nodeB.start()
    try {
      val (cur1, page1) = RedisCommands.scanPage(ca, "0", "mig:*", 3)
      val vals1 = RedisCommands.mget(ca, page1)
      assert(cur1 != "0" && page1.nonEmpty, "fixture must span multiple pages")

      // the migration happens HERE, between cursor pages
      (1 to 9).foreach(i => nodeB.put(s"mig:$i", s"v$i"))
      nodeA.setMoved("mig:", s"127.0.0.1:$portB")

      // un-plumbed access now bounces (proves the fake enforces MOVED)
      ca.command("MGET", "mig:1") match {
        case graft.resp.RespValue.Err(m) => assert(m.startsWith("MOVED"))
        case other => fail(s"old owner served a migrated batch: $other")
      }

      var cursor = cur1
      var keys = page1.toVector
      var vals = vals1.toVector
      var pages = 1
      while (cursor != "0") {
        val (nx, page) = RedisCommands.scanPage(ca, cursor, "mig:*", 3)
        keys ++= page
        vals ++= RedisCommands.mget(ca, page) // follows MOVED to node B
        cursor = nx
        pages += 1
        assert(pages < 100, "cursor never terminated")
      }
      assert(pages > 2, "migration must land between pages to test anything")
      assert(keys.sorted == (1 to 9).map(i => s"mig:$i").sorted.toVector)
      assert(vals.flatten.sorted == (1 to 9).map(i => s"v$i").sorted.toVector)
    } finally {
      ca.close(); nodeA.stop(); nodeB.stop()
    }
  }

  test("SCAN paginates with small COUNT and respects MATCH") {
    var cursor = "0"
    var keys = Vector.empty[String]
    var first = true
    var pages = 0
    while (cursor != "0" || first) {
      first = false
      val (next, page) = RedisCommands.scanPage(conn, cursor, "testkey:*", 3)
      keys ++= page
      cursor = next
      pages += 1
      assert(pages < 100, "cursor never terminated")
    }
    assert(keys.sorted == (1 to 10).map(i => f"testkey:$i%04d").toVector)
    assert(pages > 1, "expected multiple cursor pages with COUNT 3")
  }

  test("SCAN with non-matching pattern yields empty pages but still terminates") {
    var cursor = "0"
    var first = true
    var total = 0
    while (cursor != "0" || first) {
      first = false
      val (next, page) = RedisCommands.scanPage(conn, cursor, "nomatch:*", 2)
      total += page.size
      cursor = next
    }
    assert(total == 0)
  }

  test("GET present and missing (missing → None, not empty string)") {
    assert(RedisCommands.get(conn, "testkey:0007") == Some("value7"))
    assert(RedisCommands.get(conn, "missing:key") == None)
  }

  test("MGET batches with holes") {
    assert(RedisCommands.mget(conn, Seq("testkey:0001", "missing:x", "testkey:0002")) ==
      Seq(Some("value1"), None, Some("value2")))
    assert(RedisCommands.mget(conn, Nil) == Nil)
  }

  test("HGETALL returns field map; absent hash → empty map") {
    assert(RedisCommands.hgetall(conn, "user:1001") == Map("name" -> "Ada", "age" -> "36"))
    assert(RedisCommands.hgetall(conn, "user:none") == Map.empty)
  }

  test("HGETALL WRONGTYPE: direct single-key read fails LOUDLY; the scan-page pipelined reader tolerates") {
    // a direct read of a key the caller NAMED and that holds a string is
    // a caller bug — an empty map would mask it silently
    val e = intercept[java.io.IOException](
      RedisCommands.hgetall(conn, "testkey:0001"))
    assert(e.getMessage.contains("WRONGTYPE"), e.getMessage)
    // the SCAN-driven reader keeps the mixed-keyspace tolerance: a
    // pattern like user:* routinely matches strings and hashes
    assert(RedisCommands.hgetallPipelined(conn,
        Seq("user:1001", "testkey:0001", "user:none")) ==
      Seq(Map("name" -> "Ada", "age" -> "36"), Map.empty, Map.empty))
  }

  test("pipelined commands return replies in order") {
    val replies = conn.pipeline(Seq(
      Seq("GET", "testkey:0001"), Seq("PING"), Seq("GET", "missing:x")))
    import graft.resp.RespValue._
    assert(replies == Seq(Bulk("value1"), Simple("PONG"), Null))
  }

  test("second connection works concurrently (no shared global state)") {
    val c2 = new RedisConnection("127.0.0.1", port)
    try {
      assert(RedisCommands.get(c2, "testkey:0003") == Some("value3"))
      assert(RedisCommands.get(conn, "testkey:0004") == Some("value4"))
    } finally c2.close()
  }

  test("hostname resolution works (reference is IPv4-literal-only — SURVEY §7.5h)") {
    val c2 = new RedisConnection("localhost", port)
    try c2.ping() finally c2.close()
  }

  test("RESP3 live mode: HELLO 3 handshake, map-typed HGETALL, set frame, ignored out-of-band push") {
    val c3 = new RedisConnection("127.0.0.1", port, resp3 = true)
    try {
      // the handshake already validated proto=3; commands behave identically
      c3.ping()
      // HGETALL arrives as a RESP3 MAP frame (%) — parsed to the same rows
      // the RESP2 flat array gives (the codec's Mp path, live end-to-end)
      assert(RedisCommands.hgetall(c3, "user:1001") ==
        RedisCommands.hgetall(conn, "user:1001"))
      assert(RedisCommands.hgetall(c3, "user:1001") == Map("name" -> "Ada", "age" -> "36"))
      // set-typed reply arrives as a RESP3 SET frame (~) on c3, an array on conn
      c3.command("SADD", "resp3:set", "a", "b", "c")
      assert(RedisCommands.smembers(c3, "resp3:set") == Set("a", "b", "c"))
      assert(RedisCommands.smembers(conn, "resp3:set") == Set("a", "b", "c"))
      // an out-of-band PUSH frame (>) lands BEFORE the next reply — the
      // client must skip it, not hand it back as the command's answer
      import graft.resp.RespValue._
      server.setPushOnNext(Push(Vector(Bulk("invalidate"), Bulk("user:1001"))))
      assert(RedisCommands.get(c3, "testkey:0001").contains("value1"))
      assert(c3.pushesIgnored == 1, s"pushes ignored: ${c3.pushesIgnored}")
      // pipelines skip pushes the same way
      server.setPushOnNext(Push(Vector(Bulk("invalidate"), Bulk("x"))))
      val replies = c3.pipeline(Seq(Seq("GET", "testkey:0002"), Seq("GET", "testkey:0003")))
      assert(replies.collect { case b: Bulk => b.text } == Seq("value2", "value3"))
      assert(c3.pushesIgnored == 2)
    } finally c3.close()
    // a server that answers NOPROTO (RESP2-only) fails the connect loudly
    // — simulated by requesting a protocol the fake rejects is not
    // possible here (it speaks 3), so assert the option-parse/handshake
    // contract the other way: HELLO with an unsupported version errors
    assert(conn.command("HELLO", "4").isInstanceOf[graft.resp.RespValue.Err])
  }

  test("RESP3 through the DSv2 sources: .option(\"resp\", \"3\") returns identical rows") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    def rows(resp: String): Seq[(String, String)] =
      spark.read.format("redis-hash")
        .option("host", "127.0.0.1").option("port", port)
        .option("pattern", "user:*").option("resp", resp).load()
        .selectExpr("key", "fields['name'] AS name")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(rows("3") == rows("2"))
    assert(rows("3") == Seq("user:1001" -> "Ada"))
    val bad = intercept[Exception] {
      spark.read.format("redis-hash")
        .option("host", "127.0.0.1").option("port", port)
        .option("resp", "4").load().collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + chain(t.getCause)
    assert(chain(bad).contains("resp must be"), chain(bad))
    // the STREAM source honors resp=3 on its executor connections too
    // (XRANGE replies are arrays under both protocols — identical rows)
    server.putStreamEntry("resp3:stream", "9-1", Seq("v" -> "a"))
    server.putStreamEntry("resp3:stream", "9-2", Seq("v" -> "b"))
    def streamRows(resp: String): Seq[(String, String)] =
      spark.read.format("redis-stream")
        .option("host", "127.0.0.1").option("port", port)
        .option("stream", "resp3:stream").option("resp", resp).load()
        .selectExpr("entry_id", "fields['v'] AS v")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(streamRows("3") == streamRows("2"))
    assert(streamRows("3") == Seq("9-1" -> "a", "9-2" -> "b"))
  }

  test("a TLS handshake that stalls past the socket timeout leaves no socket open") {
    // a server that accepts and never answers the ClientHello
    val silent = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val accepted = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val acceptor = new Thread(() =>
      try while (true) accepted.add(silent.accept()) catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    // `n` concurrent connects, each failing at the 5 s timeout; then the
    // JVM's open fds, once the server side of each is closed too
    def openFdsAfter(n: Int): Long = {
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val connects = Seq.fill(n)(new Thread(() =>
        try new RedisConnection("127.0.0.1", silent.getLocalPort, RedisLink(tls = true)).close()
        catch { case e: Throwable => failures.add(e) }))
      connects.foreach(_.start())
      connects.foreach(_.join())
      assert(failures.size == n && failures.stream().allMatch(_.isInstanceOf[java.net.SocketTimeoutException]))
      accepted.forEach(_.close())
      accepted.clear()
      os.getOpenFileDescriptorCount
    }
    try {
      val before = openFdsAfter(1) // loads the TLS classes and whatever files they open
      val after = openFdsAfter(20)
      assert(after - before < 10, s"$before open fds before 20 stalled handshakes, $after after")
    } finally silent.close()
  }
}
