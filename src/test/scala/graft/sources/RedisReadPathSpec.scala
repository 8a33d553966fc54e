package graft.sources

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.RedduckFunctions
import graft.resp.{RespCodec, RespValue}
import graft.resp.RespValue._

/** The columnar reader against a reply far larger than the 16 KiB
  * receive buffer, delivered in random 1 B–4 KiB writes: whatever the
  * fragmentation, the vectors hold exactly the bytes that were sent.
  * Faults, from an error reply to a stalled or malformed frame, fail the
  * read or the query they belong to, and no later one. The same holds for
  * the `redis-stream` range reader and admission probe over XRANGE pages.
  */
class RedisReadPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A RESP stub that answers each command (its arguments' bytes) with
    * `reply`, written in random 1 B–4 KiB chunks; a null reply closes the
    * connection instead, and so does the reply to a command named in
    * `closeAfterReply`, once written.
    */
  private final class ChunkedStub(reply: Seq[Array[Byte]] => Array[Byte], seed: Long,
      closeAfterReply: Set[String] = Set.empty) extends AutoCloseable {
    private val server = new ServerSocket(0, 4, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    private val rnd = new Random(seed)
    /** Each command's name, and whether more request bytes were already
      * buffered behind it when it was answered (sent in the same write).
      */
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()

    private val thread = new Thread(() => {
      try while (true) serve(server.accept()) catch { case _: java.io.IOException => () } // closed
    }, "chunked-stub")
    thread.setDaemon(true)
    thread.start()

    private def serve(sock: Socket): Unit = try {
      sock.setTcpNoDelay(true)
      val in = sock.getInputStream
      val out = sock.getOutputStream
      var buf = new Array[Byte](1 << 16)
      var end = 0
      while (true) {
        RespCodec.decode(buf, 0, end) match {
          case RespCodec.Decoded(Arr(args), next) =>
            val name = args.head match { case b: Bulk => b.text; case o => o.toString }
            received.add((name, next < end))
            System.arraycopy(buf, next, buf, 0, end - next)
            end -= next
            val bytes = reply(args.map { case b: Bulk => b.bytes; case o => fail(s"argument $o") })
            if (bytes == null) return
            chunked(out, bytes)
            if (closeAfterReply(name)) return
          case RespCodec.Decoded(v, _) => fail(s"not a command: $v")
          case RespCodec.Incomplete =>
            if (end == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
            val n = in.read(buf, end, buf.length - end)
            if (n < 0) return
            end += n
        }
      }
    } finally sock.close()

    private def chunked(out: java.io.OutputStream, reply: Array[Byte]): Unit = {
      var off = 0
      while (off < reply.length) {
        val n = math.min(1 + rnd.nextInt(4096), reply.length - off)
        out.write(reply, off, n)
        out.flush()
        off += n
        if (rnd.nextInt(32) == 0) Thread.sleep(1) // let the client read a partial frame
      }
    }

    override def close(): Unit = server.close()
  }

  test("a >1 MB MGET reply in random 1 B-4 KiB chunks reaches the vectors byte for byte") {
    val rnd = new Random(11)
    val tricky = "\r\né✓😀".getBytes(UTF_8) ++ Array[Byte](-1, -64, -128, 13) // then invalid UTF-8
    // 0 B up to 64 KiB: random bytes (mostly invalid UTF-8) with CRLFs
    // and multi-byte characters spliced in
    val lengths = rnd.shuffle((0 until 40).map(i => i * 65536 / 39))
    val values: Seq[Option[Array[Byte]]] = lengths.zipWithIndex.map { case (len, i) =>
      if (i % 7 == 3) None
      else {
        val v = new Array[Byte](len)
        rnd.nextBytes(v)
        var at = 0
        while (at + tricky.length <= len) {
          System.arraycopy(tricky, 0, v, at, tricky.length)
          at += tricky.length + rnd.nextInt(512)
        }
        Some(v)
      }
    }
    assert(values.flatten.map(_.length.toLong).sum >= (1L << 20))
    val keys = values.indices.map(i => s"k:$i".getBytes(UTF_8)) ++
      Seq("k:é\r\n".getBytes(UTF_8), "k:".getBytes(UTF_8) ++ Array[Byte](-2, -1))
    val allValues = values ++ Seq(Some("crlf key".getBytes(UTF_8)), Some(Array[Byte](-1)))

    val mgetReply = RespCodec.encode(Arr(allValues.map(_.map(Bulk(_)).getOrElse(Null)).toVector))
    @volatile var mgetKeys: Seq[Seq[Byte]] = Nil
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "SCAN" => RespCodec.encode(Arr(Vector(Bulk("0"), Arr(keys.map(Bulk(_)).toVector))))
        case "MGET" => mgetKeys = args.tail.map(_.toSeq); mgetReply
      }
    }, seed = 5)
    val reader = new RedisColumnarPartitionReader(
      RedisInputPartition("127.0.0.1", stub.port, Seq("k:*"), 2048), fetchValues = true)
    try {
      assert(reader.next())
      val batch = reader.get()
      assert(batch.numRows() == keys.length)
      keys.indices.foreach { i =>
        assert(batch.column(0).getUTF8String(i).getBytes.sameElements(keys(i)), s"key $i")
        allValues(i) match {
          case None => assert(batch.column(1).isNullAt(i), s"nil $i must be a vector null")
          case Some(v) =>
            assert(!batch.column(1).isNullAt(i))
            assert(batch.column(1).getUTF8String(i).getBytes.sameElements(v), s"value $i")
        }
      }
      assert(!reader.next())
      assert(mgetKeys == keys.map(_.toSeq), "the MGET must name the SCAN page's key bytes")
    } finally { reader.close(); stub.close() }
  }

  test("a kv page's MGET carries the next page's SCAN in the same write, except after the last page or a filled LIMIT") {
    // three pages: cursor 0 -> 7 -> 9 -> 0
    val pages = Map("0" -> ("7", Seq("k:0", "k:1", "k:2")), "7" -> ("9", Seq("k:3", "k:4")), "9" -> ("0", Seq("k:5")))
    def stub() = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "SCAN" =>
          val (next, keys) = pages(new String(args(1), UTF_8))
          RespCodec.encode(Arr(Vector(Bulk(next), Arr(keys.map(Bulk(_)).toVector))))
        case "MGET" => RespCodec.encode(Arr(args.tail.map(k => Bulk("v" + new String(k, UTF_8))).toVector))
      }
    }, seed = 7)
    def drain(limit: Option[Int]): (Seq[(String, String)], Seq[(String, Boolean)]) = {
      val s = stub()
      val reader = new RedisColumnarPartitionReader(
        RedisInputPartition("127.0.0.1", s.port, Seq("k:*"), 10, limit = limit), fetchValues = true)
      try {
        val rows = Iterator.continually(reader.next()).takeWhile(identity).flatMap { _ =>
          val b = reader.get()
          (0 until b.numRows()).map(i => (b.column(0).getUTF8String(i).toString, b.column(1).getUTF8String(i).toString))
        }.toVector
        (rows, s.received.asScala.toVector)
      } finally { reader.close(); s.close() }
    }
    val (all, sent) = drain(None)
    assert(all == (0 to 5).map(i => (s"k:$i", s"vk:$i")))
    assert(sent == Seq("SCAN" -> false, "MGET" -> true, "SCAN" -> false, "MGET" -> true, "SCAN" -> false,
      "MGET" -> false))
    val (four, sentForFour) = drain(Some(4))
    assert(four == (0 to 3).map(i => (s"k:$i", s"vk:$i")))
    assert(sentForFour == Seq("SCAN" -> false, "MGET" -> true, "SCAN" -> false, "MGET" -> false))
  }

  test("pipelined replies that straddle refills decode whole, in order") {
    // 12 KiB frames against a 16 KiB buffer: each refill finds the next
    // frame's head behind the consumed one and shifts it to the front
    val sent = (0 until 24).map(i => Array.tabulate[Byte](12 * 1024 + i)(j => (i * 31 + j).toByte))
    var next = 0
    val stub = new ChunkedStub(_ => { next += 1; RespCodec.encode(Bulk(sent(next - 1))) }, seed = 3)
    val c = new graft.net.RedisConnection("127.0.0.1", stub.port)
    try {
      val replies = c.pipeline(sent.indices.map(i => Seq("GET", s"k$i")))
      assert(replies.map { case b: Bulk => b.bytes.toSeq; case o => fail(o.toString) } == sent.map(_.toSeq))
    } finally { c.close(); stub.close() }
  }

  test("error replies and unexpected shapes in place of a SCAN page or an MGET array fail loudly") {
    val wrong = Map(
      "-ERR boom\r\n" -> "SCAN error: ERR boom",
      "*2\r\n$1\r\n0\r\n*1\r\n$-1\r\n" -> "unexpected SCAN reply",
      ":3\r\n" -> "unexpected SCAN reply")
    wrong.foreach { case (scanReply, message) =>
      val stub = new ChunkedStub(_ => scanReply.getBytes(UTF_8), seed = 1)
      val reader = new RedisColumnarPartitionReader(
        RedisInputPartition("127.0.0.1", stub.port, Seq("*"), 10), fetchValues = true)
      try assert(intercept[java.io.IOException](reader.next()).getMessage.contains(message))
      finally { reader.close(); stub.close() }
    }
    Map(
      "-ERR nope\r\n" -> "MGET error: ERR nope",
      "*1\r\n:1\r\n" -> "unexpected MGET reply",
      "*2\r\n$1\r\na\r\n$1\r\nb\r\n" -> "MGET returned 2 values for 1 keys").foreach { case (mgetReply, message) =>
      val stub = new ChunkedStub({ args =>
        if (new String(args.head, UTF_8) == "SCAN") "*2\r\n$1\r\n0\r\n*1\r\n$1\r\nk\r\n".getBytes(UTF_8)
        else mgetReply.getBytes(UTF_8)
      }, seed = 2)
      val reader = new RedisColumnarPartitionReader(
        RedisInputPartition("127.0.0.1", stub.port, Seq("*"), 10), fetchValues = true)
      try assert(intercept[java.io.IOException](reader.next()).getMessage.contains(message))
      finally { reader.close(); stub.close() }
    }
  }

  /** The map column's entries of row `i`, as (key, value) bytes. */
  private def entries(col: org.apache.spark.sql.vectorized.ColumnVector, i: Int): Seq[(Seq[Byte], Seq[Byte])] = {
    val m = col.getMap(i)
    (0 until m.numElements()).map(k =>
      (m.keyArray().getUTF8String(k).getBytes.toSeq, m.valueArray().getUTF8String(k).getBytes.toSeq))
  }

  test("a >1 MB HGETALL batch in random 1 B-4 KiB chunks, with pushes between replies, reaches the map column byte for byte") {
    val rnd = new Random(13)
    val tricky = "\r\né✓😀".getBytes(UTF_8) ++ Array[Byte](-1, -64, -128, 13) // then invalid UTF-8
    def randomBytes(len: Int): Array[Byte] = {
      val v = new Array[Byte](len)
      rnd.nextBytes(v)
      if (len >= tricky.length) System.arraycopy(tricky, 0, v, rnd.nextInt(len - tricky.length + 1), tricky.length)
      v
    }
    // key i is a string (WRONGTYPE) when i % 9 == 4, missing when
    // i % 9 == 7, else a hash of up to 40 distinct fields
    val n = 40
    val hashes: Seq[Option[Seq[(Array[Byte], Array[Byte])]]] = (0 until n).map { i =>
      if (i % 9 == 4) None
      else if (i % 9 == 7) Some(Nil)
      else Some((0 until rnd.nextInt(41)).map(_ => randomBytes(rnd.nextInt(12)))
        .distinctBy(_.toSeq).map(f => (f, randomBytes(rnd.nextInt(6000)))))
    }
    assert(hashes.flatten.flatten.map(_._2.length.toLong).sum >= (1L << 20))
    val keys = (0 until n).map(i => s"h:$i\r\né".getBytes(UTF_8) ++ Array[Byte](-2, i.toByte))
    val byKey = keys.map(_.toSeq).zip(hashes).toMap
    val push = RespCodec.encode(Push(Vector(Bulk("invalidate"), Arr(Vector(Bulk("x"))))))
    val hgetallKeys = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Byte]]()
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "HELLO" => RespCodec.encode(Mp(Vector((Bulk("proto"), Int64(3)))))
        case "SCAN" => RespCodec.encode(Arr(Vector(Bulk("0"), Arr(keys.map(Bulk(_)).toVector))))
        case "HGETALL" =>
          val k = args(1).toSeq
          hgetallKeys.add(k)
          val i = keys.indexWhere(_.toSeq == k)
          val reply = byKey(k) match {
            case None => RespCodec.encode(Err("WRONGTYPE Operation against a key holding the wrong kind of value"))
            // RESP2 flat arrays and RESP3 maps alike
            case Some(fs) if i % 2 == 0 => RespCodec.encode(Arr(fs.flatMap { case (f, v) => Vector(Bulk(f), Bulk(v)) }.toVector))
            case Some(fs) => RespCodec.encode(Mp(fs.map { case (f, v) => (Bulk(f): RespValue, Bulk(v): RespValue) }.toVector))
          }
          if (i % 5 == 1) push ++ reply else reply
      }
    }, seed = 9)
    val reader = new RedisColumnarPartitionReader(
      RedisInputPartition("127.0.0.1", stub.port, Seq("h:*"), 2048, link = graft.net.RedisLink(resp3 = true)),
      RedisSources.HashFields)
    try {
      assert(reader.next())
      val batch = reader.get()
      assert(batch.numRows() == n)
      keys.indices.foreach { i =>
        assert(batch.column(0).getUTF8String(i).getBytes.sameElements(keys(i)), s"key $i")
        assert(!batch.column(1).isNullAt(i))
        // fields in UTF-8 binary order of their names; a string key or a
        // missing key is an empty map
        val expected = hashes(i).getOrElse(Nil)
          .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
          .map { case (f, v) => (f.toSeq, v.toSeq) }
        assert(entries(batch.column(1), i) == expected, s"hash $i")
      }
      assert(!reader.next())
      assert(hgetallKeys.asScala.toSeq == keys.map(_.toSeq), "the HGETALLs must name the SCAN page's key bytes")
      assert(stub.received.asScala.toSeq == Seq("HELLO" -> false, "SCAN" -> false) ++
        Seq.fill(n - 1)("HGETALL" -> true) :+ ("HGETALL" -> false), "one write carries the page's HGETALLs")
    } finally { reader.close(); stub.close() }
  }

  test("a hash page's HGETALLs carry the next page's SCAN in the same write; a pushed LIMIT stops the walk") {
    val pages = Map("0" -> ("7", Seq("h:0", "h:1", "h:2")), "7" -> ("9", Seq("h:3", "h:4")), "9" -> ("0", Seq("h:5")))
    def drain(limit: Option[Int]): (Seq[(String, Seq[(String, String)])], Seq[(String, Boolean)]) = {
      val s = new ChunkedStub({ args =>
        new String(args.head, UTF_8) match {
          case "SCAN" =>
            val (next, keys) = pages(new String(args(1), UTF_8))
            RespCodec.encode(Arr(Vector(Bulk(next), Arr(keys.map(Bulk(_)).toVector))))
          case "HGETALL" => RespCodec.encode(Arr(Vector(Bulk("f"), Bulk("v" + new String(args(1), UTF_8)))))
        }
      }, seed = 8)
      val reader = new RedisColumnarPartitionReader(
        RedisInputPartition("127.0.0.1", s.port, Seq("h:*"), 10, limit = limit), RedisSources.HashFields)
      try {
        val rows = Iterator.continually(reader.next()).takeWhile(identity).flatMap { _ =>
          val b = reader.get()
          (0 until b.numRows()).map(i => (b.column(0).getUTF8String(i).toString,
            entries(b.column(1), i).map { case (f, v) => (new String(f.toArray, UTF_8), new String(v.toArray, UTF_8)) }))
        }.toVector
        (rows, s.received.asScala.toVector)
      } finally { reader.close(); s.close() }
    }
    val (all, sent) = drain(None)
    assert(all == (0 to 5).map(i => (s"h:$i", Seq("f" -> s"vh:$i"))))
    assert(sent == Seq("SCAN" -> false, "HGETALL" -> true, "HGETALL" -> true, "HGETALL" -> true,
      "SCAN" -> false, "HGETALL" -> true, "HGETALL" -> true, "SCAN" -> false, "HGETALL" -> false))
    val (two, sentForTwo) = drain(Some(2))
    assert(two == (0 to 1).map(i => (s"h:$i", Seq("f" -> s"vh:$i"))))
    assert(sentForTwo == Seq("SCAN" -> false, "HGETALL" -> true, "HGETALL" -> false))
  }

  test("a connection closed inside an MGET reply or an HGETALL batch fails next(), never a short batch") {
    // page 0 -> 7 -> 0; the page's values are cut short, then the
    // connection closes when the next page's SCAN (sent in the same
    // write) is read
    val fetched = new java.util.concurrent.atomic.AtomicInteger(0)
    def stub(valueReply: Array[Byte] => Array[Byte]) = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "SCAN" if new String(args(1), UTF_8) == "0" =>
          RespCodec.encode(Arr(Vector(Bulk("7"), Arr(Vector(Bulk("k:0"), Bulk("k:1"), Bulk("k:2"))))))
        case "SCAN" => null
        case "MGET" => valueReply(RespCodec.encode(Arr(args.tail.map(k => Bulk(new String(k, UTF_8) * 400)).toVector)))
        case "HGETALL" =>
          // the second reply of the batch is cut, the third is a close
          fetched.incrementAndGet() match {
            case 1 => RespCodec.encode(Arr(Vector(Bulk("f"), Bulk("v" * 3000))))
            case 2 => valueReply(RespCodec.encode(Arr(Vector(Bulk("f"), Bulk("v" * 3000)))))
            case _ => null
          }
      }
    }, seed = 4)
    Seq(1, 100, 1201, -2).foreach { cut =>
      Seq(RedisSources.StringValues, RedisSources.HashFields).foreach { kind =>
        fetched.set(0)
        val s = stub(r => r.take(if (cut < 0) r.length + cut else cut))
        val reader = new RedisColumnarPartitionReader(RedisInputPartition("127.0.0.1", s.port, Seq("k:*"), 10), kind)
        try intercept[java.io.IOException](reader.next())
        finally { reader.close(); s.close() }
      }
    }
  }

  test("-LOADING or -BUSY in place of a SCAN page, an MGET or one HGETALL of a batch fails loudly, naming both") {
    Seq("LOADING Redis is loading the dataset in memory",
        "BUSY Redis is busy running a script. You can only call SCRIPT KILL or SHUTDOWN NOSAVE.").foreach { err =>
      val errReply = RespCodec.encode(Err(err))
      Seq(("SCAN", RedisSources.StringValues), ("MGET", RedisSources.StringValues), ("HGETALL", RedisSources.HashFields))
        .foreach { case (failing, kind) =>
          val s = new ChunkedStub({ args =>
            new String(args.head, UTF_8) match {
              case "SCAN" if failing == "SCAN" => errReply
              case "SCAN" => RespCodec.encode(Arr(Vector(Bulk("0"), Arr(Vector(Bulk("k:0"), Bulk("k:1"), Bulk("k:2"))))))
              case "MGET" => errReply
              case "HGETALL" if new String(args(1), UTF_8) == "k:1" => errReply
              case "HGETALL" => RespCodec.encode(Arr(Vector(Bulk("f"), Bulk("v"))))
            }
          }, seed = 6)
          val reader = new RedisColumnarPartitionReader(RedisInputPartition("127.0.0.1", s.port, Seq("k:*"), 10), kind)
          try {
            val e = intercept[java.io.IOException](reader.next())
            assert(e.getMessage.contains(s"$failing error: $err"), e.getMessage)
          } finally { reader.close(); s.close() }
        }
    }
  }

  /** `keys` as a one-column DataFrame of one partition. */
  private def keyFrame(keys: String*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(keys.map(Row(_)), 1),
      StructType(Seq(StructField("key", StringType))))

  /** An exception's messages and class names down its cause chain. */
  private def chain(t: Throwable): String = if (t == null) "" else s"$t | ${chain(t.getCause)}"

  /** An MGET reply of "v" + key per key. */
  private def values(keys: Seq[Array[Byte]]): Array[Byte] =
    RespCodec.encode(Arr(keys.map(k => Bulk("v" + new String(k, UTF_8))).toVector))

  test("a reply that stalls mid-frame fails a kv partition's next() at the socket timeout, never a short batch") {
    // the stub writes the MGET reply up to the second value, then waits
    // for a command that never comes, the socket left open
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "SCAN" => RespCodec.encode(Arr(Vector(Bulk("0"), Arr(Vector(Bulk("k:0"), Bulk("k:1"))))))
        case "MGET" => values(args.tail).dropRight(5)
      }
    }, seed = 12)
    val reader = new RedisColumnarPartitionReader(RedisInputPartition("127.0.0.1", stub.port, Seq("k:*"), 10),
      RedisSources.StringValues)
    val t0 = System.nanoTime()
    try {
      intercept[java.net.SocketTimeoutException](reader.next())
      assert(System.nanoTime() - t0 >= 4000000000L, "failed before the 5 s socket timeout")
    } finally { reader.close(); stub.close() }
  }

  test("a withRedisValues batch whose MGET reply stalls fails the query, never yields NULL values") {
    val stub = new ChunkedStub({ args => values(args.tail).dropRight(5) }, seed = 13)
    try {
      val e = intercept[Exception](RedduckFunctions.withRedisValues(keyFrame("k:0", "k:1"), "key",
        hostPort = Some("127.0.0.1" -> stub.port)).collect())
      assert(chain(e).contains("SocketTimeoutException"), chain(e))
    } finally stub.close()
  }

  test("a frame the walk rejects fails its own withRedisValues or redis_get query, and the next one reads the right values") {
    // the first MGET of each first key is answered with a bad array
    // header, every later one correctly (SQL redis_get batches into MGETs
    // too)
    val answered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stub = new ChunkedStub({ args =>
      val cmd = new String(args.head, UTF_8)
      if (cmd != "PING" && answered.add(cmd + " " + new String(args(1), UTF_8))) "*x\r\n".getBytes(UTF_8)
      else cmd match {
        case "PING" => RespCodec.encode(Simple("PONG"))
        case "MGET" => values(args.tail)
        case "GET" => RespCodec.encode(Bulk("v" + new String(args(1), UTF_8)))
      }
    }, seed = 14)
    try {
      def lookup(): Seq[String] = RedduckFunctions.withRedisValues(keyFrame("k:0", "k:1"), "key",
        hostPort = Some("127.0.0.1" -> stub.port)).collect().map(_.getString(1)).toSeq
      assert(chain(intercept[Exception](lookup())).contains("ProtocolException"))
      assert(lookup() == Seq("vk:0", "vk:1"))

      graft.GraftRedis.connect(spark, s"127.0.0.1:${stub.port}")
      RedduckFunctions.registerAll(spark)
      def get(): Seq[String] =
        keyFrame("k:2", "k:3").selectExpr("redis_get(key)").collect().map(_.getString(0)).toSeq
      assert(chain(intercept[Exception](get())).contains("ProtocolException"))
      assert(get() == Seq("vk:2", "vk:3"))
    } finally stub.close()
  }

  test("lookups keep invalid UTF-8 values and fields byte for byte") {
    val bad = Seq(Array[Byte](-1, -2, 'a'), Array[Byte](-61), Array[Byte](-19, -96, -128), "é✓😀".getBytes(UTF_8))
    def value(k: Array[Byte]): Array[Byte] = bad(new String(k, UTF_8).drop(2).toInt)
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "MGET" => RespCodec.encode(Arr(args.tail.map(k => Bulk(value(k)): RespValue).toVector))
        case "HGETALL" => RespCodec.encode(Arr(Vector(Bulk(value(args(1))), Bulk(args(1)), Bulk("f"), Bulk(value(args(1))))))
      }
    }, seed = 15)
    try {
      val keys = keyFrame(bad.indices.map(i => s"b:$i"): _*)
      val values = RedduckFunctions.withRedisValues(keys, "key", batchSize = 3, hostPort = Some("127.0.0.1" -> stub.port))
        .selectExpr("cast(value AS binary)").collect().map(_.getAs[Array[Byte]](0))
      assert(values.map(_.toSeq).toSeq == bad.map(_.toSeq))
      val fields = RedduckFunctions.withHashFields(keys, "key", hostPort = Some("127.0.0.1" -> stub.port))
        .selectExpr("transform(map_keys(hash), f -> cast(f AS binary))", "cast(hash['f'] AS binary)").collect()
      assert(fields.map(r => (r.getSeq[Array[Byte]](0).map(_.toSeq), r.getAs[Array[Byte]](1).toSeq)).toSeq ==
        bad.map(b => (Seq(b.toSeq, "f".getBytes(UTF_8).toSeq).sortWith((x, y) =>
          java.util.Arrays.compareUnsigned(x.toArray, y.toArray) < 0), b.toSeq)))
    } finally stub.close()
  }

  test("the kv writer reads a batch's SET replies in place: the first error fails the batch, a RESP3 push between replies is skipped") {
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "HELLO" => RespCodec.encode(Mp(Vector(Bulk("proto") -> Int64(3))))
        case "SET" => new String(args(1), UTF_8) match {
          case "w:push" => RespCodec.encode(Push(Vector(Bulk("invalidate")))) ++ RespCodec.encode(Simple("OK"))
          case k if k.startsWith("w:bad") => RespCodec.encode(Err(s"ERR refused $k"))
          case _ => RespCodec.encode(Simple("OK"))
        }
      }
    }, seed = 16)
    def write(keys: String*): WriterCommitMessageOrError = {
      val w = new RedisDataWriterFactory("127.0.0.1", stub.port, 100, graft.net.RedisLink(resp3 = true))
        .createWriter(0, 0)
      try {
        keys.foreach(k => w.write(org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(k), org.apache.spark.unsafe.types.UTF8String.fromString("v"))))
        Right(w.commit())
      } catch { case e: java.io.IOException => Left(e.getMessage) } finally w.close()
    }
    try {
      assert(write("w:0", "w:push", "w:1") == Right(RedisWriteCommit(3)))
      stub.received.clear()
      assert(write("w:0", "w:bad1", "w:2", "w:bad2", "w:3") == Left("SET failed: ERR refused w:bad1"))
      assert(stub.received.asScala.count(_._1 == "SET") == 5)
    } finally stub.close()
  }

  private type WriterCommitMessageOrError = Either[String, org.apache.spark.sql.connector.write.WriterCommitMessage]

  // ---- redis-stream pages: one in-place XRANGE reader ----

  /** A range reader of stream `s` on `port`, from its start, `page` entries a page. */
  private def rangeReader(port: Int, page: Int = 10, link: graft.net.RedisLink = graft.net.RedisLink(),
      emitStream: Boolean = false) =
    RedisMultiStreamMicroBatch.readerFactory.createColumnarReader(
      RedisStreamRange("127.0.0.1", port, "s", "0-0", "+", page, link, emitStream))

  /** An XRANGE page of `n` entries of one 3 KB field each. */
  private def xrangePage(n: Int): Array[Byte] = RespCodec.encode(Arr((1 to n).map(i =>
    Arr(Vector(Bulk(s"1-$i"), Arr(Vector(Bulk("f"), Bulk("v" * 3000)))))).toVector))

  test("property: XRANGE pages read in place equal a reference walk over decode, through the range reader and the xrange wrapper") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.net.RedisCommands
    val genBytes: Gen[Array[Byte]] = Gen.frequency(
      1 -> Gen.const(Array.emptyByteArray),
      // mostly invalid UTF-8, with CRs and LFs
      3 -> Gen.listOf(Gen.oneOf(Gen.choose(Byte.MinValue, Byte.MaxValue), Gen.oneOf('\r'.toByte, '\n'.toByte)))
        .map(_.toArray),
      2 -> Gen.alphaNumStr.map(s => (s + "é✓😀").getBytes(UTF_8)),
      1 -> Gen.choose(0, 4096).map(n => Array.tabulate[Byte](n)(i => (i * 7).toByte)))
    // a small pool of names, so that entries repeat them
    val genName: Gen[Array[Byte]] = Gen.frequency(
      3 -> Gen.oneOf(Seq("a", "b", "é", "😀").map(_.getBytes(UTF_8)) :+ Array[Byte](-1, 13)),
      1 -> genBytes)
    val genEntry: Gen[RespValue] = for {
      ms <- Gen.choose(0L, Long.MaxValue)
      seq <- Gen.choose(0L, 99L)
      simpleId <- Gen.oneOf(false, true)
      n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 8))
      fields <- Gen.listOfN(n, Gen.zip(genName, genBytes))
    } yield Arr(Vector(if (simpleId) Simple(s"$ms-$seq") else Bulk(s"$ms-$seq"),
      Arr(fields.flatMap { case (f, v) => Vector(Bulk(f), Bulk(v)) }.toVector)))
    val genPage = Gen.choose(0, 30).flatMap(Gen.listOfN(_, genEntry)).map(es => Arr(es.toVector))

    def bytes(v: RespValue): Seq[Byte] = v match {
      case b: Bulk => b.bytes.toSeq
      case Simple(s) => s.getBytes(UTF_8).toSeq
      case o => fail(o.toString)
    }
    /** The reference: `decode`'s tree walked into each entry's id and field/value pairs. */
    def reference(reply: Array[Byte]): Seq[(Seq[Byte], Seq[(Seq[Byte], Seq[Byte])])] =
      RespCodec.decodeFrame(reply, 0, reply.length) match {
        case Arr(es) => es.map {
          case Arr(Vector(id, Arr(fv))) => (bytes(id), fv.grouped(2).map(p => (bytes(p(0)), bytes(p(1)))).toSeq)
          case o => fail(o.toString)
        }
        case o => fail(o.toString)
      }
    /** A map row: names in reply order, a repeated one at its first position with its last value. */
    def mapRow(fields: Seq[(Seq[Byte], Seq[Byte])]): Seq[(Seq[Byte], Seq[Byte])] = {
      val last = fields.toMap
      fields.map(_._1).distinct.map(n => (n, last(n)))
    }
    def text(b: Seq[Byte]): String = new String(b.toArray, UTF_8)

    val attribute = "|1\r\n+ttl\r\n:3\r\n".getBytes(UTF_8)
    val push = RespCodec.encode(Push(Vector(Bulk("invalidate"), Arr(Vector(Bulk("x"))))))
    @volatile var wire: Array[Byte] = null
    val stub = new ChunkedStub({ args =>
      new String(args.head, UTF_8) match {
        case "HELLO" => RespCodec.encode(Mp(Vector((Bulk("proto"), Int64(3)))))
        case "XRANGE" => wire
      }
    }, seed = 21)
    // the stub serves one connection at a time: each read opens and
    // closes its own
    try Seq(false, true).foreach { resp3 =>
      val link = graft.net.RedisLink(resp3 = resp3)
      (0 until 60).foreach { i =>
        val page = genPage(Gen.Parameters.default, Seed(i.toLong)).get
        // RESP3: an attribute on the reply, or a push before it
        val reply = (if (resp3 && i % 3 == 0) attribute else Array.emptyByteArray) ++ RespCodec.encode(page)
        wire = (if (resp3 && i % 3 == 1) push else Array.emptyByteArray) ++ reply
        val expected = reference(reply)

        val emitStream = i % 2 == 1
        val reader = rangeReader(stub.port, page = 1000, link = link, emitStream = emitStream)
        try {
          val rows = if (!reader.next()) Nil else {
            val b = reader.get()
            val at = if (emitStream) 1 else 0
            (0 until b.numRows()).map { r =>
              if (emitStream) assert(b.column(0).getUTF8String(r).toString == "s")
              (b.column(at).getUTF8String(r).getBytes.toSeq, entries(b.column(at + 1), r))
            }
          }
          assert(!reader.next(), "one page shorter than the page size ends the range")
          assert(rows == expected.map { case (id, fs) => (id, mapRow(fs)) }, s"sample $i, resp3=$resp3")
        } finally reader.close()

        val conn = new graft.net.RedisConnection("127.0.0.1", stub.port, link)
        try assert(RedisCommands.xrange(conn, "s", "-", "+") == expected.map { case (id, fs) =>
          RedisCommands.StreamEntry(text(id), fs.map { case (f, v) => (text(f), text(v)) })
        }, s"sample $i, resp3=$resp3")
        finally conn.close()
      }
    } finally stub.close()
  }

  test("an XRANGE reply with an unpaired field or a nil value fails the batch redis-stream read, naming XRANGE") {
    Seq("*1\r\n*2\r\n$3\r\n1-1\r\n*3\r\n$1\r\na\r\n$1\r\nx\r\n$1\r\nb\r\n",
        "*1\r\n*2\r\n$3\r\n1-1\r\n*4\r\n$1\r\na\r\n$1\r\nx\r\n$1\r\nb\r\n$-1\r\n").foreach { xrange =>
      val stub = new ChunkedStub({ args =>
        new String(args.head, UTF_8) match {
          case "XREVRANGE" => "*1\r\n*2\r\n$3\r\n1-1\r\n*2\r\n$1\r\na\r\n$1\r\nx\r\n".getBytes(UTF_8)
          case "XRANGE" => xrange.getBytes(UTF_8)
        }
      }, seed = 15)
      try {
        val e = intercept[Exception](spark.read.format("redis-stream")
          .option("host", "127.0.0.1").option("port", stub.port.toString).option("stream", "s").load().collect())
        assert(chain(e).contains("unexpected XRANGE reply"), chain(e))
      } finally stub.close()
    }
  }

  test("a connection closed inside an XRANGE page fails the range reader's next(), never a short batch") {
    Seq(1, 100, 4001, -2).foreach { cut =>
      val s = new ChunkedStub({ _ =>
        val page = xrangePage(3)
        page.take(if (cut < 0) page.length + cut else cut)
      }, seed = 16, closeAfterReply = Set("XRANGE"))
      val reader = rangeReader(s.port)
      try intercept[java.io.IOException](reader.next())
      finally { reader.close(); s.close() }
    }
  }

  test("an XRANGE page that stalls mid-frame fails the range reader's next() at the socket timeout") {
    val s = new ChunkedStub(_ => xrangePage(3).dropRight(5), seed = 17)
    val reader = rangeReader(s.port)
    val t0 = System.nanoTime()
    try {
      intercept[java.net.SocketTimeoutException](reader.next())
      assert(System.nanoTime() - t0 >= 4000000000L, "failed before the 5 s socket timeout")
    } finally { reader.close(); s.close() }
  }

  test("-LOADING in place of an XRANGE page fails the range reader, naming XRANGE and the error") {
    val err = "LOADING Redis is loading the dataset in memory"
    val s = new ChunkedStub(_ => RespCodec.encode(Err(err)), seed = 18)
    val reader = rangeReader(s.port)
    try assert(intercept[java.io.IOException](reader.next()).getMessage.contains(s"XRANGE error: $err"))
    finally { reader.close(); s.close() }
  }

  test("a connection closed inside the capped admission probe fails latestOffset, and the streaming query with it") {
    val s = new ChunkedStub(_ => xrangePage(3).take(100), seed = 19, closeAfterReply = Set("XRANGE"))
    try {
      val opts = RedisSources.parseOptions(Map("host" -> "127.0.0.1", "port" -> s.port.toString).asJava)
      val sopts = RedisStreamEntries.parseStreamOptions(Map("stream" -> "s", "maxEntriesPerTrigger" -> "5").asJava)
      val stream = new RedisMultiStreamMicroBatch(opts, sopts)
      try intercept[java.io.IOException](stream.latestOffset(stream.initialOffset(), stream.getDefaultReadLimit))
      finally stream.stop()

      val q = spark.readStream.format("redis-stream")
        .option("host", "127.0.0.1").option("port", s.port.toString)
        .option("stream", "s").option("maxEntriesPerTrigger", "5").load()
        .writeStream.format("noop").start()
      try {
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(60000))
        assert(chain(e).contains("connection closed by server"), chain(e))
      } finally q.stop()
    } finally s.close()
  }
}
