package graft.sources

import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.resp.RespCodec
import graft.resp.RespValue._

/** The columnar reader against a reply far larger than the 16 KiB
  * receive buffer, delivered in random 1 B–4 KiB writes: whatever the
  * fragmentation, the vectors hold exactly the bytes that were sent.
  */
class RedisReadPathSpec extends AnyFunSuite {

  /** A RESP stub that answers each command (its arguments' bytes) with
    * `reply`, written in random 1 B–4 KiB chunks.
    */
  private final class ChunkedStub(reply: Seq[Array[Byte]] => Array[Byte], seed: Long)
      extends AutoCloseable {
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
            received.add((args.head match { case b: Bulk => b.text; case o => o.toString }, next < end))
            System.arraycopy(buf, next, buf, 0, end - next)
            end -= next
            chunked(out, reply(args.map { case b: Bulk => b.bytes; case o => fail(s"argument $o") }))
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
}
