package graft.resp

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import java.nio.charset.StandardCharsets.UTF_8

import RespValue._

/** Codec unit + property tests (SURVEY §5.3): golden wire fixtures from
  * FIXTURES.md §2, ScalaCheck round-trip, and per-byte fragmentation —
  * the bug class the reference's single-recv read breaks on
  * (/root/reference/src/transport/redis_client.cpp:127-148).
  */
class RespCodecSpec extends AnyFunSuite {

  /** Deterministic property driver (no scalatest-scalacheck bridge in the
    * offline dependency set): samples `n` values from the generator.
    */
  private def forAllSampled[T](gen: Gen[T], n: Int = 300)(check: T => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  private def decodeAll(bytes: Array[Byte]): RespValue =
    RespCodec.decode(bytes, 0, bytes.length) match {
      case RespCodec.Decoded(v, next) =>
        assert(next == bytes.length, "decode must consume the whole frame")
        assert(RespCodec.frameLength(bytes, 0, bytes.length) == bytes.length,
          "the frame walk must end where decode ends")
        v
      case RespCodec.Incomplete => fail("unexpected Incomplete")
    }

  // ---- golden wire fixtures (FIXTURES.md §2) ----
  val golden: Seq[(String, RespValue)] = Seq(
    "+PONG\r\n" -> Simple("PONG"),
    ":42\r\n" -> Int64(42),
    ",3.14\r\n" -> Dbl(3.14),
    "#t\r\n" -> Bool(true),
    "#f\r\n" -> Bool(false),
    "-ERR unknown\r\n" -> Err("ERR unknown"),
    "(3492890328409238509324850943850\r\n" -> BigNumber("3492890328409238509324850943850"),
    "$5\r\nhello\r\n" -> Bulk("hello"),
    "$-1\r\n" -> Null,
    "*2\r\n$1\r\n0\r\n*1\r\n$12\r\ntestkey:0001\r\n" ->
      Arr(Vector(Bulk("0"), Arr(Vector(Bulk("testkey:0001"))))))

  golden.foreach { case (wire, expected) =>
    test(s"golden decode: ${wire.replace("\r\n", "\\r\\n")}") {
      assert(decodeAll(wire.getBytes(UTF_8)) == expected)
    }
  }

  test("command encoder golden: GET k (reference BuildGet, resp_parser.cpp:165-174)") {
    assert(new String(RespCodec.encodeCommand(Seq("GET", "k")), UTF_8) ==
      "*2\r\n$3\r\nGET\r\n$1\r\nk\r\n")
  }

  test("command encoder golden: SCAN 0 MATCH p COUNT 2048 (BuildScan, resp_parser.cpp:146-163)") {
    assert(new String(RespCodec.encodeCommand(Seq("SCAN", "0", "MATCH", "p", "COUNT", "2048")), UTF_8) ==
      "*6\r\n$4\r\nSCAN\r\n$1\r\n0\r\n$5\r\nMATCH\r\n$1\r\np\r\n$5\r\nCOUNT\r\n$4\r\n2048\r\n")
  }

  test("RESP3 types decode explicitly (reference leaves them unparsed — SURVEY §7.5f)") {
    assert(decodeAll("%1\r\n$1\r\nk\r\n$1\r\nv\r\n".getBytes(UTF_8)) ==
      Mp(Vector(Bulk("k") -> Bulk("v"))))
    assert(decodeAll("~2\r\n:1\r\n:2\r\n".getBytes(UTF_8)) == St(Vector(Int64(1), Int64(2))))
    assert(decodeAll(">1\r\n+hi\r\n".getBytes(UTF_8)) == Push(Vector(Simple("hi"))))
    assert(decodeAll("=11\r\ntxt:Some tx\r\n".getBytes(UTF_8)) == Verbatim("txt", "Some tx"))
    assert(decodeAll("_\r\n".getBytes(UTF_8)) == Null)
  }

  test("attributes are decoded and discarded, returning the annotated reply") {
    assert(decodeAll("|1\r\n+k\r\n:1\r\n$2\r\nok\r\n".getBytes(UTF_8)) == Bulk("ok"))
  }

  test("unknown type byte raises, never a default value (SURVEY §1.2)") {
    intercept[RespCodec.ProtocolException] {
      RespCodec.decode("^oops\r\n".getBytes(UTF_8), 0, 7)
    }
  }

  test("invalid integer raises (reference swallows from_chars errors — §7.5c)") {
    intercept[RespCodec.ProtocolException] {
      RespCodec.decode(":12x\r\n".getBytes(UTF_8), 0, 6)
    }
  }

  test("lengths outside -1..Int.MaxValue raise, never wrap to an Int") {
    // 4294967297 = 2^32 + 1 would wrap to 1 (a 1-element array), and
    // 4294967301 = 2^32 + 5 to a 5-byte bulk
    Seq("*4294967297\r\n:1\r\n", "$4294967301\r\nhello\r\n", "$-2\r\n", "*-9223372036854775808\r\n")
      .foreach { wire =>
        val bytes = wire.getBytes(UTF_8)
        intercept[RespCodec.ProtocolException](RespCodec.decode(bytes, 0, bytes.length))
        intercept[RespCodec.ProtocolException](RespCodec.frameLength(bytes, 0, bytes.length))
      }
    Seq("*4294967297\r\n$1\r\na\r\n", "*1\r\n$4294967301\r\nhello\r\n").foreach { wire =>
      val bytes = wire.getBytes(UTF_8)
      intercept[RespCodec.ProtocolException](
        RespCodec.readArrayReply(bytes, 0, bytes.length, new RespCodec.ArrayView))
      val page = ("*2\r\n$1\r\n0\r\n" + wire).getBytes(UTF_8)
      intercept[RespCodec.ProtocolException](
        RespCodec.readScanReply(page, 0, page.length, new RespCodec.ArrayView))
    }
    // an integer reply is not a length: the whole Long range stays valid
    assert(decodeAll(":-9223372036854775808\r\n".getBytes(UTF_8)) == Int64(Long.MinValue))
    intercept[RespCodec.ProtocolException](
      RespCodec.decode(":9223372036854775808\r\n".getBytes(UTF_8), 0, 22))
  }

  test("frame walk and in-place readers keep decode's checks") {
    val unterminated = "*1\r\n$3\r\nabcXY".getBytes(UTF_8)
    intercept[RespCodec.ProtocolException](RespCodec.frameLength(unterminated, 0, unterminated.length))
    intercept[RespCodec.ProtocolException](
      RespCodec.readArrayReply(unterminated, 0, unterminated.length, new RespCodec.ArrayView))
    val badType = "*1\r\n^x\r\n".getBytes(UTF_8)
    intercept[RespCodec.ProtocolException](RespCodec.frameLength(badType, 0, badType.length))
    val badLength = "*1\r\n$1x\r\na\r\n".getBytes(UTF_8)
    intercept[RespCodec.ProtocolException](RespCodec.frameLength(badLength, 0, badLength.length))
    intercept[RespCodec.ProtocolException](
      RespCodec.readArrayReply(badLength, 0, badLength.length, new RespCodec.ArrayView))
  }

  test("in-place readers hand other shapes back for decode to report") {
    val view = new RespCodec.ArrayView
    Seq("-ERR no\r\n", "*-1\r\n", "*1\r\n:1\r\n", "*1\r\n*0\r\n", "*1\r\n+ok\r\n", "$2\r\nab\r\n")
      .foreach { wire =>
        val b = wire.getBytes(UTF_8)
        assert(!RespCodec.readArrayReply(b, 0, b.length, view), wire)
      }
    Seq("-ERR no\r\n", "*1\r\n$1\r\n0\r\n", "*2\r\n$1\r\n0\r\n*1\r\n$-1\r\n",
        "*2\r\n:0\r\n*0\r\n", "*2\r\n$1\r\n0\r\n~0\r\n")
      .foreach { wire =>
        val b = wire.getBytes(UTF_8)
        assert(RespCodec.readScanReply(b, 0, b.length, view) == null, wire)
      }
  }

  test("command encoder writes ASCII length headers for every argument source") {
    val cmds = new RespCodec.CommandBuffer(16)
    cmds.header(3)
    cmds.bulk("SET")
    cmds.bulk(org.apache.spark.unsafe.types.UTF8String.fromString("kéy"))
    cmds.bulk(Array[Byte](0, -1, 13, 10), 1, 3)
    val expected = "*3\r\n$3\r\nSET\r\n$4\r\nkéy\r\n$3\r\n".getBytes(UTF_8) ++ Array[Byte](-1, 13, 10, 13, 10)
    val out = new java.io.ByteArrayOutputStream
    cmds.writeTo(out)
    assert(out.toByteArray.sameElements(expected))
    val long = Seq("MGET") ++ (0 until 1000).map(i => "k" * (i % 37))
    assert(RespCodec.encodeCommand(long).sameElements(
      (s"*${long.length}\r\n" + long.map(a => s"$$${a.length}\r\n$a\r\n").mkString).getBytes(UTF_8)))
  }

  // ---- fragmentation: every strict prefix must be Incomplete ----
  test("every byte-level fragmentation point resumes correctly") {
    golden.foreach { case (wire, expected) =>
      val bytes = wire.getBytes(UTF_8)
      (0 until bytes.length).foreach { cut =>
        RespCodec.decode(bytes, 0, cut) match {
          case RespCodec.Incomplete => // expected: must wait for more bytes
          case RespCodec.Decoded(v, next) =>
            // a shorter frame may legitimately complete early only if it
            // consumed exactly the bytes of a full value — never happens
            // for our golden frames which are single complete values
            fail(s"decoded $v at cut=$cut/${bytes.length} (next=$next) for ${wire.take(12)}")
        }
      }
      assert(decodeAll(bytes) == expected)
    }
  }

  test("frame walk: every strict prefix is incomplete, the whole frame returns its length") {
    val frames = golden.map(_._1.getBytes(UTF_8)) ++ Seq(
      "|1\r\n+k\r\n:1\r\n$2\r\nok\r\n", "%1\r\n$1\r\nk\r\n$1\r\nv\r\n", "*0\r\n", "*-1\r\n",
      "*3\r\n$0\r\n\r\n_\r\n$4\r\n\r\n\r\n\r\n", ">1\r\n+hi\r\n").map(_.getBytes(UTF_8))
    frames.foreach { bytes =>
      // framed in a larger buffer, so the walk must stop at `end`, not at the array's length
      val buf = Array[Byte]('x', 'x') ++ bytes ++ "+next\r\n".getBytes(UTF_8)
      (0 until bytes.length).foreach { cut =>
        assert(RespCodec.frameLength(buf, 2, 2 + cut) == -1, s"cut=$cut of ${new String(bytes, UTF_8)}")
      }
      assert(RespCodec.frameLength(buf, 2, 2 + bytes.length) == bytes.length)
      assert(RespCodec.frameLength(buf, 2, buf.length) == bytes.length)
      // resumed byte by byte, the walk ends in the same place
      val w = new RespCodec.FrameWalk
      w.reset(2)
      var end = 2
      var at = w.advance(buf, end)
      while (at < 0) { end += 1; at = w.advance(buf, end) }
      assert(end == 2 + bytes.length && at == end)
    }
  }

  // ---- ScalaCheck round-trip over the full ADT ----
  private val genLeaf: Gen[RespValue] = Gen.oneOf(
    Gen.alphaNumStr.map(Simple(_)),
    Gen.alphaNumStr.map(s => Err(s"ERR $s")),
    Arbitrary.arbitrary[Long].map(Int64(_)),
    Gen.chooseNum(-1e9, 1e9).map(Dbl(_)),
    Arbitrary.arbitrary[Boolean].map(Bool(_)),
    Gen.listOf(Gen.numChar).map(ds => BigNumber(if (ds.isEmpty) "0" else ds.mkString)),
    Arbitrary.arbitrary[Array[Byte]].map(Bulk(_)),
    Gen.const(Null))

  private def genValue(depth: Int): Gen[RespValue] =
    if (depth == 0) genLeaf
    else Gen.frequency(
      6 -> genLeaf,
      2 -> Gen.listOfN(3, genValue(depth - 1)).map(l => Arr(l.toVector)),
      1 -> Gen.listOfN(2, Gen.zip(genValue(depth - 1), genValue(depth - 1)))
        .map(l => Mp(l.toVector)),
      1 -> Gen.listOfN(2, genValue(depth - 1)).map(l => St(l.toVector)))

  test("property: decode(encode(v)) == v") {
    forAllSampled(genValue(3)) { v =>
      val bytes = RespCodec.encode(v)
      assert(decodeAll(bytes) == v)
    }
  }

  test("property: pipelined frames decode back-to-back") {
    forAllSampled(Gen.listOfN(5, genValue(2)), n = 100) { vs =>
      val bytes = vs.flatMap(v => RespCodec.encode(v).toSeq).toArray
      var pos = 0
      val out = Vector.newBuilder[RespValue]
      while (pos < bytes.length) {
        RespCodec.decode(bytes, pos, bytes.length) match {
          case RespCodec.Decoded(v, next) => out += v; pos = next
          case RespCodec.Incomplete => fail("incomplete in complete stream")
        }
      }
      assert(out.result() == vs.toVector)
    }
  }

  // ---- the in-place SCAN/MGET readers ≡ decode ----
  private val genPayload: Gen[Array[Byte]] = Gen.frequency(
    2 -> Gen.const(Array.emptyByteArray),
    3 -> Gen.listOf(Gen.oneOf(Gen.choose(Byte.MinValue, Byte.MaxValue), Gen.oneOf('\r'.toByte, '\n'.toByte)))
      .map(_.toArray),
    2 -> Gen.alphaNumStr.map(s => (s + "\r\n" + s + "é✓😀").getBytes(UTF_8)))
  private val genElement: Gen[RespValue] = Gen.frequency(5 -> genPayload.map(Bulk(_)), 1 -> Gen.const(Null))

  test("property: in-place MGET reads yield decode's values and nils") {
    def wire(elems: Seq[RespValue], resp3: Boolean): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      out.write(s"*${elems.length}\r\n".getBytes(UTF_8))
      elems.foreach {
        case Null if resp3 => out.write("_\r\n".getBytes(UTF_8)) // RESP3 nil
        case v => out.write(RespCodec.encode(v))
      }
      out.toByteArray
    }
    forAllSampled(Gen.choose(0, 40).flatMap(Gen.listOfN(_, genElement))) { elems =>
      Seq(false, true).foreach { resp3 =>
        val bytes = wire(elems, resp3)
        val view = new RespCodec.ArrayView
        assert(RespCodec.readArrayReply(bytes, 0, bytes.length, view))
        val read = (0 until view.size).map { i =>
          if (view.isNil(i)) Null
          else Bulk(java.util.Arrays.copyOfRange(view.buf, view.offset(i), view.offset(i) + view.length(i)))
        }
        assert(Arr(read.toVector) == decodeAll(bytes))
        assert(view.payload == elems.collect { case b: Bulk => b.bytes.length.toLong }.sum)
      }
    }
  }

  test("property: in-place SCAN reads yield decode's cursor and keys") {
    val genKey: Gen[RespValue] = Gen.frequency(
      4 -> genPayload.map(Bulk(_)), 1 -> Gen.alphaNumStr.map(Simple(_)))
    val genPage = for {
      cursor <- Gen.oneOf(Gen.const(Bulk("0")), Gen.posNum[Long].map(n => Bulk(n.toString)), Gen.const(Simple("7")))
      n <- Gen.choose(0, 40)
      keys <- Gen.listOfN(n, genKey)
    } yield Arr(Vector(cursor, Arr(keys.toVector)))
    forAllSampled(genPage) { page =>
      val wire = RespCodec.encode(page)
      val view = new RespCodec.ArrayView
      val cursor = RespCodec.readScanReply(wire, 0, wire.length, view)
      val Arr(Vector(cur, Arr(keys))) = decodeAll(wire)
      assert(cursor == (cur match { case b: Bulk => b.text; case Simple(s) => s; case o => fail(o.toString) }))
      assert((0 until view.size).map(i =>
        java.util.Arrays.copyOfRange(view.buf, view.offset(i), view.offset(i) + view.length(i)).toSeq) ==
        keys.map { case b: Bulk => b.bytes.toSeq; case Simple(s) => s.getBytes(UTF_8).toSeq; case o => fail(o.toString) })
    }
  }

  test("property: in-place HGETALL reads of RESP2 arrays and RESP3 % maps yield decode's fields") {
    def bytes(v: RespValue): Seq[Byte] = v match { case b: Bulk => b.bytes.toSeq; case o => fail(o.toString) }
    forAllSampled(Gen.choose(0, 20).flatMap(Gen.listOfN(_, Gen.zip(genPayload, genPayload)))) { pairs =>
      val flat = Arr(pairs.flatMap { case (k, v) => Seq(Bulk(k), Bulk(v)) }.toVector)
      val map = Mp(pairs.map { case (k, v) => (Bulk(k): RespValue, Bulk(v): RespValue) }.toVector)
      // both replies back to back in one buffer, read into one view
      val first = RespCodec.encode(flat)
      val wire = first ++ RespCodec.encode(map)
      val view = new RespCodec.ArrayView
      view.reset(wire)
      assert(RespCodec.readMapReply(wire, 0, first.length, view))
      assert(RespCodec.readMapReply(wire, first.length, wire.length, view))
      val read = (0 until view.size).map(i =>
        java.util.Arrays.copyOfRange(view.buf, view.offset(i), view.offset(i) + view.length(i)).toSeq)
      val fromArray = decodeAll(first) match { case Arr(items) => items.map(bytes); case o => fail(o.toString) }
      val fromMap = decodeAll(RespCodec.encode(map)) match {
        case Mp(es) => es.flatMap { case (k, v) => Seq(bytes(k), bytes(v)) }
        case o => fail(o.toString)
      }
      assert(read == fromArray ++ fromMap)
      assert(view.payload == pairs.map { case (k, v) => k.length + v.length }.sum * 2L)
    }
    // other shapes: an error appends nothing; an odd array, a nil or a
    // non-bulk field is not a hash
    Seq("-WRONGTYPE no\r\n", "*1\r\n$1\r\na\r\n", "*-1\r\n", "%1\r\n$1\r\na\r\n:1\r\n", "_\r\n")
      .foreach { wire =>
        val b = wire.getBytes(UTF_8)
        val view = new RespCodec.ArrayView
        view.reset(b)
        assert(!RespCodec.readMapReply(b, 0, b.length, view), wire)
        if (wire.startsWith("-")) assert(view.size == 0)
      }
  }
}
