package graft.resp

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** RESP2/RESP3 wire codec.
  *
  * Framing and decoding are separate steps. [[FrameWalk]] finds where a
  * frame ends without decoding it: it reads only the headers, skips bulk
  * payloads, allocates nothing, and resumes where it stopped when more
  * bytes arrive. A reader therefore waits until a whole frame is buffered
  * and decodes it once, either with `decode` into the [[RespValue]] ADT or,
  * for the four hot reply shapes (a SCAN page, an MGET array, an HGETALL
  * hash and an XRANGE page), with [[readScanReply]]/[[readArrayReply]]/
  * [[readMapReply]]/[[readEntriesReply]] as views into the buffer. `decode`
  * itself returns `Incomplete` when the buffer ends mid-frame and starts
  * over from the frame's first byte on the next call. This fixes the
  * reference's single-`recv` fragmentation bug
  * (/root/reference/src/transport/redis_client.cpp:127-148, where a
  * fragmented reply aborts with "Parsed 0 objects"). Numeric parse
  * failures are hard errors, not silently swallowed (reference bug at
  * resp_parser.cpp:19-22), and a length outside -1..Int.MaxValue fails
  * rather than wrapping.
  */
object RespCodec {

  sealed trait DecodeResult
  /** One complete value; `next` = offset just past its final CRLF. */
  final case class Decoded(value: RespValue, next: Int) extends DecodeResult
  /** Buffer ends mid-frame — read more bytes and retry. */
  case object Incomplete extends DecodeResult

  final class ProtocolException(msg: String) extends RuntimeException(msg)

  /** Encode a command as a RESP array of bulk strings
    * (≈ the reference's `BuildScan`/`BuildGet`, resp_parser.cpp:146-174,
    * but generic over any command).
    */
  def encodeCommand(args: Seq[String]): Array[Byte] = {
    val out = new CommandBuffer()
    out.command(args)
    out.toByteArray
  }

  /** Number of decimal digits of `n` ≥ 0. */
  private def digits(n: Int): Int = {
    var d = 1
    var v = n
    while (v >= 10) { v /= 10; d += 1 }
    d
  }

  /** Growable buffer of encoded commands: bulk arguments go in straight
    * from the bytes they are held in, and lengths are written as ASCII
    * digits, with no `String` in between. Several commands in one buffer
    * go out as one pipelined write.
    */
  final class CommandBuffer(initialSize: Int = 256) {
    private var buf = new Array[Byte](math.max(initialSize, 16))
    private var len = 0

    def clear(): Unit = len = 0

    /** `*n\r\n`: a command of `n` arguments follows. */
    def header(n: Int): Unit = {
      val d = digits(n)
      ensure(d + 3L)
      number('*', n, d)
    }

    def bulk(b: Array[Byte], off: Int, n: Int): Unit = {
      bulkHeader(n)
      System.arraycopy(b, off, buf, len, n)
      len += n
      crlf()
    }
    def bulk(b: Array[Byte]): Unit = bulk(b, 0, b.length)
    def bulk(s: String): Unit = bulk(s.getBytes(UTF_8))
    def bulk(s: UTF8String): Unit = {
      val n = s.numBytes
      bulkHeader(n)
      s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
      len += n
      crlf()
    }

    /** One whole command. */
    def command(args: Seq[String]): Unit = { header(args.length); args.foreach(bulk(_: String)) }

    def writeTo(out: java.io.OutputStream): Unit = out.write(buf, 0, len)
    def toByteArray: Array[Byte] = if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)

    /** `$n\r\n`, with room after it for the payload and its CRLF. */
    private def bulkHeader(n: Int): Unit = {
      val d = digits(n)
      ensure(d + n + 5L)
      number('$', n, d)
    }
    /** Type byte, the `d` digits of `n`, CRLF. */
    private def number(t: Char, n: Int, d: Int): Unit = {
      buf(len) = t.toByte
      var i = len + 1 + d
      len = i
      var v = n
      do { i -= 1; buf(i) = ('0' + v % 10).toByte; v /= 10 } while (v > 0)
      crlf()
    }
    private def crlf(): Unit = { buf(len) = '\r'; buf(len + 1) = '\n'; len += 2 }
    private def ensure(n: Long): Unit = {
      val want = len + n
      if (want > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.min(Int.MaxValue - 8L, math.max(want, buf.length * 2L)).toInt)
    }
  }

  /** Encode any RespValue back to wire bytes (used by the hermetic test
    * server and the ScalaCheck round-trip property).
    */
  def encode(v: RespValue): Array[Byte] = {
    import RespValue._
    val out = new java.io.ByteArrayOutputStream(64)
    def w(s: String): Unit = out.write(s.getBytes(UTF_8))
    def go(v: RespValue): Unit = v match {
      case Simple(s) => w(s"+$s\r\n")
      case Err(m) => w(s"-$m\r\n")
      case Int64(n) => w(s":$n\r\n")
      case Dbl(d) => w(s",$d\r\n")
      case Bool(b) => w(if (b) "#t\r\n" else "#f\r\n")
      case BigNumber(d) => w(s"($d\r\n")
      case b: Bulk =>
        w(s"$$${b.bytes.length}\r\n"); out.write(b.bytes); w("\r\n")
      case Verbatim(f, s) =>
        val payload = s"$f:$s"
        w(s"=${payload.getBytes(UTF_8).length}\r\n$payload\r\n")
      case Null => w("$-1\r\n")
      case Arr(items) => w(s"*${items.length}\r\n"); items.foreach(go)
      case Mp(es) => w(s"%${es.length}\r\n"); es.foreach { case (k, vv) => go(k); go(vv) }
      case St(items) => w(s"~${items.length}\r\n"); items.foreach(go)
      case Push(items) => w(s">${items.length}\r\n"); items.foreach(go)
    }
    go(v)
    out.toByteArray
  }

  /** Offset of the CRLF that ends the line starting at `from`, or -1 if
    * `buf[from, end)` holds no CRLF.
    */
  private def lineEnd(buf: Array[Byte], from: Int, end: Int): Int = {
    var i = from
    while (i + 1 < end) {
      if (buf(i) == '\r' && buf(i + 1) == '\n') return i
      i += 1
    }
    -1
  }

  /** The decimal integer in `buf[from, to)`, read like
    * `java.lang.Long.parseLong` but without building a `String`.
    */
  private def parseLong(buf: Array[Byte], from: Int, to: Int): Long = {
    def bad(): Nothing = throw new ProtocolException(
      s"invalid RESP integer: '${new String(buf, from, to - from, UTF_8)}'")
    var i = from
    val neg = i < to && buf(i) == '-'
    if (i < to && (neg || buf(i) == '+')) i += 1
    if (i == to) bad()
    // accumulate negatively, so Long.MinValue parses too
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    var acc = 0L
    while (i < to) {
      val d = buf(i) - '0'
      if (d < 0 || d > 9 || acc < limit / 10) bad()
      acc *= 10
      if (acc < limit + d) bad()
      acc -= d
      i += 1
    }
    if (neg) acc else -acc
  }

  /** A length header: -1 (nil) up to Int.MaxValue. Anything else is a
    * protocol error, never a length wrapped to an Int.
    */
  private def parseLength(buf: Array[Byte], from: Int, to: Int): Int = {
    val n = parseLong(buf, from, to)
    if (n < -1 || n > Int.MaxValue) throw new ProtocolException(s"RESP length out of range: $n")
    n.toInt
  }

  private def bulkNotTerminated(): Nothing =
    throw new ProtocolException("bulk string not CRLF-terminated")

  private def unknownType(t: Byte): Nothing = {
    val c = (t & 0xff).toChar
    throw new ProtocolException(f"unknown RESP type byte '$c' (0x${t & 0xff}%02x)")
  }

  /** Resumable walk over one frame's headers. It finds where the frame
    * ends without decoding it: bulk payloads are skipped, not read, and
    * nothing is allocated. `advance` returns -1 when the buffer ends
    * inside the frame; calling it again once more bytes have arrived
    * resumes at the element it stopped on.
    */
  final class FrameWalk {
    private var pos = 0
    private var left = 0L

    /** Walk `values` values (one frame: 1) starting at `start`. */
    def reset(start: Int, values: Long = 1L): Unit = { pos = start; left = values }

    /** The buffer's bytes moved `by` towards its start. */
    def shift(by: Int): Unit = pos -= by

    /** Offset just past the walked values in `buf[.., end)`, or -1 when
      * the buffer ends before them.
      */
    def advance(buf: Array[Byte], end: Int): Int = {
      while (left > 0) {
        if (pos >= end) return -1
        val eol = lineEnd(buf, pos + 1, end)
        if (eol < 0) return -1
        val t = buf(pos).toChar
        (t: @annotation.switch) match {
          case '$' | '=' =>
            val n = parseLength(buf, pos + 1, eol)
            if (n < 0) pos = eol + 2
            else {
              if (eol + 4L + n > end) return -1
              val crlf = eol + 2 + n
              if (buf(crlf) != '\r' || buf(crlf + 1) != '\n') bulkNotTerminated()
              pos = crlf + 2
            }
          case '*' | '~' | '>' | '%' | '|' =>
            val n = math.max(parseLength(buf, pos + 1, eol), 0).toLong
            pos = eol + 2
            // a map holds 2n values; an attribute's 2n entries are
            // followed by the value it annotates
            left += (if (t == '%') 2 * n else if (t == '|') 2 * n + 1 else n)
          case '+' | '-' | ':' | ',' | '#' | '(' | '_' => pos = eol + 2
          case _ => unknownType(buf(pos))
        }
        left -= 1
      }
      pos
    }
  }

  /** Length of the one frame at `buf[start, end)`, or -1 when the buffer
    * ends inside it.
    */
  def frameLength(buf: Array[Byte], start: Int, end: Int): Int = {
    val w = new FrameWalk
    w.reset(start)
    val e = w.advance(buf, end)
    if (e < 0) -1 else e - start
  }

  /** Elements of one flat array reply, as views into the buffer it was
    * read from: element `i` is `buf[offset(i), offset(i) + length(i))`,
    * and `length(i)` is -1 for a nil. The views are valid until that
    * buffer is read into again. The arrays are reused across replies.
    */
  final class ArrayView {
    private var offs = new Array[Int](64)
    private var lens = new Array[Int](64)
    private var n = 0
    private var bytes = 0L
    private var data: Array[Byte] = Array.emptyByteArray

    def buf: Array[Byte] = data
    def size: Int = n
    /** Total bytes of the non-nil elements. */
    def payload: Long = bytes
    def offset(i: Int): Int = offs(i)
    def length(i: Int): Int = lens(i)
    def isNil(i: Int): Boolean = lens(i) < 0
    def string(i: Int): String = new String(data, offs(i), lens(i), UTF_8)

    /** Empties the view, for elements read from `b`. */
    def reset(b: Array[Byte]): Unit = { data = b; n = 0; bytes = 0L }
    private[RespCodec] def add(off: Int, len: Int): Unit = {
      if (n == offs.length) {
        offs = java.util.Arrays.copyOf(offs, n * 2)
        lens = java.util.Arrays.copyOf(lens, n * 2)
      }
      offs(n) = off; lens(n) = len; n += 1
      if (len > 0) bytes += len
    }
  }

  /** Runs of field/value pairs, one per reply row: row `j`'s are elements
    * [from(j), to(j)) of view(j), each name followed by its value.
    */
  trait FieldRuns {
    def view(j: Int): ArrayView
    def from(j: Int): Int
    def to(j: Int): Int
  }

  /** The entries of one XRANGE/XREVRANGE reply, as views into the buffer
    * it was read from: entry `i`'s id is element `i` of [[ids]], and its
    * fields are its run of [[fields]]. Valid until that buffer is read into
    * again; the arrays are reused across replies.
    */
  final class EntriesView extends FieldRuns {
    val ids = new ArrayView
    val fields = new ArrayView
    private var ends = new Array[Int](64)

    def size: Int = ids.size
    def id(i: Int): String = ids.string(i)
    /** Entry `i`'s fields as `String`s, in reply order. */
    def fieldStrings(i: Int): Seq[(String, String)] =
      (from(i) until to(i) by 2).map(k => fields.string(k) -> fields.string(k + 1))
    def view(i: Int): ArrayView = fields
    def from(i: Int): Int = if (i == 0) 0 else ends(i - 1)
    def to(i: Int): Int = ends(i)

    private[RespCodec] def reset(b: Array[Byte]): Unit = { ids.reset(b); fields.reset(b) }
    /** Ends the entry whose id was added last. */
    private[RespCodec] def endEntry(): Unit = {
      val i = size - 1
      if (i == ends.length) ends = java.util.Arrays.copyOf(ends, 2 * i)
      ends(i) = fields.size
    }
  }

  /** Reads one buffered frame's headers in place, with the bounds and
    * CRLF checks of `decode`.
    */
  private final class InPlace(buf: Array[Byte], var pos: Int, end: Int) {
    /** Content of the last header line read: `buf[lineStart, lineEnd)`. */
    var lineStart, lineEnd = 0

    /** Type byte of the next value, past any RESP3 attribute before it
      * (attributes annotate the value that follows and are discarded, as
      * in `decode`).
      */
    def peek(): Char = {
      if (pos >= end) truncated()
      while (buf(pos) == '|') {
        val n = length()
        val w = new FrameWalk
        w.reset(pos, 2L * math.max(n, 0))
        pos = w.advance(buf, end)
        if (pos < 0 || pos >= end) truncated()
      }
      buf(pos).toChar
    }
    /** Moves past the current header line. */
    def line(): Unit = {
      lineStart = pos + 1
      lineEnd = RespCodec.lineEnd(buf, lineStart, end)
      if (lineEnd < 0) truncated()
      pos = lineEnd + 2
    }
    /** Moves past a bulk or simple string, its content then being
      * `buf[lineStart, lineEnd)`; false when the next value is another one
      * or a nil.
      */
    def string(): Boolean = peek() match {
      case '$' =>
        val n = length()
        n >= 0 && { lineStart = payload(n); lineEnd = lineStart + n; true }
      case '+' => line(); true
      case _ => false
    }
    /** The current header line's content as a length; moves past it. */
    def length(): Int = { line(); parseLength(buf, lineStart, lineEnd) }
    /** After a `$n` header: offset of the payload; moves past it. */
    def payload(n: Int): Int = {
      val off = pos
      if (off + 2L + n > end) truncated()
      if (buf(off + n) != '\r' || buf(off + n + 1) != '\n') bulkNotTerminated()
      pos = off + n + 2
      off
    }
    private def truncated(): Nothing = throw new ProtocolException("RESP frame truncated")
  }

  /** Reads the array at `r` into `view`, behind the elements it holds:
    * bulk elements, plus `+simple` ones when `simple`, or nils (`$-1`,
    * `*-1`, `_`) when `nils`. With `maps`, a RESP3 `%` map of m pairs reads
    * as its 2m keys and values, and a `*` array must have an even length.
    * False when the reply is anything else.
    */
  private def readArray(r: InPlace, view: ArrayView, simple: Boolean, nils: Boolean,
      maps: Boolean = false): Boolean = {
    val t = r.peek()
    if (t != '*' && !(maps && t == '%')) return false
    val m = r.length()
    if (m < 0 || (maps && t == '*' && m % 2 != 0)) return false
    val n = if (t == '%') 2L * m else m.toLong
    var i = 0L
    while (i < n) {
      (r.peek(): @annotation.switch) match {
        case '$' =>
          val len = r.length()
          if (len >= 0) view.add(r.payload(len), len)
          else if (nils) view.add(0, -1)
          else return false
        case '+' if simple => r.line(); view.add(r.lineStart, r.lineEnd - r.lineStart)
        case '_' if nils => r.line(); view.add(0, -1)
        case '*' if nils => if (r.length() == -1) view.add(0, -1) else return false
        case _ => return false
      }
      i += 1
    }
    true
  }

  /** Reads the whole frame `buf[start, end)` as a SCAN reply, `*2` of a
    * cursor and an array of keys (bulk or simple strings), without
    * decoding it: the keys land in `keys` as views. Returns the cursor,
    * or null when the frame has another shape (an error reply, a nil
    * key...); the caller decodes such a frame with `decode` to report it.
    */
  def readScanReply(buf: Array[Byte], start: Int, end: Int, keys: ArrayView): String = {
    val r = new InPlace(buf, start, end)
    if (r.peek() != '*' || r.length() != 2 || !r.string()) return null
    val cursor = new String(buf, r.lineStart, r.lineEnd - r.lineStart, UTF_8)
    keys.reset(buf)
    if (readArray(r, keys, simple = true, nils = false)) cursor else null
  }

  /** Reads the whole frame `buf[start, end)` as an MGET reply, an array
    * of bulk strings and nils, into `values` as views. False when the
    * frame has another shape; the caller decodes it to report it.
    */
  def readArrayReply(buf: Array[Byte], start: Int, end: Int, values: ArrayView): Boolean = {
    values.reset(buf)
    readArray(new InPlace(buf, start, end), values, simple = false, nils = true)
  }

  /** Reads the whole frame `buf[start, end)` as an HGETALL reply, a RESP2
    * flat array of 2m bulk strings or a RESP3 map of m pairs, appending
    * its fields to `fields` (reset to `buf`) as views: each key, then its
    * value. False when the frame has another shape (an error reply
    * appends nothing); the caller decodes it to report it.
    */
  def readMapReply(buf: Array[Byte], start: Int, end: Int, fields: ArrayView): Boolean = {
    require(fields.buf eq buf, "fields must be reset to the buffer read")
    readArray(new InPlace(buf, start, end), fields, simple = false, nils = false, maps = true)
  }

  /** Reads the whole frame `buf[start, end)` as an XRANGE/XREVRANGE reply,
    * an array of `*2` entries of an id (bulk or simple string) and a flat
    * array of bulk field names and values, into `entries` as views. False
    * when the frame has another shape, a nil or non-bulk field or an odd
    * field list included; the caller decodes it to report it.
    */
  def readEntriesReply(buf: Array[Byte], start: Int, end: Int, entries: EntriesView): Boolean = {
    entries.reset(buf)
    val r = new InPlace(buf, start, end)
    if (r.peek() != '*') return false
    val n = r.length()
    if (n < 0) return false
    var i = 0
    while (i < n) {
      if (r.peek() != '*' || r.length() != 2 || !r.string()) return false
      entries.ids.add(r.lineStart, r.lineEnd - r.lineStart)
      val from = entries.fields.size
      if (!readArray(r, entries.fields, simple = false, nils = false) || (entries.fields.size - from) % 2 != 0)
        return false
      entries.endEntry()
      i += 1
    }
    true
  }

  /** Decode the whole frame `buf[start, end)` that a [[FrameWalk]] found. */
  def decodeFrame(buf: Array[Byte], start: Int, end: Int): RespValue =
    decode(buf, start, end) match {
      case Decoded(v, _) => v
      case Incomplete => throw new ProtocolException("frame ended before its value")
    }

  /** Decode one value from `buf[start, end)`. */
  def decode(buf: Array[Byte], start: Int, end: Int): DecodeResult = {
    import RespValue._

    def lineStr(from: Int, to: Int): String = new String(buf, from, to - from, UTF_8)

    def go(pos: Int): DecodeResult = {
      if (pos >= end) return Incomplete
      val t = buf(pos).toChar
      val eol = lineEnd(buf, pos + 1, end)
      if (eol < 0) return Incomplete
      val from = pos + 1
      val after = eol + 2
      (t: @annotation.switch) match {
        case '+' => Decoded(Simple(lineStr(from, eol)), after)
        case '-' => Decoded(Err(lineStr(from, eol)), after)
        case ':' => Decoded(Int64(parseLong(buf, from, eol)), after)
        case ',' =>
          val d = lineStr(from, eol) match {
            case "inf" => Double.PositiveInfinity
            case "-inf" => Double.NegativeInfinity
            case "nan" => Double.NaN
            case s => try s.toDouble catch { case _: NumberFormatException =>
              throw new ProtocolException(s"invalid RESP double: '$s'") }
          }
          Decoded(Dbl(d), after)
        case '#' => lineStr(from, eol) match {
          case "t" => Decoded(Bool(true), after)
          case "f" => Decoded(Bool(false), after)
          case s => throw new ProtocolException(s"invalid RESP boolean: '$s'")
        }
        case '(' => Decoded(BigNumber(lineStr(from, eol)), after)
        case '_' => Decoded(Null, after)
        case '$' | '=' =>
          val n = parseLength(buf, from, eol)
          if (n == -1) Decoded(Null, after)
          else if (after + n + 2L > end) Incomplete
          else {
            if (buf(after + n) != '\r' || buf(after + n + 1) != '\n') bulkNotTerminated()
            val bytes = java.util.Arrays.copyOfRange(buf, after, after + n)
            val nxt = after + n + 2
            if (t == '$') Decoded(Bulk(bytes), nxt)
            else {
              val s = new String(bytes, UTF_8)
              val idx = s.indexOf(':')
              if (idx < 0) throw new ProtocolException("verbatim string missing format prefix")
              Decoded(Verbatim(s.substring(0, idx), s.substring(idx + 1)), nxt)
            }
          }
        case '*' | '~' | '>' =>
          val n = parseLength(buf, from, eol)
          if (n == -1) Decoded(Null, after)
          else {
            var pos2 = after
            val items = Vector.newBuilder[RespValue]
            var i = 0
            while (i < n) {
              go(pos2) match {
                case Decoded(v, nx) => items += v; pos2 = nx; i += 1
                case Incomplete => return Incomplete
              }
            }
            val vec = items.result()
            t match {
              case '*' => Decoded(Arr(vec), pos2)
              case '~' => Decoded(St(vec), pos2)
              case _ => Decoded(Push(vec), pos2)
            }
          }
        case '%' =>
          val n = parseLength(buf, from, eol)
          if (n < 0) throw new ProtocolException(s"negative map length $n")
          var pos2 = after
          val entries = Vector.newBuilder[(RespValue, RespValue)]
          var i = 0
          while (i < n) {
            go(pos2) match {
              case Decoded(k, nx1) => go(nx1) match {
                case Decoded(v, nx2) => entries += (k -> v); pos2 = nx2; i += 1
                case Incomplete => return Incomplete
              }
              case Incomplete => return Incomplete
            }
          }
          Decoded(Mp(entries.result()), pos2)
        case '|' =>
          // RESP3 attribute: decode as a map and DISCARD, then return the
          // value that follows (attributes annotate the next reply).
          val n = parseLength(buf, from, eol)
          var pos2 = after
          var i = 0
          while (i < n * 2L) {
            go(pos2) match {
              case Decoded(_, nx) => pos2 = nx; i += 1
              case Incomplete => return Incomplete
            }
          }
          go(pos2)
        case _ => unknownType(buf(pos))
      }
    }
    go(start)
  }
}
