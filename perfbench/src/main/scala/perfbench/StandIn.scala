package perfbench

import java.net.InetSocketAddress
import java.nio.ByteBuffer
import java.nio.channels.{SelectionKey, Selector, ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Redis stand-in owned by the benchmark.
  *
  * Like Redis it serves every connection from one thread over one
  * selector, and its SCAN walks COUNT slots of the keyspace per page and
  * applies MATCH as a post-filter, so a page costs O(COUNT) whatever the
  * pattern selects. Slots are in insertion order; a cursor is a slot
  * index. It speaks the RESP subset the workloads send (PING, SCAN, GET,
  * MGET, SET) and counts its own work: commands, bytes in and out,
  * accepted connections, keys walked and returned, and its thread's CPU.
  *
  * `graft.net.FakeRedisServer` re-sorts the whole keyspace on every SCAN
  * page, which makes a 10⁵-key walk cost the server seconds; it stays
  * the fixture of the 10-key tests.
  */
final class StandIn extends AutoCloseable {
  private val keyspace = new Keyspace

  /** Load keys before [[start]]; the server thread owns the keyspace after. */
  def put(key: String, value: Array[Byte]): Unit = keyspace.put(key.getBytes(UTF_8), value)

  def clear(): Unit = keyspace.clear()

  /** Counters, written by the server thread only. */
  final class Counters {
    @volatile var commands, bytesIn, bytesOut, accepted, keysWalked, keysReturned = 0L
  }
  val counters = new Counters

  /** Reply frames and commands kept for replay while `capturing`. */
  @volatile var capturing = false
  private val captureLimitBytes = 32L << 20
  private val capturedReplies = new java.util.concurrent.ConcurrentLinkedQueue[Array[Byte]]()
  private val capturedCommands = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
  @volatile private var capturedBytes = 0L

  def replies: Seq[Array[Byte]] = { import scala.jdk.CollectionConverters._; capturedReplies.asScala.toSeq }
  def commands: Seq[Seq[String]] = { import scala.jdk.CollectionConverters._; capturedCommands.asScala.toSeq }

  private val server = ServerSocketChannel.open()
  private val selector = Selector.open()
  @volatile private var running = true
  private val thread = new Thread(() => loop(), "perfbench-standin")
  thread.setDaemon(true)

  def port: Int = server.socket().getLocalPort

  def start(): this.type = {
    server.bind(new InetSocketAddress("127.0.0.1", 0), 128)
    server.configureBlocking(false)
    server.register(selector, SelectionKey.OP_ACCEPT)
    thread.start()
    this
  }

  def threadId: Long = thread.getId

  /** CPU time the server thread has used, in ns. */
  def cpuNs: Long = java.lang.management.ManagementFactory.getThreadMXBean.getThreadCpuTime(thread.getId)

  override def close(): Unit = {
    running = false
    selector.wakeup()
    thread.join(10000)
    server.close()
  }

  private final class Conn(val ch: SocketChannel) {
    var in = new Array[Byte](64 * 1024)
    var inLen = 0
    val out = new Out
    /** `out` while it is being sent; no command runs until it is. */
    var pending: ByteBuffer = null
  }

  private def loop(): Unit = {
    try {
      while (running) {
        selector.select(200)
        val it = selector.selectedKeys().iterator()
        while (it.hasNext) {
          val k = it.next(); it.remove()
          if (k.isValid && k.isAcceptable) {
            val ch = server.accept()
            if (ch != null) {
              ch.configureBlocking(false)
              ch.socket().setTcpNoDelay(true)
              ch.register(selector, SelectionKey.OP_READ, new Conn(ch))
              counters.accepted += 1
            }
          } else if (k.isValid) {
            val c = k.attachment().asInstanceOf[Conn]
            try {
              if (k.isWritable) flush(k, c)
              if (k.isValid && k.isReadable) read(k, c)
            } catch {
              case _: java.io.IOException => k.cancel(); c.ch.close()
            }
          }
        }
      }
    } finally {
      selector.keys().forEach(k => try k.channel().close() catch { case _: Throwable => () })
      selector.close()
    }
  }

  private def read(k: SelectionKey, c: Conn): Unit = {
    if (c.inLen == c.in.length) c.in = java.util.Arrays.copyOf(c.in, c.in.length * 2)
    val n = c.ch.read(ByteBuffer.wrap(c.in, c.inLen, c.in.length - c.inLen))
    if (n < 0) { k.cancel(); c.ch.close(); return }
    c.inLen += n
    counters.bytesIn += n
    serve(k, c)
  }

  /** Runs every complete command received, then sends the replies. */
  private def serve(k: SelectionKey, c: Conn): Unit = {
    var pos = 0
    var next = parseCommand(c.in, pos, c.inLen)
    while (next != null) {
      execute(next._1, c.out)
      pos = next._2
      next = parseCommand(c.in, pos, c.inLen)
    }
    if (pos > 0) {
      System.arraycopy(c.in, pos, c.in, 0, c.inLen - pos)
      c.inLen -= pos
    }
    if (c.out.len > 0) {
      c.pending = c.out.buf.duplicate().flip()
      flush(k, c)
    }
  }

  private def flush(k: SelectionKey, c: Conn): Unit = if (c.pending != null) {
    counters.bytesOut += c.ch.write(c.pending)
    if (c.pending.hasRemaining) k.interestOps(SelectionKey.OP_WRITE)
    else {
      c.pending = null
      c.out.reset()
      k.interestOps(SelectionKey.OP_READ)
      if (c.inLen > 0) serve(k, c)
    }
  }

  /** One RESP array of bulk strings from `buf[start, end)`, or null when
    * the buffer ends mid-command.
    */
  private def parseCommand(buf: Array[Byte], start: Int, end: Int): (Array[Array[Byte]], Int) = {
    if (start >= end) return null
    if (buf(start) != '*') throw new java.io.IOException("stand-in expects RESP arrays")
    var p = start + 1
    def readInt(): Int = {
      var n = 0
      var neg = false
      if (p < end && buf(p) == '-') { neg = true; p += 1 }
      while (p < end && buf(p) != '\r') { n = n * 10 + (buf(p) - '0'); p += 1 }
      if (p + 1 >= end) return Int.MinValue
      p += 2
      if (neg) -n else n
    }
    val argc = readInt()
    if (argc == Int.MinValue) return null
    val args = new Array[Array[Byte]](argc)
    var i = 0
    while (i < argc) {
      if (p >= end) return null
      if (buf(p) != '$') throw new java.io.IOException("stand-in expects bulk-string arguments")
      p += 1
      val len = readInt()
      if (len == Int.MinValue || p + len + 2 > end) return null
      args(i) = java.util.Arrays.copyOfRange(buf, p, p + len)
      p += len + 2
      i += 1
    }
    (args, p)
  }

  private def str(b: Array[Byte]): String = new String(b, UTF_8)

  private def execute(args: Array[Array[Byte]], out: Out): Unit = {
    counters.commands += 1
    val from = out.len
    val name = new String(args(0), ISO_8859_1).toUpperCase
    name match {
      case "PING" => out.ascii("+PONG\r\n")
      case "GET" => bulkOrNil(keyspace.get(args(1)), out)
      case "MGET" =>
        out.header('*', args.length - 1)
        var i = 1
        while (i < args.length) { bulkOrNil(keyspace.get(args(i)), out); i += 1 }
      case "SET" =>
        keyspace.put(args(1), args(2))
        out.ascii("+OK\r\n")
      case "SCAN" => scan(args, out)
      case other => out.ascii(s"-ERR unknown command '$other'\r\n")
    }
    if (capturing && capturedBytes < captureLimitBytes) {
      capturedBytes += out.len - from
      capturedReplies.add(out.copy(from))
      capturedCommands.add(args.toSeq.map(str))
    }
  }

  private def bulkOrNil(v: Array[Byte], out: Out): Unit =
    if (v == null) out.ascii("$-1\r\n") else out.bulk(v)

  private var lastPattern: String = null
  private var lastGlob: Glob = null

  private def scan(args: Array[Array[Byte]], out: Out): Unit = {
    val from = str(args(1)).toInt
    var cursor = from
    var pattern = "*"
    var count = 10
    var i = 2
    while (i + 1 < args.length) {
      str(args(i)).toUpperCase match {
        case "MATCH" => pattern = str(args(i + 1))
        case "COUNT" => count = str(args(i + 1)).toInt
        case _ => () // TYPE: every key here is a string
      }
      i += 2
    }
    if (pattern != lastPattern) { lastPattern = pattern; lastGlob = Glob(pattern) }
    val stop = math.min(keyspace.size, cursor + math.max(count, 1))
    val hits = new java.util.ArrayList[Array[Byte]]()
    while (cursor < stop) {
      val k = keyspace.key(cursor)
      if (lastGlob.matches(k)) hits.add(k)
      cursor += 1
    }
    counters.keysWalked += math.max(0, stop - from)
    counters.keysReturned += hits.size
    out.header('*', 2)
    out.bulk((if (stop >= keyspace.size) "0" else stop.toString).getBytes(ISO_8859_1))
    out.header('*', hits.size)
    hits.forEach(k => out.bulk(k))
  }
}

/** Insertion-ordered keys with an open-addressing index, so a lookup
  * hashes the request's bytes and touches one table entry and one key.
  */
final class Keyspace {
  private var keys = new Array[Array[Byte]](1024)
  private var values = new Array[Array[Byte]](1024)
  var size = 0
  /** (hash << 32) | (slot + 1); 0 = empty. */
  private var table = new Array[Long](2048)

  def key(slot: Int): Array[Byte] = keys(slot)

  def clear(): Unit = {
    keys = new Array[Array[Byte]](1024); values = new Array[Array[Byte]](1024); size = 0
    table = new Array[Long](2048)
  }

  private def hash(k: Array[Byte]): Int = {
    val h = java.util.Arrays.hashCode(k)
    (h ^ (h >>> 16)) * 0x9E3779B9
  }

  private def find(k: Array[Byte], h: Int): Int = {
    val mask = table.length - 1
    var i = h & mask
    var e = table(i)
    while (e != 0 && !((e >>> 32).toInt == h && java.util.Arrays.equals(keys(e.toInt - 1), k))) {
      i = (i + 1) & mask
      e = table(i)
    }
    i
  }

  def get(k: Array[Byte]): Array[Byte] = {
    val e = table(find(k, hash(k)))
    if (e == 0) null else values(e.toInt - 1)
  }

  def put(k: Array[Byte], v: Array[Byte]): Unit = {
    val h = hash(k)
    val i = find(k, h)
    if (table(i) != 0) values(table(i).toInt - 1) = v
    else {
      if (size == keys.length) {
        keys = java.util.Arrays.copyOf(keys, size * 2)
        values = java.util.Arrays.copyOf(values, size * 2)
      }
      keys(size) = k; values(size) = v
      size += 1
      table(i) = (h.toLong << 32) | size
      if (size * 2 > table.length) rehash()
    }
  }

  private def rehash(): Unit = {
    table = new Array[Long](table.length * 2)
    var s = 0
    while (s < size) {
      val h = hash(keys(s))
      table(find(keys(s), h)) = (h.toLong << 32) | (s + 1)
      s += 1
    }
  }
}

/** Growable reply buffer, off-heap so a socket write copies it once. */
final class Out {
  var buf: ByteBuffer = ByteBuffer.allocateDirect(1 << 20)
  def len: Int = buf.position()
  def reset(): Unit = buf.clear()
  private def ensure(n: Int): Unit =
    if (buf.remaining < n) {
      val bigger = ByteBuffer.allocateDirect(math.max(buf.capacity * 2, buf.position + n))
      buf.flip()
      bigger.put(buf)
      buf = bigger
    }
  def ascii(s: String): Unit = {
    ensure(s.length)
    var i = 0
    while (i < s.length) { buf.put(s.charAt(i).toByte); i += 1 }
  }
  private val digits = new Array[Byte](12)
  def header(t: Char, n: Int): Unit = {
    ensure(14)
    buf.put(t.toByte)
    if (n < 0) ascii(n.toString)
    else {
      var i = digits.length
      var m = n
      do { i -= 1; digits(i) = ('0' + m % 10).toByte; m /= 10 } while (m > 0)
      buf.put(digits, i, digits.length - i)
    }
    buf.put('\r'.toByte).put('\n'.toByte)
  }
  def bulk(b: Array[Byte]): Unit = {
    header('$', b.length)
    ensure(b.length + 2)
    buf.put(b).put('\r'.toByte).put('\n'.toByte)
  }
  /** Bytes `from` until the current end, as an array. */
  def copy(from: Int): Array[Byte] = {
    val a = new Array[Byte](len - from)
    buf.get(from, a)
    a
  }
}

/** Redis glob (`*`, `?`, `[abc]`, `[^abc]`, `[a-z]`, `\x`) compiled once
  * per pattern; character classes become lookup tables.
  */
final class Glob private (kinds: Array[Int], lits: Array[Char], sets: Array[Array[Boolean]],
    negs: Array[Boolean]) {
  import Glob._
  private val last = kinds.length - 1

  private def one(t: Int, c: Int): Boolean = kinds(t) match {
    case Lit => lits(t) == c
    case AnyChar => true
    case _ => (c < 128 && sets(t)(c)) != negs(t)
  }

  /** Greedy match of a key's bytes, backtracking to the last star. */
  def matches(s: Array[Byte]): Boolean = {
    var t, i = 0
    var starT = -1
    var starI = 0
    while (i < s.length) {
      if (t <= last && kinds(t) == Star) {
        if (t == last) return true
        starT = t; starI = i; t += 1
      } else if (t <= last && one(t, s(i) & 0xff)) { t += 1; i += 1 }
      else if (starT >= 0) { starI += 1; i = starI; t = starT + 1 }
      else return false
    }
    while (t <= last && kinds(t) == Star) t += 1
    t > last
  }
}

object Glob {
  private final val Lit = 0
  private final val AnyChar = 1
  private final val Cls = 2
  private final val Star = 3

  def apply(p: String): Glob = {
    val kinds = scala.collection.mutable.ArrayBuffer[Int]()
    val lits = scala.collection.mutable.ArrayBuffer[Char]()
    val sets = scala.collection.mutable.ArrayBuffer[Array[Boolean]]()
    val negs = scala.collection.mutable.ArrayBuffer[Boolean]()
    def add(k: Int, c: Char = 0, set: Array[Boolean] = null, neg: Boolean = false): Unit = {
      kinds += k; lits += c; sets += set; negs += neg
    }
    var i = 0
    while (i < p.length) {
      p.charAt(i) match {
        case '*' => if (kinds.lastOption.forall(_ != Star)) add(Star); i += 1
        case '?' => add(AnyChar); i += 1
        case '\\' if i + 1 < p.length => add(Lit, p.charAt(i + 1)); i += 2
        case '[' =>
          val set = new Array[Boolean](128)
          i += 1
          val neg = i < p.length && p.charAt(i) == '^'
          if (neg) i += 1
          while (i < p.length && p.charAt(i) != ']') {
            if (p.charAt(i) == '\\' && i + 1 < p.length) { i += 1; mark(set, p.charAt(i)) }
            else if (i + 2 < p.length && p.charAt(i + 1) == '-' && p.charAt(i + 2) != ']') {
              var c = p.charAt(i)
              while (c <= p.charAt(i + 2)) { mark(set, c); c = (c + 1).toChar }
              i += 2
            } else mark(set, p.charAt(i))
            i += 1
          }
          i += 1
          add(Cls, set = set, neg = neg)
        case c => add(Lit, c); i += 1
      }
    }
    new Glob(kinds.toArray, lits.toArray, sets.toArray, negs.toArray)
  }
  private def mark(set: Array[Boolean], c: Char): Unit = if (c < 128) set(c) = true
}
