package graft.net

import java.net.{ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.resp.{RespCodec, RespValue}
import graft.resp.RespValue._

/** Hermetic in-process RESP server (SURVEY §5.1): replaces the reference
  * test suite's live-Redis dependency (test/sql/scan.test:18 "ensure
  * these keys exist before running tests") and exercises our codec from
  * the server side too.
  *
  * Speaks the subset the engine uses: PING, ECHO, SET, GET, MGET, DEL,
  * HSET, HGETALL, SCAN (cursor + MATCH + COUNT). SCAN slices the sorted
  * key list BEFORE applying MATCH — like real Redis walking hash buckets
  * — so clients see partially-empty pages with a non-zero cursor, which
  * exercises the empty-page retry loop the reference depends on
  * (redduck_extension.cpp:219-227).
  */
final class FakeRedisServer(requestedPort: Int = 0,
    tlsKeystore: Option[(String, String)] = None) {
  private val strings = new ConcurrentHashMap[String, String]()
  private val hashes = new ConcurrentHashMap[String, Map[String, String]]()
  private val sets = new ConcurrentHashMap[String, Set[String]]()
  // streams: append-only entry logs, ids strictly increasing (real Redis
  // Streams semantics — XADD with an id ≤ the top entry is an error)
  private val streams = new ConcurrentHashMap[String,
    scala.collection.mutable.ArrayBuffer[((Long, Long), Seq[(String, String)])]]()
  @volatile private var server: ServerSocket = _
  @volatile private var running = false
  // SCAN round-trip counter: tests assert pushed limits actually cut pages
  private val scanCallCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def scanCalls: Int = scanCallCount.get()
  def resetScanCalls(): Unit = scanCallCount.set(0)
  // HELLO counter: tests assert that every connection of a resp=3 read,
  // the cluster seed's included, negotiates the protocol
  private val helloCallCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def helloCalls: Int = helloCallCount.get()
  // per-command counts, and counts of the commands that ended a client's
  // write (no request bytes behind them): tests assert how lookups batch
  private val commandCounts, writeCounts = new ConcurrentHashMap[String, AtomicInteger]()
  def commandCalls(cmd: String): Int = Option(commandCounts.get(cmd)).fold(0)(_.get())
  def writesEndingWith(cmd: String): Int = Option(writeCounts.get(cmd)).fold(0)(_.get())
  def resetCommandCalls(): Unit = { commandCounts.clear(); writeCounts.clear() }
  // open client connections: tests assert no connection outlives its owner
  private val openConnectionCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def openConnections: Int = openConnectionCount.get()
  // last SCAN's raw argument vector: tests assert options (TYPE, MATCH)
  // actually reached the server as COMMANDS, not as client-side filters
  @volatile private var lastScanArgsVar: Seq[String] = Nil
  def lastScanArgs: Seq[String] = lastScanArgsVar

  // cluster-redirect simulation: single-key commands on keys with this
  // prefix answer `-MOVED <slot> <target>` like a resharded cluster node
  @volatile private var movedRule: Option[(String, String)] = None
  def setMoved(keyPrefix: String, target: String): Unit =
    movedRule = Some((keyPrefix, target))
  def clearMoved(): Unit = movedRule = None
  // slot-migration simulation: source node answers `-ASK <slot> <target>`
  @volatile private var askRule: Option[(String, String)] = None
  def setAsk(keyPrefix: String, target: String): Unit = askRule = Some((keyPrefix, target))
  def clearAsk(): Unit = askRule = None
  // importing side of a migration: keys with this prefix are served ONLY on
  // a connection whose previous command was ASKING (real Redis one-shot
  // semantics); otherwise the node bounces them `-MOVED` back at `owner`
  @volatile private var importingRule: Option[(String, String)] = None
  def setImporting(keyPrefix: String, owner: String): Unit =
    importingRule = Some((keyPrefix, owner))
  def clearImporting(): Unit = importingRule = None
  // cluster topology: (startSlot, endSlot, masterHost, masterPort) ranges
  // answered to `CLUSTER SLOTS`; empty = cluster support disabled (like a
  // standalone Redis)
  @volatile private var clusterSlotsConf: Seq[(Int, Int, String, Int)] = Nil
  def setClusterSlots(entries: Seq[(Int, Int, String, Int)]): Unit =
    clusterSlotsConf = entries
  // deterministic mid-scan reshard: after the Nth SCAN round trip this
  // node's CLUSTER SLOTS answer flips to `entries` (one-shot) — the test
  // hook for "slot ownership changed while a cursor was walking"
  @volatile private var reshardAfter: Option[(Int, Seq[(Int, Int, String, Int)])] = None
  def setReshardAfterScans(n: Int, entries: Seq[(Int, Int, String, Int)]): Unit =
    reshardAfter = Some((n, entries))

  private def redirect(key: String, asking: Boolean): Option[RespValue] =
    movedRule.collect { case (p, t) if key.startsWith(p) => Err(s"MOVED 1234 $t") }
      .orElse(askRule.collect { case (p, t) if key.startsWith(p) => Err(s"ASK 1234 $t") })
      .orElse(importingRule.collect {
        case (p, owner) if key.startsWith(p) && !asking => Err(s"MOVED 1234 $owner")
      })

  def put(key: String, value: String): Unit = strings.put(key, value)
  def putHash(key: String, fields: Map[String, String]): Unit = hashes.put(key, fields)

  def start(): Int = synchronized {
    if (running) return server.getLocalPort
    server = tlsKeystore match {
      case None => new ServerSocket(requestedPort)
      case Some((ksPath, ksPass)) =>
        // TLS mode (the rediss:// simulation): serve over an
        // SSLServerSocket backed by the given JKS/PKCS12 keystore
        val ks = java.security.KeyStore.getInstance("PKCS12")
        val in = new java.io.FileInputStream(ksPath)
        try ks.load(in, ksPass.toCharArray) finally in.close()
        val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
          javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
        kmf.init(ks, ksPass.toCharArray)
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        ctx.init(kmf.getKeyManagers, null, null)
        ctx.getServerSocketFactory.createServerSocket(requestedPort)
    }
    running = true
    val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          openConnectionCount.incrementAndGet()
          val t = new Thread(() => serve(sock), "fake-redis-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: Throwable => () /* server closed */ }
      }
    }, "fake-redis-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    server.getLocalPort
  }

  def stop(): Unit = synchronized {
    running = false
    if (server != null) server.close()
  }

  // requirepass / ACL simulation: when set, every command except
  // AUTH/QUIT on an unauthenticated connection answers NOAUTH (real
  // Redis 6 behavior); AUTH checks the password (and, when a username
  // is configured, the ACL 2-arg form)
  @volatile private var requirePassConf: Option[(Option[String], String)] = None
  def setRequirePass(password: String, user: Option[String] = None): Unit =
    requirePassConf = Some((user, password))
  def clearRequirePass(): Unit = requirePassConf = None

  /** Per-connection one-shot ASKING flag (real Redis scopes it this way)
    * plus the connection's authentication state and negotiated protocol
    * (HELLO 3 flips `resp3`, like a real ≥6.0 server).
    */
  private final class ConnState {
    var asking = false; var authed = false; var resp3 = false
  }

  // RESP3 out-of-band test hook: the next command on a RESP3 connection
  // gets this push frame written BEFORE its reply (the shape of a
  // client-tracking invalidation arriving mid-conversation) — clients
  // must skip it, not mistake it for the reply
  @volatile private var pushOnNext: Option[RespValue] = None
  def setPushOnNext(frame: RespValue): Unit = pushOnNext = Some(frame)

  private def serve(sock: Socket): Unit = {
    val in = sock.getInputStream
    val out = sock.getOutputStream
    val st = new ConnState
    var buf = new Array[Byte](16 * 1024)
    var end = 0
    var pos = 0
    try {
      while (true) {
        RespCodec.decode(buf, pos, end) match {
          case RespCodec.Decoded(v, next) =>
            pos = next
            if (pos == end) { pos = 0; end = 0 }
            v match {
              case Arr((b: Bulk) +: _) =>
                val cmd = b.text.toUpperCase
                commandCounts.computeIfAbsent(cmd, _ => new AtomicInteger).incrementAndGet()
                if (end == 0 && in.available() == 0)
                  writeCounts.computeIfAbsent(cmd, _ => new AtomicInteger).incrementAndGet()
              case _ => ()
            }
            val reply = handle(v, st)
            if (st.resp3) pushOnNext.foreach { p =>
              pushOnNext = None
              out.write(RespCodec.encode(p))
            }
            out.write(RespCodec.encode(reply))
            out.flush()
          case RespCodec.Incomplete =>
            if (end == buf.length) {
              if (pos > 0) { System.arraycopy(buf, pos, buf, 0, end - pos); end -= pos; pos = 0 }
              else buf = java.util.Arrays.copyOf(buf, buf.length * 2)
            }
            val n = in.read(buf, end, buf.length - end)
            if (n < 0) return
            end += n
        }
      }
    } catch { case _: Throwable => () } finally { sock.close(); openConnectionCount.decrementAndGet() }
  }

  private def handle(req: RespValue, st: ConnState): RespValue = req match {
    case Arr(items) =>
      val args = items.map { case b: Bulk => b.text; case Simple(s) => s; case o => return Err(s"ERR bad arg $o") }
      if (args.isEmpty) return Err("ERR empty command")
      val cmd = args.head.toUpperCase
      val asking = st.asking
      if (cmd != "ASKING") st.asking = false // one-shot: covers only the next command
      requirePassConf match {
        case Some((user, pass)) if cmd == "AUTH" =>
          val ok = (args.length == 2 && user.isEmpty && args(1) == pass) ||
            (args.length == 3 && user.contains(args(1)) && args(2) == pass)
          return if (ok) { st.authed = true; Simple("OK") }
          else Err("WRONGPASS invalid username-password pair or user is disabled.")
        case Some(_) if !st.authed && cmd != "QUIT" =>
          return Err("NOAUTH Authentication required.")
        case None if cmd == "AUTH" =>
          return Err("ERR Client sent AUTH, but no password is set.")
        case _ => ()
      }
      cmd match {
        case "PING" => Simple("PONG")
        case "ECHO" => Bulk(args(1))
        case "HELLO" =>
          helloCallCount.incrementAndGet()
          // real ≥6.0 semantics: bare HELLO reports, HELLO 2|3 switches;
          // anything else is NOPROTO
          val want = if (args.length >= 2) args(1) else (if (st.resp3) "3" else "2")
          want match {
            case "2" => st.resp3 = false
            case "3" => st.resp3 = true
            case _ => return Err(
              "NOPROTO unsupported protocol version")
          }
          val meta: Vector[(RespValue, RespValue)] = Vector(
            (Bulk("server"), Bulk("fake-redis")),
            (Bulk("version"), Bulk("7.4.0")),
            (Bulk("proto"), Int64(if (st.resp3) 3L else 2L)),
            (Bulk("mode"), Bulk("standalone")))
          // RESP2 renders the same metadata as a flat array, RESP3 as a map
          if (st.resp3) Mp(meta)
          else Arr(meta.flatMap { case (k, v) => Vector(k, v) })
        case "ASKING" => st.asking = true; Simple("OK")
        case "SADD" =>
          val before = Option(sets.get(args(1))).getOrElse(Set.empty)
          val after = before ++ args.drop(2)
          sets.put(args(1), after)
          Int64((after.size - before.size).toLong)
        case "SMEMBERS" =>
          val m = Option(sets.get(args(1))).getOrElse(Set.empty)
            .toVector.sorted.map(Bulk(_): RespValue)
          if (st.resp3) St(m) else Arr(m)
        case "SET" => strings.put(args(1), args(2)); Simple("OK")
        case "GET" => redirect(args(1), asking).getOrElse(
          Option(strings.get(args(1))).map(Bulk(_): RespValue).getOrElse(Null))
        case "DEL" =>
          val n = args.tail.count(k =>
            strings.remove(k) != null | hashes.remove(k) != null |
              streams.remove(k) != null | sets.remove(k) != null)
          Int64(n.toLong)
        case "MGET" =>
          // cluster semantics: a batch whose slot is owned elsewhere gets
          // ONE redirect for the whole command (well-formed batches are
          // single-slot; cross-slot would be CROSSSLOT on real Redis)
          args.tail.flatMap(k => redirect(k, asking)).headOption.getOrElse(
            Arr(args.tail.map(k => Option(strings.get(k)).map(Bulk(_): RespValue).getOrElse(Null))))
        case "HSET" =>
          val kv = args.drop(2).grouped(2).collect { case Seq(f, v) => f -> v }.toMap
          hashes.merge(args(1), kv, (a, b) => a ++ b)
          Int64(kv.size.toLong)
        case "HGETALL" => redirect(args(1), asking).getOrElse {
          // faithful to real Redis: HGETALL on a key holding another
          // type answers WRONGTYPE (the clients' tolerance of it is
          // what the tests must exercise, not a lenient fake)
          if (strings.containsKey(args(1)))
            Err("WRONGTYPE Operation against a key holding the wrong kind of value")
          else {
            val m = Option(hashes.get(args(1))).getOrElse(Map.empty).toVector.sortBy(_._1)
            // real RESP3 servers answer HGETALL with a MAP frame
            if (st.resp3) Mp(m.map { case (f, v) => (Bulk(f): RespValue, Bulk(v): RespValue) })
            else Arr(m.flatMap { case (f, v) => Vector(Bulk(f): RespValue, Bulk(v)) })
          }
        }
        case "SCAN" => scan(args.tail)
        case "XADD" => xadd(args.tail)
        case "XTRIM" => xtrim(args.tail)
        case "XRANGE" => xrange(args.tail, rev = false)
        case "XREVRANGE" => xrange(args.tail, rev = true)
        case "XLEN" =>
          Int64(Option(streams.get(args(1))).map(b => b.synchronized(b.length.toLong)).getOrElse(0L))
        case "CLUSTER" if args.length >= 2 && args(1).toUpperCase == "SLOTS" =>
          if (clusterSlotsConf.isEmpty) Err("ERR This instance has cluster support disabled")
          else Arr(clusterSlotsConf.toVector.map { case (s, e, h, p) =>
            Arr(Vector(Int64(s.toLong), Int64(e.toLong),
              Arr(Vector(Bulk(h): RespValue, Int64(p.toLong)))))
          })
        case "COMMAND" => Arr(Vector.empty)
        case "QUIT" => Simple("OK")
        case other => Err(s"ERR unknown command '$other'")
      }
    case _ => Err("ERR protocol: expected command array")
  }

  private def typeOf(key: String): String =
    if (strings.containsKey(key)) "string"
    else if (hashes.containsKey(key)) "hash"
    else if (streams.containsKey(key)) "stream"
    else if (sets.containsKey(key)) "set"
    else "none"

  private def scan(args: Seq[String]): RespValue = {
    val calls = scanCallCount.incrementAndGet()
    lastScanArgsVar = "SCAN" +: args
    reshardAfter.foreach { case (n, entries) =>
      if (calls >= n) { clusterSlotsConf = entries; reshardAfter = None }
    }
    var cursor = args.head.toInt
    var pattern = "*"
    var count = 10
    var typeFilter: Option[String] = None
    var i = 1
    while (i < args.length) {
      args(i).toUpperCase match {
        case "MATCH" | "COUNT" | "TYPE" if i + 1 >= args.length =>
          // dangling option token: real Redis answers an error, it does
          // not kill the connection
          return Err("ERR syntax error")
        case "MATCH" => pattern = args(i + 1); i += 2
        case "COUNT" => count = args(i + 1).toInt; i += 2
        case "TYPE" => typeFilter = Some(args(i + 1).toLowerCase); i += 2
        case _ => i += 1
      }
    }
    // real Redis SCAN walks the whole keyspace regardless of value type
    val allKeys = (strings.keySet.asScala ++ hashes.keySet.asScala ++
      streams.keySet.asScala ++ sets.keySet.asScala).toVector.sorted
    if (cursor >= allKeys.length) cursor = allKeys.length
    val page = allKeys.slice(cursor, cursor + count)
    val nextCursor = if (cursor + count >= allKeys.length) 0 else cursor + count
    val re = globToRegex(pattern)
    // like real Redis: MATCH and TYPE are both post-filters on the
    // bucket walk (pages can come back short or empty, cursor non-zero)
    val matched = page.filter(k => re.matcher(k).matches() &&
      typeFilter.forall(_ == typeOf(k)))
    Arr(Vector(
      Bulk(nextCursor.toString),
      Arr(matched.map(Bulk(_): RespValue))))
  }

  // -- streams ----------------------------------------------------------

  /** Seed a stream entry directly (tests). `id` must be `ms-seq`. */
  def putStreamEntry(key: String, id: String, fields: Seq[(String, String)]): Unit = {
    val buf = streams.computeIfAbsent(key,
      _ => scala.collection.mutable.ArrayBuffer.empty)
    buf.synchronized { buf += ((parseId(id, forStart = true), fields)) }
  }

  private def parseId(s: String, forStart: Boolean): (Long, Long) = s match {
    case "-" => (Long.MinValue, Long.MinValue)
    case "+" => (Long.MaxValue, Long.MaxValue)
    case _ =>
      val i = s.indexOf('-')
      // a bare `ms` means ms-0 as a start bound and ms-MAX as an end
      // bound (real XRANGE semantics)
      if (i < 0) (s.toLong, if (forStart) 0L else Long.MaxValue)
      else (s.substring(0, i).toLong, s.substring(i + 1).toLong)
  }

  /** `XTRIM key MAXLEN [~|=] n` — drops the OLDEST entries beyond n
    * (this fake trims exactly even for `~`, a legal behavior of the
    * approximate form), answers the removed count.
    */
  private def xtrim(args: Seq[String]): RespValue = {
    if (args.length < 3 || args(1).toUpperCase != "MAXLEN")
      return Err("ERR syntax error")
    val nArg = if (args(2) == "~" || args(2) == "=") args.lift(3) else args.lift(2)
    val n = nArg.flatMap(a => scala.util.Try(a.toLong).toOption).getOrElse(
      return Err("ERR value is not an integer or out of range"))
    val buf = Option(streams.get(args(0))).getOrElse(return Int64(0L))
    buf.synchronized {
      // Long math then clamp: a threshold above Int.MaxValue is legal
      // (real Redis takes a 64-bit count) and must trim NOTHING here,
      // not overflow into a bogus drop count
      val drop = math.max(0L, buf.length.toLong - n).min(buf.length.toLong).toInt
      if (drop > 0) buf.remove(0, drop)
      Int64(drop.toLong)
    }
  }

  private def xadd(args0: Seq[String]): RespValue = {
    // optional inline retention: XADD key MAXLEN [~|=] n <id|*> f v ...
    val (args, trimTo): (Seq[String], Option[Long]) =
      if (args0.length >= 3 && args0(1).toUpperCase == "MAXLEN") {
        val skip = if (args0(2) == "~" || args0(2) == "=") 1 else 0
        val n = scala.util.Try(args0(2 + skip).toLong).getOrElse(
          return Err("ERR value is not an integer or out of range"))
        (args0.head +: args0.drop(3 + skip), Some(n))
      } else (args0, None)
    if (args.length < 4 || args.length % 2 != 0) return Err("ERR wrong number of arguments for 'xadd' command")
    val key = args(0)
    val fields = args.drop(2).grouped(2).collect { case Seq(f, v) => f -> v }.toSeq
    val buf = streams.computeIfAbsent(key,
      _ => scala.collection.mutable.ArrayBuffer.empty)
    buf.synchronized {
      val top = buf.lastOption.map(_._1).getOrElse((0L, -1L))
      val id = args(1) match {
        case "*" =>
          val ms = System.currentTimeMillis
          if (ms > top._1) (ms, 0L) else (top._1, top._2 + 1)
        case explicit =>
          val parsed = try {
            // XADD accepts `ms` (meaning ms-0) and `ms-*` (next seq in ms)
            if (explicit.endsWith("-*")) {
              val ms = explicit.dropRight(2).toLong
              if (ms == top._1) (ms, top._2 + 1) else (ms, 0L)
            } else parseId(explicit, forStart = true)
          } catch { case _: NumberFormatException =>
            return Err("ERR Invalid stream ID specified as stream command argument")
          }
          parsed
      }
      if (id._1 < top._1 || (id._1 == top._1 && id._2 <= top._2))
        return Err("ERR The ID specified in XADD is equal or smaller than the target stream top item")
      buf += ((id, fields))
      trimTo.foreach { n =>
        val drop = math.max(0L, buf.length.toLong - n).min(buf.length.toLong).toInt
        if (drop > 0) buf.remove(0, drop)
      }
      Bulk(s"${id._1}-${id._2}")
    }
  }

  private def xrange(args: Seq[String], rev: Boolean): RespValue = {
    if (args.length < 3) return Err(s"ERR wrong number of arguments for 'x${if (rev) "rev" else ""}range' command")
    val key = args(0)
    // XREVRANGE takes (end, start); normalize to (start, end)
    val (rawStart, rawEnd) = if (rev) (args(2), args(1)) else (args(1), args(2))
    var count = Int.MaxValue
    if (args.length >= 5 && args(3).toUpperCase == "COUNT") count = args(4).toInt
    def bound(raw: String, forStart: Boolean): ((Long, Long), Boolean) =
      if (raw.startsWith("(")) (parseId(raw.drop(1), forStart), true) // exclusive, Redis 6.2+
      else (parseId(raw, forStart), false)
    val ((s, sx), (e, ex)) = try (bound(rawStart, forStart = true), bound(rawEnd, forStart = false)) match {
      case (a, b) => (a, b)
    } catch { case _: NumberFormatException =>
      return Err("ERR Invalid stream ID specified as stream command argument")
    }
    val buf = Option(streams.get(key)).getOrElse(return Arr(Vector.empty))
    val entries = buf.synchronized {
      val ord = implicitly[Ordering[(Long, Long)]]
      val inRange = buf.filter { case (id, _) =>
        (if (sx) ord.gt(id, s) else ord.gteq(id, s)) &&
          (if (ex) ord.lt(id, e) else ord.lteq(id, e))
      }
      (if (rev) inRange.reverse else inRange).take(count).toVector
    }
    Arr(entries.map { case ((ms, seq), fields) =>
      Arr(Vector(
        Bulk(s"$ms-$seq"): RespValue,
        Arr(fields.toVector.flatMap { case (f, v) => Vector(Bulk(f): RespValue, Bulk(v)) })))
    })
  }

  /** Redis glob → java regex: `*` any, `?` one, `[...]` class, `\x` literal. */
  private def globToRegex(glob: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          val close = glob.indexOf(']', i + 1)
          if (close < 0) { sb.append("\\["); }
          else { sb.append(glob.substring(i, close + 1)); i = close }
        case '\\' if i + 1 < glob.length =>
          sb.append(java.util.regex.Pattern.quote(glob.charAt(i + 1).toString)); i += 1
        case c => sb.append(java.util.regex.Pattern.quote(c.toString))
      }
      i += 1
    }
    java.util.regex.Pattern.compile(sb.toString)
  }
}
