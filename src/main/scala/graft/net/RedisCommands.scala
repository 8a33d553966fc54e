package graft.net

import java.nio.charset.StandardCharsets.UTF_8

import graft.resp.{RespCodec, RespValue}
import graft.resp.RespValue._

/** Typed wrappers for the Redis commands the engine speaks
  * (SCAN/GET/MGET/HGETALL — the reference's surface plus its documented-
  * but-unimplemented `redis_kv`/`redis_hgetall`, README.md:29-38).
  */
object RedisCommands {

  /** One SCAN page: `SCAN cursor MATCH pattern COUNT n [TYPE t]`
    * (reference command builder: resp_parser.cpp:146-163; reply-shape
    * validation mirrors redduck_extension.cpp:191-217). The optional
    * `TYPE` filter (public Redis ≥6.0 surface) trims mixed keyspaces
    * SERVER-side — on a keyspace where hashes share a prefix with
    * strings/streams, the non-matching keys never cross the wire.
    *
    * The reply is read in place: the page's keys land in `keys` as views
    * into `c`'s receive buffer, valid until `c` reads again.
    *
    * @return the next cursor; "0" = exhausted
    */
  def scanPageView(c: RedisConnection, cursor: String, pattern: String, count: Int,
      scanType: Option[String], keys: RespCodec.ArrayView): String = {
    val cmd = new RespCodec.CommandBuffer()
    scanCommand(cmd, cursor, pattern, count, scanType)
    c.send(cmd)
    scanReplyView(c, keys)
  }

  /** Appends the SCAN command of [[scanPageView]] to `cmd`. */
  def scanCommand(cmd: RespCodec.CommandBuffer, cursor: String, pattern: String, count: Int,
      scanType: Option[String]): Unit =
    cmd.command(Seq("SCAN", cursor, "MATCH", pattern, "COUNT", count.toString) ++
      scanType.toSeq.flatMap(t => Seq("TYPE", t)))

  /** Reads the reply to a SCAN already sent on `c` (see [[scanPageView]]).
    *
    * @return the next cursor; "0" = exhausted
    */
  def scanReplyView(c: RedisConnection, keys: RespCodec.ArrayView): String =
    c.readFrame { (buf, start, end) =>
      val next = RespCodec.readScanReply(buf, start, end, keys)
      if (next != null) next
      else RespCodec.decodeFrame(buf, start, end) match {
        case Err(m) => throw new java.io.IOException(s"SCAN error: $m")
        case other => fail("SCAN reply", other)
      }
    }

  /** [[scanPageView]] with the keys as `String`s.
    *
    * @return (nextCursor, keys); cursor "0" = exhausted
    */
  def scanPage(c: RedisConnection, cursor: String, pattern: String, count: Int,
      scanType: Option[String] = None): (String, Seq[String]) = {
    val keys = new RespCodec.ArrayView
    val next = scanPageView(c, cursor, pattern, count, scanType, keys)
    (next, Vector.tabulate(keys.size)(keys.string))
  }

  /** Every key of `pattern`'s whole SCAN cursor, from 0 until the server
    * answers 0 again, as `String`s.
    */
  def scanAll(c: RedisConnection, pattern: String, count: Int,
      scanType: Option[String] = None): Seq[String] = {
    val keys = new RespCodec.ArrayView
    val out = Seq.newBuilder[String]
    var cursor = "0"
    do {
      cursor = scanPageView(c, cursor, pattern, count, scanType, keys)
      out ++= Iterator.tabulate(keys.size)(keys.string)
    } while (cursor != "0")
    out.result()
  }

  private def encoded(args: Seq[String]): RespCodec.CommandBuffer = {
    val cmd = new RespCodec.CommandBuffer()
    cmd.command(args)
    cmd
  }

  /** A `MOVED <slot> host:port` / `ASK <slot> host:port` cluster
    * redirect error. Single-key commands follow ONE hop (the
    * standard cluster-client cap per command); batched MGET/pipelines on
    * a real cluster must instead group keys per slot upstream — the
    * partition seam (`partition.slots`/`partition.patterns`) is where
    * that grouping plugs in.
    */
  private val Redirect = """(MOVED|ASK) \d+ ([^:\s]+):(\d+)""".r

  /** Run `f` against the target of the redirect `err`, over the redirected
    * connection `c`'s own connection there (`c.redirectTarget`). ASK
    * redirects require the ASKING prefix on the target node (the slot is
    * mid-migration and not yet owned there — without it the target
    * answers MOVED back and the query fails);
    * MOVED targets own the slot and take the plain command. Any other
    * error, or a redirect after the one hop (`where` is not empty), fails
    * as an error of `what`.
    */
  private def onRedirectTarget[T](c: RedisConnection, err: String, what: String, where: String)(
      f: RedisConnection => T): T = err match {
    case Redirect(verb, host, port) if where.isEmpty =>
      val rc = c.redirectTarget(host, port.toInt)
      if (verb == "ASK") rc.command("ASKING") match {
        case Err(m) => throw new java.io.IOException(s"ASKING refused: $m")
        case _ => ()
      }
      f(rc)
    case _ => throw new java.io.IOException(s"$what error$where: $err")
  }

  /** GET: missing key → None (SQL NULL downstream — deliberate divergence
    * from the reference's empty-string, redis_client.cpp:232-236).
    * Follows one cluster redirect.
    */
  def get(c: RedisConnection, key: String): Option[String] = {
    def read(rc: RedisConnection, where: String): Option[String] = rc.command("GET", key) match {
      case b: Bulk => Some(b.text)
      case Null => None
      case Err(m) => onRedirectTarget(c, m, "GET", where)(read(_, " after redirect"))
      case other => fail("GET reply", other)
    }
    read(c, "")
  }

  /** Batched point lookups — one round trip for the whole batch.
    * Follows ONE cluster redirect for the whole batch: the partition
    * seam keeps a batch single-slot (cross-slot MGET is a CROSSSLOT
    * error on a real cluster), so a MOVED/ASK mid-migration applies to
    * every key in it — the scan cursor keeps walking the old owner
    * while value fetches land on the new one.
    *
    * `cmd` is the encoded `MGET` of `keyCount` keys. The reply is read in
    * place: the values land in `values` as views into the receive buffer
    * of the connection that answered, valid until it reads again; a nil
    * (missing key) has length -1.
    *
    * `next`, when given, goes out on `c` in the same write, behind the
    * MGET (never to a redirect target); its reply is left unread on `c`.
    */
  def mgetView(c: RedisConnection, cmd: RespCodec.CommandBuffer, keyCount: Int,
      values: RespCodec.ArrayView, next: RespCodec.CommandBuffer = null): Unit = {
    def read(rc: RedisConnection, where: String): Unit = {
      if (rc eq c) c.send(cmd, next) else rc.send(cmd)
      rc.readFrame { (buf, start, end) =>
        if (RespCodec.readArrayReply(buf, start, end, values)) {
          if (values.size != keyCount) throw new java.io.IOException(
            s"MGET$where returned ${values.size} values for $keyCount keys")
        } else RespCodec.decodeFrame(buf, start, end) match {
          case Err(m) => onRedirectTarget(c, m, "MGET", where)(read(_, " after redirect"))
          case other => fail("MGET reply", other)
        }
      }
    }
    read(c, "")
  }

  /** [[mgetView]] over `String` keys and values: missing key → None. */
  def mget(c: RedisConnection, keys: Seq[String]): Seq[Option[String]] =
    if (keys.isEmpty) Nil
    else {
      val values = new RespCodec.ArrayView
      mgetView(c, encoded("MGET" +: keys), keys.length, values)
      Vector.tabulate(values.size)(i => if (values.isNil(i)) None else Some(values.string(i)))
    }

  /** SMEMBERS → member set (RESP2 array or RESP3 set reply — the `~`
    * frame a RESP3 server uses for set-typed replies).
    */
  def smembers(c: RedisConnection, key: String): Set[String] = {
    def members(items: Vector[RespValue]): Set[String] = items.map {
      case b: Bulk => b.text
      case Simple(s) => s
      case o => fail("SMEMBERS member", o)
    }.toSet
    c.command("SMEMBERS", key) match {
      case Arr(items) => members(items)
      case St(items) => members(items)
      case Err(m) => throw new java.io.IOException(s"SMEMBERS error: $m")
      case other => fail("SMEMBERS reply", other)
    }
  }

  private val Hgetall = "HGETALL".getBytes(UTF_8)

  /** Appends `HGETALL key` to `cmd`, the key being `b[off, off + n)`. */
  def hgetallCommand(cmd: RespCodec.CommandBuffer, b: Array[Byte], off: Int, n: Int): Unit = {
    cmd.header(2)
    cmd.bulk(Hgetall)
    cmd.bulk(b, off, n)
  }

  /** Appends `HGETALL key` to `cmd`. */
  def hgetallCommand(cmd: RespCodec.CommandBuffer, key: org.apache.spark.unsafe.types.UTF8String): Unit = {
    cmd.header(2)
    cmd.bulk(Hgetall)
    cmd.bulk(key)
  }

  /** The fields of a batch of HGETALL replies, as views: reply `j`'s are
    * elements [from(j), to(j)) of view(j), each key followed by its value.
    * Replies read in place share [[fields]], views into the receive
    * buffer, valid until that connection reads again; a reply re-read on
    * a redirect target is a view into a copy of its own.
    */
  final class HashReplies extends RespCodec.FieldRuns {
    val fields = new RespCodec.ArrayView
    private[RedisCommands] var views = new Array[RespCodec.ArrayView](0)
    private[RedisCommands] var bounds = new Array[Int](0)
    def view(j: Int): RespCodec.ArrayView = views(j)
    def from(j: Int): Int = bounds(2 * j)
    def to(j: Int): Int = bounds(2 * j + 1)
  }

  /** Batched HGETALL — one round trip for a whole SCAN page. `cmd` holds
    * `keyCount` HGETALL commands (see [[hgetallCommand]]), the j-th for
    * `key(j)`. The replies, RESP2 flat arrays or RESP3 maps, are read in
    * place into `out` once all of them are buffered.
    *
    * A missing key is an empty hash, and so is a key of another type
    * when `wrongTypeEmpty`: a pattern like user:* routinely matches mixed
    * types, and dying on the first string key would make scan.type
    * mandatory. A reply redirected by MOVED/ASK is re-read on its target,
    * one key at a time, so an ASK target gets ASKING before each HGETALL.
    * Any other error fails loudly.
    *
    * `next`, when given, goes out on `c` in the same write, behind the
    * batch; its reply is left unread on `c`.
    */
  def hgetallView(c: RedisConnection, cmd: RespCodec.CommandBuffer, keyCount: Int,
      out: HashReplies, key: Int => Array[Byte], wrongTypeEmpty: Boolean = true,
      next: RespCodec.CommandBuffer = null): Unit = {
    // reply j: the fields `v` holds from `from` on
    def set(j: Int, v: RespCodec.ArrayView, from: Int): Unit = {
      out.views(j) = v
      out.bounds(2 * j) = from
      out.bounds(2 * j + 1) = v.size
    }
    def read(j: Int, v: RespCodec.ArrayView, where: String)(buf: Array[Byte], start: Int, end: Int): Unit = {
      val from = v.size
      if (RespCodec.readMapReply(buf, start, end, v)) set(j, v, from)
      else RespCodec.decodeFrame(buf, start, end) match {
        case Err(m) if wrongTypeEmpty && m.startsWith("WRONGTYPE") => set(j, v, from)
        case Err(m) => onRedirectTarget(c, m, "HGETALL", where) { rc =>
          val one = new RespCodec.CommandBuffer()
          val k = key(j)
          hgetallCommand(one, k, 0, k.length)
          rc.send(one)
          // the target is read again for the next redirected reply: keep
          // this one's bytes
          rc.readFrame { (b, s, e) =>
            val copy = java.util.Arrays.copyOfRange(b, s, e)
            val own = new RespCodec.ArrayView
            own.reset(copy)
            read(j, own, " after redirect")(copy, 0, copy.length)
          }
        }
        case other => fail("HGETALL reply", other)
      }
    }
    if (out.views.length < keyCount) {
      out.views = new Array[RespCodec.ArrayView](keyCount)
      out.bounds = new Array[Int](2 * keyCount)
    }
    c.send(cmd, next)
    var j = 0
    c.readFrame({ (buf, start, end) =>
      if (j == 0) out.fields.reset(buf)
      read(j, out.fields, "")(buf, start, end)
      j += 1
    }, replies = keyCount)
  }

  /** HGETALL → field map (RESP2 flat array or RESP3 map reply). Follows
    * one cluster redirect.
    *
    * WRONGTYPE fails LOUDLY here, unlike [[hgetallPipelined]]'s default:
    * this is the direct single-key read, where the caller NAMED the key
    * (`redis_hgetall` and `withHashFields` batch the same way with
    * `wrongTypeEmpty = false`) — an empty map would silently mask reading
    * a key known to be a string. The mixed-keyspace tolerance belongs
    * only to the pattern/SCAN-driven readers, where `user:*` routinely
    * matches mixed types.
    */
  def hgetall(c: RedisConnection, key: String): Map[String, String] =
    hgetallPipelined(c, Seq(key), wrongTypeEmpty = false).head

  /** Batched HGETALL — one pipelined round trip for a whole SCAN page:
    * [[hgetallView]] over `String` keys and fields.
    */
  def hgetallPipelined(c: RedisConnection, keys: Seq[String],
      wrongTypeEmpty: Boolean = true): Seq[Map[String, String]] =
    if (keys.isEmpty) Nil
    else {
      val bytes = keys.map(_.getBytes(UTF_8)).toVector
      val cmd = new RespCodec.CommandBuffer()
      bytes.foreach(k => hgetallCommand(cmd, k, 0, k.length))
      val out = new HashReplies
      hgetallView(c, cmd, keys.length, out, bytes, wrongTypeEmpty)
      Vector.tabulate(keys.length) { j =>
        (out.from(j) until out.to(j) by 2).map(i => out.view(j).string(i) -> out.view(j).string(i + 1)).toMap
      }
    }

  /** One CLUSTER SLOTS range and the master node serving it. */
  final case class SlotRange(start: Int, end: Int, host: String, port: Int)

  /** `CLUSTER SLOTS` → slot-range → master map. Only the master entry
    * (third element) of each range is kept; replicas don't own writes and
    * scanning them would double-count keys. Ranges are validated
    * non-overlapping and jointly exhaustive over 0..16383 — a gapped map
    * would silently drop the unowned slots' keys from a scan.
    */
  def clusterSlots(c: RedisConnection): Seq[SlotRange] = {
    val ranges = c.command("CLUSTER", "SLOTS") match {
      case Arr(items) => items.map {
        case Arr(fields) if fields.length >= 3 =>
          val start = fields(0) match { case Int64(v) => v.toInt; case o => fail("CLUSTER SLOTS start", o) }
          val end = fields(1) match { case Int64(v) => v.toInt; case o => fail("CLUSTER SLOTS end", o) }
          fields(2) match {
            case Arr(m) if m.length >= 2 =>
              val host = m(0) match { case b: Bulk => b.text; case Simple(s) => s; case o => fail("CLUSTER SLOTS host", o) }
              val port = m(1) match { case Int64(v) => v.toInt; case o => fail("CLUSTER SLOTS port", o) }
              SlotRange(start, end, host, port)
            case o => fail("CLUSTER SLOTS master node", o)
          }
        case o => fail("CLUSTER SLOTS entry", o)
      }
      case Err(m) => throw new java.io.IOException(s"CLUSTER SLOTS error: $m")
      case other => fail("CLUSTER SLOTS reply", other)
    }
    val sorted = ranges.sortBy(_.start)
    sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
      if (a.end >= b.start) throw new java.io.IOException(
        s"CLUSTER SLOTS ranges overlap: [${a.start},${a.end}] and [${b.start},${b.end}]")
      if (a.end + 1 != b.start) throw new java.io.IOException(
        s"CLUSTER SLOTS gap between ${a.end} and ${b.start}: slots unowned, scan would drop keys")
    }
    if (sorted.isEmpty || sorted.head.start != 0 || sorted.last.end != 16383)
      throw new java.io.IOException(
        s"CLUSTER SLOTS does not cover 0..16383: ${sorted.map(r => s"[${r.start},${r.end}]").mkString(",")}")
    sorted
  }

  // ---------------------------------------------------------------------
  // Redis Streams (XADD/XRANGE/XLEN — the public Redis Streams spec,
  // https://redis.io/docs/data-types/streams/): entry IDs are
  // `<ms>-<seq>`, totally ordered and immutable once appended, which is
  // what makes them natural exactly-once offsets for a Spark
  // MicroBatchStream (replay of a committed range re-reads the same
  // entries via XRANGE).

  /** One stream entry: id + field/value pairs in server order. */
  final case class StreamEntry(id: String, fields: Seq[(String, String)])

  /** Entry-ID total order: numeric (ms, seq), NOT lexicographic
    * ("9-1" < "10-1"). "-" sorts first, "+" last.
    */
  def compareStreamIds(a: String, b: String): Int = {
    def parse(s: String): (Long, Long) = s match {
      case "-" => (Long.MinValue, Long.MinValue)
      case "+" => (Long.MaxValue, Long.MaxValue)
      case _ =>
        val i = s.indexOf('-')
        if (i < 0) (s.toLong, 0L) else (s.substring(0, i).toLong, s.substring(i + 1).toLong)
    }
    val (am, as) = parse(a); val (bm, bs) = parse(b)
    if (am != bm) java.lang.Long.compare(am, bm) else java.lang.Long.compare(as, bs)
  }

  /** `XADD key id field value [field value ...]` → the assigned entry id
    * (`*` asks the server to generate one).
    */
  def xadd(c: RedisConnection, key: String, id: String,
      fields: Seq[(String, String)]): String = {
    require(fields.nonEmpty, "XADD requires at least one field/value pair")
    val args = Seq("XADD", key, id) ++ fields.flatMap { case (f, v) => Seq(f, v) }
    c.command(args: _*) match {
      case b: Bulk => b.text
      case Err(m) => throw new java.io.IOException(s"XADD error: $m")
      case other => fail("XADD reply", other)
    }
  }

  /** `XRANGE key start end [COUNT n]`. `start`/`end` are inclusive ids,
    * `-`/`+` for the extremes, or `(id` for an EXCLUSIVE bound (Redis
    * 6.2+) — the form the streaming source uses to resume after its
    * last committed offset.
    */
  def xrangeCommand(key: String, start: String, end: String, count: Option[Int]): Seq[String] =
    Seq("XRANGE", key, start, end) ++ count.toSeq.flatMap(n => Seq("COUNT", n.toString))

  /** Sends `commands`, each an XRANGE or XREVRANGE, in one write, and reads
    * their replies in place into `entries`, running `each(j)` once reply
    * `j` is read. The last reply's views stay valid until `c` reads again.
    * An error reply, or any other shape (a nil or non-bulk field, an odd
    * field list), fails loudly naming the command: no field is dropped.
    */
  def readEntries(c: RedisConnection, commands: Seq[Seq[String]], entries: RespCodec.EntriesView)(
      each: Int => Unit = _ => ()): Unit = {
    val cmd = new RespCodec.CommandBuffer()
    commands.foreach(cmd.command)
    c.send(cmd)
    var j = 0
    c.readFrame({ (buf, start, end) =>
      if (!RespCodec.readEntriesReply(buf, start, end, entries)) RespCodec.decodeFrame(buf, start, end) match {
        case Err(m) => throw new java.io.IOException(s"${commands(j).head} error: $m")
        case other => fail(s"${commands(j).head} reply", other)
      }
      each(j)
      j += 1
    }, replies = commands.length)
  }

  /** [[xrangeCommand]]'s entries, with `String` ids and fields. */
  def xrange(c: RedisConnection, key: String, start: String, end: String,
      count: Option[Int] = None): Seq[StreamEntry] = {
    val e = new RespCodec.EntriesView
    readEntries(c, Seq(xrangeCommand(key, start, end, count)), e)()
    Vector.tabulate(e.size)(i => StreamEntry(e.id(i), e.fieldStrings(i)))
  }

  /** How many entries [[xrangeCommand]] returns, and the last one's id. */
  def xrangeLast(c: RedisConnection, key: String, start: String, end: String, count: Int): (Int, Option[String]) =
    lastId(c, xrangeCommand(key, start, end, Some(count)))

  /** Last entry id of a stream (`XREVRANGE key + - COUNT 1`), if any. */
  def xlast(c: RedisConnection, key: String): Option[String] =
    lastId(c, Seq("XREVRANGE", key, "+", "-", "COUNT", "1"))._2

  private def lastId(c: RedisConnection, command: Seq[String]): (Int, Option[String]) = {
    val e = new RespCodec.EntriesView
    readEntries(c, Seq(command), e)()
    (e.size, if (e.size == 0) None else Some(e.id(e.size - 1)))
  }

  /** `XTRIM key MAXLEN [~|=] n` → entries removed. The retention lever
    * every scaladoc in the streams source points at: `approx = true`
    * (default, the production form) lets the server trim lazily at
    * node boundaries; `=` forces the exact length.
    */
  def xtrim(c: RedisConnection, key: String, maxLen: Long,
      approx: Boolean = true): Long =
    c.command("XTRIM", key, "MAXLEN", if (approx) "~" else "=",
        maxLen.toString) match {
      case Int64(n) => n
      case Err(m) => throw new java.io.IOException(s"XTRIM error: $m")
      case other => fail("XTRIM reply", other)
    }

  /** `XLEN key` — stream length (0 for a missing key, like real Redis). */
  def xlen(c: RedisConnection, key: String): Long =
    c.command("XLEN", key) match {
      case Int64(n) => n
      case Err(m) => throw new java.io.IOException(s"XLEN error: $m")
      case other => fail("XLEN reply", other)
    }

  private def fail(what: String, got: RespValue): Nothing =
    throw new java.io.IOException(s"unexpected $what: ${RespValue.render(got)}")
}
