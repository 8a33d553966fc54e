package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.net.{RedisCommands, RedisConnection, RedisLink}
import graft.resp.{RespCodec, RespValue}

/** DataSource V2 connectors for the Redis keyspace — the Spark-native
  * re-expression of the reference's `redis_scan` TableFunction
  * (/root/reference/src/redduck_extension.cpp:125-322) and its
  * documented-but-unimplemented `redis_kv` (README.md:29-31).
  *
  *   spark.read.format("redis-scan").option("host", h).option("port", p)
  *     .option("pattern", "user:*").load()          // → (key_name STRING)
  *   spark.read.format("redis-kv")...load()          // → (key, value)
  *
  * Scale design: Redis `SCAN` is one logical cursor, so parity mode is a
  * single input partition (≈ the reference's hard `MaxThreads()==1`,
  * redduck_extension.cpp:154-156). The `partition.patterns` option
  * shards the keyspace into N disjoint glob patterns — one partition,
  * connection, and cursor each — which is how the source spreads over a
  * cluster (per-slot/hash-tag sharding on Redis Cluster plugs into the
  * same seam). Each partition owns its connection; nothing is shared
  * (the reference serializes everything behind process-global mutexes).
  *
  * Predicate pushdown translates key-column filters into server-side
  * `MATCH` globs (resurrecting the intent of the reference's dead
  * `SqlToResp`, resp_parser.cpp:136-144, with the `%`→`*` mapping it
  * got wrong — SURVEY §7.5b).
  */
object RedisSources {
  val ScanSchema: StructType = StructType(Seq(StructField("key_name", StringType, nullable = false)))
  val KvSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))
  val FieldsType: MapType = MapType(StringType, StringType, valueContainsNull = false)
  val HashSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("fields", FieldsType, nullable = false)))

  /** What a keyspace read fetches for each key it scans, as which source
    * and schema; every kind runs the same table, scan and page loop.
    */
  sealed abstract class ValueKind(val source: String, val schema: StructType)
  case object KeysOnly extends ValueKind("redis-scan", ScanSchema)
  case object StringValues extends ValueKind("redis-kv", KvSchema)
  case object HashFields extends ValueKind("redis-hash", HashSchema)

  final case class Options(host: String, port: Int, pattern: String, count: Int,
      partitionPatterns: Seq[String], slots: Int, clusterMode: Boolean,
      link: RedisLink, scanType: Option[String] = None) {
    /** A new connection to the target over the options' link. */
    def connect(): RedisConnection = new RedisConnection(host, port, link)

    /** The scan's input partitions: one per master node in cluster mode,
      * else one per pattern list of [[effectivePatterns]].
      */
    def partitions(pushed: Option[String], limit: Option[Int],
        topN: Option[TopN]): Array[InputPartition] =
      if (clusterMode) clusterPartitions(this, pushed, limit, topN)
      else effectivePatterns(pushed).map(ps => RedisInputPartition(host, port, ps, count,
        limit, topN, link, scanType = scanType): InputPartition).toArray

    /** Disjoint pattern lists, one per input partition. */
    def effectivePatterns(pushed: Option[String]): Seq[Seq[String]] = pushed match {
      case Some(p) => Seq(Seq(p))
      case None =>
        if (partitionPatterns.nonEmpty) partitionPatterns.map(Seq(_))
        else if (slots > 1) slotPatterns(pattern, slots)
        else Seq(Seq(pattern))
    }
  }

  /** Option `name`, if set, read by `parse`; a value it rejects fails
    * naming the option and the value.
    */
  def parsed[T](o: CaseInsensitiveStringMap, name: String, what: String)(parse: String => T): Option[T] =
    Option(o.get(name)).map { v =>
      try parse(v) catch {
        case _: IllegalArgumentException => throw new IllegalArgumentException(s"$name must be $what, got '$v'")
      }
    }

  def parseOptions(m: util.Map[String, String]): Options = {
    val o = new CaseInsensitiveStringMap(m)
    val opts = Options(
      host = o.getOrDefault("host", "127.0.0.1"),
      port = parsed(o, "port", "an integer")(_.toInt).getOrElse(6379),
      link = RedisLink(
        // requirepass / ACL credentials: "password" or "user password".
        // Preferred option name is "password" — it matches Spark's default
        // SQL-options redaction regex, so EXPLAIN/UI plan dumps mask it;
        // "auth" stays accepted for back-compat but is NOT auto-redacted.
        auth = Option(o.get("password")).orElse(Option(o.get("auth"))).filter(_.nonEmpty),
        // rediss://-style transport: TLS-wrap every connection;
        // tls.trustAll accepts self-signed certs (test/dev ONLY)
        tls = parsed(o, "tls", "true or false")(_.toBoolean).getOrElse(false),
        tlsTrustAll = parsed(o, "tls.trustAll", "true or false")(_.toBoolean).getOrElse(false),
        // protocol negotiation: .option("resp", "3") sends HELLO 3 on every
        // connection (loud failure on pre-6.0 servers) — reply SHAPES differ
        // (map-typed HGETALL, set frames) but the parsed rows are identical,
        // pinned by spec
        resp3 = o.getOrDefault("resp", "2") match {
          case "2" => false
          case "3" => true
          case other => throw new IllegalArgumentException(
            s"resp must be '2' (default) or '3', got '$other'")
        }),
      pattern = o.getOrDefault("pattern", "*"),
      // reference batch size, resp_parser.cpp:159-161
      count = parsed(o, "scan.count", "an integer")(_.toInt).getOrElse(2048),
      // `SCAN ... TYPE t` server-side type filter (Redis ≥6.0): opt-in
      // so existing plans stay byte-identical; on a mixed keyspace
      // `.option("scan.type", "hash")` keeps string/stream keys from
      // ever crossing the wire
      scanType = Option(o.get("scan.type")).filter(_.nonEmpty).map { t =>
        val valid = Set("string", "list", "set", "zset", "hash", "stream")
        require(valid(t.toLowerCase),
          s"scan.type must be one of ${valid.toSeq.sorted.mkString("/")}, got '$t'")
        t.toLowerCase
      },
      partitionPatterns = Option(o.get("partition.patterns")).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
      slots = parsed(o, "partition.slots", "an integer")(_.toInt).getOrElse(0),
      clusterMode = o.getOrDefault("partition.mode", "") match {
        case "" => false
        case "cluster" => true
        case other => throw new IllegalArgumentException(
          s"partition.mode must be 'cluster' (or unset), got '$other'")
      })
    require(opts.count >= 1, s"scan.count must be >= 1, got ${opts.count}")
    require(!opts.clusterMode || (opts.partitionPatterns.isEmpty && opts.slots <= 1),
      "partition.mode=cluster already shards by node ownership; " +
        "it cannot combine with partition.patterns/partition.slots")
    opts
  }

  /** Cluster-driven partition planning: ask the seed node for
    * `CLUSTER SLOTS` and emit ONE partition per distinct MASTER node,
    * each running the (same) pattern's SCAN cursor against its own node.
    * On Redis Cluster `SCAN` iterates only the keys the node owns, so
    * per-node cursors are disjoint by slot ownership and jointly
    * exhaustive by the validated 0..16383 coverage — no pattern algebra
    * needed (unlike `partition.slots`' first-character sharding, which
    * this supersedes on a real cluster). Runs on the DRIVER once per
    * scan; at 1000 executors the partition count equals the node count,
    * which is exactly the parallelism the server side can serve.
    */
  def clusterPartitions(opts: Options, pushed: Option[String],
      limit: Option[Int], topN: Option[TopN]): Array[InputPartition] = {
    val conn = opts.connect()
    val ranges = try RedisCommands.clusterSlots(conn) finally conn.close()
    val masters = ranges.map(r => (r.host, r.port)).distinct
    val pats = Seq(pushed.getOrElse(opts.pattern))
    masters.map { case (h, p) =>
      // Each partition remembers the slot ranges its node owned at PLAN
      // time: the reader re-checks ownership when its cursor completes,
      // so a reshard that migrated slots mid-scan fails loudly naming
      // them instead of returning a silently short result.
      val owned = ranges.filter(r => r.host == h && r.port == p)
        .map(r => (r.start, r.end))
      // cluster nodes share the deployment's link
      RedisInputPartition(h, p, pats, opts.count, limit, topN, opts.link,
        ownedSlots = owned, scanType = opts.scanType): InputPartition
    }.toArray
  }

  /** End-of-cursor reshard guard for cluster-mode partitions: re-fetch
    * `CLUSTER SLOTS` on the partition's own node and require every
    * plan-time range to still be owned here. Redis Cluster migrates
    * slots key-by-key, so a cursor that straddled a migration can have
    * MISSED keys (they left before the cursor reached them) with no
    * error anywhere — guaranteed-complete scans are impossible mid-
    * reshard (the same window Kafka calls an unclean leader election).
    * The honest contract is fail-loud-and-rerun: a rerun re-plans from
    * the NEW slot map. Single-key value fetches (MGET/HGETALL) already
    * follow one MOVED/ASK hop, so an in-flight migration only aborts
    * the scan when ownership actually changed.
    */
  def verifySlotOwnership(conn: RedisConnection, host: String, port: Int,
      owned: Seq[(Int, Int)]): Unit = {
    if (owned.isEmpty) return
    val now = RedisCommands.clusterSlots(conn) // re-validates 0..16383 coverage
    // every overlap of a plan-time range with a range now owned ELSEWHERE
    // is a migrated sub-range — report each with its new owner
    val moved = for {
      (s, e) <- owned
      r <- now if r.start <= e && s <= r.end
      if !(r.host == host && r.port == port)
    } yield s"[${math.max(s, r.start)},${math.min(e, r.end)}]→${r.host}:${r.port}"
    if (moved.nonEmpty)
      throw new java.io.IOException(
        s"cluster reshard during scan: node $host:$port no longer owns slots ${moved.mkString(", ")}; " +
          "results would be silently incomplete — rerun the scan to re-plan from the new slot map")
  }

  /** First-character alphabet used by `partition.slots` sharding — no glob
    * metacharacters, so class patterns need no escaping.
    */
  val SlotAlphabet: IndexedSeq[Char] =
    ('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z')

  /** Shard a `literal*` keyspace pattern into `slots` DISJOINT,
    * jointly-exhaustive pattern lists — one per input partition, each its
    * own connection + cursor:
    *
    *  - slots−1 partitions take `prefix[<chars>]*` character classes
    *    (round-robin split of [[SlotAlphabet]] on the first suffix char);
    *  - the last partition takes the complement class `prefix[^A..z]*`
    *    PLUS the exact-prefix literal (a key equal to the prefix has no
    *    suffix char and would otherwise match no shard).
    *
    * This is the standalone-Redis analog of per-slot cursor sharding on
    * Redis Cluster (`SCAN ... SLOT` style): the same partition seam takes
    * per-slot cursors when a cluster client lands here.
    */
  def slotPatterns(base: String, slots: Int): Seq[Seq[String]] = {
    require(slots >= 2 && slots <= SlotAlphabet.length + 1,
      s"partition.slots must be in 2..${SlotAlphabet.length + 1}, got $slots")
    require(base.nonEmpty && base.last == '*'
      && !base.dropRight(1).exists(c => "*?[]\\".contains(c)),
      s"partition.slots needs a 'literal*' pattern to shard, got '$base'")
    val prefix = base.dropRight(1)
    val g = slots - 1
    val classes = (0 until g).map(i => SlotAlphabet.zipWithIndex.collect {
      case (c, idx) if idx % g == i => c
    })
    classes.map(cs => Seq(s"$prefix[${cs.mkString}]*")) :+
      Seq(s"$prefix[^${SlotAlphabet.mkString}]*", globEscape(prefix))
  }

  /** Pushed ORDER BY key LIMIT n (scan mode only). */
  final case class TopN(ascending: Boolean, n: Int)

  /** Escape Redis glob metacharacters so a literal matches itself. */
  def globEscape(s: String): String =
    s.flatMap { c => if ("*?[]\\".contains(c)) s"\\$c" else c.toString }

  /** Translate one supported key filter to a glob; None = not translatable. */
  def filterToGlob(keyCol: String, f: Filter): Option[String] = f match {
    case EqualTo(c, v: String) if c == keyCol => Some(globEscape(v))
    case StringStartsWith(c, v) if c == keyCol => Some(globEscape(v) + "*")
    case StringEndsWith(c, v) if c == keyCol => Some("*" + globEscape(v))
    case StringContains(c, v) if c == keyCol => Some("*" + globEscape(v) + "*")
    case _ => None
  }
}

// ---------------------------------------------------------------------------
// providers

/** One provider per [[RedisSources.ValueKind]]. */
class RedisProvider(kind: RedisSources.ValueKind) extends TableProvider with DataSourceRegister {
  override def shortName(): String = kind.source
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = kind.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(kind, RedisSources.parseOptions(properties))
}

class RedisScanProvider extends RedisProvider(RedisSources.KeysOnly)
class RedisKvProvider extends RedisProvider(RedisSources.StringValues)

/** Hash-typed keys as rows: SCAN pages resolved with one pipelined
  * HGETALL batch per page → (key, fields MAP<STRING,STRING>). The MapType
  * default is honest for dynamic hash fields (README.md:36-38 claims
  * STRUCT — project with `fields['name']` or
  * `RedduckFunctions.withHashFields` for a typed view). String-typed keys
  * return empty maps (HGETALL on a string errors in real Redis only for
  * WRONGTYPE — callers scope the pattern to hash keys, same contract as
  * the reference docs).
  */
class RedisHashProvider extends RedisProvider(RedisSources.HashFields)

// ---------------------------------------------------------------------------
// table / scan

class RedisTable(kind: RedisSources.ValueKind, opts: RedisSources.Options)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val writable = kind == RedisSources.StringValues
  override def name(): String = s"${kind.source}(${opts.host}:${opts.port}, ${opts.pattern})"
  override def schema(): StructType = kind.schema
  override def capabilities(): util.Set[TableCapability] =
    if (writable) util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RedisScanBuilder(kind, opts)

  /** Write path (kv mode): `df.write.format("redis-kv").mode("append")` —
    * each partition pipelines SET commands in `scan.count`-sized batches
    * over its own connection (the reverse of the read path's pipelined
    * MGET; a feature-store writeback at 100 TB is embarrassingly parallel
    * because SET is per-key idempotent upsert). Input must be
    * (key STRING, value STRING); NULL values are skipped.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable, s"${kind.source} is read-only; write with format(\"redis-kv\")")
    val schema = info.schema()
    require(schema.fieldNames.toSeq == Seq("key", "value"),
      s"redis-kv write expects columns (key, value), got ${schema.fieldNames.mkString(",")}")
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new RedisBatchWrite(opts)
        }
    }
  }
}

class RedisBatchWrite(opts: RedisSources.Options)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new RedisDataWriterFactory(opts.host, opts.port, opts.count, opts.link)
  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  // no coordinator: SET is an idempotent upsert, so task retries are safe
  override def useCommitCoordinator(): Boolean = false
}

final case class RedisWriteCommit(written: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class RedisDataWriterFactory(host: String, port: Int, batchSize: Int,
    link: RedisLink = RedisLink())
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      // the whole link rides to the WRITE connections too: resp=3
      // documents "HELLO 3 on every connection", and silently leaving
      // writers on RESP2 would defeat protocol pinning against a
      // RESP3-required proxy
      private val conn = new RedisConnection(host, port, link)
      // the batch's SET commands, encoded from the rows' UTF-8 bytes
      private val cmds = new RespCodec.CommandBuffer(64 * 1024)
      private var pending = 0
      private var written = 0L

      // the batch's replies are read in place: only an error is decoded,
      // and the first one fails the batch
      private def flush(): Unit = if (pending > 0) {
        conn.send(cmds)
        cmds.clear()
        var failure: RespValue = null
        conn.readFrame({ (buf, start, end) =>
          if (failure == null && buf(start) == '-') failure = RespCodec.decodeFrame(buf, start, end)
        }, replies = pending)
        written += pending
        pending = 0
        failure match {
          case RespValue.Err(m) => throw new java.io.IOException(s"SET failed: $m")
          case _ => ()
        }
      }

      override def write(row: InternalRow): Unit = {
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          cmds.header(3)
          cmds.bulk("SET")
          cmds.bulk(row.getUTF8String(0))
          cmds.bulk(row.getUTF8String(1))
          pending += 1
          if (pending >= batchSize) flush()
        }
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        flush()
        RedisWriteCommit(written)
      }
      override def abort(): Unit = { cmds.clear(); pending = 0 }
      override def close(): Unit = conn.close()
    }
}

class RedisScanBuilder(kind: RedisSources.ValueKind, opts: RedisSources.Options)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private val keyCol = kind.schema.fieldNames.head
  private var pushedGlob: Option[String] = None
  private var pushed: Array[Filter] = Array.empty
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[RedisSources.TopN] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Push at most one translatable key filter into the server-side MATCH
    // glob — only when no explicit pattern/slot sharding would conflict.
    val canPush = opts.pattern == "*" && opts.partitionPatterns.isEmpty && opts.slots <= 1
    if (canPush) {
      val (tr, rest) = filters.partition(f => RedisSources.filterToGlob(keyCol, f).isDefined)
      tr.headOption.foreach { f => pushedGlob = RedisSources.filterToGlob(keyCol, f) }
      pushed = tr.take(1)
      rest ++ tr.drop(1) // untranslated + extra translatable stay residual
    } else { pushed = Array.empty; filters }
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** Plain LIMIT n: each partition stops its SCAN cursor after n matched
    * keys — on a 10⁸-key keyspace that is ~1 page of round trips instead
    * of the full cursor walk. Partial (returns false): with multiple
    * partitions each emits up to n rows, so Spark's own Limit finishes.
    */
  override def pushLimit(limit: Int): Boolean = {
    pushedLimit = Some(limit)
    false
  }

  /** ORDER BY <key> [ASC|DESC] LIMIT n: SCAN order is arbitrary, so the
    * cursor must still drain — but each partition keeps only a bounded
    * n-element heap and emits n keys instead of the whole keyspace (the
    * transfer/memory win at scale). Partial: Spark re-sorts the ≤
    * n×partitions survivors.
    */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    val sortable = kind == RedisSources.KeysOnly && orders.length == 1 && (orders(0).expression() match {
      case f: NamedReference => f.fieldNames().sameElements(Array(keyCol))
      case _ => false
    })
    if (sortable) {
      pushedTopN = Some(RedisSources.TopN(
        ascending = orders(0).direction() == SortDirection.ASCENDING, n = limit))
      true
    } else false
  }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan =
    new RedisScan(kind, opts, pushedGlob, pushedLimit, pushedTopN)
}

class RedisScan(kind: RedisSources.ValueKind, opts: RedisSources.Options, pushedGlob: Option[String],
    pushedLimit: Option[Int], pushedTopN: Option[RedisSources.TopN])
    extends Scan with Batch {
  override def readSchema(): StructType = kind.schema
  override def description(): String = {
    val extras = pushedTopN.map(t => s", topN=${t.n} ${if (t.ascending) "ASC" else "DESC"}")
      .orElse(pushedLimit.map(l => s", limit=$l")).getOrElse("")
    s"RedisScan(patterns=${opts.effectivePatterns(pushedGlob).map(_.mkString("|")).mkString(",")}, count=${opts.count}$extras)"
  }
  override def toBatch: Batch = this
  // planned once per scan: Spark asks again for each copy of the scan
  // node, and in cluster mode each plan is a CLUSTER SLOTS round trip
  private lazy val partitions = opts.partitions(pushedGlob, pushedLimit, pushedTopN)
  override def planInputPartitions(): Array[InputPartition] = partitions
  override def createReaderFactory(): PartitionReaderFactory =
    new RedisReaderFactory(kind)
}

/** One partition = one connection running one SCAN cursor per pattern in
  * `patterns`, sequentially (slot shards put the complement class + the
  * exact-prefix literal in the same partition).
  */
final case class RedisInputPartition(host: String, port: Int, patterns: Seq[String], count: Int,
    limit: Option[Int] = None, topN: Option[RedisSources.TopN] = None,
    // its toString masks the credential
    link: RedisLink = RedisLink(),
    // cluster mode: slot ranges this node owned at plan time (empty =
    // standalone; readers re-verify ownership at cursor end)
    ownedSlots: Seq[(Int, Int)] = Nil,
    // `SCAN ... TYPE t` server-side filter (scan.type option)
    scanType: Option[String] = None)
    extends InputPartition

class RedisReaderFactory(kind: RedisSources.ValueKind) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new IllegalStateException(s"$partition reads columnar, not rows")

  /** Columnar handoff (SURVEY §1.1 optimization item, completed r17):
    * every keyspace partition emits ColumnarBatches, so Spark's codegen'd
    * ColumnarToRow consumes vectors instead of row-at-a-time InternalRows.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[RedisInputPartition]
    new RedisColumnarPartitionReader(p, kind)
  }
}

/** Runs the SCAN cursor loop (≈ `FetchNextBatch`,
  * redduck_extension.cpp:166-228): one page per round trip, internal
  * retry on empty-but-not-done pages, done when the cursor returns "0".
  * Each page becomes one ColumnarBatch: one string vector for key-only
  * scans; in kv mode the page is resolved with one pipelined MGET (the
  * batched replacement for the reference's per-row GET, SURVEY §3.3) into
  * a (key, value) pair of vectors, with null-slot misses, and in hash
  * mode with one HGETALL per key into a [[RedisMapColumn]]; the next
  * page's SCAN goes out in the same write, so such a page also costs one
  * round trip. A pushed ORDER BY key LIMIT n walks every page into a
  * bounded heap instead, and emits the heap as one batch at the end.
  *
  * All replies are read in place from the connection's receive buffer,
  * and each key, value and field byte is copied once, into a
  * [[RedisStringColumn]] sized to the reply's payload. The MGET and
  * HGETALL commands are encoded from the page's key bytes in that buffer.
  */
class RedisColumnarPartitionReader(p: RedisInputPartition, kind: RedisSources.ValueKind)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  def this(p: RedisInputPartition, fetchValues: Boolean) =
    this(p, if (fetchValues) RedisSources.StringValues else RedisSources.KeysOnly)

  private val conn = new RedisConnection(p.host, p.port, p.link)
  private var cursor = "0"
  private var patternIdx = 0
  private var done = false
  private var current: ColumnarBatch = _
  // a pushed top-N reads every page into its heap; a LIMIT does not apply
  private val topN = p.topN.map(new RedisTopN(_)).orNull
  private var remaining: Int = if (topN != null) Int.MaxValue else p.limit.getOrElse(Int.MaxValue)
  // one page's keys and values, as views into the receive buffer
  private val keys = new RespCodec.ArrayView
  private val values = new RespCodec.ArrayView
  private val hashes = new RedisCommands.HashReplies
  private val fetch = new RespCodec.CommandBuffer()
  // page index of each key in the batch
  private var kept = new Array[Int](0)
  // the next page's SCAN; in kv and hash mode it goes out behind the
  // page's value fetch, so that a page costs one round trip, and is then
  // in flight
  private val scan = new RespCodec.CommandBuffer()
  private var scanInFlight = false

  private def encodeScan(): Unit = {
    scan.clear()
    RedisCommands.scanCommand(scan, cursor, p.patterns(patternIdx), p.count, p.scanType)
  }

  override def next(): Boolean = {
    if (current != null) { current.close(); current = null }
    while (!done) {
      if (!scanInFlight) { encodeScan(); conn.send(scan) }
      scanInFlight = false
      cursor = RedisCommands.scanReplyView(conn, keys)
      if (cursor == "0") {
        patternIdx += 1
        if (patternIdx >= p.patterns.length) done = true
      }
      if (topN != null) topN.admit(keys)
      else if (keys.size > 0) {
        val keyVec = new RedisStringColumn(keys.size, keys.payload)
        val n = takeKeys(keyVec)
        if (n > 0) current = new ColumnarBatch(
          if (kind == RedisSources.KeysOnly) Array(keyVec) else Array(keyVec, valueColumn(n, keyVec)), n)
      }
      if (remaining <= 0) { done = true; limitHit = true } // pushed LIMIT satisfied
      if (current != null) return true
    }
    // cluster mode: fail loudly (never silently short) if this node's
    // plan-time slots moved while the cursor was walking. NOT run when
    // the cursor stopped because a pushed LIMIT was satisfied: a
    // LIMIT-without-ORDER answer of any n DISTINCT matching keys cannot
    // be "incomplete", and the extra CLUSTER SLOTS round trip would tax
    // exactly the fast path the pushdown exists for.
    if (!guarded && !limitHit) {
      guarded = true
      RedisSources.verifySlotOwnership(conn, p.host, p.port, p.ownedSlots)
      if (topN != null) {
        val keyVec = topN.column()
        if (keyVec.rows > 0) { current = new ColumnarBatch(Array(keyVec), keyVec.rows); return true }
      }
    }
    false
  }
  private var guarded = false
  private var limitHit = false
  // The LIMIT budget counts distinct keys: SCAN may return a key twice
  // during rehash/migration (documented Redis behavior), and a duplicate
  // must not occupy one of the n slots. The seen-set holds views into the
  // key vectors, bounded by the scanned prefix (≈ n + one page).
  private val seenForLimit =
    if (p.limit.isDefined) new java.util.HashSet[UTF8String]() else null

  /** Copies the page's keys into `keyVec` — under a pushed LIMIT only
    * unseen ones, up to the budget — and records their page indices.
    * Returns how many went in.
    */
  private def takeKeys(keyVec: RedisStringColumn): Int = {
    if (kept.length < keys.size) kept = new Array[Int](keys.size)
    val buf = keys.buf
    var n = 0
    var i = 0
    while (i < keys.size) {
      val off = keys.offset(i)
      val len = keys.length(i)
      if (seenForLimit == null ||
          (n < remaining && !seenForLimit.contains(UTF8String.fromBytes(buf, off, len)))) {
        keyVec.put(n, buf, off, len)
        if (seenForLimit != null) seenForLimit.add(keyVec.getUTF8String(n))
        kept(n) = i
        n += 1
      }
      i += 1
    }
    if (seenForLimit != null) remaining -= n
    n
  }

  /** Fetches the batch's `n` values — one MGET, or one HGETALL per key —
    * encoding the commands from the keys' bytes in the receive buffer, and
    * copies them into a column; a nil (missing or expired key) is a null.
    * The next page's SCAN shares the write unless this page ends the walk
    * or fills a pushed LIMIT.
    */
  private def valueColumn(n: Int, keyVec: RedisStringColumn): ColumnVector = {
    val strings = kind == RedisSources.StringValues
    fetch.clear()
    if (strings) { fetch.header(n + 1); fetch.bulk("MGET") }
    var j = 0
    while (j < n) {
      val i = kept(j)
      if (strings) fetch.bulk(keys.buf, keys.offset(i), keys.length(i))
      else RedisCommands.hgetallCommand(fetch, keys.buf, keys.offset(i), keys.length(i))
      j += 1
    }
    scanInFlight = !done && remaining > 0
    if (scanInFlight) encodeScan()
    val next = if (scanInFlight) scan else null
    if (!strings) {
      RedisCommands.hgetallView(conn, fetch, n, hashes, keyVec.getBinary, next = next)
      return new RedisMapColumn(hashes, n, RedisMapColumn.Sorted)
    }
    RedisCommands.mgetView(conn, fetch, n, values, next)
    RedisStringColumn.of(values)
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    if (current != null) current.close()
    conn.close()
  }
}

/** A read-only column of one page: a getter of another type throws. */
abstract class RedisColumn(dt: DataType) extends org.apache.spark.sql.vectorized.ColumnVector(dt) {
  override def close(): Unit = ()

  private def unsupported: Nothing = throw new UnsupportedOperationException(s"a ${dt.simpleString} column")
  override def getBoolean(row: Int): Boolean = unsupported
  override def getByte(row: Int): Byte = unsupported
  override def getShort(row: Int): Short = unsupported
  override def getInt(row: Int): Int = unsupported
  override def getLong(row: Int): Long = unsupported
  override def getFloat(row: Int): Float = unsupported
  override def getDouble(row: Int): Double = unsupported
  override def getDecimal(row: Int, precision: Int, scale: Int): Decimal = unsupported
  override def getUTF8String(row: Int): UTF8String = unsupported
  override def getBinary(row: Int): Array[Byte] = unsupported
  override def getArray(row: Int): org.apache.spark.sql.vectorized.ColumnarArray = unsupported
  override def getMap(row: Int): org.apache.spark.sql.vectorized.ColumnarMap = unsupported
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = unsupported
}

/** A string column of `rows` rows over one byte array sized to the
  * `payload` bytes they hold in all: row `i` is
  * `data[offsets(i), offsets(i) + lengths(i))`, and a negative length is
  * a null. Each value is copied in once, by [[put]]; reads are views.
  * (Spark's `OnHeapColumnVector` grows its byte array by doubling, and
  * each growth also reallocates a null-flag array of the same size.)
  */
final class RedisStringColumn(val rows: Int, payload: Long) extends RedisColumn(StringType) {
  private val data = new Array[Byte](Math.toIntExact(payload))
  private val offsets = new Array[Int](rows)
  private val lengths = new Array[Int](rows)
  private var end = 0
  private var nulls = 0

  def put(row: Int, src: Array[Byte], off: Int, len: Int): Unit = {
    System.arraycopy(src, off, data, end, len)
    offsets(row) = end
    lengths(row) = len
    end += len
  }
  def putNull(row: Int): Unit = { lengths(row) = -1; nulls += 1 }

  override def isNullAt(row: Int): Boolean = lengths(row) < 0
  override def hasNull(): Boolean = nulls > 0
  override def numNulls(): Int = nulls
  override def getUTF8String(row: Int): UTF8String =
    if (lengths(row) < 0) null else UTF8String.fromBytes(data, offsets(row), lengths(row))
  override def getBinary(row: Int): Array[Byte] =
    if (lengths(row) < 0) null else java.util.Arrays.copyOfRange(data, offsets(row), offsets(row) + lengths(row))
}

object RedisStringColumn {
  /** The elements of `view`, a nil as a null. */
  def of(view: RespCodec.ArrayView): RedisStringColumn = {
    val vec = new RedisStringColumn(view.size, view.payload)
    var i = 0
    while (i < view.size) {
      if (view.isNil(i)) vec.putNull(i)
      else vec.put(i, view.buf, view.offset(i), view.length(i))
      i += 1
    }
    vec
  }
}

/** The MAP<STRING, STRING> column of `rows` runs of field/value pairs:
  * row `j`'s entries are rows [offsets(j), offsets(j + 1)) of a key and a
  * value [[RedisStringColumn]], in the order `order` leaves them. Each
  * field byte is copied in once, here.
  */
final class RedisMapColumn(runs: RespCodec.FieldRuns, rows: Int, order: RedisMapColumn.Order)
    extends RedisColumn(RedisSources.FieldsType) {
  private val offsets = new Array[Int](rows + 1)
  private val (keys, values) = {
    var pairs = 0
    var keyBytes, valueBytes = 0L
    for (j <- 0 until rows) {
      val v = runs.view(j)
      var i = runs.from(j)
      while (i < runs.to(j)) { keyBytes += v.length(i); valueBytes += v.length(i + 1); i += 2 }
      pairs += (runs.to(j) - runs.from(j)) / 2
    }
    // room for every pair: a merged duplicate name leaves its room unused
    (new RedisStringColumn(pairs, keyBytes), new RedisStringColumn(pairs, valueBytes))
  }
  locally {
    // each row's name indices, as `order` leaves them
    val idx, scratch = new Array[Int](keys.rows)
    for (j <- 0 until rows) {
      val v = runs.view(j)
      var k = offsets(j)
      var i = runs.from(j)
      while (i < runs.to(j)) { idx(k) = i; k += 1; i += 2 }
      offsets(j + 1) = offsets(j) + order(v, idx, scratch, offsets(j), k)
      k = offsets(j)
      while (k < offsets(j + 1)) {
        keys.put(k, v.buf, v.offset(idx(k)), v.length(idx(k)))
        values.put(k, v.buf, v.offset(idx(k) + 1), v.length(idx(k) + 1))
        k += 1
      }
    }
  }

  override def isNullAt(row: Int): Boolean = false
  override def hasNull(): Boolean = false
  override def numNulls(): Int = 0
  override def getMap(row: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    new org.apache.spark.sql.vectorized.ColumnarMap(keys, values, offsets(row), offsets(row + 1) - offsets(row))
}

object RedisMapColumn {
  /** Orders one row's entries. `idx[from, to)` holds the row's name
    * indices into `v` in reply order, each name's value at the index after
    * it, and `scratch[from, to)` is free to use. Leaves the row's entries
    * in idx[from, from + n), as name indices, and returns n.
    */
  sealed trait Order {
    def apply(v: RespCodec.ArrayView, idx: Array[Int], scratch: Array[Int], from: Int, to: Int): Int
  }

  /** Spark's StringType order of the names, UTF-8 binary: a hash's. */
  object Sorted extends Order {
    def apply(v: RespCodec.ArrayView, idx: Array[Int], scratch: Array[Int], from: Int, to: Int): Int = {
      sortByKey(v, idx, scratch, from, to)
      to - from
    }
  }

  /** Reply order, a stream entry's: a name repeated within the row keeps
    * its first position and takes its last value.
    */
  object ReplyOrder extends Order {
    def apply(v: RespCodec.ArrayView, idx: Array[Int], scratch: Array[Int], from: Int, to: Int): Int = {
      if (to - from < 2) return to - from
      val first = idx(from) // the names are 2 apart
      sortByKey(v, idx, scratch, from, to) // stable: equal names stay in reply order
      java.util.Arrays.fill(scratch, from, to, -1)
      var k = from
      while (k < to) {
        var e = k + 1
        while (e < to && compareKeys(v, idx(k), idx(e)) == 0) e += 1
        // at the first one's position, the last one: its value
        scratch(from + (idx(k) - first) / 2) = idx(e - 1)
        k = e
      }
      var n = from
      k = from
      while (k < to) { if (scratch(k) >= 0) { idx(n) = scratch(k); n += 1 }; k += 1 }
      n - from
    }
  }

  /** Merge-sorts the key indices `idx[from, to)` into `v` through
    * `scratch`, by the keys' bytes, unsigned: UTF-8 binary order. Stable.
    */
  private def sortByKey(v: RespCodec.ArrayView, idx: Array[Int], scratch: Array[Int], from: Int, to: Int): Unit =
    if (to - from > 1) {
      val mid = (from + to) >>> 1
      sortByKey(v, idx, scratch, from, mid)
      sortByKey(v, idx, scratch, mid, to)
      System.arraycopy(idx, from, scratch, from, to - from)
      var a = from
      var b = mid
      var k = from
      while (k < to) {
        if (b == to || (a < mid && compareKeys(v, scratch(a), scratch(b)) <= 0)) { idx(k) = scratch(a); a += 1 }
        else { idx(k) = scratch(b); b += 1 }
        k += 1
      }
    }

  private def compareKeys(v: RespCodec.ArrayView, x: Int, y: Int): Int =
    java.util.Arrays.compareUnsigned(v.buf, v.offset(x), v.offset(x) + v.length(x),
      v.buf, v.offset(y), v.offset(y) + v.length(y))
}

/** Pushed ORDER BY key LIMIT n: SCAN order is arbitrary, so the cursor
  * drains — every key must be seen — but only an n-element bounded heap
  * is kept, so the partition emits n keys, not the keyspace.
  */
private final class RedisTopN(t: RedisSources.TopN) {
  // The heap MUST select with Spark's StringType ordering — UTF8String
  // binary (code-point) order — not java.lang.String's UTF-16 code-unit
  // order; they disagree on supplementary characters (emoji sort AFTER
  // U+FFFF in binary order but before it in UTF-16), and keys dropped
  // here are gone before Spark's re-sort can fix them.
  private val utf8Asc = new Ordering[UTF8String] {
    def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
  }
  private val ord = if (t.ascending) utf8Asc else utf8Asc.reverse
  // max-heap of the n best-so-far: root is the WORST kept key
  private val heap = new java.util.PriorityQueue[UTF8String](math.max(1, t.n), ord.reverse)
  // SCAN may return a key TWICE during a rehash/migration (the same
  // documented behavior the LIMIT path dedups with its seen-set):
  // without the dedup both copies would occupy heap slots, evicting a
  // distinct key that belongs in the true top-n — and evicted keys
  // are gone before Spark's re-sort can restore them. The set is
  // bounded by the keys ADMITTED to the heap's vicinity, not the
  // keyspace: only keys that beat the current worst are remembered.
  private val seen = new java.util.HashSet[UTF8String]()

  /** Offers one page's keys to the heap. */
  def admit(keys: RespCodec.ArrayView): Unit = {
    var i = 0
    while (i < keys.size) {
      // a view into the receive buffer; copied only when admitted
      val k = UTF8String.fromBytes(keys.buf, keys.offset(i), keys.length(i))
      if ((heap.size < t.n || (heap.size > 0 && ord.lt(k, heap.peek()))) && !seen.contains(k)) {
        val owned = k.copy()
        seen.add(owned)
        if (heap.size >= t.n) seen.remove(heap.poll())
        heap.add(owned)
      }
      i += 1
    }
  }

  /** The kept keys, best first; empties the heap. */
  def column(): RedisStringColumn = {
    val out = new Array[UTF8String](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 } // heap pops worst-first
    val vec = new RedisStringColumn(out.length, out.map(_.numBytes.toLong).sum)
    i = 0
    while (i < out.length) { val b = out(i).getBytes; vec.put(i, b, 0, b.length); i += 1 }
    vec
  }
}
