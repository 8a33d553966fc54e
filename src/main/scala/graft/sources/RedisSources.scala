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

import graft.net.{RedisCommands, RedisConnection}
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
  val HashSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("fields", MapType(StringType, StringType, valueContainsNull = false), nullable = false)))

  final case class Options(host: String, port: Int, pattern: String, count: Int,
      partitionPatterns: Seq[String], slots: Int, clusterMode: Boolean,
      auth: Option[String] = None, tls: Boolean = false,
      tlsTrustAll: Boolean = false, scanType: Option[String] = None,
      resp3: Boolean = false) {
    /** Disjoint pattern lists, one per input partition. */
    def effectivePatterns(pushed: Option[String]): Seq[Seq[String]] = pushed match {
      case Some(p) => Seq(Seq(p))
      case None =>
        if (partitionPatterns.nonEmpty) partitionPatterns.map(Seq(_))
        else if (slots > 1) slotPatterns(pattern, slots)
        else Seq(Seq(pattern))
    }
  }

  def parseOptions(m: util.Map[String, String]): Options = {
    val o = new CaseInsensitiveStringMap(m)
    val opts = Options(
      host = o.getOrDefault("host", "127.0.0.1"),
      port = o.getOrDefault("port", "6379").toInt,
      // requirepass / ACL credentials: "password" or "user password".
      // Preferred option name is "password" — it matches Spark's default
      // SQL-options redaction regex, so EXPLAIN/UI plan dumps mask it;
      // "auth" stays accepted for back-compat but is NOT auto-redacted.
      auth = Option(o.get("password")).orElse(Option(o.get("auth"))).filter(_.nonEmpty),
      // rediss://-style transport: TLS-wrap every connection;
      // tls.trustAll accepts self-signed certs (test/dev ONLY)
      tls = o.getOrDefault("tls", "false").toBoolean,
      tlsTrustAll = o.getOrDefault("tls.trustAll", "false").toBoolean,
      pattern = o.getOrDefault("pattern", "*"),
      count = o.getOrDefault("scan.count", "2048").toInt, // reference batch size, resp_parser.cpp:159-161
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
      // protocol negotiation: .option("resp", "3") sends HELLO 3 on every
      // connection (loud failure on pre-6.0 servers) — reply SHAPES differ
      // (map-typed HGETALL, set frames) but the parsed rows are identical,
      // pinned by spec
      resp3 = o.getOrDefault("resp", "2") match {
        case "2" => false
        case "3" => true
        case other => throw new IllegalArgumentException(
          s"resp must be '2' (default) or '3', got '$other'")
      },
      partitionPatterns = Option(o.get("partition.patterns")).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
      slots = o.getOrDefault("partition.slots", "0").toInt,
      clusterMode = o.getOrDefault("partition.mode", "") match {
        case "" => false
        case "cluster" => true
        case other => throw new IllegalArgumentException(
          s"partition.mode must be 'cluster' (or unset), got '$other'")
      })
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
    val conn = new RedisConnection(opts.host, opts.port, auth = opts.auth,
      tls = opts.tls, tlsTrustAll = opts.tlsTrustAll)
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
      // cluster nodes share the deployment's credentials
      RedisInputPartition(h, p, pats, opts.count, limit, topN,
        auth = opts.auth, tls = opts.tls,
        tlsTrustAll = opts.tlsTrustAll, ownedSlots = owned,
        scanType = opts.scanType, resp3 = opts.resp3): InputPartition
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

class RedisScanProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-scan"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.ScanSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(fetchValues = false, RedisSources.parseOptions(properties))
}

class RedisKvProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-kv"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.KvSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisTable(fetchValues = true, RedisSources.parseOptions(properties))
}

/** Hash-typed keys as rows: SCAN pages resolved with one pipelined
  * HGETALL batch per page → (key, fields MAP<STRING,STRING>). The MapType
  * default is honest for dynamic hash fields (README.md:36-38 claims
  * STRUCT — project with `fields['name']` or
  * `RedduckFunctions.withHashFields` for a typed view). String-typed keys
  * return empty maps (HGETALL on a string errors in real Redis only for
  * WRONGTYPE — callers scope the pattern to hash keys, same contract as
  * the reference docs).
  */
class RedisHashProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "redis-hash"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = RedisSources.HashSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = RedisSources.parseOptions(properties)
    new Table with SupportsRead {
      override def name(): String = s"redis-hash(${opts.host}:${opts.port}, ${opts.pattern})"
      override def schema(): StructType = RedisSources.HashSchema
      override def capabilities(): util.Set[TableCapability] =
        util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder with SupportsPushDownFilters {
          private var pushedGlob: Option[String] = None
          private var pushedArr: Array[org.apache.spark.sql.sources.Filter] = Array.empty

          override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
              : Array[org.apache.spark.sql.sources.Filter] = {
            // same one-glob MATCH pushdown as the scan/kv sources
            val canPush = opts.pattern == "*" && opts.partitionPatterns.isEmpty && opts.slots <= 1
            if (canPush) {
              val (tr, rest) = filters.partition(f =>
                RedisSources.filterToGlob("key", f).isDefined)
              tr.headOption.foreach(f => pushedGlob = RedisSources.filterToGlob("key", f))
              pushedArr = tr.take(1)
              rest ++ tr.drop(1)
            } else { pushedArr = Array.empty; filters }
          }
          override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushedArr

          override def build(): Scan = new Scan with Batch {
            override def readSchema(): StructType = RedisSources.HashSchema
            override def description(): String =
              s"RedisHashScan(patterns=${opts.effectivePatterns(pushedGlob).map(_.mkString("|")).mkString(",")}, count=${opts.count})"
            override def toBatch: Batch = this
            override def planInputPartitions(): Array[InputPartition] =
              if (opts.clusterMode)
                RedisSources.clusterPartitions(opts, pushedGlob, None, None)
              else opts.effectivePatterns(pushedGlob)
                .map(ps => RedisInputPartition(opts.host, opts.port, ps, opts.count,
                  auth = opts.auth, tls = opts.tls,
                  tlsTrustAll = opts.tlsTrustAll,
                  scanType = opts.scanType, resp3 = opts.resp3): InputPartition)
                .toArray
            override def createReaderFactory(): PartitionReaderFactory =
              (partition: InputPartition) =>
                new RedisHashPartitionReader(partition.asInstanceOf[RedisInputPartition])
          }
        }
    }
  }
}

class RedisHashPartitionReader(p: RedisInputPartition)
    extends PartitionReader[InternalRow] {
  import org.apache.spark.sql.catalyst.util.ArrayBasedMapData

  private val conn = new RedisConnection(p.host, p.port, auth = p.auth,
    tls = p.tls, tlsTrustAll = p.tlsTrustAll, resp3 = p.resp3)
  private var cursor = "0"
  private var patternIdx = 0
  private var done = false
  private var batch: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!batch.hasNext && !done) {
      val (next, keys) = RedisCommands.scanPage(conn, cursor, p.patterns(patternIdx), p.count, p.scanType)
      cursor = next
      if (cursor == "0") {
        patternIdx += 1
        cursor = "0"
        if (patternIdx >= p.patterns.length) done = true
      }
      if (keys.nonEmpty) {
        val maps = RedisCommands.hgetallPipelined(conn, keys)
        batch = keys.iterator.zip(maps.iterator).map { case (k, m) =>
          val sorted = m.toSeq.sortBy(_._1) // deterministic field order
          InternalRow(UTF8String.fromString(k),
            ArrayBasedMapData(
              sorted.map(e => UTF8String.fromString(e._1)).toArray,
              sorted.map(e => UTF8String.fromString(e._2)).toArray))
        }
      }
    }
    if (batch.hasNext) { current = batch.next(); true }
    else {
      if (!guarded) { // cluster mode: reshard-during-scan fails loudly
        guarded = true
        RedisSources.verifySlotOwnership(conn, p.host, p.port, p.ownedSlots)
      }
      false
    }
  }
  private var guarded = false

  override def get(): InternalRow = current
  override def close(): Unit = conn.close()
}

// ---------------------------------------------------------------------------
// table / scan

class RedisTable(fetchValues: Boolean, opts: RedisSources.Options)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"redis-${if (fetchValues) "kv" else "scan"}(${opts.host}:${opts.port}, ${opts.pattern})"
  override def schema(): StructType =
    if (fetchValues) RedisSources.KvSchema else RedisSources.ScanSchema
  override def capabilities(): util.Set[TableCapability] =
    if (fetchValues) util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RedisScanBuilder(fetchValues, opts)

  /** Write path (kv mode): `df.write.format("redis-kv").mode("append")` —
    * each partition pipelines SET commands in `scan.count`-sized batches
    * over its own connection (the reverse of the read path's pipelined
    * MGET; a feature-store writeback at 100 TB is embarrassingly parallel
    * because SET is per-key idempotent upsert). Input must be
    * (key STRING, value STRING); NULL values are skipped.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(fetchValues, "redis-scan is read-only; write with format(\"redis-kv\")")
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
    new RedisDataWriterFactory(opts.host, opts.port, opts.count, opts.auth,
      opts.tls, opts.tlsTrustAll, opts.resp3)
  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = ()
  // no coordinator: SET is an idempotent upsert, so task retries are safe
  override def useCommitCoordinator(): Boolean = false
}

final case class RedisWriteCommit(written: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class RedisDataWriterFactory(host: String, port: Int, batchSize: Int,
    auth: Option[String] = None, tls: Boolean = false,
    tlsTrustAll: Boolean = false, resp3: Boolean = false)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      // resp3 rides to the WRITE connections too: resp=3 documents
      // "HELLO 3 on every connection", and silently leaving writers on
      // RESP2 would defeat protocol pinning against a RESP3-required
      // proxy
      private val conn = new RedisConnection(host, port, auth = auth,
        tls = tls, tlsTrustAll = tlsTrustAll, resp3 = resp3)
      // the batch's SET commands, encoded from the rows' UTF-8 bytes
      private val cmds = new RespCodec.CommandBuffer(64 * 1024)
      private var pending = 0
      private var written = 0L

      private def flush(): Unit = if (pending > 0) {
        conn.send(cmds)
        cmds.clear()
        var failure: String = null
        while (pending > 0) {
          conn.readReply() match {
            case RespValue.Err(m) if failure == null => failure = m
            case _ => ()
          }
          pending -= 1
          written += 1
        }
        if (failure != null) throw new java.io.IOException(s"SET failed: $failure")
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

class RedisScanBuilder(fetchValues: Boolean, opts: RedisSources.Options)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private val keyCol = if (fetchValues) "key" else "key_name"
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
    val sortable = !fetchValues && orders.length == 1 && (orders(0).expression() match {
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
    new RedisScan(fetchValues, opts, pushedGlob, pushedLimit, pushedTopN)
}

class RedisScan(fetchValues: Boolean, opts: RedisSources.Options, pushedGlob: Option[String],
    pushedLimit: Option[Int], pushedTopN: Option[RedisSources.TopN])
    extends Scan with Batch {
  override def readSchema(): StructType =
    if (fetchValues) RedisSources.KvSchema else RedisSources.ScanSchema
  override def description(): String = {
    val extras = pushedTopN.map(t => s", topN=${t.n} ${if (t.ascending) "ASC" else "DESC"}")
      .orElse(pushedLimit.map(l => s", limit=$l")).getOrElse("")
    s"RedisScan(patterns=${opts.effectivePatterns(pushedGlob).map(_.mkString("|")).mkString(",")}, count=${opts.count}$extras)"
  }
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    if (opts.clusterMode)
      RedisSources.clusterPartitions(opts, pushedGlob, pushedLimit, pushedTopN)
    else opts.effectivePatterns(pushedGlob)
      .map(ps => RedisInputPartition(opts.host, opts.port, ps, opts.count,
        pushedLimit, pushedTopN, auth = opts.auth, tls = opts.tls,
        tlsTrustAll = opts.tlsTrustAll, scanType = opts.scanType,
        resp3 = opts.resp3): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new RedisReaderFactory(fetchValues)
}

/** One partition = one connection running one SCAN cursor per pattern in
  * `patterns`, sequentially (slot shards put the complement class + the
  * exact-prefix literal in the same partition).
  */
final case class RedisInputPartition(host: String, port: Int, patterns: Seq[String], count: Int,
    limit: Option[Int] = None, topN: Option[RedisSources.TopN] = None,
    auth: Option[String] = None, tls: Boolean = false,
    tlsTrustAll: Boolean = false,
    // cluster mode: slot ranges this node owned at plan time (empty =
    // standalone; readers re-verify ownership at cursor end)
    ownedSlots: Seq[(Int, Int)] = Nil,
    // `SCAN ... TYPE t` server-side filter (scan.type option)
    scanType: Option[String] = None,
    // HELLO 3 per connection (resp option)
    resp3: Boolean = false)
    extends InputPartition {
  // case-class toString would print the credential into task logs /
  // debug dumps — mask it (present/absent is all an operator needs)
  override def toString: String =
    s"RedisInputPartition($host,$port,${patterns.mkString("|")},$count," +
      s"limit=$limit,topN=$topN,auth=${if (auth.isDefined) "***" else "none"}," +
      s"tls=$tls,tlsTrustAll=$tlsTrustAll" +
      scanType.map(t => s",type=$t").getOrElse("") + ")"
}

class RedisReaderFactory(fetchValues: Boolean) extends PartitionReaderFactory {
  /** Only pushed-topN partitions read rows; see [[supportColumnarReads]]. */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RedisInputPartition]
    new RedisTopNPartitionReader(p, p.topN.getOrElse(
      throw new IllegalStateException(s"$p reads columnar, not rows")))
  }

  /** Columnar handoff (SURVEY §1.1 optimization item, completed r17):
    * key scans AND kv scans emit one ColumnarBatch per SCAN page, so
    * Spark's codegen'd ColumnarToRow consumes vectors instead of
    * row-at-a-time InternalRows — kv pages resolve with ONE pipelined
    * MGET, missing keys landing as vector nulls. Only pushed-topN
    * (bounded heap with cross-page state) keeps the row reader.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[RedisInputPartition].topN.isEmpty

  override def createColumnarReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[RedisInputPartition]
    new RedisColumnarPartitionReader(p, fetchValues)
  }
}

/** Runs the SCAN cursor loop (≈ `FetchNextBatch`,
  * redduck_extension.cpp:166-228): one page per round trip, internal
  * retry on empty-but-not-done pages, done when the cursor returns "0".
  * Each page becomes one ColumnarBatch: one string vector for key-only
  * scans; in kv mode the page is resolved with one pipelined MGET (the
  * batched replacement for the reference's per-row GET, SURVEY §3.3) into
  * a (key, value) pair of vectors, with null-slot misses; the next
  * page's SCAN goes out in the same write as the MGET, so a kv page also
  * costs one round trip.
  *
  * Both replies are read in place from the connection's receive buffer,
  * and each key and value byte is copied once, into a
  * [[RedisStringColumn]] sized to the reply's payload. The MGET command
  * is encoded from the page's key bytes in that buffer.
  */
class RedisColumnarPartitionReader(p: RedisInputPartition, fetchValues: Boolean)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private val conn = new RedisConnection(p.host, p.port, auth = p.auth,
    tls = p.tls, tlsTrustAll = p.tlsTrustAll, resp3 = p.resp3)
  private var cursor = "0"
  private var patternIdx = 0
  private var done = false
  private var current: ColumnarBatch = _
  private var remaining: Int = p.limit.getOrElse(Int.MaxValue)
  // one page's keys and values, as views into the receive buffer
  private val keys = new RespCodec.ArrayView
  private val values = new RespCodec.ArrayView
  private val mget = new RespCodec.CommandBuffer()
  // page index of each key in the batch
  private var kept = new Array[Int](0)
  // the next page's SCAN; in kv mode it goes out behind the page's MGET,
  // so that a page costs one round trip, and is then in flight
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
      if (keys.size > 0) {
        val keyVec = new RedisStringColumn(keys.size, keys.payload)
        val n = takeKeys(keyVec)
        if (n > 0) current = new ColumnarBatch(
          if (fetchValues) Array(keyVec, fetchValueVector(n)) else Array(keyVec), n)
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

  /** MGETs the batch's `n` keys, encoding the command from their bytes in
    * the receive buffer, and copies the values into a vector; a nil
    * (missing or expired key) is a null. The next page's SCAN shares the
    * write unless this page ends the walk or fills a pushed LIMIT.
    */
  private def fetchValueVector(n: Int): RedisStringColumn = {
    mget.clear()
    mget.header(n + 1)
    mget.bulk("MGET")
    var j = 0
    while (j < n) {
      val i = kept(j)
      mget.bulk(keys.buf, keys.offset(i), keys.length(i))
      j += 1
    }
    scanInFlight = !done && remaining > 0
    if (scanInFlight) encodeScan()
    RedisCommands.mgetView(conn, mget, n, values, if (scanInFlight) scan else null)
    val vec = new RedisStringColumn(n, values.payload)
    val buf = values.buf
    j = 0
    while (j < n) {
      if (values.isNil(j)) vec.putNull(j)
      else vec.put(j, buf, values.offset(j), values.length(j))
      j += 1
    }
    vec
  }

  override def get(): ColumnarBatch = current

  override def close(): Unit = {
    if (current != null) current.close()
    conn.close()
  }
}

/** A string column of `rows` rows over one byte array sized to the
  * `payload` bytes they hold in all: row `i` is
  * `data[offsets(i), offsets(i) + lengths(i))`, and a negative length is
  * a null. Each value is copied in once, by [[put]]; reads are views.
  * (Spark's `OnHeapColumnVector` grows its byte array by doubling, and
  * each growth also reallocates a null-flag array of the same size.)
  */
final class RedisStringColumn(rows: Int, payload: Long)
    extends org.apache.spark.sql.vectorized.ColumnVector(StringType) {
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
  override def close(): Unit = ()

  private def notString: Nothing = throw new UnsupportedOperationException("a string column")
  override def getBoolean(row: Int): Boolean = notString
  override def getByte(row: Int): Byte = notString
  override def getShort(row: Int): Short = notString
  override def getInt(row: Int): Int = notString
  override def getLong(row: Int): Long = notString
  override def getFloat(row: Int): Float = notString
  override def getDouble(row: Int): Double = notString
  override def getDecimal(row: Int, precision: Int, scale: Int): Decimal = notString
  override def getArray(row: Int): org.apache.spark.sql.vectorized.ColumnarArray = notString
  override def getMap(row: Int): org.apache.spark.sql.vectorized.ColumnarMap = notString
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector = notString
}

/** Pushed ORDER BY key LIMIT n, the one mode that reads rows: SCAN order
  * is arbitrary, so the cursor drains — every key must be seen — but only
  * an n-element bounded heap is kept, so the partition emits n keys, not
  * the keyspace.
  */
class RedisTopNPartitionReader(p: RedisInputPartition, t: RedisSources.TopN)
    extends PartitionReader[InternalRow] {

  private val conn = new RedisConnection(p.host, p.port, auth = p.auth,
    tls = p.tls, tlsTrustAll = p.tlsTrustAll, resp3 = p.resp3)
  private lazy val rows: Iterator[InternalRow] = drainTopN()
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  private def drainTopN(): Iterator[InternalRow] = {
    // The heap MUST select with Spark's StringType ordering — UTF8String
    // binary (code-point) order — not java.lang.String's UTF-16 code-unit
    // order; they disagree on supplementary characters (emoji sort AFTER
    // U+FFFF in binary order but before it in UTF-16), and keys dropped
    // here are gone before Spark's re-sort can fix them.
    val utf8Asc = new Ordering[UTF8String] {
      def compare(a: UTF8String, b: UTF8String): Int = a.compareTo(b)
    }
    val ord = if (t.ascending) utf8Asc else utf8Asc.reverse
    // max-heap of the n best-so-far: root is the WORST kept key
    val heap = new java.util.PriorityQueue[UTF8String](math.max(1, t.n), ord.reverse)
    // SCAN may return a key TWICE during a rehash/migration (the same
    // documented behavior the LIMIT path dedups with its seen-set):
    // without the dedup both copies would occupy heap slots, evicting a
    // distinct key that belongs in the true top-n — and evicted keys
    // are gone before Spark's re-sort can restore them. The set is
    // bounded by the keys ADMITTED to the heap's vicinity, not the
    // keyspace: only keys that beat the current worst are remembered.
    val seen = new java.util.HashSet[UTF8String]()
    val keys = new RespCodec.ArrayView
    p.patterns.foreach { pattern =>
      var cursor = "0"
      do {
        cursor = RedisCommands.scanPageView(conn, cursor, pattern, p.count, p.scanType, keys)
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
      } while (cursor != "0")
    }
    // cluster mode: fail loudly if this node's plan-time slots moved
    // while the cursor was walking
    RedisSources.verifySlotOwnership(conn, p.host, p.port, p.ownedSlots)
    val out = new Array[UTF8String](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 } // heap pops worst-first
    out.iterator.map(k => InternalRow(k))
  }

  override def close(): Unit = conn.close()
}
