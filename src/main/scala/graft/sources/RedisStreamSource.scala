package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.net.{RedisCommands, RedisConnection, RedisLink}
import graft.resp.RespCodec

/** Redis Streams as a DSv2 source, batch AND micro-batch:
  *
  *   spark.readStream.format("redis-stream")
  *     .option("host", h).option("port", p).option("stream", "events")
  *     .option("maxEntriesPerTrigger", "1000")
  *     .load()            // → (entry_id STRING, fields MAP<STRING,STRING>)
  *
  * The source is fault-tolerant: offsets are stream entry IDs
  * (`<ms>-<seq>`, strictly increasing, assigned at XADD — the public
  * Redis Streams contract), so a restarted query resumes from its
  * checkpointed ID and a replayed micro-batch re-reads exactly the same
  * entries via `XRANGE (start end` (exclusive start, Redis 6.2+). The
  * executor reads the range, one columnar batch per XRANGE page read in
  * place; the driver retains only the two bounding IDs between triggers.
  * One honest cost: with `maxEntriesPerTrigger` set, the ADMISSION probe
  * must find "the id N entries ahead", and Redis has no ids-only XRANGE —
  * the driver receives one capped XRANGE per trigger, entries included,
  * and reads it in place, decoding only the last id. The entries' bytes
  * still cross the network: size the cap accordingly. Without a cap the
  * probe is a 1-entry XREVRANGE.
  *
  * Semantics and limits, stated honestly:
  *  - Exactly-once REPLAY requires the replayed range to still exist on
  *    the server: `XTRIM`/MAXLEN retention that outruns checkpoint lag
  *    silently shortens a replayed batch (same contract as Kafka with
  *    aggressive retention). Size retention to exceed downtime.
  *  - A stream key lives on one cluster slot, so one stream = one
  *    ordered partition (that's Redis's ordering guarantee, not a Spark
  *    limitation). Scale-out is N streams read by ONE query:
  *    `.option("streams", "a,b,c")` or `.option("streams.pattern",
  *    "events:*")` — composite {stream → last id} offset, one range
  *    partition per stream per batch, a `stream` column prepended
  *    (the Kafka topic-column analog), admission cap split across
  *    streams deterministically (see [[RedisMultiStreamMicroBatch]]).
  *  - Entry fields are exposed as MAP<STRING,STRING> in server order; a
  *    duplicated field name within one entry (legal in Redis) keeps its
  *    first position and its LAST value. A reply that does not pair
  *    every field name with a bulk value fails the read, naming XRANGE.
  *  - `startingOffsets` = `earliest` (default) | `latest` | an entry id
  *    `<ms>-<seq>` (start strictly AFTER it — backfill-from-a-point),
  *    mirroring the Kafka source's option.
  *
  * WHY NOT CONSUMER GROUPS (XREADGROUP/XACK) — the decision record:
  * Redis consumer groups implement COMPETING-CONSUMER delivery: the
  * server hands each entry to whichever group member asks first, tracks
  * it in a pending-entries list, and retires it on XACK. That is a
  * work-queue contract — delivery assignment is a server-side, runtime
  * choice that differs run to run. Spark's micro-batch model needs the
  * opposite: a batch is DEFINED by its (start, end] offset range, and a
  * replayed batch must re-read exactly the same entries (that is what
  * makes checkpoint recovery and end-to-end exactly-once composition
  * work). Under XREADGROUP a "replay" would re-deliver whatever happens
  * to be pending for THIS consumer — not the committed range — and
  * XACK would retire entries Spark might still need to reprocess, so
  * the server's delivery state and Spark's checkpoint state would fight
  * over ownership. Entry-id offsets + XRANGE give deterministic ranges
  * with the driver as the single source of truth, the same division of
  * labor as the Kafka source (which likewise manages offsets itself and
  * does not use Kafka's own consumer-group commit). Parallelism does
  * not need groups either: it comes from N streams (see
  * [[RedisMultiStreamMicroBatch]]), not from splitting one stream's
  * order. Groups remain the right tool for non-Spark worker pools
  * sharing one stream; they are deliberately NOT part of this source.
  */
class RedisStreamEntriesProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "redis-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RedisStreamEntries.schemaFor(RedisStreamEntries.parseStreamOptions(options))
  // writes carry ARBITRARY input schemas (each column becomes a field,
  // or one MAP column becomes the entry) — external metadata lets the
  // write schema flow through getTable instead of being forced to the
  // read shape
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RedisStreamEntriesTable(RedisSources.parseOptions(properties),
      RedisStreamEntries.parseStreamOptions(properties), schema)
}

object RedisStreamEntries {
  import org.apache.spark.sql.types._

  val Schema: StructType = StructType(Seq(
    StructField("entry_id", StringType, nullable = false),
    StructField("fields", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** Multi-stream reads prepend the origin stream — the Kafka `topic`
    * column analog, so downstream plans can group/route per stream.
    */
  val MultiSchema: StructType = StructType(
    StructField("stream", StringType, nullable = false) +: Schema.fields)

  def schemaFor(sopts: StreamOptions): StructType = sopts.selection match {
    case SingleStream(_) => Schema
    case _ => MultiSchema
  }

  /** Minimum exclusive-start sentinel: real XADD rejects 0-0, so
    * `(0-0` admits every possible entry.
    */
  val ZeroId = "0-0"

  sealed trait StartAt
  case object StartEarliest extends StartAt
  case object StartLatest extends StartAt
  /** Start AFTER this entry id (exclusive — the id itself is assumed
    * already consumed, matching the offset semantics).
    */
  final case class StartAfter(id: String) extends StartAt

  /** Which stream keys the source reads — exactly one of the three:
    *  - `stream`: one key, the r15 surface (schema without the
    *    `stream` column, bare-id offsets — existing checkpoints keep
    *    working);
    *  - `streams`: an explicit comma-separated list — N ordered
    *    partitions per batch, composite JSON offset map;
    *  - `streams.pattern`: a key glob resolved against the server
    *    (`SCAN MATCH glob TYPE stream`) at query start AND re-resolved
    *    every trigger, so streams created while the query runs join the
    *    read (from their beginning — the Kafka new-partition rule).
    */
  sealed trait StreamSelection
  final case class SingleStream(name: String) extends StreamSelection
  final case class MultiStreams(names: Seq[String]) extends StreamSelection
  final case class PatternStreams(glob: String) extends StreamSelection

  final case class StreamOptions(selection: StreamSelection,
      maxPerTrigger: Option[Int], startAt: StartAt,
      idColumn: Option[String] = None, maxLen: Option[Long] = None,
      streamColumn: Option[String] = None) {
    def describe: String = selection match {
      case SingleStream(n) => n
      case MultiStreams(ns) => ns.mkString(",")
      case PatternStreams(g) => s"pattern=$g"
    }
  }

  def parseStreamOptions(m: util.Map[String, String]): StreamOptions =
    parseStreamOptions(new CaseInsensitiveStringMap(m))

  def parseStreamOptions(o: CaseInsensitiveStringMap): StreamOptions = {
    val single = Option(o.get("stream")).filter(_.nonEmpty)
    val multi = Option(o.get("streams")).filter(_.nonEmpty)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct)
    val pattern = Option(o.get("streams.pattern")).filter(_.nonEmpty)
    val selection = (single, multi, pattern) match {
      case (Some(n), None, None) => SingleStream(n)
      case (None, Some(ns), None) =>
        require(ns.nonEmpty, "streams: no stream names after trimming")
        MultiStreams(ns)
      case (None, None, Some(g)) => PatternStreams(g)
      case (None, None, None) => throw new IllegalArgumentException(
        "redis-stream requires exactly one of .option(\"stream\", <key>), " +
          ".option(\"streams\", <k1,k2,...>), or .option(\"streams.pattern\", <glob>)")
      case _ => throw new IllegalArgumentException(
        "redis-stream: options stream / streams / streams.pattern are " +
          "mutually exclusive — set exactly one")
    }
    val maxPer = RedisSources.parsed(o, "maxEntriesPerTrigger", "an integer")(_.toInt)
    maxPer.foreach(n => require(n > 0, s"maxEntriesPerTrigger must be > 0, got $n"))
    val start = o.getOrDefault("startingOffsets", "earliest") match {
      case "earliest" => StartEarliest
      case "latest" => StartLatest
      case id if id.matches("\\d+-\\d+") &&
          // both components must fit a signed long (the engine's id
          // arithmetic) — validated HERE so an over-wide id fails with
          // the documented message, not a NumberFormatException deep in
          // the offset path
          id.split("-").forall(p => scala.util.Try(p.toLong).isSuccess) =>
        StartAfter(id) // backfill-from-point
      case other => throw new IllegalArgumentException(
        "startingOffsets must be 'earliest', 'latest', or an entry id " +
          s"'<ms>-<seq>' with components up to 2^63-1 (start strictly " +
          s"after it), got '$other'")
    }
    val maxLen = RedisSources.parsed(o, "maxlen", "an integer")(_.toLong)
    maxLen.foreach(n => require(n > 0, s"maxlen must be > 0, got $n"))
    StreamOptions(selection, maxPer, start,
      idColumn = Option(o.get("idColumn")).filter(_.nonEmpty),
      maxLen = maxLen,
      streamColumn = Option(o.get("streamColumn")).filter(_.nonEmpty))
  }
}

class RedisStreamEntriesTable(opts: RedisSources.Options,
    sopts: RedisStreamEntries.StreamOptions,
    tableSchema: StructType = RedisStreamEntries.Schema)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"redis-stream(${opts.host}:${opts.port}, ${sopts.describe})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = sopts.selection match {
    // single-stream and EXPLICIT multi-stream tables are writable (the
    // latter routes per row through `streamColumn` — validated loudly in
    // newWriteBuilder so the user sees the option name, not Spark's
    // generic "does not support writes"); pattern tables stay read-only:
    // their membership is re-resolved per trigger, and a write target
    // set must be explicit, not whatever the glob happened to match
    case RedisStreamEntries.PatternStreams(_) =>
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
    case _ =>
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  }

  /** Write path — XADD with server-assigned (`*`) ids, pipelined per
    * partition. Delivery is AT-LEAST-ONCE under task/epoch retries,
    * exactly like Spark's Kafka sink: XADD is an append, not an upsert,
    * and synthesizing "exactly-once" by treating the server's
    * monotonic-id error as "already written" would silently drop
    * genuinely-new out-of-order rows from concurrent writers — so we
    * don't. Deduplicate downstream on a payload field if the pipeline
    * needs it. Input: either a single `fields MAP<STRING,STRING>`
    * column, or columns of atomic types (each non-null column becomes
    * a field named after it; dates render as ISO dates, timestamps as
    * UTC instants, binary as base64 — external forms, never Catalyst
    * internals; other types fail loudly at first write). A row with NO
    * representable field fails loudly too: XADD requires at least one
    * field, and silently dropping the row would corrupt downstream
    * counts.
    *
    * IDEMPOTENT MODE (opt-in): `.option("idColumn", c)` consumes STRING
    * column `c` as the EXPLICIT XADD entry id (`<ms>-<seq>`) instead of
    * `*` — Redis's own idempotence lever, because the server rejects any
    * id ≤ the stream top. On that monotonic-id rejection the writer
    * fetches the entry at that exact id: present WITH an equal payload →
    * a replay, skipped (the server already holds the row); anything else
    * (id absent = genuinely out-of-order, or present with a DIFFERENT
    * payload = id collision) fails loudly naming the row — never a
    * silent drop. Deterministic ids + this rule make task/epoch retries
    * server-deduplicated. The id column must be ordered ascending within
    * each partition and disjoint across partitions (e.g. derive it from
    * an event timestamp and `sortWithinPartitions`); the default `*`
    * mode stays honest at-least-once.
    *
    * ROUTED MULTI-STREAM WRITES (the sink-side scale-out shape, dual to
    * the `streams` read): on a `.option("streams", "a,b,c")` table,
    * `.option("streamColumn", c)` consumes STRING column `c` as each
    * row's target stream — the Kafka sink's `topic`-column analog. The
    * value must be a member of the DECLARED stream set (fail loud on
    * anything else: a typo must not spray entries into new keys), which
    * also keeps the round-trip symmetric — the multi-stream READ schema
    * leads with the same `stream` column this write face consumes.
    * Hash-sharding is deliberately NOT a sink feature: it composes in
    * one line of the DataFrame layer
    * (`element_at(array(<streams>), pmod(hash($"k"), n) + 1)`), stays
    * visible in the plan, and lets the user pick any assignment
    * (hash/range/lookup) without sink-private hash semantics.
    * Pattern tables are read-only — see `capabilities`. With idColumn +
    * routing combined, the ascending/disjoint id constraint applies per
    * (partition, TARGET STREAM) — ids on different streams are
    * independent Redis sequences.
    */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val (target, members) = sopts.selection match {
      case RedisStreamEntries.SingleStream(n) =>
        if (sopts.streamColumn.isDefined) throw new IllegalArgumentException(
          "redis-stream sink: streamColumn is only meaningful with " +
            ".option(\"streams\", <k1,k2,...>) — a single-stream table " +
            "already names its one target")
        (n, Set.empty[String])
      case RedisStreamEntries.MultiStreams(ns) =>
        if (sopts.streamColumn.isEmpty) throw new IllegalArgumentException(
          "redis-stream sink: writing a multi-stream table needs " +
            ".option(\"streamColumn\", <col>) — the STRING column naming " +
            s"each row's target among {${ns.mkString(", ")}}")
        ("", ns.toSet)
      case other => throw new IllegalArgumentException(
        s"redis-stream sink: pattern tables are read-only (membership is " +
          s"re-resolved per trigger; a write target set must be explicit) — " +
          s"use .option(\"stream\", <key>) or .option(\"streams\", <k1,k2,...>), " +
          s"not ${other.getClass.getSimpleName}")
    }
    // validate ON THE DRIVER, before any executor work: an unsupported
    // column type should fail at plan time, not after the upstream job
    // ran and every write task threw
    RedisStreamWriterFactory.validateSinkSchema(info.schema(), sopts.idColumn,
      sopts.streamColumn.filter(_ => members.nonEmpty))
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new RedisStreamWrite(opts, target, info.schema(), sopts.idColumn,
              sopts.maxLen, sopts.streamColumn, members)
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
            new RedisStreamWrite(opts, target, info.schema(), sopts.idColumn,
              sopts.maxLen, sopts.streamColumn, members)
        }
    }
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val expected = RedisStreamEntries.schemaFor(sopts)
    require(tableSchema == expected,
      s"redis-stream reads produce ${expected.simpleString}; " +
        s"a user-supplied read schema (${tableSchema.simpleString}) is not " +
        "supported — project after load()")
    new ScanBuilder {
      override def build(): Scan = new Scan
          with org.apache.spark.sql.connector.read.Batch {
        override def readSchema(): StructType = expected
        override def description(): String =
          s"RedisStreamEntries(streams=${sopts.describe}, count=${opts.count})"
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RedisMultiStreamMicroBatch(opts, sopts)
        // batch face: every member stream as of planning time — the
        // oracle face of the streaming read (and a backfill path)
        override def toBatch: org.apache.spark.sql.connector.read.Batch = this
        // planned once per scan, like the keyspace scan's: Spark asks twice
        // per query, and each plan is a SCAN walk and an XREVRANGE a stream
        override def planInputPartitions(): Array[InputPartition] = partitions
        private lazy val partitions: Array[InputPartition] =
          scala.util.Using.resource(opts.connect()) { c =>
            val multi = !sopts.selection.isInstanceOf[RedisStreamEntries.SingleStream]
            RedisMultiStreamMicroBatch.members(c, opts, sopts.selection).flatMap {
              stream => RedisCommands.xlast(c, stream).map(last =>
                RedisStreamRange(opts.host, opts.port, stream,
                  RedisStreamEntries.ZeroId, last, opts.count, opts.link,
                  emitStream = multi): InputPartition)
            }.toArray
          }
        override def createReaderFactory(): PartitionReaderFactory =
          RedisMultiStreamMicroBatch.readerFactory
      }
    }
  }
}

/** Shared batch + streaming XADD writer (see `newWriteBuilder` for the
  * at-least-once contract). One factory serves both faces: the epoch /
  * commit hooks are no-ops because XADD is unconditionally appended —
  * there is nothing transactional to finalize on the server.
  */
class RedisStreamWrite(opts: RedisSources.Options, stream: String,
    schema: StructType, idColumn: Option[String] = None,
    maxLen: Option[Long] = None, streamColumn: Option[String] = None,
    members: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write._

  private def factory =
    RedisStreamWriterFactory(opts, stream, schema, idColumn, maxLen,
      streamColumn, members)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    factory
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def useCommitCoordinator(): Boolean = false
}

/** Serializable task-side writer factory (ships to executors — must
  * not capture the driver-side Write object).
  */
object RedisStreamWriterFactory {
  import org.apache.spark.sql.types._

  /** `<ms>-<seq>` — precompiled: this runs per ROW in the id-column
    * write path.
    */
  private[sources] val IdForm = java.util.regex.Pattern.compile("\\d+-\\d+")

  /** Is this a type the sink can render as an external string form? */
  private[sources] def renderable(dt: DataType): Boolean = dt match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | DateType | TimestampType |
         BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  private[sources] def isEntryMap(dt: DataType): Boolean = dt match {
    case MapType(StringType, StringType, _) => true
    case _ => false
  }

  /** Driver-side schema gate: ONE MAP<STRING,STRING> column, or all
    * columns renderable atomics — anything else fails at plan time
    * naming the column, before a single executor task runs. With
    * `idColumn` set (idempotent mode), that column must exist, be
    * STRING, and leave at least one field column beside it.
    */
  def validateSinkSchema(schema: StructType, idColumn: Option[String] = None,
      streamColumn: Option[String] = None): Unit = {
    if (idColumn.isDefined && idColumn == streamColumn)
      throw new IllegalArgumentException(
        s"redis-stream sink: idColumn and streamColumn both name " +
          s"'${idColumn.get}' — one column cannot be both the entry id and " +
          "the routing target")
    def consumed(kind: String, c: String): Unit = {
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"redis-stream sink: $kind '$c' is not in the write schema " +
            s"(${schema.fieldNames.mkString(", ")})"))
      if (f.dataType != StringType) throw new IllegalArgumentException(
        s"redis-stream sink: $kind '$c' must be STRING, " +
          s"got ${f.dataType.simpleString}")
    }
    idColumn.foreach(consumed("idColumn", _))
    streamColumn.foreach(consumed("streamColumn", _))
    // the NON-consumed remainder is the entry payload: either exactly one
    // MAP<STRING,STRING> (the map form — so a multi-stream READ's
    // (stream, entry_id, fields) round-trips straight back through the
    // routed+idempotent write face), or >= 1 renderable atomic columns
    val consumedNames = (idColumn ++ streamColumn).toSet
    val remaining = schema.fields.filterNot(f => consumedNames(f.name))
    if (remaining.isEmpty) throw new IllegalArgumentException(
      "redis-stream sink: idColumn/streamColumn are consumed as the entry " +
        "id and routing target — at least one other column is needed for " +
        "the entry's fields")
    val mapForm = remaining.length == 1 && isEntryMap(remaining(0).dataType)
    if (!mapForm) remaining.foreach { f =>
      if (!renderable(f.dataType))
        throw new IllegalArgumentException(
          s"redis-stream sink: column '${f.name}' has unsupported type " +
            s"${f.dataType.simpleString} — supported: string/numeric/boolean/" +
            "decimal/date/timestamp/binary, or ONE MAP<STRING,STRING> column")
    }
  }
}

final case class RedisStreamWriterFactory(opts: RedisSources.Options,
    stream: String, schema: StructType, idColumn: Option[String] = None,
    maxLen: Option[Long] = None, streamColumn: Option[String] = None,
    members: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.write.DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  import org.apache.spark.sql.connector.write._
  import org.apache.spark.sql.types._

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer()
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer()

  private def writer(): DataWriter[InternalRow] = new DataWriter[InternalRow] {
    // idempotent mode: this column IS the explicit XADD id, not a field
    private val idIdx = idColumn.map(schema.fieldIndex).getOrElse(-1)
    // routed mode: this column names each row's target stream
    private val streamIdx = streamColumn.map(schema.fieldIndex).getOrElse(-1)
    // map form = the single NON-consumed column is MAP<STRING,STRING>
    // (mirrors validateSinkSchema — so a multi-stream read's
    // (stream, entry_id, fields) writes straight back)
    private val mapIdx = {
      val remaining = schema.fields.indices.filter(i => i != idIdx && i != streamIdx)
      if (remaining.length == 1 &&
        RedisStreamWriterFactory.isEntryMap(schema.fields(remaining.head).dataType))
        remaining.head
      else -1
    }
    private val conn = opts.connect()
    // each pending XADD keeps its (stream, id, fields) so a server
    // rejection can be classified (replay vs genuine error) without
    // re-rendering
    private val buf =
      scala.collection.mutable.ArrayBuffer[(Seq[String], String, String, Seq[(String, String)])]()
    private val names = schema.fieldNames
    // Per-column RENDERERS resolved once from the schema — field values
    // must be the EXTERNAL string forms (dates as dates, timestamps as
    // UTC instants, binary as base64), never Catalyst internals (a raw
    // micros long or '[B@…' written into the stream is silent
    // corruption for every consumer). Unsupported types fail loudly
    // naming the column.
    private val render: Array[InternalRow => String] =
      schema.fields.zipWithIndex.map { case (f, i) =>
        f.dataType match {
          case StringType => (r: InternalRow) => r.getUTF8String(i).toString
          case BooleanType => (r: InternalRow) => r.getBoolean(i).toString
          case ByteType => (r: InternalRow) => r.getByte(i).toString
          case ShortType => (r: InternalRow) => r.getShort(i).toString
          case IntegerType => (r: InternalRow) => r.getInt(i).toString
          case LongType => (r: InternalRow) => r.getLong(i).toString
          case FloatType => (r: InternalRow) => r.getFloat(i).toString
          case DoubleType => (r: InternalRow) => r.getDouble(i).toString
          case d: DecimalType =>
            (r: InternalRow) => r.getDecimal(i, d.precision, d.scale).toString
          case DateType => (r: InternalRow) =>
            java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
          case TimestampType => (r: InternalRow) => // UTC instant, documented
            java.time.Instant.EPOCH.plus(r.getLong(i),
              java.time.temporal.ChronoUnit.MICROS).toString
          case BinaryType => (r: InternalRow) =>
            java.util.Base64.getEncoder.encodeToString(r.getBinary(i))
          case other =>
            if (mapIdx == i) (r: InternalRow) => "" // handled via getMap below
            else throw new IllegalArgumentException(
              s"redis-stream sink: column '${f.name}' has unsupported type " +
                s"${other.simpleString} — supported: string/numeric/boolean/" +
                "decimal/date/timestamp/binary, or ONE MAP<STRING,STRING> column")
        }
      }.toArray

    private def flush(): Unit = if (buf.nonEmpty) {
      val pending = buf.toVector
      buf.clear()
      // first pass: split replies into ok / monotonic-rejections /
      // genuine errors. Rejections are NOT verified one by one — a
      // replayed task re-sends its whole buffer and every XADD is
      // rejected, so the verification must be ONE pipelined round trip
      // too, not per-row XRANGEs
      val suspects = scala.collection.mutable.ArrayBuffer[(String, String, Seq[(String, String)])]()
      conn.pipeline(pending.map(_._1)).zip(pending).foreach {
        case (graft.resp.RespValue.Err(m), (_, target, id, fields)) =>
          if (id != "*" && m.contains("equal or smaller")) suspects += ((target, id, fields))
          else throw new java.io.IOException(s"XADD failed: $m")
        case _ => ()
      }
      // second pass (replays only): the entry at that exact id already
      // existing on the server WITH the same payload → written by an
      // earlier attempt of this task/epoch, skip; anything else is
      // loud. Field ORDER matters: XADD preserves it, so an equal
      // multiset in a different order is a different payload. Each check
      // ranges the suspect's OWN target stream (routed mode).
      if (suspects.nonEmpty) {
        val entries = new RespCodec.EntriesView
        RedisCommands.readEntries(conn, suspects.toSeq.map { case (target, id, _) =>
          RedisCommands.xrangeCommand(target, id, id, Some(1))
        }, entries) { j =>
          val (target, id, fields) = suspects(j)
          val replay = entries.size > 0 && entries.id(0) == id && entries.fieldStrings(0) == fields
          if (!replay) throw new java.io.IOException(
            s"XADD $target $id rejected (id <= stream top) and no equal " +
              s"entry exists at that id — out-of-order or colliding " +
              s"explicit ids; fields were ${fields.map(_._1).mkString(",")}")
        }
      }
    }

    override def write(row: InternalRow): Unit = {
      val fields: Seq[(String, String)] =
        if (mapIdx >= 0) {
          if (row.isNullAt(mapIdx)) Nil
          else {
            val m = row.getMap(mapIdx)
            val ks = m.keyArray(); val vs = m.valueArray()
            (0 until m.numElements()).map(i =>
              ks.getUTF8String(i).toString ->
                (if (vs.isNullAt(i)) "" else vs.getUTF8String(i).toString))
          }
        } else names.indices.collect {
          case i if i != idIdx && i != streamIdx && !row.isNullAt(i) =>
            names(i) -> render(i)(row)
        }.toSeq
      // a Redis Stream entry MUST carry >= 1 field (XADD protocol): an
      // all-NULL row cannot be represented — fail loudly instead of
      // silently dropping it (the caller filters or imputes upstream)
      if (fields.isEmpty)
        throw new IllegalArgumentException(
          "redis-stream sink: row with no representable fields (all " +
            "columns NULL / empty map) — a stream entry needs at least " +
            "one field; filter such rows upstream")
      val id =
        if (idIdx < 0) "*"
        else {
          if (row.isNullAt(idIdx)) throw new IllegalArgumentException(
            s"redis-stream sink: idColumn '${names(idIdx)}' is NULL for a row " +
              s"with fields ${fields.map(_._1).mkString(",")} — explicit ids " +
              "must be present on every row")
          val v = row.getUTF8String(idIdx).toString
          if (!RedisStreamWriterFactory.IdForm.matcher(v).matches())
            throw new IllegalArgumentException(
            s"redis-stream sink: idColumn value '$v' is not an entry id " +
              "'<ms>-<seq>'")
          v
        }
      // routed mode: the row's stream column names the target, which
      // must be in the DECLARED set — a typo or upstream bug must fail
      // here, not spray entries into brand-new keys
      val target =
        if (streamIdx < 0) stream
        else {
          if (row.isNullAt(streamIdx)) throw new IllegalArgumentException(
            s"redis-stream sink: streamColumn '${names(streamIdx)}' is NULL " +
              s"for a row with fields ${fields.map(_._1).mkString(",")} — " +
              "every row must name its target stream")
          val v = row.getUTF8String(streamIdx).toString
          if (!members.contains(v)) throw new IllegalArgumentException(
            s"redis-stream sink: streamColumn value '$v' is not in the " +
              s"declared stream set {${members.toSeq.sorted.mkString(", ")}} — " +
              "declare it in .option(\"streams\", ...) or fix the routing")
          v
        }
      // inline retention: XADD key MAXLEN ~ n <id> ... — the production
      // trim form (approximate: the server may trim lazily at node
      // boundaries). With idColumn, retention that outruns a retry
      // window can trim a replayed row's entry — the replay check then
      // fails LOUDLY (id <= top, no equal entry), the same
      // retention-vs-replay contract the SOURCE documents for XTRIM.
      val maxlenArgs = maxLen.toSeq.flatMap(n => Seq("MAXLEN", "~", n.toString))
      buf += ((Seq("XADD", target) ++ maxlenArgs ++ Seq(id) ++
        fields.flatMap(f => Seq(f._1, f._2)), target, id, fields))
      if (buf.length >= opts.count) flush()
    }
    override def commit(): WriterCommitMessage = { flush(); RedisWriteCommit(0L) }
    override def abort(): Unit = buf.clear()
    override def close(): Unit = conn.close()
  }
}

/** Offset: {stream → last entry id emitted (inclusive)}, `0-0` before
  * any. A `stream=` read (`bare`) serializes its one id as is, `<ms>-<seq>`,
  * the form its checkpoints have always held. `streams` and
  * `streams.pattern` reads serialize a JSON object with SORTED keys —
  * Spark decides "anything new?" by comparing offset JSON, so the form
  * must be canonical (the Kafka source's {topic: {partition: offset}}
  * JSON precedent, one level flatter because a Redis stream has exactly
  * one ordered shard).
  */
final case class RedisEntryMapOffset(ids: Map[String, String], bare: Boolean = false)
    extends Offset {
  override def json(): String =
    if (bare) ids.values.head else RedisEntryMapOffset.serialize(ids)
}

object RedisEntryMapOffset {
  import org.json4s._
  import org.json4s.jackson.JsonMethods

  def serialize(ids: Map[String, String]): String =
    JsonMethods.compact(JsonMethods.render(
      JObject(ids.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) })))

  def parse(json: String): Map[String, String] = JsonMethods.parse(json) match {
    case JObject(fields) => fields.map {
      case (k, JString(v)) => k -> v
      case (k, other) => throw new IllegalArgumentException(
        s"redis-stream offset map: stream '$k' has non-string position $other")
    }.toMap
    case other => throw new IllegalArgumentException(
      "redis-stream multi-stream offset must be a JSON object " +
        s"{stream: lastId}, got: $other — a bare-id checkpoint written by " +
        "the single-stream mode cannot drive a streams=/streams.pattern " +
        "query (start a fresh checkpoint)")
  }
}

/** One contiguous entry-ID range (exclusive start, inclusive end) of one
  * stream — the unit of replay.
  */
final case class RedisStreamRange(host: String, port: Int, stream: String,
    startExclusive: String, endInclusive: String, pageSize: Int,
    // its toString masks the credential
    link: RedisLink,
    // multi-stream reads prepend the origin stream column
    emitStream: Boolean = false)
    extends InputPartition

/** Drains one range with paged `XRANGE (cursor end COUNT page` — bounded
  * memory per page, exclusive-start resume after each page's last id.
  * Each page is read in place into one ColumnarBatch: the entry ids, and
  * the fields as a [[RedisMapColumn]] in server order, behind the stream
  * name in multi-stream reads. Each id and field byte is copied once.
  */
class RedisStreamRangeReader(p: RedisStreamRange) extends PartitionReader[ColumnarBatch] {
  private val conn = new RedisConnection(p.host, p.port, p.link)
  private val entries = new RespCodec.EntriesView
  private var cursor = p.startExclusive
  private var done = false
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    if (current != null) { current.close(); current = null }
    if (done) return false
    RedisCommands.readEntries(conn,
      Seq(RedisCommands.xrangeCommand(p.stream, "(" + cursor, p.endInclusive, Some(p.pageSize))), entries)()
    val n = entries.size
    if (n < p.pageSize) done = true
    if (n == 0) return false
    cursor = entries.id(n - 1)
    val columns = Array[ColumnVector](RedisStringColumn.of(entries.ids),
      new RedisMapColumn(entries, n, RedisMapColumn.ReplyOrder))
    current = new ColumnarBatch(if (!p.emitStream) columns else {
      val stream = new ConstantColumnVector(n, StringType)
      stream.setUtf8String(UTF8String.fromString(p.stream))
      stream +: columns
    }, n)
    true
  }
  override def get(): ColumnarBatch = current
  override def close(): Unit = {
    if (current != null) current.close()
    conn.close()
  }
}

object RedisMultiStreamMicroBatch {
  import RedisStreamEntries._

  /** Shared by the batch and micro-batch faces. */
  val readerFactory: PartitionReaderFactory = new PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
      throw new IllegalStateException(s"$partition reads columnar, not rows")
    override def supportColumnarReads(partition: InputPartition): Boolean = true
    override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
      new RedisStreamRangeReader(partition.asInstanceOf[RedisStreamRange])
  }

  /** Resolve the member streams of a selection. Pattern mode walks one
    * full `SCAN MATCH glob TYPE stream` cursor DRIVER-side — a keyspace
    * directory operation (key names only, type-filtered on the server),
    * the analog of Kafka's subscribePattern metadata fetch, re-run per
    * trigger so streams created while the query runs join the read.
    */
  def members(c: RedisConnection, opts: RedisSources.Options,
      sel: StreamSelection): Seq[String] = sel match {
    case SingleStream(n) => Seq(n)
    case MultiStreams(ns) => ns
    case PatternStreams(glob) =>
      RedisCommands.scanAll(c, glob, opts.count, Some("stream")).distinct.sorted
  }
}

/** The one micro-batch stream of `redis-stream`, for `stream`, `streams`
  * and `streams.pattern` alike. N streams, one micro-batch query: the
  * 100 TB ingest shape (a single Redis stream is one ordered partition
  * by design — the server's ordering guarantee — so scale-out is MANY
  * streams, exactly like Kafka topics scale by partition count). One [[RedisStreamRange]]
  * partition per advanced stream per batch; the offset is a composite
  * {stream → last id} map ([[RedisEntryMapOffset]]), bare for `stream`.
  * A single stream is the one-member case: its share is the whole cap,
  * the rotation is 0, and a short page marks it drained, so a trigger
  * costs one capped XRANGE (or one XREVRANGE uncapped), no second pass.
  *
  * Admission-cap split, stated precisely (all deterministic given the
  * start offset and server state, and replay never re-probes: a
  * committed batch replays from its recorded (start, end] ranges):
  *  - the cap is split evenly across the member streams (n/k each,
  *    the first n%k in probe order get one extra);
  *  - streams are probed in sorted order ROTATED by a hash of the
  *    start-offset JSON, so which streams get the extras (and the
  *    carry, below) rotates as the query makes progress — a fixed
  *    order would starve the lexicographically-last stream whenever
  *    cap < backlog everywhere;
  *  - a stream that cannot fill its share donates the leftover to the
  *    NEXT stream in probe order (work-conserving within the trigger).
  *
  * Membership semantics:
  *  - `streams` list: fixed; a checkpointed stream no longer listed is
  *    carried in the offset map untouched (re-adding it resumes);
  *  - `streams.pattern`: re-resolved every trigger; a NEW match enters
  *    at `0-0` (read fully — the Kafka new-partition rule, regardless
  *    of startingOffsets, which only positions query-START members); a
  *    checkpointed stream that stops matching keeps its map entry and
  *    stops advancing only if deleted (XRANGE on a missing key is
  *    empty) — never silently dropped from the offset;
  *  - Trigger.AvailableNow pins both membership and per-stream tips at
  *    start: the drain reads exactly the backlog that existed then.
  */
class RedisMultiStreamMicroBatch(opts: RedisSources.Options,
    sopts: RedisStreamEntries.StreamOptions)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import RedisStreamEntries._

  // a `stream=` read: bare-id offsets and no `stream` column
  private val bare = sopts.selection.isInstanceOf[SingleStream]

  private def membersNow(c: RedisConnection): Seq[String] =
    RedisMultiStreamMicroBatch.members(c, opts, sopts.selection)

  // the driver's connection for the offset probes, opened at the first
  // and closed by `stop()`
  private var driverConn: RedisConnection = _
  private def probe[T](f: RedisConnection => T): T = synchronized {
    if (driverConn == null) driverConn = opts.connect()
    f(driverConn)
  }

  // AvailableNow: pin membership AND per-stream tips once at query
  // start; an empty keyspace pins the empty map so a live producer
  // cannot keep the drain running forever
  @volatile private var availableNowEnds: Option[Map[String, String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnds = Some(probe { c =>
      membersNow(c).map(s => s -> RedisCommands.xlast(c, s).getOrElse(ZeroId)).toMap
    })

  override def initialOffset(): Offset = probe { c =>
    val ms = membersNow(c)
    RedisEntryMapOffset(ms.map { s =>
      s -> (sopts.startAt match {
        case StartEarliest => ZeroId
        case StartLatest => RedisCommands.xlast(c, s).getOrElse(ZeroId)
        // a point-in-time id is meaningful across streams: the ms
        // component is a wall-clock timestamp on every stream
        case StartAfter(id) => id
      })
    }.toMap, bare)
  }

  override def getDefaultReadLimit: ReadLimit =
    sopts.maxPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val restored = start.asInstanceOf[RedisEntryMapOffset].ids
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        Some(r.maxRows().min(Int.MaxValue.toLong).toInt)
      case _ => sopts.maxPerTrigger
    }
    probe { c =>
      // during an AvailableNow drain membership is the pinned set;
      // otherwise re-resolve (new pattern matches enter at 0-0)
      val membership = (availableNowEnds match {
        case Some(pinned) => pinned.keySet ++ restored.keySet
        case None => membersNow(c).toSet ++ restored.keySet
      }).toSeq.sorted
      val k = membership.length
      if (k == 0) RedisEntryMapOffset(restored, bare)
      else {
        // rotate the probe order by a hash of the canonical start
        // offset: deterministic for a given start, rotates with
        // progress (see class doc)
        val rot = math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(
            RedisEntryMapOffset.serialize(restored)), k)
        val order = membership.drop(rot) ++ membership.take(rot)
        val shares: Map[String, Int] = cap match {
          case None => Map.empty // unused
          case Some(n) => order.zipWithIndex.map { case (s, i) =>
            s -> (n / k + (if (i < n % k) 1 else 0))
          }.toMap
        }
        var carry = 0
        val advanced = scala.collection.mutable.HashMap[String, String]()
        val rangeEnds = scala.collection.mutable.HashMap[String, String]()
        // streams the FIRST pass already proved drained (a page shorter
        // than its quota means no more entries up to rangeEnd at probe
        // time — true for "+" and pinned ends alike): the second pass
        // must skip them, or in non-drain capped mode (rangeEnd "+",
        // where no tip comparison can detect exhaustion) it would issue
        // a wasted XRANGE per already-drained stream per trigger
        val drained = scala.collection.mutable.HashSet[String]()
        order.foreach { s =>
          val from = restored.getOrElse(s, ZeroId)
          // drain mode: never pass the pinned tip; a stream with no pin
          // (appeared after prepare) is not admitted during the drain
          val tip: Option[String] = availableNowEnds match {
            case Some(pinned) => pinned.get(s).orElse(Some(from))
            case None => None
          }
          val rangeEnd = tip.getOrElse("+")
          rangeEnds(s) = rangeEnd
          val end = cap match {
            case Some(_) =>
              val quota = shares(s) + carry
              val atTip = tip.exists(t => RedisCommands.compareStreamIds(t, from) <= 0)
              if (atTip) drained += s // at its pinned tip: nothing to read later either
              if (quota <= 0 || atTip) {
                carry = quota // nothing read: the whole quota rolls on
                None
              } else {
                val (read, last) = RedisCommands.xrangeLast(c, s, "(" + from, rangeEnd, quota)
                if (read < quota) drained += s // exhausted up to rangeEnd
                carry = quota - read
                last
              }
            case None =>
              if (tip.isDefined) tip.filter(t =>
                RedisCommands.compareStreamIds(t, from) > 0)
              else RedisCommands.xlast(c, s).filter(last =>
                RedisCommands.compareStreamIds(last, from) > 0)
          }
          advanced(s) = end.filter(e => RedisCommands.compareStreamIds(e, from) > 0)
            .getOrElse(from)
        }
        // WORK-CONSERVING second pass (cap mode): quota left after the
        // LAST stream in probe order goes back to streams that still
        // have backlog — without this, rotation putting a drained stream
        // last admits less than both the cap and the available backlog
        // (streams earlier in probe order were held to their shares).
        // Streams the first pass proved drained are skipped (see
        // `drained`), so this really is one extra XRANGE per
        // still-backlogged stream at most; if carry survives this pass
        // every stream is at its tip for the trigger.
        if (cap.isDefined && carry > 0) {
          val it = order.iterator
          while (carry > 0 && it.hasNext) {
            val s = it.next()
            val from = advanced(s)
            val rangeEnd = rangeEnds(s)
            val atTip = drained.contains(s) || (rangeEnd != "+" &&
              RedisCommands.compareStreamIds(rangeEnd, from) <= 0)
            if (!atTip) {
              val (read, last) = RedisCommands.xrangeLast(c, s, "(" + from, rangeEnd, carry)
              carry -= read
              last.foreach(advanced(s) = _)
            }
          }
        }
        RedisEntryMapOffset(restored ++ advanced, bare)
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[RedisEntryMapOffset].ids
    val e = end.asInstanceOf[RedisEntryMapOffset].ids
    e.toSeq.sortBy(_._1).flatMap { case (stream, endId) =>
      val from = s.getOrElse(stream, ZeroId)
      if (RedisCommands.compareStreamIds(endId, from) <= 0) None
      else Some(RedisStreamRange(opts.host, opts.port, stream, from, endId,
        opts.count, opts.link, emitStream = !bare): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RedisMultiStreamMicroBatch.readerFactory

  override def deserializeOffset(json: String): Offset = sopts.selection match {
    case SingleStream(n) => RedisEntryMapOffset(Map(n -> json), bare = true)
    case _ => RedisEntryMapOffset(RedisEntryMapOffset.parse(json))
  }

  /** Nothing to release: entries live on the server under the
    * operator's retention policy (`XTRIM`), exactly like Kafka.
    */
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = synchronized { Option(driverConn).foreach(_.close()); driverConn = null }
}
