package perfbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.net.{RedisCommands, RedisConnection}
import graft.sources.{RedisColumnarPartitionReader, RedisDataWriterFactory, RedisInputPartition, RedisSources}

/** One closed-loop workload, driven by one client thread. */
trait Workload extends AutoCloseable {
  /** Builds the inputs; returns the seconds spent loading data, which
    * [[Main]] repeats and reports as a median.
    */
  def load(): Double
  /** Starts serving the loaded data. */
  def start(): Unit = ()
  def warmup(r: Runner): Unit
  /** One cycle through the workload's operation mix. */
  def pass(i: Int, r: Runner): Unit
  def standIn: Option[StandIn] = None
  /** Per-layer probes of the traced run: the benchmark calls each
    * layer's public functions directly and times them.
    */
  def probes(r: Runner): Seq[Metric]
  override def close(): Unit = standIn.foreach { s => s.close(); s.clear() }
}

/** Printable bytes that seeded values are cut from. */
final class ValuePool(seed: Long) {
  private val pool = {
    val rnd = new Random(seed)
    Array.fill(1 << 16)((32 + rnd.nextInt(95)).toByte)
  }
  def slice(rnd: Random, len: Int): Array[Byte] = {
    val off = rnd.nextInt(pool.length - len)
    java.util.Arrays.copyOfRange(pool, off, off + len)
  }
}

object RedisWorkload {
  val Host = "127.0.0.1"
  /** The redis-kv source's default `scan.count` (also its SET batch size). */
  val ScanCount = 2048
  /** `RedduckFunctions.withRedisValues`' default MGET batch. */
  val LookupBatch = 512
}

/** `redis_scan_kv`: repeated count + total value length over a
  * 2×10⁵-key string keyspace, read through the `redis-kv` source
  * sharded by first key character.
  */
final class RedisScanKv(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import RedisWorkload._
  val keys = 200000
  /** `partition.slots` = cores/2 + 1: the source gives all but the last
    * slot shard an even share of the [0-9A-Za-z] first characters and
    * the last one the complement class, which no key here matches; so
    * cores/2 shards carry the keys.
    */
  val slots: Int = cores / 2 + 1
  private val server = new StandIn
  override def standIn: Option[StandIn] = Some(server)
  private var expectedBytes = 0L
  /** `octet_length`, not `length`: Spark's `length` counts UTF-8
    * characters byte by byte, which would make the query's own
    * arithmetic, not the Redis layers, most of the client's time. The
    * values are ASCII, so both give the same sum.
    */
  val sql = "SELECT count(*) AS n, sum(octet_length(value)) AS bytes FROM bk"

  override def load(): Double = {
    val t0 = System.nanoTime()
    server.clear()
    val rnd = new Random(seed)
    val pool = new ValuePool(seed)
    val alphabet = RedisSources.SlotAlphabet
    var bytes = 0L
    var i = 0
    while (i < keys) {
      val len = if (rnd.nextDouble() < 0.1) 1024 + rnd.nextInt(7 * 1024 + 1) else 16 + rnd.nextInt(113)
      server.put(s"bk:${alphabet(i % alphabet.length)}${rnd.nextInt(1 << 30)}-$i", pool.slice(rnd, len))
      bytes += len
      i += 1
    }
    expectedBytes = bytes
    (System.nanoTime() - t0) / 1e9
  }

  override def start(): Unit = {
    server.start()
    spark.read.format("redis-kv").option("host", Host).option("port", server.port.toString)
      .option("pattern", "bk:*").option("partition.slots", slots.toString)
      .load().createOrReplaceTempView("bk")
  }

  private def scan(r: Runner, record: Boolean): Unit = {
    val t = r.timed("scan", 0L) { spark.sql(sql).collect() } { rows =>
      val (n, b) = (rows(0).getLong(0), rows(0).getLong(1))
      if (n != keys || b != expectedBytes) Some(s"count $n sum $b, expected $keys and $expectedBytes") else None
    }
    if (record) r.op("scan", t.ms, keys)
  }

  /** Most of the JIT's work is done after about ten scans. */
  override def warmup(r: Runner): Unit = (1 to 8).foreach(_ => scan(r, record = false))
  override def pass(i: Int, r: Runner): Unit = scan(r, record = true)

  /** Walks every shard the way the columnar reader does: one SCAN page,
    * then one MGET of its keys.
    */
  private def walk(r: Runner, timed: Boolean): (Long, Long) = {
    val c = new RedisConnection(Host, server.port)
    var calls, got = 0L
    try RedisSources.slotPatterns("bk:*", slots).flatten.foreach { pat =>
      var cursor = "0"
      do {
        val (next, ks) =
          if (timed) r.call("net.scan_page")(RedisCommands.scanPage(c, cursor, pat, ScanCount))
          else RedisCommands.scanPage(c, cursor, pat, ScanCount)
        calls += 1
        if (ks.nonEmpty) {
          if (timed) r.call("net.mget_batch")(RedisCommands.mget(c, ks)) else RedisCommands.mget(c, ks)
          calls += 1
          got += ks.length
        }
        cursor = next
      } while (cursor != "0")
    } finally c.close()
    (calls, got)
  }

  override def probes(r: Runner): Seq[Metric] = {
    server.capturing = true
    walk(r, timed = false)
    server.capturing = false
    val resp = Probes.resp(server)
    val c0 = server.counters.commands
    val (calls, got) = walk(r, timed = true)
    val cmds = server.counters.commands - c0
    // one partition of the columnar reader, driven directly
    val shard = RedisSources.slotPatterns("bk:*", slots).head
    val reader = Probes.reader(RedisInputPartition(Host, server.port, shard, ScanCount))
    resp ++ reader ++ Seq(
      Metric("net.round_trips_per_1k_keys", calls * 1000.0 / got, "count"),
      Metric("net.commands_per_round_trip", cmds.toDouble / calls, "count"),
      Metric("net.scan_page_ms_p50", Stats.median(r.calls("net.scan_page")), "ms"),
      Metric("net.mget_batch_ms_p50", Stats.median(r.calls("net.mget_batch")), "ms"))
  }
}

/** `redis_point_rw`: each round upserts 5×10⁴ rows through the
  * `redis-kv` writer, then reads them back through
  * `RedduckFunctions.withRedisValues`, with 10% seeded misses.
  */
final class RedisPointRw(spark: SparkSession, seed: Long, cores: Int) extends Workload {
  import RedisWorkload._
  val universe = 200000
  val batch = 50000
  val misses: Int = batch / 10
  val parts: Int = math.max(1, cores / 2)
  private val server = new StandIn
  override def standIn: Option[StandIn] = Some(server)
  private val pool = new ValuePool(seed)
  private val schema = StructType(Seq(StructField("key", StringType), StructField("value", StringType)))
  private val keySchema = StructType(Seq(StructField("key", StringType)))

  private def key(i: Int) = s"rw:$i"

  /** Every key of the universe starts with a value, so writes upsert. */
  override def load(): Double = {
    val t0 = System.nanoTime()
    server.clear()
    val rnd = new Random(seed)
    (0 until universe).foreach(i => server.put(key(i), pool.slice(rnd, 16 + rnd.nextInt(49))))
    (System.nanoTime() - t0) / 1e9
  }

  override def start(): Unit = server.start()

  /** Round `n`'s inputs: distinct written rows, and the lookup keys. */
  final case class Round(rows: Array[(String, String)], lookups: Array[String],
      expected: java.util.HashMap[String, String])

  def round(n: Int): Round = {
    val rnd = new Random(seed * 1000003L + n)
    val ids = Array.range(0, universe)
    var i = 0
    while (i < batch) { // partial Fisher-Yates: the first `batch` ids are a sample
      val j = i + rnd.nextInt(universe - i)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i += 1
    }
    val rows = Array.tabulate(batch)(k =>
      key(ids(k)) -> new String(pool.slice(rnd, 16 + rnd.nextInt(49)), "US-ASCII"))
    val expected = new java.util.HashMap[String, String](batch * 2)
    rows.foreach { case (k, v) => expected.put(k, v) }
    val lookups = rnd.shuffle((rows.take(batch - misses).map(_._1) ++
      Array.tabulate(misses)(m => s"rw:miss:$n:$m")).toSeq).toArray
    Round(rows, lookups, expected)
  }

  private def write(rd: Round): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rd.rows.toSeq.map(r => Row(r._1, r._2)), parts), schema)
      .write.format("redis-kv").option("host", Host).option("port", server.port.toString)
      .mode("append").save()

  private def lookup(rd: Round): Array[Row] =
    graft.functions.RedduckFunctions.withRedisValues(
      spark.createDataFrame(spark.sparkContext.parallelize(rd.lookups.toSeq.map(Row(_)), parts), keySchema),
      "key", hostPort = Some(Host -> server.port)).collect()

  private def check(rd: Round, got: Array[Row]): Option[String] = {
    if (got.length != rd.lookups.length) return Some(s"${got.length} rows for ${rd.lookups.length} keys")
    val bad = got.iterator.filter(r => r.getString(1) != rd.expected.get(r.getString(0))).take(3).toSeq
    if (bad.isEmpty) None else Some("values differ, e.g. " + bad.map(r => r.getString(0)).mkString(", "))
  }

  private def runRound(n: Int, r: Runner, record: Boolean): Unit = {
    val rd = round(n)
    val opId = r.spans.nextId()
    val w = r.timed("write", opId)(write(rd))(_ => None)
    val l = r.timed("lookup", opId)(lookup(rd))(check(rd, _))
    if (record) {
      r.op("write", w.ms, rd.rows.length)
      r.op("lookup", l.ms, rd.lookups.length)
    }
  }

  override def warmup(r: Runner): Unit = (1 to 5).foreach(k => runRound(-k, r, record = false))
  override def pass(i: Int, r: Runner): Unit = runRound(i, r, record = true)

  /** The writer's and the lookup's calls, made directly over one
    * connection: SET pipelines of the writer's batch size, then MGETs of
    * the lookup's batch size.
    */
  private def calls(r: Runner, rd: Round, timed: Boolean): Long = {
    val c = new RedisConnection(Host, server.port)
    var n = 0L
    try {
      rd.rows.grouped(ScanCount).foreach { g =>
        val cmds = g.toSeq.map { case (k, v) => Seq("SET", k, v) }
        if (timed) r.call("net.set_batch")(c.pipeline(cmds)) else c.pipeline(cmds)
        n += 1
      }
      rd.lookups.grouped(LookupBatch).foreach { g =>
        if (timed) r.call("net.mget_batch")(RedisCommands.mget(c, g.toSeq)) else RedisCommands.mget(c, g.toSeq)
        n += 1
      }
    } finally c.close()
    n
  }

  override def probes(r: Runner): Seq[Metric] = {
    val rd = round(Int.MaxValue)
    server.capturing = true
    calls(r, rd, timed = false)
    server.capturing = false
    val resp = Probes.resp(server)
    val c0 = server.counters.commands
    val n = calls(r, rd, timed = true)
    val cmds = server.counters.commands - c0
    val keysMoved = rd.rows.length + rd.lookups.length
    resp ++ Probes.writer(new RedisDataWriterFactory(Host, server.port, ScanCount), rd.rows) ++ Seq(
      Metric("net.round_trips_per_1k_keys", n * 1000.0 / keysMoved, "count"),
      Metric("net.commands_per_round_trip", cmds.toDouble / n, "count"),
      Metric("net.set_batch_ms_p50", Stats.median(r.calls("net.set_batch")), "ms"),
      Metric("net.mget_batch_ms_p50", Stats.median(r.calls("net.mget_batch")), "ms"),
      Metric("sources.lookup_rows_per_s",
        r.samples("lookup").length * (batch.toDouble) / (r.samples("lookup").sum / 1000), "1/s"),
      Metric("op.write_ms_p50", Stats.median(r.samples("write")), "ms"),
      Metric("op.lookup_ms_p50", Stats.median(r.samples("lookup")), "ms"))
  }
}

/** `olap_pipeline`: a fixed set of `SparkEntry` queries over the
  * vendored test tables, no Redis; each pass runs them in a seeded order.
  */
final class OlapPipeline(spark: SparkSession, seed: Long, dataDir: String,
    expected: Map[String, (Long, String)]) extends Workload {
  import OlapPipeline._

  override def load(): Double = 0.0

  private def query(name: String, r: Runner, record: Boolean): Unit = {
    val t = r.timed(name, 0L) { graft.SparkEntry.queries(name)(spark, dataDir).collect() } { rows =>
      val got = (rows.length.toLong, Canon.hash(rows))
      expected.get(name) match {
        case None => Some("no recorded result")
        case Some(e) if e != got => Some(s"rows ${got._1} hash ${got._2}, recorded ${e._1} ${e._2}")
        case _ => None
      }
    }
    if (record) r.op(name, t.ms, t.value.map(_.length.toLong).getOrElse(0L))
  }

  /** The cold first pass, in the fixed order. */
  override def warmup(r: Runner): Unit = Queries.foreach(q => query(q, r, record = false))

  override def pass(i: Int, r: Runner): Unit =
    new Random(seed * 31 + i).shuffle(Queries).foreach(q => query(q, r, record = true))

  override def probes(r: Runner): Seq[Metric] =
    Probes.kernels(spark, dataDir) ++
      Queries.map(q => Metric(s"query.$q.ms", Stats.median(r.samples(q)), "ms"))

  /** Row count and content hash of each query, for the recorded file. */
  def record(): Seq[(String, Long, String, org.apache.spark.sql.DataFrame)] = Queries.map { q =>
    val df = graft.SparkEntry.queries(q)(spark, dataDir)
    val rows = df.collect()
    (q, rows.length.toLong, Canon.hash(rows), df)
  }
}

object OlapPipeline {
  /** Queries that cover plain OLAP, window, percentile rewrite, text and
    * vector kernels, near-duplicate operators and ANN search, one or two
    * per family. The program's ledger queries write under fixed `/tmp`
    * paths, outside the benchmark's checkout, so none is here.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q05_local_supplier_volume", "q17_window_rank",
    "q40b_percentiles_approx", "d01_text_stats",
    "d10_ngram_jaccard", "d33_semdedup", "d96_simhash60_pairs",
    "m06_frame_dedup", "s01_cosine_topk", "s22_hnsw_topk")

  /** `name rows hash` per line. */
  def readExpected(path: java.nio.file.Path): Map[String, (Long, String)] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val f = l.split("\\s+"); f(0) -> (f(1).toLong, f(2)) }.toMap
    }
}

/** Order-insensitive content hash of a result. Doubles are compared to
  * nine significant digits, so a changed float summation order does not
  * count as a wrong answer.
  */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0" else java.lang.String.format(java.util.Locale.ROOT, "%.9g", d)
    case f: Float => value(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case bd: java.math.BigDecimal => bd.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(value).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(8).map(x => f"${x & 0xff}%02x").mkString
  }
}

/** Direct calls into single layers. */
object Probes {
  private def threadAlloc(): Long = JvmSnap.threadAlloc()

  /** Replays the reply bytes the stand-in sent through `RespCodec.decode`,
    * and re-encodes the commands it received with `RespCodec.encodeCommand`.
    */
  def resp(server: StandIn): Seq[Metric] = {
    val frames = server.replies.toArray
    val cmds = server.commands.toArray
    val bytes = frames.map(_.length.toLong).sum
    def replay(): Unit = frames.foreach { f =>
      graft.resp.RespCodec.decode(f, 0, f.length) match {
        case graft.resp.RespCodec.Decoded(_, n) if n == f.length => ()
        case other => throw new IllegalStateException(s"replayed frame did not decode whole: $other")
      }
    }
    replay() // warm
    var reps = 0
    val a0 = threadAlloc()
    val t0 = System.nanoTime()
    while (reps < 3 || System.nanoTime() - t0 < 500000000L) { replay(); reps += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    val alloc = threadAlloc() - a0
    cmds.foreach(c => graft.resp.RespCodec.encodeCommand(c))
    var encReps = 0
    val e0 = System.nanoTime()
    while (encReps < 3 || System.nanoTime() - e0 < 300000000L) {
      cmds.foreach(c => graft.resp.RespCodec.encodeCommand(c)); encReps += 1
    }
    val encNs = (System.nanoTime() - e0).toDouble
    Seq(
      Metric("resp.decode_mb_per_s", bytes * reps / 1048576.0 / sec, "MB/s"),
      Metric("resp.decode_frames_per_s", frames.length * reps / sec, "1/s"),
      Metric("resp.decode_alloc_bytes_per_frame", alloc.toDouble / (frames.length.toLong * reps), "B"),
      Metric("resp.encode_ns_per_command", encNs / (cmds.length.toLong * encReps), "ns"))
  }

  /** One partition of the columnar kv reader, driven on this thread. */
  def reader(p: RedisInputPartition): Seq[Metric] = {
    def drain(): Long = {
      val rd = new RedisColumnarPartitionReader(p, fetchValues = true)
      var n = 0L
      try while (rd.next()) n += rd.get().numRows() finally rd.close()
      n
    }
    drain() // warm
    val a0 = threadAlloc()
    val t0 = System.nanoTime()
    var keys, reps = 0L
    while (reps < 2 || System.nanoTime() - t0 < 1000000000L) { keys += drain(); reps += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    Seq(
      Metric("sources.reader_keys_per_s", keys / sec, "1/s"),
      Metric("sources.reader_alloc_bytes_per_key", (threadAlloc() - a0).toDouble / keys, "B"))
  }

  /** One writer of the redis-kv sink, driven on this thread. */
  def writer(f: RedisDataWriterFactory, rows: Array[(String, String)]): Seq[Metric] = {
    val internal = rows.map { case (k, v) => InternalRow(UTF8String.fromString(k), UTF8String.fromString(v)) }
    def write(): Unit = {
      val w = f.createWriter(0, 0L)
      try { internal.foreach(w.write); w.commit() } finally w.close()
    }
    write() // warm
    val t0 = System.nanoTime()
    var n = 0L
    while (n < 2 * rows.length || System.nanoTime() - t0 < 500000000L) { write(); n += rows.length }
    Seq(Metric("sources.writer_rows_per_s", n / ((System.nanoTime() - t0) / 1e9), "1/s"))
  }

  /** Each kernel as one projection over the vendored tables' rows,
    * compiled by codegen and built interpreted.
    */
  val Kernels: Seq[(String, String, String)] = Seq(
    ("text_stats", "documents", "text_stats(text)"),
    ("normalize_text", "documents", "normalize_text(text)"),
    ("word_gram_md5s", "documents", "word_gram_md5s(text, 3)"),
    ("shingle_hash32s", "documents", "shingle_hash32s(text, 5, 4294967296)"),
    ("simhash60", "documents", "simhash60(text)"),
    ("bpe_encode", "documents", "bpe_encode(text, array('t h', 'th e', 'i n', 'a n', 'e r'))"),
    ("wordpiece_encode", "documents", "wordpiece_encode(text, array('the', 'a', 'in', 'an', '##s', '##ing', '##ed'))"),
    ("c4_line_filter", "documents", "c4_line_filter(text)"),
    ("dot_f", "embeddings", "dot_f(embedding, embedding)"),
    ("md5_hash32", "documents", "md5_hash32(text)"))

  def kernels(spark: SparkSession, dataDir: String): Seq[Metric] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.plans.logical.Project
    Kernels.flatMap { case (fn, table, expr) =>
      val src = spark.read.parquet(s"$dataDir/$table.parquet")
      val rows = src.queryExecution.toRdd.map(_.copy()).collect()
      val e = src.selectExpr(expr).queryExecution.optimizedPlan.collectFirst { case p: Project => p.projectList.head }
        .getOrElse(throw new IllegalStateException(s"no projection for $expr"))
      val bound = BindReferences.bindReference(e: Expression, src.queryExecution.analyzed.output)
      def nsPerRow(p: UnsafeProjection): Double = {
        p.initialize(0)
        rows.foreach(p(_))
        var n = 0L
        val t0 = System.nanoTime()
        while (n < 3L * rows.length || System.nanoTime() - t0 < 150000000L) { rows.foreach(p(_)); n += rows.length }
        (System.nanoTime() - t0).toDouble / n
      }
      Seq(
        Metric(s"functions.$fn.ns_per_row.codegen", nsPerRow(GenerateUnsafeProjection.generate(Seq(bound))), "ns"),
        Metric(s"functions.$fn.ns_per_row.interpreted", nsPerRow(InterpretedUnsafeProjection.createProjection(Seq(bound))), "ns"))
    }
  }
}
