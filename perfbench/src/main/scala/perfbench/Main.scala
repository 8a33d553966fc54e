package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Times and checks the operations of one run, and in a traced phase
  * records a span and the JVM counters around each.
  */
final class Runner(spark: SparkSession, val spans: Spans) {
  var attempted, failed = 0L
  /** Latency of operations in measured passes, by kind. */
  var recording = false
  val samples = new Samples
  /** Workload operations (a scan; a write or a lookup; a query), by kind. */
  val opMs = scala.collection.mutable.ArrayBuffer[(String, Double)]()
  var rows = 0L
  var traced = false
  var jvm: JvmSnap = JvmSnap.zero
  /** Thread left out of the JVM counters: the Redis stand-in's. */
  var excludeThread = -1L
  private val callMs = new Samples

  final case class Timed[T](value: Option[T], ms: Double)

  /** Times `body` as one operation of kind `kind`, then checks its
    * result outside the timed region. A throw or a failed check is
    * printed by name and counted, never dropped.
    */
  def timed[T](kind: String, parent: Long)(body: => T)(check: T => Option[String]): Timed[T] = {
    attempted += 1
    val id = spans.nextId()
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkTrace.OpKey, id.toString)
    sc.setLocalProperty(SparkTrace.PhaseKey, if (traced) "1" else null)
    val j0 = if (traced) JvmSnap.now(excludeThread) else null
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    sc.setLocalProperty(SparkTrace.OpKey, null)
    sc.setLocalProperty(SparkTrace.PhaseKey, null)
    if (traced) {
      val d = JvmSnap.now(excludeThread) - j0
      jvm = jvm + d
      spans.add(Span(id, parent, if (parent == 0L) id else parent, kind, t0, t1, Map(
        "gc_ms" -> d.gcMs.toDouble, "compiles" -> d.compiles.toDouble, "alloc_bytes" -> d.allocBytes.toDouble,
        "cpu_ms" -> d.cpuNs / 1e6, "fs_read_ops" -> d.fsReadOps.toDouble, "fs_write_ops" -> d.fsWriteOps.toDouble)))
    }
    val bad = r match {
      case Left(e) => Some(s"FAILED $kind: $e")
      case Right(v) => check(v).map(m => s"WRONG $kind: $m")
    }
    bad.foreach { m => failed += 1; System.err.println(s"[perfbench] $m") }
    val ms = (t1 - t0) / 1e6
    if (recording) samples.add(kind, ms)
    Timed(if (bad.isEmpty) r.toOption else None, ms)
  }

  /** Records one workload operation of `ms` that delivered `n` rows. */
  def op(kind: String, ms: Double, n: Long): Unit = if (recording) { opMs += kind -> ms; rows += n }

  /** Times one direct call into a layer, as a span. */
  def call[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val v = f
    val t1 = System.nanoTime()
    spans.add(Span(spans.nextId(), 0L, 0L, name, t0, t1))
    callMs.add(name, (t1 - t0) / 1e6)
    v
  }

  def calls(name: String): Seq[Double] = callMs(name)
}

/** Result of one measured phase. */
final case class Phase(ops: Seq[(String, Double)], passS: Seq[Double], rows: Long) {
  def opMs: Seq[Double] = ops.map(_._2)
  def rowsPerS: Double = rows / (opMs.sum / 1000)

  /** Quantile `q` of each kind of operation, as their geometric mean: a
    * workload that mixes kinds of different cost (write and lookup, or a
    * dozen queries) weighs each kind alike, and one kind's rank among the
    * others cannot move the figure. With one kind it is the plain quantile.
    */
  def quantileOfKinds(q: Double): Double = {
    val perKind = ops.groupBy(_._1).values.map(o => Stats.quantile(o.map(_._2), q))
    math.exp(perKind.map(math.log).sum / perKind.size)
  }
}

object Main {
  /** Spark task threads; a constant so that results and float summation
    * order do not depend on the host.
    */
  val Cores = 4

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, record: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), m.get("record"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.GraftSparkExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    val spark = session(a.work)
    val dataDir = s"${a.data}/sf0.01"
    val expectedFile = java.nio.file.Paths.get(a.data, "olap_expected.tsv")
    val wl: Workload = a.workload match {
      case "redis_scan_kv" => new RedisScanKv(spark, a.seed, Cores)
      case "redis_point_rw" => new RedisPointRw(spark, a.seed, Cores)
      case "olap_pipeline" => new OlapPipeline(spark, a.seed, dataDir, OlapPipeline.readExpected(expectedFile))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    a.record match {
      case Some(out) => record(wl.asInstanceOf[OlapPipeline], out)
      case None => run(a, spark, wl, t0)
    }
    spark.stop()
  }

  /** Writes each query's row count and hash, and its rows as parquet with
    * the DuckDB oracle SQL beside them, for a one-time cross-check.
    */
  def record(wl: OlapPipeline, out: String): Unit = {
    val lines = wl.record().map { case (q, n, h, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
      s"$q $n $h"
    }
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => OlapPipeline.Queries.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "olap_expected.tsv"),
      lines.mkString("# query rows hash\n", "\n", "\n"))
  }

  def run(a: Args, spark: SparkSession, wl: Workload, t0: Long): Unit = {
    val spans = new Spans
    val r = new Runner(spark, spans)
    r.excludeThread = wl.standIn.map(_.threadId).getOrElse(-1L)
    // set-up: the data load is repeated and its median counted once
    val loads = (1 to 3).map(_ => wl.load())
    wl.start()
    wl.warmup(r)
    val setupS = (System.nanoTime() - t0) / 1e9 - (loads.sum - Stats.median(loads))

    val env0 = Env.snap()
    def measure(seconds: Double): Phase = {
      r.recording = true
      r.opMs.clear(); r.rows = 0
      val passS = scala.collection.mutable.ArrayBuffer[Double]()
      val start = System.nanoTime()
      var i = 0
      // at least two passes, so every kind of operation has two samples
      while (i < 2 || System.nanoTime() - start < seconds * 1e9) {
        val before = r.opMs.length
        wl.pass(i, r)
        passS += r.opMs.drop(before).map(_._2).sum / 1000
        i += 1
      }
      r.recording = false
      Phase(r.opMs.toSeq, passS.toSeq, r.rows)
    }

    val metrics =
      if (!a.trace) {
        val p = measure(a.seconds)
        Seq(
          Metric("op_ms_p50", p.quantileOfKinds(0.5), "ms"),
          Metric("op_ms_p90", p.quantileOfKinds(0.9), "ms"),
          Metric("pass_s", Stats.median(p.passS), "s"),
          Metric("rows_per_s", p.rowsPerS, "1/s"),
          Metric("setup_s", setupS, "s"),
          Metric("success_rate", 1.0 - r.failed.toDouble / r.attempted, "ratio"))
      } else traced(a, spark, wl, r, measure)

    val (envJson, flagged) = Env.record(env0, Cores)
    if (flagged) System.err.println(s"[perfbench] host steal above ${Env.StealFracMax} in this run: $envJson")
    if (a.trace) spans.writeJson(java.nio.file.Paths.get(a.work, "trace", s"spans-${a.workload}-seed${a.seed}.json"),
      Map("workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed), "env" -> envJson))
    wl.close()
    val heap = heapAfterGcMb()
    val all = if (a.trace) metrics else metrics :+ Metric("heap_after_gc_mb", heap, "MB")
    println(s"""{"env":$envJson,"ops":${r.opMs.length},"op_ms":[${r.opMs.map(o => Json.num(o._2)).mkString(",")}],""" +
      s""""setup_loads_s":[${loads.map(Json.num).mkString(",")}]}""")
    println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},"failed":${r.failed},"metrics":${Metrics.json(all)}}""")
  }

  /** Heap in use after full collections, with a pause between them so
    * Spark's cleaner can drop what the first one released.
    */
  def heapAfterGcMb(): Double = {
    System.gc(); Thread.sleep(1000); System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Half the time untraced, half traced, then the layer probes. */
  def traced(a: Args, spark: SparkSession, wl: Workload, r: Runner, measure: Double => Phase): Seq[Metric] = {
    val plain = measure(a.seconds / 2.0)
    val st = new SparkTrace(r.spans)
    Thread.sleep(500) // let the listener bus deliver the untraced phase first
    spark.sparkContext.addSparkListener(st)
    spark.listenerManager.register(st)
    val server = wl.standIn
    val s0 = server.map(s => (s.cpuNs, s.counters.commands, s.counters.bytesOut, s.counters.accepted,
      s.counters.keysWalked, s.counters.keysReturned))
    r.traced = true
    r.jvm = JvmSnap.zero
    val p = measure(a.seconds / 2.0)
    r.traced = false
    st.drain()
    spark.sparkContext.removeSparkListener(st)
    spark.listenerManager.unregister(st)
    val n = p.opMs.length.toDouble
    val serverMetrics = (server, s0) match {
      case (Some(s), Some((cpu, cmds, out, acc, walked, returned))) =>
        val c = s.counters
        Seq(
          Metric("server.cpu_ms_per_op", (s.cpuNs - cpu) / 1e6 / n, "ms"),
          Metric("server.commands_per_op", (c.commands - cmds) / n, "count"),
          Metric("server.scan_match_ratio",
            if (c.keysWalked == walked) 0.0 else (c.keysReturned - returned).toDouble / (c.keysWalked - walked), "ratio"),
          Metric("net.bytes_rx_per_key", (c.bytesOut - out).toDouble / p.rows, "B"),
          Metric("net.connects_per_op", (c.accepted - acc) / n, "count"))
      case _ => Nil
    }
    val j = r.jvm
    val common = serverMetrics ++ Seq(
      Metric("trace.overhead_pct", (p.quantileOfKinds(0.5) / plain.quantileOfKinds(0.5) - 1) * 100, "%"),
      Metric("sources.partitions_per_op", st.sourceTasks / n, "count"),
      Metric("spark.jobs_per_op", st.jobs / n, "count"),
      Metric("spark.stages_per_op", st.stages / n, "count"),
      Metric("spark.tasks_per_op", st.tasks / n, "count"),
      Metric("spark.planning_ms_per_op", st.planningMs / n, "ms"),
      Metric("spark.exec_ms_per_op", st.execMs / n, "ms"),
      Metric("spark.task_cpu_over_wall", if (st.runNs == 0) 0.0 else st.cpuNs.toDouble / st.runNs, "ratio"),
      Metric("spark.shuffle_bytes_per_op", st.shuffleBytes / n, "B"),
      Metric("spark.spill_bytes_per_op", st.spillBytes / n, "B"),
      Metric("fs.read_ops_per_op", j.fsReadOps / n, "count"),
      Metric("fs.write_ops_per_op", j.fsWriteOps / n, "count"),
      Metric("fs.bytes_written_per_op", j.fsBytesWritten / n, "B"),
      Metric("jvm.gc_ms_per_op", j.gcMs / n, "ms"),
      Metric("jvm.codegen_compiles_per_op", j.compiles / n, "count"),
      Metric("jvm.alloc_mb_per_op", j.allocBytes / 1048576.0 / n, "MB"))
    val probed = wl.probes(r)
    val got = (common ++ probed).map(m => m.name -> m).toMap
    // a layer this workload does not exercise reads 0
    Layers.perLayer.map { case (name, unit) => got.get(name).map(_.copy(unit = unit)).getOrElse(Metric(name, 0.0, unit)) }
  }
}
