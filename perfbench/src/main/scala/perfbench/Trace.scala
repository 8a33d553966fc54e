package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the span that caused it
  * (0 for none); `op` is the id of the workload operation it belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, Double] = Map.empty)

/** Spans kept in memory and written out when the run ends. */
final class Spans {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = buf.add(s)

  def all: Seq[Span] = buf.asScala.toSeq

  /** Self time per span name: each span's duration less the part of it
    * that its child spans cover.
    */
  def selfMsByName: Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))).filter(i => i._1 < i._2).sortBy(_._1)
        var covered = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (a, b) =>
          if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
          else ce = math.max(ce, b)
        }
        if (ce > cs) covered += ce - cs
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def writeJson(path: java.nio.file.Path, extra: Map[String, String]): Unit = {
    val sb = new StringBuilder("{")
    extra.foreach { case (k, v) => sb.append(Json.str(k)).append(':').append(v).append(',') }
    sb.append("\"self_ms\":").append(Json.obj(selfMsByName.map { case (k, v) => k -> Json.num(v) }))
    sb.append(",\"spans\":[")
    sb.append(all.sortBy(_.startNs).map { s =>
      val a = s.attrs.map { case (k, v) => k -> Json.num(v) }
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":${Json.obj(a)}}"""
    }.mkString(",\n"))
    sb.append("]}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** JVM-wide counters read around an operation. */
final case class JvmSnap(gcMs: Long, compiles: Long, allocBytes: Long, cpuNs: Long,
    fsReadOps: Long, fsWriteOps: Long, fsBytesWritten: Long) {
  def -(o: JvmSnap): JvmSnap = JvmSnap(gcMs - o.gcMs, compiles - o.compiles,
    allocBytes - o.allocBytes, cpuNs - o.cpuNs, fsReadOps - o.fsReadOps,
    fsWriteOps - o.fsWriteOps, fsBytesWritten - o.fsBytesWritten)
  def +(o: JvmSnap): JvmSnap = JvmSnap(gcMs + o.gcMs, compiles + o.compiles,
    allocBytes + o.allocBytes, cpuNs + o.cpuNs, fsReadOps + o.fsReadOps,
    fsWriteOps + o.fsWriteOps, fsBytesWritten + o.fsBytesWritten)
}

object JvmSnap {
  val zero: JvmSnap = JvmSnap(0, 0, 0, 0, 0, 0, 0)
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Counters now; CPU and allocation leave out thread `exclude` (the
    * Redis stand-in's, when there is one).
    */
  def now(exclude: Long = -1L): JvmSnap = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val (exAlloc, exCpu) =
      if (exclude < 0) (0L, 0L) else (threads.getThreadAllocatedBytes(exclude), threads.getThreadCpuTime(exclude))
    JvmSnap(
      gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
      compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      allocBytes = threads.getTotalThreadAllocatedBytes - exAlloc,
      cpuNs = os.getProcessCpuTime - exCpu,
      fsReadOps = fs.map(s => s.getReadOps.toLong).sum,
      fsWriteOps = fs.map(s => s.getWriteOps.toLong).sum,
      fsBytesWritten = fs.map(_.getBytesWritten).sum)
  }

  /** Bytes allocated so far by the calling thread. */
  def threadAlloc(): Long = threads.getThreadAllocatedBytes(Thread.currentThread().getId)
}

/** Spark's public listener APIs, counting the jobs of operations run
  * while the local property [[SparkTrace.PhaseKey]] is set on the
  * driver thread, and the planning and execution time of every query.
  */
final class SparkTrace(spans: Spans) extends SparkListener with QueryExecutionListener {
  import SparkTrace._
  @volatile var jobs, stages, tasks, sourceTasks, jobsEnded = 0L
  @volatile var runNs, cpuNs, shuffleBytes, spillBytes = 0L
  @volatile var planningMs, execMs = 0.0
  @volatile var queries = 0L
  private val tracedStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  // listener times are wall-clock ms; spans are in nanoTime
  private val wallToNanoMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(PhaseKey) != null)) synchronized {
      jobs += 1
      stages += e.stageInfos.size
      e.stageInfos.foreach(s => tracedStages.add(s.stageId))
      val op = props.flatMap(p => Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (op, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) synchronized {
      jobsEnded += 1
      val (op, t0) = s
      spans.add(Span(spans.nextId(), op, op, "spark.job",
        ((t0 + wallToNanoMs) * 1e6).toLong, ((e.time + wallToNanoMs) * 1e6).toLong))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (tracedStages.contains(i.stageId)) synchronized {
      tasks += i.numTasks
      if (i.parentIds.isEmpty) sourceTasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        runNs += m.executorRunTime * 1000000L
        cpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    queries += 1
    planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    execMs += durationNs / 1e6
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every traced job has ended and the listener bus is quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (jobStart.size > 0 || last != jobsEnded + queries)) {
      last = jobsEnded + queries
      Thread.sleep(200)
    }
  }
}

object SparkTrace {
  val PhaseKey = "perfbench.traced"
  val OpKey = "perfbench.op"
}

/** The run's environment, and the host-steal and cgroup-throttle
  * deltas over the measured interval, read the way `graft.Bench` reads
  * them (tick length from [[graft.BenchGate.tickSeconds]]).
  */
object Env {
  /** `graft.Bench`'s default steal gate: a run above it is flagged. */
  val StealFracMax = 0.03

  private def procStat: Array[String] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    catch { case _: Throwable => Array.empty }

  def stealTicks(): Long = { val f = procStat; if (f.length > 8) f(8).toLong else 0L }

  def throttledNs(): Long = {
    def readKv(p: String, key: String, scale: Long): Option[Long] =
      try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)).asScala.collectFirst {
        case l if l.startsWith(key + " ") => l.substring(key.length + 1).trim.toLong * scale
      } catch { case _: Throwable => None }
    readKv("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1L)
      .orElse(readKv("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1000L))
      .getOrElse(0L)
  }

  final case class Snap(steal: Long, throttled: Long, t: Long)
  def snap(): Snap = Snap(stealTicks(), throttledNs(), System.nanoTime())

  /** JSON object describing the interval since `s0`. */
  def record(s0: Snap, cores: Int): (String, Boolean) = {
    val s1 = snap()
    val sec = (s1.t - s0.t) / 1e9
    val nproc = Runtime.getRuntime.availableProcessors()
    val stealFrac =
      if (sec <= 0) 0.0 else (s1.steal - s0.steal).max(0L) * graft.BenchGate.tickSeconds / (nproc * sec)
    val flagged = stealFrac > StealFracMax
    val json = Json.obj(Seq(
      "nproc" -> Json.num(nproc),
      "spark_cores" -> Json.num(cores),
      "driver_heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "seconds" -> Json.num(sec),
      "steal_ticks" -> Json.num(s1.steal - s0.steal),
      "steal_frac" -> Json.num(stealFrac),
      "steal_frac_max" -> Json.num(StealFracMax),
      "steal_flagged" -> flagged.toString,
      "throttled_ms" -> Json.num((s1.throttled - s0.throttled) / 1e6)))
    (json, flagged)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

object Metrics {
  def json(ms: Seq[Metric]): String =
    Json.obj(ms.map(m => m.name -> s"""{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""))
}

/** Per-name accumulation of values, in insertion order. */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def apply(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
}
