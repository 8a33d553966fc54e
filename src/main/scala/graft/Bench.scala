package graft

import graft.obs.{Profile, QueryProfile}

/** Benchmark main (driver contract): times every SparkEntry query at the
  * given scale factor and prints ONE JSON metrics line.
  *
  * Methodology: each query is forced end-to-end with a `noop` sink write
  * (full plan execution, no driver-side collect, no output I/O), after a
  * full untimed warmup pass so JIT/codegen compilation doesn't land in
  * whichever query happens to run first.
  */
object Bench {

  /** Runs one query under `profile`; its profile carries the wall time.
    * A query that throws is reported on `err` with its name and
    * exception, and yields None.
    */
  private[graft] def profiled(name: String, profile: QueryProfile,
      err: java.io.PrintStream = System.err)(run: => Unit): Option[Profile] =
    try Some(profile.measure(run)._2)
    catch { case e: Throwable => err.println(s"[bench] $name failed: $e"); None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus()
    val spark = Session(cpus)
    // attached here only, never by the extension: each query's jobs,
    // stages, tasks, planning/execution ms and shuffle/spill bytes per
    // pass go to bench_full.json
    val profile = QueryProfile.attach(spark)

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted

    // light untimed warmup: JIT the scan/agg/join/window/HOF paths +
    // parquet footer caches + fake-redis boot (a full extra pass doubles
    // generated-class volume for marginal gain). A broken warmup query is
    // reported, not swallowed — it would fail again in the timed pass.
    Seq("q01_pricing_summary", "q05_local_supplier_volume", "q14_window_rownum",
      "d01_text_stats", "s01_cosine_topk", "r01_redis_scan_count")
      .foreach { n =>
        try run(n)
        catch { case e: Throwable => System.err.println(s"[bench] warmup $n failed: $e") }
      }

    // Per-query drift diagnostics (the r8 d12/q67 full-suite anomaly):
    // alongside wall time, each query's profile records the JVM-wide
    // GC-time and codegen compilation deltas it incurred. A pass-2 query
    // that is slower WITH a compilation delta is a codegen-cache
    // eviction; one slower with a GC spike is suite-accumulated heap
    // pressure; one slower with neither is the environment.

    // Environment suspects, measured directly (the r9 ask: make
    // "environment" claims measurable instead of inferred): host-level
    // CPU STEAL (hypervisor took the vCPU — /proc/stat field 8, USER_HZ
    // ticks ≈ 10 ms each, whole-host counter) and cgroup CPU THROTTLING
    // (quota enforcement on this container, ns of runnable-but-throttled
    // time; v1 and v2 layouts both read). A pass-2 spike with zero
    // gc/nc but a steal/throttle delta is the shared VM, proven; zero
    // across all five suspects leaves only scheduler noise.
    def stealTicks(): Long =
      try {
        val line = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = line.trim.split("\\s+")
        if (f.length > 8) f(8).toLong else 0L
      } catch { case _: Throwable => 0L }
    // Third environment suspect (r16): SAME-HOST sibling-process
    // contention — CPU the host spent OUTSIDE this JVM (e.g. a
    // concurrently-timed oracle suite). Invisible to the steal counter
    // (no hypervisor involved) and to throttle (no cgroup quota), yet
    // it slows driver-barrier-heavy queries exactly like steal does.
    // ext ms = (host busy ticks × tick) − (this process's CPU time),
    // clamped at 0; a pass-2 spike with zero gc/nc/steal/thr but a
    // large ext delta is a sibling process, proven.
    def hostBusyMs(): Long =
      try {
        val f = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        // user+nice+system+irq+softirq (skip idle/iowait/steal)
        val ticks = Seq(1, 2, 3, 6, 7).map(i =>
          if (f.length > i) f(i).toLong else 0L).sum
        (ticks * BenchGate.tickSeconds * 1000).toLong
      } catch { case _: Throwable => 0L }
    def selfCpuMs(): Long =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1000000L
        case _ => 0L
      }
    def throttledNs(): Long = {
      def readKv(p: String, key: String, scale: Long): Option[Long] =
        try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
          .toArray.collectFirst {
            case l: String if l.startsWith(key + " ") =>
              l.substring(key.length + 1).trim.toLong * scale
          }
        catch { case _: Throwable => None }
      readKv("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1L) // v1: ns
        .orElse(readKv("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1000L)) // v2: µs
        .getOrElse(0L)
    }

    // gc/nc come from the profile and span the query alone; the steal,
    // throttle and ext windows also span the profile's two listener-bus
    // drains around it. A failed query has no profile: gc/nc 0.
    case class QStat(sec: Double, gcMs: Long, nComp: Long, steal: Long,
        thrMs: Long, extMs: Long, profJson: String)
    def timedPass(): Map[String, QStat] = names.map { name =>
      val (s0, th0, h0, p0) = (stealTicks(), throttledNs(), hostBusyMs(), selfCpuMs())
      val prof = profiled(name, profile)(run(name))
      name -> QStat(prof.fold(-1.0)(_.wallMs / 1000), prof.fold(0L)(_.gcMs),
        prof.fold(0L)(_.compilations), stealTicks() - s0, (throttledNs() - th0) / 1000000L,
        math.max(0L, (hostBusyMs() - h0) - (selfCpuMs() - p0)), prof.fold("null")(_.json))
    }.toMap

    // Two full interleaved passes, per-query min: the shared VM throttles in
    // multi-minute windows (documented in SCALE.md), so a window that lands
    // mid-run poisons different queries in each pass and min() recovers the
    // real number. A query that fails in either pass reports -1.
    // Each pass slot is STEAL-GATED ([[BenchGate]]): a pass whose host
    // CPU-steal fraction exceeds the threshold (default 3% ≈ 10× the
    // calm reference; r14's poisoned pass ran 8%) re-runs, up to
    // SPARK_GRAFT_BENCH_STEAL_RETRIES extra attempts — the manual
    // discard-and-rerun judgement of earlier rounds, automated, so
    // BENCH_rN.json is calm-window-comparable by construction. Every
    // attempt's fraction + the retry counts land in bench_full.json
    // and the diag line.
    val stealFracMax =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STEAL_FRAC", "0.03").toDouble
    val stealRetries =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_STEAL_RETRIES", "2").toInt
    val g1 = BenchGate.withRetry(stealFracMax, stealRetries, cpus.toInt,
      stealTicks _)(() => timedPass())
    val g2 = BenchGate.withRetry(stealFracMax, stealRetries, cpus.toInt,
      stealTicks _)(() => timedPass())
    val (p1, p2) = (g1.result, g2.result)
    val results = names.map { n =>
      n -> (if (p1(n).sec < 0 || p2(n).sec < 0) -1.0 else math.min(p1(n).sec, p2(n).sec))
    }

    val failed = results.collect { case (n, v) if v < 0 => "\"" + n + "\"" }
    val failedJson = s""""failed":${failed.size},"failed_names":${failed.mkString("[", ",", "]")}"""
    // Full-precision per-pass record for local analysis (not the driver line).
    val fullJson = results
      .map { case (k, v) =>
        s""""$k":{"min":$v,"p1":${p1(k).sec},"p2":${p2(k).sec},""" +
          s""""gc1":${p1(k).gcMs},"gc2":${p2(k).gcMs},"nc1":${p1(k).nComp},"nc2":${p2(k).nComp},""" +
          s""""st1":${p1(k).steal},"st2":${p2(k).steal},"th1":${p1(k).thrMs},"th2":${p2(k).thrMs},""" +
          s""""ex1":${p1(k).extMs},"ex2":${p2(k).extMs},""" +
          s""""prof1":${p1(k).profJson},"prof2":${p2(k).profJson}}"""
      }
      .mkString("{", ",", "}")
    // q01-normalized total, emitted alongside raw: committed sweeps from
    // different wall-clock windows carry different host steal/throttle
    // levels (SCALE.md), and q01 (one fixed scan+agg) is the suite's
    // environment probe — its calm-window time is 0.21 s at sf0.1
    // (committed range 0.19-0.22 across rounds 9-11). Scaling the total
    // by calm_q01/q01 makes round-over-round sums comparable without the
    // manual normalization step every verdict has been doing by hand.
    // The 0.21 s anchor is an sf0.1 measurement, so the normalized
    // total is emitted ONLY at sf0.1 (-1 elsewhere) and the anchor's
    // scale factor is recorded in the JSON — a bench_full.json from
    // another sfDir must not carry a number that LOOKS cross-round
    // comparable when it is not.
    val rawTotal = results.map(_._2).filter(_ >= 0).sum
    val q01Min = results.toMap.getOrElse("q01_pricing_summary", -1.0)
    val q01Calm = 0.21
    val q01CalmSf = "sf0.1"
    val atAnchorSf = sfDir.stripSuffix("/").endsWith(q01CalmSf)
    val q01Norm =
      if (q01Min > 0 && atAnchorSf) rawTotal * (q01Calm / q01Min) else -1.0
    def fracsJson(g: BenchGate.Gated[_]): String =
      g.stealFracs.map(f => f"$f%.4f").mkString("[", ",", "]")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_full.json"),
      (s"""{"sf":"$sfDir","total":$rawTotal,"q01":$q01Min,""" +
        s""""q01_calm_ref":$q01Calm,"q01_calm_sf":"$q01CalmSf",""" +
        s""""total_q01norm":$q01Norm,""" +
        s""""steal_retries":[${g1.retries},${g2.retries}],""" +
        s""""steal_fracs":[${fracsJson(g1)},${fracsJson(g2)}],""" +
        s""""steal_frac_max":$stealFracMax,$failedJson,""" +
        s""""queries":$fullJson}""").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] bench_full.json write failed: $e") }

    // Compact per-pass totals, printed BEFORE the metrics line so the
    // driver's 2000-char output tail can carry both (per-query detail
    // is in bench_full.json): [pass1, pass2] totals of GC ms, codegen
    // compilations and the environment counters, plus the failed
    // queries. Kept short (~150 chars with no failures; each failed
    // name adds its length): if the tail budget runs out, only this
    // line's HEAD is cut, never the metrics line after it.
    val gcs = Seq(p1, p2).map(_.valuesIterator.map(_.gcMs).sum).mkString("[", ",", "]")
    val ncs = Seq(p1, p2).map(_.valuesIterator.map(_.nComp).sum).mkString("[", ",", "]")
    val sts = Seq(p1, p2).map(_.valuesIterator.map(_.steal).sum).mkString("[", ",", "]")
    val ths = Seq(p1, p2).map(_.valuesIterator.map(_.thrMs).sum).mkString("[", ",", "]")
    val exs = Seq(p1, p2).map(_.valuesIterator.map(_.extMs).sum).mkString("[", ",", "]")
    println(s"""{"diag":{"gc":$gcs,"nc":$ncs,"steal":$sts,"thr":$ths,"ext_ms":$exs,""" +
      s""""retries":[${g1.retries},${g2.retries}],$failedJson}}""")

    // The driver keeps only the final 2000 chars of output, so the metrics
    // line must stay well under that budget; f3 is only used for the total.
    def f3(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // per-query values with trailing zeros stripped ("0.40"→"0.4",
    // "1.00"→"1"); precision is ADAPTIVE — 2 decimals while the line
    // fits, else 1 (100 ms resolution; full per-pass precision is in
    // the committed bench_full.json either way) — so inventory growth
    // degrades resolution instead of truncating the JSON's head
    def fN(v: Double, nd: Int): String =
      if (v < 0) "-1"
      else if (nd == 0) s"%.0f".format(v) // no '.', so no zero-stripping ("10" must stay "10")
      else s"%.${nd}f".format(v).replaceAll("0+$", "").replaceAll("\\.$", "")
    val total = rawTotal
    // basename only: the full fixture path spends ~15 chars of the
    // 2000-char budget saying nothing the basename doesn't
    val sfName = new java.io.File(sfDir).getName
    def mkLine(nd: Int, sparse: Boolean, topN: Int): String = {
      val formatted = results
        .map { case (k, v) => (k.takeWhile(_ != '_'), fN(v, nd)) }
      val (zeros, kept) =
        if (sparse) formatted.partition(_._2 == "0") else (Nil, formatted)
      val qs = kept.map { case (k, s) => "\"" + k + "\":" + s }
        .mkString("{", ",", "}")
      val omitted = if (sparse) s""","omitted_zeros":${zeros.size}""" else ""
      // the N slowest queries at MILLISECOND precision (r15 verdict
      // item 6: integer-rounded per-query seconds made 1→2 s deltas
      // indistinguishable from rounding noise) — regressions live in
      // the slow tail, so that is where the resolution goes when the
      // whole inventory can't carry 3 dp inside the driver's tail
      // budget; bench_full.json keeps full precision for everything
      val top = if (topN <= 0) "" else {
        val slow = results.filter(_._2 >= 0).sortBy(-_._2).take(topN)
          .map { case (k, v) => "\"" + k.takeWhile(_ != '_') + "\":" + f3(v) }
          .mkString("{", ",", "}")
        s""","top_ms":$slow"""
      }
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs$top$omitted,"sf":"$sfName"}"""
    }
    // the driver records only the FINAL 2000 chars of output and the
    // metrics line prints LAST, so the line survives whole iff it fits
    // that tail itself (minus sbt's "[info] " prefix ≈ 1990 usable).
    // Degrade in two dimensions (full precision lives in the committed
    // bench_full.json either way): always SPARSE (the r11 artifact shows
    // the full 244-query line no longer fits dense even at 0 dp — the
    // driver stored parsed:null), base precision 2 dp → 1 dp → whole
    // seconds, and alongside the base a "top_ms" map of the slowest
    // queries at 3 dp, grown to FILL the remaining budget (r17 PERF
    // manufactured 6 phantom regressions out of whole-second rounding —
    // the slow tail is where round-over-round deltas must be
    // attributable, so every spare char goes there). NOTE the budget
    // arithmetic, not a tunable: 267 queries × ≥10 chars/entry ≈ 2,700
    // chars — the FULL inventory can never fit the 1,985-char tail at
    // ANY precision, and a top-N covering 95% of total time needs
    // N ≈ 200 (the sub-0.5 s tail holds ~25% of suite time), so the
    // line carries the maximal top set that fits (~80 at this
    // inventory) and bench_full.json remains the complete record.
    val budget = 1985
    // highest base precision that fits with the minimal top set
    val baseNd = Seq(2, 1, 0)
      .find(nd => mkLine(nd, sparse = true, topN = 20).length <= budget)
    val line = baseNd.map { nd =>
      // grow the top set in steps of 5 until the budget is exhausted
      val maxN = results.count(_._2 >= 0)
      val bestN = Iterator.range(20, maxN + 5, 5)
        .takeWhile(n => mkLine(nd, sparse = true, topN = n).length <= budget)
        .foldLeft(20)((_, n) => n)
      mkLine(nd, sparse = true, topN = bestN)
    }.getOrElse(mkLine(0, sparse = true, topN = 0))
    if (line.length > 1985)
      System.err.println(s"[bench] WARNING metrics line ${line.length} chars even sparse at 0 dp — exceeds the driver's 2000-char tail; shorten keys")
    // The metrics line must be the FINAL stdout line (the driver
    // tail-parses it): silence logging BEFORE stop so Spark's shutdown
    // chatter (stderr) cannot interleave after it in a combined
    // capture, stop the session, THEN print. build.sbt passes forked
    // output through unprefixed and suppresses sbt's "[success]" line.
    // stop() must never cost the run its only output: a listener/
    // shutdown race throwing here would otherwise propagate before the
    // println and lose every measurement of a multi-minute sweep
    try { spark.sparkContext.setLogLevel("OFF"); spark.stop() }
    catch { case scala.util.control.NonFatal(_) => () }
    System.out.flush()
    println(line)
    System.out.flush()
  }
}
