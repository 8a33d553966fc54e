package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Oracle-parity column helpers. */
object Qf {
  /** DuckDB-bit-compatible double rounding.
    *
    * DuckDB's `round(DOUBLE, n)` computes `std::round(x * 10^n) / 10^n`
    * (round half away from zero); Spark's `round` goes through
    * `BigDecimal.setScale(HALF_UP)` on the exact binary value. The two
    * disagree whenever `x * 10^n` lands on a representation boundary
    * (e.g. 65764.165 → 65764.17 vs 65764.16). Computing the same IEEE
    * double expression on both engines makes rounding bit-identical, so
    * the driver's hash compare can never diverge on rounding algorithm.
    * Uses only codegen'd built-ins — stays inside WholeStageCodegen.
    */
  def dround(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    (signum(c) * floor(abs(c) * p + 0.5) / p).cast("double")
  }

  /** Driver-side scalar twin of [[dround]] — the SAME IEEE expression,
    * for operators that iterate model-sized state on the driver (power
    * iteration) and must round exactly like the column form and the
    * oracle's `round`.
    */
  def droundD(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.signum(x) * math.floor(math.abs(x) * p + 0.5) / p
  }

  /** Deterministic total order for a MODEL-SIZED conformance dump at
    * single-exchange cost. A trailing global `orderBy` pays a
    * range-boundary SAMPLING job plus a range exchange for a property
    * the dump needs only for determinism (the driver compare
    * canonicalizes row order itself — the s08 rationale). This form
    * skips the sampling job: one round-robin exchange down to a single
    * partition, then an in-partition sort = the same total order, one
    * fewer driver barrier per query (measured 113→65 ms narrow-tailed,
    * 120→98 ms agg-tailed, warm sf0.1).
    *
    * `repartition(1)`, NOT `coalesce(1)`: coalesce propagates the
    * single partition up through narrow stages (it would serialize a
    * scan or broadcast-join probe upstream); repartition is an
    * exchange barrier, so every upstream stage keeps full width.
    * ONLY for outputs that stay model-sized at any corpus scale
    * (aggregates, top-k, sweeps, verdict relations): a
    * corpus-proportional dump keeps the parallel global orderBy —
    * single-partitioning one of those at 100 TB would bottleneck the
    * write.
    */
  /** Run independent side-effect legs (disjoint ledger stores) as
    * concurrent Spark jobs — the guide's "overlap independent jobs"
    * pattern: a conformance cycle composed of two or three unrelated
    * write→advance chains is otherwise a straight line of driver
    * barriers whose tails leave the executor pool idle (and every
    * sequential barrier is a scheduling point sibling-host CPU can
    * steal — the d105/d106 lesson). EVERY leg is awaited on EVERY
    * exit (the r16 always-awaited discipline): a failed leg must not
    * leave a sibling still mutating its store in the background after
    * the caller observed failure. The first failure propagates.
    * ONLY for legs over disjoint stores: same-store chains keep their
    * program order.
    */
  /** Per-leg await deadline (seconds): a wedged leg (a stream drain that
    * never returns, a fatal throwable that kills the worker thread
    * before its Future completes) must fail the CALLER loudly, never
    * hang Bench/Verify forever — the r17 zombie-JVM postmortem applied
    * to the overlap helper itself. Generous by default (no bench leg
    * takes more than seconds); conf'able for genuinely long cluster
    * legs via `spark.graft.concurrentLegTimeoutSec` or the
    * `SPARK_GRAFT_LEG_TIMEOUT_S` env var.
    */
  private[graft] def legTimeoutSec: Long = {
    val key = "spark.graft.concurrentLegTimeoutSec"
    val env = "SPARK_GRAFT_LEG_TIMEOUT_S"
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption(key).map(key -> _))
      .orElse(sys.env.get(env).map(env -> _))
      .map { case (k, v) =>
        // a present but malformed override fails loudly naming itself —
        // silently falling back to the default would hide the typo
        v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"$k must be a whole number of seconds, got '$v'"))
      }
      .getOrElse(900L)
  }

  /** Start `body` on the global pool through an explicit Promise
    * completed on EVERY throwable — `Future(body)` never completes on a
    * fatal error (OOM, StackOverflow), which turns a dead lane into a
    * wait for the full deadline. Every side lane (the legs here, the
    * ledger maintenance overlaps) starts through this one launcher.
    */
  private[graft] def lane[T](body: => T): scala.concurrent.Future[T] = {
    val p = scala.concurrent.Promise[T]()
    scala.concurrent.ExecutionContext.global.execute { () =>
      try p.success(body)
      catch { case t: Throwable => p.tryFailure(t) }
    }
    p.future
  }

  def concurrently(legs: (() => Unit)*): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val fs = legs.zipWithIndex.map { case (l, i) => (i, lane(l())) }
    val deadline = legTimeoutSec.seconds
    val outcomes = fs.map { case (i, f) =>
      scala.util.Try(Await.result(f, deadline)).recoverWith {
        case _: java.util.concurrent.TimeoutException =>
          scala.util.Failure(new java.util.concurrent.TimeoutException(
            s"concurrent leg #$i (of ${legs.size}) still running after " +
              s"${deadline.toSeconds}s — wedged leg; raise " +
              "spark.graft.concurrentLegTimeoutSec if the work is " +
              "legitimately that long"))
      }
    }
    // first failure propagates; later legs' failures ride along as
    // suppressed instead of being dropped (multi-leg diagnostics)
    val failures = outcomes.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach { e => if (e ne first) first.addSuppressed(e) }
      throw first
    }
  }

  implicit class DumpSortOps(private val df: org.apache.spark.sql.DataFrame)
      extends AnyVal {
    def dumpSorted(first: String, rest: String*): org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(first, rest: _*)
    def dumpSortedBy(cols: Column*): org.apache.spark.sql.DataFrame =
      df.repartition(1).sortWithinPartitions(cols: _*)
  }
}
