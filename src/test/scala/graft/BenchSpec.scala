package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.QueryProfile

/** [[Bench.profiled]], the seam that times one query: a query that
  * throws is named on stderr with its exception instead of vanishing.
  */
class BenchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("a throwing query is reported by name with its exception; a passing one returns its profile") {
    val profile = QueryProfile.attach(spark)
    val buf = new java.io.ByteArrayOutputStream
    val err = new java.io.PrintStream(buf, true, "UTF-8")
    val (bad, good) =
      try (Bench.profiled("q99_broken", profile, err)(throw new IllegalStateException("no such table")),
        Bench.profiled("q00_fine", profile, err)(spark.range(100).count()))
      finally profile.detach()

    assert(bad.isEmpty)
    val logged = buf.toString("UTF-8")
    assert(logged.contains("q99_broken") && logged.contains("IllegalStateException: no such table"), logged)
    assert(!logged.contains("q00_fine"), logged)
    assert(good.exists(p => p.wallMs > 0 && p.jobs >= 1))
  }
}
