package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the graft mains (Bench, Verify,
  * [[tools.Profile]], [[tools.DumpOne]]): a local master over `cpus`
  * cores with the full extension set (TVFs, kernels, levenshtein +
  * percentile optimizer rules) active from session birth, so every query
  * plans identically regardless of run order.
  */
object Session {

  /** Cores for the local master: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: => String = Runtime.getRuntime.availableProcessors().toString): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(cpus: String, logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as LONG nanos and
      // let Registry.table normalize to a microsecond timestamp.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf, default 100: the inventory generates far more
      // codegen'd classes than that per pass, so a second pass would
      // recompile every plan from scratch; a cache that spans the pass
      // lets min(p1, p2) measure execution, not compilation
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new GraftSparkExtensions()(_)).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
