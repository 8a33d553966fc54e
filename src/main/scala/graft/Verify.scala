package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Extra args are an optional
    // builder-side query-name filter for fast iteration — the driver
    // never passes them, so the gate still dumps everything.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session(Session.cpus("4"), "WARN")
    new java.io.File(outDir).mkdirs()
    // Run queries concurrently: per-query wall time is dominated by
    // driver-side planning + codegen compilation (single-threaded per
    // query), not by data volume at verify scale. Spark's scheduler
    // interleaves the jobs; results are independent parquet dirs.
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    val exec = java.util.concurrent.Executors.newFixedThreadPool(par)
    // a failed query writes no output directory; name every one of them
    // (exception class included — a bare message can be null or vague)
    // and tally them at the end, so a missing output is never silent
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      exec.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    exec.shutdown()
    val names = scala.jdk.CollectionConverters.CollectionHasAsScala(failed)
      .asScala.toSeq.sorted
    System.err.println(s"[verify] ${names.size} failed: ${names.mkString(", ")}")
    writeOracleSql(outDir, sfDir)
    spark.stop()
  }

  /** `<outDir>/oracle_sql.json`: every SparkEntry oracle query by name,
    * for a run over the tables in `sfDir`.
    */
  def writeOracleSql(outDir: String, sfDir: String): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(queries.OlapQueries.oracleFor(v, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
