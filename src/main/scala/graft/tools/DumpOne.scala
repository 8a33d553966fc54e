package graft.tools

import graft.{Session, SparkEntry, Verify}

/** Dev tool: dump one named query's result parquet into an existing
  * Verify outDir (so tools/selfcheck.py can re-check just that query
  * without a full Verify sweep).
  * Usage: runMain graft.tools.DumpOne <name>[,name...] <sfDir> <outDir>
  */
object DumpOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = args(1)
    val outDir = args(2)
    val spark = Session(Session.cpus("8"), "WARN")
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[dump-one] wrote $outDir/$name")
    }
    // refresh oracle_sql.json so selfcheck sees queries newer than the
    // last full Verify sweep
    Verify.writeOracleSql(outDir)
    spark.stop()
  }
}
