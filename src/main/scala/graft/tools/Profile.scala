package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

import graft.{Session, SparkEntry}
import graft.obs.QueryProfile

/** Per-query profiler main, in a [[graft.Bench]]-configured session.
  *
  * For each named query: with `planDir`, write its formatted plan to
  * `<planDir>/<name><suffix>.txt`; then, when `passes` > 0, run it into a
  * `noop` sink once untimed (pass 0, cold: codegen, parquet footers, the
  * query's first-run jobs) and `passes` times more, each run under a
  * [[QueryProfile]]. Prints one `[pass]` line per run (wall ms, GC ms,
  * codegen compilations, then the profile's JSON), a `[time]` line per
  * query (min over passes 1.., then each of them, in s), the last pass's
  * `[jobkind]` histogram and non-zero `[op]` SQLMetrics, and closes with
  * a `[jobs] name,sec,cold_jobs,jobs` table (cold pass, last pass) and
  * the cold passes' job kinds over all queries.
  *
  * Usage: `runMain graft.tools.Profile <sfDir> <passes> name[,name...]|all [planDir suffix]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 5,
      "usage: Profile <sfDir> <passes> name[,name...]|all [planDir suffix]")
    val sfDir = args(0)
    val passes = args(1).toInt
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq
    val planOut = if (args.length == 5) Some((args(3), args(4))) else None
    val spark = Session(Session.cpus())
    val profile = QueryProfile.attach(spark)
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()

    val measured = names.flatMap { name =>
      planOut.foreach { case (dir, suffix) =>
        val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.createDirectories(Paths.get(dir))
        Files.writeString(Paths.get(dir, s"$name$suffix.txt"), plan)
        println(s"[plan] wrote $dir/$name$suffix.txt (${plan.length} chars)")
      }
      if (passes <= 0) None
      else {
        val ps = (0 to passes).map { i =>
          val p = profile.measure(run(name))._2
          println(f"[pass] $name $i ${p.wallMs}%.1f ms gc ${p.gcMs} ms nc ${p.compilations} ${p.json}")
          p
        }
        val (cold, warm) = (ps.head, ps.tail)
        val secs = warm.map(_.wallMs / 1000)
        println(f"[time] $name ${secs.min}%.3f  " + secs.map(t => f"$t%.3f").mkString(" "))
        val last = warm.last
        last.jobKinds.toSeq.sortBy(-_._2).foreach { case (k, c) => println(s"[jobkind] $name $c  $k") }
        last.operators.foreach { op =>
          val nz = op.metrics.filter(_._2 != 0)
          if (nz.nonEmpty) println(s"[op] $name ${op.node} " + nz.map { case (k, v) => s"$k=$v" }.mkString(" "))
        }
        Some((name, secs.min, cold, last))
      }
    }

    if (measured.nonEmpty) {
      println("[jobs] name,sec,cold_jobs,jobs")
      measured.sortBy(-_._3.jobs).foreach { case (n, s, c, w) => println(f"[jobs] $n,$s%.3f,${c.jobs},${w.jobs}") }
      println(f"[jobs] TOTAL,${measured.map(_._2).sum}%.1f,${measured.map(_._3.jobs).sum},${measured.map(_._4.jobs).sum}")
      measured.flatMap(_._3.jobKinds).groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(-_._2).take(60)
        .foreach { case (k, c) => println(s"[jobkind] TOTAL $c  $k") }
    }
    profile.detach()
    spark.stop()
  }
}
