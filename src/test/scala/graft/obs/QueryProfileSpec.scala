package graft.obs

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

class QueryProfileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  test("entry contract: the flagship query at sf0.001 returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("QueryProfile of q01 at sf0.001: counts match a plain listener, planning time and scan metrics recorded") {
    val jobs, stages, tasks = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    val profile = QueryProfile.attach(spark)
    GraftSqlShims.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val p = try profile.measure(SparkEntry.entry(spark).write.format("noop").mode("overwrite").save())._2
      finally { profile.detach(); spark.sparkContext.removeSparkListener(counter) }

    assert(p.jobs > 0 && p.jobs == jobs.get, s"profile $p, listener jobs $jobs")
    assert(p.stages > 0 && p.stages == stages.get, s"profile $p, listener stages $stages")
    assert(p.tasks > 0 && p.tasks == tasks.get, s"profile $p, listener tasks $tasks")
    assert(p.jobKinds.values.sum == p.jobs)
    assert(p.executions >= 1 && p.planningMs > 0 && p.execMs > 0 && p.wallMs > 0, p.json)
    val scanRows = p.operators.filter(_.node.startsWith("Scan"))
      .flatMap(_.metrics.collect { case ("numOutputRows", n) => n })
    assert(scanRows.nonEmpty && scanRows.forall(_ > 0), p.operators)
  }

  test("QueryProfile sees executions of a newSession() query: d36_fuzzy_join_sql at sf0.001") {
    val profile = QueryProfile.attach(spark)
    // the sf0.001 directory the flagship query reads
    val sfDir = new java.io.File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
    val p = try profile.measure(SparkEntry.queries("d36_fuzzy_join_sql")(spark, sfDir)
      .write.format("noop").mode("overwrite").save())._2
      finally profile.detach()

    assert(p.jobs > 0, p.json)
    assert(p.executions >= 1 && p.planningMs > 0 && p.execMs > 0, p.json)
    assert(p.operators.nonEmpty, p.json)
  }
}
