package graft.functions

import scala.util.Random

import org.apache.spark.sql.{GraftSqlShims, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The centroid expressions print their model's shape, not its values. */
class CentroidExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  test("a 12x64 model is named by its shape in the explain string; models with other centroids stay unequal") {
    val rnd = new Random(3)
    def model(): IndexedSeq[IndexedSeq[Double]] = IndexedSeq.fill(12)(IndexedSeq.fill(64)(rnd.nextDouble()))
    val (a, b) = (model(), model())
    val df = Seq(Array.fill(64)(0.5)).toDF("v")
    val v = GraftSqlShims.analyzedPlan(df).output.head
    val q = df.select(GraftSqlShims.column(NearestCentroid(v, a)).as("c"),
      GraftSqlShims.column(NearestCentroids(v, a, 3)).as("cs"))
    val explain = q.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(explain.contains("12x64") && explain.contains("12x64, 3"), explain)
    // one model's 768 doubles alone print as about 14k characters
    assert(explain.length < 4000, explain.length)
    assert(q.collect().length == 1)
    assert(!NearestCentroid(v, a).semanticEquals(NearestCentroid(v, b)))
    assert(NearestCentroid(v, a).semanticEquals(NearestCentroid(v, a.map(identity))))
  }
}
