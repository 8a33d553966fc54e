package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment as ONE expression over a referenced
  * centroid matrix.
  *
  * The composable form (an `array(...)` of k per-centroid distance
  * subtrees + argmin) is linear in k at the SOURCE level: at k in the
  * hundreds the generated method blows Janino's 64 KB limit and the
  * whole projection silently falls back to interpreted eval — the
  * opposite of what a k ∝ corpus-size clustering needs. Here the
  * centroids ride along as a codegen reference object (k×dim doubles,
  * model-sized) and the scan loop is ordinary compiled JVM code:
  * constant source size in k, no fallback cliff.
  *
  * Distance arithmetic matches the literal-expression kernels
  * (`SqDistFD`): float elements widen to double per subtraction, sums
  * accumulate in doubles; ties resolve to the LOWEST centroid id, like
  * `array_position(d, array_min(d))` and the `(dist, id)` struct sort
  * they replace.
  */
object CentroidUtil {

  /** Index of the nearest centroid by squared L2 (first wins ties). */
  def nearest(vec: ArrayData, cent: Array[Array[Double]], isFloat: Boolean): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cent.length) {
      val cc = cent(c)
      var d = 0.0
      var j = 0
      while (j < cc.length) {
        val x = (if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)) - cc(j)
        d += x * x
        j += 1
      }
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** The `np` nearest centroid ids, nearest first; ties ascending by id
    * (selection sort over the centroid count — np is small).
    */
  def nearestK(vec: ArrayData, cent: Array[Array[Double]], isFloat: Boolean,
      np: Int): ArrayData = {
    val k = cent.length
    val dists = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cc = cent(c)
      var d = 0.0
      var j = 0
      while (j < cc.length) {
        val x = (if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)) - cc(j)
        d += x * x
        j += 1
      }
      dists(c) = d
      c += 1
    }
    val n = math.min(np, k)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](k)
    var i = 0
    while (i < n) {
      var best = -1
      var bd = Double.MaxValue
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && dists(c2) < bd) { bd = dists(c2); best = c2 }
        c2 += 1
      }
      taken(best) = true
      out(i) = best
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

trait CentroidExpression extends UnaryExpression {
  def centroids: IndexedSeq[IndexedSeq[Double]] // Seq for case-class equality
  @transient protected lazy val centArray: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  protected lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"input must be array<float> or array<double>, got $t")
  }
  // plan strings name the model's k×dim shape, not its k×dim doubles
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, s"${centroids.length}x${centroids.headOption.fold(0)(_.length)}") ++
      productIterator.drop(2)
}

/** `nearest_centroid(vec)` → INT id of the closest centroid. */
final case class NearestCentroid(child: Expression,
    centroids: IndexedSeq[IndexedSeq[Double]]) extends CentroidExpression {
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    CentroidUtil.nearest(input.asInstanceOf[ArrayData], centArray, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArray, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CentroidUtil.nearest($c, $ref, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `nearest_centroids(vec, nprobe)` → ARRAY<INT> of the nprobe closest
  * centroid ids, nearest first.
  */
final case class NearestCentroids(child: Expression,
    centroids: IndexedSeq[IndexedSeq[Double]], nprobe: Int) extends CentroidExpression {
  require(nprobe >= 1, "nprobe must be >= 1")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CentroidUtil.nearestK(input.asInstanceOf[ArrayData], centArray, elemIsFloat, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArray, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CentroidUtil.nearestK($c, $ref, $elemIsFloat, $nprobe)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
