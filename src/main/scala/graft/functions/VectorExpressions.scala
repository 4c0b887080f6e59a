package graft.functions

import org.apache.spark.sql.{GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._

/** Static vector kernels. Accumulation is SEQUENTIAL in double, index
  * order — bit-for-bit the same result as the SQL
  * `aggregate(zip_with(...))` pipeline it replaces AND DuckDB's
  * `list_cosine_similarity`, so oracle hashes are unchanged; only the
  * per-element lambda interpretation cost is gone. */
object VectorOps {
  /** Argmin of euclidean distance from `v` to each row of the `cents`
    * matrix (array<array<double>>); ties take the SMALLEST index. The
    * comparison value is sqrt(sequential squared sum) — bit-identical to
    * DuckDB's `list_distance`, NOT the raw squared sum: sqrt is monotone
    * but not injective after double rounding, so comparing pre-sqrt values
    * could break a near-tie differently than the oracle. */
  def nearestCentroid(v: ArrayData, cents: ArrayData, floats: Boolean): Int = {
    val k = cents.numElements()
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < k) {
      val c = cents.getArray(j)
      val n = math.min(v.numElements(), c.numElements())
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = if (floats) v.getFloat(i).toDouble else v.getDouble(i)
        val diff = x - c.getDouble(i)
        d += diff * diff
        i += 1
      }
      val dist = math.sqrt(d)
      if (dist < bestD) { bestD = dist; best = j }
      j += 1
    }
    best
  }

  /** Euclidean norm, sequential double accumulation in index order —
    * bit-identical to DuckDB's sqrt(list_sum(list_transform(v, x->x*x))). */
  def l2norm(a: ArrayData, floats: Boolean): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (floats) a.getFloat(i).toDouble else a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Squared euclidean distance, sequential double accumulation in index
    * order — bit-identical to the probe-ranking spelling
    * `aggregate(zip_with(a, b, (x, y) -> (CAST(x AS DOUBLE) - y) *
    * (CAST(x AS DOUBLE) - y)), 0D, (acc, v) -> acc + v)` (NO sqrt: the
    * IVF probe rank compares raw squared sums). */
  def l2sq(a: ArrayData, b: ArrayData, floatsA: Boolean, floatsB: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (floatsA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatsB) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  /** Elementwise difference as array<double> — the IVF-ADC residual
    * spelling `zip_with(v, c, (x, y) -> CAST(x AS DOUBLE) - y)`,
    * bit-identical per element. */
  def vecSub(a: ArrayData, b: ArrayData, floatsA: Boolean, floatsB: Boolean): ArrayData = {
    val n = math.min(a.numElements(), b.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (floatsA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatsB) b.getFloat(i).toDouble else b.getDouble(i)
      out(i) = x - y
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Elementwise scalar division — `transform(v, x -> x / s)` for the
    * unit-normalize step, bit-identical per element. */
  def vecDiv(a: ArrayData, s: Double, floats: Boolean): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (floats) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = x / s
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Dense vector from a sparse (bucket → weight) map — value-identical
    * to `transform(sequence(0, dim-1), i -> coalesce(element_at(m, i),
    * 0D))`: absent buckets are 0.0, out-of-range keys ignored. */
  def denseFromMap(m: MapData, dim: Int): ArrayData = {
    val out = new Array[Double](dim)
    val keys = m.keyArray()
    val vals = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      val k = keys.getInt(i)
      if (k >= 0 && k < dim) out(k) = vals.getDouble(i)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Elementwise scale PRESERVING the element type — float inputs
    * multiply in float (`x * CAST(s AS FLOAT)`), double inputs in double
    * (the same promotion the SQL lambda performs). */
  def vecScaleF(a: ArrayData, s: Float): ArrayData = {
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) { out(i) = a.getFloat(i) * s; i += 1 }
    new GenericArrayData(out)
  }
  def vecScaleD(a: ArrayData, s: Double): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = a.getDouble(i) * s; i += 1 }
    new GenericArrayData(out)
  }

  def cosine(a: ArrayData, b: ArrayData, floatsA: Boolean, floatsB: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (floatsA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatsB) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** cosine_sim(a array<float|double>, b array<float|double>) → double.
  * The higher-order-function spelling (`aggregate(zip_with(..))`) is
  * interpreted per element — three lambda invocations per dimension; this
  * expression is one static call inside whole-stage codegen. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val fa = isFloat(left)
  private lazy val fb = isFloat(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], fa, fb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosine($a, $b, $fa, $fb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** nearest_centroid(v array<float|double>, cents array<array<double>>) →
  * int: argmin of euclidean distance, ties to the smallest index.
  * One static call inside whole-stage codegen — the k-means assignment
  * step runs as a pure projection over the scan, no join, no shuffle. */
case class NearestCentroid(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  private lazy val floats =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any, c: Any): Any =
    VectorOps.nearestCentroid(v.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], floats)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c) => s"graft.functions.VectorOps.nearestCentroid($v, $c, $floats)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCentroid =
    copy(left = l, right = r)
  override def prettyName: String = "nearest_centroid"
}

/** l2_norm(v array<float|double>) → double: codegen'd euclidean norm. */
case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  private lazy val floats =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    VectorOps.l2norm(v.asInstanceOf[ArrayData], floats)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.l2norm($v, $floats)")
  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
  override def prettyName: String = "l2_norm"
}

/** Kernels that read vector elements through `getFloat`/`getDouble`
  * accept only these inputs: any other type must fail analysis instead of
  * returning garbage. */
private object InputTypes {
  val realArray: Seq[DataType] = Seq(ArrayType(FloatType), ArrayType(DoubleType))
}

/** l2_sq_dist(a array<float|double>, b array<float|double>) → double:
  * squared euclidean distance (NO sqrt — the IVF probe-ranking measure),
  * one static call inside whole-stage codegen where the
  * aggregate(zip_with(...)) spelling evaluated interpreted per element. */
case class L2SqDist(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    B.checkInputTypes(Seq(left, right), Seq(InputTypes.realArray, InputTypes.realArray))
  override def dataType: DataType = DoubleType
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val fa = isFloat(left)
  private lazy val fb = isFloat(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], fa, fb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.l2sq($a, $b, $fa, $fb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqDist =
    copy(left = l, right = r)
  override def prettyName: String = "l2_sq_dist"
}

/** vec_sub(a array<float|double>, b array<float|double>) → array<double>:
  * the IVF-ADC residual (elementwise difference), codegen'd. */
case class VecSub(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    B.checkInputTypes(Seq(left, right), Seq(InputTypes.realArray, InputTypes.realArray))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private lazy val fa = isFloat(left)
  private lazy val fb = isFloat(right)
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.vecSub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], fa, fb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.vecSub($a, $b, $fa, $fb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSub =
    copy(left = l, right = r)
  override def prettyName: String = "vec_sub"
}

/** vec_div(v array<float|double>, s double) → array<double>: elementwise
  * scalar division (the unit-normalize step), codegen'd. */
case class VecDiv(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    B.checkInputTypes(Seq(left, right), Seq(InputTypes.realArray, Seq(DoubleType)))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private lazy val floats =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any, s: Any): Any =
    VectorOps.vecDiv(v.asInstanceOf[ArrayData], s.asInstanceOf[Double], floats)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, s) => s"graft.functions.VectorOps.vecDiv($v, $s, $floats)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDiv =
    copy(left = l, right = r)
  override def prettyName: String = "vec_div"
}

/** dense_from_map(m map<int,double>, dim) → array<double>: dense vector
  * from a sparse bucket→weight map, zeros filled in — codegen'd
  * replacement for the transform(sequence)/element_at spelling. */
case class DenseFromMap(child: Expression, dim: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    B.checkInputTypes(Seq(child), Seq(Seq(MapType(IntegerType, DoubleType))))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(m: Any): Any =
    VectorOps.denseFromMap(m.asInstanceOf[MapData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, m => s"graft.functions.VectorOps.denseFromMap($m, $dim)")
  override protected def withNewChildInternal(c: Expression): DenseFromMap = copy(child = c)
  override def prettyName: String = "dense_from_map"
}

/** vec_scale(v array<float|double>) → same-typed array: elementwise
  * multiply by a float literal, preserving element type exactly as the
  * `transform(v, x -> x * CAST(s AS FLOAT))` lambda would (float inputs
  * stay float and multiply in float precision). */
case class VecScale(child: Expression, factor: Float) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    B.checkInputTypes(Seq(child), Seq(InputTypes.realArray))
  private lazy val floats =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType =
    ArrayType(if (floats) FloatType else DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    if (floats) VectorOps.vecScaleF(v.asInstanceOf[ArrayData], factor)
    else VectorOps.vecScaleD(v.asInstanceOf[ArrayData], factor.toDouble)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (floats)
      defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.vecScaleF($v, ${factor}f)")
    else
      defineCodeGen(ctx, ev, v => s"graft.functions.VectorOps.vecScaleD($v, ${factor.toDouble})")
  override protected def withNewChildInternal(c: Expression): VecScale = copy(child = c)
  override def prettyName: String = "vec_scale"
}
