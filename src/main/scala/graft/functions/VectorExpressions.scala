package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for Array[Float] embedding math — the
  * custom-`Expression` tier of SURVEY.md §4.3: a single fused codegen loop
  * (no per-element boxing, no lambda-function dispatch) replacing the
  * `zip_with` + `aggregate` higher-order-function chain on the ANN hot
  * path. Registered as SQL functions `graft_cosine` / `graft_dot` via
  * [[GraftExtensions]] (SparkSessionExtensions), and exposed as Columns via
  * [[VectorFunctions]].
  *
  * Null handling: null array → null result (BinaryExpression nullSafeEval);
  * null ELEMENTS count as 0.0 (embeddings never carry null elements; the
  * guard keeps the expression total). Ragged inputs fold over the common
  * prefix (min length) — unlike `zip_with`, which nulls the whole result;
  * embedding columns are fixed-dimension so neither path is exercised.
  */
abstract class FloatVectorFold extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT> inputs, got ${left.dataType} / ${right.dataType}")
  }
  override def dataType: DataType = DoubleType

  protected def finishJava(dot: String, na: String, nb: String, out: String): String
  protected def finish(dot: Double, na: Double, nb: Double): Double

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getFloat(i).toDouble
      val yv = if (y.isNullAt(i)) 0.0 else y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    finish(dot, na, nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.isNullAt($i) ? 0.0 : (double) $x.getFloat($i);
         |  double $yv = $y.isNullAt($i) ? 0.0 : (double) $y.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${finishJava(dot, na, nb, ev.value.toString)}
       """.stripMargin
    })
}

/** cosine(a, b) = dot/(|a||b|); 0.0 when either norm is 0 (matches
  * graft.operators.Similarity.cosine and DuckDB list_cosine_similarity
  * accumulation order).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends FloatVectorFold {
  override def prettyName: String = "graft_cosine"
  protected def finish(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  protected def finishJava(dot: String, na: String, nb: String, out: String): String =
    s"$out = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** dot(a, b) — plain inner product. */
case class DotProduct(left: Expression, right: Expression) extends FloatVectorFold {
  override def prettyName: String = "graft_dot"
  protected def finish(dot: Double, na: Double, nb: Double): Double = dot
  protected def finishJava(dot: String, na: String, nb: String, out: String): String =
    s"$out = $dot;"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static kernels shared by interpreted eval AND generated code — the
  * codegen emits a call to these, so both paths are one implementation
  * (zero interpreted/codegen divergence risk, no CodegenFallback). Inputs
  * stay `ArrayData`: no per-row boxing, no array copy. The model
  * parameters (hyperplanes, centroids) ride along as Catalyst reference
  * objects (`ctx.addReferenceObj`), i.e. task-broadcast constants — the
  * expression-tier replacement for the former closure-captured broadcast
  * variables in the row UDFs.
  */
object VectorNative {

  /** hyperplane sign bucket — bit p set iff dot(v, planes(p)) >= 0;
    * matches [[graft.operators.Similarity.bucketOf]] op-for-op.
    */
  def lshBucket(v: ArrayData, planes: Array[Array[Double]]): Int = {
    var b = 0
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      val n = math.min(v.numElements(), plane.length)
      var dot = 0.0
      var i = 0
      while (i < n) {
        val xv = if (v.isNullAt(i)) 0.0 else v.getFloat(i).toDouble
        dot += xv * plane(i)
        i += 1
      }
      if (dot >= 0) b |= (1 << p)
      p += 1
    }
    b
  }

  /** top-`nAssign` centroid list ids by cosine, ties broken by smaller
    * list id — the stable sort by (-cos, id), take a, without
    * materializing the sort.
    */
  def ivfAssign(
      v: ArrayData, ids: Array[Int], cents: Array[Array[Float]],
      nAssign: Int): ArrayData = {
    val m = cents.length
    val cos = new Array[Double](m)
    var j = 0
    while (j < m) {
      val c = cents(j)
      val n = math.min(v.numElements(), c.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = if (v.isNullAt(i)) 0.0 else v.getFloat(i).toDouble
        val yv = c(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      cos(j) = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      j += 1
    }
    val k = math.min(nAssign, m)
    val taken = new Array[Boolean](m)
    val out = new Array[Any](k)
    var a = 0
    while (a < k) {
      var best = -1
      var j2 = 0
      while (j2 < m) {
        if (!taken(j2) && (best < 0 || cos(j2) > cos(best) ||
            (cos(j2) == cos(best) && ids(j2) < ids(best)))) best = j2
        j2 += 1
      }
      taken(best) = true
      out(a) = ids(best)
      a += 1
    }
    new GenericArrayData(out)
  }
}

/** bucket = graft_lsh_bucket(vec) for a fixed hyperplane table — the
  * codegen replacement for the former `bucketOf` row UDF on the LSH scan
  * and index-build paths.
  */
case class LshBucket(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  override def prettyName: String = "graft_lsh_bucket"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    VectorNative.lshBucket(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorNative.lshBucket($v, $ref);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** list ids = graft_ivf_assign(vec) for a fixed trained centroid table —
  * the codegen replacement for the former IVF-assignment row UDF.
  */
case class IvfAssign(
    child: Expression, ids: Array[Int], cents: Array[Array[Float]],
    nAssign: Int) extends UnaryExpression {
  override def prettyName: String = "graft_ivf_assign"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    VectorNative.ivfAssign(v.asInstanceOf[ArrayData], ids, cents, nAssign)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("ids", ids, "int[]")
    val centsRef = ctx.addReferenceObj("cents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.VectorNative.ivfAssign($v, $idsRef, $centsRef, $nAssign);")
  }
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Column-API surface for the native expressions. */
object VectorFunctions {
  import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}

  private def floatArrayLit(q: Array[Float]): Expression =
    Literal.create(
      new GenericArrayData(q.map(_.asInstanceOf[Any])),
      ArrayType(FloatType, containsNull = false))

  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def cosineConst(a: Column, q: Array[Float]): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), floatArrayLit(q)))

  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def lshBucket(v: Column, planes: Array[Array[Double]]): Column =
    ExpressionUtils.column(LshBucket(ExpressionUtils.expression(v), planes))

  def ivfAssign(
      v: Column, cents: Array[(Int, Array[Float])], nAssign: Int): Column =
    ExpressionUtils.column(IvfAssign(
      ExpressionUtils.expression(v), cents.map(_._1), cents.map(_._2), nAssign))
}
