package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * The composable alternative (`zip_with` + `aggregate` higher-order
  * functions) evaluates through per-element lambda interpretation and
  * dominated the benchmark (36 s for a 125k-pair cosine join at sf0.1).
  * These expressions generate a tight Java loop inside whole-stage codegen
  * instead — same double-precision, same element order, so results are
  * bit-identical with both the HOF formulation and the DuckDB oracle's
  * `list_cosine_similarity` on DOUBLE[].
  *
  * Array elements are assumed non-null (dense embeddings); accumulation is
  * sequential in element order.
  */
trait VecBinaryLoop extends BinaryExpression {
  override def dataType: DataType = DoubleType

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  protected def getD(a: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  protected def genGet(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }
}

/** dot(a, b) = Σ aᵢ·bᵢ in double precision. */
case class VecDot(left: Expression, right: Expression) extends VecBinaryLoop {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += getD(a, i, lt) * getD(b, i, rt); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ${genGet(a, i, elemType(left))} * ${genGet(b, i, elemType(right))};
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot/(√‖a‖² · √‖b‖²), one fused loop. */
case class CosineSim(left: Expression, right: Expression) extends VecBinaryLoop {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lt = elemType(left); val rt = elemType(right)
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = getD(a, i, lt); val y = getD(b, i, rt)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${genGet(a, i, elemType(left))};
         |  double $y = ${genGet(b, i, elemType(right))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Portable 60-bit hash as ONE codegen'd expression: MD5 over the UTF-8
  * bytes, value = the first 15 hex digits as an integer — numerically
  * IDENTICAL to `conv(substring(md5(x), 1, 15), 16, 10)` (bytes 0–6 and
  * the high nibble of byte 7), and to the DuckDB oracle's
  * `('0x' || substring(md5(x),1,15))::BIGINT` — but without materializing
  * and re-parsing a 32-char hex string per call. On the winnowing path
  * that is one digest per character k-gram, so the saved allocations are
  * the hot loop.
  */
case class PortableHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    PortableHash64.hash60(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PortableHash64$$.MODULE$$.hash60($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableHash64 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First 60 bits of MD5 as a non-negative long: bytes 0–6 (56 bits)
    * shifted up 4, plus the high nibble of byte 7 — exactly the integer
    * value of the first 15 hex digits of the digest.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    (v << 4) | ((d(7) & 0xF0L) >>> 4)
  }
}

/** Exact 64-bit integer division (truncated toward zero, Java `/`) — the
  * primitive Spark's Column API lacks (`/` on longs promotes to double,
  * whose 53-bit mantissa silently corrupts quotients past 2^53; the SQL
  * `div` operator exists but has no Column-API form). Powers the exact
  * integer-ratio rounding in [[graft.functions.Exact.ratioR]] at any long
  * magnitude. Inputs non-null by contract (plan-constructed arithmetic);
  * the divisor is never zero on those paths.
  */
case class LongDiv(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects (bigint, bigint), got ${left.dataType} / ${right.dataType}")

  override def nullSafeEval(l: Any, r: Any): Any =
    l.asInstanceOf[Long] / r.asInstanceOf[Long]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"$a / $b")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column helpers (via `call_function`, which works across the Spark 4
  * Column API without touching internal constructors). The functions
  * resolve in sessions from [[graft.Graft.session]] or
  * `spark.sql.extensions=graft.GraftExtensions`; nothing registers them
  * here.
  */
object VectorFunctions {
  def longDiv(a: Column, b: Column): Column = call_function("long_div", a, b)
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def portableHash64(c: Column): Column = call_function("portable_hash64", c)
}
