package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** `bloom_might_contain(value, bloom_bytes)` — membership probe of a long
  * key against a serialized Bloom filter, inside whole-stage codegen.
  *
  * The filter travels as a foldable BINARY literal (the same shape Spark's
  * own runtime-filter expression uses): deserialized ONCE per task via a
  * codegen reference object, never per row, and the literal rides the
  * serialized plan so every executor probes an identical filter with zero
  * extra I/O. No false negatives by construction; callers must treat a
  * `true` as a CANDIDATE (≈fpp of them are false positives) and verify
  * exactly — see [[graft.ext.Dedup.contaminationBloom]].
  */
case class BloomMightContain(valueExpr: Expression, bloomExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = valueExpr
  override def right: Expression = bloomExpr
  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (valueExpr.dataType, bloomExpr.dataType) match {
      case (LongType, BinaryType) if bloomExpr.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (LongType, BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "bloom filter bytes must be a foldable literal")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"expects (bigint, binary) inputs, got ($l, $r)")
    }

  @transient private lazy val bloom: BloomFilter = {
    val bytes = bloomExpr.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(value: Any, bytes: Any): Any =
    bloom.mightContainLong(value.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // deserialize at plan time, publish the OBJECT, not the bytes: the
    // generated row loop is a single virtual call against a shared filter
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.mightContainLong($v);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(valueExpr = newLeft, bloomExpr = newRight)
}

/** Column helper plus filter serialization; `bloom_might_contain`
  * resolves in sessions from [[graft.Graft.session]] or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object BloomFunctions {
  /** Column form: `value` BIGINT probed against `bloom` (serialized). */
  def mightContainLong(value: Column, bloomBytes: Column): Column =
    call_function("bloom_might_contain", value, bloomBytes)

  def serialize(bloom: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }
}
