package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd Catalyst expression.
  *
  * Crawled text mixes canonically-equivalent byte sequences — combining
  * marks vs precomposed characters (`e` + U+0301 vs `é`), compatibility
  * singletons like U+212B (ANGSTROM SIGN → Å) — and every downstream
  * hash-keyed operator (exact dedup fingerprints, shingles, segment
  * hashes) treats those as DIFFERENT documents unless normalization runs
  * first. Spark ships no normalization function; a Scala UDF would drop
  * the whole projection out of codegen. This expression keeps the scan
  * stage fused: the generated code is a single static call into
  * `java.text.Normalizer` (which fast-paths already-NFC ASCII via
  * `Normalizer.isNormalized`-style quick checks internally).
  */
case class NfcNormalize(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expects a string input, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.NfcNormalize$$.MODULE$$.nfc($c)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
}

object NfcNormalize {
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      s.toString, java.text.Normalizer.Form.NFC))
}

/** Column helper; `nfc_normalize` resolves in sessions from
  * [[graft.Graft.session]] or `spark.sql.extensions=graft.GraftExtensions`.
  */
object TextFunctions {
  def nfcNormalize(c: Column): Column = call_function("nfc_normalize", c)
}
