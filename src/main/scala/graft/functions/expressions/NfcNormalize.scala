package graft.functions.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel so whole-stage codegen calls one forwarder instead of
  * inlining the normalizer plumbing (the [[JaroWinklerImpl]] pattern);
  * the fast path skips the Normalizer allocation entirely for text
  * that is already NFC — `Normalizer.isNormalized` is a cheap scan and
  * almost all real corpus text passes it. */
object NfcNormalizeImpl {
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Native codegen'd Unicode NFC normalization — the canonicalization
  * pass a text pipeline needs BEFORE hashing/dedup: "café" with a
  * precomposed é and "café" with e + U+0301 are byte-different (so
  * every exact-dup, MinHash and fingerprint kernel sees two documents)
  * but canonically identical. Semantics = Unicode canonical
  * composition, matching DuckDB's `nfc_normalize` (both implement
  * UAX#15 NFC). Spark has no built-in for this, so it's an Expression
  * (not a UDF): null-safe and codegen'd, reached from the Column API
  * as [[graft.functions.TextFunctions.nfc]]. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_nfc"
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.sql}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalizeImpl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.NfcNormalizeImpl.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalize = copy(child = newChild)
}
