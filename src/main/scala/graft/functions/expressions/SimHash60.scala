package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass SimHash kernel shared by the interpreted and generated
  * paths of [[SimHash60]]. Standalone object (no companion class) so
  * scalac emits static forwarders callable from Janino code.
  */
object SimHashOps {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(token) — numerically identical to
    * `conv(substr(md5(t),1,15),16,10)` / DuckDB
    * `('0x'||substr(md5(t),1,15))::BIGINT`: 7 full bytes then the high
    * nibble of the 8th.
    */
  def token60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** 60-bit SimHash over the DISTINCT tokens of the array: bit i is
    * set iff strictly more distinct tokens have md5-bit i set than
    * clear — exactly the explode → 60-conditional-sums formulation,
    * computed in one pass per row with no row explosion and no
    * 60-aggregate tree.
    */
  def compute(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val seen = new java.util.HashSet[UTF8String](math.max(8, n * 2))
    val counts = new Array[Int](60)
    var distinct = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null && seen.add(t)) {
        distinct += 1
        val h = token60(t.getBytes)
        var b = 0
        while (b < 60) {
          counts(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) * 2 > distinct) sim |= (1L << b)
      b += 1
    }
    sim
  }
}

/** Native codegen'd 60-bit SimHash over a token array — the hot-path
  * replacement for the explode + `array_distinct` + 60 conditional-sum
  * aggregates pipeline (and for a pure-lambda form, which would
  * re-evaluate its token-hash argument twice per bit because Catalyst
  * expression trees are not DAGs). One static call per row inside the scan projection:
  * no shuffle, no generate, no aggregate tree; the md5 and bit
  * arithmetic are bit-identical to the aggregate formulation, so the
  * DuckDB oracle is unchanged.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_simhash60"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.sql}")
  }

  override def nullSafeEval(input: Any): Any =
    SimHashOps.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SimHashOps.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
