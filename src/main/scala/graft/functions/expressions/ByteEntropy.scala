package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StructField, StructType}

/** Native per-document byte-entropy kernel for
  * [[graft.ops.TextOps.textEntropy]]: one fused pass over the document's
  * bytes producing `STRUCT<n_chars, n_distinct_chars, entropy_ubits>` —
  * replacing an explode to one row PER CORPUS BYTE (each built by
  * `substr → hex → conv`, two string allocations plus a radix parse per
  * byte), a histogram hash-aggregate exchange over those rows, a
  * DISTINCT-(n, nc) broadcast-join seam for the portable log, and the
  * per-document fold exchange (SURVEY.md §2.9 escalation rule — the
  * [[PqEncode]] / [[CharSig]] precedent; guide §4 non-codegen
  * expressions in the hot path, §2.1 a removable shuffle).
  *
  * Bit-identity with the expression form it replaced (now the
  * test-code reference; TextEntropySpec pins row equality on real
  * sf0.001 documents and on planted edge docs, interpreted and
  * compiled):
  *   - the byte histogram is exact integer counting, order-free;
  *   - `log2(n/nc)` goes through
  *     [[graft.functions.PortableMath.log2MicroConst]] — the driver-side
  *     twin of the column-expression digit extraction, bit-identical by
  *     construction (PortableMathSpec pins it): same integer exponent
  *     from the quotient's bit length, same 20 exact-IEEE squarings;
  *   - the per-term `(nc · lmicro · 1e6) DIV (n · 2^20)` is the same
  *     integer arithmetic (Java `/` = Spark `DIV` on the non-negative
  *     operands the domain guarantees, and the HOF form's ANSI overflow
  *     throw cannot fire below the documented ~16 MB/doc bound);
  *   - the per-document term sum is an exact integer sum, identical in
  *     any accumulation order.
  *
  * Null contract: null binary yields NULL (unreachable — the caller
  * filters `octet_length(text) >= 1` first, which also preserves the
  * old form's empty-document behavior: no byte rows ⇒ the document is
  * absent from the output).
  */
case class ByteEntropy(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ByteEntropy.outType
  override def prettyName: String = "byte_entropy"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary input, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any =
    ByteEntropyImpl.compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.ByteEntropyImpl.compute($c);")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object ByteEntropy {
  val outType: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct_chars", LongType, nullable = false),
    StructField("entropy_ubits", LongType, nullable = false)))

  def byteEntropy(b: Column): Column =
    Shims.column(ByteEntropy(Shims.expression(b)))
}

object ByteEntropyImpl {
  /** `(n, distinct-byte count, Σ (nc·lmicro·1e6) DIV (n·2^20))` over the
    * 256-bucket exact byte histogram of `b` (terms in ascending byte
    * order — irrelevant to the exact integer sum, fixed for
    * determinism's sake). Counts are longs: a >2 GiB value can't occur
    * (Java arrays), but the term math is the caller's documented
    * ~16 MB/doc domain anyway. */
  def compute(b: Array[Byte]): InternalRow = {
    val cnt = new Array[Long](256)
    val n = b.length
    var i = 0
    while (i < n) {
      cnt(b(i) & 0xff) += 1
      i += 1
    }
    var distinct = 0L
    var sum = 0L
    val nL = n.toLong
    var ch = 0
    while (ch < 256) {
      val nc = cnt(ch)
      if (nc > 0L) {
        distinct += 1L
        val lmicro = graft.functions.PortableMath.log2MicroConst(nL, nc)
        sum += nc * lmicro * 1000000L / (nL * 1048576L)
      }
      ch += 1
    }
    InternalRow(nL, distinct, sum)
  }
}
