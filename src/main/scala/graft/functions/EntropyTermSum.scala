package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DecimalType}
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

/** Per-row Σ c·ln(c) over an array's element counts, as DECIMAL(27,12) —
  * the entropy numerator (H = ln(n) − Σc·ln c / n) computed INSIDE the
  * scan instead of by `explode → groupBy(doc, token) → DECIMAL sum`,
  * which ships every token occurrence through two exchanges.
  *
  * Bit-parity contract: each term is the same double Spark would compute
  * (`c.cast(double) * log(c.cast(double))`, i.e. `Math.log`), quantized
  * exactly as Spark's `Cast(double, DecimalType(27,12))` does —
  * `BigDecimal.valueOf` (shortest decimal representation) then HALF_UP to
  * scale 12 — and summed in exact decimal arithmetic, which is
  * order-independent, so the kernel's hash-iteration order can't matter
  * and the value equals the old aggregate's bit-for-bit (the DuckDB
  * oracle is unchanged). Terms with c == 1 contribute ln(1) = 0 and are
  * skipped. Null elements are ignored; empty/all-null arrays yield 0.
  */
case class EntropyTermSum(child: Expression) extends StringArrayInput {

  override def dataType: DataType = DecimalType(27, 12)

  override def nullSafeEval(input: Any): Any =
    EntropyTermSum.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.EntropyTermSum.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): EntropyTermSum =
    copy(child = newChild)

  override def prettyName: String = "entropy_term_sum"
}

object EntropyTermSum {
  import org.apache.spark.sql.graft.bridge

  /** The whole-array kernel — shared by interpreted eval and codegen. */
  def compute(arr: ArrayData): Decimal = {
    val counts = new java.util.HashMap[UTF8String, Int](
      math.max(8, arr.numElements() * 2))
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) counts.merge(arr.getUTF8String(i), 1, Integer.sum)
      i += 1
    }
    var sum = JBigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > 1) {
        val term = c.toDouble * Math.log(c.toDouble)
        sum = sum.add(JBigDecimal.valueOf(term).setScale(12, RoundingMode.HALF_UP))
      }
    }
    Decimal(scala.math.BigDecimal(sum.setScale(12)), 27, 12)
  }

  /** Column-API entry point: entropyTermSum(arrayOfStringsColumn). */
  def entropyTermSum(arr: Column): Column =
    bridge.column(EntropyTermSum(bridge.expression(arr)))
}
