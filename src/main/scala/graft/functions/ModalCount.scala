package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Occurrence count of the most frequent element in an array of strings,
  * as a native Catalyst expression with real codegen.
  *
  * This is the repetition signal (`modal token count`) that q51/q60/q92-
  * class quality rules threshold on. The declarative spelling is
  * `explode → groupBy(doc, token) → groupBy(doc) max` — TWO shuffle
  * stages that ship every token OCCURRENCE of the corpus through the
  * exchange. This kernel computes the same long per row inside the scan's
  * whole-stage-codegen'd map: state is one open hash map bounded by the
  * document's distinct-token count (the same order of memory any
  * tokenizer pass holds), and the shuffle disappears entirely — at
  * 100 TB that's the difference between a corpus-wide token exchange and
  * a narrow column read. Null elements are ignored; an empty (or
  * all-null) array yields 0.
  */
case class ModalCount(child: Expression) extends StringArrayInput {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(ModalCount.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ModalCount.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): ModalCount =
    copy(child = newChild)

  override def prettyName: String = "modal_count"
}

object ModalCount {
  import org.apache.spark.sql.graft.bridge

  /** The whole-array kernel — shared by interpreted eval and codegen. */
  def compute(arr: ArrayData): Long = {
    val counts = new java.util.HashMap[UTF8String, Int](
      math.max(8, arr.numElements() * 2))
    var best = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val c = counts.merge(arr.getUTF8String(i), 1, Integer.sum)
        if (c > best) best = c.toLong
      }
      i += 1
    }
    best
  }

  /** Column-API entry point: modalCount(arrayOfStringsColumn). */
  def modalCount(arr: Column): Column =
    bridge.column(ModalCount(bridge.expression(arr)))
}
