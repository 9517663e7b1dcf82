package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles from a token array, as a native Catalyst
  * expression. Equal to
  * `array_distinct(transform(sequence(1, size(tk)-n+1), i -> concat_ws(" ", tk[i..i+n-1])))`
  * (first-occurrence order) but compiled: the higher-order-function form is
  * interpreted per element and dominated MinHash runtime. Short inputs
  * (< n tokens) yield an empty array, matching the guarded HOF form.
  */
case class WordNgrams(child: Expression, n: Int) extends StringArrayInput {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordNgrams.compute(input.asInstanceOf[ArrayData], n)

  /** Real codegen (one static call, stage stays whole-stage compiled). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordNgrams.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

object WordNgrams {
  import org.apache.spark.sql.graft.bridge

  /** The whole-array kernel — called from both interpreted eval and the
    * generated code (static forwarder on the companion class). */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      toks(i) = if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
      i += 1
    }
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i <= len - n) {
      val parts = new Array[UTF8String](2 * n - 1)
      var k = 0
      while (k < n) {
        parts(2 * k) = toks(i + k)
        if (k < n - 1) parts(2 * k + 1) = space
        k += 1
      }
      seen.add(UTF8String.concat(parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  /** Column-API entry point: wordNgrams(tokensArrayColumn, n). */
  def wordNgrams(tokens: Column, n: Int): Column =
    bridge.column(WordNgrams(bridge.expression(tokens), n))
}
