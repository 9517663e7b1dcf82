package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash over an array of token strings, as a native Catalyst
  * expression with real codegen (evaluates via one static call from the
  * generated code — the stage stays whole-stage compiled).
  *
  * Classic construction: each token hashes to 64 bits (first 8 bytes of its
  * md5); bit positions vote +1/-1; the sign vector is the fingerprint.
  * Near-duplicate docs differ in a few bits — pair search is then
  * `bit_count(a ^ b) <= k` with built-in expressions.
  */
case class SimHash64(child: Expression) extends StringArrayInput {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.compute(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {
  import org.apache.spark.sql.graft.bridge

  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The whole-array kernel — shared by interpreted eval and codegen.
    * (Also reuses a thread-local digest; the old form allocated a fresh
    * MessageDigest per row.) */
  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val md = localMd.get()
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i).getBytes
        md.reset()
        val d = md.digest(tok)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** Column-API entry point: simhash64(tokensArrayColumn). */
  def simhash64(tokens: Column): Column =
    bridge.column(SimHash64(bridge.expression(tokens)))
}
