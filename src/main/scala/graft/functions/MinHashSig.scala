package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over a shingle-set column, as a native Catalyst
  * expression. ONE md5 per shingle; the k permutations are derived
  * arithmetically (Kirsch-Mitzenmacher): with h1/h2 = the digest's two
  * unsigned-64 halves (little-endian, exactly DuckDB's
  * `md5_number_upper`/`md5_number_lower`),
  *
  *   slot_p(g) = (h1(g) + p * h2(g)) mod M,   M = 2^61 - 1
  *
  * and the signature is the per-p minimum over the set. Engine-portable:
  * DuckDB computes the identical value as
  * `(CAST(md5_number_upper(g) AS HUGEINT) + p * md5_number_lower(g)) % M`,
  * so the whole LSH pipeline is oracle-verifiable. The arithmetic
  * derivation is what makes k=64 affordable — the k-salted-md5 variant
  * costs k full digests per shingle (measured ~2s/side at 5k docs, k=64,
  * vs ~0.1s for this form).
  *
  * Scale: per-row, no shuffle, constant memory (k longs).
  */
case class MinHashSig(child: Expression, perms: Int) extends StringArrayInput {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], perms)

  /** Real codegen (one static call, stage stays whole-stage compiled). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashSig.compute($c, $perms);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  import org.apache.spark.sql.graft.bridge

  /** Mersenne modulus 2^61 - 1. */
  val M: Long = (1L << 61) - 1

  private val localMd = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The whole-set kernel — shared by interpreted eval and codegen. */
  def compute(arr: ArrayData, perms: Int): ArrayData = {
    val mins = new Array[Long](perms)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    val md = localMd.get()
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        seen = true
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        val h1m = modM(leLong(d, 0))
        val h2m = modM(leLong(d, 8))
        var p = 0
        var v = h1m // slot_0; then add h2m (mod M) per step: h1m + p*h2m
        while (p < perms) {
          if (v < mins(p)) mins(p) = v
          v += h2m
          if (v >= M || v < 0) v -= M
          p += 1
        }
      }
      i += 1
    }
    val out = new Array[Any](perms)
    var p = 0
    while (p < perms) {
      out(p) = if (seen) mins(p) else null
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Little-endian unsigned-64 read of bytes [off, off+8) — the layout of
    * DuckDB's md5_number_upper (off=0) / md5_number_lower (off=8). */
  def leLong(d: Array[Byte], off: Int): Long = {
    var h = 0L
    var i = off + 7
    while (i >= off) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  /** Unsigned value mod M. */
  def modM(x: Long): Long = java.lang.Long.remainderUnsigned(x, M)

  /** Column-API entry point: minhash_sig(shingleSetColumn, k). */
  def minhashSig(shingleSet: Column, perms: Int): Column =
    bridge.column(MinHashSig(bridge.expression(shingleSet), perms))

  /** Plain-Scala reference of the full signature, for equivalence tests. */
  def reference(shingles: Seq[String], perms: Int): Seq[Option[Long]] = {
    if (shingles.isEmpty) return Seq.fill(perms)(None)
    val md = MessageDigest.getInstance("MD5")
    val sigs = shingles.map { g =>
      val d = md.digest(g.getBytes("UTF-8"))
      val h1 = BigInt(java.lang.Long.toUnsignedString(leLong(d, 0)))
      val h2 = BigInt(java.lang.Long.toUnsignedString(leLong(d, 8)))
      (0 until perms).map(p => ((h1 + BigInt(p) * h2) mod BigInt(M)).toLong)
    }
    (0 until perms).map(p => Some(sigs.map(_(p)).min))
  }
}

/** LSH band keys straight from the shingle set, one pass: band i is
  * "&lt;i&gt;|" + its `rowsPerBand` consecutive signature slots joined by
  * '|' (slot values are decimal int64 renderings, identical to DuckDB's
  * `'&lt;i&gt;|' || sig[ir+1] || '|' || sig[ir+2] || ...`).
  *
  * Exists so the banding stage evaluates the signature ONCE per row:
  * referencing `sig(i)` from a separate minhash_sig projection lets
  * Catalyst's CollapseProject re-inline the whole signature computation
  * into every slot reference (bands x rows copies). A band over an empty
  * shingle set is null, matching `||` null propagation in the oracle.
  */
case class MinHashBands(child: Expression, bands: Int, rowsPerBand: Int)
    extends StringArrayInput {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[ArrayData], bands, rowsPerBand)

  /** Real codegen (one static call, stage stays whole-stage compiled). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashBands.compute($c, $bands, $rowsPerBand);")

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {
  import org.apache.spark.sql.graft.bridge

  /** The whole-set kernel — shared by interpreted eval and codegen. */
  def compute(arr: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val slots = MinHashSig.compute(arr, bands * rowsPerBand)
    val out = new Array[Any](bands)
    var bi = 0
    while (bi < bands) {
      if (slots.isNullAt(bi * rowsPerBand)) out(bi) = null
      else {
        val sb = new java.lang.StringBuilder(16 + 21 * rowsPerBand)
        sb.append(bi).append('|')
        var ri = 0
        while (ri < rowsPerBand) {
          if (ri > 0) sb.append('|')
          sb.append(slots.getLong(bi * rowsPerBand + ri))
          ri += 1
        }
        out(bi) = UTF8String.fromString(sb.toString)
      }
      bi += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry point: minhash_bands(shingleSetColumn, b, r). */
  def minhashBands(shingleSet: Column, bands: Int, rowsPerBand: Int): Column =
    bridge.column(MinHashBands(bridge.expression(shingleSet), bands, rowsPerBand))
}
