package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash-LSH band kernel: one document text → its `bands`
  * structs `(band, band_hash)`, the rows `graft.functions.Dedup.lshBands`
  * explodes. Per text: the distinct word shingles
  * ([[ShinglesExpr.shingles]]), one [[StableHash64Expr.hash]] per
  * shingle, the k minima of the affine permutations
  * `((2j+1)·h + j·B mod P) mod P`, and per band the md5 hex of its
  * k/bands minima joined by ',' in decimal.
  *
  * Why native: every shingle of a document comes from one input row,
  * so the composed spelling's explode → hash → `groupBy(id)` min paid a
  * whole Exchange for a per-row reduction. This keeps the reduction in
  * the row, inside whole-stage codegen.
  */
case class MinhashBandsExpr(child: Expression, k: Int, shingleN: Int,
                            bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && bands >= 1 && k % bands == 0,
    s"k must divide into bands: k=$k bands=$bands")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(MinhashBandsExpr.BandType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(v: Any): Any =
    MinhashBandsExpr.kernel(v.asInstanceOf[UTF8String], k, shingleN, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.MinhashBandsExpr.kernel($c, $k, $shingleN, $bands)")

  override protected def withNewChildInternal(c: Expression): MinhashBandsExpr =
    copy(child = c)
}

object MinhashBandsExpr {
  val BandType: StructType = StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("band_hash", StringType, nullable = false)))

  /** The permutation family's modulus (the first prime above 2^32) and
    * offset step; `graft.functions.Dedup.permute` is the Column form. */
  val P: Long = 4294967311L
  val B: Long = 2654435761L

  // one digest per task thread, reset per call (see StableHash64Expr)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Hex = java.util.HexFormat.of()

  /** The `bands` structs of one non-null text (see the class). */
  def kernel(s: UTF8String, k: Int, shingleN: Int, bands: Int): ArrayData = {
    val sh = ShinglesExpr.shingles(s, shingleN)
    val mins = Array.fill(k)(Long.MaxValue)
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < sh.numElements()) {
      val x = sh.getUTF8String(i)
      // the minima are duplicate-blind: a repeated shingle would only
      // repeat the md5, the dominant cost
      if (seen.add(x)) {
        val h = StableHash64Expr.hash(x)
        var j = 0
        while (j < k) {
          val v = (h * (2L * j + 1) + j.toLong * B % P) % P
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    val r = k / bands
    val m = md5.get()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder()
      var t = 0
      while (t < r) {
        if (t > 0) sb.append(',')
        sb.append(mins(b * r + t))
        t += 1
      }
      m.reset()
      val d = m.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out(b) = InternalRow(b, UTF8String.fromString(Hex.formatHex(d)))
      b += 1
    }
    new GenericArrayData(out)
  }
}
