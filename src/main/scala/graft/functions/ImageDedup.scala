package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Perceptual image near-duplicate detection — the image analogue of
  * the MinHash text path (reference: the dedup/banding shapes of
  * pkg/dataplane batch operators, re-expressed for binary media).
  *
  * Pipeline: decode (real codec) → dHash (difference hash: resize to
  * 9×8 grayscale, one bit per horizontal gradient) → split the 64-bit
  * hash into four 16-bit bands → bucket-join within bands → exact
  * Hamming check on candidates. Design rules (same as [[Dedup]]):
  *   - never all-pairs: candidates come from band buckets, and a
  *     bucket-size cap bounds the worst case (a degenerate constant
  *     image at 100 TB would otherwise make one quadratic bucket);
  *   - the band-value domain is 16-bit, so the bucket-size frame is
  *     ≤ 4·65536 rows — broadcast, never a shuffle;
  *   - all-integer math (nearest resize, 77/150/29 luma, gradient
  *     compare), so any engine reproduces the bits exactly.
  */
object ImageDedup {

  /** dHash bands of a decoded raster: resize to (hashW+1)×hashH with
    * the real nearest-neighbor kernel, integer luma, then bit i =
    * row·hashW+col is set iff gray(row,col) > gray(row,col+1). Returns
    * (hashW·hashH+15)/16 16-bit band values (low band first, low bit
    * first). Luma (77·r+150·g+29·b)>>8 sums to 256, so grayscale
    * images (r=g=b=v) hash from v exactly. */
  def dhashBands(r: MediaCodecs.Raster, hashW: Int = 8, hashH: Int = 8): Array[Int] = {
    val g = MediaCodecs.resizeNearest(r, hashW + 1, hashH)
    val gray = new Array[Int]((hashW + 1) * hashH)
    var i = 0
    while (i < gray.length) {
      val o = i * 3
      gray(i) = (77 * (g.rgb(o) & 0xff) + 150 * (g.rgb(o + 1) & 0xff) +
        29 * (g.rgb(o + 2) & 0xff)) >> 8
      i += 1
    }
    val bands = new Array[Int]((hashW * hashH + 15) / 16)
    var row = 0
    while (row < hashH) {
      var c = 0
      while (c < hashW) {
        val idx = row * hashW + c
        if (gray(row * (hashW + 1) + c) > gray(row * (hashW + 1) + c + 1))
          bands(idx >> 4) |= 1 << (idx & 15)
        c += 1
      }
      row += 1
    }
    bands
  }

  /** Per-row dHash over a binary image column: decode through the real
    * codec dispatch (PPM/BMP/PNG/GIF/JPEG) and emit the four 16-bit
    * band values. Undecodable payloads yield null bands (quarantine
    * rows — [[nearDupPairs]] drops them). A pure map stage: no
    * shuffle, decode cost ∝ partition bytes. */
  def dhashFrame(df: DataFrame, payloadCol: String = "payload",
                 idCol: String = "doc_id"): DataFrame = {
    val outSchema = StructType(Seq(df.schema(idCol),
      StructField("b0", IntegerType), StructField("b1", IntegerType),
      StructField("b2", IntegerType), StructField("b3", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val pIdx = df.schema.fieldIndex(payloadCol)
    val iIdx = df.schema.fieldIndex(idCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(pIdx).asInstanceOf[Array[Byte]]
        val bands =
          try {
            val b = dhashBands(MediaCodecs.decodeImage(payload))
            Seq[Any](b(0), b(1), b(2), b(3))
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq[Any](null, null, null, null)
          }
        Row.fromSeq(r.get(iIdx) +: bands)
      }
    }(enc)
  }

  /** Near-duplicate pairs from banded hashes: candidates share at
    * least one band value (LSH over Hamming space — pigeonhole
    * guarantees recall for Hamming ≤ 3 with 4 bands; beyond that the
    * banding is approximate, like every LSH family here), then the
    * exact Hamming distance gates the pair. Buckets larger than `bucketCap` are dropped
    * whole (the degenerate-image guard); the cap frame is bounded by
    * the 16-bit band domain, so pruning is a broadcast join. */
  def nearDupPairs(hashed: DataFrame, idCol: String = "doc_id",
                   maxHamming: Int = 6, bucketCap: Int = 1000): DataFrame = {
    val clean = hashed.filter(col("b0").isNotNull)
    // eager checkpoint (scan census): the band postings feed the
    // bucket-cap model AND both pair-join legs — without it every
    // consumer re-ran the upstream image decode + dHash (4 scans / 4
    // explodes measured; the decode is the expensive kernel). Four
    // 8-byte band rows per image is the cheapest thing to materialize
    // in the whole pipeline.
    val bx = Materialize.corpus(
      clean.select(col(idCol), col("b0"), col("b1"), col("b2"), col("b3"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("bi", "bv"))))
    // ≤ 4·2^16 distinct (slot, value) keys — broadcastable by construction
    val ok = bx.groupBy("bi", "bv").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= bucketCap).drop("__n")
    val pruned = bx.join(broadcast(ok), Seq("bi", "bv"))
    val l = pruned.select(col("bi"), col("bv"), col(idCol).as("left_id"),
      col("b0").as("lb0"), col("b1").as("lb1"),
      col("b2").as("lb2"), col("b3").as("lb3"))
    val r = pruned.select(col("bi"), col("bv"), col(idCol).as("right_id"),
      col("b0").as("rb0"), col("b1").as("rb1"),
      col("b2").as("rb2"), col("b3").as("rb3"))
    // bands ride through the pair join so the Hamming check needs no
    // second corpus-sized join; distinct collapses multi-band collisions
    l.join(r, Seq("bi", "bv"))
      .filter(col("left_id") < col("right_id"))
      .drop("bi", "bv").distinct()
      .withColumn("hamming",
        (bit_count(col("lb0").bitwiseXOR(col("rb0"))) +
          bit_count(col("lb1").bitwiseXOR(col("rb1"))) +
          bit_count(col("lb2").bitwiseXOR(col("rb2"))) +
          bit_count(col("lb3").bitwiseXOR(col("rb3")))).cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select("left_id", "right_id", "hamming")
  }
}
