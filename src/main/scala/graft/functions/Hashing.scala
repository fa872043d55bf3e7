package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StableHash64Expr
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** Engine-stable hashing built from md5 — deterministic, identical across
  * engines and languages (md5 is fully specified), which makes hash-keyed
  * operators (sharding, MinHash, LSH) externally verifiable. For pure
  * in-engine speed paths prefer Spark's codegen'd `hash()`/`xxhash64`.
  */
object Hashing {
  /** First 8 hex chars of md5 as an unsigned 32-bit value in a Long.
    * Backed by the native [[StableHash64]] expression (one digest, no
    * intermediate hex strings); value-identical to the SQL spelling
    * `CAST(('0x'||substr(md5(x),1,8)) AS BIGINT)`. */
  def hex8ToLong(c: Column): Column = StableHash64(c)

  /** The composed spelling, kept for cross-checking the native one. */
  def hex8ToLongComposed(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Driver-side twin of [[hex8ToLong]] (same md5-first-8-hex value) for
    * planning decisions — e.g. computing a key's state bucket without a
    * Spark job. */
  def hex8ToLongJvm(s: String): Long =
    StableHash64Expr.hash(UTF8String.fromString(s))

  private val Hex = java.util.HexFormat.of()

  /** Lowercase hex of a digest, two chars per byte. */
  def hex(d: Array[Byte]): String = Hex.formatHex(d)

  /** Seeded variant: seed participates in the hashed payload. */
  def seeded(c: Column, seed: Int): Column =
    hex8ToLong(concat(lit(s"$seed:"), c))
}
