package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst implementation of the engine's stable 32-bit hash
  * (first 8 hex chars of md5 as a Long). Lives in the same-package
  * bridge because `ExpectsInputTypes`/`AbstractDataType` are
  * private[sql] in Spark 4; the public wrapper is
  * [[graft.functions.StableHash64]].
  *
  * Codegen emits a direct static call — one digest, no intermediate
  * UTF8String allocations, stays inside whole-stage codegen.
  */
case class StableHash64Expr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_stable_hash64"

  override def nullSafeEval(v: Any): Any =
    StableHash64Expr.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.StableHash64Expr.hash($c)")

  override protected def withNewChildInternal(c: Expression): StableHash64Expr =
    copy(c)
}

object StableHash64Expr {
  // one digest per task thread, reset per call: getInstance("MD5") is
  // a synchronized provider lookup + allocation, and this hash runs
  // once per SHINGLE in the minhash family — the per-row lookup was
  // measurable across the whole dedup/sampling bench tier (same fix
  // MaskPreserveExpr got)
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes as an unsigned 32-bit value in a Long — equals
    * `CAST(('0x'||substr(md5(x),1,8)) AS BIGINT)` in any engine. */
  def hash(s: UTF8String): Long = {
    val m = md5.get()
    m.reset()
    val d = m.digest(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}
