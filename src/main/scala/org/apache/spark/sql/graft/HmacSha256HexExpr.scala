package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HMAC-SHA256 of a string under a fixed salt, as 64 lowercase hex chars
  * (the reference's mask_field hasher, registry/mask/hmac_hasher.go:29-33).
  * The public wrapper is [[graft.functions.HmacSha256Hex]].
  *
  * Codegen emits one static call. The HMAC reads the string's UTF-8
  * bytes in place and the digest is hex-encoded by `java.util.HexFormat`,
  * so a row costs one MAC and no per-value formatting. A string whose
  * bytes are not well-formed UTF-8 is hashed as its Java-decoded form
  * (each bad sequence replaced by U+FFFD), the bytes any JVM-side
  * `v.toString.getBytes("UTF-8")` would feed the MAC.
  *
  * The salt is an HMAC key: it is kept out of the printed arguments, so
  * plan text (EXPLAIN, the SQL UI, event logs, codegen comments) shows
  * only the child.
  */
case class HmacSha256HexExpr(child: Expression, salt: String)
    extends UnaryExpression with ExpectsInputTypes {
  require(salt.nonEmpty, "HMAC-SHA256 needs a non-empty salt")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_hmac_sha256"
  override protected def stringArgs: Iterator[Any] = Iterator(child)

  override def nullSafeEval(v: Any): Any =
    HmacSha256HexExpr.hmacHex(v.asInstanceOf[UTF8String], salt)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = ctx.addReferenceObj("salt", salt)
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.HmacSha256HexExpr.hmacHex($c, $s)")
  }

  override protected def withNewChildInternal(c: Expression): HmacSha256HexExpr =
    copy(child = c)
}

object HmacSha256HexExpr {
  private val Hex = java.util.HexFormat.of()
  /** Keyed `Mac`s one task thread keeps at most; a plan masks with one
    * salt per mask transformer, and this bounds how many keys outlive
    * the plans that used them. */
  private val MacsPerThread = 4

  /** `Mac` is stateful and not thread-safe: each task thread keeps its
    * own, keyed once per salt, least recently used dropped first. */
  private val macs = new ThreadLocal[java.util.LinkedHashMap[String, Mac]] {
    override def initialValue(): java.util.LinkedHashMap[String, Mac] =
      new java.util.LinkedHashMap[String, Mac](8, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[String, Mac]): Boolean =
          size() > MacsPerThread
      }
  }

  private def macFor(salt: String): Mac = {
    val cache = macs.get()
    var m = cache.get(salt)
    if (m == null) {
      m = Mac.getInstance("HmacSHA256")
      m.init(new SecretKeySpec(salt.getBytes(UTF_8), "HmacSHA256"))
      cache.put(salt, m)
    }
    m
  }

  def hmacHex(s: UTF8String, salt: String): UTF8String = {
    val mac = macFor(salt)
    if (s.isValid()) {
      val buf = s.getByteBuffer
      mac.update(buf.array(), buf.arrayOffset() + buf.position(), buf.remaining())
    } else mac.update(s.toString.getBytes(UTF_8))
    UTF8String.fromString(Hex.formatHex(mac.doFinal()))
  }
}
