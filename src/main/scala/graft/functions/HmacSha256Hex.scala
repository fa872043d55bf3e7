package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{bridge, HmacSha256HexExpr}

/** `graft_hmac_sha256(str, salt)`: HMAC-SHA256 keyed by `salt`, as 64
  * lowercase hex chars, through the native codegen expression
  * [[org.apache.spark.sql.graft.HmacSha256HexExpr]]. The redaction
  * counterpart of [[Mask]]: values become irreversible, equal inputs
  * stay equal, and the output matches `javax.crypto`'s HmacSHA256 over
  * the value's UTF-8 bytes. Null stays null. */
object HmacSha256Hex {
  def apply(c: Column, salt: String): Column =
    bridge.column(HmacSha256HexExpr(bridge.expression(c), salt))
}
