package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.bridge

/** Engine SQL-function registration (the UDx surface, SURVEY §2.8).
  *
  * Two entry points:
  *   - `spark.sql.extensions=graft.functions.GraftExtensions` at session
  *     build (the SparkSessionExtensions path);
  *   - `GraftFunctions.register(spark)` on a live session (tests, REPL).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // plan-level extension: transparent range-join bucketization for
    // the SQL surface (gated on spark.graft.rangejoin.bucketWidth)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // whole-operator extension: the native as-of merge join
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.AsOfJoinStrategy)
  }
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  /** Evaluate a scalar argument that must be a plan-time Int —
    * matching only `Literal(_: Int)` rejected BIGINT literals
    * (`graft_shingles(t, 3L)`, `CAST(3 AS BIGINT)`) and any foldable
    * arithmetic (`2 + 1`), all of which a SQL user legitimately
    * writes. Any foldable integral expression folds here; a value
    * outside Int range or a non-integral type stays a plan-build
    * error. */
  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable,
      s"$what must be a literal (foldable) integer, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal in Int range, got " +
          s"$other (${e.dataType.simpleString})")
    }
  }

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_stable_hash64",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.StableHash64Expr].getName,
        "graft_stable_hash64"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_stable_hash64 takes one argument")
        org.apache.spark.sql.graft.StableHash64Expr(args.head)
      }),
    ("graft_dot",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.DotProductExpr].getName,
        "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot takes two arguments")
        org.apache.spark.sql.graft.DotProductExpr(args(0), args(1))
      }),
    ("graft_topk",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.TopKExpr].getName,
        "graft_topk"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_topk(score, id, k) takes three arguments")
        val k = intArg(args(2), "graft_topk k")
        org.apache.spark.sql.graft.TopKExpr(args(0), args(1), k)
          .toAggregateExpression()
      }),
    ("graft_shingles",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.ShinglesExpr].getName,
        "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "graft_shingles(text, n) takes two arguments")
        val n = intArg(args(1), "graft_shingles n")
        org.apache.spark.sql.graft.ShinglesExpr(args.head, n)
      }),
    ("graft_nfc",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.NfcNormalizeExpr].getName,
        "graft_nfc"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc takes one argument")
        org.apache.spark.sql.graft.NfcNormalizeExpr(args.head)
      }),
    ("graft_mask",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.graft.MaskPreserveExpr].getName,
        "graft_mask"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_mask(str, seed) takes two arguments")
        val seed = intArg(args(1), "graft_mask seed")
        org.apache.spark.sql.graft.MaskPreserveExpr(args.head, seed)
      }))

  /** Register on an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, info, builder) =>
      bridge.functionRegistry(spark)
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
}
