package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native array dot product: the hot inner loop of every similarity
  * operator (cosine scoring, IVF assignment, near-dup confirmation).
  *
  * The Column spelling `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is
  * built from higher-order functions, which NEVER enter whole-stage
  * codegen — each evaluation interprets two lambda chains and
  * allocates an intermediate array. At candidate-pair volumes that is
  * the measured bottleneck: 156M pair evaluations at 64 dims ran 408s
  * interpreted. This expression compiles to a plain
  * primitive `for` loop inside the generated stage.
  *
  * Value-identical to the HOF spelling on well-formed input: elements
  * widen to double, multiply in double, accumulate LEFT TO RIGHT (the
  * same IEEE operation order, so scores hash-match existing oracles).
  * Null inputs, length mismatches and null elements yield NULL, like
  * zip_with + aggregate over nulls.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private val numeric = Seq(ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(numeric.contains) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two numeric arrays, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elem(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Per-element accessor resolved ONCE per expression instance, not
    * per element: the interpreted path matters. Whole-stage codegen
    * falls back to interpreted evaluation whenever a stage's generated
    * method outgrows janino's limits — exactly what happens when a
    * 16-centroid assignment expression is duplicated into an
    * optimizer-inserted join-key null filter — and a per-element
    * DataType match there cost 300s+ on a 500k-row stage (vs ~20s with
    * hoisted dispatch). */
  private type Get = (ArrayData, Int) => Double
  private def getter(t: DataType): Get = t match {
    case DoubleType  => (a, i) => a.getDouble(i)
    case FloatType   => (a, i) => a.getFloat(i).toDouble
    case LongType    => (a, i) => a.getLong(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case ShortType   => (a, i) => a.getShort(i).toDouble
    case ByteType    => (a, i) => a.getByte(i).toDouble
  }
  @transient private lazy val bothDouble =
    elem(left) == DoubleType && elem(right) == DoubleType
  @transient private lazy val getL: Get = getter(elem(left))
  @transient private lazy val getR: Get = getter(elem(right))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    if (bothDouble) {
      // hot combo: tight primitive loop, no lambda dispatch
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
    } else {
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        acc += getL(x, i) * getR(y, i)
        i += 1
      }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      def get(arr: String, t: DataType) = t match {
        case DoubleType => s"$arr.getDouble($i)"
        case FloatType  => s"(double)$arr.getFloat($i)"
        case LongType   => s"(double)$arr.getLong($i)"
        case IntegerType => s"(double)$arr.getInt($i)"
        case ShortType  => s"(double)$arr.getShort($i)"
        case ByteType   => s"(double)$arr.getByte($i)"
      }
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += ${get(a, elem(left))} * ${get(b, elem(right))};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProductExpr = copy(l, r)
}
