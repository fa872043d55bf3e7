package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** A reading of Spark's process-wide codegen counters: classes compiled
  * and the time spent compiling them, by the driver and by every
  * executor in this JVM (all of them in local mode). The cost of a
  * window is the difference of the readings at its ends. */
final case class Codegen(compiles: Long, compileNanos: Long) {
  def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, compileNanos - o.compileNanos)
  def compileMs: Double = compileNanos / 1e6
}

object Codegen {
  def now(): Codegen =
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}
