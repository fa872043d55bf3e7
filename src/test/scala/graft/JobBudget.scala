package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.bridge

/** Spark job counting for the job-budget specs. Job counts repeat
  * exactly from run to run, so they pin a call's fixed cost: a plan
  * change that adds a job fails a budget spec before it shows as wall
  * time. */
object JobBudget {

  /** (SQL execution id, the operators of its last stage) of every job
    * `body` starts. */
  def jobsOf(spark: SparkSession)(body: => Unit): Seq[(String, String)] = {
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += ((Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .getOrElse("-"),
          e.stageInfos.lastOption.toSeq
            .flatMap(_.rddInfos.flatMap(_.scope.map(_.name)))
            .filterNot(_.startsWith("WholeStageCodegen")).distinct
            .mkString("/")))
      }
    }
    listening(spark, l)(body)
    seen.synchronized(seen.toList)
  }

  /** Run `body` with `l` registered, draining the listener bus before
    * and after, so `l` sees every event of `body` and no other. */
  def listening(spark: SparkSession, l: SparkListener)(body: => Unit): Unit = {
    assert(bridge.drainListenerBus(spark, 10000))
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      assert(bridge.drainListenerBus(spark, 10000))
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** The jobs grouped by execution (`-`: jobs outside any SQL
    * execution), in start order, for a failure message. */
  def breakdown(jobs: Seq[(String, String)]): String =
    jobs.map(_._1).distinct.map { ex =>
      val in = jobs.filter(_._1 == ex).map(_._2)
      s"\n  execution $ex, ${in.size} jobs: ${in.mkString(" | ")}"
    }.mkString
}
