package graft.functions

import scala.collection.mutable

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge

/** Job budget of one standing-index arrival: the Spark jobs started
  * inside one call of [[Dedup.bandIndexUpdate]] and of
  * [[Dedup.containmentIndexUpdate]], on a new index (bootstrap) and on
  * one that already holds a batch. Job counts repeat exactly from run
  * to run, so they pin the per-arrival fixed cost: a plan change that
  * adds a job fails here before it shows as wall time. */
class IndexJobBudgetSpec extends SparkSpec {

  /** (SQL execution id, the operators of its last stage) of every job
    * `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
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
    assert(bridge.drainListenerBus(spark, 10000))
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      assert(bridge.drainListenerBus(spark, 10000))
      spark.sparkContext.removeSparkListener(l)
    }
    seen.synchronized(seen.toList)
  }

  /** The jobs grouped by execution (`-`: jobs outside any SQL
    * execution), in start order, for a failure message. */
  private def breakdown(jobs: Seq[(String, String)]): String =
    jobs.map(_._1).distinct.map { ex =>
      val in = jobs.filter(_._1 == ex).map(_._2)
      s"\n  execution $ex, ${in.size} jobs: ${in.mkString(" | ")}"
    }.mkString

  /** Jobs of a bootstrap and of a post-bootstrap call of `update`,
    * which runs one arrival (its second argument) into the index at its
    * first. The corpus arrives as even then odd doc ids; both batches
    * are defined before counting, so the fixture's own schema read is
    * not counted. */
  private def arrivals(name: String)(update: (String, DataFrame) => Unit)
      : (Seq[(String, String)], Seq[(String, String)]) = {
    val idx = java.nio.file.Files.createTempDirectory(s"graft_$name")
      .toString + "/idx"
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val Seq(even, odd) = Seq(0, 1).map(m => docs.filter(col("doc_id") % 2 === m))
    try (jobsOf(update(idx, even)), jobsOf(update(idx, odd)))
    finally FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(idx).getParent, true)
  }

  test("band-index arrival job budget: bootstrap 6, post-bootstrap 10") {
    val (boot, next) = arrivals("bandjobs") { (idx, b) =>
      Dedup.bandIndexUpdate(idx, b, "text", "doc_id"); ()
    }
    assert((boot.size, next.size) == ((6, 10)),
      s"bootstrap: ${breakdown(boot)} || post-bootstrap: ${breakdown(next)}")
  }

  test("containment-index arrival job budget: bootstrap 11, post-bootstrap 18") {
    val (boot, next) = arrivals("contjobs") { (idx, b) =>
      Dedup.containmentIndexUpdate(idx, b, "text", "doc_id"); ()
    }
    assert((boot.size, next.size) == ((11, 18)),
      s"bootstrap: ${breakdown(boot)} || post-bootstrap: ${breakdown(next)}")
  }
}
