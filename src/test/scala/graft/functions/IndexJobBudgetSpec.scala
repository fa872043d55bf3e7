package graft.functions

import graft.{JobBudget, SparkSpec}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budget of one standing-index arrival: the Spark jobs started
  * inside one call of [[Dedup.bandIndexUpdate]] and of
  * [[Dedup.containmentIndexUpdate]], on a new index (bootstrap) and on
  * one that already holds a batch. Job counts repeat exactly from run
  * to run, so they pin the per-arrival fixed cost: a plan change that
  * adds a job fails here before it shows as wall time ([[JobBudget]]). */
class IndexJobBudgetSpec extends SparkSpec {

  private def jobsOf(body: => Unit) = JobBudget.jobsOf(spark)(body)
  private def breakdown(jobs: Seq[(String, String)]) = JobBudget.breakdown(jobs)

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
