package graft.functions

import graft.{JobBudget, SparkSpec}
import graft.sinks.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budget of one standing-index arrival: the Spark jobs started
  * inside one call of [[Dedup.bandIndexUpdate]] and of
  * [[Dedup.containmentIndexUpdate]], on a new index (bootstrap) and on
  * one that already holds a batch; and of a compaction that rewrites a
  * directory and of one with nothing to merge. Job counts repeat
  * exactly from run to run, so they pin the per-arrival fixed cost: a
  * plan change that adds a job fails here before it shows as wall time
  * ([[JobBudget]]). */
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
    val idx = tempDir(s"graft_$name") + "/idx"
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val Seq(even, odd) = Seq(0, 1).map(m => docs.filter(col("doc_id") % 2 === m))
    (jobsOf(update(idx, even)), jobsOf(update(idx, odd)))
  }

  test("band-index arrival job budget: bootstrap 5, post-bootstrap 8") {
    val (boot, next) = arrivals("bandjobs") { (idx, b) =>
      Dedup.bandIndexUpdate(idx, b, "text", "doc_id"); ()
    }
    assert((boot.size, next.size) == ((5, 8)),
      s"bootstrap: ${breakdown(boot)} || post-bootstrap: ${breakdown(next)}")
  }

  test("containment-index arrival job budget: bootstrap 11, post-bootstrap 14") {
    val (boot, next) = arrivals("contjobs") { (idx, b) =>
      Dedup.containmentIndexUpdate(idx, b, "text", "doc_id"); ()
    }
    assert((boot.size, next.size) == ((11, 14)),
      s"bootstrap: ${breakdown(boot)} || post-bootstrap: ${breakdown(next)}")
  }

  test("a compaction that rewrites: band 1 job, containment 1 job; the " +
    "schema comes from a footer read on the driver") {
    val dir = tempDir("graft_compactjobs")
    val (band, cont) = (s"$dir/band", s"$dir/cont")
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val thirds = (0 until 3).map(m => docs.filter(col("doc_id") % 3 === m))
    thirds.take(2).foreach { b =>
      Dedup.bandIndexUpdate(band, b, "text", "doc_id")
      Dedup.containmentIndexUpdate(cont, b, "text", "doc_id")
    }
    var bandStats, contStats: Sinks.CompactionStats = null
    val bandJobs = jobsOf { bandStats = Dedup.bandIndexCompact(spark, band) }
    // the first compaction merges both directories of the containment
    // index; after one more arrival the next merges postings/ alone
    Dedup.containmentIndexCompact(spark, cont)
    Dedup.containmentIndexUpdate(cont, thirds(2), "text", "doc_id")
    val contJobs = jobsOf { contStats = Dedup.containmentIndexCompact(spark, cont) }
    for (st <- Seq(bandStats, contStats))
      assert(st.filesBefore > 1 && st.filesAfter == 1, st)
    assert((bandJobs.size, contJobs.size) == ((1, 1)),
      s"band: ${breakdown(bandJobs)} || containment: ${breakdown(contJobs)}")
  }

  test("a compaction leaves a directory with nothing to merge alone: no " +
    "job, the containment index's dford/ part file untouched") {
    val idx = tempDir("graft_contcompact") + "/idx"
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val thirds = (0 until 3).map(m => docs.filter(col("doc_id") % 3 === m))
    /** (name, mtime) of each parquet file under `dir`. */
    def parts(dir: String): Set[(String, Long)] =
      new java.io.File(s"$idx/$dir").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    thirds.take(2).foreach(b =>
      Dedup.containmentIndexUpdate(idx, b, "text", "doc_id"))
    Dedup.containmentIndexCompact(spark, idx)
    val (dford, postings) = (parts("dford"), parts("postings"))
    assert(dford.size == 1 && postings.size == 1, s"$dford $postings")
    // both directories now hold one file: nothing to merge, no job
    val again = jobsOf(Dedup.containmentIndexCompact(spark, idx))
    assert(again.isEmpty, breakdown(again))
    assert(parts("dford") == dford && parts("postings") == postings)
    // an arrival appends to postings/ only: the next compaction merges
    // postings/ and leaves the once-written dford/ as it was
    Dedup.containmentIndexUpdate(idx, thirds(2), "text", "doc_id")
    val stats = Dedup.containmentIndexCompact(spark, idx)
    assert(stats.filesBefore > 1 && stats.filesAfter == 1, stats)
    assert(parts("postings") != postings)
    assert(parts("dford") == dford)
  }
}
