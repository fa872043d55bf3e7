package graft.sinks

import graft.{JobBudget, SparkSpec}
import graft.model.{CdcEnvelope => E}
import graft.operators.Rollup
import graft.streaming.CdcStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budget of one batch into a [[BucketedState]]: the Spark jobs
  * started inside one post-bootstrap [[CdcStream.mergeBatch]] call and
  * one post-bootstrap [[Rollup.foldBucketed]] call. Every frame is
  * defined before counting, and the state already holds a batch, so the
  * count is what each later micro-batch pays ([[JobBudget]]).
  *
  * CDC merge, 6: the probe's cache build, the touched-bucket distinct
  * and its collect; the one last-write-wins shuffle, the bucket
  * repartition and the write. Rollup fold, 9: the delta aggregate's
  * shuffle, the probe's cache build, the distinct and its collect; two
  * footer reads (the touched buckets and the settled state are read
  * with inferred schemas); the merge shuffle, the bucket repartition
  * and the write. */
class BucketedJobBudgetSpec extends SparkSpec {

  private def dir(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/state"

  /** Jobs of `next` after `boot` ran. */
  private def budget(boot: => Unit)(next: => Unit): Seq[(String, String)] = {
    boot
    JobBudget.jobsOf(spark)(next)
  }

  test("CDC merge batch job budget: post-bootstrap 6") {
    val state = dir("mergejobs")
    val snapshot = spark.range(0, 4000)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    // 200 events over 150 keys spread across every bucket: updates,
    // deletes, and inserts of new keys, some keys changed twice
    val events: DataFrame = spark.range(0, 200).select(
      (col("id") % 150 * 31).as("id"),
      concat(lit("w"), col("id")).as("v"),
      when(col("id") % 7 === 0, lit(E.Delete))
        .when(col("id") % 150 * 31 >= 4000, lit(E.Insert))
        .otherwise(lit(E.Update)).as(E.Kind),
      (col("id") + 1).as(E.Lsn), lit(0).as(E.Counter))
    val jobs = budget(CdcStream.mergeBatch(snapshot, state, Seq("id"), numBuckets = 8)) {
      CdcStream.mergeBatch(events, state, Seq("id"))
    }
    assert(jobs.size == 6, JobBudget.breakdown(jobs))
  }

  test("bucketed rollup fold job budget: post-bootstrap 9") {
    val state = dir("foldjobs")
    def changes(from: Long, until: Long, kind: String): DataFrame =
      Rollup.retractions(spark.range(from, until).select(
        lit(null).cast("struct<grp:string,v:bigint>").as("before"),
        struct(concat(lit("g"), (col("id") % 40).cast("string")).as("grp"),
          col("id").as("v")).as("after"),
        lit(kind).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter)))
    val boot = changes(0, 400, E.Insert)
    val next = changes(400, 460, E.Insert)
    val jobs = budget(Rollup.foldBucketed(spark, state, boot, Seq("grp"),
        Seq("v"), numBuckets = 8, batchId = 0L)) {
      Rollup.foldBucketed(spark, state, next, Seq("grp"), Seq("v"),
        numBuckets = 8, batchId = 1L)
    }
    assert(jobs.size == 9, JobBudget.breakdown(jobs))
  }
}
