package graft.sources

import graft.{JobBudget, SparkSpec}
import graft.model.{CdcEnvelope => E}
import graft.operators.{Lifecycle, TableFilter}
import org.apache.spark.sql.functions._

/** Spark jobs started inside one post-bootstrap call of each DeltaLite
  * row-level writer and of one multi-table [[Lifecycle.applyBatch]]
  * ([[JobBudget]]): the table or state already holds data, and every
  * frame is defined before counting, so the count is what each later
  * call pays.
  *
  * A writer's touched-file probe is one execution (2 jobs for a
  * predicate, 4 for a key semi join); the touched files' surviving rows
  * are read with the log's declared schema, so no footer-merging job
  * runs, and their staging write is 1 job (predicate) or 3 (key anti
  * join); the added rows' write is 1 more (`upsert`) or 2 (`mergeCdc`,
  * whose last-write-wins aggregates). `applyBatch` filters the batch
  * by the table filter and lists its tables once (3 jobs, which also
  * build the batch's cache), then each table's merge costs 3. */
class DeltaJobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def dir(name: String): String =
    tempDir(s"graft_$name") + "/t"

  /** A table of two files: ids 0-9 and 10-19. */
  private def twoFiles(name: String): String = {
    val table = dir(name)
    DeltaLite.write(spark.range(0, 10).select(col("id"),
      concat(lit("v"), col("id")).as("v")).coalesce(1), table)
    DeltaLite.write(spark.range(10, 20).select(col("id"),
      concat(lit("v"), col("id")).as("v")).coalesce(1), table)
    table
  }

  private def assertJobs(jobs: Seq[(String, String)], n: Int): Unit =
    assert(jobs.size == n, JobBudget.breakdown(jobs))

  test("deleteWhere job budget: post-bootstrap 3") {
    val table = twoFiles("deljobs")
    assertJobs(JobBudget.jobsOf(spark)(
      DeltaLite.deleteWhere(spark, table, col("id") === 3L)), 3)
  }

  test("upsert job budget: post-bootstrap 8") {
    val table = twoFiles("upsjobs")
    val updates = Seq((3L, "C"), (99L, "new")).toDF("id", "v")
    assertJobs(JobBudget.jobsOf(spark)(
      DeltaLite.upsert(spark, table, updates, Seq("id"))), 8)
  }

  test("mergeCdc job budget: post-bootstrap 9") {
    val table = twoFiles("mcjobs")
    val batch = Seq((1L, "A", E.Update), (2L, "b", E.Delete), (50L, "n", E.Insert))
      .toDF("id", "v", E.Kind)
      .withColumn(E.Lsn, lit(10L)).withColumn(E.Counter, lit(0))
    assertJobs(JobBudget.jobsOf(spark)(
      DeltaLite.mergeCdc(spark, table, batch, Seq("id"), txn = Some(("app", 1L)))), 9)
  }

  test("multi-table applyBatch job budget: post-bootstrap 9") {
    val base = tempDir("graft_applyjobs")
    val f = Lifecycle.addTables(base, Seq("k"), TableFilter(),
      Seq("a" -> Seq((1L, "a1"), (2L, "a2")).toDF("k", "v"),
          "b" -> Seq((10L, "b1")).toDF("k", "v")))
    val batch = Seq((2L, "a2x", "a"), (3L, "a3", "a"), (11L, "b2", "b"), (7L, "c", "c"))
      .toDF("k", "v", E.Table)
      .withColumn(E.Kind, lit(E.Update)).withColumn(E.Lsn, lit(7L))
      .withColumn(E.Counter, lit(0))
    assertJobs(JobBudget.jobsOf(spark)(
      assert(Lifecycle.applyBatch(batch, base, Seq("k"), f) == Seq("a", "b"))), 9)
  }
}
