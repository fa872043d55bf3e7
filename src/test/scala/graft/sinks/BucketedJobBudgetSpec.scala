package graft.sinks

import scala.collection.mutable

import graft.{JobBudget, SparkSpec}
import graft.model.{CdcEnvelope => E}
import graft.operators.Rollup
import graft.streaming.CdcStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Cost of one batch into a [[BucketedState]]: the Spark jobs started
  * inside one post-bootstrap [[CdcStream.mergeBatch]] call and one
  * post-bootstrap [[Rollup.foldBucketed]] call, and the Exchanges in the
  * physical plan of each batch's write. Every frame is defined before
  * counting, and the state already holds a batch, so the count is what
  * each later micro-batch pays ([[JobBudget]]).
  *
  * The CDC merge, 3, also when the batch splits a bucket: the touched
  * set (one pass over the batch's row events, which also builds their
  * cache), the shuffle of the one Exchange, and the write. The write
  * plan keeps the newest row per key in one Sort and a
  * `WindowGroupLimit` after that Exchange, with no aggregate. The rollup
  * fold, 5, also when it splits a bucket: its probe is the batch's
  * delta, so the delta's aggregate shuffle and, under adaptive execution,
  * the build of its cache run as jobs of their own ahead of the touched
  * set. Both reads of a rollup state pass its schema, so no footer is
  * inferred. */
class BucketedJobBudgetSpec extends SparkSpec {

  private def dir(name: String): String =
    tempDir(s"graft_$name") + "/state"

  /** Jobs of `next` after `boot` ran. */
  private def budget(boot: => Unit)(next: => Unit): Seq[(String, String)] = {
    boot
    JobBudget.jobsOf(spark)(next)
  }

  /** Every node of a physical plan, through a command's inner plan,
    * adaptive plans and their query stages. A cached relation's own plan
    * is not entered: it ran before the write. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => (other.children ++ other.innerChildren.collect {
      case c: SparkPlan => c }).flatMap(nodes)
  })

  private def exchanges(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])

  /** Executed plans of the parquet writes `body` runs. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val seen = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.nodeName == "WriteFiles"))
          seen.synchronized(seen += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    assert(org.apache.spark.sql.graft.bridge.drainListenerBus(spark, 10000))
    spark.listenerManager.register(l)
    try body
    finally {
      assert(org.apache.spark.sql.graft.bridge.drainListenerBus(spark, 10000))
      spark.listenerManager.unregister(l)
    }
    seen.synchronized(seen.toList)
  }

  private lazy val snapshot = spark.range(0, 4000)
    .select(col("id"), concat(lit("v"), col("id")).as("v"))
  // 200 events over 150 keys spread across every bucket: updates,
  // deletes, and inserts of new keys, some keys changed twice
  private lazy val events: DataFrame = spark.range(0, 200).select(
    (col("id") % 150 * 31).as("id"),
    concat(lit("w"), col("id")).as("v"),
    when(col("id") % 7 === 0, lit(E.Delete))
      .when(col("id") % 150 * 31 >= 4000, lit(E.Insert))
      .otherwise(lit(E.Update)).as(E.Kind),
    (col("id") + 1).as(E.Lsn), lit(0).as(E.Counter))

  private def changes(from: Long, until: Long, kind: String): DataFrame =
    Rollup.retractions(spark.range(from, until).select(
      lit(null).cast("struct<grp:string,v:bigint>").as("before"),
      struct(concat(lit("g"), (col("id") % 40).cast("string")).as("grp"),
        col("id").as("v")).as("after"),
      lit(kind).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter)))

  private def fold(state: String, batch: DataFrame, id: Long): Unit =
    Rollup.foldBucketed(spark, state, batch, Seq("grp"), Seq("v"), batchId = id)

  /** The 8-bucket bootstrap of the CDC merge cases. */
  private def bootstrap(state: String): Unit =
    withPartitions(8)(CdcStream.mergeBatch(snapshot, state, Seq("id")))

  test("CDC merge batch job budget: post-bootstrap 3") {
    val state = dir("mergejobs")
    val jobs = budget(bootstrap(state)) {
      CdcStream.mergeBatch(events, state, Seq("id"))
    }
    assert(jobs.size == 3, JobBudget.breakdown(jobs))
  }

  /** `body` with a per-bucket size target every bucket of a test state
    * passes (`spark.sql.files.maxPartitionBytes`), so a merge batch
    * splits one bucket. */
  private def splitting[A](body: => A): A =
    withConf("spark.sql.files.maxPartitionBytes", "64")(body)

  private def bucketCount(state: String): Int =
    new java.io.File(state).listFiles().count(_.getName.startsWith(BucketedState.BucketCol))

  test("CDC merge batch that splits a bucket: still 3 jobs") {
    val state = dir("splitjobs")
    val jobs = budget(bootstrap(state)) {
      splitting(CdcStream.mergeBatch(events, state, Seq("id")))
    }
    assert(bucketCount(state) == 9)
    assert(jobs.size == 3, JobBudget.breakdown(jobs))
  }

  test("the CDC merge's write plan: one Exchange, one Sort, no SortAggregate, " +
    "with and without a split") {
    for (split <- Seq(false, true)) {
      val merge = dir(s"mergesort$split")
      bootstrap(merge)
      val plans = writePlans(
        if (split) splitting(CdcStream.mergeBatch(events, merge, Seq("id")))
        else CdcStream.mergeBatch(events, merge, Seq("id")))
      assert(plans.size == 1, s"split=$split: ${plans.size} writes")
      val names = nodes(plans.head).map(_.nodeName)
      assert(exchanges(plans.head) == 1 && names.count(_ == "Sort") == 1 &&
        names.contains("WindowGroupLimit") && !names.contains("SortAggregate"),
        s"split=$split:\n${plans.head}")
      assert(bucketCount(merge) == (if (split) 9 else 8))
    }
  }

  test("bucketed rollup fold job budget: post-bootstrap 5") {
    val state = dir("foldjobs")
    val jobs = budget(fold(state, changes(0, 400, E.Insert), 0L)) {
      fold(state, changes(400, 460, E.Insert), 1L)
    }
    assert(jobs.size == 5, JobBudget.breakdown(jobs))
  }

  test("bucketed rollup fold that splits a bucket: still 5 jobs") {
    val state = dir("foldsplitjobs")
    val jobs = budget(fold(state, changes(0, 400, E.Insert), 0L)) {
      splitting(fold(state, changes(400, 460, E.Insert), 1L))
    }
    assert(BucketedState.layout(BucketedState.fsOf(spark, state), state).map(_.count)
      .contains(5))
    assert(jobs.size == 5, JobBudget.breakdown(jobs))
  }

  test("one Exchange in the write plan of a CDC merge batch and a rollup fold") {
    val merge = dir("mergeplan")
    bootstrap(merge)
    val mergeWrites = writePlans(CdcStream.mergeBatch(events, merge, Seq("id")))
    val fst = dir("foldplan")
    fold(fst, changes(0, 400, E.Insert), 0L)
    val foldWrites = writePlans(fold(fst, changes(400, 460, E.Insert), 1L))
    for ((what, plans) <- Seq("merge" -> mergeWrites, "fold" -> foldWrites)) {
      assert(plans.size == 1, s"$what: ${plans.size} writes")
      assert(exchanges(plans.head) == 1, s"$what:\n${plans.head}")
    }
  }
}
