package graft

import org.apache.spark.sql.functions._

/** Evidence that engine plans pick up Spark's runtime scale
  * optimizations — the mechanisms that matter at 100 TB but are easy
  * to silently lose to a bad plan shape:
  *
  *   - dynamic partition pruning: a selective dim filter must reach a
  *     partitioned fact scan as a runtime PartitionFilter, so the scan
  *     reads only matching partitions instead of the whole lake;
  *   - runtime bloom-filter join pruning: a selective filter on one
  *     shuffle-join side injects a bloom might_contain test on the
  *     other side's scan, cutting the shuffled volume;
  *   - AQE skew-join splitting: a hot key must not pin one task at the
  *     full partition size — AQE splits the skewed partition at
  *     runtime (the built-in complement to operators/Joins.SaltedJoin,
  *     which handles skew the planner can't see).
  *
  * All three are declarative-plan dividends: they only fire because
  * the operators stay DataFrame/Catalyst expressions end to end.
  */
class ScaleOptSpec extends SparkSpec {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("dynamic partition pruning reaches the partitioned fact scan") {
    val dir = tempDir("graft_dpp") + "/fact"
    spark.range(20000).select(col("id"), (col("id") % 20).as("k"),
        md5(col("id").cast("string")).as("payload"))
      .write.partitionBy("k").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = spark.range(20).select(col("id").as("k"),
      (col("id") === 3).as("pick"))
    val q = fact.join(dim.filter(col("pick")), Seq("k"))
    assert(q.count() == 1000)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning filter in plan:\n$plan")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val base = tempDir("graft_bloom")
      spark.range(200000).select(col("id").as("k"),
          md5(col("id").cast("string")).as("payload"))
        .write.parquet(s"$base/fact")
      spark.range(2000).select(col("id").as("k"),
          (col("id") % 100).as("grp"))
        .write.parquet(s"$base/dim")
      val fact = spark.read.parquet(s"$base/fact")
      val dim = spark.read.parquet(s"$base/dim").filter(col("grp") === 7)
      val q = fact.join(dim, Seq("k"))
      assert(q.count() == 20)
      val plan = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("bloom"),
        s"no runtime bloom filter in optimized plan:\n$plan")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      // 90% of the left side lands on key 0 -> one shuffle partition
      // carries ~8 MB while the rest carry bytes
      val left = spark.range(200000).select(
        when(col("id") % 10 =!= 0, 0L).otherwise(col("id")).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = spark.range(200000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      // collect() executes q's OWN QueryExecution (count()/write would
      // plan a separate one), so the AQE final plan is inspectable here
      val q = left.join(right, Seq("k"))
      assert(q.collect().length == 200000)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join in:\n$plan")
    }
  }
}
