package graft.operators

import graft.SparkSpec
import graft.functions.{Dedup, Quantiles}
import org.apache.spark.sql.functions._

/** Unit laws for the round-10 composition operators whose gated rows
  * are otherwise oracle-only: capped sessionization, dyadic time
  * decay, representative election, sliding distinct voting,
  * histogram percentiles, and dynamic partition overwrite (including
  * the physical untouched-partition guarantee the oracle cannot
  * see). */
class CompositionOpsSpec extends SparkSpec {
  import spark.implicits._

  test("capped sessions: a gap splits, and a long island re-splits at the cap") {
    import org.apache.spark.sql.expressions.Window
    // one user: events every 10 min for 5 hours (no gap), then a 2h
    // gap, then one more event. Cap = 2h -> the first island must
    // split into ceil(5h/2h)=3 parts; the late event is island 2
    val gapUs = 1800000000L; val capUs = 7200000000L
    val times = (0 until 30).map(i => i * 600000000L) :+
      (30 * 600000000L + 7200000000L + 1L)
    val e = times.zipWithIndex
      .map { case (us, i) => (1L, us, i.toLong) }
      .toDF("user_id", "us", "event_id")
    val byUser = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val marked = e.withColumn("__prev", lag(col("us"), 1).over(byUser))
      .withColumn("__new", (col("__prev").isNull ||
        col("us") - col("__prev") > gapUs).cast("long"))
      .withColumn("island", sum(col("__new")).over(byUser))
    val capped = marked
      .withColumn("__start",
        min(col("us")).over(Window.partitionBy("user_id", "island")))
      .withColumn("part", expr(s"(us - __start) div $capUs"))
    val sessions = capped.select("island", "part").distinct().count()
    assert(sessions == 4, s"expected 3 cap-splits + 1 late island, got $sessions")
    // no session exceeds the cap
    val spans = capped.groupBy("island", "part")
      .agg((max("us") - min("us")).as("span"))
      .filter(col("span") > capUs).count()
    assert(spans == 0)
  }

  test("dyadic decay: one day of age exactly halves a contribution") {
    // two users, same single event value, ages 0 and 1 day: the
    // 2^(30-k) integer weights must be exactly 2:1
    val day = 86400000000L
    val e = Seq((1L, 0L, 100.0), (2L, day, 100.0))
      .toDF("user_id", "age_us", "value")
    val scored = e
      .withColumn("__k", expr("age_us div 86400000000"))
      .withColumn("__w", pow(lit(2.0), lit(30) - col("__k")).cast("long"))
      .withColumn("__cents", round(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(sum(col("__cents") * col("__w")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(scored(1L) == 2 * scored(2L))
    assert(scored(1L) == 10000L * (1L << 30))
  }

  test("representative election keeps the best-quality member, ties to min id") {
    val m = Seq((1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), (4L, 20L, 1L))
      .toDF("id", "cluster", "q")
    val out = Dedup.electRepresentatives(m, "id", "cluster", "q")
      .orderBy("cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // cluster 10: quality 9 tie between ids 2 and 3 -> id 2
    assert(out(0) == (10L, 2L, 9L, 3L))
    assert(out(1) == (20L, 4L, 1L, 1L))
  }

  test("sliding distinct voting equals the naive per-day recount") {
    val daily = Seq((1L, 0L), (1L, 3L), (2L, 0L), (2L, 1L), (3L, 8L))
      .toDF("user_id", "day")
    val via = daily.select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("rd"))
      .distinct().groupBy("rd")
      .agg(countDistinct("user_id").as("n"))
      .as[(Long, Long)].collect().toMap
    // naive: for each report day, distinct users active in [rd-6, rd]
    val pairs = Seq((1L, 0L), (1L, 3L), (2L, 0L), (2L, 1L), (3L, 8L))
    (0L to 14L).foreach { rd =>
      val naive = pairs.filter { case (_, d) => d <= rd && d >= rd - 6 }
        .map(_._1).distinct.size.toLong
      assert(via.getOrElse(rd, 0L) == naive, s"day $rd")
    }
  }

  test("histogram percentiles: monotone in value, max lands at 1000") {
    val df = (1L to 100L).map(v => (v, v)).toDF("id", "v")
    val out = Quantiles.percentiles(df, "v")
      .select("v", "permille").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.last._2 == 1000L)
    assert(out.head._2 == 10L) // 1 of 100 => floor(1*1000/100)
    out.sliding(2).foreach { case Array((_, a), (_, b)) => assert(a <= b) }
  }

  test("dynamic partition overwrite leaves untouched partition files alone") {
    val base = tempDir("graft_dynpart") + "/t"
    val df = Seq((1L, "a", "g1"), (2L, "b", "g2")).toDF("k", "v", "grp")
    df.write.partitionBy("grp").parquet(base)
    def files(g: String) = new java.io.File(s"$base/grp=$g")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val g2Before = files("g2")
    Thread.sleep(1100)
    Seq((9L, "z", "g1")).toDF("k", "v", "grp")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("grp").parquet(base)
    // g2's physical files are byte-for-byte untouched (same names,
    // same mtimes); g1 was replaced
    assert(files("g2") == g2Before)
    val rows = spark.read.parquet(base).orderBy("k")
      .select("k", "v").as[(Long, String)].collect().toSeq
    assert(rows == Seq((2L, "b"), (9L, "z")))
  }
}
