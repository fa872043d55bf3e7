package graft.sources

import graft.SparkSpec
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_test")

  test("csv round trip with custom delimiter preserves content") {
    val region = graft.Tables.load(spark, sf(), "region")
    val path = tmp() + "/r"
    Sinks.csv(region, path, delimiter = "|", policy = Sinks.Drop)
    val back = Readers.csv(spark, path, delimiter = "|",
      schema = Some(StructType(Seq(
        StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType)))))
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("jsonlines round trip preserves content") {
    val nation = graft.Tables.load(spark, sf(), "nation")
    val path = tmp() + "/n"
    Sinks.jsonLines(nation, path, policy = Sinks.Drop)
    val back = Readers.jsonLines(spark, path, schema = Some(nation.schema))
      .select(nation.columns.map(col).toIndexedSeq: _*)
    assert(back.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("orc round trip preserves content and pushes filters to the scan") {
    val orders = graft.Tables.load(spark, sf(), "orders")
    val path = tmp() + "/o"
    Sinks.orc(orders, path, policy = Sinks.Drop)
    val back = Readers.orc(spark, path)
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      orders.orderBy("o_orderkey").collect().toSeq)
    // pushdown surface: the filter must reach the OrcScan, not sit in
    // a post-scan Filter over a full read
    val plan = back.filter(col("o_orderkey") === 7L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), " +
      "EqualTo(o_orderkey,7)]"), plan)
  }

  test("regex log reader extracts nginx combined fields") {
    val path = tmp() + "/log"
    Seq("""1.2.3.4 - alice [01/Jan/2024:10:00:00 +0000] "GET /x?q=1 HTTP/1.1" 200 512""")
      .toDF("value").coalesce(1).write.text(path)
    val out = Readers.regexLog(spark, path, Readers.NginxCombinedPattern,
      Readers.NginxCombinedColumns).collect().head
    assert(out.getString(0) == "1.2.3.4")
    assert(out.getString(1) == "alice")
    assert(out.getString(3) == "GET")
    assert(out.getString(4) == "/x?q=1")
    assert(out.getString(5) == "200")
  }

  test("sharded scan partitions are disjoint and complete") {
    val li = graft.Tables.load(spark, sf(), "lineitem")
    val parts = ShardedScan.byRange(li, "l_orderkey", 0, 10000000L, 5)
    assert(parts.map(_.count()).sum == li.count())
    assert(ShardedScan.unionAll(parts).count() == li.count())
  }

  test("incremental scan advances its cursor across runs") {
    val state = tmp()
    val inc = IncrementalScan(state)
    val ev = graft.Tables.load(spark, sf(), "events")
    val first = inc.scan(ev, "events", "event_id")
    assert(first.count() == ev.count())          // no state: full scan
    inc.commit(first, "events", "event_id")
    val second = inc.scan(ev, "events", "event_id")
    assert(second.count() == 0)                  // cursor at max: nothing new
    assert(inc.readState("events", "event_id").isDefined)
  }

  test("sample source is deterministic and device-bounded") {
    val a = SampleSource.iot(spark, 100).collect()
    val b = SampleSource.iot(spark, 100).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 100))
  }

  test("cleanup policies: Drop overwrites, Disabled appends") {
    val region = graft.Tables.load(spark, sf(), "region")
    val path = tmp() + "/p"
    Sinks.parquet(region, path, policy = Sinks.Drop)
    Sinks.parquet(region, path, policy = Sinks.Drop)
    assert(spark.read.parquet(path).count() == region.count())
    Sinks.parquet(region, path, policy = Sinks.Disabled)
    assert(spark.read.parquet(path).count() == 2 * region.count())
  }

  test("serializers: json objects and csv lines over data columns") {
    val df = Seq((1L, "a")).toDF("k", "s")
    assert(Sinks.serializeJson(df).as[String].head() == """{"k":1,"s":"a"}""")
    assert(Sinks.serializeCsv(df).as[String].head() == "1,a")
  }

  test("sorted parquet write produces disjoint per-file key ranges") {
    val li = graft.Tables.load(spark, sf(), "lineitem")
    val path = tmp() + "/sorted"
    Sinks.sortedParquet(li, path, Seq("l_orderkey"), partitions = Some(4))
    // per-file min/max ranges must not overlap (what makes stats prune)
    val ranges = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val d = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_orderkey"), max("l_orderkey")).collect().head
        (d.getLong(0), d.getLong(1))
      }.sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"overlapping file ranges: $hi vs $lo2")
    }
    // content preserved
    assert(spark.read.parquet(path).count() == li.count())
  }

  test("serializeCsv emits empty fields for NULL and quotes delimiter-bearing values") {
    val df = Seq((1L, null: String, "x"), (2L, "a,b", "he said \"hi\""))
      .toDF("k", "s", "t")
    val lines = Sinks.serializeCsv(df).as[String].collect().sorted
    // null -> empty field (column positions hold); embedded delimiter
    // and quotes -> quoted with doubled internal quotes
    assert(lines(0) == "1,,x")
    assert(lines(1) == "2,\"a,b\",\"he said \"\"hi\"\"\"")
  }

  test("compaction bin-packs small files without changing content") {
    val li = graft.Tables.load(spark, sf(), "lineitem")
    val path = tmp() + "/lake"
    // simulate a micro-batched sink: 64 task-sized files
    li.repartition(64).write.parquet(path)
    // (orderkey, linenumber) is not unique in the synthetic data: order
    // on every column so the comparison is deterministic
    val allCols = li.columns.map(col).toIndexedSeq
    val before = li.sort(allCols: _*).collect().toSeq
    val stats = Sinks.compact(spark, path, targetBytes = 8L << 20)
    assert(stats.filesBefore == 64)
    assert(stats.filesAfter < stats.filesBefore / 4,
      s"expected heavy packing, got ${stats.filesAfter} files")
    val back = spark.read.parquet(path).sort(allCols: _*).collect().toSeq
    assert(back == before)
    // staging/backup trees are gone after the swap
    assert(!new java.io.File(path + ".__compact_tmp").exists())
    assert(!new java.io.File(path + ".__compact_bak").exists())
  }

  test("partitioned compaction preserves the layout at one file per value dir") {
    val o = graft.Tables.load(spark, sf(), "orders")
      .withColumn("status", col("o_orderstatus"))
    val path = tmp() + "/plake"
    // worst-case writer: every task writes into every value dir
    o.repartition(16).write.partitionBy("status").parquet(path)
    val stats = Sinks.compact(spark, path, partitionCols = Seq("status"))
    val dirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("status="))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName}: expected 1 file, got $n")
    }
    assert(stats.filesAfter == dirs.length)
    assert(spark.read.parquet(path).count() == o.count())
  }

  test("partitioned sink salt spreads a hot partition value over >1 file") {
    // skew envelope (r17 verdict What's-wrong #3): the partitioned lake
    // write makes no one-file-per-dir promise, so a hot value may split
    // across up to `spark.graft.write.salt` deterministic salt groups
    // instead of serializing through one straggler task / giant file
    val df = spark.range(10000).select(
      when(col("id") % 100 === 0, lit("cold")).otherwise(lit("hot"))
        .as("k"),
      col("id").as("v"))
    def parquetFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val p0 = tmp() + "/salt_off"
    Sinks.parquet(df, p0, partitionCols = Seq("k"))
    assert(parquetFiles(p0 + "/k=hot") == 1,
      "default (salt off) keeps one file per value dir")
    val p1 = tmp() + "/salt_on"
    spark.conf.set("spark.graft.write.salt", "4")
    try Sinks.parquet(df, p1, partitionCols = Seq("k"))
    finally spark.conf.unset("spark.graft.write.salt")
    val hot = parquetFiles(p1 + "/k=hot")
    assert(hot > 1 && hot <= 4, s"hot dir expected 2..4 files, got $hot")
    // content identical either way
    assert(spark.read.parquet(p1).orderBy("v").collect().toSeq ==
      spark.read.parquet(p0).orderBy("v").collect().toSeq)
  }

  test("compaction clears stale staging trees from a crashed run") {
    val path = tmp() + "/crashed"
    spark.range(100).write.parquet(path)
    // a crash after staging but before swap leaves a full tmp tree
    spark.range(5).write.parquet(path + ".__compact_tmp")
    val stats = Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(stats.filesAfter >= 1)
    assert(spark.read.parquet(path).count() == 100)
    assert(!new java.io.File(path + ".__compact_tmp").exists())
  }

  test("compaction recovers a crash BETWEEN the two swap renames " +
    "instead of deleting the sole surviving copy") {
    // crash window: rename(main→bak) done, rename(tmp→main) not —
    // main is MISSING, the compacted tree is complete in tmp, the old
    // tree in bak. Recovery must complete the swap, not delete both.
    val path = tmp() + "/midswap"
    spark.range(100).write.parquet(path + ".__compact_tmp")
    spark.range(100).write.parquet(path + ".__compact_bak")
    val stats = Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(spark.read.parquet(path).count() == 100)
    assert(stats.filesAfter >= 1)
    assert(!new java.io.File(path + ".__compact_tmp").exists())
    assert(!new java.io.File(path + ".__compact_bak").exists())
    // and the bak-only variant (tmp already promoted then lost, or
    // never written): the old tree must come back
    val p2 = tmp() + "/bakonly"
    spark.range(7).write.parquet(p2 + ".__compact_bak")
    Sinks.compact(spark, p2, targetBytes = 1L << 30)
    assert(spark.read.parquet(p2).count() == 7)
  }
}
