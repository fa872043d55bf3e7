package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Partitioned Delta tables + optimistic-concurrency commits
  * (sources.DeltaLite): partition-pruned reads planned from the log's
  * partitionValues, the table's stable GUID, strict action parsing,
  * and the lose-the-race retry/conflict protocol. */
class DeltaPartitionOccSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_delta_p") + "/t"

  test("partitioned write/read round-trip; pruned read opens only matching dirs") {
    val table = tmp()
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "grp", "v")
    DeltaLite.write(df, table, partitionBy = Seq("grp"))
    // layout: Hive-style dirs, add actions carry partitionValues
    val adds = DeltaLite.activeAdds(spark, table)
    assert(adds.nonEmpty && adds.forall { case (p, pv) =>
      p.startsWith(s"grp=${pv("grp")}/") })
    assert(adds.map(_._2("grp")).toSet == Set("a", "b", "c"))
    // full read reconstructs partition column values and declared types
    val back = DeltaLite.read(spark, table)
    assert(back.columns.toSeq == Seq("id", "grp", "v"))
    assert(back.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      df.as[(Long, String, Double)].collect().sortBy(_._1).toSeq)
    // pruned read: only grp=a files are opened (the log planned the scan)
    val pruned = DeltaLite.readPruned(spark, table, pv => pv("grp") == "a")
    assert(pruned.inputFiles.nonEmpty &&
      pruned.inputFiles.forall(_.contains("grp=a/")), "prune read extra files")
    assert(pruned.as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 10.0), (2L, "a", 20.0)))
    // appends inherit the table's partitioning; mismatched layout raises
    DeltaLite.write(Seq((5L, "b", 50.0)).toDF("id", "grp", "v"), table)
    assert(DeltaLite.readPruned(spark, table, pv => pv("grp") == "b")
      .count() == 2)
    intercept[IllegalArgumentException] {
      DeltaLite.write(df, table, partitionBy = Seq("id"))
    }
  }

  test("convert adopts a plain partitioned parquet dir without rewriting files") {
    val table = tmp()
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "grp", "v")
    df.write.partitionBy("grp").parquet(table)
    // remember the physical files a non-Delta writer produced
    val before = new java.io.File(table).listFiles().flatMap { d =>
      if (d.isDirectory) d.listFiles().map(_.toString) else Array(d.toString)
    }.filter(_.endsWith(".parquet")).toSet
    val v0 = DeltaLite.convert(spark, table)
    assert(v0 == 0L)
    // conversion recorded, did not move or rewrite, the original files
    val adds = DeltaLite.activeAdds(spark, table)
    assert(adds.map { case (p, _) => s"$table/$p" }.toSet == before)
    assert(adds.forall { case (p, pv) => p.startsWith(s"grp=${pv("grp")}/") })
    val back = DeltaLite.read(spark, table)
    assert(back.count() == 4 &&
      back.filter(col("grp") === "a").agg(sum("v")).head().getDouble(0) == 30.0)
    // the adopted table is fully transactional: append + time travel
    DeltaLite.write(Seq((5L, "b", 50.0)).toDF("id", "grp", "v"), table,
      partitionBy = Seq("grp"))
    assert(DeltaLite.read(spark, table).count() == 5)
    assert(DeltaLite.readAt(spark, table, v0).count() == 4)
    // pruned read plans from the log, not the directory tree
    val pruned = DeltaLite.readPruned(spark, table,
      pv => pv.get("grp").contains("b"))
    assert(pruned.select(sum("v")).head().getDouble(0) == 80.0)
    // double conversion is rejected
    intercept[IllegalArgumentException] { DeltaLite.convert(spark, table) }
  }

  test("partitioned COW upsert/delete rewrite only their partitions' files") {
    val table = tmp()
    val df = (1L to 40L).map(i => (i, s"g${i % 4}", i * 1.0))
      .toDF("id", "grp", "v")
    DeltaLite.write(df, table, partitionBy = Seq("grp"))
    val before = DeltaLite.activeFiles(spark, table).toSet
    // upsert touches only grp=g1 (keys 1,5,... all land in g1)
    DeltaLite.upsert(spark, table,
      Seq((1L, "g1", 99.0), (101L, "g1", 1.0)).toDF("id", "grp", "v"),
      Seq("id"))
    val afterUp = DeltaLite.activeFiles(spark, table).toSet
    assert((before -- afterUp).forall(_.startsWith("grp=g1/")),
      "upsert rewrote files outside the touched partition")
    val out = DeltaLite.read(spark, table)
    assert(out.count() == 41)
    assert(out.filter(col("id") === 1L).select("v").as[Double].head() == 99.0)
    // deleteWhere on one partition value rewrites only that partition
    val preDel = DeltaLite.activeFiles(spark, table).toSet
    DeltaLite.deleteWhere(spark, table, col("grp") === "g2")
    val afterDel = DeltaLite.activeFiles(spark, table).toSet
    assert((preDel -- afterDel).forall(_.startsWith("grp=g2/")))
    assert(DeltaLite.read(spark, table).filter(col("grp") === "g2").count() == 0)
    assert(DeltaLite.read(spark, table).count() == 31)
  }

  test("schema enforcement rejects drifted appends; mergeSchema evolves") {
    val table = tmp()
    DeltaLite.write(Seq((1L, 10.0)).toDF("id", "v"), table)
    // drifted append without opt-in: rejected
    intercept[IllegalArgumentException] {
      DeltaLite.write(Seq((2L, 20.0, "x")).toDF("id", "v", "tag"), table)
    }
    // type change is never evolution, even with the opt-in
    intercept[IllegalArgumentException] {
      DeltaLite.write(Seq((3L, "oops")).toDF("id", "v"), table,
        mergeSchema = true)
    }
    // evolution: new column appends; the old file reads back NULL there
    DeltaLite.write(Seq((2L, 20.0, "x")).toDF("id", "v", "tag"), table,
      mergeSchema = true)
    val out = DeltaLite.read(spark, table)
    assert(out.columns.toSeq == Seq("id", "v", "tag"))
    assert(out.as[(Long, Double, Option[String])].collect().sortBy(_._1)
      .toSeq == Seq((1L, 10.0, None), (2L, 20.0, Some("x"))))
    // a subsequent same-shape append needs no opt-in (column order and
    // nullability do not count as drift)
    DeltaLite.write(Seq(("y", 30.0, 3L)).toDF("tag", "v", "id"), table)
    assert(DeltaLite.read(spark, table).count() == 3)
    // time travel before the evolution still serves the OLD schema
    assert(DeltaLite.readAt(spark, table, 0L).columns.toSeq ==
      Seq("id", "v"))
  }

  test("metaData id is the table's stable GUID across commits and ops") {
    val table = tmp()
    DeltaLite.write(Seq((1L, "a")).toDF("id", "v"), table)
    DeltaLite.write(Seq((2L, "b")).toDF("id", "v"), table)
    DeltaLite.upsert(spark, table, Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    DeltaLite.deleteWhere(spark, table, col("id") === 1L)
    import scala.jdk.CollectionConverters._
    val ids = Files.list(Paths.get(table, "_delta_log")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.sorted
      .map(p => """"metaData":\{"id":"([^"]+)"""".r
        .findFirstMatchIn(Files.readString(p)).map(_.group(1)))
    assert(ids.size == 4 && ids.forall(_.isDefined))
    assert(ids.flatten.toSet.size == 1,
      s"metaData.id changed across versions: $ids")
    assert(DeltaLite.tableMeta(spark, table).get.id == ids.head.get)
  }

  test("deleteWhere keeps the rows whose predicate is NULL") {
    val table = tmp()
    // one file holding both rows, so the matching row's file is rewritten
    Seq((1L, null.asInstanceOf[String]), (2L, "x")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(table + "_src")
    DeltaLite.write(spark.read.parquet(table + "_src"), table)
    assert(DeltaLite.activeFiles(spark, table).size == 1)
    assert(DeltaLite.deleteWhere(spark, table, col("v") === "x") == 1L)
    assert(DeltaLite.read(spark, table).as[(Long, Option[String])].collect()
      .toSeq == Seq((1L, None)))
  }

  test("partition values and txn appIds with control characters round-trip the log") {
    val table = tmp()
    DeltaLite.write(Seq((1L, "a\tb"), (2L, "c")).toDF("id", "grp"), table,
      partitionBy = Seq("grp"))
    assert(DeltaLite.activeAdds(spark, table).map(_._2("grp")).toSet == Set("a\tb", "c"))
    // another append, then a txn append whose appId holds a tab and a CR
    DeltaLite.write(Seq((3L, "a\tb")).toDF("id", "grp"), table)
    assert(DeltaLite.writeTxn(Seq((4L, "c")).toDF("id", "grp"), table,
      "app\t1\r", 0L) == 2L)
    assert(DeltaLite.lastTxnVersion(spark, table, "app\t1\r").contains(0L))
    assert(DeltaLite.read(spark, table).as[(Long, String)].collect().sortBy(_._1)
      .toSeq == Seq((1L, "a\tb"), (2L, "c"), (3L, "a\tb"), (4L, "c")))
    assert(DeltaLite.readPruned(spark, table, _("grp") == "a\tb").count() == 2)
  }

  test("replay never misparses commitInfo text as an add action") {
    val table = tmp()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(table + "/f1")
    val p1 = "f1/" + new java.io.File(table + "/f1").listFiles()
      .map(_.getName).find(_.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(table, "_delta_log"))
    // commitInfo whose operationParameters contain "add" followed by
    // "path" — a substring scanner would inject phantom.parquet into
    // the active set; a real JSON parser must not
    Files.writeString(Paths.get(table, "_delta_log/00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":1}}
         |{"metaData":{"id":"t","schemaString":null}}
         |{"commitInfo":{"operation":"WRITE","operationParameters":{"predicate":"add file at \\"path\\": \\"phantom.parquet\\""}}}
         |{"add":{"path":"$p1","partitionValues":{},"size":1,"dataChange":true}}""".stripMargin)
    assert(DeltaLite.activeFiles(spark, table) == Seq(p1))
    assert(DeltaLite.read(spark, table).count() == 1)
  }

  test("OCC: a commit landing after the read snapshot is conflict-checked") {
    val table = tmp()
    DeltaLite.write(spark.range(0, 10).toDF("id").coalesce(1), table)
    val f0 = DeltaLite.activeFiles(spark, table).head
    // transaction reads at snapshot v0, stages nothing new; meanwhile a
    // "winner" lands v1 REMOVING the file our transaction also rewrites
    Files.writeString(Paths.get(table, "_delta_log/00000000000000000001.json"),
      s"""{"remove":{"path":"$f0","deletionTimestamp":1,"dataChange":true}}
         |{"add":{"path":"$f0","partitionValues":{},"size":1,"dataChange":true}}""".stripMargin)
    val schema = DeltaLite.read(spark, table).schema
    intercept[java.util.ConcurrentModificationException] {
      DeltaLite.commitRetrying(spark, table, schema, adds = Nil,
        removesThunk = () => Seq(f0), abortOnRemoveConflict = true,
        partitionColumns = Nil,
        mintedId = Some("t"), baseVersion = 0L)
    }
    // a winner touching a DIFFERENT file is not a conflict: the loser
    // re-commits at the next version
    val v = DeltaLite.commitRetrying(spark, table, schema, adds = Nil,
      removesThunk = () => Seq("some-other-file.parquet"),
      abortOnRemoveConflict = true,
      partitionColumns = Nil, mintedId = Some("t"), baseVersion = 0L)
    assert(v == 2L)
  }

  test("OCC: two interleaved appenders both commit; the loser retries") {
    val table = tmp()
    DeltaLite.write(Seq((0L, "seed")).toDF("id", "v"), table)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { w =>
      new Thread(() => {
        start.await()
        try {
          for (i <- 1 to 6)
            DeltaLite.write(
              Seq((w * 100L + i, s"w$w-$i")).toDF("id", "v"), table)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); start.countDown()
    // generous bound: under full-suite parallel load each tiny write
    // can take seconds; a silent join timeout here would cascade into
    // misleading count assertions below
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "appender thread timed out")
    assert(errors.isEmpty, s"writer failed: ${errors.peek()}")
    // every append landed exactly once, versions are contiguous
    assert(DeltaLite.read(spark, table).count() == 13)
    import scala.jdk.CollectionConverters._
    val versions = Files.list(Paths.get(table, "_delta_log")).iterator()
      .asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong)
      .toSeq.sorted
    assert(versions == (0L to 12L), s"non-contiguous log: $versions")
    // and the table id never wavered under the contention
    val ids = versions.map(v => Files.readString(
      Paths.get(table, f"_delta_log/$v%020d.json")))
      .flatMap(""""metaData":\{"id":"([^"]+)"""".r
        .findFirstMatchIn(_).map(_.group(1)))
    assert(ids.toSet.size == 1)
  }
}
