package graft

import graft.config._
import graft.model.Fallbacks
import graft.operators.{ProblemItemDetector, Transformers => T}
import graft.sinks.Rotator
import graft.sources.{Catalog, DbLog}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class TransferRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = tempDir("graft_tr")

  private val idV = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")

  /** Drop a file of `lines` into the streamed directory `dir`, written
    * under a hidden name first so a running query never lists it half
    * written. */
  private def spool(dir: String, file: String, lines: String*): Unit = {
    val d = java.nio.file.Paths.get(dir)
    Files.createDirectories(d)
    Files.move(Files.writeString(d.resolve("." + file), lines.mkString("\n")),
      d.resolve(file))
  }

  private def state(dir: String): Seq[(Long, String)] =
    graft.streaming.CdcStream.readState(spark, dir)
      .select("id", "v").as[(Long, String)].collect().toSeq.sortBy(_._1)

  /** The stages `body` runs that scan a `format` file ("text",
    * "parquet"). A stage counts when it updates the row counter of such a
    * scan node of some SQL execution's plan: a stage that reads a cache
    * built from the scan names the node in its plan but never runs it. */
  private def scanStages(format: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerStageCompleted}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val scanCounters = scala.collection.mutable.Set.empty[Long]
    val stageCounters = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    def scans(p: SparkPlanInfo): Unit = {
      if (p.nodeName.toLowerCase.startsWith(s"scan $format"))
        scanCounters ++= p.metrics.filter(_.name == "number of output rows")
          .map(_.accumulatorId)
      p.children.foreach(scans)
    }
    val l = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized { stageCounters += e.stageInfo.accumulables.keySet.toSet }
      override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
        e match {
          case s: SparkListenerSQLExecutionStart => scans(s.sparkPlanInfo)
          case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.sparkPlanInfo)
          case _ =>
        }
      }
    }
    JobBudget.listening(spark, l)(body)
    l.synchronized(stageCounters.count(_.exists(scanCounters)))
  }

  test("snapshot transfer: parquet -> transform chain -> parquet with cleanup") {
    val out = tmp() + "/dst"
    val t = Transfer(
      TransferType.SnapshotOnly,
      SourceConfig.Parquet(sf() + "/region.parquet"),
      SinkConfig.Parquet(out),
      transformers = Seq(T.FilterRows(Seq("r_regionkey >= 2"))),
      cleanup = graft.sinks.Sinks.Drop)
    TransferRunner.runSnapshot(spark, t)
    TransferRunner.runSnapshot(spark, t) // Drop policy: idempotent rerun
    assert(spark.read.parquet(out).count() == 3)
  }

  test("snapshot transfer with quarantine error output") {
    val errDir = tmp() + "/errs"
    val srcDir = tmp() + "/src"
    Seq((1L, """{"k": 1}"""), (2L, "{bad")).toDF("id", "raw")
      .write.parquet(srcDir)
    val t = Transfer(
      TransferType.SnapshotOnly,
      SourceConfig.Parquet(srcDir),
      SinkConfig.Parquet(tmp() + "/dst"),
      transformers = Seq(T.JsonParser("raw", org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType))))),
      errorsOutput = ErrorsOutput.ToPath(errDir))
    TransferRunner.runSnapshot(spark, t)
    assert(spark.read.parquet(errDir).select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("a snapshot with a dead-letter path scans its parquet source once") {
    val dir = tmp()
    Seq("""{"id": 1, "v": "a"}""", "{bad", """{"id": 2, "v": "b"}""")
      .toDF("value").write.parquet(dir + "/src")
    val t = Transfer(TransferType.SnapshotOnly,
      SourceConfig.Parquet(dir + "/src"), SinkConfig.Parquet(dir + "/dst"),
      transformers = Seq(T.JsonParser("value", idV)),
      errorsOutput = ErrorsOutput.ToPath(dir + "/errs"))
    // the error split and the sink write share one scan of the source
    assert(scanStages("parquet")(TransferRunner.runSnapshot(spark, t)) == 1)
    assert(spark.read.parquet(dir + "/dst").select("id", "v").as[(Long, String)]
      .collect().toSeq.sortBy(_._1) == Seq((1L, "a"), (2L, "b")))
    assert(spark.read.parquet(dir + "/errs").select("value").as[String]
      .collect().toSeq == Seq("{bad"))
  }

  test("sample source transfer and merge sink") {
    val state = tmp() + "/merged"
    val t = Transfer(
      TransferType.SnapshotOnly,
      SourceConfig.Sample(50),
      SinkConfig.Merge(state, Seq("event_id")))
    TransferRunner.runSnapshot(spark, t)
    assert(spark.read.parquet(state).count() == 50)
  }

  test("catalog lists tables with schema and sane row estimates") {
    val infos = Catalog.tableList(spark, sf(), Seq("region", "nation"))
    assert(infos.map(_.name) == Seq("region", "nation"))
    assert(infos.head.schema.fieldNames.contains("r_name"))
    assert(infos.forall(_.estimatedRows > 0))
    val region = spark.read.parquet(sf() + "/region.parquet")
    assert(Catalog.exactRows(region) == 5)
  }

  test("dblog reconcile: snapshot + newer changelog merge to final state") {
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val changelog = Seq(
      (2L, "b2", "update", 10L), (3L, null.asInstanceOf[String], "delete", 11L),
      (4L, "d", "insert", 12L), (1L, "old", "update", 1L))
      .toDF("id", "v", "__kind", "__lsn").withColumn("__counter", lit(0))
    // snapshot taken at lsn 5: the lsn-1 event is already inside it
    val out = DbLog.reconcile(snapshot, changelog, Seq("id"), snapshotLsn = 5L)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a"), (2L, "b2"), (4L, "d")))
  }

  test("fallbacks: downgrade chain applies only versions beyond the endpoint") {
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 01:02:03.456789"), "x"))
      .toDF("ts", "v")
    val fb = Seq(
      Fallbacks.timestampAsDatetime(Seq("ts"), since = 5),
      Fallbacks.Fallback(3, "drop_v", _.drop("v")))
    val v4 = Fallbacks.applyFor(df, endpointVersion = 4, fb)
    assert(v4.columns.contains("v")) // since=3 not applied for v4 endpoint
    assert(v4.select("ts").collect().head.getTimestamp(0).toString
      == "2024-01-01 01:02:03.0")
    val v2 = Fallbacks.applyFor(df, endpointVersion = 2, fb)
    assert(!v2.columns.contains("v"))
  }

  test("rotator: tag, partitioned write, expiry") {
    val path = tmp() + "/rot"
    val df = Seq(
      ("2024-01-01 10:00:00", 1), ("2024-01-02 11:00:00", 2),
      ("2024-01-03 12:00:00", 3))
      .toDF("ts", "v").withColumn("ts", to_timestamp(col("ts")))
    Rotator.write(df, "ts", Rotator.Daily, path)
    assert(Rotator.periods(spark, path) ==
      Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    val expired = Rotator.expire(spark, path, keep = 2)
    assert(expired == Seq("2024-01-01"))
    assert(Rotator.periods(spark, path) == Seq("2024-01-02", "2024-01-03"))
  }

  test("problem item detector isolates poison rows by bisection") {
    val df = spark.range(1, 33).toDF("id")
    val poison = Set(7L, 21L)
    def attempt(d: org.apache.spark.sql.DataFrame): Unit = {
      val ids = d.select("id").as[Long].collect().toSet
      if (ids.intersect(poison).nonEmpty)
        throw new RuntimeException("sink rejected batch")
    }
    val found = ProblemItemDetector.detect(df, "id", attempt)
    assert(found.map(_._2).toSet == poison)
    assert(found.forall { case (lo, hi) => hi - lo == 1 })
  }

  test("streamed replication routes quarantine rows to the dead-letter path") {
    val dir = tmp()
    val in = dir + "/in"
    spool(in, "b1.jsonl", """{"id": 1, "v": "a"}""", "{bad", """{"id": 2, "v": "b"}""")
    val t = Transfer(
      TransferType.IncrementOnly,
      SourceConfig.TextStream(in),
      SinkConfig.Merge(dir + "/state", Seq("id")),
      transformers = Seq(T.JsonParser("value", idV)),
      errorsOutput = ErrorsOutput.ToPath(dir + "/errs"),
      checkpointDir = Some(dir + "/ckpt"))
    // the error split and the merge share one scan of the batch's file
    val scans = scanStages("text") {
      val q = TransferRunner.runReplication(spark, t)
      try q.processAllAvailable() finally q.stop()
    }
    assert(scans == 1)
    assert(state(dir + "/state") == Seq((1L, "a"), (2L, "b")))
    val errs = spark.read.parquet(dir + "/errs")
      .select("value").as[String].collect().toSeq
    assert(errs == Seq("{bad"))
  }

  test("streamed replication writes no dead-letter file for a batch " +
    "without quarantine rows") {
    val dir = tmp()
    val in = dir + "/in"
    val t = Transfer(
      TransferType.IncrementOnly,
      SourceConfig.TextStream(in),
      SinkConfig.Merge(dir + "/state", Seq("id")),
      transformers = Seq(T.JsonParser("value", idV)),
      errorsOutput = ErrorsOutput.ToPath(dir + "/errs"),
      checkpointDir = Some(dir + "/ckpt"))
    spool(in, "b1.jsonl", """{"id": 1, "v": "a"}""", "{bad")
    val q = TransferRunner.runReplication(spark, t)
    try {
      q.processAllAvailable()
      spool(in, "b2.jsonl", """{"id": 2, "v": "b"}""")
      q.processAllAvailable()
      spool(in, "b3.jsonl", """{"id": 1, "v": "a3"}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(state(dir + "/state") == Seq((1L, "a3"), (2L, "b")))
    val parts = new java.io.File(dir + "/errs").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.toSeq)
  }

  test("snapshot-and-increment routes the snapshot's and the stream's " +
    "quarantine rows to one dead-letter path") {
    val dir = tmp()
    Seq("""{"id": 1, "v": "a"}""", "{bad1", """{"id": 2, "v": "b"}""")
      .toDF("value").write.parquet(dir + "/snap")
    spool(dir + "/in", "b1.jsonl", """{"id": 2, "v": "b2"}""", "{bad2",
      """{"id": 3, "v": "c"}""")
    val t = Transfer(TransferType.SnapshotAndIncrement,
      SourceConfig.Parquet(dir + "/snap"), SinkConfig.Merge(dir + "/state", Seq("id")),
      transformers = Seq(T.JsonParser("value", idV)),
      errorsOutput = ErrorsOutput.ToPath(dir + "/errs"),
      checkpointDir = Some(dir + "/ckpt"))
    val q = TransferRunner.runBoth(spark, t, spark.readStream.text(dir + "/in"))
    try q.processAllAvailable() finally q.stop()
    assert(state(dir + "/state") == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    val errs = spark.read.parquet(dir + "/errs")
      .select("value").as[String].collect().toSeq.sorted
    assert(errs == Seq("{bad1", "{bad2"))
  }

  test("a yaml transfer replicates keyed on its merge block's primary_keys") {
    val dir = tmp()
    val in = dir + "/in"
    spool(in, "b1.jsonl", """{"id": 1, "v": "a"}""", """{"id": 2, "v": "b"}""")
    val t = TransferYaml.fromString(
      s"""type: INCREMENT_ONLY
         |src: { kind: text_stream, dir: "$in" }
         |dst: { kind: merge, path: "$dir/state", primary_keys: [id] }
         |checkpoint: "$dir/ckpt"
         |transformations:
         |  - jsonparser: { column: value, schema: "id BIGINT, v STRING" }
         |""".stripMargin)
    val q = TransferRunner.runReplication(spark, t)
    try {
      q.processAllAvailable()
      // a second batch updates one key and adds one
      spool(in, "b2.jsonl", """{"id": 1, "v": "a2"}""", """{"id": 3, "v": "c"}""")
      q.processAllAvailable()
    } finally q.stop()
    assert(state(dir + "/state") == Seq((1L, "a2"), (2L, "b"), (3L, "c")))
    assert(graft.streaming.CdcStream.lookup(spark, dir + "/state", Seq("id"), Seq(1L))
      .select("v").as[String].collect().toSeq == Seq("a2"))
  }

  test("replication to a kafka sink needs its own checkpoint directory") {
    val t = Transfer(TransferType.IncrementOnly, SourceConfig.TextStream(tmp()),
      SinkConfig.Kafka("broker:9092", "mirror", keyCols = Seq("id")))
    val e = intercept[IllegalArgumentException](TransferRunner.runReplication(spark, t))
    assert(e.getMessage.contains("mirror") && e.getMessage.contains("'checkpoint'"),
      e.getMessage)
  }

  test("snapshot-and-increment: snapshot rows then stream events land in one " +
    "last-write-wins state, each transfer under its own checkpoint") {
    import graft.model.{CdcEnvelope => E}
    import org.apache.spark.sql.types._
    val dir = tmp()
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    snapshot.toDF("id", "v").write.parquet(dir + "/snap")
    val events = Seq((2L, "b2", E.Update, 10L), (3L, null, E.Delete, 11L),
      (4L, "d", E.Insert, 12L), (4L, "d2", E.Update, 13L), (1L, "a2", E.Update, 14L))
    events.toDF("id", "v", E.Kind, E.Lsn).withColumn(E.Counter, lit(0))
      .coalesce(1).write.json(dir + "/events")
    val expected = events.sortBy(_._4).foldLeft(snapshot.toMap) {
      case (m, (k, _, E.Delete, _)) => m - k
      case (m, (k, v, _, _)) => m + (k -> v)
    }
    val eventSchema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField(E.Kind, StringType),
      StructField(E.Lsn, LongType), StructField(E.Counter, IntegerType)))
    // two transfers over the same event files: a shared checkpoint would
    // hand the second one the first one's offsets, and it would skip them
    for (name <- Seq("one", "two")) {
      val state = s"$dir/$name"
      val t = Transfer(TransferType.SnapshotAndIncrement,
        SourceConfig.Parquet(dir + "/snap"), SinkConfig.Merge(state, Seq("id")))
      val q = TransferRunner.runBoth(spark, t,
        spark.readStream.schema(eventSchema).json(dir + "/events"))
      try q.processAllAvailable() finally q.stop()
      val got = graft.streaming.CdcStream.readState(spark, state)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(got == expected, name)
      assert(Files.isDirectory(java.nio.file.Paths.get(state + "_checkpoint")), name)
    }
  }

  test("check/describe validate sources and report canonical types") {
    val ok = TransferRunner.check(spark,
      SourceConfig.Parquet(sf() + "/region.parquet"))
    assert(ok.isRight && ok.toOption.get.fieldNames.contains("r_regionkey"))
    val desc = TransferRunner.describe(spark,
      SourceConfig.Parquet(sf() + "/region.parquet"))
    assert(desc.toOption.get.toMap.apply("r_name") == "string")
    val bad = TransferRunner.check(spark,
      SourceConfig.Parquet("/nope/missing.parquet"))
    assert(bad.isLeft)
    // streaming source: schema resolution without starting a query
    val stream = TransferRunner.check(spark,
      SourceConfig.TextStream(tmp()))
    assert(stream.isRight && stream.toOption.get.fieldNames.sameElements(Array("value")))
  }

  test("jdbc dialect maps unsigned and tiny types both directions") {
    import graft.sources.GraftJdbcDialect
    import java.sql.Types
    import org.apache.spark.sql.types._
    assert(GraftJdbcDialect.canHandle("jdbc:graft:postgresql://x"))
    assert(!GraftJdbcDialect.canHandle("jdbc:postgresql://x"))
    val md = new MetadataBuilder()
    assert(GraftJdbcDialect.getCatalystType(Types.BIGINT, "BIGINT UNSIGNED", 20, md)
      .contains(DecimalType(20, 0)))
    assert(GraftJdbcDialect.getCatalystType(Types.TINYINT, "TINYINT", 3, md)
      .contains(ByteType))
    assert(GraftJdbcDialect.getJDBCType(DecimalType(20, 0)).map(_.databaseTypeDefinition)
      .contains("NUMERIC(20)"))
  }
}
