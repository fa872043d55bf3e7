package graft.sinks

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class QueueJdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private def cdc(rows: (Long, String, String, Long)*) =
    rows.toSeq.toDF("id", "v", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0))
      .withColumn(E.TxId, lit("tx1"))
      .withColumn(E.CommitTime, lit(1700000000000000L))

  test("kafka wire frame renders key/value/topic with the json serializer") {
    val w = KafkaSink.wireFrame(cdc((1L, "a", "insert", 5L)), "t1",
      keyCols = Seq("id"))
    assert(w.columns.toSeq == Seq("key", "value", "topic"))
    val r = w.select(col("key").cast("string"), col("value").cast("string"),
      col("topic")).as[(String, String, String)].head()
    assert(r._1 == "1")
    assert(r._2 == """{"id":1,"v":"a","__kind":"insert","__lsn":5}""")
    assert(r._3 == "t1")
  }

  test("kafka wire frame debezium serializer emits the envelope") {
    val w = KafkaSink.wireFrame(cdc((2L, "b", "delete", 9L)), "t2",
      fmt = KafkaSink.DebeziumWire)
    val v = w.select(col("value").cast("string")).as[String].head()
    assert(v.contains(""""before":{"id":2,"v":"b"}"""))
    assert(v.contains(""""op":"d""""))
    assert(!v.contains(""""after":{"""))
  }

  test("kafka csv wire: nulls emit empty fields, delimiters get quoted") {
    val df = Seq(
      (1L, Option("a"), Option("z")),
      (2L, None: Option[String], Option("y")),            // null mid-column
      (3L, Option("has,comma"), Option("""has"quote""")), // needs quoting
      (4L, Option("plain"), None: Option[String]))        // null last
      .toDF("id", "v1", "v2")
    val vals = KafkaSink.wireFrame(df, "t", fmt = KafkaSink.CsvWire())
      .select(col("value").cast("string")).as[String].collect().toSeq.sorted
    // a null NEVER shifts later columns: every row has exactly 3 fields
    assert(vals == Seq(
      "1,a,z",
      "2,,y",
      "3,\"has,comma\",\"has\"\"quote\"",
      "4,plain,"))
  }

  test("kafka writer options and stream writer are configured") {
    val opts = KafkaSink.kafkaOptions("broker:9092", Map("kafka.acks" -> "all"))
    assert(opts == Map("kafka.bootstrap.servers" -> "broker:9092",
      "kafka.acks" -> "all"))
    // stream writer builds against a real streaming frame (no broker to
    // start against in the sandbox — the wire/options path is the test)
    val stream = graft.streaming.CdcStream.sampleStream(spark, 1)
    val w = KafkaSink.streamWriter(stream, "broker:9092", "t3", "/tmp/ck")
    assert(w != null)
  }

  test("file-queue spool round-trips through the queue reader") {
    val dir = tempDir("graft_kq")
    KafkaSink.writeFileQueue(cdc((1L, "a", "insert", 1L), (2L, "b", "update", 2L)),
      dir, "topicA")
    val q = graft.sources.Readers.fileQueue(spark, s"$dir/topicA", "topicA")
    val vals = q.select("value").as[String].collect().toSeq.sorted
    assert(vals.size == 2)
    assert(vals.forall(_.contains("\"__kind\"")))
  }

  test("streamed replication mirrors micro-batches into a growing file queue") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_mirror")
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("id", "v", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0))
    val q = stream.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        KafkaSink.appendFileQueue(b, dir, "mirror")
      }.start()
    try {
      mem.addData((1L, "a", "insert", 1L))
      q.processAllAvailable()
      mem.addData((2L, "b", "insert", 2L), (1L, "a2", "update", 3L))
      q.processAllAvailable()
      val rows = graft.sources.Readers.fileQueue(spark, s"$dir/mirror", "mirror")
        .select("value").as[String].collect().toSeq
      assert(rows.size == 3)
      assert(rows.count(_.contains(""""__kind":"update"""")) == 1)
    } finally q.stop()
  }

  test("yaml front-end parses kafka, file_queue and jdbc sink blocks") {
    import graft.config._
    val k = TransferYaml.fromString(
      """type: INCREMENT_ONLY
        |src: { kind: kafka, bootstrap: "b:9092", topic: in }
        |dst: { kind: kafka, bootstrap: "b:9092", topic: out, format: debezium, key_columns: [id] }
        |""".stripMargin)
    assert(k.sink == SinkConfig.Kafka("b:9092", "out", "debezium", Seq("id")))
    val f = TransferYaml.fromString(
      """src: { kind: parquet, path: /x }
        |dst: { kind: file_queue, dir: /q, topic: t }
        |""".stripMargin)
    assert(f.sink == SinkConfig.FileQueue("/q", "t", "json"))
    val j = TransferYaml.fromString(
      """src: { kind: parquet, path: /x }
        |dst: { kind: jdbc, url: "jdbc:derby:memory:db", table: t1 }
        |""".stripMargin)
    assert(j.sink == SinkConfig.Jdbc("jdbc:derby:memory:db", "t1"))
  }

  test("jdbc sink DDL maps the canonical lattice (uint64, int8)") {
    val schema = StructType(Seq(
      StructField("u64", DecimalType(20, 0)),
      StructField("i8", ByteType),
      StructField("s", StringType),
      StructField("ts", TimestampType)))
    val ddl = JdbcSink.createTableDdl(schema, "t", "jdbc:graft:postgresql://x")
    assert(ddl.contains(""""u64" NUMERIC(20)"""))
    assert(ddl.contains(""""i8" TINYINT"""))
    assert(ddl.startsWith("CREATE TABLE t ("))
  }

  test("jdbc sink round-trips rows through embedded Derby") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq(
      (1L, "a", BigDecimal("18446744073709551615")),
      (2L, "b", BigDecimal("42")))
      .toDF("id", "v", "u64")
      .withColumn("u64", col("u64").cast(DecimalType(20, 0)))
      .withColumn("ts", lit("2024-01-02 03:04:05").cast(TimestampType))
    JdbcSink.write(df, url, "t_rt", Sinks.Drop)
    // append path (cleanup Disabled)
    JdbcSink.write(df.filter(col("id") === 1), url, "t_rt", Sinks.Disabled)
    val back = spark.read.jdbc(url, "t_rt", new java.util.Properties())
    assert(back.count() == 3)
    val u = back.filter(col("id") === 1)
      .select(col("u64").cast("string")).as[String].collect().toSet
    assert(u == Set("18446744073709551615"))
    val ts = back.select(col("ts").cast("string")).distinct().as[String].head()
    assert(ts == "2024-01-02 03:04:05")
  }
}
