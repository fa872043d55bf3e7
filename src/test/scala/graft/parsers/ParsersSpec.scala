package graft.parsers

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ParsersSpec extends SparkSpec {
  import spark.implicits._

  test("generic json parser splits good rows from quarantine") {
    val df = Seq((1L, """{"a": 1, "b": "x"}"""), (2L, "nope"), (3L, """{"a": 3}"""))
      .toDF("id", "raw")
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", StringType)))
    val good = GenericParser.json(df, "raw", schema, keep = Seq("id"))
    assert(good.columns.toSeq == Seq("id", "a", "b"))
    val rows = good.as[(Long, Integer, String)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) == Seq(1L, 3L))
    val bad = GenericParser.unparsed(df, "raw", schema, keep = Seq("id"))
      .as[(Long, String)].collect().toSeq
    assert(bad == Seq((2L, "nope")))
  }

  test("xml parser: attributes, nested elements, quarantine, XXE rejected") {
    val df = Seq(
      (1L, """<r id="7"><a><b>deep</b></a><n>42</n></r>"""),
      (2L, "<r><unclosed"),
      (3L, """<!DOCTYPE r [<!ENTITY x SYSTEM "file:///etc/passwd">]><r id="9"><n>&x;</n></r>"""),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "raw")
    val fields = Seq(("rid", "@id", LongType), ("b", "b", StringType),
      ("n", "n", IntegerType))
    val good = XmlParser.parse(df, "raw", fields, keep = Seq("id"))
      .collect().map(r => r.getLong(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    // recursive child search finds <b> under <a>; attribute typed long
    assert(good == Map(1L -> ((7L, "deep", 42))))
    // malformed AND entity-bearing payloads both quarantine — the
    // doctype is rejected outright (XXE hardening), never resolved
    val bad = XmlParser.unparsed(df, "raw", fields, keep = Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(bad == Set(2L, 3L))
  }

  test("tskv parser extracts typed fields") {
    val df = Seq("k=5\tname=web\tscore=1.5").toDF("raw")
    val out = GenericParser.tskv(df, "raw", Seq(
      ("k", IntegerType), ("name", StringType), ("score", DoubleType)))
    assert(out.collect().head.toSeq == Seq(5, "web", 1.5))
  }

  test("debezium emit/receive round trip preserves rows and kinds") {
    val src = Seq(
      (1L, "a", "insert", 10L), (2L, "b", "update", 11L), (3L, "c", "delete", 12L))
      .toDF("id", "v", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0))
      .withColumn(E.TxId, lit("tx9"))
      .withColumn(E.CommitTime, lit(1700000000000000L))
    val wire = Debezium.emit(src, Seq("id", "v"))
    assert(wire.columns.toSeq == Seq("value"))
    val back = Debezium.receive(wire, "value", StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    val rows = back.select("id", "v", E.Kind, E.Lsn)
      .as[(Long, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(rows == Seq(
      (1L, "a", "insert", 10L), (2L, "b", "update", 11L), (3L, "c", "delete", 12L)))
    // delete kept its row image via `before`
    assert(rows(2)._2 == "c")
  }

  test("debezium op codes: snapshot reads map to insert") {
    val wire = Seq("""{"before":null,"after":{"id":7},"op":"r","ts_ms":1,"source":{"lsn":5,"txId":"t"}}""")
      .toDF("value")
    val out = Debezium.receive(wire, "value",
      StructType(Seq(StructField("id", LongType))))
    assert(out.select(E.Kind).as[String].head() == "insert")
  }

  test("wal2json transaction parse: kinds, positional values, old keys") {
    val tx = """{"xid":777,"nextlsn":"0/16B6698","change":[
      {"kind":"insert","schema":"public","table":"t","columnnames":["id","v"],"columnvalues":["1","a"]},
      {"kind":"update","schema":"public","table":"t","columnnames":["id","v"],"columnvalues":["2","b"],"oldkeys":{"keynames":["id"],"keyvalues":["1"]}},
      {"kind":"delete","schema":"public","table":"t","columnnames":[],"columnvalues":[],"oldkeys":{"keynames":["id"],"keyvalues":["2"]}}
    ]}""".replaceAll("\\s*\\n\\s*", "")
    val rowSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val out = Wal2Json.receive(Seq(tx).toDF("value"), "value", rowSchema,
      pkCols = Seq("id"))
    val rows = out.select("id", "v", E.Kind, E.TxId, E.Counter)
      .collect().toSeq.sortBy(_.getInt(4))
    assert(rows.map(_.getString(2)) == Seq("insert", "update", "delete"))
    assert(rows.head.getLong(0) == 1L && rows.head.getString(1) == "a")
    assert(rows.forall(_.getString(3) == "777"))
    // update carries old key pre-image; delete's key restored from oldkeys
    val oldKeys = out.filter(col(E.Kind) === "update")
      .select(s"${E.OldKeys}.id").as[Long].head()
    assert(oldKeys == 1L)
  }

  test("mongo change stream parse: update maps to mongo:update_document") {
    val events = Seq(
      """{"operationType":"insert","documentKey":{"_id":"a"},"fullDocument":{"x":1},"clusterTime":10}""",
      """{"operationType":"update","documentKey":{"_id":"a"},"fullDocument":{"x":2},"clusterTime":11}""",
      """{"operationType":"delete","documentKey":{"_id":"a"},"clusterTime":12}""")
      .toDF("value")
    val out = MongoChangeStream.receive(events, "value",
      StructType(Seq(StructField("x", IntegerType))))
    val rows = out.select("_id", "x", E.Kind, E.Lsn)
      .collect().toSeq.sortBy(_.getLong(3))
    assert(rows.map(_.getString(2)) ==
      Seq("insert", "mongo:update_document", "delete"))
    // mongo doc updates count as row events for collapse
    assert(out.filter(graft.model.CdcEnvelope.isRowEvent(col(E.Kind)))
      .count() == 3)
  }

  test("confluent wire framing: magic byte, big-endian schema id, payload split") {
    val msg = Array[Byte](0, 0, 0, 1, 44) ++ "avrodata".getBytes("UTF-8")
    val bad = "notframed".getBytes("UTF-8")
    val df = Seq(Tuple1(msg), Tuple1(bad)).toDF("value")
    val out = ConfluentFraming.parse(df, "value")
      .select("schema_id", "framing_ok", "payload").collect()
    val good = out.find(_.getBoolean(1)).get
    assert(good.getInt(0) == 300)  // 0x0000012C big-endian
    assert(new String(good.getAs[Array[Byte]](2)) == "avrodata")
    val rejected = out.find(!_.getBoolean(1)).get
    assert(rejected.isNullAt(0) && rejected.isNullAt(2))
  }

  test("cloud logging entries parse with typed json payload") {
    val entries = Seq(
      """{"timestamp":"2024-01-01T00:00:00Z","severity":"ERROR","logName":"app","insertId":"i1","resource":{"type":"vm","labels":{"zone":"a"}},"jsonPayload":{"code":500,"msg":"boom"}}""",
      """{"timestamp":"2024-01-01T00:01:00Z","severity":"INFO","logName":"app","insertId":"i2","resource":{"type":"vm","labels":{}},"textPayload":"plain line"}""")
      .toDF("value")
    val out = CloudLogging.parse(entries, "value",
      Some(StructType(Seq(StructField("code", IntegerType),
        StructField("msg", StringType)))))
    val err = out.filter(col("severity") === "ERROR").collect().head
    assert(err.getAs[Int]("code") == 500)
    assert(err.getAs[String]("msg") == "boom")
    assert(err.getAs[Map[String, String]]("resource_labels") == Map("zone" -> "a"))
    val info = out.filter(col("severity") === "INFO").collect().head
    assert(info.getAs[String]("text_payload") == "plain line")
  }

  test("mysql binlog (canal json) parses multi-row events, update pairs, ddl") {
    val wire = Seq(
      // multi-row INSERT fans out with positional counters
      """{"data":[{"id":"1","v":"a"},{"id":"2","v":"b"}],"old":null,"database":"d","table":"t","es":1000,"id":7,"isDdl":false,"type":"INSERT","pkNames":["id"]}""",
      // UPDATE with changed-col pre-image including a PK change
      """{"data":[{"id":"9","v":"c2"}],"old":[{"id":"3"}],"database":"d","table":"t","es":2000,"id":8,"isDdl":false,"type":"UPDATE","pkNames":["id"]}""",
      // UPDATE without PK change: old key = current key
      """{"data":[{"id":"4","v":"d2"}],"old":[{"v":"d1"}],"database":"d","table":"t","es":3000,"id":9,"isDdl":false,"type":"UPDATE","pkNames":["id"]}""",
      // DELETE carries the dropped image
      """{"data":[{"id":"5","v":"e"}],"old":null,"database":"d","table":"t","es":4000,"id":10,"isDdl":false,"type":"DELETE","pkNames":["id"]}""",
      // DDL is a control item: dropped from the row stream
      """{"data":null,"old":null,"database":"d","table":"t","es":5000,"id":11,"isDdl":true,"type":"ALTER","pkNames":null}"""
    ).toDF("value")
    val out = MySqlBinlog.receive(wire, "value",
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      pkCols = Seq("id"))
    val rows = out.select(col("id"), col("v"), col(E.Kind), col(E.Lsn),
      col(E.Counter), col(s"${E.OldKeys}.id").as("old_id"), col(E.Table))
      .as[(Long, String, String, Long, Int, Option[Long], String)]
      .collect().toSeq.sortBy(r => (r._4, r._5))
    assert(rows == Seq(
      (1L, "a", "insert", 7L, 0, None, "d.t"),
      (2L, "b", "insert", 7L, 1, None, "d.t"),
      (9L, "c2", "update", 8L, 0, Some(3L), "d.t"),
      (4L, "d2", "update", 9L, 0, Some(4L), "d.t"),
      (5L, "e", "delete", 10L, 0, None, "d.t")))
    // pk-changing update splits into delete(old)+insert(new) downstream
    val split = graft.operators.Collapse.splitUpdatedPKeys(
      out.filter(col(E.Kind) === "update"), Seq("id"))
    val kinds = split.select("id", E.Kind).as[(Long, String)].collect().toSet
    assert(kinds == Set((3L, "delete"), (9L, "insert"), (4L, "update")))
  }

  test("native change-item wire parses batches, oldkeys fallback, ns->us") {
    val wire = Seq(
      // one message = a transaction batch of two items; delete carries
      // its key only in oldkeys (OldOrCurrentKeys)
      """[{"id":601,"nextlsn":100,"commitTime":1643660670333075000,"txPosition":0,"kind":"insert","schema":"public","table":"t1","part":"","columnnames":["id","v"],"columnvalues":[1,"a"],"oldkeys":{},"tx_id":"","query":""},
        |{"id":601,"nextlsn":100,"commitTime":1643660670333075000,"txPosition":1,"kind":"delete","schema":"public","table":"t1","part":"","columnnames":[],"columnvalues":[],"oldkeys":{"keynames":["id"],"keyvalues":[2]},"tx_id":"tx-9","query":""}]"""
        .stripMargin.replace("\n", "")).toDF("value")
    val out = NativeChangeItems.receive(wire, "value",
      StructType(Seq(StructField("id", LongType), StructField("v", StringType))),
      pkCols = Seq("id"))
    val rows = out.select(col("id"), col("v"), col(E.Kind), col(E.Counter),
      col(E.TxId), col(E.Table), col(E.CommitTime))
      .as[(Long, Option[String], String, Int, String, String, Long)]
      .collect().toSeq.sortBy(_._4)
    assert(rows == Seq(
      (1L, Some("a"), "insert", 0, "601", "public.t1", 1643660670333075L),
      (2L, None, "delete", 1, "tx-9", "public.t1", 1643660670333075L)))
  }

  test("blank parser ships queue messages under the fixed schema") {
    val dir = tempDir("graft_blank")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "p0.txt"), "l1\nl2")
    val out = BlankParser.fromQueue(
      graft.sources.Readers.fileQueue(spark, dir, "logs"))
    assert(out.columns.toSeq == Seq("partition", "offset", "seq_no",
      "source_id", "c_time", "w_time", "ip", "lb_raw_message", "lb_extra_fields"))
    assert(out.schema("offset").dataType == DecimalType(20, 0))
    val msgs = out.select("lb_raw_message").as[String].collect().toSeq.sorted
    assert(msgs == Seq("l1", "l2"))
  }

  test("audit trails v1: typed envelope, hidden values nulled, raw kept") {
    val lines = Seq(
      """{"event_id":"e1","event_source":"mia","event_type":"t1","event_time":"2022-11-14T10:03:17Z","authentication":{"authenticated":true,"subject_type":"FEDERATED_USER_ACCOUNT","subject_id":"123","subject_name":"*** hidden ***"},"authorization":{"authorized":true},"request_metadata":{"remote_address":"10.0.0.1"}}""")
      .toDF("value")
    val out = AuditTrails.receive(lines, "value").collect().head
    assert(out.getAs[String]("event_id") == "e1")
    assert(out.getAs[Boolean]("authentication_authenticated"))
    assert(out.getAs[String]("authentication_subject_id") == "123")
    assert(out.getAs[String]("authentication_subject_name") == null)
    assert(out.getAs[String]("request_metadata_remote_address") == "10.0.0.1")
    assert(out.getAs[String]("raw").contains("\"event_id\":\"e1\""))
  }

  test("confluent registry decode resolves mixed writer schemas") {
    val reg = tempDir("graft_reg")
    val v1 = """{"type":"record","name":"r","fields":[{"name":"id","type":"long"}]}"""
    val v2 = """{"type":"record","name":"r","fields":[{"name":"id","type":"long"},{"name":"tag","type":"string","default":"none"}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(reg, "1.avsc"), v1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(reg, "2.avsc"), v2)
    val rows = Seq(
      ConfluentDecode.encode(v1, 1, Map("id" -> 10L)),          // old producer
      ConfluentDecode.encode(v2, 2, Map("id" -> 11L, "tag" -> "t")),
      "junk".getBytes("UTF-8"))                                  // bad framing
    val df = rows.toDF("raw")
    val out = ConfluentDecode.receive(df, "raw", reg, v2,
      StructType(Seq(StructField("id", LongType),
        StructField("tag", StringType))))
    val ok = out.filter(col("framing_ok"))
      .select("id", "tag", "schema_id")
      .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
    // v1 message resolves against reader v2: `tag` takes its default
    assert(ok == Seq((10L, "none", 1), (11L, "t", 2)))
    assert(out.filter(!col("framing_ok")).count() == 1)
  }

  test("confluent HTTP registry client fetches over the REST contract and caches per id") {
    val v1 = """{"type":"record","name":"h","fields":[{"name":"id","type":"long"}]}"""
    val v2 = """{"type":"record","name":"h","fields":[{"name":"id","type":"long"},{"name":"tag","type":"string","default":"none"}]}"""
    val reg = ConfluentDecode.serveRegistry(Map(1 -> v1, 2 -> v2))
    try {
      // many rows per schema id: the per-JVM cache must amortize fetches
      val rows = (1L to 50L).map { i =>
        if (i % 2 == 0) ConfluentDecode.encode(v1, 1, Map("id" -> i))
        else ConfluentDecode.encode(v2, 2, Map("id" -> i, "tag" -> s"t$i"))
      }
      val out = ConfluentDecode.receive(rows.toDF("raw"), "raw",
        reg.baseUrl, v2,
        StructType(Seq(StructField("id", LongType),
          StructField("tag", StringType))))
        .select("id", "tag", "schema_id")
        .as[(Long, String, Int)].collect().toSeq.sortBy(_._1)
      assert(out.size == 50)
      assert(out.head == ((1L, "t1", 2)))
      assert(out(1) == ((2L, "none", 1)))
      assert(out.forall { case (i, tag, sid) =>
        if (i % 2 == 0) tag == "none" && sid == 1
        else tag == s"t$i" && sid == 2
      })
      // 50 rows, 2 schema ids -> at most 2 fetches (computeIfAbsent
      // serializes concurrent misses on the same key)
      assert(reg.hits.get() <= 2, s"registry hit ${reg.hits.get()} times")
      // unknown id surfaces as a client-side miss, not a decode of junk
      assert(ConfluentDecode.HttpRegistry(reg.baseUrl).schemaJson(99).isEmpty)
    } finally reg.stop()
  }
}
