package graft.config

import graft.SparkSpec
import graft.operators.{Transformers => T}
import java.nio.file.Files

class TransferYamlSpec extends SparkSpec {
  import spark.implicits._

  test("yaml config parses into a full Transfer and runs end to end") {
    val out = Files.createTempDirectory("graft_yaml").toString + "/dst"
    val yaml =
      s"""type: SNAPSHOT_ONLY
         |src:
         |  kind: parquet
         |  path: ${sf()}/orders.parquet
         |dst:
         |  kind: parquet
         |  path: $out
         |cleanup: drop
         |transformations:
         |  - filter_rows:
         |      filters:
         |        - "o_totalprice > 400000"
         |  - filter_columns:
         |      include: [o_orderkey, o_totalprice]
         |  - mask_field:
         |      columns: [o_orderkey]
         |      salt: s
         |      hmac: false
         |""".stripMargin
    val t = TransferYaml.fromString(yaml)
    assert(t.transferType == TransferType.SnapshotOnly)
    assert(t.transformers.map(_.name) ==
      Seq("filter_rows", "filter_columns", "mask_field"))
    graft.TransferRunner.runSnapshot(spark, t)
    val res = spark.read.parquet(out)
    assert(res.columns.toSeq == Seq("o_orderkey", "o_totalprice"))
    assert(res.count() > 0)
    // masked column is hex
    assert(res.select("o_orderkey").as[String].collect()
      .forall(_.matches("[0-9a-f]{64}")))
  }

  test("yaml transformer blocks cover the registry ids") {
    val t = TransferYaml.fromString(
      """type: INCREMENT_ONLY
        |src: { kind: sample, rows: 10 }
        |dst:
        |  kind: merge
        |  path: /tmp/x
        |  primary_keys: [id]
        |transformations:
        |  - sql: { query: "SELECT * FROM table" }
        |  - sharder: { columns: [id], parts: 4, stable: true }
        |  - convert_to_string: { columns: [id] }
        |  - jsonparser: { column: raw, schema: "k INT" }
        |  - clickhouse_sql: { query: "SELECT countIf(id > 1) AS n FROM table" }
        |""".stripMargin)
    assert(t.sink == SinkConfig.Merge("/tmp/x", Seq("id")))
    assert(t.transformers.length == 5)
    assert(t.transformers(1).asInstanceOf[T.Sharder].stable)
    // the clickhouse block lands pre-translated to Spark SQL
    assert(t.transformers(4).asInstanceOf[T.SqlTransform].query
      == "SELECT count_if(id > 1) AS n FROM table")
  }

  test("unknown kinds and transformer ids fail loudly") {
    intercept[IllegalArgumentException](TransferYaml.fromString(
      "type: SNAPSHOT_ONLY\nsrc: { kind: nope }\ndst: { kind: console }"))
    intercept[IllegalArgumentException](TransferYaml.fromString(
      """type: SNAPSHOT_ONLY
        |src: { kind: sample, rows: 1 }
        |dst: { kind: console }
        |transformations:
        |  - not_a_transformer: { }
        |""".stripMargin))
    // bad typed values, a misspelled cleanup and parts < 1 fail at parse
    // time; each message names the block, the key and the value
    def transfer(src: String, extra: String) =
      s"""type: SNAPSHOT_ONLY
         |src: $src
         |dst: { kind: console }
         |$extra
         |""".stripMargin
    def tr(block: String) = transfer("{ kind: sample, rows: 1 }",
      s"transformations:\n  - $block")
    val csv = "kind: csv, path: /x.csv"
    val jdbc = "kind: jdbc, url: 'jdbc:x', table: t"
    Seq(
      transfer(s"{ $csv, header: maybe }", "") -> Seq("src", "header", "maybe"),
      transfer(s"{ $jdbc, lower_bound: low }", "") ->
        Seq("src", "lower_bound", "low"),
      transfer(s"{ $jdbc, upper_bound: 1.5 }", "") ->
        Seq("src", "upper_bound", "1.5"),
      transfer(s"{ $jdbc, num_partitions: many }", "") ->
        Seq("src", "num_partitions", "many"),
      transfer("{ kind: sample, rows: ten }", "") -> Seq("src", "rows", "ten"),
      transfer("{ kind: sample }", "") -> Seq("src", "rows"),
      transfer("{ kind: sample, rows: 1 }", "cleanup: truncat") ->
        Seq("cleanup", "truncat"),
      tr("sharder: { columns: [id], parts: four }") ->
        Seq("sharder", "parts", "four"),
      tr("sharder: { columns: [id], parts: 4, stable: sure }") ->
        Seq("sharder", "stable", "sure"),
      tr("sharder: { columns: [id], parts: 0 }") -> Seq("sharder", "parts", "0"),
      tr("batch_splitter: { parts: -1 }") ->
        Seq("batch_splitter", "parts", "-1"),
      tr("batch_splitter: { parts: x }") -> Seq("batch_splitter", "parts", "x")
    ).foreach { case (yaml, names) =>
      val e = intercept[IllegalArgumentException](TransferYaml.fromString(yaml))
      assert(names.forall(e.getMessage.contains), s"${e.getMessage} <- $yaml")
    }
  }

  test("mask_field config errors name the transformer and the key") {
    def maskYaml(body: String) =
      s"""type: SNAPSHOT_ONLY
         |src: { kind: sample, rows: 1 }
         |dst: { kind: console }
         |transformations:
         |  - mask_field: $body
         |""".stripMargin
    val bad = intercept[IllegalArgumentException](TransferYaml.fromString(
      maskYaml("{ columns: [a], salt: s, hmac: maybe }")))
    assert(bad.getMessage.contains("mask_field") &&
      bad.getMessage.contains("hmac") && bad.getMessage.contains("maybe"),
      bad.getMessage)
    val empty = intercept[IllegalArgumentException](TransferYaml.fromString(
      maskYaml("{ columns: [a, b], salt: '' }")))
    assert(empty.getMessage.contains("mask_field") &&
      empty.getMessage.contains("a, b"), empty.getMessage)
    assert(TransferYaml.fromString(
      maskYaml("{ columns: [a], salt: s, hmac: false }")).transformers ==
      Seq(T.MaskField(Seq("a"), "s", hmac = false)))
  }
}
