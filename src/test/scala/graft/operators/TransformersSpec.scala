package graft.operators

import graft.SparkSpec
import graft.model.{CdcEnvelope => E, TypeMapping}
import graft.operators.{Transformers => T}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class TransformersSpec extends SparkSpec {
  import spark.implicits._

  private lazy val orders = graft.Tables.load(spark, sf(), "orders")

  test("filter_columns keeps include list; primary keys always survive") {
    val out = T.FilterColumns(include = Seq("o_orderkey", "o_custkey"))
      .apply(orders)
    assert(out.columns.toSeq == Seq("o_orderkey", "o_custkey"))

    // PK columns survive even when the include list omits them
    // (reference: filter_columns keeps key columns)
    val withPk = TypeMapping.strictify(orders, StructType(Seq(
      TypeMapping.field("o_orderkey", "int64", primaryKey = true))))
    val kept = T.FilterColumns(include = Seq("o_custkey")).apply(withPk)
    assert(kept.columns.toSeq == Seq("o_orderkey", "o_custkey"))
  }

  test("filter_columns supports exclude regexes") {
    val out = T.FilterColumns(exclude = Seq("o_order.*")).apply(orders)
    assert(out.columns.toSeq == Seq("o_custkey", "o_totalprice"))
  }

  test("filter_rows applies only to inserts in enveloped frames") {
    val df = Seq(
      (1L, "insert"), (2L, "insert"), (2L, "delete"), (3L, "update"))
      .toDF("id", E.Kind)
    val out = T.FilterRows(Seq("id = 1")).apply(df)
      .select("id", E.Kind).as[(Long, String)].collect().toSeq.sorted
    // insert id=2 dropped; delete/update pass through untouched
    assert(out == Seq((1L, "insert"), (2L, "delete"), (3L, "update")))
  }

  test("mask_field HMAC mode matches javax.crypto directly") {
    val out = T.MaskField(Seq("c_name"), salt = "k3y", hmac = true)
      .apply(graft.Tables.load(spark, sf(), "customer"))
      .select("c_custkey", "c_name").as[(Long, String)].collect()
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec("k3y".getBytes("UTF-8"), "HmacSHA256"))
    val expected0 = mac.doFinal(
      f"Customer#${out.head._1}%09d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.head._2 == expected0)
    assert(out.forall(_._2.matches("[0-9a-f]{64}")))
  }

  test("rename_tables maps known tables and passes unknown through") {
    val df = Seq(("a", "t1"), ("b", "t2")).toDF("x", E.Table)
    val out = T.RenameTables(Map("t1" -> "schema.t1x")).apply(df)
      .select(E.Table).as[String].collect().toSeq.sorted
    assert(out == Seq("schema.t1x", "t2"))
  }

  test("json parser quarantines malformed rows") {
    val df = Seq((1L, """{"k": 5}"""), (2L, "{oops"), (3L, """{"k": 7}"""))
      .toDF("id", "raw")
    val p = T.JsonParser("raw", StructType(Seq(StructField("k", IntegerType))))
    val good = p.apply(df).select("id", "k").as[(Long, Int)].collect().toSeq.sorted
    assert(good == Seq((1L, 5), (3L, 7)))
    val bad = p.errors(df).get.select("id").as[Long].collect().toSeq
    assert(bad == Seq(2L))
  }

  test("sharder assigns stable md5 buckets within range") {
    val out = T.Sharder(Seq("o_orderkey"), parts = 4, stable = true)
      .apply(orders).select(E.PartId).as[Int].collect()
    assert(out.forall(p => p >= 0 && p < 4))
    // stable: same input, same assignment
    val out2 = T.Sharder(Seq("o_orderkey"), parts = 4, stable = true)
      .apply(orders).select(E.PartId).as[Int].collect()
    assert(out.toSeq == out2.toSeq)
  }

  test("table_splitter builds table/value route names") {
    val out = T.TableSplitter("orders", Seq("o_orderstatus")).apply(orders)
      .select(E.Table).distinct().as[String].collect().toSeq.sorted
    assert(out.forall(_.startsWith("orders/")))
  }

  test("replace_primary_key rewrites key metadata") {
    val out = T.ReplacePrimaryKey(Seq("o_custkey")).apply(orders)
    assert(TypeMapping.primaryKeys(out.schema) == Seq("o_custkey"))
  }

  test("convert_to_string, number_to_float, convert_to_datetime cast as declared") {
    val df = Seq((1L, 1700000000L, "2.5")).toDF("id", "epoch", "num")
    val strs = T.ConvertToString(Seq("id")).apply(df)
    assert(strs.schema("id").dataType == StringType)
    val dbl = T.NumberToFloat(Seq("num")).apply(df)
    assert(dbl.schema("num").dataType == DoubleType)
    val ts = T.ConvertToDatetime(Seq("epoch")).apply(df)
    assert(ts.schema("epoch").dataType == TimestampType)
    assert(ts.select("epoch").collect().head.getTimestamp(0).toInstant
      .getEpochSecond == 1700000000L)
  }

  test("raw_doc_grouper packs non-key columns as JSON doc") {
    val df = Seq((1L, "a", 2.5)).toDF("k", "s", "d")
    val out = T.RawDocGrouper(Seq("k"), etlTimestamp = None).apply(df)
    assert(out.columns.toSeq == Seq("k", "doc"))
    assert(out.select("doc").as[String].head() == """{"s":"a","d":2.5}""")
  }

  test("raw_cdc_doc_grouper flags deletes") {
    val df = Seq((1L, "a", "delete"), (2L, "b", "insert"))
      .toDF("k", "s", E.Kind)
    val out = T.RawCdcDocGrouper(Seq("k")).apply(df)
      .select("k", "deleted_flg").as[(Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, true), (2L, false)))
  }

  test("transformer chain applies only suitable steps and routes errors") {
    val chain = TransformerChain(Seq(
      T.JsonParser("raw", StructType(Seq(StructField("k", IntegerType)))),
      T.FilterRows(Seq("k > 1"))))
    val df = Seq((1L, """{"k": 1}"""), (2L, "{x"), (3L, """{"k": 9}"""))
      .toDF("id", "raw")
    val out = chain.apply(df).select("id").as[Long].collect().toSeq
    assert(out == Seq(3L))
    val errs = chain.errors(df).get.select("id").as[Long].collect().toSeq
    assert(errs == Seq(2L))
  }

  test("table filter include/exclude regex semantics") {
    val f = TableFilter(include = Seq("public\\..*"), exclude = Seq(".*_tmp"))
    assert(f.matches("public.orders"))
    assert(!f.matches("private.orders"))
    assert(!f.matches("public.orders_tmp"))
    assert(TableFilter().matches("anything"))
  }

  test("sql_script post-hook runs statements in order over the landed view") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val out = T.SqlScript(Seq(
      "SELECT id, upper(v) AS v FROM this",
      "SELECT count(*) AS n FROM this")).apply(df)
    assert(out.as[Long].head() == 2L)
  }

  test("dbt: model parsing extracts config/refs/sources, view default") {
    val m = Dbt.parseModel("rollup",
      "{{ config(materialized='table') }}\nSELECT a, count(*) n " +
        "FROM {{ ref('stg') }} JOIN {{ source('raw', 'dim') }} USING (a) " +
        "WHERE a IN (SELECT a FROM {{ ref('allow') }})")
    assert(m.materialized == "table")
    assert(m.deps == Seq("stg", "allow"))
    assert(m.sources == Seq(("raw", "dim")))
    assert(Dbt.parseModel("v", "SELECT 1").materialized == "view")
  }

  test("dbt: topo order respects refs; cycles and unknown refs rejected") {
    def m(n: String, deps: String*) = Dbt.Model(n, "", "view", deps, Nil)
    val order = Dbt.topoOrder(Seq(m("c", "b"), m("a"), m("b", "a")))
      .map(_.name)
    assert(order == Seq("a", "b", "c"))
    val cycle = intercept[IllegalArgumentException] {
      Dbt.topoOrder(Seq(m("x", "y"), m("y", "x")))
    }
    assert(cycle.getMessage.contains("cycle"))
    val unknown = intercept[IllegalArgumentException] {
      Dbt.topoOrder(Seq(m("x", "nope")))
    }
    assert(unknown.getMessage.contains("unknown ref"))
  }

  test("dbt: project runs in dependency order, table model hits parquet") {
    val proj = new java.io.File(tempDir("dbt_spec"))
    val models = new java.io.File(proj, "models"); models.mkdirs()
    def w(n: String, sql: String): Unit = java.nio.file.Files.write(
      new java.io.File(models, n).toPath, sql.getBytes("UTF-8"))
    // file order (a_report < z_stg alphabetically) must NOT dictate run
    // order — the ref DAG must
    w("a_report.sql", "SELECT v, n FROM {{ ref('z_stg') }} WHERE n > 1")
    w("z_stg.sql", "{{ config(materialized='table') }}\n" +
      "SELECT v, count(*) AS n FROM {{ source('t', 'in') }} GROUP BY v")
    val target = new java.io.File(proj, "target").toString
    val in = Seq("a", "a", "b").toDF("v")
    val out = Dbt.runProject(spark, proj.toString, "a_report",
      (s, t) => { assert(s == "t" && t == "in"); in },
      targetDir = Some(target))
    assert(out.as[(String, Long)].collect().toSeq == Seq(("a", 2L)))
    // the table materialization really wrote parquet
    assert(new java.io.File(s"$target/z_stg").listFiles()
      .exists(_.getName.endsWith(".parquet")))
  }

  test("dbt transformer exposes the transfer frame as source('transfer', view)") {
    val proj = new java.io.File(tempDir("dbt_tr"))
    new java.io.File(proj, "models").mkdirs()
    java.nio.file.Files.write(
      new java.io.File(proj, "models/agg.sql").toPath,
      "SELECT sum(x) AS s FROM {{ source('transfer', 'this') }}"
        .getBytes("UTF-8"))
    val out = T.DbtTransform(proj.toString, "agg")
      .apply(Seq(1L, 2L, 3L).toDF("x"))
    assert(out.as[Long].head() == 6L)
  }
}
