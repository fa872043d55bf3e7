package graft.streaming

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MeteringSchemaDriftSpec extends SparkSpec {
  import spark.implicits._

  test("merge sink absorbs mid-stream schema drift (DDL added column)") {
    val state = tempDir("graft_drift") + "/t"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .withColumn(E.Kind, lit("insert")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0))
    CdcStream.mergeBatch(b1, state, Seq("id"))
    // DDL adds column `extra` mid-stream
    val b2 = Seq((2L, "b2", 9L), (3L, "c", 7L)).toDF("id", "v", "extra")
      .withColumn(E.Kind, lit("insert")).withColumn(E.Lsn, lit(2L))
      .withColumn(E.Counter, lit(0))
    CdcStream.mergeBatch(b2, state, Seq("id"))
    val out = spark.read.parquet(state)
      .select("id", "v", "extra").as[(Long, String, Option[Long])]
      .collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a", None), (2L, "b2", Some(9L)), (3L, "c", Some(7L))))
  }

  test("metering taps report rows and bytes through the real action") {
    val l = Metering.listen(spark)
    val df = Metering.tap(
      graft.Tables.load(spark, sf(), "region"), "region_in")
    df.write.format("noop").mode("overwrite").save()
    // listener fires asynchronously after the action
    val deadline = System.currentTimeMillis() + 10000
    var m: Map[String, Long] = null
    while (m == null && System.currentTimeMillis() < deadline) {
      m = l.metrics.get("region_in")
      if (m == null) Thread.sleep(100)
    }
    assert(m != null, "metric not observed")
    assert(m("rows") == 5L)
    assert(m("bytes") > 0L)
  }

  test("multi-table batch routes each table to its own merged state") {
    val base = tempDir("graft_multi")
    val batch = Seq(
      (1L, "a", "orders/O"), (2L, "b", "orders/F"), (3L, "c", "orders/O"))
      .toDF("id", "v", E.Table)
      .withColumn(E.Kind, lit("insert")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0))
    val tables = CdcStream.mergeMultiTable(batch, base, Seq("id"))
    assert(tables == Seq("orders/F", "orders/O"))
    assert(spark.read.parquet(base + "/orders_F").count() == 1)
    val o = spark.read.parquet(base + "/orders_O").select("id")
      .as[Long].collect().toSeq.sorted
    assert(o == Seq(1L, 3L))
  }

  test("two tables of one batch that map to one state directory fail, naming both") {
    val base = tempDir("graft_multi_clash")
    val batch = Seq((1L, "a", "orders/O"), (2L, "b", "orders_O"))
      .toDF("id", "v", E.Table)
      .withColumn(E.Kind, lit("insert")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0))
    val e = intercept[IllegalArgumentException] {
      CdcStream.mergeMultiTable(batch, base, Seq("id"))
    }
    assert(e.getMessage.contains("orders/O") && e.getMessage.contains("orders_O"),
      e.getMessage)
    // nothing merged: no state directory was written
    assert(!Files.exists(java.nio.file.Paths.get(base, "orders_O")))
  }
}
