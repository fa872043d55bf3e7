package graft

import graft.model.{CdcEnvelope => E}
import graft.functions.Hashing
import org.apache.spark.sql.functions._

/** Registry consistency + envelope/hashing invariants: the glue the
  * driver's correctness loop depends on. */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("every query has an oracle and every oracle has a query") {
    val q = Queries.all.keySet
    val o = Oracles.all.keySet
    assert((q -- o).isEmpty, s"queries missing oracles: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles missing queries: ${o -- q}")
  }

  test("SparkEntry contract surfaces the registries and a live entry") {
    assert(SparkEntry.queries.size >= 55)
    assert(SparkEntry.oracleSql.size == SparkEntry.queries.size)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL has no raw control characters (invisible-byte guard)") {
    for ((name, sql) <- Oracles.all)
      assert(!sql.exists(c => c < ' ' && c != '\n' && c != '\t'),
        s"control char in oracle $name")
  }

  test("cdc envelope: data columns exclude meta, row-event predicate") {
    val df = Seq((1L, "a")).toDF("id", "v")
    val env = E.fromSnapshot(df, lit(5L))
    assert(E.dataCols(env) == Seq("id", "v"))
    assert(env.filter(E.isRowEvent(col(E.Kind))).count() == 1)
    assert(env.select(E.Lsn).as[Long].head() == 5L)
    // mongo document updates count as row events
    val m = Seq(("x", E.MongoUpdateDocument)).toDF("v", E.Kind)
    assert(m.filter(E.isRowEvent(col(E.Kind))).count() == 1)
  }

  test("hashing: hex8 equals JVM md5 prefix; buckets stay in range") {
    val out = Seq("hello").toDF("s")
      .select(Hashing.hex8ToLong(col("s"))).as[Long].head()
    assert(out == 1564557354L) // md5("hello") = 5d41402a...
    // seeded variants differ
    val s1 = Seq("x").toDF("s").select(Hashing.seeded(col("s"), 1)).as[Long].head()
    val s2 = Seq("x").toDF("s").select(Hashing.seeded(col("s"), 2)).as[Long].head()
    assert(s1 != s2)
  }

  test("hashing: driver-side hex and md5-prefix twins equal the format spelling") {
    Seq("", "hello", "hp3_17", "cent12_5", "pq1c7_2", "日本", "a,b,c").foreach { s =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString
      assert(Hashing.hex(d) == hex)
      assert(Hashing.hex8ToLongJvm(s) == java.lang.Long.parseLong(hex.take(8), 16))
    }
    assert(Hashing.hex(Array[Byte](0, -1, 16, 127, -128)) == "00ff107f80")
  }

  test("GraftSession applies scale configs and registers engine functions") {
    val s = GraftSession.create("local[2]")
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(s.sql("SELECT graft_stable_hash64('hello')").head().getLong(0)
      == 1564557354L)
  }
}
