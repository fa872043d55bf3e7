package graft.model

import graft.SparkSpec
import org.apache.spark.sql.types._

class TypeMappingSpec extends SparkSpec {
  import TypeMapping._

  test("internal lattice maps scalar types both ways") {
    assert(ytToSpark("int64") == LongType)
    assert(ytToSpark("uint64") == DecimalType(20, 0))
    assert(ytToSpark("utf8") == StringType)
    assert(sparkToYt(LongType) == "int64")
    assert(sparkToYt(DecimalType(20, 0)) == "uint64")
  }

  test("YT serialized spellings: string is bytes, utf8 is text") {
    assert(ytSerializedToSpark("string") == BinaryType)
    assert(ytSerializedToSpark("utf8") == StringType)
  }

  test("lossy types round-trip via originalType metadata") {
    val dt = field("d", "datetime")
    assert(dt.dataType == TimestampType)
    assert(sparkToYt(dt) == "datetime")           // not "timestamp"
    val u8 = field("u", "uint8")
    assert(sparkToYt(u8) == "uint8")              // not "int16"
    val plain = StructField("x", TimestampType)
    assert(sparkToYt(plain) == "timestamp")       // no metadata: canonical
  }

  test("primary keys are carried in metadata and survive strictify") {
    import spark.implicits._
    val target = StructType(Seq(
      field("id", "int64", primaryKey = true),
      field("v", "string")))
    val df = Seq((1L, "a")).toDF("id", "v")
    val out = strictify(df, target)
    assert(primaryKeys(out.schema) == Seq("id"))
    // metadata applied even when the type already matches
    assert(isPrimaryKey(out.schema("id")))
  }

  test("strictify casts mismatched columns and leaves unknown columns alone") {
    import spark.implicits._
    val df = Seq((1, "2.5", true)).toDF("a", "b", "extra")
    val target = StructType(Seq(
      field("a", "int64"), field("b", "double")))
    val out = strictify(df, target)
    assert(out.schema("a").dataType == LongType)
    assert(out.schema("b").dataType == DoubleType)
    assert(out.schema("extra").dataType == BooleanType)
  }

  test("canonical type matrix round-trips through strictify + parquet") {
    import spark.implicits._
    import java.sql.Timestamp
    val target = StructType(Seq(
      field("c_int8", "int8"), field("c_int64", "int64"),
      field("c_uint64", "uint64"), field("c_double", "double"),
      field("c_string", "utf8"), field("c_bool", "boolean"),
      field("c_ts", "timestamp"), field("c_dt", "datetime"),
      field("c_bytes", "bytes")))
    val df = Seq((1, 2L, "18446744073709551615", 2.5, "s", true,
      Timestamp.valueOf("2024-01-02 03:04:05.123456"),
      Timestamp.valueOf("2024-01-02 03:04:05"), "raw"))
      .toDF("c_int8", "c_int64", "c_uint64", "c_double", "c_string",
        "c_bool", "c_ts", "c_dt", "c_bytes")
    val strict = strictify(df, target)
    val dir = tempDir("graft_types") + "/t"
    strict.write.parquet(dir)
    val back = spark.read.parquet(dir)
    // every canonical type survives the storage round trip
    assert(back.schema("c_int8").dataType == ByteType)
    assert(back.schema("c_uint64").dataType == DecimalType(20, 0))
    assert(back.schema("c_bytes").dataType == BinaryType)
    val row = back.collect().head
    // max uint64 survives exactly (the Decimal(20,0) rationale)
    assert(row.getDecimal(back.schema.fieldIndex("c_uint64")).toString
      == "18446744073709551615")
    assert(row.getTimestamp(back.schema.fieldIndex("c_ts")).toString
      == "2024-01-02 03:04:05.123456")
    // datetime keeps its lossy-type marker through the engine schema
    assert(sparkToYt(strict.schema("c_dt")) == "datetime")
  }

  test("yt-serialized schema decode/encode round-trips wire spellings") {
    // on the wire: "string" is BYTES, "utf8" is text (ytschema)
    val fText = fieldFromYtSerialized("name", "utf8")
    val fBytes = fieldFromYtSerialized("blob", "string", primaryKey = true)
    val fU64 = fieldFromYtSerialized("n", "uint64")
    assert(fText.dataType == StringType)
    assert(fBytes.dataType == BinaryType && !fBytes.nullable)
    assert(fU64.dataType == DecimalType(20, 0))
    // exact spellings restored on the way out
    assert(sparkToYtSerialized(fText) == "utf8")
    assert(sparkToYtSerialized(fBytes) == "string")
    assert(sparkToYtSerialized(fU64) == "uint64")
    // fields born in Spark (no metadata) use serialized spellings too
    assert(sparkToYtSerialized(StructField("s", StringType)) == "utf8")
    assert(sparkToYtSerialized(StructField("b", BinaryType)) == "string")
    assert(sparkToYtSerialized(StructField("i", LongType)) == "int64")
  }
}
