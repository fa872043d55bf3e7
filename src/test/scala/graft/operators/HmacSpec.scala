package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import graft.SparkSpec
import graft.operators.{Transformers => T}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.graft.HmacSha256HexExpr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** mask_field's HMAC mode against `javax.crypto` computed independently
  * on the driver: every row, interpreted and generated code, many task
  * threads at once. */
class HmacSpec extends SparkSpec {

  /** The value the JVM-side definition hashes: the string's Java form
    * (bad UTF-8 decoded to U+FFFD) as UTF-8 bytes. */
  private def reference(salt: String)(v: Array[Byte]): String = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(salt.getBytes(UTF_8), "HmacSHA256"))
    mac.doFinal(new String(v, UTF_8).getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }

  private val strings = Seq("", "a", "hello world", "héllo", "日本語テキスト",
    "emoji 😀 ok", "tab\tand\nnewline", "Customer#000000001", "\u0000nul")
  private val badUtf8: Seq[Array[Byte]] = Seq(
    Array(0xff), Array(0xc0, 0xaf), Array(0xed, 0xa0, 0x80),
    Array(0xe2, 0x82), Array(0xf4, 0x90, 0x80, 0x80), Array(0x61, 0x80, 0x62),
    Array(0xf0, 0x9f, 0x98), Array(0xe0, 0x80, 0xaf))
    .map(_.map(_.toByte))

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType),
    StructField("s2", StringType), StructField("n", LongType),
    StructField("b", BinaryType)))

  /** 4,000 rows over 8 partitions: nulls, multibyte text, numbers and
    * binary values that are not valid UTF-8. */
  private lazy val input: DataFrame = {
    val rows = (0 until 4000).map { i =>
      val s = if (i % 7 == 0) null else strings(i % strings.length) + i
      val n = if (i % 11 == 0) null else java.lang.Long.valueOf(i * 7919L - 5000L)
      val b = if (i % 13 == 0) null
              else if (i % 2 == 0) badUtf8(i % badUtf8.length)
              else s"ok-$i".getBytes(UTF_8)
      Row(i, s, if (s == null) null else s.reverse, n, b)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
  }

  /** Two mask_field transformers with different salts in one plan. */
  private val chain = Seq(
    T.MaskField(Seq("s", "n", "b"), salt = "salt-one"),
    T.MaskField(Seq("s2"), salt = "salt-two"))

  private def expected: Map[Int, Seq[String]] = {
    val one = reference("salt-one") _
    val two = reference("salt-two") _
    def opt(v: Array[Byte], f: Array[Byte] => String) =
      if (v == null) null else f(v)
    input.collect().map { r =>
      def str(i: Int) = Option(r.getString(i)).map(_.getBytes(UTF_8)).orNull
      val n = if (r.isNullAt(3)) null else r.getLong(3).toString.getBytes(UTF_8)
      val b = if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)
      r.getInt(0) -> Seq(opt(str(1), one), opt(str(2), two), opt(n, one), opt(b, one))
    }.toMap
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def masked: DataFrame = TransformerChain(chain)(input)

  Seq(
    "generated code" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
  ).foreach { case (mode, conf) =>
    test(s"LAW: mask_field HMAC equals javax.crypto on every row ($mode)") {
      val want = expected
      val got = withConf(conf: _*) {
        masked.select("id", "s", "s2", "n", "b").collect()
      }
      assert(got.length == want.size)
      got.foreach { r =>
        val row = Seq(r.getString(1), r.getString(2), r.getString(3), r.getString(4))
        assert(row == want(r.getInt(0)), s"row ${r.getInt(0)}")
      }
    }
  }

  test("mask_field HMAC plan runs the native kernel, not a ScalaUDF") {
    val plan = masked.queryExecution.sparkPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    assert(!exprs.exists(_.exists(_.isInstanceOf[ScalaUDF])))
    assert(exprs.count(_.exists(_.isInstanceOf[HmacSha256HexExpr])) == 4)
  }

  test("mask_field HMAC keeps the salt out of plan text") {
    val df = masked
    val explained = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(df.explain("extended"))
      out.toString(UTF_8)
    }
    val codegen = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(df.explain("codegen"))
      out.toString(UTF_8)
    }
    val texts = Seq(df.queryExecution.toString, explained, codegen,
      df.queryExecution.executedPlan.treeString)
    assert(texts.forall(_.contains("graft_hmac_sha256")))
    assert(codegen.contains("HmacSha256HexExpr.hmacHex"))
    Seq("salt-one", "salt-two").foreach { salt =>
      texts.foreach(t => assert(!t.contains(salt), t))
    }
    // the salt still tells two kernels apart
    val a = org.apache.spark.sql.catalyst.expressions.Literal("a")
    assert(HmacSha256HexExpr(a, "x") != HmacSha256HexExpr(a, "y"))
  }

  test("LAW: kernel bytes equal the decoded-string HMAC for arbitrary bytes") {
    // random byte strings weighted towards UTF-8 lead and continuation
    // bytes, so well-formed, truncated, overlong and surrogate sequences
    // all occur; the well-formedness check must agree with Java's decoder
    val rnd = new scala.util.Random(17)
    val pool = (0 to 0x7f).map(_.toByte) ++ (0x80 to 0xff).map(_.toByte) ++
      Seq(0xc2, 0xdf, 0xe0, 0xed, 0xef, 0xf0, 0xf4, 0xf5, 0x80, 0x9f, 0xa0, 0xbf)
        .flatMap(b => Seq.fill(8)(b.toByte))
    val ref = reference("k") _
    (0 until 20000).foreach { _ =>
      val b = Array.fill(rnd.nextInt(9))(pool(rnd.nextInt(pool.length)))
      val decoded = new String(b, UTF_8).getBytes(UTF_8)
      assert(UTF8String.fromBytes(b).isValid() ==
        java.util.Arrays.equals(decoded, b), b.map(x => f"$x%02x").mkString)
      assert(HmacSha256HexExpr.hmacHex(UTF8String.fromBytes(b), "k").toString == ref(b))
    }
  }

  test("mask_field HMAC with an empty salt fails at construction, naming the columns") {
    val e = intercept[IllegalArgumentException](T.MaskField(Seq("a", "b"), salt = ""))
    assert(e.getMessage.contains("a, b"))
    // the sha2 mode has no key, so an empty salt is allowed there
    T.MaskField(Seq("a"), salt = "", hmac = false)
  }
}
