package graft.functions

import graft.SparkSpec
import graft.parsers.{CloudEvents, ProtoReader, RawToTable}
import graft.sources.DeltaLite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

class ExtensionsDeltaSpec extends SparkSpec {
  import spark.implicits._

  test("graft_stable_hash64: native expression equals column-function spelling and SQL") {
    GraftFunctions.register(spark)
    // non-foldable source so the expression actually executes codegen'd
    val df = spark.range(100).select(col("id").cast("string").as("s"))
    val both = df.select(
      StableHash64(col("s")).as("native"),
      Hashing.hex8ToLongComposed(col("s")).as("composed"))
    assert(both.collect().forall(r => r.getLong(0) == r.getLong(1)))
    // md5("hello") first 8 hex = 5d41402a = 1564557354
    assert(spark.sql("SELECT graft_stable_hash64('hello')").head().getLong(0)
      == 1564557354L)
    // codegen path: the project containing the expression must carry the
    // whole-stage-codegen marker (`*(n)`), not fall back to interpreted
    val plan = both.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("), plan)
  }

  test("graft_shingles: native expression equals the composed HOF " +
      "spelling on the fixture corpus and whitespace adversaries") {
    GraftFunctions.register(spark)
    // the real corpus (the strings the minhash family actually hashes)
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select(col("text"))
    // adversaries for the tokenization edges the scaladoc pins:
    // leading/trailing tabs+newlines survive trim (leading/trailing ""
    // tokens), runs of mixed whitespace, empty and whitespace-only
    // text, fewer tokens than n, multibyte text
    val edges = Seq("", " ", "\t", "\n\n", "a", "a b", "\ta b\nc\t",
      "a  b\t\tc", " \t a ", "héllo wörld déjà vu",
      "one two three four five").toDF("text")
    for (df <- Seq(docs, edges); n <- Seq(1, 3, 5)) {
      val both = df.select(
        Dedup.shingles(col("text"), n).as("native"),
        Dedup.shinglesComposed(col("text"), n).as("composed"))
      assert(both.collect().forall(r =>
        r.getSeq[String](0) == r.getSeq[String](1)),
        s"n=$n mismatch: " + both.collect()
          .filter(r => r.getSeq[String](0) != r.getSeq[String](1))
          .take(3).mkString("; "))
    }
    // codegen: the projection stays whole-stage compiled
    val plan = spark.range(10).select(col("id").cast("string").as("t"))
      .select(Dedup.shingles(col("t"), 3))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("), plan)
    // SQL registration
    assert(spark.sql("SELECT graft_shingles('a b c d', 3)")
      .head().getSeq[String](0) == Seq("a b c", "b c d"))
    // ADVICE r15: n as a BIGINT literal or a foldable expression must
    // build, not throw at plan time — SQL users write 3L / CAST / 2+1
    for (nExpr <- Seq("3L", "CAST(3 AS BIGINT)", "2 + 1"))
      assert(spark.sql(s"SELECT graft_shingles('a b c d', $nExpr)")
        .head().getSeq[String](0) == Seq("a b c", "b c d"), nExpr)
    // an out-of-Int-range n stays a plan-build error, not a silent wrap
    intercept[Exception](
      spark.sql("SELECT graft_shingles('a b', 4294967296L)").head())
    // ADVICE r15: the ONE documented divergence from the composed
    // spelling — null text maps to NULL natively ([""] composed, via
    // concat_ws null-skipping). Asserted as INTENDED: explode() then
    // drops null-text docs from shingle pipelines instead of indexing
    // one empty shingle, which is the semantics every caller wants.
    val nullDf = Seq[Option[String]](None, Some("a b c")).toDF("text")
    val nr = nullDf.select(
      Dedup.shingles(col("text"), 3).as("native"),
      Dedup.shinglesComposed(col("text"), 3).as("composed")).collect()
    assert(nr(0).isNullAt(0), "native shingles of NULL text must be NULL")
    assert(nr(0).getSeq[String](1) == Seq(""),
      "composed spelling maps NULL text to [\"\"] — divergence is real")
    assert(nr(1).getSeq[String](0) == nr(1).getSeq[String](1))
  }

  test("graft_minhash_bands: the band kernel's rows equal the " +
      "explode/groupBy spelling on the fixture corpus and adversaries") {
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    // empty text, one token, fewer tokens than n, repeated shingles,
    // tabs and newlines (leading/trailing "" tokens), multibyte, null
    val edges = Seq[(Long, String)](-1L -> "", -2L -> "word", -3L -> "two words",
      -4L -> "a b a b a b a b", -5L -> "x x x x x x", -6L -> "\ta b\nc\t",
      -7L -> "line one\nline two\n\nline three", -8L -> " \t ",
      -9L -> "héllo wörld déjà vu encore", -10L -> null).toDF("doc_id", "text")
    for (df <- Seq(docs, edges);
         (k, n, bands) <- Seq((16, 3, 4), (8, 1, 2), (12, 5, 3))) {
      val native = Dedup.lshBands(df, "text", "doc_id", k, n, bands)
      val composed = Dedup.lshBandsComposed(df, "text", "doc_id", k, n, bands)
      // same schema (names, types, nullability, order): index lakes
      // written by either stay readable
      assert(native.schema == composed.schema)
      def rows(b: org.apache.spark.sql.DataFrame) =
        b.as[(Long, Int, String)].collect().toSeq.sorted
      val (a, c) = (rows(native), rows(composed))
      assert(a.nonEmpty && a == c, s"k=$k n=$n bands=$bands: " +
        a.diff(c).take(3).mkString("; ") + " || " + c.diff(a).take(3).mkString("; "))
    }
    // codegen: the generator's child stays whole-stage compiled, and no
    // Exchange is left in the band rows
    val plan = Dedup.lshBands(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("graft_dot: native dot product equals HOF spelling, stays codegen'd") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // float and double arrays, plus a null element and a length mismatch
    val df = spark.range(1000).select(
      transform(sequence(lit(0), lit(15)),
        i => (col("id") + i).cast("float")).as("fa"),
      transform(sequence(lit(0), lit(15)),
        i => (col("id") * i).cast("double")).as("da"))
    val both = df.select(
      Similarity.dot(col("fa"), col("da")).as("native"),
      aggregate(
        zip_with(transform(col("fa"), _.cast("double")), col("da"),
          (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("hof"))
    assert(both.collect().forall(r => r.getDouble(0) == r.getDouble(1)))
    // codegen: with codegen-friendly inputs (CreateArray, not a HOF
    // transform) the projection stays whole-stage compiled
    val cg = spark.range(100).select(
        array((0 until 8).map(i => (col("id") + i).cast("float")): _*).as("a"),
        array((0 until 8).map(i => (col("id") * i).cast("double")): _*).as("b"))
      .select(Similarity.dot(col("a"), col("b")))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.linesIterator.next().startsWith("*("), plan)
    // SQL registration
    assert(spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
    // null semantics: null element and length mismatch both yield NULL
    val edge = Seq(
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))),
      (Seq(Some(1.0)), Seq(Some(1.0), Some(2.0)))).toDF("a", "b")
    assert(edge.select(Similarity.dot(col("a"), col("b")))
      .collect().forall(_.isNullAt(0)))
    // int arrays widen like the cast spelling
    assert(spark.sql("SELECT graft_dot(array(1, 2), array(3L, 4L))")
      .head().getDouble(0) == 11.0)
  }

  test("graft_topk: bounded-heap aggregate equals the window spelling, SQL-callable") {
    graft.functions.GraftFunctions.register(spark)
    val n = 50000
    val df = spark.range(n.toLong).select(
      (col("id") % 7).as("query_id"), col("id").as("neighbor_id"),
      // heavy ties: only 100 distinct scores, so tie-break order matters
      ((col("id") % 100) / lit(10.0)).as("score"))
    df.createOrReplaceTempView("cands")
    val viaAgg = spark.sql(
      """SELECT query_id, e.id AS neighbor_id, e.score AS score,
        |  CAST(pos + 1 AS INT) AS rank
        |FROM (SELECT query_id, graft_topk(score, neighbor_id, 5) AS top
        |      FROM cands GROUP BY query_id)
        |LATERAL VIEW posexplode(top) t AS pos, e""".stripMargin)
    val viaWindow = spark.sql(
      """SELECT * FROM (
        |  SELECT query_id, neighbor_id, score, CAST(row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM cands) WHERE rank <= 5""".stripMargin)
    val a = viaAgg.orderBy("query_id", "rank").collect().map(_.toString).toSeq
    val b = viaWindow.orderBy("query_id", "rank").collect().map(_.toString).toSeq
    assert(a == b, s"agg=${a.take(3)} window=${b.take(3)}")
    assert(a.size == 35) // 7 queries x 5
    // partial aggregation: the plan must carry partial_graft_topk
    // (map-side combine), not a sort of all candidates
    val plan = spark.sql(
      "SELECT query_id, graft_topk(score, neighbor_id, 5) FROM cands GROUP BY query_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk"), plan.take(800))
  }

  test("DeltaLite reads a hand-built Delta log (add/remove replay)") {
    val table = tempDir("graft_delta")
    // two data files, second commit removes the first
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(table + "/f1")
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.parquet(table + "/f2")
    def onlyParquet(d: String): String =
      new java.io.File(table + "/" + d).listFiles()
        .map(_.getName).find(_.endsWith(".parquet")).get
    val (p1, p2) = (s"f1/${onlyParquet("f1")}", s"f2/${onlyParquet("f2")}")
    Files.createDirectories(Paths.get(table, "_delta_log"))
    Files.writeString(Paths.get(table, "_delta_log/00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":1}}
         |{"metaData":{"id":"t"}}
         |{"add":{"path":"$p1","size":1,"dataChange":true}}
         |{"add":{"path":"$p2","size":1,"dataChange":true}}""".stripMargin)
    Files.writeString(Paths.get(table, "_delta_log/00000000000000000001.json"),
      s"""{"remove":{"path":"$p1","dataChange":true}}""")
    assert(DeltaLite.activeFiles(spark, table) == Seq(p2))
    val out = DeltaLite.read(spark, table).as[(Long, String)].collect().toSeq
    assert(out == Seq((2L, "b")))
  }

  test("DeltaLite checkpoints every N commits and reads from the newest one") {
    val table = tempDir("graft_delta_c") + "/t"
    for (i <- 0 until 25)
      DeltaLite.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), table)
    val log = Paths.get(table, "_delta_log")
    // checkpoints at v10 and v20, _last_checkpoint pointing at 20
    assert(Files.exists(log.resolve("00000000000000000010.checkpoint.parquet")))
    assert(Files.exists(log.resolve("00000000000000000020.checkpoint.parquet")))
    assert(Files.readString(log.resolve("_last_checkpoint"))
      .contains("\"version\":20"))
    val all = DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(all == (0 until 25).map(i => (i.toLong, s"v$i")))
    // the reader genuinely starts from the checkpoint: clean up every
    // JSON commit at or below v20 (protocol log cleanup) and re-read
    import scala.jdk.CollectionConverters._
    Files.list(log).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        p.getFileName.toString.stripSuffix(".json").toLong <= 20L)
      .foreach(Files.delete)
    val afterCleanup = DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(afterCleanup == all, "checkpoint replay lost rows")
    // appends still version past the cleaned-up log
    assert(DeltaLite.write(Seq((99L, "x")).toDF("id", "v"), table) == 25L)
    assert(DeltaLite.read(spark, table).count() == 26)
  }

  test("DeltaLite checkpoint labeled v replays AT v, not HEAD") {
    val table = tempDir("graft_delta_ckv") + "/t"
    for (i <- 0 until 6)
      DeltaLite.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), table)
    // a checkpoint racing behind two already-landed OCC commits: the
    // file labeled v3 must hold v3's state, not HEAD's
    DeltaLite.checkpoint(spark, table, 3L,
      DeltaLite.read(spark, table).schema)
    val log = Paths.get(table, "_delta_log")
    assert(Files.exists(log.resolve("00000000000000000003.checkpoint.parquet")))
    // time travel to v3 starts from this checkpoint (ckpt <= asOf) and
    // must see exactly v0..v3's rows
    assert(DeltaLite.readAt(spark, table, 3L).count() == 4)
    // HEAD read replays the v4/v5 JSON commits on top
    assert(DeltaLite.read(spark, table).count() == 6)
  }

  test("DeltaLite writes versioned commits; append and overwrite round-trip") {
    val table = tempDir("graft_delta_w") + "/t"
    val v0 = DeltaLite.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), table)
    assert(v0 == 0L)
    val v1 = DeltaLite.write(Seq((3L, "c")).toDF("id", "v"), table)
    assert(v1 == 1L)
    val appended = DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(appended == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // overwrite removes the previous active set in the commit
    val v2 = DeltaLite.write(Seq((9L, "z")).toDF("id", "v"), table,
      overwrite = true)
    assert(v2 == 2L)
    assert(DeltaLite.read(spark, table).as[(Long, String)].collect().toSeq
      == Seq((9L, "z")))
    // protocol shape: v0 commit carries protocol + metaData with schema
    val commit0 = Files.readString(
      Paths.get(table, "_delta_log/00000000000000000000.json"))
    assert(commit0.contains("\"minReaderVersion\":1"))
    assert(commit0.contains("schemaString"))
    // a racing writer cannot claim an already-committed version: the
    // local FS create(overwrite=false) on an existing path must fail
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException] {
      fs.create(new org.apache.hadoop.fs.Path(
        table, "_delta_log/00000000000000000002.json"), false).close()
    }
    // schema evolution: an added column is an explicit opt-in; the
    // read serves the evolved log schema, not parquet inference
    DeltaLite.write(Seq((10L, "q", 5.5)).toDF("id", "v", "score"), table,
      mergeSchema = true)
    val evolved = DeltaLite.read(spark, table)
    assert(evolved.columns.toSet == Set("id", "v", "score"))
    val rows = evolved.select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows == Map(9L -> None, 10L -> Some(5.5)))
  }

  test("proto scalar decoder handles all four wire types without a runtime") {
    def pv(n: Long): Array[Byte] = {
      var v = n; val b = scala.collection.mutable.ArrayBuffer[Byte]()
      while ((v & ~0x7fL) != 0) { b += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
      b += v.toByte; b.toArray
    }
    def tag(f: Int, wt: Int) = pv((f << 3) | wt)
    def le64(x: Long) = (0 until 8).map(j => ((x >> (8 * j)) & 0xff).toByte).toArray
    def le32(x: Int) = (0 until 4).map(j => ((x >> (8 * j)) & 0xff).toByte).toArray
    val s = "héllo".getBytes("UTF-8")
    val msg: Array[Byte] =
      tag(1, 0) ++ pv(150) ++                                   // int64
      tag(2, 2) ++ pv(s.length) ++ s ++                          // string
      tag(3, 1) ++ le64(java.lang.Double.doubleToLongBits(3.5)) ++ // double
      tag(4, 0) ++ pv(1) ++                                      // bool
      tag(5, 5) ++ le32(java.lang.Float.floatToIntBits(2.5f))    // float
    val schema = StructType(Seq(
      StructField("n", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("f", FloatType), StructField("missing", StringType)))
    val fields = Map(1 -> "n", 2 -> "s", 3 -> "d", 4 -> "b", 5 -> "f",
      9 -> "missing")
    val df = Seq(Tuple1(msg)).toDF("raw")
    val out = ProtoReader.parseScalar(df, "raw", fields, schema).collect().head
    assert(out.toSeq == Seq(150L, "héllo", 3.5, true, 2.5f, null))
    // proto3 last-wins for repeated scalar occurrences
    val dup = msg ++ tag(1, 0) ++ pv(99)
    assert(ProtoReader.wireFields(dup)(1) == ProtoReader.VarintV(99L))
    // sint64: -1 zigzag-encodes as varint 1 — declared sint fields
    // decode through zigzag, undeclared stay plain varint
    assert(ProtoReader.zigzag(1L) == -1L)
    assert(ProtoReader.zigzag(2L) == 1L)
    assert(ProtoReader.zigzag(4294967294L) == 2147483647L)
    val sintMsg: Array[Byte] = tag(1, 0) ++ pv(1) // sint64 value -1
    val sintSchema = StructType(Seq(StructField("sn", LongType)))
    val sintOut = ProtoReader.parseScalar(
      Seq(Tuple1(sintMsg)).toDF("raw"), "raw", Map(1 -> "sn"), sintSchema,
      sintFields = Set("sn")).collect().head
    assert(sintOut.toSeq == Seq(-1L))
    val plainOut = ProtoReader.parseScalar(
      Seq(Tuple1(sintMsg)).toDF("raw"), "raw", Map(1 -> "sn"), sintSchema)
      .collect().head
    assert(plainOut.toSeq == Seq(1L))
  }

  test("DeltaLite time travel: readAt reconstructs each committed version") {
    val table = tempDir("graft_delta_tt") + "/t"
    DeltaLite.write(Seq((1L, "a")).toDF("id", "v"), table)
    DeltaLite.write(Seq((2L, "b")).toDF("id", "v"), table)
    DeltaLite.write(Seq((9L, "z")).toDF("id", "v"), table, overwrite = true)
    def at(ver: Long) = DeltaLite.readAt(spark, table, ver)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(at(0) == Seq((1L, "a")))
    assert(at(1) == Seq((1L, "a"), (2L, "b")))
    assert(at(2) == Seq((9L, "z"))) // overwrite logically removed v0-v1 files
    assert(at(2) == DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1))
    intercept[IllegalArgumentException](at(7))
  }

  test("DeltaLite restore re-activates an old version as a NEW commit; " +
      "history survives") {
    val table = tempDir("graft_delta_rs") + "/t"
    DeltaLite.write(Seq((1L, "a")).toDF("id", "v"), table)
    DeltaLite.write(Seq((2L, "b")).toDF("id", "v"), table)
    DeltaLite.write(Seq((9L, "z")).toDF("id", "v"), table, overwrite = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String)].collect().toSeq.sortBy(_._1)
    // restore to the pre-overwrite state: pure log surgery at v3
    val v = DeltaLite.restore(spark, table, 1L)
    assert(v == 3L)
    assert(rows(DeltaLite.read(spark, table)) ==
      Seq((1L, "a"), (2L, "b")))
    // the rolled-back version is STILL time-travelable (history kept)
    assert(rows(DeltaLite.readAt(spark, table, 2L)) == Seq((9L, "z")))
    assert(rows(DeltaLite.readAt(spark, table, 3L)) ==
      Seq((1L, "a"), (2L, "b")))
    // restoring to the state the head already has writes no commit
    assert(DeltaLite.restore(spark, table, 1L) == -1L)
    // a vacuumed target fails loudly instead of committing dead paths
    DeltaLite.restore(spark, table, 2L) // head back to (9,z), v4
    DeltaLite.vacuum(spark, table, retainVersions = 1)
    intercept[IllegalArgumentException](
      DeltaLite.restore(spark, table, 1L))
  }

  test("DeltaLite writeTxn: replayed batches skip, watermark survives " +
      "checkpoints, apps are independent") {
    val table = tempDir("graft_delta_txn") + "/t"
    assert(DeltaLite.writeTxn(Seq((1L, "a")).toDF("id", "v"), table,
      "app1", 0L) == 0L)
    assert(DeltaLite.writeTxn(Seq((2L, "b")).toDF("id", "v"), table,
      "app1", 1L) == 1L)
    // the replayed micro-batch (same appId+version, poison payload)
    // must be a no-op, not a duplicate append
    assert(DeltaLite.writeTxn(Seq((99L, "poison")).toDF("id", "v"), table,
      "app1", 1L) == -1L)
    assert(DeltaLite.lastTxnVersion(spark, table, "app1").contains(1L))
    assert(DeltaLite.lastTxnVersion(spark, table, "app2").isEmpty)
    // another app's stream interleaves freely
    assert(DeltaLite.writeTxn(Seq((3L, "c")).toDF("id", "v"), table,
      "app2", 0L) >= 0L)
    def rows() = DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // roll enough commits (versions 3-13) that the v10 checkpoint folds
    // the txn history away from the JSON tail — the watermark must
    // persist THROUGH it
    for (i <- 2 to 12)
      DeltaLite.writeTxn(Seq((10L + i, s"x$i")).toDF("id", "v"), table,
        "app1", i.toLong)
    assert(Files.readString(Paths.get(table, "_delta_log", "_last_checkpoint"))
      .contains("\"version\":10"))
    assert(DeltaLite.writeTxn(Seq((98L, "poison")).toDF("id", "v"), table,
      "app1", 12L) == -1L)
    assert(DeltaLite.lastTxnVersion(spark, table, "app1").contains(12L))
    // app2 committed only at v2, so its watermark now lives only in
    // the checkpoint
    assert(DeltaLite.lastTxnVersion(spark, table, "app2").contains(0L))
    assert(!rows().exists(_._2.startsWith("poison")))
  }

  test("DeltaLite mergeCdc: upserts replace, deletes drop, replay " +
      "skips, untouched files survive") {
    val table = tempDir("graft_delta_mc") + "/t"
    import org.apache.spark.sql.functions.{col, lit}
    val E = graft.model.CdcEnvelope
    // snapshot lands as two files so key-locality is observable
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "v").repartitionByRange(2, col("id"))
    DeltaLite.mergeCdc(spark, table, snap, Seq("id"),
      txn = Some(("app", 0L)))
    val filesBefore = DeltaLite.activeFiles(spark, table).toSet
    // batch: update id=1, delete id=2 — both in the low-key file
    val batch = Seq((1L, "A", E.Update), (2L, "b", E.Delete))
      .toDF("id", "v", E.Kind)
      .withColumn(E.Lsn, lit(10L)).withColumn(E.Counter, lit(0))
    DeltaLite.mergeCdc(spark, table, batch, Seq("id"),
      txn = Some(("app", 1L)))
    def rows() = DeltaLite.read(spark, table)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(rows() == Seq((1L, "A"), (3L, "c"), (4L, "d")))
    // copy-on-write sliver: the file holding only ids 3,4 is untouched
    val filesAfter = DeltaLite.activeFiles(spark, table).toSet
    assert(filesBefore.intersect(filesAfter).nonEmpty,
      s"every snapshot file was rewritten: $filesBefore -> $filesAfter")
    // replay of batch 1 with poison payload: watermark skips it whole
    val poison = Seq((3L, "POISON", E.Update)).toDF("id", "v", E.Kind)
      .withColumn(E.Lsn, lit(10L)).withColumn(E.Counter, lit(0))
    assert(DeltaLite.mergeCdc(spark, table, poison, Seq("id"),
      txn = Some(("app", 1L))) == -1L)
    assert(rows() == Seq((1L, "A"), (3L, "c"), (4L, "d")))
  }

  test("DeltaLite time travel ignores checkpoints newer than the target") {
    val table = tempDir("graft_delta_ttc") + "/t"
    for (i <- 0 until 15)
      DeltaLite.write(Seq((i.toLong, s"v$i")).toDF("id", "v"), table)
    // _last_checkpoint points at v10; reading v5 must replay JSON only
    val at5 = DeltaLite.readAt(spark, table, 5L)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(at5 == (0 to 5).map(i => (i.toLong, s"v$i")))
    // reading v12 may use the v10 checkpoint + 2 JSON commits
    assert(DeltaLite.readAt(spark, table, 12L).count() == 13)
  }

  test("DeltaLite vacuum deletes only files outside the retention set") {
    val table = tempDir("graft_delta_vac") + "/t"
    DeltaLite.write(Seq((1L, "a")).toDF("id", "v"), table)
    DeltaLite.write(Seq((2L, "b")).toDF("id", "v"), table)
    DeltaLite.write(Seq((9L, "z")).toDF("id", "v"), table, overwrite = true)
    def dataFiles() = {
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(table)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") &&
          !p.toString.contains("_delta_log")).size
    }
    assert(dataFiles() == 3)
    // retain 2 versions: v1 (files of v0+v1) and v2 (only its own file)
    assert(DeltaLite.vacuum(spark, table, retainVersions = 2) == 0)
    assert(dataFiles() == 3)
    // retain just the latest: the two overwritten files go away
    assert(DeltaLite.vacuum(spark, table, retainVersions = 1) == 2)
    assert(dataFiles() == 1)
    assert(DeltaLite.read(spark, table).as[(Long, String)].collect()
      .toSeq == Seq((9L, "z")))
    // history before the horizon is gone — like real Delta post-vacuum
    intercept[Exception] {
      DeltaLite.readAt(spark, table, 0L).collect()
    }
  }

  test("DeltaLite deleteWhere rewrites only files containing matches") {
    val table = tempDir("graft_delta_del") + "/t"
    // two single-file commits: ids 0-9 and 10-19
    DeltaLite.write(spark.range(0, 10).toDF("id").coalesce(1), table)
    DeltaLite.write(spark.range(10, 20).toDF("id").coalesce(1), table)
    val before = DeltaLite.activeFiles(spark, table).toSet
    assert(before.size == 2)
    val v = DeltaLite.deleteWhere(spark, table, col("id") === 3L)
    assert(v == 2L)
    val after = DeltaLite.activeFiles(spark, table).toSet
    // the 10-19 file survived untouched; the 0-9 file was replaced
    assert(after.intersect(before).size == 1)
    assert(DeltaLite.read(spark, table).count() == 19)
    assert(DeltaLite.read(spark, table).filter(col("id") === 3L).count() == 0)
    // time travel still sees the pre-delete state
    assert(DeltaLite.readAt(spark, table, 1L).count() == 20)
    // no match -> no commit, version unchanged
    assert(DeltaLite.deleteWhere(spark, table, col("id") === 999L) == -1L)
    assert(DeltaLite.activeFiles(spark, table).toSet == after)
  }

  test("DeltaLite upsert replaces matched keys and appends new ones") {
    val table = tempDir("graft_delta_ups") + "/t"
    DeltaLite.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), table)
    DeltaLite.write(Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .coalesce(1), table)
    val before = DeltaLite.activeFiles(spark, table).toSet
    // update id=3, insert id=9: only the (3,4) file is rewritten
    val v = DeltaLite.upsert(spark, table,
      Seq((3L, "C9"), (9L, "new")).toDF("id", "v"), Seq("id"))
    assert(v == 2L)
    val after = DeltaLite.activeFiles(spark, table).toSet
    assert(after.intersect(before).size == 1)
    val out = DeltaLite.read(spark, table).as[(Long, String)]
      .collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "C9"), (4L, "d"),
      (9L, "new")))
    // upsert into an empty table bootstraps it
    val t2 = tempDir("graft_delta_ups2") + "/t"
    assert(DeltaLite.upsert(spark, t2,
      Seq((1L, "x")).toDF("id", "v"), Seq("id")) == 0L)
    assert(DeltaLite.read(spark, t2).count() == 1)
  }

  test("DeltaLite changesBetween diffs versions; the feed folds into a rollup") {
    import graft.operators.Rollup
    val table = tempDir("graft_delta_cdf") + "/t"
    DeltaLite.write(Seq((1L, "g1", 10.0), (2L, "g1", 20.0), (3L, "g2", 5.0))
      .toDF("id", "g", "v"), table)                       // v0
    DeltaLite.upsert(spark,
      table, Seq((2L, "g1", 25.0), (9L, "g2", 7.0)).toDF("id", "g", "v"),
      Seq("id"))                                          // v1: update + insert
    DeltaLite.deleteWhere(spark, table, col("id") === 3L) // v2: delete
    val ch = DeltaLite.changesBetween(spark, table, 0L, 2L, Seq("id"))
    val kinds = ch.select(col("__kind"),
        coalesce(col("after.id"), col("before.id")).as("id"))
      .as[(String, Long)].collect().toSeq.sorted
    assert(kinds == Seq(("delete", 3L), ("insert", 9L), ("update", 2L)))

    // composition: fold the feed into the v0 rollup == recompute at v2
    val s0 = Rollup.init(DeltaLite.readAt(spark, table, 0L)
      .select("g", "v"), Seq("g"), Seq("v"))
    val chImg = ch.select(
      when(col("before").isNotNull,
        struct(col("before.g").as("g"), col("before.v").as("v"))).as("before"),
      when(col("after").isNotNull,
        struct(col("after.g").as("g"), col("after.v").as("v"))).as("after"),
      col("__kind"), col("__lsn"), col("__counter"))
    val folded = Rollup.merge(s0,
      Rollup.delta(Rollup.retractions(chImg), Seq("g"), Seq("v")),
      Seq("g"), Seq("v"))
    val direct = Rollup.init(DeltaLite.read(spark, table)
      .select("g", "v"), Seq("g"), Seq("v"))
    assert(folded.except(direct).count() == 0 &&
      direct.except(folded).count() == 0)
  }

  test("DeltaLite optimize bin-packs small files, preserving rows and history") {
    val table = tempDir("graft_delta_opt") + "/t"
    for (i <- 0 until 8)
      DeltaLite.write(spark.range(i * 10, i * 10 + 10).toDF("id")
        .coalesce(1), table)
    assert(DeltaLite.activeFiles(spark, table).size == 8)
    val v = DeltaLite.optimize(spark, table)
    assert(v == 8L)
    assert(DeltaLite.activeFiles(spark, table).size == 1)
    assert(DeltaLite.read(spark, table).as[Long].collect().sorted.toSeq ==
      (0L until 80L))
    // pre-compaction versions still reconstruct (removes are logical)
    assert(DeltaLite.readAt(spark, table, 3L).count() == 40)
    // second optimize: single file left, nothing to gain, no commit
    assert(DeltaLite.optimize(spark, table) == -1L)
  }

  test("cloudevents envelope parse") {
    val df = Seq(
      """{"specversion":"1.0","id":"e1","source":"/svc","type":"created","time":"2024-01-01T00:00:00Z","data":{"k":7}}""")
      .toDF("value")
    val out = CloudEvents.parse(df, "value",
      StructType(Seq(StructField("k", IntegerType))))
    val r = out.select("ce_id", "ce_type", "k").collect().head
    assert(r.toSeq == Seq("e1", "created", 7))
  }

  test("raw_to_table keeps payload bytes plus metadata") {
    val df = Seq(("t0", 3L, "payload")).toDF("topic", "offset", "value")
    val out = RawToTable.parse(df, "value", metaCols = Seq("topic", "offset"))
    assert(out.columns.toSeq == Seq("topic", "offset", "raw"))
    assert(new String(out.collect().head.getAs[Array[Byte]]("raw")) == "payload")
  }

  test("proto reader: pluggable decode over varint wire format") {
    // field 1 = 150 (varint): tag 0x08, value 0x96 0x01
    val msg = Array[Byte](0x08, 0x96.toByte, 0x01)
    assert(ProtoReader.varintFields(msg) == Map(1 -> 150L))
    val df = Seq(Tuple1(msg)).toDF("raw")
    val out = ProtoReader.parse(df, "raw",
      StructType(Seq(StructField("f1", LongType))),
      bytes => Seq(ProtoReader.varintFields(bytes)(1)))
    assert(out.as[Long].head() == 150L)
  }
}
