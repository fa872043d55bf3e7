package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import graft.operators.Rollup
import graft.streaming.CdcStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The one on-disk format of [[BucketedState]]: what its `write` leaves
  * is all that the writers and readers take. Each row below is a layout
  * the writer does not produce; every writer and reader refuses it with
  * an `IllegalStateException` naming the root or its meta, and leaves
  * the files as they were. The meta's key set is pinned too, so a format
  * change has to update this spec, the rows and docs/state-layout.md
  * together. */
class BucketedStateSpec extends SparkSpec {
  import spark.implicits._

  private val Meta = "_graft_meta.json"

  private def snapshot =
    spark.range(0, 40).select(col("id"), concat(lit("v"), col("id")).as("v"))

  /** A CDC state bootstrapped at `root`, its meta's text then replaced
    * by `edit` of it, or deleted when `edit` gives None (through the
    * filesystem, so its checksum follows). */
  private def bootstrapped(edit: String => Option[String])(root: String): Unit = {
    CdcStream.mergeBatch(snapshot, root, Seq("id"))
    val fs = BucketedState.fsOf(spark, root)
    val p = new Path(root, Meta)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    fs.delete(p, false)
    edit(text).foreach { edited =>
      val out = fs.create(p)
      try out.write(edited.getBytes(UTF_8)) finally out.close()
    }
  }

  /** A flat parquet dir at `root`, as `Sinks.parquet` writes one. */
  private def flat(root: String): Unit = Sinks.parquet(snapshot, root)

  /** A rollup changelog inserting rows `(g<id mod 2>, id)` for ids `0 until n`. */
  private def inserts(n: Long) = Rollup.retractions(spark.range(0, n).select(
    lit(null).cast("struct<grp:string,v:bigint>").as("before"),
    struct(concat(lit("g"), (col("id") % 2).cast("string")).as("grp"),
      col("id").as("v")).as("after"),
    lit(E.Insert).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter)))

  private def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  private val refused: Seq[(String, String => Unit)] = Seq(
    "a flat Sinks.parquet dir" -> flat,
    "__bucket= dirs with no meta" -> bootstrapped(_ => None),
    "a meta with only numBuckets" -> bootstrapped(_ => Some("""{"numBuckets":4}""")),
    "a meta with no bytes" -> bootstrapped(t => Some(t.replaceAll("\"bytes\":\\d+,", ""))),
    "a meta with no schemaB64" ->
      bootstrapped(t => Some(t.replaceAll(",\"schemaB64\":\"[^\"]*\"", ""))),
    "a meta whose schemaB64 does not parse" -> bootstrapped(t => Some(t.replaceAll(
      "\"schemaB64\":\"[^\"]*\"", "\"schemaB64\":\"" + b64("not a schema") + "\""))),
    "a manifest-less .bak that holds flat part-* files" -> { root =>
      flat(root)
      val bak = Files.createDirectories(Paths.get(root + ".bak"))
      val files = Files.list(Paths.get(root))
      try files.iterator().asScala.toList.foreach(f => Files.move(f, bak.resolve(f.getFileName)))
      finally files.close()
    })

  /** Every file under `root` and under its backup `root.bak`, by its
    * path inside that dir, with its bytes: a rollback of the backup into
    * the root keeps this map. */
  private def files(root: String): Map[String, Seq[Byte]] =
    Seq(root, root + ".bak").map(Paths.get(_)).filter(Files.exists(_)).flatMap { top =>
      val walk = Files.walk(top)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map((f: JPath) =>
        top.relativize(f).toString -> Files.readAllBytes(f).toSeq).toList
      finally walk.close()
    }.toMap

  for ((row, build) <- refused)
    test(s"refused layout, $row: every writer and reader throws naming the path, " +
      "and leaves the files as they were") {
      val root = tempDir("graft_refused") + "/state"
      build(root)
      val before = files(root)
      assert(before.nonEmpty)
      val batch = Seq((1L, "w1", "update", 1L)).toDF("id", "v", E.Kind, E.Lsn)
        .withColumn(E.Counter, lit(0))
      val calls = Seq[(String, () => Any)](
        "readState" -> (() => CdcStream.readState(spark, root)),
        "lookup" -> (() => CdcStream.lookup(spark, root, Seq("id"), Seq(1L))),
        "readBucketed" -> (() => Rollup.readBucketed(spark, root)),
        "mergeBatch" -> (() => CdcStream.mergeBatch(batch, root, Seq("id"))),
        "foldBucketed" -> (() => Rollup.foldBucketed(spark, root, inserts(4),
          Seq("grp"), Seq("v"), batchId = 0L)))
      for ((name, call) <- calls) {
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(root), s"$name: ${e.getMessage}")
        assert(files(root) == before, s"$name changed the files")
      }
    }

  /** The keys of the meta under `root`. */
  private def metaKeys(root: String): Set[String] =
    "\"([A-Za-z0-9]+)\"\\s*:".r.findAllMatchIn(
      Files.readString(Paths.get(root, Meta))).map(_.group(1)).toSet

  test("the meta holds exactly n0, level, split, bytes and schemaB64, plus " +
    "batch for a numbered fold") {
    val layout = Set("n0", "level", "split", "bytes", "schemaB64")
    val cdc = tempDir("graft_metakeys") + "/cdc"
    CdcStream.mergeBatch(snapshot, cdc, Seq("id"))
    assert(metaKeys(cdc) == layout, "after a bootstrap")
    CdcStream.mergeBatch(Seq((3L, "w", 7L)).toDF("id", "v", "extra")
      .withColumn(E.Kind, lit("update")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0)), cdc, Seq("id"))
    assert(CdcStream.readState(spark, cdc).columns.contains("extra"))
    assert(metaKeys(cdc) == layout, "after a drift batch")
    val rollup = tempDir("graft_metakeys") + "/rollup"
    Rollup.foldBucketed(spark, rollup, inserts(4), Seq("grp"), Seq("v"), batchId = 0L)
    assert(metaKeys(rollup) == layout + "batch", "after a numbered fold")
  }
}
