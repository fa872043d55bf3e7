package graft.functions

import graft.SparkSpec
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-window regression for the standing indexes: a compaction or
  * rebuild that dies between the two renames of its directory swap
  * leaves the index directory missing, with the old tree in
  * `<dir>.__<swap>_bak` and the complete new tree in
  * `<dir>.__<swap>_tmp`. The next writer must recover that state
  * before it decides whether the index exists: its pairs must equal an
  * uncrashed run's, and the next compaction must keep every row. */
class StandingIndexSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(conf)

  private val swaps = Seq("compact", "rebuild")

  /** The state after the swap of `dir` moved the live tree to its
    * backup and before it moved the staged tree in. The staged tree is
    * a copy of the live one: complete, and holding the same rows. */
  private def crashMidSwap(dir: String, swap: String): Unit = {
    assert(FileUtil.copy(fs, new Path(dir), fs,
      new Path(s"$dir.__${swap}_tmp"), false, conf))
    assert(fs.rename(new Path(dir), new Path(s"$dir.__${swap}_bak")))
  }

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Five arrivals into a fresh index at `root`, then a compaction.
    * After the third arrival `afterThird` runs: a compaction in the
    * reference run, the crash state of one (or of a rebuild)
    * otherwise. Returns every pair the arrivals discovered. */
  private def feed(root: String, afterThird: String => Unit,
                   arrive: (String, Int) => Set[Seq[Any]],
                   compact: String => Unit): Set[Seq[Any]] = {
    val found = (0 until 5).flatMap { m =>
      val got = arrive(root, m)
      if (m == 2) afterThird(root)
      got
    }.toSet
    compact(root)
    found
  }

  /** Crash each directory of the index (`""` = the root) mid-swap for
    * both swaps and compare against the uncrashed reference run. Every
    * case runs; the failures are reported together. */
  private def check(name: String, dirs: Seq[String],
                    arrive: (String, Int) => Set[Seq[Any]],
                    compact: String => Unit,
                    rows: String => Seq[Long]): Unit = {
    val base = tempDir(s"graft_$name")
    val ref = feed(s"$base/ref", compact, arrive, compact)
    assert(ref.nonEmpty, "vacuous: the arrivals discover no pairs")
    val refRows = rows(s"$base/ref")
    val problems = for (dir <- dirs; swap <- swaps) yield {
      val case_ = s"${if (dir.isEmpty) "root" else dir}_$swap"
      val root = s"$base/$case_"
      def at(r: String) = if (dir.isEmpty) r else s"$r/$dir"
      scala.util.Try {
        val got = feed(root, r => crashMidSwap(at(r), swap), arrive, compact)
        val n = rows(root)
        val left = for (s <- swaps; side <- Seq("tmp", "bak")
                        if fs.exists(new Path(s"${at(root)}.__${s}_$side")))
          yield s"${s}_$side"
        if (got == ref && n == refRows && left.isEmpty) None
        else Some(s"$case_: found ${got.intersect(ref).size} of " +
          s"${ref.size} pairs (${(got -- ref).size} extra); index rows " +
          s"$n after the last compaction, want $refRows; sidecars left: " +
          left.mkString(","))
      }.recover { case e: Exception => Some(s"$case_: threw $e") }.get
    }
    assert(problems.flatten.isEmpty, s"$name: " + problems.flatten.mkString("; "))
  }

  private def count(path: String): Long = spark.read.parquet(path).count()

  private lazy val docs = graft.Tables.load(spark, sf(), "documents")
    .select(col("doc_id"), col("text"))
  private lazy val emb = graft.Tables.load(spark, sf(), "embeddings")

  test("band index: a compaction or rebuild crashed mid-swap loses " +
    "no pairs and no rows") {
    check("band", Seq(""),
      (idx, m) => rowsOf(Dedup.bandIndexUpdate(idx,
        docs.filter(col("doc_id") % 5 === m), "text", "doc_id")),
      idx => Dedup.bandIndexCompact(spark, idx),
      idx => Seq(count(idx)))
  }

  test("containment index: a crash mid-swap of postings/ or dford/ " +
    "loses no pairs and no rows") {
    val d = docs.filter(col("doc_id") < 200)
    check("containment", Seq("postings", "dford"),
      (idx, m) => rowsOf(Dedup.containmentIndexUpdate(idx,
        d.filter(col("doc_id") % 5 === m), "text", "doc_id", theta = 0.6)),
      idx => Dedup.containmentIndexCompact(spark, idx),
      idx => Seq(count(s"$idx/postings"), count(s"$idx/dford")))
  }

  test("embedding index: a compaction or rebuild crashed mid-swap " +
    "loses no pairs and no rows") {
    check("embedding", Seq(""),
      (idx, m) => rowsOf(Dedup.embeddingIndexUpdate(idx,
          emb.filter(col("vec_id") % 5 === m), "embedding", "vec_id",
          minCos = 0.35)
        .withColumn("cos", round(col("cos"), 9))),
      idx => Dedup.embeddingIndexCompact(spark, idx),
      idx => Seq(count(idx)))
  }

  test("ivf index: an append after a crashed compaction or rebuild " +
    "probes like the uncrashed index and keeps every row") {
    val cents = Similarity.fitCentroids(emb, "embedding", "vec_id",
      k = 4, iterations = 0)
    val queries = emb.filter(col("vec_id") < 10)
    check("ivf", Seq(""),
      (idx, m) => {
        Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 5 === m), idx,
          cents, "embedding", "vec_id")
        rowsOf(Similarity.ivfIndexProbe(queries, idx, cents,
          "embedding", "vec_id", k = 5, nprobe = 2)
          .withColumn("arrival", lit(m)))
      },
      idx => Similarity.ivfIndexCompact(spark, idx),
      idx => Seq(count(idx)))
  }
}
