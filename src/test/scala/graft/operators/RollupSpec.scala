package graft.operators

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

class RollupSpec extends SparkSpec {
  import spark.implicits._

  // (grp, v) row image as a struct column expression
  private def img(grp: Column, v: Column) =
    struct(grp.as("grp"), v.as("v"))
  private val nullImg = lit(null).cast("struct<grp:string,v:bigint>")

  private def change(kind: String, lsn: Long,
                     before: Column, after: Column): DataFrame =
    spark.range(1).select(before.as("before"), after.as("after"),
      lit(kind).as(E.Kind), lit(lsn).as(E.Lsn), lit(0).as(E.Counter))

  private def state(rows: Seq[(String, Long, Long)]): DataFrame =
    rows.toDF("grp", "n_rows", "sum_v")

  private def collectState(df: DataFrame): Set[(String, Long, Long)] =
    df.select("grp", "n_rows", "sum_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental fold equals recompute across two batches") {
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L))
      .toDF("grp", "v")
    val s0 = Rollup.init(base, Seq("grp"), Seq("v"))

    // batch 1: insert into b, update a(10 -> 11), delete c(7)
    val b1 = change(E.Insert, 1, nullImg, img(lit("b"), lit(100L)))
      .union(change(E.Update, 2, img(lit("a"), lit(10L)),
        img(lit("a"), lit(11L))))
      .union(change(E.Delete, 3, img(lit("c"), lit(7L)), nullImg))
    val s1 = Rollup.merge(s0,
      Rollup.delta(Rollup.retractions(b1), Seq("grp"), Seq("v")),
      Seq("grp"), Seq("v"))
    assert(collectState(s1) == Set(("a", 2L, 31L), ("b", 2L, 105L)))

    // batch 2: group-moving update b(100) -> d(100); the retraction
    // pair lands in two different groups
    val b2 = change(E.Update, 4, img(lit("b"), lit(100L)),
      img(lit("d"), lit(100L)))
    val s2 = Rollup.merge(s1,
      Rollup.delta(Rollup.retractions(b2), Seq("grp"), Seq("v")),
      Seq("grp"), Seq("v"))
    assert(collectState(s2) ==
      Set(("a", 2L, 31L), ("b", 1L, 5L), ("d", 1L, 100L)))
  }

  test("a group emptied by deletes leaves the state") {
    val s0 = state(Seq(("a", 1L, 10L), ("b", 2L, 9L)))
    val b = change(E.Delete, 1, img(lit("a"), lit(10L)), nullImg)
    val s1 = Rollup.merge(s0,
      Rollup.delta(Rollup.retractions(b), Seq("grp"), Seq("v")),
      Seq("grp"), Seq("v"))
    assert(collectState(s1) == Set(("b", 2L, 9L)))
  }

  test("unknown kind and negative counts fail loudly") {
    val bad = change("truncate", 1, nullImg, img(lit("a"), lit(1L)))
    intercept[Exception] {
      Rollup.retractions(bad).collect()
    }
    // retracting a row from a group with no state rows
    val s0 = state(Seq(("a", 1L, 10L)))
    val over = change(E.Delete, 1, img(lit("z"), lit(5L)), nullImg)
    intercept[Exception] {
      Rollup.merge(s0,
        Rollup.delta(Rollup.retractions(over), Seq("grp"), Seq("v")),
        Seq("grp"), Seq("v")).collect()
    }
  }

  test("fold maintains parquet state across streaming micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tempDir("graft_rollup")
    val statePath = root + "/state"
    // (kind, lsn, bgrp, bv, agrp, av); empty group string = null image
    val mem = MemoryStream[(String, Long, String, Long, String, Long)]
    val stream = mem.toDF().toDF(E.Kind, E.Lsn, "bg", "bv", "ag", "av")
      .select(col(E.Kind), col(E.Lsn), lit(0).as(E.Counter),
        when(col("bg") =!= "", img(col("bg"), col("bv"))).as("before"),
        when(col("ag") =!= "", img(col("ag"), col("av"))).as("after"))
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        Rollup.foldBucketed(spark, statePath, Rollup.retractions(b),
          Seq("grp"), Seq("v"), batchId = id); ()
      }
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      mem.addData((E.Insert, 1L, "", 0L, "a", 10L),
        (E.Insert, 2L, "", 0L, "a", 20L),
        (E.Insert, 3L, "", 0L, "b", 5L))
      q.processAllAvailable()
      assert(collectState(Rollup.readBucketed(spark, statePath)) ==
        Set(("a", 2L, 30L), ("b", 1L, 5L)))
      mem.addData((E.Update, 4L, "a", 10L, "a", 11L),
        (E.Delete, 5L, "b", 5L, "", 0L))
      q.processAllAvailable()
      assert(collectState(Rollup.readBucketed(spark, statePath)) ==
        Set(("a", 2L, 31L)))
    } finally q.stop()
  }

  test("fold with a batchId is exactly-once under replay") {
    val root = tempDir("graft_rollup_rep")
    val statePath = root + "/state"
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b1),
      Seq("grp"), Seq("v"), batchId = 0L)
    // replay of batch 0 (crash after swap, before checkpoint commit):
    // must be a no-op, not a double fold
    val replayed = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b1),
      Seq("grp"), Seq("v"), batchId = 0L)
    assert(collectState(replayed) == Set(("a", 1L, 10L)))
    // the next batch id folds normally
    val b2 = change(E.Insert, 2, nullImg, img(lit("a"), lit(5L)))
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(collectState(st) == Set(("a", 2L, 15L)))
  }

  test("fold recovers the pre-fold state from a crashed swap") {
    val root = tempDir("graft_rollup_bak")
    val statePath = root + "/state"
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b1),
      Seq("grp"), Seq("v"))
    // simulate a crash between the two halves of the swap: every live
    // child (buckets and meta) went to .bak, the new state never arrived
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new org.apache.hadoop.fs.Path(statePath + ".bak")
    fs.mkdirs(bak)
    fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).map(_.getPath)
      .filterNot(_.getName.startsWith("."))
      .foreach(p => fs.rename(p, new org.apache.hadoop.fs.Path(bak, p.getName)))
    val b2 = change(E.Insert, 2, nullImg, img(lit("a"), lit(5L)))
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"))
    assert(collectState(st) == Set(("a", 2L, 15L)))
  }

  test("property: a random changelog folded batch-by-batch equals recompute") {
    val rnd = new scala.util.Random(20260813)
    val live = scala.collection.mutable.Map[Int, (String, Long)]()
    var nextId = 0
    def freshRow() = ("g" + rnd.nextInt(5), rnd.nextInt(100).toLong)
    for (_ <- 0 until 20) { live(nextId) = freshRow(); nextId += 1 }
    var st = Rollup.init(
      live.values.toSeq.toDF("grp", "v"), Seq("grp"), Seq("v"))
    for (_ <- 0 until 5) {
      val ops = Seq.newBuilder[
        (String, Option[String], Option[Long], Option[String], Option[Long])]
      for (_ <- 0 until 30) {
        val c = rnd.nextInt(3)
        if (c == 0 || live.isEmpty) {
          val r = freshRow(); live(nextId) = r; nextId += 1
          ops += (("insert", None, None, Some(r._1), Some(r._2)))
        } else {
          val id = live.keys.toSeq(rnd.nextInt(live.size))
          val b = live(id)
          if (c == 1) { // update, possibly group-moving
            val a = freshRow(); live(id) = a
            ops += (("update", Some(b._1), Some(b._2), Some(a._1), Some(a._2)))
          } else {
            live.remove(id)
            ops += (("delete", Some(b._1), Some(b._2), None, None))
          }
        }
      }
      val raw = ops.result().zipWithIndex.map { case (o, i) =>
        (o._1, o._2, o._3, o._4, o._5, i.toLong) }
        .toDF("k", "bg", "bv", "ag", "av", "lsn")
      val ch = raw.select(
        when(col("bg").isNotNull, img(col("bg"), col("bv"))).as("before"),
        when(col("ag").isNotNull, img(col("ag"), col("av"))).as("after"),
        col("k").as(E.Kind), col("lsn").as(E.Lsn), lit(0).as(E.Counter))
      st = Rollup.merge(st,
        Rollup.delta(Rollup.retractions(ch), Seq("grp"), Seq("v")),
        Seq("grp"), Seq("v"))
    }
    val truth =
      if (live.isEmpty) Set.empty[(String, Long, Long)]
      else collectState(Rollup.init(
        live.values.toSeq.toDF("grp", "v"), Seq("grp"), Seq("v")))
    assert(collectState(st) == truth)
  }

  private def collectExt(df: DataFrame): Set[(String, Long, Long, Long, Long)] =
    df.select("grp", "n_rows", "sum_v", "min_v", "max_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  test("extrema fold: inserts extend in-state, extremum deletes repair from base") {
    // a: 10,20,30 — delete the max (30): repair must find runner-up 20
    // b: 5,8      — insert 9: max extends in-state, no repair
    // c: new group via inserts only
    val baseRows = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 5L), ("b", 8L))
    val s0 = Rollup.initWithExtrema(baseRows.toDF("grp", "v"),
      Seq("grp"), Seq("v"))
    assert(collectExt(s0) == Set(("a", 3L, 60L, 10L, 30L),
      ("b", 2L, 13L, 5L, 8L)))
    val batch = change(E.Delete, 1, img(lit("a"), lit(30L)), nullImg)
      .union(change(E.Insert, 2, nullImg, img(lit("b"), lit(9L))))
      .union(change(E.Insert, 3, nullImg, img(lit("c"), lit(42L))))
    // base AFTER the batch applied — the caller's contract
    val after = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("b", 8L),
      ("b", 9L), ("c", 42L)).toDF("grp", "v")
    val s1 = Rollup.foldWithExtrema(s0, Rollup.retractions(batch),
      after, Seq("grp"), Seq("v"))
    assert(collectExt(s1) == Set(("a", 2L, 30L, 10L, 20L),
      ("b", 3L, 22L, 5L, 9L), ("c", 1L, 42L, 42L, 42L)))
  }

  test("extrema fold: only repair groups touch the base table") {
    // base is a SPY: restrict it to the repair group and the fold must
    // still be exact — proof the non-repair groups never read base
    val s0 = Rollup.initWithExtrema(
      Seq(("a", 1L), ("a", 9L), ("b", 3L)).toDF("grp", "v"),
      Seq("grp"), Seq("v"))
    val batch = change(E.Delete, 1, img(lit("a"), lit(1L)), nullImg)
    val afterOnlyA = Seq(("a", 9L)).toDF("grp", "v") // b withheld
    val s1 = Rollup.foldWithExtrema(s0, Rollup.retractions(batch),
      afterOnlyA, Seq("grp"), Seq("v"))
    assert(collectExt(s1) == Set(("a", 1L, 9L, 9L, 9L),
      ("b", 1L, 3L, 3L, 3L)))
  }

  test("extrema fold: group created and updated within one batch repairs") {
    // group d is new to the state; insert 7 then update 7 -> 50 in the
    // SAME batch. The retracted before-image (7) must not survive as
    // the min — the intra-batch delete forces repair even though the
    // state holds no extrema for d.
    val s0 = Rollup.initWithExtrema(
      Seq(("a", 1L)).toDF("grp", "v"), Seq("grp"), Seq("v"))
    val batch = change(E.Insert, 1, nullImg, img(lit("d"), lit(7L)))
      .union(change(E.Update, 2, img(lit("d"), lit(7L)),
        img(lit("d"), lit(50L))))
    val after = Seq(("a", 1L), ("d", 50L)).toDF("grp", "v")
    val s1 = Rollup.foldWithExtrema(s0, Rollup.retractions(batch),
      after, Seq("grp"), Seq("v"))
    assert(collectExt(s1) == Set(("a", 1L, 1L, 1L, 1L),
      ("d", 1L, 50L, 50L, 50L)))
  }

  test("property: random changelog with extrema equals recompute") {
    val rnd = new scala.util.Random(20260814)
    val live = scala.collection.mutable.Map[Int, (String, Long)]()
    var nextId = 0
    def freshRow() = ("g" + rnd.nextInt(4), rnd.nextInt(50).toLong)
    for (_ <- 0 until 15) { live(nextId) = freshRow(); nextId += 1 }
    var st = Rollup.initWithExtrema(
      live.values.toSeq.toDF("grp", "v"), Seq("grp"), Seq("v"))
    for (_ <- 0 until 4) {
      val ops = Seq.newBuilder[
        (String, Option[String], Option[Long], Option[String], Option[Long])]
      for (_ <- 0 until 20) {
        val c = rnd.nextInt(3)
        if (c == 0 || live.isEmpty) {
          val r = freshRow(); live(nextId) = r; nextId += 1
          ops += (("insert", None, None, Some(r._1), Some(r._2)))
        } else {
          val id = live.keys.toSeq(rnd.nextInt(live.size))
          val b = live(id)
          if (c == 1) {
            val a = freshRow(); live(id) = a
            ops += (("update", Some(b._1), Some(b._2), Some(a._1), Some(a._2)))
          } else {
            live.remove(id)
            ops += (("delete", Some(b._1), Some(b._2), None, None))
          }
        }
      }
      val raw = ops.result().zipWithIndex.map { case (o, i) =>
        (o._1, o._2, o._3, o._4, o._5, i.toLong) }
        .toDF("k", "bg", "bv", "ag", "av", "lsn")
      val ch = raw.select(
        when(col("bg").isNotNull, img(col("bg"), col("bv"))).as("before"),
        when(col("ag").isNotNull, img(col("ag"), col("av"))).as("after"),
        col("k").as(E.Kind), col("lsn").as(E.Lsn), lit(0).as(E.Counter))
      val after =
        if (live.isEmpty) Seq.empty[(String, Long)].toDF("grp", "v")
        else live.values.toSeq.toDF("grp", "v")
      st = Rollup.foldWithExtrema(st, Rollup.retractions(ch), after,
        Seq("grp"), Seq("v"))
    }
    val truth =
      if (live.isEmpty) Set.empty[(String, Long, Long, Long, Long)]
      else collectExt(Rollup.initWithExtrema(
        live.values.toSeq.toDF("grp", "v"), Seq("grp"), Seq("v")))
    assert(collectExt(st) == truth)
  }

  private def jvmBucket(key: String, n: Int): Long =
    math.floorMod(graft.functions.Hashing.hex8ToLongJvm(key), n.toLong)

  /** The bucketed state's commit record: layout, bytes and batch id. */
  private val Meta = "_graft_meta.json"

  private def readBytes(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  test("bucketed fold rewrites ONLY the buckets its batch touches") {
    val root = tempDir("graft_rollup_bk")
    val statePath = root + "/state"
    val n = 8
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // bootstrap: groups spread over several buckets
    val groups = Seq("a", "b", "c", "d", "e")
    val boot = groups.zipWithIndex.map { case (g, i) =>
      change(E.Insert, i.toLong, nullImg, img(lit(g), lit(10L * (i + 1))))
    }.reduce(_ union _)
    withPartitions(n)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(boot), Seq("grp"), Seq("v"), batchId = 0L))
    assert(collectState(Rollup.readBucketed(spark, statePath)) ==
      groups.zipWithIndex.map { case (g, i) => (g, 1L, 10L * (i + 1)) }.toSet)

    // record per-bucket mtimes, then fold a batch touching ONLY "a"
    def mtimes(): Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(statePath))
        .filter(_.getPath.getName.startsWith("__bucket"))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = mtimes()
    val touched = s"__bucket=${jvmBucket("a", n)}"
    val b2 = change(E.Insert, 100L, nullImg, img(lit("a"), lit(7L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    val after = mtimes()
    for ((dir, t0) <- before if dir != touched)
      assert(after(dir) == t0, s"untouched bucket $dir was rewritten")
    assert(after(touched) != before(touched) ||
      !before.contains(touched))
    val st = collectState(Rollup.readBucketed(spark, statePath))
    assert(st.contains(("a", 2L, 17L)) && st.size == 5)

    // replay of batch 1 must be a no-op, not a double fold
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(collectState(Rollup.readBucketed(spark, statePath)) == st)
  }

  test("bucketed fold recovers the pre-fold state from a crashed swap") {
    val root = tempDir("graft_rollup_bkc")
    val statePath = root + "/state"
    val n = 4
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    withPartitions(n)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b1), Seq("grp"), Seq("v"), batchId = 0L))
    // simulate a crash mid-swap: a's bucket and the meta moved to
    // .bak, nothing new moved in
    val bkt = s"__bucket=${jvmBucket("a", n)}"
    val bak = new org.apache.hadoop.fs.Path(statePath + ".bak")
    fs.mkdirs(bak)
    fs.rename(new org.apache.hadoop.fs.Path(statePath, bkt),
      new org.apache.hadoop.fs.Path(bak, bkt))
    fs.rename(new org.apache.hadoop.fs.Path(statePath, Meta),
      new org.apache.hadoop.fs.Path(bak, Meta))
    // the batch never committed, so it replays: recovery must restore
    // the pre-fold state (incl. the meta of batch 0) and fold ONCE
    val b2 = change(E.Insert, 2, nullImg, img(lit("a"), lit(5L)))
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(collectState(st) == Set(("a", 2L, 15L)))
  }

  test("crashed swap with a folded FRESH bucket does not double-count " +
      "on replay") {
    val root = tempDir("graft_rollup_bkf")
    val statePath = root + "/state"
    val n = 4
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a key landing in a different bucket than "a" => its bucket has
    // NO pre-fold state and thus no .bak counterpart
    val zKey = Iterator.from(0).map(i => s"z$i")
      .find(k => jvmBucket(k, n) != jvmBucket("a", n)).get
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    withPartitions(n)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b1), Seq("grp"), Seq("v"), batchId = 0L))
    val meta0 = readBytes(fs, new org.apache.hadoop.fs.Path(statePath, Meta))
    val b2 = change(E.Insert, 2, nullImg, img(lit(zKey), lit(5L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    // rewind into the crash window: the fresh bucket is already folded
    // into the root, but the pre-fold meta (batch 0) rode into .bak
    // with the fresh-item manifest and the post-fold meta was never
    // moved in
    val zBkt = s"__bucket=${jvmBucket(zKey, n)}"
    val bak = new org.apache.hadoop.fs.Path(statePath + ".bak")
    fs.mkdirs(bak)
    fs.delete(new org.apache.hadoop.fs.Path(statePath, Meta), false)
    val mo = fs.create(new org.apache.hadoop.fs.Path(bak, Meta))
    try mo.write(meta0) finally mo.close()
    // manifest as the interrupted fold (batch 1) would have written it:
    // its batch id in the header, the fresh bucket, the terminator. The
    // root meta is gone (crash before the post-fold meta moved in), so
    // recovery must take the rollback path, not the resume-teardown one.
    val fo = fs.create(new org.apache.hadoop.fs.Path(bak, "_graft_fresh"))
    try fo.write(s"batch=1\n$zBkt\n#end".getBytes("UTF-8"))
    finally fo.close()
    // replay of batch 1: recovery must DELETE the folded fresh bucket
    // (it has no .bak counterpart) before restoring, then fold once
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(collectState(st) == Set(("a", 1L, 10L), (zKey, 1L, 5L)))
  }

  test("committed fold with a half-torn .bak resumes teardown instead " +
      "of rolling back") {
    // the data-loss window the manifest header closes: the post-fold
    // meta committed, then the .bak teardown crashed after the bucket
    // backups were gone but while the fresh manifest survived. A naive
    // rollback would delete the committed fresh bucket (irrestorable)
    // and keep the post-fold meta, so the replay is skipped and the
    // fresh key's data silently lost.
    val root = tempDir("graft_rollup_bkt")
    val statePath = root + "/state"
    val n = 4
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zKey = Iterator.from(0).map(i => s"z$i")
      .find(k => jvmBucket(k, n) != jvmBucket("a", n)).get
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    withPartitions(n)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b1), Seq("grp"), Seq("v"), batchId = 0L))
    val b2 = change(E.Insert, 2, nullImg, img(lit(zKey), lit(5L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    // root is fully post-fold (meta batch 1); .bak holds ONLY the live
    // manifest of batch 1 — its backups already torn down
    val bak = new org.apache.hadoop.fs.Path(statePath + ".bak")
    fs.mkdirs(bak)
    val zBkt = s"__bucket=${jvmBucket(zKey, n)}"
    val fo = fs.create(new org.apache.hadoop.fs.Path(bak, "_graft_fresh"))
    try fo.write(s"batch=1\n$zBkt\n#end".getBytes("UTF-8"))
    finally fo.close()
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(collectState(st) == Set(("a", 1L, 10L), (zKey, 1L, 5L)))
    assert(!fs.exists(bak), ".bak teardown resumed")
  }

  test("UNMARKED committed fold with a half-torn .bak resumes teardown " +
      "via the commit sentinel") {
    // with batchId = -1 the manifest header (batch=-1) can never match a
    // root meta's batch, so the id-based commit check alone would roll back a
    // committed-but-half-torn .bak, deleting the committed fresh bucket
    // it can no longer restore. The _graft_done sentinel (stamped at the
    // commit point, deleted last) is what recovery must key on.
    val root = tempDir("graft_rollup_bks")
    val statePath = root + "/state"
    val n = 4
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zKey = Iterator.from(0).map(i => s"z$i")
      .find(k => jvmBucket(k, n) != jvmBucket("a", n)).get
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    withPartitions(n)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b1), Seq("grp"), Seq("v")))
    val b2 = change(E.Insert, 2, nullImg, img(lit(zKey), lit(5L)))
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"))
    // root is fully post-fold (its meta records no batch: the folds are
    // unnumbered);
    // .bak holds the live manifest AND the commit sentinel, its bucket
    // backups already torn down
    val bak = new org.apache.hadoop.fs.Path(statePath + ".bak")
    fs.mkdirs(bak)
    val zBkt = s"__bucket=${jvmBucket(zKey, n)}"
    val fo = fs.create(new org.apache.hadoop.fs.Path(bak, "_graft_fresh"))
    try fo.write(s"batch=-1\n$zBkt\n#end".getBytes("UTF-8"))
    finally fo.close()
    fs.create(new org.apache.hadoop.fs.Path(bak, "_graft_done")).close()
    // the next (unmarked) fold must NOT roll back: the committed zKey
    // bucket has no backup, rollback would delete it permanently
    val b3 = change(E.Insert, 3, nullImg, img(lit("a"), lit(1L)))
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b3),
      Seq("grp"), Seq("v"))
    assert(collectState(st) == Set(("a", 2L, 11L), (zKey, 1L, 5L)))
    assert(!fs.exists(bak), ".bak teardown resumed")
  }

  test("bucketed fold that retracts the whole state returns a typed " +
      "empty frame") {
    val root = tempDir("graft_rollup_bke")
    val statePath = root + "/state"
    val b1 = change(E.Insert, 1, nullImg, img(lit("a"), lit(10L)))
    withPartitions(4)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b1), Seq("grp"), Seq("v"), batchId = 0L))
    val b2 = change(E.Delete, 2, img(lit("a"), lit(10L)), nullImg)
    val st = Rollup.foldBucketed(spark, statePath, Rollup.retractions(b2),
      Seq("grp"), Seq("v"), batchId = 1L)
    assert(st.count() == 0)
    assert(st.columns.toSeq == Seq("grp", "n_rows", "sum_v"))
    // and the replay (same batch id) still short-circuits to empty
    val replay = Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(b2), Seq("grp"), Seq("v"), batchId = 1L)
    assert(replay.count() == 0)
  }

  test("bucketed extrema fold: fold+repair == recompute, only touched " +
      "buckets rewrite") {
    val root = tempDir("graft_rollup_bkm")
    val statePath = root + "/state"
    val n = 8
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bootstrap: 40 rows over 4 groups
    val base0 = (1L to 40L).map(i => (s"g${i % 4}", i)).toDF("grp", "v")
    val boot = base0.select(
      lit(null).cast("struct<grp:string,v:bigint>").as("before"),
      struct(col("grp"), col("v")).as("after"),
      lit(E.Insert).as(E.Kind), col("v").as(E.Lsn), lit(0).as(E.Counter))
    withPartitions(n)(Rollup.foldBucketedWithExtrema(spark, statePath,
      Rollup.retractions(boot), base0, Seq("grp"), Seq("v"), batchId = 0L))
    val mtimes0 = fs.listStatus(new org.apache.hadoop.fs.Path(statePath))
      .filter(_.getPath.getName.startsWith("__bucket="))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap

    // batch: delete g1's current max (v=37) and insert a new g1 row —
    // exercises the repair path; only g1's bucket should rewrite
    val b1 = change(E.Delete, 100, img(lit("g1"), lit(37L)), nullImg)
      .union(change(E.Insert, 101, nullImg, img(lit("g1"), lit(2L))))
    val base1 = base0.filter(!(col("grp") === "g1" && col("v") === 37L))
      .unionByName(Seq(("g1", 2L)).toDF("grp", "v"))
    Thread.sleep(1100) // local-FS mtime granularity
    val st = Rollup.foldBucketedWithExtrema(spark, statePath,
      Rollup.retractions(b1), base1, Seq("grp"), Seq("v"), batchId = 1L)

    val expect = Rollup.initWithExtrema(base1, Seq("grp"), Seq("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val got = st.select("grp", "n_rows", "sum_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expect)

    val g1Bucket = s"__bucket=${jvmBucket("g1", n)}"
    val mtimes1 = fs.listStatus(new org.apache.hadoop.fs.Path(statePath))
      .filter(_.getPath.getName.startsWith("__bucket="))
      .map(st => st.getPath.getName -> st.getModificationTime).toMap
    for ((dir, t0) <- mtimes0 if dir != g1Bucket)
      assert(mtimes1(dir) == t0, s"untouched bucket $dir was rewritten")
    assert(mtimes1(g1Bucket) != mtimes0(g1Bucket))

    // replay of batch 1 is detected and skipped
    val replay = Rollup.foldBucketedWithExtrema(spark, statePath,
      Rollup.retractions(b1), base1, Seq("grp"), Seq("v"), batchId = 1L)
    assert(replay.select("grp", "n_rows", "sum_v", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet == expect)
  }

  /** Inserts of the ids `from until until`, each in group
    * `g<id mod groups>` with value `id`. */
  private def inserts(from: Long, until: Long, groups: Int): DataFrame =
    spark.range(from, until).select(
      lit(null).cast("struct<grp:string,v:bigint>").as("before"),
      struct(concat(lit("g"), (col("id") % groups).cast("string")).as("grp"),
        col("id").as("v")).as("after"),
      lit(E.Insert).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter))

  private def layoutOf(statePath: String): Option[graft.sinks.BucketedState.Buckets] =
    graft.sinks.BucketedState.layout(graft.sinks.BucketedState.fsOf(spark, statePath),
      statePath)

  test("a fold keeps the bucket count its meta records: one row per group " +
      "under another shuffle partition count") {
    // a count passed per call used to split groups: a state folded into
    // 16 buckets and then into 64 kept 26 of 40 groups twice
    val statePath = tempDir("graft_rollup_cnt") + "/state"
    withPartitions(16)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(inserts(0, 400, 40)), Seq("grp"), Seq("v"), batchId = 0L))
    val st = withPartitions(4)(Rollup.foldBucketed(spark, statePath,
      Rollup.retractions(inserts(400, 460, 40)), Seq("grp"), Seq("v"), batchId = 1L))
    assert(layoutOf(statePath).contains(graft.sinks.BucketedState.Buckets(16)))
    val rows = st.select("grp").as[String].collect()
    assert(rows.length == 40 && rows.distinct.length == 40)
    assert(collectState(st) == collectState(Rollup.init(
      spark.range(0, 460).select(concat(lit("g"), (col("id") % 40).cast("string"))
        .as("grp"), col("id").as("v")), Seq("grp"), Seq("v"))))
  }

  test("a bucketed rollup root without a meta is refused, naming the root") {
    // the layout of a fold that recorded only its batch id: bucket dirs
    // and a `_graft_batch` file, no bucket count
    val statePath = tempDir("graft_rollup_nometa") + "/state"
    Rollup.foldBucketed(spark, statePath, Rollup.retractions(inserts(0, 40, 10)),
      Seq("grp"), Seq("v"), batchId = 0L)
    val fs = graft.sinks.BucketedState.fsOf(spark, statePath)
    fs.delete(new org.apache.hadoop.fs.Path(statePath, Meta), false)
    val mo = fs.create(new org.apache.hadoop.fs.Path(statePath, "_graft_batch"))
    try mo.write("0".getBytes("UTF-8")) finally mo.close()
    for (fold <- Seq[() => Any](
        () => Rollup.foldBucketed(spark, statePath,
          Rollup.retractions(inserts(40, 50, 10)), Seq("grp"), Seq("v"), batchId = 1L),
        () => Rollup.foldBucketedWithExtrema(spark, statePath,
          Rollup.retractions(inserts(40, 50, 10)), spark.range(0).select(
            lit("g").as("grp"), col("id").as("v")), Seq("grp"), Seq("v")))) {
      val e = intercept[IllegalStateException](fold())
      assert(e.getMessage.contains(statePath), e.getMessage)
    }
  }

  test("a fold past maxPartitionBytes per bucket splits one bucket, plain " +
      "and with extrema, and equals recompute") {
    for (extrema <- Seq(false, true)) {
      val statePath = tempDir("graft_rollup_split") + "/state"
      // id -> (group, value); every change below keeps it current
      val live = scala.collection.mutable.Map[Long, (String, Long)]()
      def liveDf = live.values.toSeq.toDF("grp", "v")
      def fold(ch: DataFrame, id: Long): DataFrame =
        if (extrema) Rollup.foldBucketedWithExtrema(spark, statePath,
          Rollup.retractions(ch), liveDf, Seq("grp"), Seq("v"), batchId = id)
        else Rollup.foldBucketed(spark, statePath, Rollup.retractions(ch),
          Seq("grp"), Seq("v"), batchId = id)
      (0L until 200L).foreach(i => live(i) = (s"g${i % 40}", i))
      withPartitions(4)(fold(inserts(0, 200, 40), 0L))
      assert(layoutOf(statePath).map(_.count).contains(4))
      withConf("spark.sql.files.maxPartitionBytes", "64") {
        for (b <- 1 to 3) {
          // 10 new rows, and deletes of 10 rows that include each touched
          // group's current maximum
          val added = (1000L * b until 1000L * b + 10).map(i => i -> (s"g${i % 40}", i))
          val dropped = live.keys.toSeq.sorted.takeRight(10)
          val ops: Seq[(String, Option[(String, Long)], Option[(String, Long)])] =
            dropped.map(i => (E.Delete, live.get(i), None)) ++
              added.map { case (_, r) => (E.Insert, None, Some(r)) }
          dropped.foreach(live.remove)
          live ++= added
          val ch = ops.zipWithIndex.map { case ((k, bi, ai), i) =>
            (k, bi.map(_._1), bi.map(_._2), ai.map(_._1), ai.map(_._2), i.toLong)
          }.toDF("k", "bg", "bv", "ag", "av", "lsn").select(
            when(col("bg").isNotNull, img(col("bg"), col("bv"))).as("before"),
            when(col("ag").isNotNull, img(col("ag"), col("av"))).as("after"),
            col("k").as(E.Kind), col("lsn").as(E.Lsn), lit(0).as(E.Counter))
          val st = fold(ch, b.toLong)
          assert(layoutOf(statePath).map(_.count).contains(4 + b), s"extrema=$extrema batch $b")
          if (extrema) assert(collectExt(st) ==
            collectExt(Rollup.initWithExtrema(liveDf, Seq("grp"), Seq("v"))), s"batch $b")
          else assert(collectState(st) ==
            collectState(Rollup.init(liveDf, Seq("grp"), Seq("v"))), s"batch $b")
        }
      }
    }
  }

  test("readBucketed pre-bootstrap: empty with a schema, loud without") {
    import org.apache.spark.sql.types._
    val p = tempDir("graft_rollup_rb") + "/none"
    val sch = StructType(Seq(StructField("grp", StringType),
      StructField("n_rows", LongType), StructField("sum_v", LongType)))
    val empty = Rollup.readBucketed(spark, p, Some(sch))
    assert(empty.count() == 0 && empty.schema == sch)
    intercept[IllegalStateException] { Rollup.readBucketed(spark, p) }
  }

  test("decimal sums keep the state's type across chained merges") {
    val base = Seq(("a", "10.25"), ("b", "1.50")).toDF("grp", "s")
      .select(col("grp"), col("s").cast("decimal(15,2)").as("v"))
    var st = Rollup.init(base, Seq("grp"), Seq("v"))
    val t0 = st.schema("sum_v").dataType
    for (i <- 1 to 3) {
      val b = change(E.Insert, i,
        lit(null).cast("struct<grp:string,v:decimal(15,2)>"),
        struct(lit("a").as("grp"),
          lit("0.75").cast("decimal(15,2)").as("v")))
      st = Rollup.merge(st,
        Rollup.delta(Rollup.retractions(b), Seq("grp"), Seq("v")),
        Seq("grp"), Seq("v"))
      assert(st.schema("sum_v").dataType == t0)
    }
    val a = st.filter(col("grp") === "a").select("sum_v")
      .head().getDecimal(0)
    assert(a.toPlainString == "12.50")
  }
}
