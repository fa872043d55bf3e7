package graft.streaming

import graft.SparkSpec
import graft.model.{CdcEnvelope => E}
import graft.sinks.BucketedState
import graft.sinks.BucketedState.Buckets
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_stream")

  private def batch(rows: (Long, String, String, Long)*) =
    rows.toSeq.toDF("id", "v", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0))

  test("mergeBatch applies upsert semantics into the state dir") {
    val state = tmp() + "/t1"
    CdcStream.mergeBatch(
      batch((1L, "a", "insert", 0L), (2L, "b", "insert", 1L)), state, Seq("id"))
    CdcStream.mergeBatch(
      batch((1L, "a2", "update", 2L), (3L, "c", "insert", 3L),
        (2L, "b", "delete", 4L)), state, Seq("id"))
    val out = spark.read.parquet(state).select("id", "v")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a2"), (3L, "c")))
  }

  test("mergeBatch refuses an empty key list, naming the state dir") {
    // with no key every row hashes to one bucket, and the merge would
    // keep one row per bucket
    val state = tmp() + "/nokey"
    val e = intercept[IllegalArgumentException](CdcStream.mergeBatch(
      batch((1L, "a", "insert", 0L), (2L, "b", "insert", 1L)), state, Nil))
    assert(e.getMessage.contains(state), e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(state)))
  }

  test("mergeBatch is idempotent under replay (exactly-once on restart)") {
    val state = tmp() + "/t2"
    val b = batch((1L, "x", "insert", 0L), (1L, "y", "update", 1L))
    CdcStream.mergeBatch(b, state, Seq("id"))
    val once = spark.read.parquet(state).collect().toSeq
    CdcStream.mergeBatch(b, state, Seq("id"))   // replay the same batch
    val twice = spark.read.parquet(state).collect().toSeq
    assert(once == twice)
    assert(once.size == 1)
  }

  test("mergeBatch rewrites only buckets containing batch keys") {
    val state = tmp() + "/tb"
    // 1000-key snapshot spread over all 32 buckets
    val snap = spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    withPartitions(32)(CdcStream.mergeBatch(snap, state, Seq("id")))
    def listing(): Map[String, Set[(String, Long, Long)]] = {
      val root = java.nio.file.Paths.get(state)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith(BucketedState.BucketCol))
        .map { b =>
          b.getFileName.toString ->
            java.nio.file.Files.list(b).iterator().asScala.map(f =>
              (f.getFileName.toString, java.nio.file.Files.size(f),
                java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
        }.toMap
    }
    val before = listing()
    assert(before.size > 8, "snapshot should populate many buckets")
    // a 1-key batch must rewrite exactly one bucket
    CdcStream.mergeBatch(batch((5L, "v5b", "update", 1L)), state, Seq("id"))
    val after = listing()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k))
    assert(changed.size == 1,
      s"expected exactly one rewritten bucket, got $changed")
    val out = CdcStream.readState(spark, state)
    assert(out.count() == 1000)
    assert(out.filter(col("id") === 5).select("v").as[String].head() == "v5b")
  }

  test("property: a random batch sequence merged into bucketed state " +
    "equals the naive map replay") {
    val rnd = new scala.util.Random(20260812)
    for (round <- 1 to 3) {
      val state = tmp() + s"/prop$round"
      val table = scala.collection.mutable.Map[Long, String]()
      var lsn = 0L
      for (_ <- 1 to 4) {  // 4 micro-batches
        val events = (1 to 30).map { _ =>
          lsn += 1
          val k = rnd.nextInt(12).toLong
          rnd.nextInt(3) match {
            case 0 => (k, s"v$lsn", "insert", lsn)
            case 1 => (k, s"v$lsn", "update", lsn)
            case _ => (k, null: String, "delete", lsn)
          }
        }
        // reference: apply collapsed semantics event by event
        events.foreach {
          case (k, _, "delete", _) => table.remove(k)
          case (k, v, _, _) => table(k) = v
        }
        withPartitions(8)(CdcStream.mergeBatch(batch(events: _*), state, Seq("id")))
      }
      val got = CdcStream.readState(spark, state)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(got == table.toMap, s"round $round diverged")
    }
  }

  test("lookup reads only the key's bucket") {
    val state = tmp() + "/tl"
    val snap = spark.range(0, 500)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    withPartitions(16)(CdcStream.mergeBatch(snap, state, Seq("id")))
    val hit = CdcStream.lookup(spark, state, Seq("id"), Seq(42L))
    assert(hit.select("v").as[String].collect().toSeq == Seq("v42"))
    // the plan touches exactly one bucket dir's files
    val dirs = hit.inputFiles.map(f =>
      f.split("/").find(_.startsWith(BucketedState.BucketCol)).get).toSet
    assert(dirs.size == 1, s"lookup scanned $dirs")
    // driver-side bucket matches the layout's bucket expression
    val expected = spark.range(42, 43).select(
      BucketedState.bucketOf(Seq("id"), Buckets(16))).first().getInt(0)
    assert(dirs.head == s"${BucketedState.BucketCol}=$expected")
  }

  test("lookup agrees with the layout for composite keys") {
    val state = tmp() + "/tk"
    val snap = spark.range(0, 100).select(
      col("id"), (col("id") % 7).as("k2"),
      concat(lit("v"), col("id")).as("v"))
    withPartitions(8)(CdcStream.mergeBatch(snap, state, Seq("id", "k2")))
    val hit = CdcStream.lookup(spark, state, Seq("id", "k2"), Seq(13L, 6L))
    assert(hit.select("v").as[String].collect().toSeq == Seq("v13"))
    // key rendering ambiguity check: ("1","23") must not alias ("12","3")
    val miss = CdcStream.lookup(spark, state, Seq("id", "k2"), Seq(136L, 0L))
    assert(miss.count() == 0)
  }

  test("lookup job budget: 1, the collect; a lagging bucket lacks the drift " +
    "columns it predates") {
    val state = tmp() + "/tj"
    val n = 8
    withPartitions(n)(CdcStream.mergeBatch(spark.range(0, 200)
      .select(col("id"), concat(lit("v"), col("id")).as("v")), state, Seq("id")))
    // drift column w arrives on key 5 only, so only its bucket holds it
    CdcStream.mergeBatch(Seq((5L, "v5b", 55L)).toDF("id", "v", "w")
      .withColumn(E.Kind, lit("update")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0)), state, Seq("id"))
    val lagging = (6L until 200L).find(k =>
      BucketedState.bucketOfKey(Seq(k), Buckets(n)) !=
        BucketedState.bucketOfKey(Seq(5L), Buckets(n))).get
    for ((key, want) <- Seq(5L -> Seq("id", "v", "w"), lagging -> Seq("id", "v"))) {
      var rows = Seq.empty[org.apache.spark.sql.Row]
      val jobs = graft.JobBudget.jobsOf(spark) {
        rows = CdcStream.lookup(spark, state, Seq("id"), Seq(key)).collect().toSeq
      }
      assert(jobs.size == 1, s"key $key:" + graft.JobBudget.breakdown(jobs))
      assert(rows.size == 1 && rows.head.schema.fieldNames.toSeq == want, s"key $key: $rows")
    }
  }

  test("mergeBatch recovers a crashed swap from the .bak dir") {
    val state = tmp() + "/tc"
    val snap = spark.range(0, 200)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    withPartitions(8)(CdcStream.mergeBatch(snap, state, Seq("id")))
    // simulate a swap that died between backup and move-in: one live
    // bucket sits in .bak, missing from the state dir
    val root = java.nio.file.Paths.get(state)
    import scala.jdk.CollectionConverters._
    val bucket = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith(BucketedState.BucketCol))
      .toSeq.head
    val bak = java.nio.file.Paths.get(state + ".bak")
    java.nio.file.Files.createDirectories(bak)
    java.nio.file.Files.move(bucket, bak.resolve(bucket.getFileName))
    // next merge must first restore the backed-up bucket, then apply
    CdcStream.mergeBatch(batch((5L, "v5c", "update", 9L)), state, Seq("id"))
    val out = CdcStream.readState(spark, state)
    assert(out.count() == 200, "rows lost across crash recovery")
    assert(out.filter(col("id") === 5).select("v").as[String].head() == "v5c")
    assert(!java.nio.file.Files.exists(bak))
  }

  test("readers refuse a half-swapped state until mergeBatch recovers it") {
    import scala.jdk.CollectionConverters._
    import java.nio.file.{Files => F, Path => P}
    /** A children swap that died mid-flight: `moved` children of `state`
      * sit in `<state>.bak`, nothing staged has moved in. */
    def crash(state: String)(moved: Seq[P] => Seq[P]): Unit = {
      val root = java.nio.file.Paths.get(state)
      val bak = java.nio.file.Paths.get(state + ".bak")
      F.createDirectories(bak)
      val buckets = F.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith(BucketedState.BucketCol))
        .toSeq.sortBy(_.getFileName.toString)
      moved(buckets).foreach(p => F.move(p, bak.resolve(p.getFileName)))
    }
    def refused(state: String, writer: String)(reads: (String, () => Any)*): Unit =
      for ((name, read) <- reads) {
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains(s"$state ") &&
          e.getMessage.contains(s"$state.bak") &&
          e.getMessage.contains(writer), s"$name: ${e.getMessage}")
      }
    val snap = spark.range(0, 200)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    val n = 8
    val key5 =
      s"${BucketedState.BucketCol}=${BucketedState.bucketOfKey(Seq(5L), Buckets(n))}"
    // the children swap moves the batch's buckets, then the meta, into
    // .bak before it moves the staged ones in. Crash after the meta
    // moved (meta gone), and crash while the old meta is still live
    // (two buckets gone, the meta in place)
    for ((label, moved) <- Seq[(String, Seq[P] => Seq[P])](
        "meta moved" -> (bs => Seq(bs.head, bs.head.getParent.resolve("_graft_meta.json"))),
        "meta live" -> (bs => bs.filter(_.getFileName.toString == key5) ++
          bs.find(_.getFileName.toString != key5)))) {
      val state = tmp() + "/th"
      withPartitions(n)(CdcStream.mergeBatch(snap, state, Seq("id")))
      crash(state)(moved)
      refused(state, "mergeBatch")(
        s"$label readState" -> (() => CdcStream.readState(spark, state)),
        s"$label lookup" -> (() => CdcStream.lookup(spark, state, Seq("id"), Seq(5L))))
      CdcStream.mergeBatch(batch((5L, "v5c", "update", 9L)), state, Seq("id"))
      val out = CdcStream.readState(spark, state)
      assert(out.count() == 200, s"$label: rows lost across crash recovery")
      assert(CdcStream.lookup(spark, state, Seq("id"), Seq(5L))
        .select("v").as[String].collect().toSeq == Seq("v5c"))
      assert(!F.exists(java.nio.file.Paths.get(state + ".bak")))
    }

    // the bucketed rollup shares the layout and the reader: a fold that
    // died with two buckets in .bak and its meta still live
    val rollup = tmp() + "/rh"
    val changes = spark.range(0, 40).select(
      lit(null).cast("struct<grp:string,v:bigint>").as("before"),
      struct(concat(lit("g"), (col("id") % 10).cast("string")).as("grp"),
        col("id").as("v")).as("after"),
      lit(E.Insert).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter))
    val retr = graft.operators.Rollup.retractions(changes)
    withPartitions(n)(graft.operators.Rollup.foldBucketed(spark, rollup, retr,
      Seq("grp"), Seq("v"), batchId = 0L))
    crash(rollup)(_.take(2))
    refused(rollup, "foldBucketed")(
      "readBucketed" -> (() => graft.operators.Rollup.readBucketed(spark, rollup)))
    // the replay of batch 0 recovers the state and is skipped
    val st = graft.operators.Rollup.foldBucketed(spark, rollup, retr,
      Seq("grp"), Seq("v"), batchId = 0L)
    assert(st.count() == 10 && st.agg(sum("n_rows")).head().getLong(0) == 40L)
  }

  test("DDL drift batches from a bucketed bootstrap equal a naive last-write-wins") {
    val state = tmp() + "/tlw"
    // naive replay: key -> (v, extra), event by event
    val table = scala.collection.mutable.Map[Long, (String, Option[Long])]()
    (0L until 60L).foreach(k => table(k) = (s"v$k", None))
    withPartitions(8)(CdcStream.mergeBatch(spark.range(0, 60)
      .select(col("id"), concat(lit("v"), col("id")).as("v")), state, Seq("id")))
    def events(from: Long, drift: Boolean) = (0 until 40).map { i =>
      val lsn = from + i
      val k = (i * 7 % 75).toLong                 // repeats, new keys
      val kind = if (i % 5 == 0) "delete" else if (table.contains(k)) "update" else "insert"
      val extra = if (drift && kind != "delete") Some(lsn * 10) else None
      if (kind == "delete") table.remove(k) else table(k) = (s"w$lsn", extra)
      (k, if (kind == "delete") null else s"w$lsn", extra, kind, lsn)
    }
    def check(round: String) = {
      val st = CdcStream.readState(spark, state)
      val extra = if (st.columns.contains("extra")) col("extra")
        else lit(null).cast("bigint")
      val got = st.select(col("id"), col("v"), extra)
        .as[(Long, String, Option[Long])].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(got == table.toMap, s"$round diverged")
    }
    CdcStream.mergeBatch(events(1, drift = false).map(e => (e._1, e._2, e._4, e._5))
      .toDF("id", "v", E.Kind, E.Lsn).withColumn(E.Counter, lit(0)), state, Seq("id"))
    check("first batch")
    // DDL drift: a column the state has never seen, on some keys only
    val drift = events(100, drift = true)
    CdcStream.mergeBatch(drift.toDF("id", "v", "extra", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0)), state, Seq("id"))
    check("drift")
    // a one-key batch without the drift column: the drift values in the
    // buckets it leaves untouched still read back, through the meta's schema
    table(1L) = ("x", None)
    CdcStream.mergeBatch(batch((1L, "x", "update", 300L)), state, Seq("id"))
    check("after drift")
  }

  test("null PK components bucket where lookup probes") {
    val state = tmp() + "/tnull"
    val snap = Seq((Option(1L), "a"), (Option(2L), "b"),
      (None: Option[Long], "nullkey"))
      .toDF("id", "v")
    withPartitions(16)(CdcStream.mergeBatch(snap, state, Seq("id")))
    assert(CdcStream.readState(spark, state).count() == 3)
    // the null-keyed row is findable: lookup probes the bucket the row
    // actually landed in (concat_ws would have dropped the null)
    val hit = CdcStream.lookup(spark, state, Seq("id"), Seq(null))
    assert(hit.select("v").as[String].collect().toSeq == Seq("nullkey"))
    val hit1 = CdcStream.lookup(spark, state, Seq("id"), Seq(1L))
    assert(hit1.select("v").as[String].collect().toSeq == Seq("a"))
  }

  test("mergeBatch pins numBuckets from the state meta across batches") {
    val state = tmp() + "/tm"
    withPartitions(4)(CdcStream.mergeBatch(batch((1L, "a", "insert", 0L)), state, Seq("id")))
    // a later batch under another shuffle partition count: the meta wins
    withPartitions(64)(CdcStream.mergeBatch(batch((2L, "b", "insert", 1L)), state, Seq("id")))
    val dirs = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith(BucketedState.BucketCol))
      .map(_.getName).toSeq
    val buckets = dirs.map(_.stripPrefix(BucketedState.BucketCol + "=").toInt)
    assert(buckets.forall(_ < 4), s"bucket ids $buckets exceed pinned count 4")
    assert(CdcStream.readState(spark, state).count() == 2)
  }

  test("mergeBatch schema drift migrates buckets and keeps them homogeneous") {
    val state = tmp() + "/td"
    CdcStream.mergeBatch(
      batch((1L, "a", "insert", 0L), (2L, "b", "insert", 1L)), state, Seq("id"))
    // DDL adds a column: lazily migrated, schema-merging read
    val b2 = Seq((3L, "c", 7L)).toDF("id", "v", "extra")
      .withColumn(E.Kind, lit("insert")).withColumn(E.Lsn, lit(2L))
      .withColumn(E.Counter, lit(0))
    CdcStream.mergeBatch(b2, state, Seq("id"))
    val out = CdcStream.readState(spark, state)
      .select("id", "v", "extra").as[(Long, String, Option[Long])]
      .collect().toSeq.sortBy(_._1)
    assert(out == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(7L))))
  }

  test("DDL drift mid-stream migrates lazily: only touched buckets " +
    "rewritten, untouched bucket files byte-identical") {
    val state = tmp() + "/tl"
    // 1000-key snapshot spread over all 32 buckets
    withPartitions(32)(CdcStream.mergeBatch(
      spark.range(0, 1000)
        .select(col("id"), concat(lit("v"), col("id")).as("v")),
      state, Seq("id")))
    def listing(): Map[String, Set[(String, Long, Long)]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(java.nio.file.Paths.get(state))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith(BucketedState.BucketCol))
        .map { b =>
          b.getFileName.toString ->
            java.nio.file.Files.list(b).iterator().asScala.map(f =>
              (f.getFileName.toString, java.nio.file.Files.size(f),
                java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet
        }.toMap
    }
    val before = listing()
    assert(before.size > 8, "snapshot should populate many buckets")
    // DDL drift: a 1-key batch adds a column — the stop-the-world
    // spelling rewrote every bucket here; lazy migration must rewrite
    // exactly the one bucket the key hashes to
    val drifting = Seq((5L, "v5b", 42L)).toDF("id", "v", "extra")
      .withColumn(E.Kind, lit("update")).withColumn(E.Lsn, lit(1L))
      .withColumn(E.Counter, lit(0))
    CdcStream.mergeBatch(drifting, state, Seq("id"))
    val after = listing()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k))
    assert(changed.size == 1,
      s"drift must rewrite exactly the touched bucket, got $changed")
    // untouched buckets: same files, same sizes, same mtimes
    (before.keySet - changed.head).foreach { k =>
      assert(before(k) == after(k), s"untouched bucket $k was rewritten")
    }
    // merged read surfaces the union schema: null extra outside the
    // migrated bucket, the new value inside it
    val out = CdcStream.readState(spark, state)
    assert(out.count() == 1000)
    assert(out.filter(col("id") === 5)
      .select("v", "extra").as[(String, Option[Long])].head() ==
      (("v5b", Some(42L))))
    assert(out.filter(col("extra").isNotNull).count() == 1)
    // a later batch touching a lagging bucket converges it: key 5's
    // neighbor bucket gets rewritten with the union schema on contact
    CdcStream.mergeBatch(
      batch((700L, "v700b", "update", 2L)), state, Seq("id"))
    val out2 = CdcStream.readState(spark, state)
    assert(out2.filter(col("id") === 700)
      .select("v").as[String].head() == "v700b")
    assert(out2.columns.contains("extra"))
  }

  /** Each bucket dir of `state` with its files' (name, size, mtime). */
  private def bucketListing(state: String): Map[String, Set[(String, Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(java.nio.file.Paths.get(state))
    try dirs.iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith(BucketedState.BucketCol))
      .map { b =>
        val files = Files.list(b)
        try b.getFileName.toString -> files.iterator().asScala.map(f =>
          (f.getFileName.toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis)).toSet
        finally files.close()
      }.toMap
    finally dirs.close()
  }

  private def bucketIds(state: String): Set[Int] =
    bucketListing(state).keySet.map(_.stripPrefix(BucketedState.BucketCol + "=").toInt)

  /** `body` with `spark.sql.files.maxPartitionBytes` at `bytes`, the
    * per-bucket size past which a state splits. */
  private def withMaxPartitionBytes[A](bytes: Long)(body: => A): A =
    withConf("spark.sql.files.maxPartitionBytes", bytes.toString)(body)

  test("a new state gets one bucket per shuffle partition, or one per " +
    "maxPartitionBytes of its first batch when that is more") {
    val snap = spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("v"))
    val small = tmp() + "/tn"
    CdcStream.mergeBatch(snap, small, Seq("id"))
    assert(bucketIds(small) == (0 until spark.conf.get("spark.sql.shuffle.partitions").toInt).toSet)
    val estimate = snap.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val target = estimate / 10 + 1
    val big = tmp() + "/tnb"
    withMaxPartitionBytes(target)(CdcStream.mergeBatch(snap, big, Seq("id")))
    assert(bucketIds(big) == (0 until ((estimate + target - 1) / target).toInt).toSet)
    assert(CdcStream.readState(spark, big).count() == 1000)
  }

  test("a state grown by linear-hash splits equals the naive " +
    "last-write-wins after every batch, and every lookup hits") {
    val state = tmp() + "/tsplit"
    val table = scala.collection.mutable.Map[Long, String]()
    (0L until 200L).foreach(k => table(k) = s"v$k")
    withPartitions(2)(CdcStream.mergeBatch(spark.range(0, 200)
      .select(col("id"), concat(lit("v"), col("id")).as("v")),
      state, Seq("id")))
    assert(bucketIds(state) == Set(0, 1))
    val rnd = new scala.util.Random(20261019)
    var lsn = 0L
    // a per-bucket target every bucket passes: each batch splits one,
    // through level 0 (2 buckets) and level 1 (4) into level 2 (8)
    withMaxPartitionBytes(64) {
      for (b <- 1 to 7) {
        val events = (1 to 40).map { _ =>
          lsn += 1
          val k = rnd.nextInt(260).toLong
          if (rnd.nextInt(5) == 0) (k, null: String, "delete", lsn)
          else (k, s"w$lsn", if (table.contains(k)) "update" else "insert", lsn)
        }
        events.foreach {
          case (k, _, "delete", _) => table.remove(k)
          case (k, v, _, _) => table(k) = v
        }
        CdcStream.mergeBatch(batch(events: _*), state, Seq("id"))
        assert(bucketIds(state) == (0 until 2 + b).toSet, s"batch $b")
        val got = CdcStream.readState(spark, state)
          .select("id", "v").as[(Long, String)].collect().toMap
        assert(got == table.toMap, s"batch $b diverged")
        // lookups read one bucket: present keys hit, absent keys miss
        for (k <- Seq.fill(12)(rnd.nextInt(260).toLong)) {
          val hit = CdcStream.lookup(spark, state, Seq("id"), Seq(k))
            .select("v").as[String].collect().toSeq
          assert(hit == table.get(k).toSeq, s"batch $b, key $k")
        }
      }
    }
  }

  test("bucketOf and bucketOfKey agree across linear-hash layouts, null " +
    "components included, and a split moves rows only out of its bucket") {
    val rnd = new scala.util.Random(7)
    val keys = (0 until 400).map { i =>
      (if (i % 17 == 0) None else Some(rnd.nextLong()),
        if (i % 11 == 0) null else rnd.alphanumeric.take(rnd.nextInt(6)).mkString)
    }
    val df = keys.toDF("a", "b")
    for (layout <- Seq(Buckets(1), Buckets(4), Buckets(4, 0, 3), Buckets(3, 2, 5),
        Buckets(32, 1, 17), Buckets(5, 1, 9))) {
      val next = layout.grown
      val got = df.select(col("a"), col("b"),
        BucketedState.bucketOf(Seq("a", "b"), layout),
        BucketedState.bucketOf(Seq("a", "b"), next))
        .as[(Option[Long], String, Int, Int)].collect()
      assert(got.length == keys.length)
      for ((a, b, before, after) <- got) {
        val key = Seq(a.getOrElse(null), b)
        assert(before == BucketedState.bucketOfKey(key, layout), s"$layout $key")
        assert(after == BucketedState.bucketOfKey(key, next), s"$next $key")
        assert(before >= 0 && before < layout.count && after < next.count)
        assert(after == before ||
          (before == layout.split && after == layout.split + layout.m), s"$layout $key")
      }
    }
  }

  test("a 32-bucket state keeps 32 buckets under a later, smaller " +
    "shuffle partition count, and its untouched buckets stay byte-identical") {
    val state = tmp() + "/t32"
    withPartitions(32)(CdcStream.mergeBatch(spark.range(0, 1000)
      .select(col("id"), concat(lit("v"), col("id")).as("v")),
      state, Seq("id")))
    val before = bucketListing(state)
    assert(before.size == 32)
    CdcStream.mergeBatch(batch((5L, "v5b", "update", 1L)), state, Seq("id"))
    val after = bucketListing(state)
    assert(after.keySet == before.keySet)
    val changed = before.keySet.filter(k => before(k) != after(k))
    assert(changed == Set(s"${BucketedState.BucketCol}=" +
      BucketedState.bucketOfKey(Seq(5L), Buckets(32))), changed)
    assert(CdcStream.lookup(spark, state, Seq("id"), Seq(5L))
      .select("v").as[String].collect().toSeq == Seq("v5b"))
    assert(CdcStream.readState(spark, state).count() == 1000)
  }

  test("replicate runs a memory-source stream through checkpointed merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("id", "v", E.Kind, E.Lsn)
      .withColumn(E.Counter, lit(0))
    val state = tmp() + "/t3"
    val ckpt = tmp() + "/ckpt"
    val q = CdcStream.replicate(stream, state, ckpt, Seq("id"),
      CdcStream.Bufferer(availableNow = false, interval = None)).start()
    try {
      mem.addData((1L, "a", "insert", 0L), (2L, "b", "insert", 1L))
      q.processAllAvailable()
      mem.addData((1L, "a9", "update", 2L))
      q.processAllAvailable()
      val out = spark.read.parquet(state).select("id", "v")
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      assert(out == Seq((1L, "a9"), (2L, "b")))
    } finally q.stop()
  }

  test("bufferer maps to streaming triggers") {
    assert(CdcStream.Bufferer(availableNow = true).trigger ==
      Trigger.AvailableNow())
    assert(CdcStream.Bufferer(interval = Some("5 seconds")).trigger ==
      Trigger.ProcessingTime("5 seconds"))
  }

  test("watermark dedup drops replayed keys inside the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val deduped = CdcStream.watermarkDedup(
      mem.toDF().toDF("id", "ts"), "ts", "10 minutes", Seq("id"))
    val q = deduped.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      mem.addData((1L, t0), (1L, t0), (2L, t0))  // 1 replayed
      q.processAllAvailable()
      val n = spark.table("wm_out").count()
      assert(n == 2)
    } finally q.stop()
  }

  test("sample stream has the generator schema") {
    val df = CdcStream.sampleStream(spark, 10)
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("event_id", "device_id", "ts", "value"))
  }

  test("event-time tumbling window aggregation with watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = mem.toDF().toDF("ts", "v")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(sum("v").as("total"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData((t("2024-01-01 00:01:00"), 1L), (t("2024-01-01 00:02:00"), 2L),
        (t("2024-01-01 00:11:00"), 10L))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select(col("window.start").cast("string"), col("total"))
        .as[(String, Long)].collect().toMap
      assert(out("2024-01-01 00:00:00") == 3L)
      assert(out("2024-01-01 00:10:00") == 10L)
    } finally q.stop()
  }

  test("file queue reader exposes queue metadata with stable offsets") {
    val dir = tempDir("graft_fq")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "p0.txt"), "a\nb\nc")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "p1.txt"), "x\ny")
    val q = graft.sources.Readers.fileQueue(spark, dir, "t0")
    val rows = q.select("topic", "partition", "offset", "value")
      .as[(String, Int, Long, String)].collect().toSeq
    assert(rows.forall(_._1 == "t0"))
    assert(rows.map(_._2).distinct.size == 2)        // one partition per file
    val byPart = rows.groupBy(_._2).values
    byPart.foreach { p =>                            // contiguous offsets from 0
      assert(p.map(_._3).sorted == (0L until p.size))
    }
    assert(rows.map(_._4).sorted == Seq("a", "b", "c", "x", "y"))
  }

  test("session windows group events separated by gaps") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, java.sql.Timestamp)]
    val agg = mem.toDF().toDF("user", "ts")
      .withWatermark("ts", "1 hour")
      .groupBy(col("user"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      mem.addData(("u1", t("2024-01-01 00:00:00")), ("u1", t("2024-01-01 00:02:00")),
        ("u1", t("2024-01-01 00:30:00")))  // >5 min gap: second session
      q.processAllAvailable()
      val sessions = spark.table("sess_out").filter(col("user") === "u1")
        .select("n").as[Long].collect().toSeq.sorted
      assert(sessions == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-stream interval join: inclusive bounds, per-key, state-expiring plan") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val memL = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val memR = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = CdcStream.intervalJoin(
      memL.toDF().toDF("user_id", "view_id", "view_ts"),
      memR.toDF().toDF("user_id", "click_id", "click_ts"),
      Seq("user_id"), "view_ts", "click_ts", "10 minutes", "30 minutes")
      .select("user_id", "view_id", "click_id")
    val q = joined.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      memL.addData((1L, 100L, t("2024-01-01 10:00:00")),
        (2L, 200L, t("2024-01-01 10:00:00")))
      memR.addData(
        (1L, 7L, t("2024-01-01 10:00:00")),  // same instant: inclusive
        (1L, 8L, t("2024-01-01 10:30:00")),  // exactly +30min: inclusive
        (1L, 9L, t("2024-01-01 10:30:01")),  // past the lag: dropped
        (1L, 10L, t("2024-01-01 09:59:59")), // before the view: dropped
        (2L, 11L, t("2024-01-01 10:05:00")), // other user's view only
        (3L, 12L, t("2024-01-01 10:05:00"))) // keyless: dropped
      q.processAllAvailable()
      val out = spark.table("ij_out")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(out == Seq((1L, 100L, 7L), (1L, 100L, 8L), (2L, 200L, 11L)))
      // both sides carry event-time watermarks in the plan — the
      // condition Spark needs to expire buffered join state
      val analyzed = joined.queryExecution.analyzed.toString
      assert("(?i)eventtimewatermark".r.findAllIn(analyzed).size == 2)
    } finally q.stop()
  }
}
