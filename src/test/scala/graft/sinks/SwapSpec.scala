package graft.sinks

import java.io.{File, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Crash-point properties of [[Swap]]: for every mutating step k of each
  * protocol (staging included), the process dies at step k; re-entering
  * (recovery) must leave exactly the before-state or the after-state.
  * A second sweep also kills the recovery itself at each of its steps.
  * Faults come from [[SwapSpec.Faulty]], a FilterFileSystem handed to
  * Swap in place of the real one. */
class SwapSpec extends graft.SparkSpec {
  import SwapSpec._

  // Hadoop's checksummed local filesystem, the default for file: paths;
  // like HDFS its rename will not replace an existing file
  private val raw: FileSystem = FileSystem.getLocal(new Configuration())

  private def newDir(): File = new File(tempDir("graft_swap"))

  private def put(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** Every data file under `d` (checksum sidecars skipped), relative
    * path → content; a missing dir is empty (an empty dir holds no
    * data). */
  private def tree(d: File): Map[String, String] = {
    def walk(f: File, rel: String): Seq[(String, String)] =
      if (f.isDirectory)
        f.listFiles().toSeq.filterNot(_.getName.endsWith(".crc")).flatMap(c =>
          walk(c, if (rel.isEmpty) c.getName else s"$rel/${c.getName}"))
      else Seq(rel -> new String(Files.readAllBytes(f.toPath), UTF_8))
    if (d.exists()) walk(d, "").toMap else Map.empty
  }

  /** One protocol under test: `setup` builds the before-state with the
    * real fs, `run` is the writer call (recover, stage, install),
    * `recover` the re-entry, `state` what must equal before or after,
    * `sidecars` what recovery must clear. */
  private case class Case(name: String, setup: FileSystem => Unit,
                          run: FileSystem => Unit,
                          recover: FileSystem => Unit,
                          state: () => Map[String, String],
                          sidecars: Seq[File])

  /** Reference run: the states before and after, and the op log. */
  private def reference(c: Case): (Map[String, String], Map[String, String],
                                   Seq[String]) = {
    c.setup(raw)
    val before = c.state()
    val f = new Faulty(raw, Int.MaxValue, falseRename = false)
    c.run(f)
    (before, c.state(), f.log.toSeq)
  }

  private def assertClean(c: Case, where: String): Unit =
    c.sidecars.foreach(s => assert(!s.exists(), s"$where: $s left behind"))

  /** `commitOp` picks the commit step out of the reference log: a crash
    * at any later step must leave the after-state. */
  private def crashSweep(mk: () => Case,
                         commitOp: Seq[String] => Int): Unit = {
    val (before, after, log) = reference(mk())
    assert(before != after, "the swap must change something")
    val commitAt = commitOp(log)
    assert(commitAt >= 0, s"no commit step in $log")
    for (k <- 1 to log.size) {
      val c = mk()
      c.setup(raw)
      val f = new Faulty(raw, k, falseRename = false)
      intercept[Crash](c.run(f))
      c.recover(raw)
      val got = c.state()
      val where = s"${c.name}: crash at step $k (${log(k - 1)})"
      if (k - 1 > commitAt) assert(got == after, s"$where: committed swap lost")
      else assert(got == before || got == after, s"$where: torn state $got")
      assertClean(c, where)
      // the re-entry dies too, at each of its own steps
      var j = 1
      var recovered = false
      while (!recovered) {
        val c2 = mk()
        c2.setup(raw)
        intercept[Crash](c2.run(new Faulty(raw, k, falseRename = false)))
        val g = new Faulty(raw, j, falseRename = false)
        try { c2.recover(g); recovered = true }
        catch { case _: Crash => c2.recover(raw) }
        val got2 = c2.state()
        assert(got2 == got, s"$where, recovery crash at step $j: " +
          s"$got2 differs from an uninterrupted recovery's $got")
        assertClean(c2, s"$where, recovery crash at step $j")
        j += 1
      }
    }
  }

  private def falseRenameSweep(mk: () => Case): Unit = {
    val (before, after, log) = reference(mk())
    val renames = log.count(_.startsWith("rename "))
    assert(renames > 0)
    for (r <- 1 to renames) {
      val c = mk()
      c.setup(raw)
      val f = new Faulty(raw, r, falseRename = true)
      val err = intercept[IOException](c.run(f))
      val failed = f.log.lastIndexWhere(_.startsWith("rename "))
      val (from, to) = f.renamed(failed)
      val where = s"${c.name}: rename $r returned false"
      assert(err.getMessage.contains(s"$from → $to"), s"$where: ${err.getMessage}")
      assert(f.log.size == failed + 1,
        s"$where: steps ran after the failed rename: ${f.log.drop(failed + 1)}")
      c.recover(raw)
      val got = c.state()
      assert(got == before || got == after, s"$where: torn state $got")
      assertClean(c, where)
    }
  }

  // ---------------- whole directory ----------------

  private def dirCase(bootstrap: Boolean): () => Case = () => {
    val d = newDir()
    val live = new Path(d.toURI.toString, "lake")
    val tmp = new Path(live.toString + ".__compact_tmp")
    val bak = new Path(live.toString + ".__compact_bak")
    def protocol(fs: FileSystem): Unit = {
      Swap.recoverDir(fs, live, tmp, bak)
      put(fs, new Path(tmp, "a"), "new-a")
      put(fs, new Path(tmp, "sub/c"), "new-c")
      Swap.installDir(fs, live, tmp, bak)
    }
    Case(s"dir(bootstrap=$bootstrap)",
      setup = fs => if (!bootstrap) {
        put(fs, new Path(live, "a"), "old-a")
        put(fs, new Path(live, "sub/b"), "old-b")
      },
      run = protocol,
      recover = fs => Swap.recoverDir(fs, live, tmp, bak),
      state = () => tree(new File(d, "lake")),
      sidecars = Seq(new File(d, "lake.__compact_tmp"),
        new File(d, "lake.__compact_bak")))
  }

  test("directory swap: every crash point recovers to before or after") {
    for (b <- Seq(false, true))
      crashSweep(dirCase(b), _.indexWhere(op => op.startsWith("rename ") &&
        op.contains("__compact_tmp ") && op.endsWith("lake")))
  }

  test("directory swap: a rename returning false aborts before any cleanup") {
    for (b <- Seq(false, true)) falseRenameSweep(dirCase(b))
  }

  test("directory swap recovery keeps the only complete copy") {
    val c = dirCase(bootstrap = false)()
    c.setup(raw)
    val d = c.sidecars.head.getParentFile
    val live = new Path(d.toURI.toString, "lake")
    val tmp = new Path(live.toString + ".__compact_tmp")
    val bak = new Path(live.toString + ".__compact_bak")
    // live moved aside, the staged tree complete: install it
    put(raw, new Path(tmp, "a"), "new-a")
    raw.rename(live, bak)
    Swap.recoverDir(raw, live, tmp, bak)
    assert(tree(new File(d, "lake")) == Map("a" -> "new-a"))
    // live moved aside, nothing staged: restore the backup
    raw.rename(live, bak)
    Swap.recoverDir(raw, live, tmp, bak)
    assert(tree(new File(d, "lake")) == Map("a" -> "new-a"))
    // no live, no backup: a half-written bootstrap stage is dropped
    raw.delete(live, true)
    put(raw, new Path(tmp, "a"), "half")
    Swap.recoverDir(raw, live, tmp, bak)
    assert(!raw.exists(live) && !raw.exists(tmp))
  }

  // ---------------- set of children ----------------

  private val Meta = "_graft_meta.json"

  /** `layout`: "buckets" (replaced, removed, fresh and untouched
    * buckets plus the meta), "legacy" (flat part files moved aside and
    * replaced by nothing), "bootstrap" (no root), "marked" (a meta that
    * records the batch id, swapped last, committed by the id check). */
  private def childrenCase(layout: String): () => Case = () => {
    val d = newDir()
    val root = new Path(d.toURI.toString, "state")
    val tmp = new Path(root.toString + ".tmp")
    val bak = new Path(root.toString + ".bak")
    def b(i: Int) = s"__bucket=$i"
    val names = layout match {
      case "legacy" => Seq("part-0", "part-1", b(0), b(1), Meta)
      case _ => Seq(b(1), b(2), b(4), Meta)
    }
    val batch = if (layout == "marked") 7L else -1L
    def metaBatch(fs: FileSystem): Option[Long] = {
      val p = new Path(root, Meta)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try "\"batch\":(\\d+)".r.findFirstMatchIn(new String(in.readAllBytes(), UTF_8))
          .map(_.group(1).toLong)
        finally in.close()
      }
    }
    def recover(fs: FileSystem): Unit =
      Swap.recoverChildren(fs, root, tmp, bak,
        committed = id => id >= 0 && metaBatch(fs).contains(id))
    def protocol(fs: FileSystem): Unit = {
      recover(fs)
      layout match {
        case "legacy" =>
          put(fs, new Path(tmp, s"${b(0)}/part-a"), "new-0")
          put(fs, new Path(tmp, s"${b(1)}/part-a"), "new-1")
          put(fs, new Path(tmp, Meta), "meta-2")
        case _ =>
          // b(2) is removed: staged as nothing
          put(fs, new Path(tmp, s"${b(1)}/part-a"), "new-1")
          put(fs, new Path(tmp, s"${b(4)}/part-a"), "new-4")
          put(fs, new Path(tmp, Meta),
            if (layout == "marked") """{"batch":7}""" else "meta-2")
      }
      Swap.installChildren(fs, root, tmp, bak, names, batch)
    }
    Case(s"children($layout)",
      setup = fs => layout match {
        case "bootstrap" => ()
        case "legacy" =>
          put(fs, new Path(root, "part-0"), "flat-0")
          put(fs, new Path(root, "part-1"), "flat-1")
        case _ =>
          Seq(0, 1, 2, 3).foreach(i =>
            put(fs, new Path(root, s"${b(i)}/part-a"), s"old-$i"))
          put(fs, new Path(root, Meta),
            if (layout == "marked") """{"batch":6}""" else "meta-1")
      },
      run = protocol,
      recover = recover,
      state = () => tree(new File(d, "state")),
      sidecars = Seq(new File(d, "state.tmp"), new File(d, "state.bak")))
  }

  private val childLayouts = Seq("buckets", "legacy", "bootstrap", "marked")

  test("children swap: every crash point recovers to before or after") {
    for (l <- childLayouts)
      crashSweep(childrenCase(l), _.indexWhere(op =>
        if (l == "marked") op.startsWith("rename ") && op.endsWith(s"state/$Meta")
        else op.startsWith("create") && op.endsWith("_graft_done")))
  }

  test("children swap: a rename returning false aborts before any cleanup") {
    for (l <- childLayouts) falseRenameSweep(childrenCase(l))
  }

  // ---------------- a bucketed-state batch, end to end ----------------

  /** One batch of a real [[BucketedState]] writer into a 4-bucket state,
    * crashed at every swap step and replayed. `boot` makes the pre-batch
    * state at a root, `batch` runs the batch at a root, and `read` reads
    * a state back: the uncrashed batch and every replay must read as
    * `expected`, with its buckets and no sidecar. With `split`, the
    * session's per-bucket target is just below the pre-batch state's
    * bytes per bucket, so the batch also splits bucket 0 into buckets 0
    * and 4. */
  private def crashReplay[S](split: Boolean, expected: S)(boot: String => Unit)(
      batch: String => Unit)(read: String => S): Unit = {
    val spark = graft.SparkSpec.session
    spark.sparkContext.hadoopConfiguration.set("fs.crashy.impl", classOf[CrashyFs].getName)
    val pre = newDir()
    withPartitions(4)(boot(new File(pre, "state").toString))
    /** A copy of the pre-batch state, under the crashy scheme. */
    def fresh(): (File, String) = {
      val d = newDir()
      org.apache.commons.io.FileUtils.copyDirectory(new File(pre, "state"), new File(d, "state"))
      (d, s"crashy://${d.getAbsolutePath}/state")
    }
    def buckets(d: File) = new File(d, "state").listFiles().map(_.getName)
      .filter(_.startsWith("__bucket=")).toSet
    val want = (0 until (if (split) 5 else 4)).map(b => s"__bucket=$b").toSet
    // with a split: just below the pre-batch bytes per bucket
    val target = if (!split) spark.conf.get("spark.sql.files.maxPartitionBytes")
      else (new File(pre, "state").listFiles().filter(_.getName.startsWith("__bucket="))
        .flatMap(_.listFiles()).filterNot(_.getName.startsWith(".")).map(_.length).sum / 4 - 1)
        .toString
    withConf("spark.sql.files.maxPartitionBytes", target) {
      val (refDir, ref) = fresh()
      val steps = CrashyFs.run(ref, Int.MaxValue)(batch(ref))
      assert(read(ref) == expected)
      assert(buckets(refDir) == want)
      assert(steps.size > 10 && steps.exists(_.endsWith("_graft_done")), steps.mkString("\n"))
      for (k <- 1 to steps.size) {
        val (d, root) = fresh()
        val where = s"crash at step $k (${steps(k - 1)})"
        val err = intercept[Throwable](CrashyFs.run(root, k)(batch(root)))
        assert(Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[Crash]), s"$where: $err")
        // the batch never reached the checkpoint, so it replays
        batch(root)
        assert(read(root) == expected, s"$where: replay diverged")
        assert(buckets(d) == want, s"$where: ${buckets(d)}")
        assert(!new File(d, "state.bak").exists() && !new File(d, "state.tmp").exists(), where)
      }
    }
  }

  /** A CDC merge batch: updates, deletes, new keys and repeated keys over
    * all 4 buckets. The split state holds enough keys that rows, not each
    * file's fixed overhead, make its bytes, so a replay after the split
    * committed (5 buckets, under the target) splits none. */
  private def mergeCrashReplay(split: Boolean): Unit = {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    import graft.model.{CdcEnvelope => E}
    import graft.streaming.CdcStream
    val expected = mutable.Map[Long, String]()
    val keys = if (split) 4000L else 80L
    (0L until keys).foreach(k => expected(k) = s"v$k")
    val events = (1 to 60).map { i =>
      val k = (i * 7 % 100).toLong
      val kind = if (i % 6 == 0) E.Delete
        else if (expected.contains(k)) E.Update else E.Insert
      if (kind == E.Delete) expected.remove(k) else expected(k) = s"w$i"
      (k, if (kind == E.Delete) null else s"w$i", kind, i.toLong)
    }
    val batch = events.toDF("id", "v", E.Kind, E.Lsn).withColumn(E.Counter, org.apache.spark.sql.functions.lit(0))
    crashReplay(split, expected.toMap)(root => CdcStream.mergeBatch(
      spark.range(0, keys).selectExpr("id", "concat('v', id) AS v"), root, Seq("id")))(
      root => CdcStream.mergeBatch(batch, root, Seq("id")))(
      root => CdcStream.readState(spark, root).select("id", "v").as[(Long, String)].collect().toMap)
  }

  test("a CDC merge batch replayed after a crash at every swap step converges") {
    mergeCrashReplay(split = false)
  }

  test("a CDC merge batch that splits a bucket, replayed after a crash at " +
    "every swap step, converges") {
    mergeCrashReplay(split = true)
  }

  test("a bucketed rollup fold with a batch id, replayed after a crash at " +
    "every swap step, folds once, with and without a split") {
    val spark = graft.SparkSpec.session
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.model.{CdcEnvelope => E}
    import graft.operators.Rollup
    // 400 rows over 40 groups; the batch inserts 60 rows and deletes 40
    val row = struct(concat(lit("g"), (col("id") % 40).cast("string")).as("grp"),
      col("id").as("v"))
    val none = lit(null).cast("struct<grp:string,v:bigint>")
    def changes(ids: org.apache.spark.sql.Dataset[_], kind: String) = Rollup.retractions(
      ids.select((if (kind == E.Delete) row else none).as("before"),
        (if (kind == E.Delete) none else row).as("after"),
        lit(kind).as(E.Kind), col("id").as(E.Lsn), lit(0).as(E.Counter)))
    val deleted = col("id") < 400 && col("id") % 10 === 3
    val batch = changes(spark.range(400, 460), E.Insert)
      .unionByName(changes(spark.range(0, 400).filter(deleted), E.Delete))
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.select("grp", "n_rows", "sum_v").as[(String, Long, Long)].collect().toSet
    val expected = collected(Rollup.init(spark.range(0, 460).filter(!deleted)
      .select(row.getField("grp").as("grp"), col("id").as("v")), Seq("grp"), Seq("v")))
    for (split <- Seq(false, true))
      crashReplay(split, expected)(root => Rollup.foldBucketed(spark, root,
        changes(spark.range(0, 400), E.Insert), Seq("grp"), Seq("v"), batchId = 0L))(
        root => Rollup.foldBucketed(spark, root, batch, Seq("grp"), Seq("v"), batchId = 1L))(
        root => collected(Rollup.readBucketed(spark, root)))
  }

  // ---------------- small file ----------------

  private def fileCase(bootstrap: Boolean): () => Case = () => {
    val target = new Path(newDir().toURI.toString, "t.cursor")
    Case(s"file(bootstrap=$bootstrap)",
      setup = fs => if (!bootstrap) Swap.writeText(fs, target, "41"),
      run = fs => Swap.writeText(fs, target, "42"),
      recover = _ => (),
      state = () => Swap.readText(raw, target).map("v" -> _).toMap,
      sidecars = Nil)
  }

  test("small file: every crash point reads as before or after") {
    for (b <- Seq(false, true)) {
      val mk = fileCase(b)
      // the rename that lands the value; a replace first deletes the old
      // target only once the temp is complete
      crashSweep(mk, _.lastIndexWhere(_.startsWith("rename ")))
    }
  }

  test("small file: a rename returning false loses neither value") {
    for (b <- Seq(false, true)) {
      val c = fileCase(b)()
      c.setup(raw)
      val before = c.state()
      val f = new Faulty(raw, 1, falseRename = true)
      // with a target to replace, the refused rename takes the
      // delete-then-rename path; with none, it fails naming both paths
      try c.run(f)
      catch { case e: IOException => assert(b && e.getMessage.contains(" → "), e) }
      val created = f.log.indexWhere(_.startsWith("create"))
      val deleted = f.log.indexWhere(_.startsWith("delete"))
      assert(deleted < 0 || deleted > created + 1,
        s"target deleted before the temp was complete: ${f.log}")
      val got = c.state()
      assert(got == before || got == Map("v" -> "42"), got)
    }
  }

  test("small file: a temp cut short by a crash reads as absent") {
    val d = newDir()
    Files.write(new File(d, "t.cursor.tmp").toPath, "4".getBytes(UTF_8))
    val target = new Path(d.toURI.toString, "t.cursor")
    assert(Swap.readText(raw, target).isEmpty)
    // a finished temp whose rename never ran is recovered from
    Files.write(new File(d, "t.cursor.tmp").toPath, "42\n".getBytes(UTF_8))
    assert(Swap.readText(raw, target).contains("42"))
    // the target wins over any temp
    Swap.writeText(raw, target, "43")
    Files.write(new File(d, "t.cursor.tmp").toPath, "44\n".getBytes(UTF_8))
    assert(Swap.readText(raw, target).contains("43"))
  }
}

object SwapSpec {
  final class Crash extends RuntimeException("injected crash")

  /** The local filesystem under the `crashy:` scheme, so a Spark writer
    * can be handed a faulty one by path. Inside [[CrashyFs.run]] it
    * counts the swap steps on one state root — every create, mkdirs,
    * rename or delete of the root, a child of the root, `<root>.bak` or
    * anything in it, and the drop of `<root>.tmp` — and throws [[Crash]]
    * at the `failAt`-th. Spark's own write into `<root>.tmp` is not
    * counted. */
  final class CrashyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = CrashyFs.Uri
    override def getScheme: String = CrashyFs.Uri.getScheme

    private def step(op: String, paths: Path*): Unit = CrashyFs.step(op, paths)

    override def rename(src: Path, dst: Path): Boolean = {
      step("rename", src, dst); super.rename(src, dst)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      step("delete", p); super.delete(p, recursive)
    }
    override def mkdirs(p: Path, perm: FsPermission): Boolean = {
      step("mkdirs", p); super.mkdirs(p, perm)
    }
    override def create(p: Path, perm: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      step("create", p)
      super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
    }
  }

  object CrashyFs {
    val Uri: java.net.URI = java.net.URI.create("crashy:///")
    private var armed: Option[(String, Int)] = None
    private val log = mutable.ArrayBuffer.empty[String]

    /** Run `body` with `root`'s swap steps counted, crashing at step
    * `failAt`; the steps taken, in order. */
    def run(root: String, failAt: Int)(body: => Unit): Seq[String] = {
      synchronized { armed = Some((new Path(root).toUri.getPath, failAt)); log.clear() }
      try body finally synchronized { armed = None }
      synchronized(log.toList)
    }

    private def step(op: String, paths: Seq[Path]): Unit = synchronized {
      for ((root, failAt) <- armed) {
        val ps = paths.map(_.toUri.getPath)
        def swapped(p: String) = p == root || new Path(p).getParent.toUri.getPath == root ||
          p == root + ".bak" || p.startsWith(root + ".bak/")
        if (ps.exists(swapped) || (op == "delete" && ps == Seq(root + ".tmp"))) {
          log += (op +: ps).mkString(" ")
          if (log.size == failAt) throw new Crash
        }
      }
    }
  }

  /** Counts every mutating call (create, mkdirs, rename, delete) and
    * fails the `failAt`-th: by throwing [[Crash]], or — with
    * `falseRename` — by making the `failAt`-th rename return false
    * without renaming. Logs `op from to` per step. */
  final class Faulty(under: FileSystem, failAt: Int, falseRename: Boolean)
      extends FilterFileSystem(under) {
    val log = mutable.ArrayBuffer.empty[String]
    val renamed = mutable.Map.empty[Int, (Path, Path)]
    private var steps = 0
    private var renames = 0

    private def step(op: String, paths: Path*): Boolean = {
      log += (op +: paths.map(_.toString)).mkString(" ")
      steps += 1
      !falseRename && steps == failAt
    }

    override def rename(src: Path, dst: Path): Boolean = {
      renamed(log.size) = (src, dst)
      if (step("rename", src, dst)) throw new Crash
      renames += 1
      if (falseRename && renames == failAt) false
      else super.rename(src, dst)
    }

    override def delete(p: Path, recursive: Boolean): Boolean = {
      if (step("delete", p)) throw new Crash
      super.delete(p, recursive)
    }

    override def mkdirs(p: Path, perm: FsPermission): Boolean = {
      if (step("mkdirs", p)) throw new Crash
      super.mkdirs(p, perm)
    }

    override def mkdirs(p: Path): Boolean = {
      if (step("mkdirs", p)) throw new Crash
      super.mkdirs(p)
    }

    override def create(p: Path, perm: FsPermission, overwrite: Boolean,
                        bufferSize: Int, replication: Short, blockSize: Long,
                        progress: Progressable): FSDataOutputStream = {
      if (step("create", p)) throw new Crash
      super.create(p, perm, overwrite, bufferSize, replication, blockSize,
        progress)
    }
  }
}
