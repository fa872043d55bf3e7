package graft.sinks

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.types.StructType

/** [[NioLocalFileSystem]] and [[NioLocalFs]] behave as Hadoop's local
  * filesystems do through `FileSystem` and `FileContext` (same modes, same
  * checksum files, a partitioned Spark write, a checkpoint log, symlinks),
  * without a `chmod` child per file or a `readlink` child per rename. */
class NioLocalFileSystemSpec extends graft.SparkSpec {

  private val conf = new Configuration()

  private def newDir(): java.io.File =
    new java.io.File(tempDir("graft_niofs"))

  private def modes(root: java.io.File): Map[String, String] = {
    val s = Files.walk(root.toPath)
    try s.iterator().asScala.filter(_ != root.toPath).map(p =>
      root.toPath.relativize(p).toString ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  /** Create nested dirs and files, and set a few modes, through `fs`. */
  private def exercise(fs: FileSystem, root: java.io.File): Unit = {
    val base = new Path(root.toURI)
    fs.mkdirs(new Path(base, "a/b/c"))
    for (i <- 0 until 3) {
      val out = fs.create(new Path(base, s"a/b/f$i"))
      try out.write(s"row $i".getBytes(UTF_8)) finally out.close()
    }
    Seq("a/b/f0" -> "640", "a/b/f1" -> "755", "a/b/c" -> "700", "a/b/f2" -> "000")
      .foreach { case (p, m) => fs.setPermission(new Path(base, p), new FsPermission(m)) }
  }

  /** Children of this JVM seen while `body` runs whose command is one of
    * `commands` and whose arguments name a path under one of `roots`. */
  private def childrenOn(commands: Set[String], roots: String*)(body: => Unit): Int = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val done = new AtomicBoolean(false)
    val watcher = new Thread(() => while (!done.get) {
      ProcessHandle.current().descendants().iterator().asScala.foreach { ph =>
        val info = ph.info()
        val command = info.command().orElse("")
        if (commands(command.substring(command.lastIndexOf('/') + 1)) &&
            info.arguments().orElse(Array.empty[String]).exists(a => roots.exists(a.contains)))
          seen.add(ph.pid())
      }
    })
    watcher.start()
    try body finally { done.set(true); watcher.join() }
    seen.size
  }

  test("files and directories get the modes and checksums Hadoop's local filesystem gives them") {
    val (stock, nio) = (newDir(), newDir())
    val hadoopFs = new LocalFileSystem(); hadoopFs.initialize(URI.create("file:///"), conf)
    val nioFs = new NioLocalFileSystem(); nioFs.initialize(URI.create("file:///"), conf)
    exercise(hadoopFs, stock)
    exercise(nioFs, nio)
    val want = modes(stock)
    assert(want.keySet.exists(_.endsWith(".f1.crc")), want)
    assert(modes(nio) == want)
    assert(new String(Files.readAllBytes(Paths.get(nio.getPath, "a/b/f1")), UTF_8) == "row 1")
  }

  test("no chmod child process per created file or directory") {
    assume(!NativeIO.isAvailable, "the native hadoop library sets modes without a child")
    val (stock, nio) = (newDir(), newDir())
    val hadoopFs = new LocalFileSystem(); hadoopFs.initialize(URI.create("file:///"), conf)
    val nioFs = new NioLocalFileSystem(); nioFs.initialize(URI.create("file:///"), conf)
    // the control shows the watcher sees the children Hadoop forks
    assert(childrenOn(Set("chmod"), stock.getPath)(
      (0 until 20).foreach(_ => exercise(hadoopFs, newDirIn(stock)))) > 0)
    assert(childrenOn(Set("chmod"), nio.getPath)(
      (0 until 20).foreach(_ => exercise(nioFs, newDirIn(nio)))) == 0)
  }

  private def newDirIn(root: java.io.File): java.io.File =
    Files.createTempDirectory(root.toPath, "run").toFile

  test("Hadoop builds it from fs.file.impl, and a partitioned Spark write reads back through it") {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    assert(FileSystem.newInstance(URI.create("file:///"), c).isInstanceOf[NioLocalFileSystem])
    // the engine's session writes `file:` paths through it
    val spark = graft.SparkSpec.session
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
    val (stock, nio) = (newDir(), newDir())
    val df = spark.range(0, 200).selectExpr("id", "id % 4 AS p", "concat('v', id) AS v")
    df.write.partitionBy("p").parquet(s"$nio/t")
    val back = spark.read.parquet(s"$nio/t")
    assert(back.selectExpr("id", "p", "v").collect().toSet == df.collect().toSet)
    // uncached, so the write's own options pick Hadoop's stock filesystem
    df.write.options(Map("fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")).partitionBy("p").parquet(s"$stock/t")
    def layout(root: java.io.File) = modes(new java.io.File(root, "t")).map {
      case (k, v) => k.replaceAll("part-[^/]*", "part") -> v }
    assert(layout(nio) == layout(stock))
  }

  // ------------------------------------------------------------ FileContext

  /** A conf whose `FileContext` for `file:` is `impl`. */
  private def contextConf(impl: Class[_]): Configuration = {
    val c = new Configuration()
    c.set("fs.AbstractFileSystem.file.impl", impl.getName)
    c
  }

  /** Each file and directory under `root`: its mode and, for a file, its
    * bytes, checksum files included. */
  private def tree(root: java.io.File): Map[String, (String, Seq[Byte])] =
    modes(root).map { case (k, mode) =>
      val p = root.toPath.resolve(k)
      k -> (mode, if (Files.isDirectory(p)) Nil else Files.readAllBytes(p).toSeq)
    }

  /** mkdir, create, rename and delete through a `FileContext` on `conf`,
    * then three entries of a checkpoint log (a temp file renamed into
    * place each) through Spark's checkpoint file manager on `conf`. The
    * names each directory lists. */
  private def exerciseContext(conf: Configuration, root: java.io.File): Seq[Seq[String]] = {
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    val base = new Path(root.toURI)
    def at(p: String) = new Path(base, p)
    def write(p: String, text: String, flags: CreateFlag*): Unit = {
      val out = fc.create(at(p), java.util.EnumSet.copyOf(flags.asJava),
        Options.CreateOpts.createParent())
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    fc.mkdir(at("a/b/c"), FsPermission.getDirDefault, true)
    write("a/b/f0", "row 0", CreateFlag.CREATE)
    write("a/b/f1", "row 1", CreateFlag.CREATE)
    write("a/b/f1", "row 1, again", CreateFlag.CREATE, CreateFlag.OVERWRITE)
    write("a/b/f2", "row 2", CreateFlag.CREATE)
    write("a/d/e/f3", "row 3", CreateFlag.CREATE)
    fc.rename(at("a/b/f0"), at("a/b/c/g0"))
    fc.rename(at("a/b/f2"), at("a/b/f1"), Options.Rename.OVERWRITE)
    fc.rename(at("a/d/e"), at("a/b/e"))
    assert(fc.delete(at("a/d"), true))
    val log = at("log")
    val mgr = CheckpointFileManager.create(log, conf)
    mgr.mkdirs(log)
    for (i <- 0 until 3) {
      val out = mgr.createAtomic(new Path(log, i.toString), false)
      try out.write(s"v1\n{\"batch\":$i}".getBytes(UTF_8)) finally out.close()
    }
    Seq("a", "a/b", "a/b/c", "a/b/e", "log").map(d =>
      fc.util.listStatus(at(d)).map(_.getPath.getName).toSeq.sorted)
  }

  test("through FileContext, mkdir, create, rename, delete and list leave the " +
    "files, checksums and modes Hadoop's LocalFs leaves") {
    val (stock, nio) = (newDir(), newDir())
    val want = exerciseContext(contextConf(classOf[LocalFs]), stock)
    assert(exerciseContext(contextConf(classOf[NioLocalFs]), nio) == want)
    assert(want.last == Seq("0", "1", "2"), want)
    val files = tree(stock)
    assert(files.keySet.exists(_.endsWith(".f1.crc")) && files.contains("log/0"), files.keySet)
    assert(tree(nio) == files)
  }

  test("through FileContext, a symlink still reads as one and a missing path " +
    "still throws FileNotFoundException") {
    val root = newDir().toPath
    val target = Files.writeString(root.resolve("target"), "x")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    for (impl <- Seq(classOf[LocalFs], classOf[NioLocalFs])) {
      val fc = FileContext.getFileContext(URI.create("file:///"), contextConf(impl))
      val st = fc.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink && st.getSymlink.toUri.getPath == target.toString,
        s"${impl.getSimpleName}: $st")
      assert(!fc.getFileLinkStatus(new Path(target.toUri)).isSymlink)
      val missing = new Path(root.resolve("missing").toUri)
      intercept[java.io.FileNotFoundException](fc.getFileLinkStatus(missing))
      intercept[java.io.FileNotFoundException](fc.getFileStatus(missing))
    }
  }

  test("Hadoop builds NioLocalFs from fs.AbstractFileSystem.file.impl, and " +
    "the engine's session resolves file: to it") {
    val file = URI.create("file:///")
    assert(FileContext.getFileContext(file, contextConf(classOf[NioLocalFs]))
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    // the session's conf, and the one a streaming query is given
    for (c <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf()))
      assert(FileContext.getFileContext(file, c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  /** The `readlink` and `chmod` children started on `base` while a
    * [[graft.streaming.CdcStream.replicate]] of three file-queue
    * micro-batches, through a monotonic guard (a state store), replicates
    * into `base/state` and checkpoints into `base/ckpt`. Spark's cleaner
    * forks an `rm -rf` of a finished batch's session artifacts under
    * java.io.tmpdir; that child is neither command nor under `base`. */
  private def replicationForks(base: String): Int = {
    import org.apache.spark.sql.functions._
    import graft.model.{CdcEnvelope => E}
    import graft.streaming.CdcStream
    val queue = Files.createDirectories(Paths.get(base, "queue", "t"))
    for (b <- 0 until 3)
      Files.writeString(queue.resolve(s"batch-$b.json"), (0 until 5).map { i =>
        s"""{"id":${b * 5 + i},"v":"v$b$i","lsn":${b * 10 + i}}""" }.mkString("\n"))
    val p = from_json(col("value"), StructType.fromDDL("id BIGINT, v STRING, lsn BIGINT"))
    val stream = graft.sources.Readers.fileQueueStream(spark, s"$base/queue", "t", Some(1))
      .select(p.as("p")).select(col("p.id").as("id"), col("p.v").as("v"),
        lit(E.Update).as(E.Kind), col("p.lsn").as(E.Lsn), lit(0).as(E.Counter),
        col("p.id").cast("string").as("key"))
    val guarded = CdcStream.monotonicGuard(stream, "key").drop("key")
    val forks = childrenOn(Set("readlink", "chmod"), base) {
      val q = CdcStream.replicate(guarded, s"$base/state", s"$base/ckpt", Seq("id"),
        CdcStream.Bufferer(interval = None)).start()
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
      } finally q.stop()
    }
    assert(CdcStream.readState(spark, s"$base/state").count() == 15)
    forks
  }

  test("a replicated stream forks no readlink or chmod on its checkpoint or state") {
    assume(!NativeIO.isAvailable, "the native hadoop library sets modes without a child")
    // the control: Hadoop's own FileContext filesystem forks them
    val stock = withConf("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)(
      replicationForks(tempDir("graft_forks_stock")))
    assert(stock > 0)
    assert(replicationForks(tempDir("graft_forks_nio")) == 0)
  }
}
