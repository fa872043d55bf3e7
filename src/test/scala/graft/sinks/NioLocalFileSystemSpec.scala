package graft.sinks

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** [[NioLocalFileSystem]] behaves as Hadoop's local filesystem does
  * (same modes, same checksum files, a partitioned Spark write), without
  * a `chmod` child per file. */
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

  /** `chmod` children of this JVM seen while `body` runs whose
    * arguments name `root`. */
  private def chmodsOn(root: java.io.File)(body: => Unit): Int = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val done = new AtomicBoolean(false)
    val watcher = new Thread(() => while (!done.get) {
      ProcessHandle.current().descendants().iterator().asScala.foreach { ph =>
        val info = ph.info()
        if (info.command().orElse("").endsWith("chmod") &&
            info.arguments().orElse(Array.empty[String]).exists(_.contains(root.getPath)))
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
    assert(chmodsOn(stock)((0 until 20).foreach(_ => exercise(hadoopFs, newDirIn(stock)))) > 0)
    assert(chmodsOn(nio)((0 until 20).foreach(_ => exercise(nioFs, newDirIn(nio)))) == 0)
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
}
