package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private val tempDirs = mutable.Buffer.empty[Path]

  /** A new empty directory under `java.io.tmpdir` whose name starts with
    * `prefix`; it and everything under it are deleted after the suite. */
  def tempDir(prefix: String): String = tempDirs.synchronized {
    tempDirs += Files.createTempDirectory(prefix)
    tempDirs.last.toString
  }

  /** `body` with the session conf `key` set to `value`, restored after. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with `n` shuffle partitions: a bucketed state that `body`
    * creates starts with `n` buckets when its first batch is small. */
  def withPartitions[A](n: Int)(body: => A): A =
    withConf("spark.sql.shuffle.partitions", n.toString)(body)

  override def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(SparkSpec.deleteTree))
    finally super.afterAll()
}

object SparkSpec {
  /** The engine's own session ([[GraftSession.builder]] settings and
    * [[GraftSession.init]] registrations) on four local cores. */
  lazy val session: SparkSession = {
    val s = GraftSession.init(
      GraftSession.builder("local[4]", 4).appName("graft-test").getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Delete `root` and everything under it, deepest first, without
    * following links; best effort, as a cleanup must not fail a suite. */
  def deleteTree(root: Path): Unit = Try {
    val paths = Files.walk(root)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => { Try(Files.deleteIfExists(p)); () })
    finally paths.close()
  }
}
