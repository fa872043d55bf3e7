package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession fixture for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
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
}
