package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class ReplaySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.GraftSession.init(
    graft.GraftSession.builder("local[2]", 2).getOrCreate())

  override def afterAll(): Unit = spark.stop()

  test("at tiny scale the naive last-write-wins reference equals readState " +
    "after a replay, and the check catches a damaged state") {
    for (keys <- Seq(Inputs.Spread, Inputs.Hot(4))) {
      val dir = Files.createTempDirectory("graftbench-replay")
      try {
        val w = new Replication(spark, 11, keys, stateKeys = 60, eventsPerBatch = 40)
        w.prepare(dir); w.warmUp()
        val phase = w.measure(0.001, new Tracer(spark.sparkContext, false))
        assert(phase.failed == 0 && phase.records == 40L * phase.opMs.length)
        assert(w.verify() == (0 -> Nil), keys)
        // drop one bucket's files: the state no longer matches
        val bucket = Files.list(Paths.get(w.state)).iterator().asScala
          .find(_.getFileName.toString.startsWith("__bucket=")).get
        Workload.deleteTree(bucket)
        val (bad, msgs) = w.verify()
        assert(bad > 0 && msgs.exists(_.contains("differs")), keys)
      } finally Workload.deleteTree(dir)
    }
  }
}
