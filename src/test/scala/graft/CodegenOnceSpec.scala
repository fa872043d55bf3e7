package graft

import graft.functions.Dedup
import org.apache.spark.graft.ExecutorSessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Each generated class is compiled once per process on a
  * [[GraftSession.builder]] session: the work a standing-index pass
  * repeats costs no compile the second time. Both of the builder's
  * codegen entries are needed: with artifact isolation on, every
  * persisted frame's jobs run in a new executor session whose class
  * loader misses the cache; with Spark's 100-entry cache, one pass
  * evicts its own classes before it reuses them. */
class CodegenOnceSpec extends SparkSpec {

  /** One pass of the index workload into fresh directories: each
    * arrival goes into the band and the containment index, and both are
    * compacted after every second arrival. */
  private def pass(arrivals: Seq[DataFrame]): Unit = {
    val dir = tempDir("graft_codegen")
    val (band, cont) = (s"$dir/band", s"$dir/cont")
    arrivals.zipWithIndex.foreach { case (batch, i) =>
      Dedup.bandIndexUpdate(band, batch, "text", "doc_id").select("id_a", "id_b").collect()
      Dedup.containmentIndexUpdate(cont, batch, "text", "doc_id").select("id_a", "id_b").collect()
      if (i % 2 == 1) {
        Dedup.bandIndexCompact(spark, band)
        Dedup.containmentIndexCompact(spark, cont)
      }
    }
  }

  test("a second identical index pass compiles no class and opens no executor session") {
    val docs = Tables.load(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val arrivals = (0 until 4).map(m => docs.filter(col("doc_id") % 4 === m))
    pass(arrivals)
    val (codegen0, sessions0) = (Codegen.now(), ExecutorSessions.count)
    pass(arrivals)
    val (codegen, sessions) = (Codegen.now() - codegen0, ExecutorSessions.count - sessions0)
    assert((codegen.compiles, sessions) == ((0L, 0)),
      f"second pass: ${codegen.compiles} compiles (${codegen.compileMs}%.0f ms), " +
        s"$sessions new executor sessions")
  }
}
