package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.Dedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.IntegerType

/** `index_maintain`: one operation is one arrival of documents, applied
  * to the standing band-LSH index (`Dedup.bandIndexUpdate`) and then to
  * the standing containment index (`Dedup.containmentIndexUpdate`); both
  * indexes are compacted after every [[Sizes.CompactEvery]] arrivals. A
  * pass is the whole corpus in seeded arrival order; the indexes are
  * reset between passes. The pairs each pass finds must equal the
  * one-shot `minhashCandidates` / `prefixContainmentPairs` over the
  * documents that have arrived. */
final class IndexMaintain(spark: SparkSession, seed: Long) extends Workload {
  private val arrivals = Sizes.Docs / Sizes.ArrivalDocs

  private var dir: Path = _
  private var next = 0
  private var timedOps = 0
  /** Per pass: (arrived doc ids, band pairs, containment pairs). */
  private val passes = mutable.ArrayBuffer.empty[
    (mutable.Set[Long], mutable.Set[(Long, Long)], mutable.Set[(Long, Long)])]
  private val indexFiles = mutable.ArrayBuffer.empty[Double]
  private val pairsFound = mutable.ArrayBuffer.empty[Double]

  private lazy val docs = Inputs.documents(seed, Sizes.Docs)
  private lazy val order = Inputs.arrivalOrder(seed, Sizes.Docs)

  private def bandIdx = dir.resolve("band_index")
  private def contIdx = dir.resolve("containment_index")

  def prepare(d: Path): Unit = {
    dir = d; next = 0; passes.clear()
    val slot = order.zipWithIndex.map { case (id, i) => id -> i / Sizes.ArrivalDocs }.toMap
    spark.createDataFrame(
        docs.map(doc => Row.fromSeq(doc.toRow.toSeq :+ slot(doc.id))).asJava,
        Inputs.documentsSchema.add("arrival", IntegerType))
      .repartition(1).write.partitionBy("arrival")
      .parquet(d.resolve("arrivals").toString)
  }

  /** The first arrival of the first pass: the indexes' bootstrap. */
  def warmUp(): Unit = op(new Tracer(spark.sparkContext, false))

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def op(tracer: Tracer): Unit = {
    val pos = next % arrivals
    next += 1
    if (pos == 0) {
      Workload.deleteTree(bandIdx); Workload.deleteTree(contIdx)
      passes += ((mutable.Set.empty, mutable.Set.empty, mutable.Set.empty))
    }
    val (ids, band, cont) = passes.last
    val batch = spark.read.parquet(dir.resolve(s"arrivals/arrival=$pos").toString)
    tracer.op("op") {
      if (tracer.enabled)
        indexFiles += (Workload.partFiles(bandIdx)._1 + Workload.partFiles(contIdx)._1).toDouble
      val b = tracer.span("functions.band_update") {
        pairs(Dedup.bandIndexUpdate(bandIdx.toString, batch, "text", "doc_id"))
      }
      val c = tracer.span("functions.containment_update") {
        pairs(Dedup.containmentIndexUpdate(contIdx.toString, batch, "text", "doc_id"))
      }
      if ((pos + 1) % Sizes.CompactEvery == 0) tracer.span("functions.compact") {
        Dedup.bandIndexCompact(spark, bandIdx.toString)
        Dedup.containmentIndexCompact(spark, contIdx.toString)
      }
      band ++= b; cont ++= c
      if (tracer.enabled) pairsFound += (b.length + c.length).toDouble
    }
    ids ++= order.slice(pos * Sizes.ArrivalDocs, (pos + 1) * Sizes.ArrivalDocs)
  }

  def measure(seconds: Double, tracer: Tracer): Phase = {
    // every timed phase starts at the second arrival of a fresh pass (the
    // first one, an index bootstrap, is its untimed warm-up), so traced
    // and untraced phases time the same arrivals
    if (next % arrivals != 1) {
      next += (arrivals - next % arrivals) % arrivals
      op(new Tracer(spark.sparkContext, false))
    }
    val ms = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    // whole compaction cycles only, so every phase times the same mix of
    // arrivals with and without a compaction
    while ((ms.sum < seconds * 1000 || ms.length % Sizes.CompactEvery != 0) && failed == 0) {
      val (ok, t) = Workload.timedMs(scala.util.Try(op(tracer)))
      ms += t
      timedOps += 1
      ok.failed.foreach { e => e.printStackTrace(); failed += 1 }
    }
    Phase(ms.toSeq, ms.length.toLong * Sizes.ArrivalDocs, ms.sum / 1000,
      ms.length, failed)
  }

  def verify(): (Int, Seq[String]) = {
    val corpus = spark.createDataFrame(docs.map(_.toRow).asJava, Inputs.documentsSchema)
    val bandAll = pairs(Dedup.minhashCandidates(corpus, "text", "doc_id")).toSet
    val contAll = pairs(Dedup.prefixContainmentPairs(corpus, "text", "doc_id")).toSet
    val bad = passes.zipWithIndex.flatMap { case ((ids, band, cont), i) =>
      def within(ps: Set[(Long, Long)]) = ps.filter { case (a, b) => ids(a) && ids(b) }
      (if (band != within(bandAll)) Seq(s"pass $i: band-index pairs differ from minhashCandidates") else Nil) ++
        (if (cont != within(contAll)) Seq(s"pass $i: containment pairs differ from prefixContainmentPairs") else Nil)
    }
    // a pass's pairs are cumulative: a wrong pass fails all its arrivals
    (if (bad.isEmpty) 0 else timedOps, bad.toSeq)
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val spans = tracer.finished()
    Layers.pick(Layers.spanMedians(tracer, spans, "functions.band_update"),
        "functions.band_update.ms", "functions.band_update.jobs",
        "functions.band_update.tasks") ++
      Layers.pick(Layers.spanMedians(tracer, spans, "functions.containment_update"),
        "functions.containment_update.ms", "functions.containment_update.jobs",
        "functions.containment_update.tasks", "functions.containment_update.cpu_ms") ++
      Layers.pick(Layers.spanMedians(tracer, spans, "functions.compact"),
        "functions.compact.ms") ++
      Layers.medianOf(indexFiles.toSeq).map("functions.index.files" -> _) ++
      Layers.medianOf(pairsFound.toSeq).map("functions.pairs_found" -> _) ++
      Layers.opMedians(tracer, spans)
  }
}
