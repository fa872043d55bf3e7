package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.TransferRunner
import graft.config.{SinkConfig, SourceConfig, Transfer, TransferType}
import graft.operators.{TransformerChain, Transformers => T}
import graft.sinks.Sinks
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `snapshot_chain`: one operation is one `TransferRunner.runSnapshot` of
  * a seeded lineitem table (one parquet file, one row group) through
  * filter → HMAC mask → column filter → number-to-float → to-datetime
  * into a parquet sink with Drop cleanup. Every transfer's output must
  * equal a reference computed on the driver without Spark. */
final class SnapshotChain(spark: SparkSession, seed: Long) extends Workload {
  private val params = Inputs.rng(seed, "snapshot-params")
  /** Filter constant: keeps 52% to 60% of the rows. */
  private val minQuantity: Int = 21 + params.nextInt(5)
  private val salt: String = f"salt-${params.nextLong()}%016x"

  private val chain: Seq[graft.operators.Transformer] = Seq(
    T.FilterRows(Seq(s"l_quantity >= $minQuantity")),
    T.MaskField(Seq("l_partkey"), salt),
    T.FilterColumns(exclude = Seq("l_tax", "l_linestatus")),
    T.NumberToFloat(Seq("l_linenumber")),
    T.ConvertToDatetime(Seq("l_shipdate")))

  private var dir: Path = _
  private val digests = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val outFiles = mutable.ArrayBuffer.empty[Double]

  private def transfer: Transfer = Transfer(TransferType.SnapshotOnly,
    SourceConfig.Parquet(dir.resolve("lineitem.parquet").toString),
    SinkConfig.Parquet(dir.resolve("sink").toString), chain,
    cleanup = Sinks.Drop)

  def prepare(d: Path): Unit = {
    dir = d
    val rows = Inputs.lineitem(seed, Sizes.LineitemRows)
    Workload.write(spark.createDataFrame(rows.map(_.toRow).asJava,
      Inputs.lineitemSchema), d.resolve("lineitem.parquet"))
  }

  def warmUp(): Unit = TransferRunner.runSnapshot(spark, transfer)

  /** Order-independent digest: row count, XOR and low-word sum of each
    * row's xxhash64 over the columns in name order. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(df.columns.sorted.toIndexedSeq.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h),
      sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def op(tracer: Tracer): Unit = {
    val t = transfer
    if (!tracer.enabled) TransferRunner.runSnapshot(spark, t)
    else tracer.op("op") {
      // each layer's output is materialized before the next layer runs,
      // so each span holds only its own layer's work
      val src = tracer.span("sources.scan") {
        val s = TransferRunner.source(spark, t.source).persist(); s.count(); s
      }
      val out = tracer.span("operators.chain") {
        val o = TransformerChain(t.transformers)(src).persist(); o.count(); o
      }
      tracer.span("sinks.parquet") { TransferRunner.write(out, t.sink, t.cleanup) }
      out.unpersist(); src.unpersist()
      outFiles += Workload.partFiles(dir.resolve("sink"))._1.toDouble
    }
  }

  def measure(seconds: Double, tracer: Tracer): Phase = {
    val ms = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    while (ms.sum < seconds * 1000) {
      val (ok, t) = Workload.timedMs(scala.util.Try(op(tracer)))
      ms += t
      if (ok.isFailure) { failed += 1; ok.failed.get.printStackTrace() }
      else digests += digest(spark.read.parquet(dir.resolve("sink").toString))
    }
    Phase(ms.toSeq, ms.length.toLong * Sizes.LineitemRows, ms.sum / 1000,
      ms.length, failed)
  }

  /** The chain's output computed row by row on the driver. */
  private def reference(): DataFrame = {
    val mask = Workload.hmacHex(salt)
    val rows = Inputs.lineitem(seed, Sizes.LineitemRows)
      .filter(_.quantity >= minQuantity)
      .map(l => Row(l.orderkey, mask(l.partkey.toString), l.suppkey,
        l.linenumber.toDouble, l.quantity, l.extendedprice, l.discount,
        l.returnflag, new java.sql.Timestamp(l.shipdateS * 1000L)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", StringType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", DoubleType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_shipdate", TimestampType))))
  }

  def verify(): (Int, Seq[String]) = {
    val want = digest(reference())
    val bad = digests.count(_ != want)
    (bad, if (bad == 0) Nil
          else Seq(s"$bad of ${digests.length} transfers differ from the reference $want"))
  }

  def layers(tracer: Tracer): Map[String, Double] = {
    val spans = tracer.finished()
    val scan = Layers.spanMedians(tracer, spans, "sources.scan")
    val ch = Layers.spanMedians(tracer, spans, "operators.chain")
    val sink = Layers.spanMedians(tracer, spans, "sinks.parquet")
    Layers.pick(scan, "sources.scan.ms", "sources.scan.tasks", "sources.scan.in_bytes") ++
      Layers.pick(ch, "operators.chain.ms", "operators.chain.cpu_ms",
        "operators.chain.core_util") ++
      Layers.pick(sink, "sinks.parquet.ms", "sinks.parquet.out_bytes",
        "sinks.parquet.tasks") ++
      Layers.medianOf(outFiles.toSeq).map("sinks.parquet.out_files" -> _) ++
      Layers.opMedians(tracer, spans)
  }
}
