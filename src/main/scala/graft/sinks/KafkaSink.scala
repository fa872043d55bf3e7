package graft.sinks

import graft.model.{CdcEnvelope => E}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Kafka queue sink (reference: pkg/providers/kafka sink/writer; queue
  * serializers pkg/serializer/queue/{json,debezium}.go; topic/key
  * semantics pkg/abstract/changeitem/queue_meta.go).
  *
  * The engine-side surface is [[wireFrame]]: render any (optionally
  * CDC-enveloped) frame into Spark's Kafka write contract — binary
  * `key` / `value` plus `topic`. The key is the rendered PK tuple, which
  * is Kafka's partitioner input, so per-key ordering survives the broker
  * exactly like the reference's hash-by-key topic sharding. The broker
  * write itself is `format("kafka")` (the spark-sql-kafka package — not
  * bundled in this sandbox, so the option plumbing is config-tested and
  * the serde loop is proven by the file-queue round-trip, which writes
  * this wire frame's value).
  */
object KafkaSink {

  /** Queue payload formats (serialization format
    * pkg/abstract/model/serialization.go:12-18). */
  sealed trait WireFormat
  case object JsonWire extends WireFormat
  case object DebeziumWire extends WireFormat
  final case class CsvWire(delimiter: String = ",") extends WireFormat
  /** Mirror/raw passthrough of one column. */
  final case class RawWire(column: String) extends WireFormat

  private def valueExpr(df: DataFrame, fmt: WireFormat): Column = {
    val dataCols = E.dataCols(df)
    fmt match {
      case JsonWire =>
        // CDC metadata (kind/lsn) rides inside the payload when present
        val metaInPayload = Seq(E.Kind, E.Lsn).filter(df.columns.contains)
        to_json(struct((dataCols ++ metaInPayload).map(col): _*))
      case DebeziumWire => graft.parsers.Debezium.emitValue(dataCols)
      case CsvWire(d) => Sinks.csvLine(dataCols.map(col), d)
      case RawWire(c) => col(c).cast("string")
    }
  }

  /** Render to the Kafka write contract: (key, value, topic). */
  def wireFrame(df: DataFrame, topic: String, keyCols: Seq[String] = Nil,
                fmt: WireFormat = JsonWire): DataFrame = {
    val key: Column =
      if (keyCols.isEmpty) lit(null).cast("binary")
      else concat_ws("\u0001", keyCols.map(c => col(c).cast("string")): _*)
        .cast("binary")
    df.select(key.as("key"), valueExpr(df, fmt).cast("binary").as("value"),
      lit(topic).as("topic"))
  }

  /** Writer options (pkg/providers/kafka/writer.go connection config). */
  def kafkaOptions(bootstrap: String,
                   extra: Map[String, String] = Map.empty): Map[String, String] =
    Map("kafka.bootstrap.servers" -> bootstrap) ++ extra

  /** One-shot batch publish. */
  def writeBatch(df: DataFrame, bootstrap: String, topic: String,
                 keyCols: Seq[String] = Nil, fmt: WireFormat = JsonWire,
                 extra: Map[String, String] = Map.empty): Unit =
    wireFrame(df, topic, keyCols, fmt).write.format("kafka")
      .options(kafkaOptions(bootstrap, extra)).save()

  /** Continuous publish: the replication loop's queue-sink direction
    * (checkpointed like the Merge sink — at-least-once into Kafka, with
    * per-key ordering from the key partitioner). */
  def streamWriter(df: DataFrame, bootstrap: String, topic: String,
                   checkpointDir: String, keyCols: Seq[String] = Nil,
                   fmt: WireFormat = JsonWire,
                   extra: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    wireFrame(df, topic, keyCols, fmt).writeStream.format("kafka")
      .options(kafkaOptions(bootstrap, extra))
      .option("checkpointLocation", checkpointDir)

  /** File-queue publish: the wire frame's payload written as line files
    * in [[graft.sources.Readers.fileQueue]] layout — the sandbox-runnable
    * queue transport (and a useful spool format in its own right). A line
    * carries only the value, so the file queue has no key. */
  def writeFileQueue(df: DataFrame, dir: String, topic: String,
                     fmt: WireFormat = JsonWire): Unit =
    queueLines(df, fmt).write.mode("overwrite").text(s"$dir/$topic")

  /** Append one micro-batch to the file queue (the replication-loop
    * direction: each batch lands as new line files, so consumers see a
    * growing partitioned log). */
  def appendFileQueue(df: DataFrame, dir: String, topic: String,
                      fmt: WireFormat = JsonWire): Unit =
    queueLines(df, fmt).write.mode("append").text(s"$dir/$topic")

  private def queueLines(df: DataFrame, fmt: WireFormat): DataFrame =
    df.select(valueExpr(df, fmt).cast("string").as("value"))
}
