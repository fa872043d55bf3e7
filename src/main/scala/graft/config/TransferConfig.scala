package graft.config

import graft.operators.Transformer
import graft.sinks.Sinks

/** Transfer configuration: the engine's public "what to move, how"
  * surface, mirroring the reference's transfer model (reference:
  * pkg/abstract/model/transfer.go; transfer types
  * pkg/abstract/transfer_type.go:7-9; cleanup policies
  * pkg/abstract/model/endpoint_cleanup_type.go). Plain case classes —
  * a YAML front-end is a thin layer over these.
  */
sealed trait TransferType
object TransferType {
  /** one-off snapshot copy (SNAPSHOT_ONLY) */
  case object SnapshotOnly extends TransferType
  /** continuous CDC replication (INCREMENT_ONLY) */
  case object IncrementOnly extends TransferType
  /** snapshot then replication (SNAPSHOT_AND_INCREMENT) */
  case object SnapshotAndIncrement extends TransferType
}

/** Where rows come from. Each variant maps onto a Spark source plan
  * (SURVEY §2.1 mapping). */
sealed trait SourceConfig
object SourceConfig {
  final case class Parquet(path: String) extends SourceConfig
  final case class Csv(path: String, delimiter: String = ",",
                       header: Boolean = true) extends SourceConfig
  final case class JsonLines(path: String) extends SourceConfig
  final case class Text(path: String) extends SourceConfig
  /** JDBC snapshot scan with optional sharding (≙ ShardTable /
    * partitionColumn). Requires the driver jar on the classpath. */
  final case class Jdbc(url: String, table: String,
                        partitionColumn: Option[String] = None,
                        lowerBound: Long = 0, upperBound: Long = 0,
                        numPartitions: Int = 1,
                        properties: Map[String, String] = Map.empty)
      extends SourceConfig
  /** Kafka topic stream (requires the spark-sql-kafka package). */
  final case class Kafka(bootstrap: String, topic: String,
                         startingOffsets: String = "earliest")
      extends SourceConfig
  /** Deterministic generator (≙ the reference's `sample` provider). */
  final case class Sample(rows: Long) extends SourceConfig
  /** Streaming line source over a directory — file-queue ingestion
    * (new files become micro-batches; pairs with the file-queue sink). */
  final case class TextStream(dir: String) extends SourceConfig
}

sealed trait SinkConfig
object SinkConfig {
  final case class Parquet(path: String,
                           partitionBy: Seq[String] = Nil) extends SinkConfig
  final case class Csv(path: String, delimiter: String = ",") extends SinkConfig
  final case class JsonLines(path: String) extends SinkConfig
  case object Console extends SinkConfig
  /** Upsert-merge sink keyed on primary keys (CDC target). */
  final case class Merge(path: String, primaryKeys: Seq[String]) extends SinkConfig
  /** Kafka topic sink; `format` is a queue serializer name
    * (json | debezium | csv). Requires the spark-sql-kafka package. */
  final case class Kafka(bootstrap: String, topic: String,
                         format: String = "json",
                         keyCols: Seq[String] = Nil) extends SinkConfig
  /** File-backed queue sink: the Kafka wire frame's payload, spooled as
    * line files in [[graft.sources.Readers.fileQueue]] layout (a line
    * carries no key). */
  final case class FileQueue(dir: String, topic: String,
                             format: String = "json") extends SinkConfig
  /** JDBC table sink (pg/mysql/greenplum write direction). */
  final case class Jdbc(url: String, table: String,
                        properties: Map[String, String] = Map.empty)
      extends SinkConfig
  /** Delta table sink (public protocol, versioned commits). */
  final case class Delta(path: String) extends SinkConfig
}

/** A transfer: source -> transformer chain -> sink (reference:
  * model.Transfer + Transformers config pkg/transformer/abstract.go:50-60).
  * `errorsOutput` routes transformer quarantine rows ("sink" = write next
  * to the target, "devnull" = drop), matching ErrorsOutput semantics. */
final case class Transfer(
    transferType: TransferType,
    source: SourceConfig,
    sink: SinkConfig,
    transformers: Seq[Transformer] = Nil,
    cleanup: Sinks.CleanupPolicy = Sinks.Drop,
    errorsOutput: ErrorsOutput = ErrorsOutput.DevNull,
    checkpointDir: Option[String] = None)

sealed trait ErrorsOutput
object ErrorsOutput {
  case object DevNull extends ErrorsOutput
  final case class ToPath(path: String) extends ErrorsOutput
}
