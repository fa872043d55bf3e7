package graft

import graft.config._
import graft.operators.TransformerChain
import graft.sinks.Sinks
import graft.sources.{Readers, SampleSource}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine driver: activate/upload/replicate for a [[Transfer]]
  * (reference: cmd/trcli activate/upload/replicate entry points, §3 of
  * SURVEY.md). The reference's hand-built machinery — sharded part
  * queues, goroutine pools, coordinator state, middleware chain assembly
  * (worker/tasks/load_snapshot.go, pkg/sink_factory/sink_factory.go) —
  * collapses to: build the source plan, fold the transformer chain,
  * write. Spark's scheduler IS the coordinator; partitions ARE the
  * table parts; task retry IS the retrier middleware.
  */
object TransferRunner {

  def source(spark: SparkSession, cfg: SourceConfig): DataFrame = cfg match {
    case SourceConfig.Parquet(path) => spark.read.parquet(path)
    case SourceConfig.Csv(path, d, h) => Readers.csv(spark, path, d, h)
    case SourceConfig.JsonLines(path) => Readers.jsonLines(spark, path)
    case SourceConfig.Text(path) => Readers.lines(spark, path)
    case SourceConfig.Jdbc(url, table, part, lo, hi, n, props) =>
      val r = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table)
      val sharded = part match {
        case Some(c) => r.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", n)
        case None => r
      }
      props.foldLeft(sharded) { case (x, (k, v)) => x.option(k, v) }.load()
    case SourceConfig.Kafka(bootstrap, topic, offsets) =>
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", offsets).load()
    case SourceConfig.Sample(rows) => SampleSource.iot(spark, rows)
    case SourceConfig.TextStream(dir) => spark.readStream.text(dir)
  }

  private def wireFormat(name: String): sinks.KafkaSink.WireFormat =
    name match {
      case "debezium" => sinks.KafkaSink.DebeziumWire
      case "csv" => sinks.KafkaSink.CsvWire()
      case _ => sinks.KafkaSink.JsonWire
    }

  def write(df: DataFrame, cfg: SinkConfig, cleanup: Sinks.CleanupPolicy): Unit =
    cfg match {
      case SinkConfig.Parquet(path, parts) =>
        Sinks.parquet(df, path, cleanup, parts)
      case SinkConfig.Csv(path, d) => Sinks.csv(df, path, d, policy = cleanup)
      case SinkConfig.JsonLines(path) => Sinks.jsonLines(df, path, cleanup)
      case SinkConfig.Console => Sinks.console(df)
      case SinkConfig.Merge(path, pks) =>
        streaming.CdcStream.mergeBatch(df, path, pks)
      case SinkConfig.Kafka(bootstrap, topic, fmt, keyCols) =>
        sinks.KafkaSink.writeBatch(df, bootstrap, topic, keyCols,
          wireFormat(fmt))
      case SinkConfig.FileQueue(dir, topic, fmt) =>
        sinks.KafkaSink.writeFileQueue(df, dir, topic, wireFormat(fmt))
      case SinkConfig.Jdbc(url, table, props) =>
        sinks.JdbcSink.write(df, url, table, cleanup, props)
      case SinkConfig.Delta(path) =>
        sources.DeltaLite.write(df, path,
          overwrite = cleanup != Sinks.Disabled)
        ()
    }

  /** `trcli check`: validate that the source is reachable and readable,
    * returning its schema (reference: cmd/trcli check/describe — the
    * activation preflight). Batch sources are probed with a 1-row scan;
    * streaming sources are validated by plan construction (schema
    * resolution) since a probe would require starting a query. */
  def check(spark: SparkSession, cfg: SourceConfig): Either[String, org.apache.spark.sql.types.StructType] =
    try {
      val df = source(spark, cfg)
      if (!df.isStreaming) { df.limit(1).collect(); () }
      Right(df.schema)
    } catch {
      case e: Exception =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    }

  /** `trcli describe`: per-source column listing in the engine's
    * canonical (YT-lattice) spellings. */
  def describe(spark: SparkSession, cfg: SourceConfig): Either[String, Seq[(String, String)]] =
    check(spark, cfg).map(_.fields.toSeq.map(f =>
      f.name -> graft.model.TypeMapping.sparkToYt(f)))

  /** Snapshot upload: `trcli activate/upload` for SNAPSHOT_ONLY
    * (reference: worker/tasks/load_snapshot.go:88 LoadSnapshot). Applies
    * the transformer chain, writes the sink and routes quarantine rows,
    * from one scan of the source ([[TransformerChain.routed]]). */
  def runSnapshot(spark: SparkSession, t: Transfer, table: String = ""): Unit =
    TransformerChain(t.transformers).routed(source(spark, t.source), errorsPath(t),
      table)(write(_, t.sink, t.cleanup))

  private def errorsPath(t: Transfer): Option[String] = t.errorsOutput match {
    case ErrorsOutput.ToPath(p) => Some(p)
    case ErrorsOutput.DevNull => None
  }

  /** Replication: `trcli replicate` for INCREMENT_ONLY (reference:
    * runtime/local/replication.go:83). The source must be streaming; the
    * sink is either a Merge target (warehouse direction), keyed on its
    * `primaryKeys`, or a queue (Kafka / file-queue mirror direction — the
    * reference's db→queue transfers), keyed on its `keyCols`. Returns the
    * started query. */
  def runReplication(spark: SparkSession,
                     t: Transfer): org.apache.spark.sql.streaming.StreamingQuery =
    replicate(t, source(spark, t.source))

  /** [[runReplication]] of the streaming source `src`. A Merge target
    * replicates through [[streaming.CdcStream.replicate]], which applies
    * the chain per micro-batch and routes its quarantine rows to
    * `t.errorsOutput`. */
  private def replicate(t: Transfer,
                        src: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    require(src.isStreaming, "replication requires a streaming source")
    val chain = TransformerChain(t.transformers)
    t.sink match {
      case SinkConfig.Merge(path, pks) =>
        streaming.CdcStream.replicate(src, path,
          t.checkpointDir.getOrElse(path + "_checkpoint"), pks,
          chain = chain, errorsPath = errorsPath(t)).start()
      case SinkConfig.Kafka(bootstrap, topic, fmt, keyCols) =>
        // a topic-derived default would be shared by every transfer to
        // the topic, and each would resume from the others' offsets
        val ckpt = t.checkpointDir.getOrElse(throw new IllegalArgumentException(
          s"replication to Kafka topic $topic needs a checkpoint directory " +
            "(Transfer.checkpointDir, YAML key 'checkpoint')"))
        sinks.KafkaSink.streamWriter(chain(src), bootstrap, topic, ckpt,
          keyCols, wireFormat(fmt)).start()
      case SinkConfig.FileQueue(dir, topic, fmt) =>
        val ckpt = t.checkpointDir.getOrElse(s"$dir/${topic}_checkpoint")
        chain(src).writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            sinks.KafkaSink.appendFileQueue(batch, dir, topic, wireFormat(fmt))
          }.start()
      case other => throw new IllegalArgumentException(
        s"replication requires a Merge or queue sink, got $other")
    }
  }

  /** SNAPSHOT_AND_INCREMENT: snapshot first, then hand off to the
    * stream (reference: worker/tasks/start_job.go transition). The
    * snapshot lands through the same Merge sink, and the stream
    * replicates into it exactly as [[runReplication]] does (checkpoint
    * `t.checkpointDir`, else `<path>_checkpoint`; dead-letter rows to
    * `t.errorsOutput`), so replication resumes idempotently on top of
    * the snapshot. */
  def runBoth(spark: SparkSession, t: Transfer,
              stream: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    require(t.sink.isInstanceOf[SinkConfig.Merge], s"need Merge sink, got ${t.sink}")
    runSnapshot(spark, t)
    replicate(t, stream)
  }
}
