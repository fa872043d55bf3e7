package graft.config

import graft.operators.{TableFilter, Transformer, Transformers => T}
import graft.sinks.Sinks
import org.apache.spark.sql.types.{DataType, StructType}

/** YAML transfer configs — the `trcli` surface (reference:
  * cmd/trcli/config/config.go `TransferFromYaml`; transformer blocks as
  * documented under docs/transformers/). Parsed with jackson-dataformat-yaml
  * (ships with Spark). Example:
  *
  * {{{
  * type: SNAPSHOT_ONLY
  * src: { kind: parquet, path: /data/orders.parquet }
  * dst: { kind: parquet, path: /lake/orders }
  * cleanup: drop
  * transformations:
  *   - filter_rows: { filters: ["o_totalprice > 100"] }
  *   - filter_columns: { include: [o_orderkey, o_totalprice] }
  *   - mask_field: { columns: [o_clerk], salt: s3cret }
  *   - sql: { query: "SELECT * FROM table" }
  * }}}
  */
object TransferYaml {

  def load(path: String): Transfer =
    fromString(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  def fromString(yaml: String): Transfer = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = asMap(mapper.readValue(yaml, classOf[java.util.Map[String, Object]]))
    val tt = root.getOrElse("type", "SNAPSHOT_ONLY").toString match {
      case "SNAPSHOT_ONLY" => TransferType.SnapshotOnly
      case "INCREMENT_ONLY" => TransferType.IncrementOnly
      case "SNAPSHOT_AND_INCREMENT" => TransferType.SnapshotAndIncrement
      case other => throw new IllegalArgumentException(s"transfer type $other")
    }
    Transfer(
      transferType = tt,
      source = sourceOf(asMap(root("src"))),
      sink = sinkOf(asMap(root("dst"))),
      transformers = root.get("transformations")
        .map(t => asList(t).map(x => transformerOf(asMap(x)))).getOrElse(Nil),
      cleanup = root.getOrElse("cleanup", "disabled").toString match {
        case "drop" => Sinks.Drop
        case "truncate" => Sinks.Truncate
        case "disabled" => Sinks.Disabled
        case other => throw new IllegalArgumentException(
          s"cleanup must be drop, truncate or disabled, got '$other'")
      },
      errorsOutput = root.get("errors_path")
        .map(p => ErrorsOutput.ToPath(p.toString): ErrorsOutput)
        .getOrElse(ErrorsOutput.DevNull),
      checkpointDir = root.get("checkpoint").map(_.toString))
  }

  /** A typed config value: `key` of `block` parsed by `kind`, or
    * `default` when the key is absent. A missing required key or a value
    * that does not parse fails naming the block, the key and the value. */
  private def typed[A](kind: Kind[A], block: String, m: Map[String, Any],
                       key: String, default: Option[A] = None): A =
    m.get(key) match {
      case Some(v) => kind.parse(String.valueOf(v)).getOrElse(
        throw new IllegalArgumentException(
          s"$block: $key must be ${kind.what}, got '$v'"))
      case None => default.getOrElse(throw new IllegalArgumentException(
        s"$block: missing required key '$key'"))
    }

  private final case class Kind[A](what: String, parse: String => Option[A])
  private val IntKey = Kind("an integer", _.toIntOption)
  private val LongKey = Kind("an integer", _.toLongOption)
  private val BoolKey = Kind("true or false", _.toBooleanOption)

  private def sourceOf(m: Map[String, Any]): SourceConfig =
    m("kind").toString match {
      case "parquet" => SourceConfig.Parquet(m("path").toString)
      case "csv" => SourceConfig.Csv(m("path").toString,
        m.getOrElse("delimiter", ",").toString,
        typed(BoolKey, "src", m, "header", Some(true)))
      case "jsonl" => SourceConfig.JsonLines(m("path").toString)
      case "text" => SourceConfig.Text(m("path").toString)
      case "jdbc" => SourceConfig.Jdbc(m("url").toString, m("table").toString,
        m.get("partition_column").map(_.toString),
        typed(LongKey, "src", m, "lower_bound", Some(0L)),
        typed(LongKey, "src", m, "upper_bound", Some(0L)),
        typed(IntKey, "src", m, "num_partitions", Some(1)))
      case "kafka" => SourceConfig.Kafka(m("bootstrap").toString,
        m("topic").toString,
        m.getOrElse("starting_offsets", "earliest").toString)
      case "sample" => SourceConfig.Sample(typed(LongKey, "src", m, "rows"))
      case "text_stream" => SourceConfig.TextStream(m("dir").toString)
      case other => throw new IllegalArgumentException(s"source kind $other")
    }

  private def sinkOf(m: Map[String, Any]): SinkConfig =
    m("kind").toString match {
      case "parquet" => SinkConfig.Parquet(m("path").toString,
        m.get("partition_by").map(asList(_).map(_.toString)).getOrElse(Nil))
      case "csv" => SinkConfig.Csv(m("path").toString,
        m.getOrElse("delimiter", ",").toString)
      case "jsonl" => SinkConfig.JsonLines(m("path").toString)
      case "console" => SinkConfig.Console
      case "merge" => SinkConfig.Merge(m("path").toString, primaryKeys(m))
      case "kafka" => SinkConfig.Kafka(m("bootstrap").toString,
        m("topic").toString,
        m.getOrElse("format", "json").toString,
        m.get("key_columns").map(asList(_).map(_.toString)).getOrElse(Nil))
      case "file_queue" => SinkConfig.FileQueue(m("dir").toString,
        m("topic").toString,
        m.getOrElse("format", "json").toString)
      case "jdbc" => SinkConfig.Jdbc(m("url").toString, m("table").toString)
      case "delta" => SinkConfig.Delta(m("path").toString)
      case other => throw new IllegalArgumentException(s"sink kind $other")
    }

  /** A merge block's keys. Without a key every row would hash to one
    * bucket and the merge would keep one row per bucket, so a missing,
    * null or empty `primary_keys` fails at parse. */
  private def primaryKeys(m: Map[String, Any]): Seq[String] =
    m.get("primary_keys").filter(_ != null).map(asList(_).map(_.toString))
      .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
        "dst: merge needs a non-empty list under key 'primary_keys'"))

  /** One transformer block: { <type-id>: { ...config } } — the same
    * shape as the reference's transformation YAML. */
  private def transformerOf(block: Map[String, Any]): Transformer = {
    require(block.size == 1, s"one transformer id per block, got ${block.keys}")
    val (id, raw) = block.head
    val cfg = if (raw == null) Map.empty[String, Any] else asMap(raw)
    def strs(key: String): Seq[String] =
      cfg.get(key).map(asList(_).map(_.toString)).getOrElse(Nil)
    def tables = TableFilter(strs("include_tables"), strs("exclude_tables"))
    id match {
      case "filter_columns" => T.FilterColumns(strs("include"), strs("exclude"), tables)
      case "filter_rows" => T.FilterRows(strs("filters"), tables = tables)
      case "skip_events" => T.SkipEvents(strs("kinds"), tables)
      case "rename_tables" => T.RenameTables(
        asMap(cfg("mapping")).map { case (k, v) => k -> v.toString })
      case "mask_field" => T.MaskField(strs("columns"), cfg("salt").toString,
        typed(BoolKey, id, cfg, "hmac", Some(true)))
      case "sql" => T.SqlTransform(cfg("query").toString,
        cfg.getOrElse("view", "table").toString)
      case "clickhouse_sql" => T.SqlTransform(
        graft.operators.ChSql.translate(cfg("query").toString),
        cfg.getOrElse("view", "table").toString)
      case "convert_to_string" => T.ConvertToString(strs("columns"))
      case "convert_to_datetime" => T.ConvertToDatetime(strs("columns"),
        cfg.getOrElse("unit", "seconds").toString)
      case "number_to_float" => T.NumberToFloat(strs("columns"))
      case "regex_replace" => T.RegexReplace(strs("columns"),
        cfg("pattern").toString, cfg("replacement").toString)
      case "replace_primary_key" => T.ReplacePrimaryKey(strs("keys"))
      case "raw_doc_grouper" => T.RawDocGrouper(strs("keys"))
      case "raw_cdc_doc_grouper" => T.RawCdcDocGrouper(strs("keys"))
      case "sharder" => T.Sharder(strs("columns"),
        typed(IntKey, id, cfg, "parts"),
        typed(BoolKey, id, cfg, "stable", Some(false)))
      case "table_splitter" => T.TableSplitter(cfg("table").toString, strs("columns"))
      case "batch_splitter" => T.BatchSplitter(typed(IntKey, id, cfg, "parts"))
      case "dbt" => T.DbtTransform(cfg("project").toString,
        cfg("select").toString,
        cfg.getOrElse("view", "this").toString)
      case "yt_dict" => T.YtDict(strs("columns"))
      case "jsonparser" => T.JsonParser(cfg("column").toString,
        DataType.fromDDL(cfg("schema").toString).asInstanceOf[StructType])
      case other => throw new IllegalArgumentException(s"transformer $other")
    }
  }

  // jackson gives java maps/lists; normalize to Scala
  private def asMap(o: Any): Map[String, Any] = o match {
    case m: java.util.Map[_, _] =>
      import scala.jdk.CollectionConverters._
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Any] }.toMap
    case other => throw new IllegalArgumentException(s"expected map, got $other")
  }
  private def asList(o: Any): Seq[Any] = o match {
    case l: java.util.List[_] =>
      import scala.jdk.CollectionConverters._
      l.asScala.toSeq
    case s => Seq(s)
  }
}
