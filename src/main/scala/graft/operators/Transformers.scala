package graft.operators

import graft.model.{CdcEnvelope => E, TypeMapping}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The transformer registry: Spark-native re-expressions of every operator
  * in the reference's transformer algebra
  * (reference: pkg/transformer/registry/ — see SURVEY.md §2.3 for the
  * per-operator mapping and citations). Each is a declarative DataFrame
  * transform, so Catalyst handles pushdown/pruning/codegen; none of them
  * collect to the driver and all scale by partitioning alone.
  */
object Transformers {

  private def dataCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(E.metaCols.contains)

  /** #1 filter_columns — projection by include/exclude name lists and
    * regexes; primary-key columns must survive (reference:
    * registry/filter/filter_columns_transformer.go:51). */
  final case class FilterColumns(include: Seq[String] = Nil,
                                 exclude: Seq[String] = Nil,
                                 tables: TableFilter = TableFilter())
      extends Transformer {
    val name = "filter_columns"
    override def suitable(table: String, schema: StructType): Boolean =
      tables.matches(table)
    private def keepName(c: String): Boolean =
      (include.isEmpty || include.exists(p => s"^(?:$p)$$".r.findFirstIn(c).isDefined)) &&
        !exclude.exists(p => s"^(?:$p)$$".r.findFirstIn(c).isDefined)
    def apply(df: DataFrame): DataFrame = {
      // key and envelope columns always survive the projection
      // (reference: filter_columns keeps primary-key columns)
      val pks = TypeMapping.primaryKeys(df.schema)
      val kept = df.columns.filter(c =>
        E.metaCols.contains(c) || keepName(c) || pks.contains(c))
      df.select(kept.map(col).toIndexedSeq: _*)
    }
  }

  /** #2 filter_rows — predicate in the cloud-filter grammar; several
    * filters OR together; only insert rows are filtered, other kinds pass
    * through (reference: registry/filter_rows/filter_rows.go:102-130).
    * `strict=true` reproduces the reference's fatal-on-update/delete. */
  final case class FilterRows(filters: Seq[String], strict: Boolean = false,
                              tables: TableFilter = TableFilter())
      extends Transformer {
    val name = "filter_rows"
    override def suitable(table: String, schema: StructType): Boolean =
      tables.matches(table)
    private val pred: Column = FilterGrammar.compileAny(filters)
    def apply(df: DataFrame): DataFrame =
      if (!df.columns.contains(E.Kind)) df.filter(pred)
      else {
        if (strict) {
          // reference raises a fatal error on update/delete kinds
          val bad = when(col(E.Kind).isin(E.Update, E.Delete),
            raise_error(concat(lit("filter_rows: non-supported kind "), col(E.Kind))))
          df.filter(bad.isNull && (col(E.Kind) =!= E.Insert || pred))
        } else df.filter(col(E.Kind) =!= E.Insert || pred)
      }
  }

  /** #3 filter_rows_by_ids — keep rows whose key column matches an
    * allow-list; large lists become a broadcast semi-join (reference:
    * registry/filter_rows_by_ids/filter_rows_by_ids.go:202). */
  final case class FilterRowsByIds(keyCol: String, ids: Seq[Any],
                                   broadcastThreshold: Int = 10000)
      extends Transformer {
    val name = "filter_rows_by_ids"
    def apply(df: DataFrame): DataFrame =
      if (ids.size <= broadcastThreshold) df.filter(col(keyCol).isin(ids: _*))
      else {
        val idsDf = df.sparkSession.createDataFrame(
          ids.map(v => org.apache.spark.sql.Row(v.toString)).asJava,
          StructType(Seq(StructField("__id", StringType))))
        df.join(broadcast(idsDf),
          df(keyCol).cast(StringType) === idsDf("__id"), "left_semi")
      }
    private implicit class SeqOps[T](s: Seq[T]) {
      def asJava: java.util.List[T] = {
        val l = new java.util.ArrayList[T](s.size); s.foreach(l.add); l
      }
    }
  }

  /** #4 skip_events — drop whole event kinds per table (reference:
    * registry/filter/skip_events.go:52-73). */
  final case class SkipEvents(kinds: Seq[String],
                              tables: TableFilter = TableFilter())
      extends Transformer {
    val name = "skip_events"
    override def suitable(table: String, schema: StructType): Boolean =
      tables.matches(table) && schema.fieldNames.contains(E.Kind)
    def apply(df: DataFrame): DataFrame =
      df.filter(!col(E.Kind).isin(kinds: _*))
  }

  /** #5 rename_tables — (schema,table) -> (schema',table') routing on the
    * `__table` column (reference: registry/rename/rename.go:72). */
  final case class RenameTables(mapping: Map[String, String])
      extends Transformer {
    val name = "rename_tables"
    def apply(df: DataFrame): DataFrame = {
      val m = typedLit(mapping)
      val t = if (df.columns.contains(E.Table)) col(E.Table)
              else lit(null).cast(StringType)
      df.withColumn(E.Table, coalesce(element_at(m, t), t))
    }
  }

  /** #6 mask_field — salted hash of selected columns, output hex string
    * (reference: registry/mask/mask.go:20, hmac_hasher.go:29-33 uses
    * HMAC-SHA256). `hmac = true` is the faithful mode: HMAC-SHA256 keyed
    * by the salt over each value's string form, run by the native
    * codegen kernel [[graft.functions.HmacSha256Hex]] inside whole-stage
    * codegen. `hmac = false` is the cheaper sha2(salt||value) variant,
    * built from Spark's own functions. Nulls stay null in both modes. */
  final case class MaskField(cols: Seq[String], salt: String,
                             hmac: Boolean = true) extends Transformer {
    require(!hmac || salt.nonEmpty,
      s"mask_field on ${cols.mkString(", ")}: HMAC needs a non-empty salt")
    val name = "mask_field"
    def apply(df: DataFrame): DataFrame = {
      val mask: Column => Column =
        if (hmac) c => graft.functions.HmacSha256Hex(c.cast(StringType), salt)
        else c => sha2(concat(lit(salt), c.cast(StringType)), 256)
      cols.foldLeft(df)((d, c) => d.withColumn(c, mask(col(c))))
    }
  }

  /** #7 sql — arbitrary SQL over the batch exposed as view `table`
    * (reference: registry/clickhouse/clickhouse_local.go:97-130 runs
    * clickhouse-local; here the full Catalyst SQL surface replaces the
    * ClickHouse dialect — joins, windows, aggregates included). */
  final case class SqlTransform(query: String, viewName: String = "table")
      extends Transformer {
    val name = "sql"
    def apply(df: DataFrame): DataFrame = {
      df.createOrReplaceTempView(viewName)
      df.sparkSession.sql(query)
    }
  }

  /** #8 dbt (script form) — the reference runs a dbt project against
    * the destination after transfer (registry/dbt/transformer.go:51).
    * The simplest Spark-native post-hook is a SQL script over the
    * session catalog: statements run in order after the frame lands as
    * `viewName`; the last statement's result is the output. The full
    * model-DAG semantics (ref/source templating, materializations,
    * dependency order) live in [[DbtTransform]] / [[Dbt]]. */
  final case class SqlScript(statements: Seq[String],
                             viewName: String = "this") extends Transformer {
    val name = "sql_script"
    def apply(df: DataFrame): DataFrame = {
      df.createOrReplaceTempView(viewName)
      statements.map(df.sparkSession.sql).last
    }
  }

  /** #8 dbt (project form) — engine-side dbt-core model semantics (see
    * [[Dbt]]): parse `models/<name>.sql`, resolve the ref DAG, materialize
    * in dependency order. The incoming frame is exposed to models as
    * `{{ source('transfer', viewName) }}`; the selected model is the
    * transformer output. Unlike the reference's container round-trip,
    * view-materialized models stay LAZY, so Catalyst optimizes the
    * whole model chain and the transfer plan as one. */
  final case class DbtTransform(projectDir: String, select: String,
                                viewName: String = "this",
                                targetDir: Option[String] = None)
      extends Transformer {
    val name = "dbt"
    def apply(df: DataFrame): DataFrame =
      Dbt.runProject(df.sparkSession, projectDir, select, {
        case ("transfer", v) if v == viewName => df
        case (s, tb) => throw new IllegalArgumentException(
          s"unknown source ('$s','$tb'); the transfer exposes " +
            s"('transfer','$viewName')")
      }, targetDir)
  }

  /** #9 convert_to_string — cast listed (or all data) columns to canonical
    * string form (reference: registry/to_string/to_string.go:129). */
  final case class ConvertToString(cols: Seq[String] = Nil)
      extends Transformer {
    val name = "convert_to_string"
    def apply(df: DataFrame): DataFrame = {
      val targets = if (cols.nonEmpty) cols else dataCols(df)
      targets.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(StringType)))
    }
  }

  /** #10 convert_to_datetime — reinterpret a numeric column as an epoch
    * (reference: registry/to_datetime/to_datetime.go:75). */
  final case class ConvertToDatetime(cols: Seq[String],
                                     unit: String = "seconds")
      extends Transformer {
    val name = "convert_to_datetime"
    def apply(df: DataFrame): DataFrame =
      cols.foldLeft(df) { (d, c) =>
        val ts = unit match {
          case "seconds" => timestamp_seconds(col(c).cast(LongType))
          case "millis" => timestamp_millis(col(c).cast(LongType))
          case "micros" => timestamp_micros(col(c).cast(LongType))
          case u => throw new IllegalArgumentException(s"unit $u")
        }
        d.withColumn(c, ts)
      }
  }

  /** #11 number_to_float — numeric-typed `any` values to double (reference:
    * registry/number_to_float/number_to_float.go:135). */
  final case class NumberToFloat(cols: Seq[String] = Nil) extends Transformer {
    val name = "number_to_float"
    def apply(df: DataFrame): DataFrame = {
      val targets =
        if (cols.nonEmpty) cols
        else df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[NumericType] => f.name
        }.toSeq
      targets.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(DoubleType)))
    }
  }

  /** #12 regex_replace — regexp replace over string column values
    * (reference: registry/regex_replace/transformer.go:72). */
  final case class RegexReplace(cols: Seq[String], pattern: String,
                                replacement: String) extends Transformer {
    val name = "regex_replace"
    def apply(df: DataFrame): DataFrame =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, regexp_replace(col(c), pattern, replacement)))
  }

  /** #13 replace_primary_key — redeclare which columns are the primary key
    * and rebuild the old-keys struct (reference:
    * registry/replace_primary_key/replace_primary_key.go:15,129). */
  final case class ReplacePrimaryKey(newPks: Seq[String]) extends Transformer {
    val name = "replace_primary_key"
    def apply(df: DataFrame): DataFrame = {
      val retyped = df.select(df.columns.toIndexedSeq.map { c =>
        val f = df.schema(c)
        val mb = new MetadataBuilder().withMetadata(f.metadata)
          .putBoolean(TypeMapping.PrimaryKeyMeta, newPks.contains(c))
        col(c).as(c, mb.build())
      }: _*)
      if (df.columns.contains(E.OldKeys))
        retyped.withColumn(E.OldKeys,
          struct(newPks.map(col).toIndexedSeq: _*))
      else retyped
    }
  }

  /** #14 mongo_pk_extender — extend the `_id` key with a constant
    * discriminator into a composite document id (reference:
    * registry/mongo_pk_extender/mongo_pk_extender.go:82,227). */
  final case class MongoPkExtender(discriminator: String,
                                   idCol: String = "_id") extends Transformer {
    val name = "mongo_pk_extender"
    def apply(df: DataFrame): DataFrame =
      df.withColumn(idCol,
        to_json(struct(lit(discriminator).as("d"), col(idCol).as("id"))))
  }

  /** #15 raw_doc_grouper — restructure each row into (keys..., doc JSON of
    * the remaining columns, etl_updated_at) (reference:
    * registry/raw_doc_grouper/raw_doc_grouper.go:154-156).
    * `etlTimestamp=None` omits the processing-time column (deterministic
    * output for tests). */
  final case class RawDocGrouper(keys: Seq[String],
                                 etlTimestamp: Option[Column] =
                                   Some(current_timestamp()))
      extends Transformer {
    val name = "raw_doc_grouper"
    def apply(df: DataFrame): DataFrame = {
      val rest = dataCols(df).filterNot(keys.contains)
      val base = df.select(
        (keys.map(col) :+ to_json(struct(rest.map(col): _*)).as("doc")): _*)
      etlTimestamp.fold(base)(ts => base.withColumn("etl_updated_at", ts))
    }
  }

  /** #16 raw_cdc_doc_grouper — raw_doc_grouper plus a deleted_flg for CDC
    * history tables (reference:
    * registry/raw_doc_grouper/raw_cdc_doc_grouper.go:137). */
  final case class RawCdcDocGrouper(keys: Seq[String],
                                    etlTimestamp: Option[Column] = None)
      extends Transformer {
    val name = "raw_cdc_doc_grouper"
    def apply(df: DataFrame): DataFrame = {
      val deleted = (col(E.Kind) === E.Delete).as("deleted_flg")
      val rest = dataCols(df).filterNot(keys.contains)
      val base = df.select((keys.map(col) :+
        to_json(struct(rest.map(col): _*)).as("doc") :+ deleted): _*)
      etlTimestamp.fold(base)(ts => base.withColumn("etl_updated_at", ts))
    }
  }

  /** #17 sharder_transformer — assign a shard/part id by hashing selected
    * columns into n parts (reference: registry/sharder/sharder.go:57-65).
    * `stable=true` uses an md5-derived hash reproducible outside the JVM
    * (for cross-engine verification); default is Spark's codegen'd
    * murmur3 `hash()` for speed. Random sharding = hash of all columns. */
  final case class Sharder(cols: Seq[String], parts: Int,
                           stable: Boolean = false) extends Transformer {
    val name = "sharder_transformer"
    def apply(df: DataFrame): DataFrame = {
      val key = concat_ws("\u0001", cols.map(c => col(c).cast(StringType)): _*)
      val h =
        if (stable) graft.functions.StableHash64(key)
        else abs(hash(cols.map(col): _*).cast(LongType))
      df.withColumn(E.PartId, pmod(h, lit(parts)).cast(IntegerType))
    }
  }

  /** #18 table_splitter_transformer — route rows of one table into
    * per-value tables named `table/v1/v2` (reference:
    * registry/table_splitter/table_splitter.go:37-60). At write time this
    * becomes `partitionBy(cols)`; the routing column is explicit here. */
  final case class TableSplitter(baseTable: String, cols: Seq[String])
      extends Transformer {
    val name = "table_splitter_transformer"
    def apply(df: DataFrame): DataFrame =
      df.withColumn(E.Table,
        concat_ws("/", (lit(baseTable) +: cols.map(c => col(c).cast(StringType))): _*))
  }

  /** #19 batch_splitter — split a batch into smaller pushes; in Spark this
    * is partitioning, semantically a no-op (reference:
    * registry/batch_splitter/batch_splitter.go:36-52). */
  final case class BatchSplitter(parts: Int) extends Transformer {
    val name = "batch_splitter"
    def apply(df: DataFrame): DataFrame = df.repartition(parts)
  }

  /** #20 lambda — user function over the batch (reference:
    * registry/lambda/lambda.go:37-72 calls an external cloud function; the
    * Spark-native surface is any DataFrame=>DataFrame). */
  final case class Lambda(nameTag: String, f: DataFrame => DataFrame)
      extends Transformer {
    val name = s"lambda:$nameTag"
    def apply(df: DataFrame): DataFrame = f(df)
  }

  /** #21 logger — debug tap; uses `observe` so counting piggybacks on the
    * real action instead of forcing an extra pass (reference:
    * registry/logger/logger.go:33-55). */
  final case class LoggerTap(tag: String = "graft") extends Transformer {
    val name = "logger"
    def apply(df: DataFrame): DataFrame =
      df.observe(s"logger_$tag", count(lit(1)).as("rows"))
  }

  /** #23 yt_dict — composite (map/array/struct) values to plain JSON text
    * (reference: registry/yt_dict/yt_dict.go:55). */
  final case class YtDict(cols: Seq[String] = Nil) extends Transformer {
    val name = "yt_dict"
    def apply(df: DataFrame): DataFrame = {
      val targets =
        if (cols.nonEmpty) cols
        else df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[StructType] => f.name
        }.toSeq
      targets.foldLeft(df)((d, c) => d.withColumn(c, to_json(col(c))))
    }
  }

  /** #24 jsonparser — parse a raw JSON string column mid-stream against a
    * declared schema, quarantining unparsable rows (reference:
    * registry/jsonparser/parser.go:130; quarantine semantics from
    * pkg/parsers/generic/generic_parser.go:575 NewUnparsed). */
  final case class JsonParser(rawCol: String, schema: StructType,
                              keepRaw: Boolean = false) extends Transformer {
    val name = "jsonparser"
    private val parsed = "__parsed"
    private val corrupt = "__corrupt"
    // PERMISSIVE mode + a corrupt-record column: unparsable rows land with
    // corrupt != null, mirroring the reference's NewUnparsed quarantine.
    private def parse(df: DataFrame): DataFrame =
      df.withColumn(parsed, from_json(col(rawCol),
        StructType(schema.fields :+ StructField(corrupt, StringType)),
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> corrupt)))
    def apply(df: DataFrame): DataFrame = {
      val p = parse(df).filter(col(s"$parsed.$corrupt").isNull)
      p.select((df.columns.filterNot(_ == rawCol).map(col) ++
        schema.fieldNames.map(f => col(s"$parsed.$f").as(f)) ++
        (if (keepRaw) Seq(col(rawCol)) else Nil)).toIndexedSeq: _*)
    }
    override def errors(df: DataFrame): Option[DataFrame] = Some {
      parse(df).filter(col(s"$parsed.$corrupt").isNotNull).drop(parsed)
    }
  }

  /** #25 custom — bespoke predicate filters (the reference ships
    * filter_strm_access_log as an example of a hardcoded custom transform;
    * registry/custom/filter_strm_access_log.go:115). */
  final case class CustomFilter(nameTag: String, predicate: Column)
      extends Transformer {
    val name = s"custom:$nameTag"
    def apply(df: DataFrame): DataFrame = df.filter(predicate)
  }

  /** Core op: RemoveColumns incl. old-keys entries (reference:
    * changeitem/change_item.go:693-723). */
  final case class RemoveColumns(cols: Seq[String]) extends Transformer {
    val name = "remove_columns"
    def apply(df: DataFrame): DataFrame = df.drop(cols: _*)
  }
}
