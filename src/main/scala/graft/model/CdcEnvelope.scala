package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The engine's CDC envelope: the Spark-native re-expression of the
  * reference's `ChangeItem` row event
  * (reference: pkg/abstract/changeitem/change_item.go:27-80).
  *
  * A change stream is a plain DataFrame of data columns plus reserved
  * metadata columns. Batches are DataFrames / streaming micro-batches;
  * the row-oriented `[]ChangeItem` layout of the reference is replaced by
  * Spark's columnar Tungsten representation.
  */
object CdcEnvelope {
  /** Event kind (reference: pkg/abstract/changeitem/kind.go:5-45). */
  val Kind = "__kind"
  /** Log sequence number / source offset (change_item.go:29). */
  val Lsn = "__lsn"
  /** Commit timestamp, microseconds (change_item.go:30). */
  val CommitTime = "__commit_time"
  /** Position within transaction (change_item.go:31). */
  val Counter = "__counter"
  /** Transaction id (change_item.go:75). */
  val TxId = "__tx_id"
  /** Shard/part id for parallel snapshot upload (change_item.go:38-42). */
  val PartId = "__part_id"
  /** Pre-image of primary-key columns for update/delete (old_keys.go:3). */
  val OldKeys = "__old_keys"
  /** Names of data columns actually present in a partial (TOASTed) update
    * (the reference's ColumnNames, change_item.go:47). Null = all present. */
  val UpdatedCols = "__updated_cols"
  /** Logical source table name, for multi-table streams (change_item.go:36-37). */
  val Table = "__table"

  val metaCols: Seq[String] =
    Seq(Kind, Lsn, CommitTime, Counter, TxId, PartId, OldKeys, UpdatedCols, Table)

  // Row event kinds (change_item.go:107-111)
  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"
  /** Mongo document updates are row events too (change_item.go RowEventKinds). */
  val MongoUpdateDocument = "mongo:update_document"
  val rowKinds: Seq[String] = Seq(Insert, Update, Delete, MongoUpdateDocument)
  // Control kinds (kind.go:9-45)
  val InitTableLoad = "init_load_table"
  val DoneTableLoad = "done_load_table"
  val InitShardedTableLoad = "init_sharded_table_load"
  val DoneShardedTableLoad = "done_sharded_table_load"
  val Truncate = "truncate"
  val DropTable = "drop_table"
  val Ddl = "DDL"

  def isRowEvent(kind: Column): Column = kind.isin(rowKinds: _*)

  /** Data (non-metadata) columns of an enveloped DataFrame. */
  def dataCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filterNot(metaCols.contains)

  /** Wrap a plain snapshot DataFrame as a CDC stream of inserts.
    * `lsn` must be a deterministic ordering column (the reference uses 0
    * for snapshot rows; we keep an explicit order for restartability). */
  def fromSnapshot(df: DataFrame, lsn: Column): DataFrame =
    df.withColumn(Kind, lit(Insert))
      .withColumn(Lsn, lsn.cast(LongType))
      .withColumn(Counter, lit(0))
      .withColumn(UpdatedCols, lit(null).cast(ArrayType(StringType)))
}
