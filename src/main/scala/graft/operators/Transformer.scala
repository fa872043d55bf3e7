package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** The engine's operator unit: a declarative DataFrame -> DataFrame step.
  *
  * Spark-native re-expression of the reference's transformer interface
  * (reference: pkg/abstract/transformer.go:32-48 — `Suitable`,
  * `ResultSchema`, `Apply`). Differences by design:
  *   - `apply` is lazy plan construction (Catalyst optimizes the whole
  *     chain); the reference applies each transformer eagerly per batch.
  *   - `ResultSchema` needs no method: the applied plan's `schema`
  *     resolves without running it.
  *   - per-item error routing becomes a side-output DataFrame
  *     (`errors`), mirroring ErrorsOutput=sink|devnull
  *     (pkg/transformer/abstract.go:50-60).
  */
trait Transformer extends Serializable {
  def name: String

  /** Whether this operator applies to the given table/schema
    * (reference: transformer.go:34 `Suitable`). */
  def suitable(table: String, schema: StructType): Boolean = true

  def apply(df: DataFrame): DataFrame

  /** Side output of rows this operator rejects (quarantine). None = the
    * operator cannot produce per-row errors. */
  def errors(df: DataFrame): Option[DataFrame] = None
}

/** Ordered chain of transformers, applied only where `suitable`
  * (reference: pkg/middlewares/transformation.go:12-34). */
final case class TransformerChain(steps: Seq[Transformer]) {
  def apply(df: DataFrame, table: String = ""): DataFrame =
    steps.foldLeft(df)((d, t) => if (t.suitable(table, d.schema)) t(d) else d)

  /** Union of every step's quarantine output over the progressively
    * transformed frame (ErrorsOutput=sink analog). */
  def errors(df: DataFrame, table: String = ""): Option[DataFrame] = {
    val (_, errs) = steps.foldLeft((df, List.empty[DataFrame])) {
      case ((d, acc), t) if t.suitable(table, d.schema) =>
        (t(d), t.errors(d).map(_ :: acc).getOrElse(acc))
      case (state, _) => state
    }
    errs.reduceOption(_ unionByName (_, allowMissingColumns = true))
  }

  /** Hand the chained `df` to `use`, and append the rows the chain
    * rejects to `errorsPath` as parquet (the reference's
    * ErrorsOutput=sink, pkg/transformer/abstract.go:50-60). With a path,
    * and only when the chain can reject rows, `df` is persisted once, so
    * `use` and the quarantine split read one scan of its source; `use`
    * runs first and builds the cache, and the quarantine rows are
    * written only when there are any, so a clean batch writes no file.
    * Otherwise `use` gets the chained frame with no cache and no extra
    * job. */
  def routed[A](df: DataFrame, errorsPath: Option[String], table: String = "")
               (use: DataFrame => A): A =
    errorsPath match {
      case Some(path) if errors(df, table).isDefined =>
        val raw = df.persist()
        try {
          val result = use(apply(raw, table))
          errors(raw, table).filterNot(_.isEmpty)
            .foreach(graft.sinks.Sinks.parquet(_, path, graft.sinks.Sinks.Disabled))
          result
        } finally raw.unpersist()
      case _ => use(apply(df, table))
    }
}

/** Include/exclude table filter (reference: pkg/abstract/includeable.go and
  * pkg/transformer/registry/filter/filter.go). Patterns are anchored
  * regexes; empty include list means "all". */
final case class TableFilter(include: Seq[String] = Nil,
                             exclude: Seq[String] = Nil) {
  private def m(p: String, t: String) = s"^(?:$p)$$".r.findFirstIn(t).isDefined
  def matches(table: String): Boolean =
    (include.isEmpty || include.exists(m(_, table))) &&
      !exclude.exists(m(_, table))

  /** [[matches]] over a column of table names: the same anchored
    * patterns, through `rlike` (Java regex, like `matches`). */
  def matches(table: Column): Column = {
    def m(p: String) = table.rlike(s"^(?:$p)$$")
    val included = if (include.isEmpty) lit(true) else include.map(m).reduce(_ || _)
    exclude.foldLeft(included)((c, p) => c && !m(p))
  }
}
