package graft.functions

import org.apache.spark.sql.DataFrame

/** Materialization policy for one-shot operators that pin a
  * CORPUS-SIZED intermediate frame.
  *
  * Background: the scan-census sweep showed Spark's exchange reuse
  * never deduplicates re-aliased derived branches, so any operator
  * whose intermediate feeds N consumers re-runs the corpus pass N
  * times unless the frame is eagerly materialized. For BOUNDED frames
  * (vocab counts, confusion matrices, stratum stats, answer-sized pair
  * sets) `localCheckpoint(true)` is free and those call sites use it
  * directly. For frames that scale WITH the corpus (shingle postings,
  * per-doc tf tables, band postings, IVF assignments) eager
  * local-checkpointing carries two cluster-scale trades this object
  * makes explicit and configurable:
  *
  *  - DURABILITY: `localCheckpoint` truncates lineage onto executor
  *    local storage — on a real cluster an executor loss inside the
  *    consuming stages KILLS the query instead of recomputing (Spark
  *    cannot rebuild truncated lineage). The incremental index
  *    variants (band/containment/IVF/embedding `...IndexUpdate`) are
  *    the actual 100-TB paths — they persist postings to parquet lakes
  *    and are immune; these one-shot operators are the sf-scale /
  *    single-job spelling.
  *  - STORAGE: the pinned frame competes with shuffle and cache blocks
  *    for executor memory+disk; beyond the sf the bench measures, size
  *    the cluster for it or prefer the incremental variant.
  *
  * The knob: set `spark.graft.checkpointDir` (session conf) to a
  * RELIABLE directory (HDFS/S3) and every corpus-sized
  * materialization routes through `Dataset.checkpoint(eager = true)`
  * on that dir instead — surviving executor loss at the price of one
  * distributed write+read. Unset (the default, and the right call at
  * bench scale on local[32]) it stays `localCheckpoint(true)`.
  *
  * Streaming contract: BOTH spellings are actions — the
  * wrapped operators execute at DataFrame-CONSTRUCTION time and throw
  * `AnalysisException` on a streaming Dataset. Every caller of this
  * helper is a batch corpus operator by design; feed streams through
  * the incremental index entry points instead.
  */
object Materialize {

  /** Eagerly materialize a corpus-sized intermediate, cutting the
    * re-aliased-branch re-runs. Reliable `checkpoint()` when
    * `spark.graft.checkpointDir` is set; `localCheckpoint` otherwise
    * (see object doc for the durability trade). */
  def corpus(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val dir = sess.conf.get("spark.graft.checkpointDir", "")
    if (dir.nonEmpty) {
      val sc = sess.sparkContext
      // idempotent: honor a checkpoint dir the session already set;
      // only install the knob's dir when none is configured yet
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }
}
