package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked record linkage (entity matching / resolution) for data
  * integration: link each dirty record to its master by small edit
  * distance WITHOUT the all-pairs product — candidates come from a
  * pluggable BLOCKER, a pure projection mapping the match column to an
  * array of block keys; only pairs sharing a block key are scored.
  * (Reference semantics: the dirty-reimport linkage fixture; blocking
  * follows the standard record-linkage recipe, e.g. Christen 2012.)
  *
  * Scale shape: both sides explode to (block, row) — output size
  * rows x blocksPerRow — then a block-keyed equi-join; block
  * CARDINALITY grows with the corpus, so per-block occupancy stays
  * ~constant at any scale (a fixed block count would go quadratic).
  * Multi-block blockers produce duplicate candidate pairs (a true pair
  * shares several blocks); pairs are deduped by a (pair)-keyed
  * aggregate before scoring output. Nothing driver-side, no window
  * sorts.
  */
object EntityMatch {

  /** Single-block suffix blocker: the name's last `len` chars. Cheap
    * (one block per row) but FIXTURE-TUNED: recall requires the
    * corruption to stay OUT of the suffix. Use [[qgramBlocker]] when
    * the corrupted position is unknown. */
  def suffixBlocker(len: Int): Column => Column =
    name => array(substring(name, -len, len))

  /** Deletion-neighborhood (masked-position) blocker, recall-COMPLETE
    * for ONE substitution at any position: emit `length(name)` keys,
    * key p = the name with position p masked to `*` (position-tagged).
    * A pair differing by exactly one substitution shares the key at
    * their differing position; identical strings share every key. The
    * candidate set is therefore (near-)exactly the answer set — block
    * occupancy is the number of strings identical OUTSIDE one
    * position, i.e. true near-dups, NOT a q-gram frequency class.
    *
    * This replaces a positional q-gram segment blocker that was
    * recall-complete on paper but carried a 100 TB cliff in practice:
    * structured identifiers (names with constant prefixes) make whole
    * segments corpus-constant, and one constant segment degenerates
    * the block join to ALL-PAIRS — measured 869 s at sf0.1 (15k rows,
    * 225M candidate pairs) vs sub-second for this spelling, whose
    * work is O(length·N) + output-sized verify at any corpus size.
    * (The same 1-deletion index idea as SymSpell spell correction,
    * Mor & Fraenkel 1982.) SUBSTITUTION-ONLY by construction — this is
    * a recall CONTRACT, not an implementation detail: insert/delete
    * corruption shifts every position after the edit, so no mask key
    * can match and recall on indel corruption is ZERO by design (law-
    * tested in EntityMatchSpec). Corruption that can insert or delete
    * characters needs [[deletionBlocker]] instead. */
  def maskBlocker: Column => Column =
    name => transform(sequence(lit(1), length(name)), p =>
      concat_ws("|", p,
        concat(name.substr(lit(1), p - 1), lit("*"),
          name.substr(p + 1, length(name)))))

  /** Deletion-neighborhood blocker over the WHOLE edit-distance-1
    * ball (substitution, insertion, AND deletion): emit the string
    * itself plus every 1-character deletion — `length + 1` keys,
    * deduped (deleting either char of a repeated pair yields the same
    * string). Recall-COMPLETE for edit distance ≤ 1 of any kind:
    *   - substitution at p: deleting p from both sides meets in the
    *     same key;
    *   - insertion: deleting the inserted char recovers the master
    *     string = the master's identity key (and symmetrically for
    *     deletion corruption).
    * This is the full SymSpell / Mor–Fraenkel 1-deletion index, where
    * [[maskBlocker]] is its position-TAGGED restriction: the tags make
    * mask keys collision-free for structured ids but also make them
    * blind to position shifts. Untagged deletion keys trade slightly
    * wider blocks (strings identical after SOME deletion — still true
    * near-dups, never a frequency class, so occupancy stays ~constant
    * as block cardinality grows with the corpus) for indel recall.
    * Key payload is O(length^2) bytes per row — sized for match
    * columns that are NAMES/identifiers (tens of chars), not document
    * bodies; gate long strings through a fingerprint column first. */
  def deletionBlocker: Column => Column =
    name => array_distinct(concat(
      array(name),
      transform(sequence(lit(1), length(name)), p =>
        concat(name.substr(lit(1), p - 1),
          name.substr(p + 1, length(name))))))

  /** Deletion-neighborhood blocker over the edit-distance-2 ball: the
    * string itself, every 1-character deletion, AND every 2-character
    * deletion (positions p < q, the second substring index computed on
    * the ORIGINAL string so no shift bookkeeping) — the standard
    * SymSpell depth-2 extension of [[deletionBlocker]]. Recall-COMPLETE
    * for edit distance ≤ 2 of any kind (substitutions, insertions,
    * deletions, mixed): for ed(a,b) ≤ k the depth-k deletion
    * neighborhoods of a and b intersect (delete the edited positions
    * from each side; an insertion on one side is a deletion on the
    * other), so every true pair shares a key — law-tested per
    * corruption class in EntityMatchSpec, oracle-proven against the
    * NAIVE all-pairs link (`entity_match_edit2`).
    *
    * Cost model: O(length²/2) keys per row of O(length) bytes — ~450
    * keys / ~14 KB for a 30-char name. Still name-column-sized, but an
    * order up from depth 1: the key payload is the price of indel
    * recall at distance 2. Blocks stay near-dup-occupied (strings
    * identical after SOME two deletions), never a frequency class, so
    * occupancy stays ~constant as block cardinality grows with the
    * corpus — same scale argument as depth 1, with a bigger constant.
    * Gate long strings through a fingerprint column first. */
  def deletionBlocker2: Column => Column =
    name => array_distinct(concat(
      deletionBlocker(name),
      when(length(name) >= 2,
        flatten(transform(sequence(lit(1), length(name) - 1), p =>
          transform(sequence(p + 1, length(name)), q =>
            concat(name.substr(lit(1), p - 1),
              name.substr(p + 1, q - p - 1),
              name.substr(q + 1, length(name)))))))
        .otherwise(array().cast("array<string>"))))

  /** Link every dirty row to the master rows within `maxDist`
    * Levenshtein distance, candidates restricted to pairs sharing a
    * block key. Output: (dKeyCol, master key, dist), one row per
    * linked pair, deduped across shared blocks.
    *
    * Cost discipline (measured: `entity_match_edit2` 25 s → ~6 s):
    *  - the block join key ships as a 64-bit hash, not the O(length)
    *    key string — with [[deletionBlocker2]] a 30-char name emits
    *    ~200-450 keys × ~20-30 bytes, so hashing cuts the exploded
    *    shuffle several-fold. This makes blocking PROBABILISTIC: for
    *    recall-complete blockers (the deletion family, where blocking
    *    is purely a candidate-generation optimization and the banded
    *    distance is the semantics) a 2^-64 collision only admits an
    *    extra candidate that the exact verify then judges — answer
    *    identical. For blockers whose block predicate IS part of the
    *    semantics (suffixBlocker, maskBlocker: "must share a suffix /
    *    mask"), a colliding within-maxDist pair that shares NO true
    *    block would appear where the unhashed spelling excludes it —
    *    probability ~n²·2^-64, negligible but nonzero; callers
    *    needing exact semantic blocking should verify the block
    *    predicate downstream or accept the documented odds
    *    (probabilistic by design);
    *  - the free length-band prune (ed(a,b) ≥ |len(a)-len(b)|) runs
    *    before the distance;
    *  - the distance is the BANDED levenshtein (threshold form):
    *    O(length·maxDist) with early exit, not O(length²), computed
    *    ONCE per candidate row (the old spelling evaluated the full
    *    quadratic distance twice — in the filter and again under the
    *    dedup aggregate);
    *  - the pair dedup runs on SURVIVORS, after the distance filter,
    *    not before. Order matters and was measured both ways: on
    *    structured-identifier corpora (zero-padded sequential names —
    *    the fixture, and common in the wild) the depth-2 deletion
    *    neighborhood is precision-DEGENERATE: 15k masters produce 65M
    *    candidate rows / 35M distinct pairs, so dedup-first pays a
    *    65M-row shuffle (51 s measured) to save distance evaluations
    *    that cost microseconds each in codegen, while filter-first
    *    streams the 65M candidates through the banded distance
    *    map-side and shuffles only the answer-sized survivor set.
    *
    * OPERATING ENVELOPE + candidate budget (the third measured scale
    * decade): filter-first is still quadratic in per-block
    * occupancy. On precision-degenerate corpora (structured ids whose
    * deletion neighborhoods collapse onto shared keys) candidates grow
    * ~quadratically in masters — fresh-sf1 measured 296M candidates,
    * fresh-sf3 a construction-implied ~2.7G with SURVIVORS no longer
    * answer-sized (304.6M rows), and map-side distance throughput
    * HALVED (6.2M → 3.4M cand/s) because the survivor shuffle stopped
    * being free. Past that regime the operator walks into an unbounded
    * join. So, the `maxBatchPostings` discipline applied to the link
    * path: before the candidate join, ONE block-occupancy aggregate
    * per side (map-side-combined counts over the exploded keys, a
    * distinct-block-sized join, a scalar sum — Σ_b d_b·m_b is the
    * EXACT pre-prune candidate count, not an estimate) and an
    * IllegalStateException naming the hottest block keys when it
    * crosses `maxCandidates` (default 1e9 ≈ the measured regime where
    * throughput degrades). The guard costs one extra pass over each
    * exploded side — blocker-explode-sized, never candidate-sized.
    * Callers that KNOW their corpus (or want the sf3-style run anyway)
    * pass `maxCandidates = Long.MaxValue`, which skips the histogram
    * pass entirely; answers are identical either way (guard is a
    * precondition, not a filter). */
  def link(dirty: DataFrame, dKey: String, dName: String,
           master: DataFrame, mKey: String, mName: String,
           blocker: Column => Column, maxDist: Int,
           maxCandidates: Long = 1000000000L): DataFrame = {
    val dRaw = widen(dirty).select(col(dKey), col(dName),
      explode(blocker(col(dName))).as("__bk"))
    val mRaw = widen(master).select(col(mKey), col(mName),
      explode(blocker(col(mName))).as("__bk"))
    val d = dRaw.select(col(dKey), col(dName),
      xxhash64(col("__bk")).as("__block"))
    val m = mRaw.select(col(mKey), col(mName),
      xxhash64(col("__bk")).as("__block"))
    if (maxCandidates < Long.MaxValue)
      guardCandidates(dRaw, mRaw, maxCandidates)
    d.join(m, "__block")
      .filter(abs(length(col(dName)) - length(col(mName))) <= maxDist)
      .withColumn("dist",
        levenshtein(col(dName), col(mName), maxDist).cast("int"))
      // the threshold form returns -1 past maxDist
      .filter(col("dist").between(0, maxDist))
      // multi-block blockers emit a pair once per shared block: dedup
      // with a pair-keyed aggregate (dist is a function of the pair,
      // so min == the value) — map-side combined, survivor-sized
      .groupBy(col(dKey), col(mKey))
      .agg(min(col("dist")).as("dist"))
  }

  /** Per-hashed-block candidate products: Σ over block keys of
    * (dirty occupancy × master occupancy) is the exact candidate-row
    * count the block join would stream — pre-length-prune, pre-dedup (a
    * multi-block pair counts once per shared block, exactly like the
    * join). Runs on the HASHED keys the join itself ships (grouping the
    * raw key strings cost ~3× the non-degenerate link wall — measured
    * 131 s vs a 47 s link at fresh-sf1; 8-byte hashes with map-side
    * combine make the guard a fraction of the join it protects). Exact
    * modulo 2^-64 hash collisions, like the join. `__block` rides along
    * so the failure path can resolve hot hashes back to key names. */
  private def occupancy(dRaw: DataFrame, mRaw: DataFrame): DataFrame =
    dRaw.select(xxhash64(col("__bk")).as("__block"))
      .groupBy("__block").agg(count(lit(1)).as("__dc"))
      .join(mRaw.select(xxhash64(col("__bk")).as("__block"))
        .groupBy("__block").agg(count(lit(1)).as("__mc")), "__block")
      .select(col("__block"), (col("__dc") * col("__mc")).as("__cand"))

  private def guardCandidates(dRaw: DataFrame, mRaw: DataFrame,
                              maxCandidates: Long): Unit = {
    val occ = occupancy(dRaw, mRaw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val est = occ.agg(coalesce(sum("__cand"), lit(0L)))
        .first().getLong(0)
      if (est > maxCandidates) {
        // failure path only: resolve the degenerate blocks' NAMES
        // (bounded: 5 hashes broadcast against the dirty side, which
        // shares every flagged block by construction of the product)
        val hotHash = occ.orderBy(col("__cand").desc).limit(5)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val hotDf = dRaw.sparkSession
          .createDataFrame(hotHash.toSeq).toDF("__block", "__cand")
        val names = dRaw
          .select(xxhash64(col("__bk")).as("__block"), col("__bk"))
          .join(broadcast(hotDf), Seq("__block"))
          .groupBy("__block")
          .agg(first(col("__bk")).as("__bk"), first(col("__cand")).as("__cand"))
          .collect()
          .map(r => (r.getString(1), r.getLong(2)))
          .sortBy(-_._2)
        val hot = names
          .map { case (k, c) => s"'${k.take(48)}' -> $c" }.mkString("; ")
        throw new IllegalStateException(
          s"EntityMatch.link: the blocker produces $est candidate " +
            s"pairs (exact Sum over blocks of dirty x master " +
            s"occupancy) > maxCandidates=$maxCandidates — the block " +
            s"join would be occupancy-quadratic, not answer-sized. " +
            s"Hottest block keys: $hot. The blocker is degenerate " +
            s"for this corpus (shared structural key material); use " +
            s"a more selective blocker (e.g. maskBlocker's " +
            s"position-tagged keys for structured ids), pre-split " +
            s"the corpus, or raise maxCandidates deliberately.")
      }
    } finally occ.unpersist()
  }

  /** Spread a narrow input across the session's shuffle parallelism
    * before the blocker explode. The deletion blockers are interpreted
    * higher-order array lambdas evaluated on the JOIN'S MAP SIDE — on
    * a source that arrives as one or two parquet splits (a 15k-row dim
    * table, a single-file extract) the whole O(rows·length²) key
    * generation runs on that many cores (measured: 4.0 s → 1.25 s on
    * 32 cores at sf0.1). The repartition shuffles only the RAW names
    * (input-sized, pre-explode); an input already at or above target
    * parallelism passes through untouched. */
  private def widen(df: DataFrame): DataFrame = {
    // guard the conf parse (managed platforms set non-numeric values
    // like "auto"), falling back to cluster parallelism — and read
    // the CURRENT width from the pre-adaptive physical plan rather
    // than df.rdd: constructing the RDD finalizes the AQE plan and
    // can EXECUTE upstream stages whose work the repartition below
    // then repeats. For a plan whose partitioning is
    // unknown pre-execution (e.g. a bare file scan) numPartitions
    // reads 0 and we repartition — the safe side: the shuffle moves
    // only the raw pre-explode names, input-sized.
    val sess = df.sparkSession
    val target = scala.util.Try(
      sess.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(sess.sparkContext.defaultParallelism)
    val current = scala.util.Try(
      df.queryExecution.sparkPlan.outputPartitioning.numPartitions)
      .getOrElse(0)
    if (current < target) df.repartition(target) else df
  }
}
