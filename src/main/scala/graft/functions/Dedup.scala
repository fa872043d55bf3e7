package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for 100 TB-scale corpora. Design rules:
  *   - never all-pairs: candidate generation is always bucketed (LSH
  *     bands, hash groups), so the join key-space bounds the shuffle;
  *   - no driver state: everything is groupBy/join over hash keys;
  *   - deterministic: hashes derive from md5 (see [[Hashing]]), so runs
  *     and engines agree bit-for-bit.
  */
object Dedup {

  // ---------------- exact dedup ----------------

  /** Exact dedup on a canonical-form hash: one survivor (min id) per
    * distinct normalized text. A hash-bucket groupBy — the shuffle is on
    * the 128-bit fingerprint, perfectly balanced at any scale. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactGroups(df, textCol, idCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental (cross-snapshot) dedup: today's crawl batch against
    * everything already ingested. The batch first self-dedups (min-id
    * survivor per canonical fingerprint — the same map-side-combined
    * groupBy as [[exactGroups]]), then a LEFT ANTI join against the
    * history's distinct fingerprints drops docs the corpus already
    * holds. Returns the surviving (id, fp) pairs — globally unique
    * across history ∪ batch.
    *
    * Scale shape: both join inputs reduce to fingerprints first, so
    * the anti-join shuffles 16-byte keys, never document text, and the
    * history is NEVER re-shuffled per batch when it lives pre-bucketed
    * by fp (operators/Joins.bucketed — the state layout CdcStream uses
    * for exactly this reason); a small daily batch against a huge
    * history can instead broadcast the batch side. */
  def crossSnapshotDedup(batch: DataFrame, history: DataFrame,
                         textCol: String, idCol: String): DataFrame = {
    val histFp = history
      .select(TextAnalysis.fingerprint(col(textCol)).as("fp")).distinct()
    val batchKeep = batch
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
    batchKeep.join(histFp, Seq("fp"), "left_anti")
      .select(col(idCol), col("fp"))
  }

  // ---------------- MinHash + LSH ----------------

  /** Word shingles (n-grams) of the token stream. */
  /** Exact duplicated-substring detection — the substring-granular
    * dedup from the public training-data literature (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): a
    * substring repeated ANYWHERE in the corpus (across documents or
    * within one) is located token-exactly so a curation pipeline can
    * cut it while keeping the surrounding document. The suffix-array
    * construction of the paper is replaced by the distributed
    * equivalent at fixed granularity `w`: every w-token rolling window
    * is fingerprinted (md5 — balanced shuffle keys), windows whose
    * fingerprint occurs ≥2 times in the corpus are duplicated, and
    * per-document runs of overlapping/adjacent duplicated windows merge
    * into MAXIMAL spans (gaps-and-islands over token positions).
    *
    * Scale shape: windows ∝ corpus tokens, fingerprint groupBy is
    * map-side combined on a 128-bit key; the duplicate set joins back
    * fp-keyed with ONE row per fp on the build side, so even a
    * boilerplate string appearing in millions of documents fans out
    * 1:1; the island merge is a per-document window partitioned on doc
    * id — no corpus-wide window, no driver state. Output: one row per
    * maximal duplicated span (1-based token positions, inclusive). */
  def duplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                      w: Int = 3, minOccurrences: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // windows via the native shingle expression (one byte pass per
    // doc; the composed transform/slice/concat_ws spelling ran the
    // interpreted HOF tree per window — the same ~16 µs/window cost
    // profiled in the minhash kernel). For size >= w docs the shingle
    // array IS the ordered window list, so posexplode carries the
    // 1-based token position; md5 moves after the explode, where it
    // runs codegen'd per window row. Sub-w docs are filtered BEFORE
    // shingling (the fallback whole-doc shingle must not fingerprint).
    val wins = docs
      .filter(size(TextAnalysis.tokens(col(textCol))) >= w)
      .select(col(idCol),
        posexplode(shingles(col(textCol), w)).as(Seq("__p0", "__s")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        md5(col("__s")).as("fp"))
    val dup = wins.groupBy("fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences).select("fp")
    val marked = wins.join(dup, Seq("fp"))
      .select(col(idCol), col("pos"), (col("pos") + (w - 1)).as("end"))
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val islands = marked
      .withColumn("__pmax", max(col("end")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("pos") > col("__pmax") + 1, 1)
          .otherwise(0))
      .withColumn("__island", sum(col("__new")).over(byDoc))
    islands.groupBy(col(idCol), col("__island"))
      .agg(min("pos").as("span_start"), max("end").as("span_end"))
      .select(col(idCol), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long")
          .as("span_tokens"))
  }

  /** The curation action on [[duplicatedSpans]]: CUT every duplicated
    * span out of its document, keep the unique remainder — what a
    * training-data pipeline actually does with located duplicate
    * substrings (Lee et al. 2022 report perplexity gains from exactly
    * this surgery vs dropping whole documents).
    *
    * Scale shape: the corpus itself is NEVER shuffled — only the span
    * table (≪ corpus) aggregates per doc and joins back doc-keyed; the
    * token filter then runs map-side as an indexed higher-order
    * `filter` over the in-row token array (O(spans) per token, spans
    * per doc are few by construction since they merged maximally).
    * Docs without spans pass through with a NULL join and keep their
    * text verbatim. */
  def cutDuplicatedSpans(docs: DataFrame, textCol: String, idCol: String,
                         w: Int = 3,
                         minOccurrences: Long = 2): DataFrame = {
    val spans = duplicatedSpans(docs, textCol, idCol, w, minOccurrences)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__sp"))
    docs.join(spans, Seq(idCol), "left")
      .withColumn("__t", TextAnalysis.tokens(col(textCol)))
      .withColumn("__keep",
        when(col("__sp").isNull, col("__t"))
          .otherwise(filter(col("__t"), (_, i) =>
            !exists(col("__sp"), sp =>
              (i + 1).cast("long") >= sp.getField("span_start") &&
              (i + 1).cast("long") <= sp.getField("span_end")))))
      .select(col(idCol), concat_ws(" ", col("__keep")).as("clean_text"),
        size(col("__keep")).cast("long").as("kept_tokens"),
        (size(col("__t")) - size(col("__keep"))).cast("long")
          .as("cut_tokens"))
  }

  /** Word shingles, backed by the native
    * [[org.apache.spark.sql.graft.ShinglesExpr]] (one byte pass per
    * doc). Byte-identical to [[shinglesComposed]] for non-null text —
    * law-tested over the fixture corpus plus whitespace adversaries;
    * the one divergence is null text (native: null; composed: [""] via
    * concat_ws null-skipping), and every caller shingles a non-null
    * document column. */
  def shingles(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      org.apache.spark.sql.graft.ShinglesExpr(
        org.apache.spark.sql.graft.bridge.expression(text), n))

  /** The Column-function spelling [[shingles]] replaced (kept for the
    * parity law test): the nested higher-order tree evaluates
    * sequence → transform → slice → concat_ws per shingle on the
    * interpreted path — profiled at 4.3 s of the 5.0 s sf0.1 minhash
    * kernel, ~16 µs/shingle, vs one byte pass in the native form. */
  private[graft] def shinglesComposed(text: Column, n: Int): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(0), size(t) - n),
        i => concat_ws(" ", slice(t, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** MinHash permutation family: one md5-derived base hash per shingle,
    * k affine permutations h_j(x) = ((2j+1)*x + j*B) mod P over it — the
    * textbook construction (one digest per shingle instead of k).
    * P is the first prime above 2^32; (2j+1) keeps multipliers odd.
    * Fully deterministic and reproducible in any engine. */
  val MinhashP: Long = 4294967311L
  val MinhashB: Long = 2654435761L
  def permute(h: Column, j: Int): Column =
    pmod(h * (2L * j + 1) + lit(j.toLong * MinhashB % MinhashP), lit(MinhashP))

  /** MinHash signature: sig[j] = min over shingles of h_j(hash(shingle)).
    * Computed as a per-row expression — zero shuffle until the band
    * join; bulk scoring uses the explode form in [[lshBands]].
    *
    * Shingles are DEDUPED before hashing: the min-reduction is
    * duplicate-blind (min over the multiset == min over the set), so
    * repeated shingles — common in real text — would only repeat the
    * md5, the family's dominant CPU cost. Value-identical in any
    * engine for the same reason. */
  def minhashSignature(text: Column, k: Int, shingleN: Int): Column = {
    val hs = transform(array_distinct(shingles(text, shingleN)),
      s => Hashing.hex8ToLong(s))
    transform(sequence(lit(0), lit(k - 1)), j =>
      array_min(transform(hs, h =>
        pmod(h * (j * 2 + 1) + pmod(j * lit(MinhashB), lit(MinhashP)),
          lit(MinhashP)))))
  }

  /** LSH banding: split the k-long signature into `bands` bands of
    * k/bands rows each; docs sharing any band hash are candidates.
    * Returns (idCol, band, band_hash) — the join key space.
    *
    * Implemented explode -> groupBy rather than nested array lambdas:
    * shingles are computed once per document, the k seeded hashes once
    * per shingle, and the min-reduction is a map-side-combined
    * aggregation. (The pure-expression form re-evaluates the shingle
    * array inside every lambda — measured 40x slower at sf0.1.) */
  def lshBands(df: DataFrame, textCol: String, idCol: String,
               k: Int = 16, shingleN: Int = 3, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val r = k / bands
    // one row per shingle, k hash columns per row, k map-side-combined
    // min aggregates: a single shuffle keyed on the doc id, row count
    // = shingle count (not k * shingles)
    // deduped before the explode: the per-doc min is duplicate-blind,
    // so repeated shingles only repeat the md5 (the dominant cost) and
    // inflate the aggregation input — value-identical either way
    val sh = df.select(col(idCol),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("__s"))
    val hashed = sh.select(
      (col(idCol) +: {
        val h = Hashing.hex8ToLong(col("__s"))
        (0 until k).map(j => permute(h, j).as(s"__h$j"))
      }): _*)
    val aggs = (0 until k).map(j => min(col(s"__h$j")).as(s"__m$j"))
    val sig = hashed.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until r).map(i =>
          col(s"__m${b * r + i}").cast(StringType)): _*)).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"),
        col("__b.band_hash").as("band_hash"))
  }

  /** Candidate near-duplicate pairs: ids co-bucketed in at least one band.
    * The self-join is on (band, band_hash) — bucket-local, never
    * all-pairs. Buckets larger than `maxBucketSize` are DROPPED before
    * the join: a bucket of n docs contributes n²/2 pairs, so one hot
    * bucket (boilerplate, templates, empty docs) can dwarf the whole
    * workload — measured 131M pairs from a 4200-doc bucket at 100k docs.
    * Oversized buckets are better handled by an exact-hash pre-pass or a
    * finer banding, both cheaper than quadratic pair generation; capping
    * trades recall on exactly those degenerate groups for a bounded
    * shuffle at any scale. Pass Int.MaxValue to disable. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 16, shingleN: Int = 3, bands: Int = 4,
                        maxBucketSize: Int = 1000): DataFrame = {
    // Single-pass pair generation: ONE shuffle of the bands frame keyed
    // on (band, band_hash); each surviving bucket's sorted id array
    // expands to its in-bucket combinations. This replaces the previous
    // self-join (bucket-count guard + two probe scans — three
    // evaluations of the whole minhash pipeline) with one evaluation
    // and no join. The hot-bucket cap both bounds the quadratic pair
    // term AND the per-group array (cap ids ~ a few KB); a bucket of n
    // docs contributes n^2/2 pairs, so one degenerate bucket
    // (boilerplate, empty docs — measured 131M pairs from a 4200-doc
    // bucket at 100k docs) can dwarf the workload. Oversized buckets
    // are better served by an exact-hash pre-pass or finer banding.
    bucketPairs(lshBands(df, textCol, idCol, k, shingleN, bands),
      idCol, maxBucketSize)
  }

  /** In-bucket pair expansion of [[minhashCandidates]]: one shuffle
    * keyed on (band, band_hash), each surviving bucket's sorted id
    * array expands to its combinations. */
  private def bucketPairs(b: DataFrame, idCol: String,
                          maxBucketSize: Int): DataFrame =
    combinations(b.groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucketSize)), "__ids")
      .distinct()

  /** The (id_a, id_b) pairs of each row's id array column `ids`, id_a
    * before id_b in the array: a sorted array yields each pair once,
    * least id first. */
  private def combinations(df: DataFrame, ids: String): DataFrame = {
    val a = col(ids)
    df.select(explode(flatten(transform(a, (x, i) =>
        transform(slice(a, i + 2, size(a)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
  }

  /** Incremental near-dup detection against a PERSISTED LSH band
    * index — the 100 TB shape of continuous-crawl dedup: the corpus's
    * band rows live in a parquet lake and each new batch (a) finds its
    * candidate pairs against the index WITHOUT the index ever
    * shuffling — the batch's band rows broadcast into a map-side join
    * over the index scan — and (b) appends its own band rows, so
    * per-update cost is O(index scan + batch), never O(corpus²) or a
    * corpus re-hash (reference semantics: the cross-snapshot half of
    * pkg dataplane dedup, banded instead of exact).
    *
    * Returns the pairs DISCOVERED by this update: index↔batch plus
    * within-batch, both (least, greatest)-normalized. The cumulative
    * union over updates equals [[minhashCandidates]] over the full
    * corpus whenever no bucket ever exceeds `maxBucketSize` (a bucket
    * that grows past the cap mid-stream keeps its early pairs — the
    * inherent incremental-cap semantics; full recompute would drop
    * the whole bucket).
    *
    * The returned frame is MATERIALIZED before the index append (the
    * join must not see the batch's own rows), so the write has
    * happened by the time this returns. The update runs the
    * [[StandingIndex]] lifecycle, which first recovers an interrupted
    * compaction of the index. */
  def bandIndexUpdate(indexPath: String, newDocs: DataFrame,
                      textCol: String, idCol: String,
                      k: Int = 16, shingleN: Int = 3, bands: Int = 4,
                      maxBucketSize: Int = 1000): DataFrame = {
    val keys = Seq("band", "band_hash")
    StandingIndex.update(newDocs.sparkSession, Seq(indexPath),
      new StandingIndex.Kind[Unit] {
        def rows(s: StandingIndex.Scope) =
          lshBands(newDocs, textCol, idCol, k, shingleN, bands)
            .withColumnRenamed(idCol, "id")
        def gate(s: StandingIndex.Scope, rows: DataFrame) =
          if (StandingIndex.materialize(rows) == 0L) None else Some(())
        def noPairs(rows: DataFrame) =
          rows.limit(0).select(col("id").as("id_a"), col("id").as("id_b"))
        // matching index rows only: the batch's band keys broadcast into
        // a map-side semi-filter, so everything after this is
        // candidate-scale, never index-scale. Every append wrote the
        // batch rows' schema, so the read passes it instead of
        // inferring it from a footer.
        def slice(s: StandingIndex.Scope, rows: DataFrame, g: Unit) =
          s.spark.read.schema(rows.schema).parquet(indexPath)
            .join(broadcast(rows.select(keys.map(col): _*)), keys,
              "left_semi")
        // ONE aggregation over the slice and the batch rows per bucket:
        // the bucket's TOTAL size decides the cap (over-cap buckets are
        // dropped, as a one-shot recompute would drop them) and its
        // batch ids make the pairs. Index ids are only counted, never
        // collected, so a hot index bucket is never materialized; the
        // index-side pairs come from the slice joined to the kept
        // buckets' batch ids, broadcast.
        def probe(rows: DataFrame, g: Unit,
                  slice: Option[StandingIndex.Slice]) = {
          val idx = slice.map(_.df)
          val batch = rows.withColumn("__new", lit(true))
          val buckets = idx
            .fold(batch)(_.withColumn("__new", lit(false)).unionByName(batch))
            .groupBy(keys.map(col): _*)
            .agg(sort_array(collect_list(when(col("__new"), col("id"))))
              .as("__ids"), count(lit(1)).as("__tot"))
            .filter(col("__tot") <= maxBucketSize)
            .drop("__tot")
          val within = combinations(buckets, "__ids")
          // an id already in the index that arrives again is no pair
          // with itself
          val cross = idx.map(_.join(broadcast(buckets), keys)
            .select(col("id"), explode(col("__ids")).as("__new_id"))
            .filter(col("id") =!= col("__new_id"))
            .select(least(col("id"), col("__new_id")).as("id_a"),
              greatest(col("id"), col("__new_id")).as("id_b")))
          cross.fold(within)(within.unionByName).distinct()
        }
        def append(s: StandingIndex.Scope, rows: DataFrame) =
          rows.write.mode("append").parquet(indexPath)
      })
  }

  /** Maintenance for the persisted LSH band index: rewrite the lake's
    * accumulated per-update part files into ~`targetBytes` files via
    * the crash-safe two-phase swap ([[graft.sinks.Sinks.compact]]).
    * Each [[bandIndexUpdate]] appends its own part files; at streaming
    * cadence the index scan every update performs turns listing-bound
    * long before it turns byte-bound. Pair discovery is unordered and
    * row-content-preserving under compaction, so updates after a
    * compact find exactly the pairs they would have found without it
    * (spec-proven). Run off the update path. */
  def bandIndexCompact(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String,
                       targetBytes: Long = 128L << 20)
      : graft.sinks.Sinks.CompactionStats =
    StandingIndex.compact(spark, Seq(indexPath), targetBytes)

  // ---------------- SimHash ----------------

  /** SimHash over token hashes: for each of `bits` positions, sum +1/-1
    * votes across tokens and set the bit when the vote is positive.
    * Expression-only; one integer per document. Fine for ad-hoc use and
    * tests; for bulk scoring prefer [[simhashFrame]]. */
  def simhash(text: Column, bits: Int = 16): Column = {
    val hs = transform(TextAnalysis.tokens(text), t => Hashing.hex8ToLong(t))
    val bitCols = (0 until bits).map { j =>
      val vote = aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Bulk SimHash: explode tokens, hash once each, vote with `bits`
    * map-side-combined sums in one aggregation — one shuffle keyed on
    * the doc id, linear in total token count at any scale. */
  def simhashFrame(df: DataFrame, textCol: String, idCol: String,
                   bits: Int = 16): DataFrame = {
    val hs = df.select(col(idCol),
        explode(TextAnalysis.tokens(col(textCol))).as("__t"))
      .select(col(idCol), Hashing.hex8ToLong(col("__t")).as("__h"))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as(s"__v$j")
    }
    hs.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"__v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  // ---------------- n-gram Jaccard ----------------

  /** Exact Jaccard similarity over distinct shingles for candidate pairs.
    * Built explode-join-aggregate so the shuffle is on shingle hashes:
    * |A∩B| from the join, |A|,|B| from per-doc counts — integer
    * arithmetic until one final division.
    *
    * Hot-shingle guard (the same scale rule as the hot-bucket caps in
    * [[minhashCandidates]] / [[embeddingNearDups]]): a shingle present
    * in d documents contributes d²/2 join rows, so one stop-shingle
    * ("the quick brown") can go quadratic on the whole corpus. Shingles
    * with document frequency > `maxDf` are dropped from the universe
    * (both the intersection join AND the per-doc sizes, so Jaccard
    * stays a true Jaccard over the filtered shingle set). Stop-shingles
    * carry no near-dup signal — this trades exactly their noise for a
    * bounded shuffle. Pass Int.MaxValue to disable (skips the df
    * pre-pass entirely); the `candidates` pre-filter remains the
    * documented bulk route. EAGER by contract: the grouped postings
    * materialize at call time (no streaming inputs — [[Materialize]]
    * has the durability policy). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, minJaccard: Double = 0.0,
                        candidates: Option[DataFrame] = None,
                        maxDf: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("s"))
    // ONE shuffle keyed on the shingle (the minhashCandidates shape):
    // each group carries its sorted doc-id list, in-group combinations
    // are the co-occurrence pairs — no self-join. The hot-shingle cap
    // drops df > maxDf groups in the same aggregation, so it is free;
    // it also bounds the per-group array AND the quadratic pair term.
    // Docs lose the dropped shingles from BOTH the intersection and
    // their sizes, so jaccard stays a true Jaccard over the filtered
    // shingle universe.
    // eager checkpoints (diamond sweep): grouped feeds
    // both the size model and the pair stream, sizes is joined from
    // both pair sides — exchange reuse never deduplicates re-aliased
    // branches, so each consumer re-ran the corpus shingle explode
    // (measured 3 scans / 6 explodes). grouped IS the capped postings
    // lake; sizes is doc-count-sized.
    val grouped = Materialize.corpus(sh.groupBy("s")
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
      .filter(size(col("__ids")) <= maxDf))
    val sizes = Materialize.corpus(
      grouped.select(explode(col("__ids")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n")))
    val ids = col("__ids")
    val pairStructs = flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + 2, size(ids)),
        y => struct(x.as("id_a"), y.as("id_b")))))
    val pairs = grouped.filter(size(ids) >= 2)
      .select(explode(pairStructs).as("__p"))
      .select(col("__p.id_a").as("id_a"), col("__p.id_b").as("id_b"))
    val filtered = candidates.fold(pairs)(c =>
      pairs.join(c, Seq("id_a", "id_b"), "left_semi"))
    filtered.groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cluster-representative election by QUALITY — the keep/drop
    * refinement after near-dup clustering: instead of the min-id
    * canonical ([[canonicalize]]), keep each cluster's HIGHEST-
    * quality member (ties to the smaller id), which is what a corpus
    * build actually wants — dedup should discard the worse copies,
    * not whichever happened to have the larger id. One cluster-keyed
    * struct-max aggregate (map-side combined, no window sort). */
  def electRepresentatives(df: DataFrame, idCol: String, clusterCol: String,
                           qualityCol: String): DataFrame =
    df.groupBy(col(clusterCol))
      .agg(max(struct(col(qualityCol).cast("long").as("q"),
          (-col(idCol)).as("nid"))).as("__m"),
        count(lit(1)).as("n_members"))
      .select(col(clusterCol), (-col("__m.nid")).as("keep_id"),
        col("__m.q").as("keep_quality"), col("n_members"))

  /** Corpus-wide paragraph dedup with document REASSEMBLY — the C4
    * recipe (Raffel et al. 2020): a paragraph repeated anywhere in
    * the corpus (boilerplate, navigation, legal footers) survives
    * only at its FIRST occurrence (smallest (doc, position)); every
    * other document is rebuilt without it, original paragraph order
    * preserved. Line dedup drops whole docs or lines globally; this
    * keeps the surrounding document.
    *
    * Scale shape: paragraphs explode once; the first-occurrence
    * election is a 16-byte-hash-keyed min-struct aggregate (map-side
    * combined); survivors join back hash-keyed; reassembly is one
    * doc-keyed aggregate with an in-group array sort (doc-sized, not
    * corpus-sized). Nothing driver-side. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     sepRegex: String = "\\. ", sepOut: String = ". ")
      : DataFrame = {
    val paras = df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), sepRegex)).as(Seq("__idx", "__p")))
      .withColumn("__h", md5(col("__p")))
    val firstOcc = paras.groupBy("__h")
      .agg(min(struct(col("__id"), col("__idx"))).as("__f"))
    paras.join(firstOcc, "__h")
      .filter(col("__id") === col("__f.__id") &&
        col("__idx") === col("__f.__idx"))
      .groupBy(col("__id"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__idx"), col("__p")))),
        e => e.getField("__p")), sepOut).as("text_dedup"))
      .select(col("__id").as(idCol), col("text_dedup"))
  }

  /** Prefix-filtered set-similarity self-join (the AllPairs/PPJoin
    * family — Bayardo et al., WWW'07; Xiao et al., WWW'08): EXACT
    * Jaccard-threshold pairs without indexing every token.
    *
    * Each doc's distinct shingles are ordered by global rarity
    * (document frequency asc, shingle asc) and only the first
    * `|t| - ceil(θ·|t|) + 1` — the PREFIX — are indexed. The theorem:
    * two sets with J ≥ θ MUST share a prefix token under a common
    * global order, so candidate generation over prefixes alone is
    * lossless at θ, while the inverted index shrinks two ways at
    * once — each doc posts ~(1-θ) of its tokens, and prefixes favor
    * RARE tokens, so posting lists stay short exactly where the
    * quadratic in-group pair term would explode (the hot-shingle
    * problem the maxDf cap in [[ngramJaccardPairs]] solves lossily;
    * this solves it exactly, given a threshold).
    *
    * Exact verification then runs only on candidates, via
    * [[ngramJaccardPairs]] with the df cap disabled — so the result
    * is the TRUE all-pairs answer at θ, which is what the oracle
    * replays as a plain all-pairs join on the small fixture. */
  /** Prefix length `__n - ⌈θ·__n⌉ + 1` over the `__rk`/`__n` ranked
    * frame, with the minimal required overlap ⌈θ·n⌉ computed by EXACT
    * integer cross-multiplication (smallest m with m·1000 ≥ n·θpm, θpm
    * = ⌊θ·1000⌋) — a float `ceil(θ·n)` can land 1 ulp above an exact
    * integer product and silently shorten the prefix below the
    * losslessness bound, dropping a boundary pair at containment
    * exactly θ. Flooring θ to a permille only LENGTHENS the prefix
    * (never lossy; exact-minimal when θ is a permille multiple, which
    * every caller in this repo uses). */
  private[functions] def prefixLen(theta: Double): org.apache.spark.sql.Column = {
    val thetaPm = math.floor(theta * 1000).toLong
    expr(s"__n - ((__n * ${thetaPm}L + 999L) div 1000L) + 1L")
  }

  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                         shingleN: Int = 3, theta: Double = 0.5): DataFrame = {
    require(theta > 0 && theta <= 1, "theta in (0, 1]")
    // eager checkpoint (diamond sweep): the posting
    // frame feeds df counts, ranking, verify legs and sizes — without
    // materialization each consumer re-runs the corpus shingle explode
    // (exchange reuse never fires across re-aliased branches; measured
    // 6 scans / 7 explodes in setsim_prefix_join's executed plan).
    // Materializing postings once IS the PPJoin scale shape. The frame
    // is CORPUS-postings-sized: [[Materialize.corpus]] documents the
    // executor-loss trade and the `spark.graft.checkpointDir` knob; at
    // cluster scale prefer [[containmentIndexUpdate]]'s parquet lake.
    val sh = Materialize.corpus(df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("s")))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    // per-doc rarity rank; doc-sized sort groups, corpus-keyed shuffle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df"), col("s"))
    val ranked = sh.join(dfreq, "s")
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val prefix = ranked
      .filter(col("__rk") <= prefixLen(theta))
      .select("id", "s")
    // co-occurrence pairs over prefix postings only (the one-shuffle
    // grouped-combinations shape)
    val grouped = prefix.groupBy("s")
      .agg(sort_array(collect_list(col("id"))).as("__ids"))
      .filter(size(col("__ids")) >= 2)
    val cands = combinations(grouped, "__ids").distinct()
    // CANDIDATE-keyed exact verify — deliberately NOT the grouped-
    // combinations route ngramJaccardPairs takes: that one explodes
    // every co-occurring pair per shingle group BEFORE any candidate
    // filter, so one universal hot shingle is C(N,2) structs and the
    // job dies at corpus scale (measured: it OOM'd at 100k docs).
    // Here the hot groups are joined against the candidate list
    // first; work is |candidates| x doc size, whatever the df skew.
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jaccard") >= theta)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered CONTAINMENT self-join — the DIRECTIONAL twin of
    * [[prefixJaccardPairs]] for quote/aggregator dedup: pairs where
    * `|A ∩ B| / |A| ≥ θ` over distinct shingle sets (A mostly inside
    * B), which symmetric Jaccard misses by construction — a 50-token
    * quote inside a 5000-token page sits at J ≈ 0.01 with containment
    * 1.0, and keeping exactly one of the pair is the classic
    * aggregator/boilerplate-page cleanup.
    *
    * Candidate completeness at θ (asymmetric prefix filter, the
    * containment member of the AllPairs/PPJoin family): if
    * `|A∩B| ≥ ⌈θ|A|⌉`, the intersection cannot fit inside A's last
    * `⌈θ|A|⌉ − 1` tokens of the global (df asc, shingle asc) order, so
    * A's PREFIX of length `|A| − ⌈θ|A|⌉ + 1` must share a token with
    * B — indexing A-prefixes against B's FULL postings is lossless.
    * The B side posting everything is what containment costs over
    * Jaccard; it stays bounded because prefixes favor RARE shingles,
    * so a hot shingle's long posting list meets only the few prefixes
    * that kept it (the PPJoin argument), and the exact verify is
    * candidate-keyed like [[prefixJaccardPairs]] — never a per-shingle
    * pair explosion. Returns DIRECTED pairs (id_a contained in id_b,
    * id_a != id_b) with the exact containment. */
  def prefixContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                             shingleN: Int = 3,
                             theta: Double = 0.8): DataFrame = {
    require(theta > 0 && theta <= 1, "theta in (0, 1]")
    // eager checkpoint (diamond sweep): FIVE consumers
    // below (df counts, ranking, candidate probe, both intersect legs,
    // sizes) each re-ran the corpus shingle explode without it
    // (measured 12 scans / 6 explodes in containment_join's executed
    // plan). Materializing the postings once is the operator's own
    // scale story — it is exactly the postings lake the incremental
    // variant keeps on disk; [[Materialize.corpus]] documents the
    // executor-loss trade and the reliable-checkpoint knob.
    val sh = Materialize.corpus(df.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("s")))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("__df"), col("s"))
    val ranked = sh.join(dfreq, "s")
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
    val prefix = ranked
      .filter(col("__rk") <= prefixLen(theta))
      .select(col("id").as("id_a"), col("s"))
    val cands = prefix
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = cands
      .join(sh.select(col("id").as("id_a"), col("s")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")),
        Seq("id_a"))
      .withColumn("containment",
        col("inter").cast("double") / col("n_a"))
      .filter(col("containment") >= theta)
      .select("id_a", "id_b", "containment")
  }

  /** Incremental DIRECTIONAL containment against a PERSISTED postings
    * index — [[prefixContainmentPairs]] for the corpus that arrives in
    * batches (the quote/aggregator cleanup is incremental by nature in
    * a crawl pipeline), under the [[bandIndexUpdate]] discipline: the
    * standing index NEVER shuffles — every probe is a scan plus a
    * broadcast hash join with a batch-/candidate-sized build — and
    * each update appends its own batch-sized postings.
    *
    * The one semantic change from the batch operator: shingles are
    * ranked by a FIXED universal order instead of live
    * document-frequency-ascending. The prefix completeness theorem
    * only needs SOME common total order; live df order is a batch-time
    * optimization that DRIFTS as the corpus grows — a prefix stored
    * under last month's df order is not a valid prefix under this
    * month's, silently breaking losslessness. The fixed order used
    * here is `(frozen df, stable hash, shingle)`: the FIRST update
    * snapshots its own document frequencies into a side table stored
    * with the index (`<index>/dford`, immutable thereafter), and every
    * ranking reads it — so the order is fixed forever AND hot shingles
    * known at bootstrap still sort LAST and stay out of every prefix,
    * keeping the PPJoin rarity property (a pure hash order is also
    * lossless but posts hot shingles into ~(1−θ) of prefixes: measured
    * 157 s vs 4 s batch on the 110k-doc universal-hot-shingle stress;
    * with the frozen-df order the stress runs at batch speed).
    * Shingles that EMERGE after bootstrap default to df 0
    * (rare → prefix-eligible — always safe for correctness; a shingle
    * that turns hot later degrades speed only, and a full re-rank
    * under a fresh snapshot is an offline rebuild, the standard
    * static-statistics trade). Stored ranks serve every future probe
    * at ANY θ (the prefix test `rk ≤ n − ⌈θn⌉ + 1` is evaluated
    * scan-side — θ is a probe parameter, not an index one).
    *
    * Returns the directed pairs DISCOVERED by this update — exact
    * containment ≥ θ where a new doc is the contained side, the
    * container side, or both. The cumulative union over updates equals
    * the batch operator over the full corpus EXACTLY (no cap caveats:
    * both are exact at θ; law-tested, and `containment_incremental`
    * shares the batch row's naive oracle). */
  def containmentIndexUpdate(indexPath: String, newDocs: DataFrame,
                             textCol: String, idCol: String,
                             shingleN: Int = 3,
                             theta: Double = 0.8,
                             maxBatchPostings: Long = 10000000L,
                             maxMatchedPostings: Long = 500000000L)
      : DataFrame = {
    require(theta > 0 && theta <= 1, "theta in (0, 1]")
    val postingsPath = s"$indexPath/postings"
    val dfordPath = s"$indexPath/dford"
    val pl = prefixLen(theta)
    val sh = newDocs.select(col(idCol).as("id"),
      explode(array_distinct(shingles(col(textCol), shingleN))).as("s"))
    // a new index freezes THIS batch's df as the order's first
    // component. Persisted: the same computed aggregate feeds the ranks
    // and the dford freeze, so a nondeterministic newDocs lineage
    // (sample, limit, uuid ids) cannot freeze an order that disagrees
    // with the ranks baked into the appended postings.
    val boot = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    StandingIndex.update(newDocs.sparkSession, Seq(postingsPath, dfordPath),
      new StandingIndex.Kind[Unit] {
        // per-shingle frozen df for the batch's vocabulary, probed
        // map-side by the batch's distinct shingles and broadcast;
        // shingles unseen at bootstrap default to df 0 (rare →
        // prefix-eligible, always lossless). On a new index the frozen
        // df IS this batch's df, so the in-memory frame stands in for a
        // read-back and semi-join (two jobs off every bootstrap). The
        // read passes the `(s, __df)` schema every freeze wrote instead
        // of inferring it from a footer.
        def rows(s: StandingIndex.Scope) = {
          val dford =
            if (s.exists) s.spark.read.schema(boot.schema).parquet(dfordPath)
              .join(broadcast(sh.select("s").distinct()), Seq("s"))
            else s.persist(boot)
          rankPostings(sh.join(broadcast(dford), Seq("s"), "left")
            .withColumn("__df", coalesce(col("__df"), lit(0L))))
        }
        // Fail-fast bound on the batch-side broadcasts: everything the
        // probe broadcasts (the batch's full ranked postings and its
        // per-doc shingle arrays) is batch-postings-sized, and a batch
        // too large for that should get a contract error, not a driver
        // OOM. The cap counts POSTINGS rows (docs × distinct shingles,
        // the unit that serializes; a 16.7k-doc fixture batch's
        // postings measured past Spark's 8 GiB broadcast limit). The
        // count is also the persist's materialization and the emptiness
        // gate, so an empty batch costs no separate scan of the batch
        // lineage. [[containmentIndexUpdateMany]] groups batches under
        // the same cap; it never relaxes it.
        def gate(s: StandingIndex.Scope, rows: DataFrame) = {
          val nPostings = StandingIndex.materialize(rows)
          if (nPostings > maxBatchPostings)
            throw new IllegalStateException(
              s"containmentIndexUpdate: ingest batch carries $nPostings " +
                s"postings (docs x distinct shingles) > maxBatchPostings=" +
                s"$maxBatchPostings — the probe broadcasts batch-sized " +
                s"frames by contract, and a batch this size would OOM " +
                s"the driver instead. Split the ingest batch (or raise " +
                s"the cap on a driver sized for it).")
          if (nPostings == 0L) None else Some(())
        }
        // EMPTY, not newDocs-shaped: a batch whose texts are all NULL
        // has no postings either (ShinglesExpr null-propagates, explode
        // drops the rows), and the contract is pairs at containment
        // >= theta, never (id, id, 0.0) self-pairs
        def noPairs(rows: DataFrame) =
          newDocs.limit(0).select(col(idCol).as("id_a"),
            col(idCol).as("id_b"), lit(0.0).as("containment"))
        // ONE lake scan serves the candidates AND the verify (on the
        // fresh-sf10 ladder per-update cost fit 4.3 s + 9.8 s/100k lake
        // docs, the linear term tracking the number of lake scans).
        // Every lake row either pass uses has its shingle inside the
        // BATCH'S VOCABULARY:
        //   - candidates new-contained-in-old: the new doc's prefix
        //     against ANY old posting (the old doc's matching token may
        //     sit anywhere in its order), so lake rows with s in the
        //     batch PREFIX vocab;
        //   - candidates old-contained-in-new: the old prefix against
        //     ANY batch posting, so lake PREFIX rows with s in the batch
        //     vocab;
        //   - the verify: candidate docs' postings restricted to the
        //     batch vocab (out-of-vocab shingles cannot change |A ∩ B|,
        //     every intersect meets a batch-doc array, and the
        //     denominator is the STORED __n).
        // So the slice is lake ⨝ broadcast(vocab), each row tagged with
        // whether its shingle is in the batch's prefix vocab (__pref0)
        // and whether it sits in its own doc's prefix at θ (__lpref). A
        // universal shingle contributes at most one row per lake doc:
        // linear in lake docs, never pair-quadratic. Every append wrote
        // the batch rows' schema, so the read passes it.
        def slice(s: StandingIndex.Scope, rows: DataFrame, g: Unit) = {
          val vocab = rows.groupBy("s")
            .agg(max(when(col("__rk") <= pl, 1).otherwise(0)).as("__pref0"))
          s.spark.read.schema(rows.schema).parquet(postingsPath)
            .join(broadcast(vocab), Seq("s"))
            .select(col("s"), col("id").as("__lid"), col("__pref0"),
              (col("__rk") <= pl).as("__lpref"), col("__n").as("__ln"))
        }
        def probe(rows: DataFrame, g: Unit,
                  slice: Option[StandingIndex.Slice]) = {
          // `matched` is vocab-RESTRICTED, not vocab-bounded: a batch
          // whose vocab covers the lake (concatenated corpus samples)
          // makes it approach the lake's postings, and a named contract
          // error beats a silent executor-storage blowup. The count is
          // the slice's materialization, so the cap costs no lake scan.
          slice.foreach { m =>
            if (m.count > maxMatchedPostings)
              throw new IllegalStateException(
                s"containmentIndexUpdate: the batch's vocabulary matches " +
                  s"${m.count} lake postings > maxMatchedPostings=" +
                  s"$maxMatchedPostings — the one-scan probe frame would " +
                  s"approach lake size in executor storage. The batch's " +
                  s"vocab covers too much of the lake (concatenated / " +
                  s"corpus-sampled ingest?); split the batch, or raise the " +
                  s"cap on a cluster whose aggregate storage is sized for " +
                  s"a lake-scale cache.")
          }
          val matched = slice.map(_.df)
          val bpref = col("__rk") <= pl
          // Prefix candidates, then a per-doc ARRAY-INTERSECT verify.
          // Prefix candidates stay lossless at θ and keep hot shingles
          // out (an unrestricted co-occurrence aggregation meets one
          // universal shingle |lake|×|batch| times).
          // ONE broadcast probe of the batch's full postings, tagged by
          // prefix membership (__bpref), serves every candidate
          // direction. Its stream side is the lake rows either direction
          // can use plus the batch's own PREFIX postings, which pair
          // batch docs with each other (`__nn`, contained side on the
          // stream side, never a doc with itself). Per joined lake row
          // the new-contained direction needs the BATCH posting in its
          // doc's prefix and the old-contained direction the LAKE row in
          // its doc's prefix, folded into per-pair flags by the one
          // aggregation. A new index has only the batch rows.
          val nn = rows.filter(bpref).select(col("s"), col("id").as("__lid"),
            lit(true).as("__lpref"), lit(true).as("__nn"))
          val cand = matched
            .fold(nn)(_.filter(col("__pref0") === 1 || col("__lpref"))
              .select(col("s"), col("__lid"), col("__lpref"),
                lit(false).as("__nn"))
              .unionByName(nn))
            .join(broadcast(rows.select(col("s"), col("id").as("__bid"),
              bpref.as("__bpref"))), Seq("s"))
            .filter((col("__bpref") && !col("__nn")) || col("__lpref"))
            .filter(!(col("__nn") && col("__bid") === col("__lid")))
            .groupBy(col("__bid"), col("__lid"), col("__nn"))
            .agg(max(col("__bpref") && !col("__nn")).as("__d0"),
              max(col("__lpref")).as("__d1"))
          // per-doc sorted distinct-shingle arrays, raw shingle strings,
          // not hashes (exactness is the contract): every batch doc, and
          // the lake docs some candidate pair names, restricted to the
          // batch vocab. The verify intersects two docs' arrays, so
          // nothing pair-expanded is built: verifying through
          // pair-expanded broadcasts measured 0.5M candidate pairs per
          // direction from a 1.67k-doc batch at a 42k-doc lake on the
          // fresh-sf10 ladder, a 32M-row broadcast and 58 s per
          // direction, where this form takes 2-15 s per update.
          val batchDocs = rows.select(col("id").as("__doc"), col("s"),
            col("__n").as("__dn"), lit(true).as("__nn"))
          val arrays = matched
            .fold(batchDocs)(_.select(col("__lid").as("__doc"), col("s"),
                col("__ln").as("__dn"), lit(false).as("__nn"))
              .join(broadcast(cand.filter(!col("__nn"))
                .select(col("__lid").as("__doc")).distinct()), Seq("__doc"))
              .unionByName(batchDocs))
            .groupBy(col("__doc"), col("__nn"))
            .agg(sort_array(collect_list(col("s"))).as("__arr"),
              first(col("__dn")).as("__dn"))
          // one array_intersect per (batch doc, other doc) pair scores
          // BOTH directions: |A ∩ B| is symmetric, only the denominator
          // (the contained side's stored n) differs. The other side's
          // join comes first, so whatever it shuffles carries no
          // broadcast batch array.
          val scored = cand
            .join(arrays.select(col("__doc").as("__lid"), col("__nn"),
              col("__arr").as("__oarr"), col("__dn").as("__on")),
              Seq("__lid", "__nn"))
            .join(broadcast(arrays.filter(col("__nn")).select(
              col("__doc").as("__bid"), col("__arr").as("__barr"),
              col("__dn").as("__bn"))), Seq("__bid"))
            .withColumn("__isz",
              size(array_intersect(col("__barr"), col("__oarr")))
                .cast("double"))
          scored.select(explode(array(
              when(col("__d0"), struct(col("__bid").as("id_a"),
                col("__lid").as("id_b"),
                (col("__isz") / col("__bn")).as("containment"))),
              when(col("__d1"), struct(col("__lid").as("id_a"),
                col("__bid").as("id_b"),
                (col("__isz") / col("__on")).as("containment")))))
              .as("__p"))
            .filter(col("__p").isNotNull)
            .select(col("__p.id_a"), col("__p.id_b"), col("__p.containment"))
            .filter(col("containment") >= theta)
        }
        // a new index freezes its order with its first postings: a
        // crash between the two writes leaves no postings, so the retry
        // freezes again (overwrite)
        def append(s: StandingIndex.Scope, rows: DataFrame) = {
          if (!s.exists) boot.write.mode("overwrite").parquet(dfordPath)
          rows.write.mode("append").parquet(postingsPath)
        }
      })
  }

  /** Micro-batch grouping for the containment index — the documented
    * 100-TB answer to the update's one linear term:
    * each [[containmentIndexUpdate]] pays ONE full lake scan
    * (~2.7 s/100k lake docs measured on the fresh-sf10 ladder), so at
    * streaming cadence the scans dominate long before the batch-side
    * work does. Grouping k ARRIVED batches into one update amortizes
    * that scan k× — at a lake L with per-batch cost `aL + b`,
    * sequential cost is `k(aL + b)` vs grouped `aL + kb'`.
    *
    * Semantics are exact, not approximate: the pair space partitions
    * identically either way. update(b₁ ∪ … ∪ bₖ) discovers precisely
    * the pairs the k sequential updates discover — lake↔new pairs
    * from the probe's lake rows, and every within-group and
    * cross-group new↔new pair from its batch rows (sequential runs
    * split those across updates; the union is the same set) — so the
    * cumulative union over ANY grouping of the same arrival stream
    * equals the one-shot [[prefixContainmentPairs]] over the full
    * corpus.
    * Law-tested against the same naive all-pairs oracle as the
    * per-batch row (group-of-1 ≡ [[containmentIndexUpdate]]).
    *
    * The `maxBatchPostings` cap applies to the UNION — the grouped
    * batch is what broadcasts — so the cap is exactly what bounds k:
    * group as many batches as fit under it, never more. Batches must
    * share the new-docs schema. A doc id shared by TWO grouped batches
    * FAILS FAST: sequential updates would treat the
    * second arrival as a fresh doc probed against a lake that already
    * holds the first, while the grouped union merges both into one
    * postings set — silently violating the grouping==sequential law
    * this operator is built on. The same id across separate
    * [[containmentIndexUpdate]] calls keeps its documented
    * re-ingestion semantics; only the grouped shortcut is ill-defined
    * and only it throws. */
  def containmentIndexUpdateMany(indexPath: String,
                                 batches: Seq[DataFrame],
                                 textCol: String, idCol: String,
                                 shingleN: Int = 3,
                                 theta: Double = 0.8,
                                 maxBatchPostings: Long = 10000000L,
                                 maxMatchedPostings: Long = 500000000L)
      : DataFrame = {
    require(batches.nonEmpty, "containmentIndexUpdateMany: no batches")
    if (batches.length > 1) {
      // batch-sized work (k ingest-batch distincts + one tiny agg) —
      // the group's batches are ingest-sized by the postings cap, so
      // this precondition check never touches the lake
      val colliding = batches.zipWithIndex
        .map { case (b, i) =>
          b.select(col(idCol).as("id")).distinct()
            .withColumn("__batch", lit(i)) }
        .reduce(_.unionByName(_))
        .groupBy("id").agg(count(lit(1)).as("__nb"))
        .filter(col("__nb") > 1)
        .select("id").limit(10).collect().map(_.get(0))
      if (colliding.nonEmpty)
        throw new IllegalArgumentException(
          s"containmentIndexUpdateMany: doc id(s) " +
            s"[${colliding.mkString(", ")}] appear in more than one " +
            s"grouped batch — the grouped union would merge their " +
            s"postings into one doc, silently diverging from the " +
            s"sequential updates this grouping stands in for. Feed " +
            s"re-ingested ids through separate containmentIndexUpdate " +
            s"calls instead.")
    }
    val union = batches.map(_.select(col(idCol), col(textCol)))
      .reduce(_.unionByName(_))
    containmentIndexUpdate(indexPath, union, textCol, idCol, shingleN,
      theta, maxBatchPostings, maxMatchedPostings)
  }

  /** Maintenance for the persisted containment index. Every
    * [[containmentIndexUpdate]] appends its own part files to
    * `postings/` and reads the lake once, so at streaming cadence the
    * read turns LISTING-bound long before it turns byte-bound:
    * measured on the fresh-sf10 ladder, per-update cost grew 4.5 →
    * ~25 s by update 24 (768 accumulated part files, ~50 MB of actual
    * bytes), tracking file count, not data. Compaction is
    * row-content-preserving, and the postings' stored frozen-df ranks
    * (`__rk`, `__n`) ride the rows, so probes before and after answer
    * identically (spec + shared oracle); the bootstrap-frozen `dford/`
    * table is rewritten the same way. Crash-safe swap throughout
    * ([[graft.sinks.Sinks.compact]]). Run off the update path. */
  def containmentIndexCompact(spark: org.apache.spark.sql.SparkSession,
                              indexPath: String,
                              targetBytes: Long = 128L << 20)
      : graft.sinks.Sinks.CompactionStats =
    StandingIndex.compact(spark,
      Seq(s"$indexPath/postings", s"$indexPath/dford"), targetBytes)

  // ---------------- embedding near-dup ----------------

  /** Near-duplicate pairs by embedding cosine within LSH buckets (see
    * [[Similarity.hyperplaneBucket]]): candidates share a sign-LSH
    * bucket, exact cosine confirms. Never all-pairs. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        planes: Int = 8, minCos: Double = 0.95,
                        maxBucketSize: Int = 10000): DataFrame = {
    val b0 = df.select(col(idCol).as("id"),
      Similarity.hyperplaneBucket(col(vecCol), planes).as("bucket"),
      col(vecCol).as("v"))
    // same hot-bucket guard as minhashCandidates: quadratic pair growth
    // inside one bucket is the scale killer, not total corpus size
    val keep = b0.groupBy("bucket").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize).select("bucket")
    bucketCosPairs(b0.join(broadcast(keep), Seq("bucket")), minCos)
  }

  /** Pairs of `(bucket, id, v)` rows sharing a bucket at cosine ≥
    * `minCos`: `id_a < id_b`, `cos`. */
  private def bucketCosPairs(b: DataFrame, minCos: Double): DataFrame = {
    val l = b.select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val r = b.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Incremental embedding near-dup against a PERSISTED sign-LSH
    * bucket index — the embedding spelling of [[bandIndexUpdate]]'s
    * continuous-crawl discipline: the corpus's `(id, bucket, vector)`
    * rows live in a parquet lake PARTITIONED BY bucket, and each new
    * batch (a) finds its near-dup pairs against the index with the
    * index scan PARTITION-PRUNED to the batch's own buckets (≤ 2^planes
    * cell ids, collected driver-side — a vector has exactly ONE bucket,
    * so the probe reads only the cells the batch touches) and the batch
    * side broadcast (ingest-batch-sized by the streaming contract,
    * never the corpus), and (b) appends its own rows, so per-update
    * cost is O(touched cells + batch), never a corpus re-hash.
    *
    * Returns the pairs DISCOVERED by this update (index↔batch plus
    * within-batch, exact cosine ≥ `minCos`, `id_a < id_b`); a pair is
    * discovered exactly once (in the update that completes it), so the
    * cumulative union over updates equals [[embeddingNearDups]] over
    * the full corpus whenever no bucket ever exceeds `maxBucketSize`
    * (the cap counts the TOTAL bucket — matched index rows + batch —
    * the same population the one-shot operator caps on). The returned
    * frame is MATERIALIZED before the index append, so the join never
    * sees the batch's own rows. The update runs the [[StandingIndex]]
    * lifecycle, which first recovers an interrupted compaction or
    * rebuild. Maintenance: [[embeddingIndexCompact]].
    *
    * Cf. reference dataplane cross-snapshot dedup (provider-agnostic
    * half), here banded by sign-LSH over the embedding column. */
  def embeddingIndexUpdate(indexPath: String, batch: DataFrame,
                           vecCol: String, idCol: String,
                           planes: Int = 8, minCos: Double = 0.95,
                           maxBucketSize: Int = 10000): DataFrame = {
    // 20, not 30: the batch's distinct cell ids are collected into a
    // driver IN-list (that literal list is what partition-prunes the
    // index scan) — 2^20 ints is the most a driver should ever hold
    // for a pruning predicate; past that the cell space is so fine
    // that near-dups rarely share a cell anyway
    require(planes >= 1 && planes <= 20,
      s"planes must be in [1, 20] (cell ids become a driver-side " +
        s"pruning IN-list, ≤ 2^planes entries): $planes")
    StandingIndex.update(batch.sparkSession, Seq(indexPath),
      new StandingIndex.Kind[Array[(Int, Long)]] {
        def rows(s: StandingIndex.Scope) = batch.select(col(idCol).as("id"),
          Similarity.hyperplaneBucket(col(vecCol), planes).cast("int")
            .as("bucket"),
          col(vecCol).as("v"))
        // ONE aggregation yields the cell set (≤ 2^planes ints, the
        // literal IN-list that prunes the index scan) AND the cap's
        // batch-side bucket sizes, one extra long per cell
        def gate(s: StandingIndex.Scope, rows: DataFrame) = {
          import s.spark.implicits._
          val sizes = rows.groupBy("bucket").agg(count(lit(1)).as("__bn"))
            .as[(Int, Long)].collect()
          if (sizes.isEmpty) None else Some(sizes)
        }
        def noPairs(rows: DataFrame) = rows.select(col("id").as("id_a"),
          col("id").as("id_b"), lit(0.0).as("cos"))
        def slice(s: StandingIndex.Scope, rows: DataFrame,
                  sizes: Array[(Int, Long)]) =
          embeddingIndexScan(s.spark, indexPath, sizes.map(_._1).sorted.toSeq)
        def probe(rows: DataFrame, sizes: Array[(Int, Long)],
                  slice: Option[StandingIndex.Slice]) = {
          val spark = rows.sparkSession
          import spark.implicits._
          val idx = slice.fold(rows.limit(0))(_.df)
          // batch sizes re-enter as a driver-local relation, so the
          // cap join's batch side costs no second shuffle
          val batchSizes = sizes.toSeq.toDF("bucket", "__bn")
          // The incremental == one-shot law holds only while NO bucket
          // ever exceeds the cap: earlier updates have already emitted
          // (unretractable) pairs a one-shot over the grown corpus
          // would drop, so a crossing fails fast with the cells, so the
          // caller can raise the cap and rebuild, rather than return a
          // silently diverged answer
          val overCap = StandingIndex.bucketTotals(batchSizes, idx,
              Seq("bucket"))
            .filter(col("__tot") > maxBucketSize)
            .select("bucket", "__tot").limit(10).collect()
          if (overCap.nonEmpty)
            throw new IllegalStateException(
              s"embeddingIndexUpdate: bucket(s) exceed maxBucketSize=" +
                s"$maxBucketSize — the incremental==one-shot equivalence " +
                s"contract cannot hold once a bucket crosses the cap " +
                s"(earlier updates' emitted pairs are not retractable). " +
                s"Recover with Dedup.embeddingIndexRebuild(spark, " +
                s"indexPath, planes, minCos, raisedCap) — it re-buckets " +
                s"the lake " +
                s"(planes may change), swaps it in crash-safely, and " +
                s"returns the full pair set at the new parameters. " +
                s"First cells: " +
                overCap.map(r => s"${r.get(0)}(n=${r.get(1)})").mkString(", "))
          val cross = idx
            .join(broadcast(rows.select(col("bucket"),
              col("id").as("__new_id"), col("v").as("__new_v"))),
              Seq("bucket"))
            .filter(col("id") =!= col("__new_id"))
            .withColumn("cos", Similarity.cosine(col("v"), col("__new_v")))
            .filter(col("cos") >= minCos)
            .select(least(col("id"), col("__new_id")).as("id_a"),
              greatest(col("id"), col("__new_id")).as("id_b"), col("cos"))
          // a pair lands in exactly one of cross/within (one bucket per
          // vector, one discovering update): union, no dedup needed
          cross.unionByName(bucketCosPairs(rows, minCos))
        }
        def append(s: StandingIndex.Scope, rows: DataFrame) =
          StandingIndex.appendCells(rows, "bucket", indexPath)
      })
  }

  /** The update's index-side read: PARTITION-PRUNED to the probed cell
    * ids (spec-asserted `PartitionFilters` — the reason the lake is
    * partitioned by bucket at all). */
  private[functions] def embeddingIndexScan(spark: SparkSession,
      indexPath: String, cells: Seq[Int]): DataFrame =
    StandingIndex.readCells(spark, indexPath, "bucket", cells)

  /** Maintenance for the persisted embedding bucket index: per-cell
    * compaction via the crash-safe two-phase swap, KEEPING the
    * `bucket=<cell>/` layout so [[embeddingIndexUpdate]] probes stay
    * partition-pruned and answer identically before and after. */
  def embeddingIndexCompact(spark: SparkSession, indexPath: String)
      : graft.sinks.Sinks.CompactionStats =
    StandingIndex.compact(spark, Seq(indexPath),
      partitionCols = Seq("bucket"))

  /** Offline REBUILD of the persisted embedding bucket index at new
    * parameters — the entry point the [[embeddingIndexUpdate]]
    * over-cap exception sends callers to. A cap crossing is an
    * irreconcilable break for the INCREMENTAL contract (earlier
    * updates' pairs are unretractable), so the recovery is: re-bucket
    * the whole lake at the new `planes`, swap it in crash-safely, and
    * return the FULL pair set at the new parameters computed by the
    * one-shot [[embeddingNearDups]] — a bucket-keyed shuffle join over
    * the corpus, never a corpus broadcast (rebuild is the one place the
    * corpus may shuffle; it runs off the update path, like
    * compaction). After the swap, incremental updates resume against
    * the rebuilt lake at the raised cap.
    *
    * Law (spec-tested): the returned pairs equal a FRESH incremental
    * run over the same arrival stream at the new parameters — both
    * equal the one-shot operator over the full corpus. Vectors are
    * re-bucketed from the stored `v` column, so `planes` may change;
    * the [[StandingIndex.rebuild]] directory swap leaves either the
    * old lake or the new one on any crash, and recovers a previous
    * crash on entry. The staged write spreads the new cells over the
    * cluster like the update's append (without it one task wrote every
    * `bucket=` dir serially, measured 21.5 s of a 31 s rebuild).
    *
    * Cadence (measured on a fresh-sf10 ladder):
    * rebuild wall grows linearly with the lake past a fixed
    * intercept — ~21 s at 40k vectors, ~55 s at 168k (park-free
    * minima; one rebuild ≈ 2-4 incremental updates' wall at 8k-vector
    * batches) — and post-rebuild updates stay on the pair trajectory.
    * Run it only on plane change / over-cap recovery, never as
    * routine maintenance (that is compaction's job). */
  def embeddingIndexRebuild(spark: SparkSession, indexPath: String,
                            planes: Int = 8, minCos: Double = 0.95,
                            maxBucketSize: Int = 10000): DataFrame = {
    require(planes >= 1 && planes <= 20,
      s"planes must be in [1, 20]: $planes")
    def lake = spark.read.option("basePath", indexPath).parquet(indexPath)
    StandingIndex.rebuild(spark, indexPath)(_ => Seq(tmp =>
      StandingIndex.appendCells(lake.select(col("id"),
          Similarity.hyperplaneBucket(col("v"), planes).cast("int")
            .as("bucket"),
          col("v")),
        "bucket", tmp)))
    embeddingNearDups(lake.select(col("id"), col("v")),
      "v", "id", planes, minCos, maxBucketSize)
  }

  /** Offline REBUILD of the containment index's shingle ORDER under a
    * fresh document-frequency snapshot — the "full re-rank under a
    * fresh snapshot is an offline rebuild" escape hatch
    * [[containmentIndexUpdate]]'s scaladoc promises for shingles that
    * turn hot AFTER bootstrap (they default to frozen-df 0 → rare →
    * they land in every prefix, degrading probe speed; correctness
    * never degrades — every probe is prefix-vs-FULL, lossless under
    * ANY order). Recomputes df over the CURRENT corpus from the
    * postings themselves (texts not needed), re-ranks every doc under
    * the fresh `(df, stable hash, shingle)` order, and swaps both
    * `dford/` and `postings/` in crash-safely, each by a
    * [[StandingIndex.rebuild]] directory swap. A crash
    * between the two swaps leaves a new dford with old postings —
    * safe: order affects prefix SELECTION speed only, and the next
    * rebuild completes it. Probes answer identically before and
    * after (law-tested). Corpus-scale shuffle by design — run it
    * off the update path, at compaction cadence. */
  def containmentIndexRebuild(spark: SparkSession,
                              indexPath: String): Unit = {
    val postingsPath = s"$indexPath/postings"
    val dfordPath = s"$indexPath/dford"
    StandingIndex.rebuild(spark, dfordPath, postingsPath) { s =>
      val postings = s.persist(
        spark.read.parquet(postingsPath).select("id", "s"))
      val freshDf = postings.groupBy("s").agg(count(lit(1)).as("__df"))
      Seq(freshDf.write.parquet,
        rankPostings(postings.join(freshDf, Seq("s"))).write.parquet)
    }
  }

  /** Rank each doc's postings `(id, s, __df)` under the containment
    * index's fixed order `(df, stable hash, shingle)`: adds `__rk` and
    * the doc's posting count `__n`, drops `__df`. */
  private def rankPostings(p: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    p.withColumn("__rk", row_number().over(
        W.partitionBy("id").orderBy(col("__df"),
          Hashing.hex8ToLong(col("s")), col("s"))))
      .withColumn("__n", count(lit(1)).over(W.partitionBy("id")))
      .drop("__df")
  }

  // ---------------- benchmark decontamination ----------------

  /** Test-set decontamination: flag training documents that share any
    * word n-gram with a benchmark/eval corpus — the overlap scrub from
    * the public LLM training literature (GPT-3 App. C / PaLM-style
    * 13-gram collision checks; n is a parameter because fixture docs
    * are shorter than web pages). The benchmark side is small by
    * nature, so its distinct shingles BROADCAST and the training
    * corpus is scanned ONCE with a broadcast hash join on the shingle
    * — no corpus shuffle, the 100-TB shape. Returns (doc_id, n_hits =
    * distinct colliding n-grams); clean docs are absent. */
  def contamination(train: DataFrame, bench: DataFrame, textCol: String,
                    idCol: String, n: Int = 5): DataFrame = {
    val trainSh = train.select(col(idCol),
      explode(array_distinct(shingles(col(textCol), n))).as("__sh"))
    val benchSh = bench
      .select(explode(shingles(col(textCol), n)).as("__sh")).distinct()
    trainSh.join(broadcast(benchSh), Seq("__sh"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
  }

  // ---------------- duplicate-cluster resolution ----------------

  /** Connected components over candidate duplicate pairs: the step
    * between pair generation (minhashCandidatePairs, embeddingNearDups)
    * and the keep/drop decision — pairs (A,B),(B,C) must resolve to ONE
    * cluster {A,B,C} with one canonical survivor, or transitive
    * duplicates survive in pieces.
    *
    * Iterative min-label propagation: every node starts as its own
    * label; each round every node takes the min of its own and its
    * neighbors' labels; fixpoint in O(component diameter) rounds — and
    * dedup clusters are shallow (LSH pairs within a bucket, so near-
    * clique components converge in 2-3 rounds). Each round is one
    * shuffle keyed by node id: balanced, no driver state, the classic
    * large-scale CC shape (the star-contraction refinements in the
    * literature cut rounds for pathological chain graphs; plain
    * propagation is the right trade for shallow dup clusters).
    * Early-exits when a round changes nothing (label sum is strictly
    * decreasing until fixpoint). localCheckpoint truncates the
    * iterative lineage — on a cluster with reliable storage, swap for
    * `checkpoint` against a checkpoint dir.
    *
    * Returns (node, cluster_id) — cluster_id = min node id reachable.
    * Isolated docs (no pairs) are not rows here; callers keep them all.
    */
  def connectedComponents(pairs: DataFrame, leftCol: String,
                          rightCol: String, maxIter: Int = 30): DataFrame = {
    // materialize the symmetric edge list ONCE: the fixpoint loop joins
    // against it every round, and `pairs` is typically the tail of an
    // expensive candidate pipeline (MinHash banding, LSH buckets) that
    // would otherwise re-execute per iteration
    val sym = pairs.select(col(leftCol).as("src"), col(rightCol).as("dst"))
      .union(pairs.select(col(rightCol).as("src"), col(leftCol).as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head.getDecimal(0)
    var prev = labelSum(labels)
    // no pairs at all -> no clustered nodes; sum over the empty frame is
    // NULL, so exit before the fixpoint loop dereferences it
    if (prev == null) return labels.select(col("node"), col("lbl").as("cluster_id"))
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = sym.join(labels, col("dst") === col("node"))
        .select(col("src").as("node"), col("lbl"))
        .union(labels.select(col("node"), col("lbl")))
        .groupBy("node").agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val s = labelSum(next)
      done = s.compareTo(prev) == 0
      prev = s
      labels = next
      iter += 1
    }
    labels.select(col("node"), col("lbl").as("cluster_id"))
  }

  /** Keep/drop decision per clustered doc: canonical = min id. */
  def resolveClusters(pairs: DataFrame, leftCol: String,
                      rightCol: String): DataFrame =
    connectedComponents(pairs, leftCol, rightCol)
      .select(col("node").as("doc_id"), col("cluster_id"),
        (col("node") === col("cluster_id")).as("is_canonical"))

  /** The full corpus-dedup decision, end to end: candidate `pairs`
    * (from [[minhashCandidates]], [[embeddingNearDups]], …) resolve to
    * transitive clusters, every doc gets its cluster id (its own id
    * when unpaired — isolated docs always survive), canonical = min id
    * per cluster. One broadcast-or-shuffle left join of the tiny
    * clustered-node set against the corpus ids; the corpus itself is
    * never re-shuffled beyond that join. */
  def canonicalize(docs: DataFrame, pairs: DataFrame,
                   idCol: String, leftCol: String = "id_a",
                   rightCol: String = "id_b"): DataFrame = {
    val cc = connectedComponents(pairs, leftCol, rightCol)
    docs.select(col(idCol))
      .join(cc, col(idCol) === col("node"), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  // ---------------- semantic dedup ----------------

  /** SemDeDup-style semantic deduplication (the public recipe: cluster
    * embeddings, compare only WITHIN-cluster pairs by exact cosine,
    * drop every vector with a more-canonical — lower-id — near-twin in
    * its cell). Cell assignment is [[Similarity.ivfAssign]]: a pure
    * projection over driver-literal centroids, zero corpus shuffle.
    * Within-cell pairing is the design's whole point — a balanced fit
    * bounds each cell at ~corpus/k vectors, so the quadratic pair term
    * scales with CELL size, never corpus size; size k with the corpus.
    * The same hot-cell guard as [[embeddingNearDups]] drops degenerate
    * cells (a collapsed fit) instead of letting one cell go quadratic
    * in the corpus. Returns every vector with its cell and the keep
    * verdict — including NULL-id and duplicate-id rows (the assign is
    * a pure projection; nothing joins on the id). EAGER by contract:
    * the assignment table materializes at call time (no streaming
    * inputs — [[Materialize]] has the durability policy). */
  def semanticDedup(df: DataFrame, centroids: DataFrame, vecCol: String,
                    idCol: String, minCos: Double,
                    maxCellSize: Int = 100000): DataFrame = {
    // eager checkpoint (scan census): the assignment table feeds
    // the cell-size model, both self-join legs and the final verdict —
    // without materialization each consumer re-ran the IVF assign over
    // the corpus (9 scans measured). The (id, centroid, vector) table
    // is what a real semantic-dedup pipeline persists between the
    // assign and pair phases. The vector CARRIES through the assign
    // projection: the previous spelling joined the assign
    // back to df on idCol, which silently dropped NULL-id rows and
    // multiplied duplicate ids — "returns every vector" is the
    // contract, and a pure projection keeps it by construction.
    val withV = Materialize.corpus(
      Similarity.ivfAssign(df, centroids, vecCol, idCol,
          carryCols = Seq(vecCol))
        .select(col(idCol), col("centroid_id"), col(vecCol)))
    val assign = withV.select(col(idCol), col("centroid_id"))
    val fits = withV.groupBy("centroid_id").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxCellSize).select("centroid_id")
    val cell = withV.join(broadcast(fits), Seq("centroid_id"))
    val l = cell.select(col("centroid_id"), col(idCol).as("id_a"),
      col(vecCol).as("__va"))
    val r = cell.select(col("centroid_id"), col(idCol).as("id_b"),
      col(vecCol).as("__vb"))
    val dropped = l.join(r, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= minCos)
      .select(col("id_b").as("__dup")).distinct()
    assign.join(dropped, col(idCol) === col("__dup"), "left")
      .select(col(idCol), col("centroid_id"),
        col("__dup").isNull.as("kept"))
  }
}
