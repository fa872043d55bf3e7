package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  *   - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *     Queries broadcast against the corpus, so the corpus is never
  *     shuffled; scales to any corpus size for small query sets.
  *   - [[lshTopK]]: sign-random-projection LSH — the scale path. Corpus
  *     and queries bucket by hyperplane signs; only co-bucketed pairs are
  *     scored. Bucket count grows 2^planes, bounding each join group.
  *
  * All arithmetic is double, accumulated left-to-right (deterministic).
  * Hyperplanes derive from md5 (seeded), not an RNG — reproducible
  * across runs, engines and languages.
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast(DoubleType))

  /** Tag a provably-non-null expression so the optimizer skips
    * join-key isnotnull filters that would duplicate it. */
  private def notNull(c: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(
        org.apache.spark.sql.graft.bridge.expression(c)))

  /** Native codegen dot product ([[org.apache.spark.sql.graft.DotProductExpr]]).
    * Value-identical to the old `aggregate(zip_with(...))` spelling
    * (same element widening, same left-to-right IEEE accumulation) but
    * stays inside whole-stage codegen — the HOF spelling interprets
    * two lambda chains per evaluation, the measured bottleneck on
    * candidate-pair volumes (156M pairs: 408s interpreted vs the
    * primitive loop; Stress case 6). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      org.apache.spark.sql.graft.DotProductExpr(
        org.apache.spark.sql.graft.bridge.expression(a),
        org.apache.spark.sql.graft.bridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** A value in [-1, 1) derived from `key`'s md5 prefix:
    * `hex8(key) % 2000 / 1000.0 - 1`. */
  private def unitComponent(key: String): Double =
    (Hashing.hex8ToLongJvm(key) % 2000L).toDouble / 1000.0 - 1.0

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * md5-derived, seeded by (plane, dim). Computed on the DRIVER and
    * embedded as literals — the values are a pure function of the seed,
    * so per-row recomputation would be pure waste (and measured as the
    * dominant cost of LSH bucketing). Identical to the SQL spelling
    * `('0x'||substr(md5('hp<j>_<d>'),1,8))::BIGINT % 2000 / 1000.0 - 1`. */
  def planeComponent(plane: Int, dim: Int): Double =
    unitComponent(s"hp${plane}_$dim")

  /** Sign bucket from `planes` hyperplanes over `dims` dimensions:
    * bit j = sign(v · plane_j). Planes are literal arrays; the work per
    * row is exactly planes*dims multiply-adds inside codegen. */
  def hyperplaneBucket(v: Column, planes: Int, dims: Int = 64): Column = {
    val d = toDouble(v)
    val bits = (0 until planes).map { j =>
      val comp = array((0 until dims).map(i => lit(planeComponent(j, i))): _*)
      val dp = aggregate(zip_with(d, comp, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
      when(dp >= 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-vector int8 scalar quantization (SQ8) for embedding storage:
    * codes in [0,255] plus (lo, scale) reconstruction params — 4× less
    * vector I/O than float32, the standard disk-ANN companion to IVF
    * (probe cells on codes, re-rank survivors at full precision). Pure
    * projection: zero shuffle, zero UDF, all inside codegen. Constant
    * vectors (hi == lo) quantize to code 0 with scale 0 and reconstruct
    * exactly. Codes stay `array<int>` here so verification is
    * engine-portable; a production layout packs them 1 byte each. */
  def quantizeInt8(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    val lo = array_min(v)
    val scale = (array_max(v) - lo) / lit(255.0)
    df.select(col(idCol),
      when(scale === 0.0, transform(v, _ => lit(0)))
        .otherwise(transform(v, x => round((x - lo) / scale, 0).cast("int")))
        .as("codes"),
      lo.as("q_lo"), scale.as("q_scale"))
  }

  /** Reconstruct the (lossy) double vector from SQ8 codes. */
  def dequantInt8(codes: Column, lo: Column, scale: Column): Column =
    transform(codes, c => lo + c.cast(DoubleType) * scale)

  /** Rank a `(query_id, neighbor_id, score)` candidate frame to the
    * per-query top `k` via the native bounded-heap aggregate
    * ([[org.apache.spark.sql.graft.TopKExpr]]). The window spelling
    * (`row_number() OVER (... ORDER BY score DESC)`) shuffles and
    * SORTS every candidate; the aggregate keeps k entries per query
    * per map task and ships only those — at ANN candidate volumes
    * (100 queries x 500k corpus = 50M pairs) that is the difference
    * between sorting 50M rows and merging 100*k*tasks heap entries
    * (measured: pqTopK 13.1s -> 8.2s on the Stress case; the scoring
    * projection dominates what remains). Ordering (score DESC,
    * neighbor ASC) is identical to the window spelling, so results
    * stay bit-identical under every oracle. */
  private[functions] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.graft.{bridge, TopKExpr}
    val agg = bridge.column(TopKExpr(
      bridge.expression(col("score")),
      bridge.expression(col("neighbor_id").cast(LongType)),
      k).toAggregateExpression())
    scored.groupBy(col("query_id")).agg(agg.as("__top"))
      .select(col("query_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), col("__e.id").as("neighbor_id"),
        col("__e.score").as("score"),
        (col("__pos") + 1).cast(IntegerType).as("rank"))
  }

  /** Matryoshka coarse-to-fine retrieval (Kusupati et al. 2022): rank
    * with the embedding's FIRST `shortDims` dimensions (a prefix of an
    * MRL-trained vector is itself a valid embedding — at lake scale
    * the prefix lives in its own column/file, so the coarse pass reads
    * shortDims/d of the bytes), keep `kCoarse` per query, then
    * exact-rescore only that shortlist with the full vector. The
    * full-dimension work drops from |corpus| to kCoarse rows per
    * query. */
  def matryoshkaTopK(queries: DataFrame, corpus: DataFrame,
                     vecCol: String, idCol: String, shortDims: Int,
                     kCoarse: Int, k: Int): DataFrame = {
    val sq = queries.select(col(idCol), slice(col(vecCol), 1, shortDims).as(vecCol))
    val sc = corpus.select(col(idCol), slice(col(vecCol), 1, shortDims).as(vecCol))
    val coarse = bruteForceTopK(sq, sc, vecCol, idCol, kCoarse)
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val rescored = coarse.select("query_id", "neighbor_id")
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("score", round(cosine(col("__qv"), col("__cv")), 6))
    rankTopK(rescored.select(col("query_id"), col("neighbor_id"),
      col("score")), k)
  }

  /** Contrastive training pairs: per query, the top-`kPos` cosine
    * neighbors as positives and `kNeg` DETERMINISTIC hash-sampled
    * negatives (md5 of the (query, candidate) pair ranks the corpus;
    * positives and self are excluded before sampling, so a negative is
    * never secretly a positive). The negative draw is a bounded-heap
    * top-k on the hash — no corpus sort, reproducible across runs and
    * engines. */
  def contrastivePairs(queries: DataFrame, corpus: DataFrame,
                       vecCol: String, idCol: String,
                       kPos: Int = 3, kNeg: Int = 5): DataFrame = {
    // Deliberately NOT checkpointed (r16 scan census): pos feeds both
    // the negative anti-join and the final union, but the measured A/B
    // says the lazy double-run wins at this shape (0.77 s lazy vs
    // 1.10 s checkpointed) — same finding as [[bitextMine]]: when the
    // re-run is a pushed-down top-k over a broadcastable side, two
    // runs beat one blocking materialization.
    val pos = bruteForceTopK(queries, corpus, vecCol, idCol, kPos)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val cand = corpus.select(col(idCol).as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(pos.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("score",
        Hashing.hex8ToLong(concat(col("query_id").cast(StringType),
          lit(":"), col("neighbor_id").cast(StringType))).cast("double"))
    val neg = rankTopK(cand.select(col("query_id"), col("neighbor_id"),
      col("score")), kNeg)
    pos.withColumn("role", lit("pos"))
      .unionByName(neg.select(col("query_id"), col("neighbor_id"),
        col("rank")).withColumn("role", lit("neg")))
      .select("query_id", "neighbor_id", "role", "rank")
  }

  /** Reciprocal-rank fusion of ranked retrieval lists (the standard
    * sparse+dense hybrid from the public IR literature): fused score =
    * Σ_lists 1/(c+rank), re-ranked top-k. Each input frame carries
    * (query_id, id, rank). Per-list contributions are rounded then
    * DECIMAL-summed (the BM25 discipline) so any engine reproduces the
    * fusion bit-for-bit; ranking ties break on ascending id. The
    * inputs are already top-k-sized (queries × k rows), so the fusion
    * aggregate is query-list-scale, never corpus-scale. */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    val u = lists.map(_.select(col("query_id"), col("id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = u.withColumn("__c",
        round(lit(1.0) / (lit(c) + col("rank")), 6).cast("decimal(18,6)"))
      .groupBy("query_id", "id")
      .agg(sum(col("__c")).cast("decimal(18,6)").as("__s"))
    // DECIMAL(18,6)→double is order-preserving and injective at RRF
    // magnitudes, so the heap ranks exactly as the decimal would
    rankTopK(fused.select(col("query_id"), col("id").as("neighbor_id"),
      col("__s").cast("double").as("score")), k)
  }

  /** Exact top-k neighbors of each query row. Scores are rounded to
    * `roundTo` decimals before ranking so ordering is stable to
    * last-ulp float noise; ties break on neighbor id. `excludeSelf`
    * (default) drops same-id pairs — right for self-retrieval within
    * one corpus, wrong for two INDEPENDENT corpora whose id spaces may
    * overlap (a cross-corpus pair with coincidentally equal ids is a
    * real pair); cross-corpus callers pass `excludeSelf = false`. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     vecCol: String, idCol: String, k: Int,
                     roundTo: Int = 6,
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val paired = c.crossJoin(broadcast(q))
    val scored = (if (excludeSelf)
        paired.filter(col("query_id") =!= col("neighbor_id"))
      else paired)
      .withColumn("score", round(cosine(col("qv"), col("cv")), roundTo))
    rankTopK(scored, k)
  }

  /** LSH-bucketed approximate top-k: score only pairs sharing a sign
    * bucket. Recall trades off with `planes`; multi-probe (flipping one
    * bit) can raise recall without widening the join. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              vecCol: String, idCol: String, k: Int,
              planes: Int = 8, roundTo: Int = 6,
              excludeSelf: Boolean = true,
              broadcastQueries: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val paired = c.join(if (broadcastQueries) broadcast(q) else q,
      Seq("bucket"))
    val scored = (if (excludeSelf)
        paired.filter(col("query_id") =!= col("neighbor_id"))
      else paired)
      .withColumn("score", round(cosine(col("qv"), col("cv")), roundTo))
    rankTopK(scored, k)
  }

  /** Multi-probe LSH top-k: each query probes its own bucket PLUS every
    * one-bit-flipped neighbor bucket (planes+1 probes), so recall rises
    * without touching the corpus side — the standard multi-probe trade:
    * probe count scales the (small) query side only, the corpus is still
    * bucketed once and joined once. Probe buckets are distinct (XOR
    * masks), so no pair dedup is needed before ranking. */
  /** `broadcastQueries = false` switches the bucket join from a
    * broadcast of the (assumed small) query side to a shuffled
    * co-partitioned join on the bucket key — required when BOTH sides
    * are corpus-scale (bitext mining), where a broadcast would ship
    * the whole probe-exploded query corpus to every task. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
                        vecCol: String, idCol: String, k: Int,
                        planes: Int = 8, roundTo: Int = 6,
                        excludeSelf: Boolean = true,
                        broadcastQueries: Boolean = true): DataFrame = {
    val masks = array((lit(0L) +: (0 until planes).map(j => lit(1L << j))): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        hyperplaneBucket(col(vecCol), planes).as("__b0"))
      .select(col("query_id"), col("qv"),
        explode(transform(masks, m => col("__b0").bitwiseXOR(m)))
          .as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      hyperplaneBucket(col(vecCol), planes).as("bucket"))
    val paired = c.join(if (broadcastQueries) broadcast(q) else q,
      Seq("bucket"))
    val scored = (if (excludeSelf)
        paired.filter(col("query_id") =!= col("neighbor_id"))
      else paired)
      .withColumn("score", round(cosine(col("qv"), col("cv")), roundTo))
    rankTopK(scored, k)
  }

  /** Driver-side snapshot of the (small) centroid table: (id, components
    * as doubles, precomputed L2 norm). k rows only — the same driver
    * materialization [[hyperplaneBucket]] does for its planes. The norm
    * fold is sequential left-to-right, matching [[norm]]'s aggregate
    * bit-for-bit, so scores are identical to the joined spelling. */
  private[graft] def collectCentroids(centroids: DataFrame, vecCol: String)
      : Array[(Int, Array[Double], Double)] =
    centroids.select(col("centroid_id").cast("int"), col(vecCol))
      .collect()
      .map { r =>
        val comps = r.getSeq[Any](1).map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case n: java.lang.Number => n.doubleValue
        }.toArray
        val n = math.sqrt(comps.foldLeft(0.0)((acc, x) => acc + x * x))
        (r.getInt(0), comps, n)
      }
      .sortBy(_._1)

  /** Nearest cell for a vector as a PURE PROJECTION: the k centroids are
    * driver literals, so assignment is k*dims multiply-adds inside
    * codegen — zero joins, zero Exchange on the corpus path
    * (plan-asserted in DedupSimilaritySpec). Returns the
    * struct(score, negid) maximal by (score, -centroid_id): ties pick
    * the smallest id, matching the previous window/max_by spelling. */
  private[graft] def bestCell(v: Column, cents: Array[(Int, Array[Double], Double)],
                       roundTo: Int): Column = {
    val nv = norm(v)
    array_max(array(cents.map { case (cid, comps, cnorm) =>
      val compLit = array(comps.map(lit(_)): _*)
      val dp = dot(v, compLit)
      struct(round(dp / (nv * lit(cnorm)), roundTo).as("score"),
        lit(-cid).as("negid"))
    }: _*))
  }

  /** Above this k the literal-unrolled [[bestCell]] stops being the
    * right spelling: generated code grows with k*dims and a stage in
    * the hundreds of centroids overflows janino into interpreted
    * fallback. The loop expression takes over — same values, O(1)
    * generated code. 64 is the largest k the stress suite has proven
    * comfortably inside codegen limits (Stress case 3). */
  private val literalCentroidLimit = 64

  /** Large-k spelling of [[bestCell]]: one compact codegen loop over a
    * reference-object centroid matrix
    * ([[org.apache.spark.sql.graft.NearestCentroidExpr]]). Still a pure
    * projection — zero joins, zero Exchange on the corpus at ANY k. */
  private[graft] def bestCellLoop(v: Column,
      cents: Array[(Int, Array[Double], Double)], roundTo: Int): Column =
    org.apache.spark.sql.graft.bridge.column(
      org.apache.spark.sql.graft.NearestCentroidExpr(
        org.apache.spark.sql.graft.bridge.expression(v),
        cents.map(_._1), cents.map(_._2), cents.map(_._3), roundTo))

  /** Threshold-selected assignment: struct(centroid_id, score), literal
    * unroll at small k, matrix loop above [[literalCentroidLimit]]. */
  private[graft] def assignStruct(v: Column,
      cents: Array[(Int, Array[Double], Double)], roundTo: Int): Column =
    if (cents.length <= literalCentroidLimit) {
      val b = bestCell(v, cents, roundTo)
      struct((-b.getField("negid")).as("centroid_id"),
        b.getField("score").as("score"))
    } else bestCellLoop(v, cents, roundTo)

  /** Deterministic pseudo-random centroid component in [-1, 1):
    * md5-derived like [[planeComponent]], `cent` namespace. SQL twin:
    * `('0x'||substr(md5('cent<c>_<d>'),1,8))::BIGINT % 2000 / 1000.0 - 1`. */
  def centroidComponent(c: Int, dim: Int): Double =
    unitComponent(s"cent${c}_$dim")

  /** k md5-derived centroids as a centroid DataFrame (centroid_id,
    * vecCol double array) — a deterministic stand-in for a fitted
    * codebook when exercising large-k assignment. Doubles, not floats:
    * the components are exact on both engines, so the oracle needs no
    * float-rounding step. */
  def syntheticCentroids(spark: org.apache.spark.sql.SparkSession, k: Int,
                         dims: Int, vecCol: String): DataFrame = {
    import spark.implicits._
    (0 until k).map(c => (c,
        (0 until dims).map(d => centroidComponent(c, d)).toArray))
      .toDF("centroid_id", vecCol)
  }

  /** Distributed k-means (Lloyd's) centroid fitting for IVF coarse
    * quantization. Deterministic: initial centroids are the vectors
    * whose stable id-hash is smallest (no RNG), updates are element-wise
    * means via explode -> groupBy. Per iteration the k centroids are
    * collected to driver literals, so cell assignment is a projection
    * and the only shuffles are the two mean aggregations. */
  def fitCentroids(df: DataFrame, vecCol: String, idCol: String,
                   k: Int, iterations: Int = 5): DataFrame = {
    val spark = df.sparkSession
    // deterministic seed pick: k smallest stable hashes of the id
    var centroids = df
      .withColumn("__h", Hashing.hex8ToLong(col(idCol).cast("string")))
      .orderBy("__h").limit(k)
      .select(col(vecCol))
      // k rows only: the ranking window is a k-element sort; the
      // explicit single partition keeps WindowExec from warning
      .withColumn("centroid_id",
        row_number().over(
          Window.partitionBy(WindowKeys.onePartition(col(vecCol).getItem(0)))
            .orderBy(col(vecCol).getItem(0))) - 1)
      .cache()
    for (_ <- 1 to iterations) {
      val cents = collectCentroids(centroids, vecCol)
      // the superseded frame's k cached rows are dead once collected —
      // unpersist eagerly or every iteration leaks one cached frame
      centroids.unpersist()
      val assigned = df.select(
        assignStruct(col(vecCol), cents, 6).getField("centroid_id")
          .as("centroid_id"),
        col(vecCol))
      // element-wise mean per centroid: explode dims, avg, re-assemble
      val dims = assigned.select(col("centroid_id"),
        posexplode(col(vecCol)).as(Seq("__d", "__x")))
      val means = dims.groupBy("centroid_id", "__d")
        .agg(avg(col("__x")).as("__m"))
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
          .as("__sorted"))
        .select(col("centroid_id"),
          transform(col("__sorted"), s =>
            s.getField("__m").cast("float")).as(vecCol))
      centroids = means.cache()
    }
    centroids
  }

  /** IVF search: corpus vectors live in their nearest centroid's cell
    * ([[ivfAssign]]); each query probes its `nprobe` nearest cells and
    * scores exactly only inside them. The classic recall/latency dial:
    * candidate count ~ corpus * nprobe / k_cells, independent of corpus
    * growth once cells scale with it. The k centroids are collected to
    * driver literals, so corpus cell assignment is a pure projection
    * (zero Exchange on the corpus side — plan-asserted); queries and
    * probes broadcast; the corpus is never shuffled before the final
    * per-query ranking of the (nprobe-bounded) candidate set. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              vecCol: String, idCol: String, k: Int, nprobe: Int = 2,
              roundTo: Int = 6): DataFrame = {
    val centsLocal = collectCentroids(centroids, vecCol)
    // KnownNotNull on the join key: negid is a literal inside the
    // array_max struct, so the cell id can never be null — without the
    // marker the optimizer inserts isnotnull(<whole 16-centroid
    // assignment>) under the join and EVALUATES THE ASSIGNMENT TWICE
    // per corpus row, doubling the stage's generated-code size (which
    // is what tips a wide stage over janino's limit into interpreted
    // fallback)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      notNull(assignStruct(col(vecCol), centsLocal, roundTo)
        .getField("centroid_id")).as("centroid_id"))
    rankInCells(c, nearestCells(queries, centroids, vecCol, idCol, nprobe,
      roundTo), k, roundTo)
  }

  /** Append a vector batch to a PERSISTED cell-partitioned IVF index —
    * the incremental twin of [[ivfTopK]]'s corpus leg, for the corpus
    * that arrives as a stream (the [[graft.functions.Dedup.bandIndexUpdate]]
    * discipline applied to vectors): cell assignment is a pure
    * projection over driver-literal centroids (zero corpus shuffle),
    * and the batch lands as `centroid_id=<cell>/` parquet partitions
    * via mode("append") — ingest cost is batch-sized, the standing
    * index is never read or rewritten. Centroids must stay FIXED
    * across appends (re-fitting reassigns cells and would demand a
    * full rebuild — the operational contract of every IVF system).
    * Like every standing-index writer it first recovers an interrupted
    * compaction ([[StandingIndex]]). */
  def ivfIndexAppend(batch: DataFrame, indexPath: String,
                     centroids: DataFrame, vecCol: String, idCol: String,
                     roundTo: Int = 6): Unit = {
    val cents = collectCentroids(centroids, vecCol)
    StandingIndex.append(batch.sparkSession,
      batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        notNull(assignStruct(col(vecCol), cents, roundTo)
          .getField("centroid_id")).as("centroid_id")),
      "centroid_id", indexPath)
  }

  /** Probe a persisted IVF index: each query scores exactly inside its
    * `nprobe` nearest cells, and the index scan is PARTITION-PRUNED to
    * exactly those cells (the probed cell-id set is queries x nprobe
    * literals, collected driver-side — request-sized) — at 100 TB of
    * indexed vectors a probe reads nprobe/k_cells of the bytes, which
    * is the reason to maintain the index at all. Answers after any
    * append sequence equal the one-shot [[ivfTopK]] over the union of
    * all appended batches (oracle-proven: `ann_ivf_incremental`). */
  def ivfIndexProbe(queries: DataFrame, indexPath: String,
                    centroids: DataFrame, vecCol: String, idCol: String,
                    k: Int, nprobe: Int = 2, roundTo: Int = 6): DataFrame = {
    val probes = nearestCells(queries, centroids, vecCol, idCol, nprobe,
      roundTo)
    val cellIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    rankInCells(StandingIndex.readCells(queries.sparkSession, indexPath,
      "centroid_id", cellIds.toSeq), probes, k, roundTo)
  }

  /** Each query's `nprobe` nearest cells: `(query_id, qv,
    * centroid_id)`. Caller-supplied centroid frames may carry a LONG
    * centroid_id (and a parquet partition column's type is inferred
    * on read independently of it), so the cell id is normalized to
    * int, matching [[collectCentroids]]' defensive cast. */
  private def nearestCells(queries: DataFrame, centroids: DataFrame,
                           vecCol: String, idCol: String, nprobe: Int,
                           roundTo: Int): DataFrame = {
    val cents = centroids.select(col("centroid_id").cast("int")
      .as("centroid_id"), col(vecCol).as("centv"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("score_c").desc, col("centroid_id"))
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("score_c", round(cosine(col("qv"), col("centv")), roundTo))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= nprobe)
      .select("query_id", "qv", "centroid_id")
  }

  /** Top-k per query over the `(neighbor_id, cv, centroid_id)` rows of
    * the probed cells, never the query itself. */
  private def rankInCells(cells: DataFrame, probes: DataFrame, k: Int,
                          roundTo: Int): DataFrame =
    rankTopK(cells.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", round(cosine(col("qv"), col("cv")), roundTo)), k)

  /** Maintenance for the persisted IVF index: per-cell compaction of
    * the `centroid_id=<cell>/` parquet lake via the crash-safe
    * two-phase swap ([[graft.sinks.Sinks.compact]]). Every
    * [[ivfIndexAppend]] lands its own part files inside each touched
    * cell; at streaming cadence a probed cell accrues thousands of
    * tiny files and the partition-pruned probe turns listing-bound —
    * the maintenance pass rewrites each cell to ~one file while
    * KEEPING the cell layout (repartition on centroid_id +
    * partitionBy), so probes stay partition-pruned and answer
    * byte-identically before and after (spec + `ann_ivf_compact`
    * oracle-proven). Run it off the probe path at whatever cadence
    * the append rate demands. */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): graft.sinks.Sinks.CompactionStats =
    StandingIndex.compact(spark, Seq(indexPath),
      partitionCols = Seq("centroid_id"))

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (a small table collected to driver literals); search
    * probes only the closest cells (fit with [[fitCentroids]]). A pure
    * projection — no join, no shuffle, no window.
    *
    * Scale note: `vecCol` should be a STORED column, not a computed
    * array expression (e.g. [[dequantInt8]] straight off the SQ8
    * codes). The assignment references the vector once per centroid,
    * and Catalyst's projection collapse inlines a computed expression
    * into every reference — k interpreted re-evaluations per row,
    * because higher-order array lambdas never enter whole-stage
    * codegen. Measured 20x+ on a 500k corpus at k=16 (Stress case 3):
    * materialize the reconstruction first (read it back from storage,
    * or cache/localCheckpoint). */
  def ivfAssign(df: DataFrame, centroids: DataFrame, vecCol: String,
                idCol: String, roundTo: Int = 6,
                carryCols: Seq[String] = Nil): DataFrame = {
    val cents = collectCentroids(centroids, vecCol)
    // carryCols ride the projection so consumers that need the vector
    // (or any payload) alongside the cell id stay join-free: a join
    // back on idCol would silently drop NULL ids and multiply
    // duplicates (ADVICE r16 on semanticDedup) — a pure projection
    // keeps every input row by construction
    df.withColumn("__best", assignStruct(col(vecCol), cents, roundTo))
      .select(col(idCol) +: col("__best.centroid_id").as("centroid_id")
        +: col("__best.score").as("score") +: carryCols.map(col): _*)
  }

  // ------------------------------------------------------------ product
  // quantization (the Faiss-family storage path: m sub-codes per vector)

  /** Deterministic pseudo-random PQ codebook component in [-1, 1):
    * md5-derived like [[centroidComponent]], `pq` namespace. SQL twin:
    * `('0x'||substr(md5('pq<s>c<c>_<d>'),1,8))::BIGINT % 2000 / 1000.0 - 1`. */
  def pqComponent(sub: Int, code: Int, dim: Int): Double =
    unitComponent(s"pq${sub}c${code}_$dim")

  /** Per-subspace codebooks as driver literals (m * ksub * subDim
    * doubles — a few KB; a production codebook is the same size, which
    * is the entire point of PQ). */
  private def pqCodebook(m: Int, ksub: Int, subDim: Int)
      : Array[Array[(Int, Array[Double], Double)]] =
    Array.tabulate(m) { s =>
      Array.tabulate(ksub) { c =>
        val comps = Array.tabulate(subDim)(d => pqComponent(s, c, d))
        (c, comps, math.sqrt(comps.foldLeft(0.0)((a, x) => a + x * x)))
      }
    }

  /** Spherical product quantization: split each vector into `m`
    * contiguous subvectors and store only the best-cosine code per
    * subspace — m bytes of codes instead of dims*4 bytes of floats
    * (32x smaller at 64 dims / 8 subspaces, the layout that makes a
    * 100 TB embedding corpus searchable from memory). Encoding is a
    * PURE PROJECTION: codebooks are driver literals, each subspace
    * assignment is ksub*subDim multiply-adds inside codegen
    * (the [[assignStruct]] machinery), zero joins, zero Exchange. */
  def pqEncode(df: DataFrame, vecCol: String, idCol: String,
               m: Int = 8, ksub: Int = 16, subDim: Int = 8,
               roundTo: Int = 6): DataFrame = {
    val cb = pqCodebook(m, ksub, subDim)
    val v = toDouble(col(vecCol))
    val codes = (0 until m).map { s =>
      assignStruct(slice(v, s * subDim + 1, subDim), cb(s), roundTo)
        .getField("centroid_id")
    }
    df.select(col(idCol), array(codes: _*).as("codes"))
  }

  /** PQ search with asymmetric distance computation (ADC): the query
    * stays full-precision; per query a distance table of m*ksub
    * rounded sub-dot-products is built ONCE (a `queries x codebook`
    * frame — tiny), and the corpus contributes only its CODES: explode
    * to (id, sub, code), broadcast-join the table, sum m exact DECIMAL
    * contributions per (query, doc). The corpus-side cost is m lookups
    * per vector — no float math over corpus vectors at all, which is
    * what lets a quantized corpus serve from a fraction of the I/O. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, vecCol: String,
             idCol: String, k: Int, m: Int = 8, ksub: Int = 16,
             subDim: Int = 8, roundTo: Int = 6): DataFrame = {
    val cb = pqCodebook(m, ksub, subDim)
    val qv = toDouble(col(vecCol))
    // per-query distance table as ONE array column (m*ksub rounded
    // sub-dot-products, index = sub*ksub + code), built on the tiny
    // query side and broadcast. Scoring a corpus row is then m ARRAY
    // LOOKUPS + an exact DECIMAL sum inside a single projection — no
    // explode, no join on (sub, code), no (N*m*Q)-row shuffle (the
    // first spelling's measured cost: 38s → ~3s at 100q x 500k).
    val dts = array(cb.zipWithIndex.flatMap { case (codes, s) =>
      codes.map { case (_, comps, _) =>
        round(dot(slice(col("__qv"), s * subDim + 1, subDim),
            array(comps.map(lit(_)): _*)), roundTo)
          .cast(DecimalType(18, 6))
      }
    }.toIndexedSeq: _*)
    val q2 = queries.select(col(idCol).as("query_id"), qv.as("__qv"))
      .select(col("query_id"), dts.as("__dt"))
    val codes = pqEncode(corpus, vecCol, idCol, m, ksub, subDim, roundTo)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val score = (0 until m).map { s =>
      element_at(col("__dt"), col("codes").getItem(s) + (s * ksub) + 1)
    }.reduce(_ + _)
    rankTopK(
      codes.crossJoin(broadcast(q2))
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("score", score.cast(DoubleType)),
      k)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix recipe): find translation pairs between two
    * monolingual embedding corpora as MUTUAL nearest neighbors whose
    * ratio margin — cos(x,y) over the mean of each side's second-best
    * cosine — clears `marginFloor`. Mutuality plus the margin kills
    * the hub problem (a vector that is everyone's neighbor wins no
    * pairs, because its own second-best is just as high).
    *
    * Both directions run top-2 retrieval through the bounded-heap
    * aggregate (shuffle carries 2 entries per query per task); the
    * mutual join and margin arithmetic are id-keyed row-scale work.
    * The retrieval itself is pluggable via `top2`: a scorer taking
    * `(queries, corpus)` and returning per-query ranked rows
    * `(query_id, neighbor_id, score, rank)` with ranks 1..2. The
    * default scores A x B exactly (the oracle-checkable baseline,
    * with NO same-id filter — the two sides are independent corpora,
    * so equal ids are real pairs, not self-matches); at web scale pass
    * [[lshTopK]]/[[lshTopKMultiProbe]]/[[ivfTopK]] candidates (see
    * [[bitextMineLsh]]) — the margin/mutuality logic is unchanged and
    * A x B is never materialized. All scores round to `roundTo` before
    * the margin division, so the margin is bit-identical across
    * engines. */
  def bitextMine(a: DataFrame, b: DataFrame, vecCol: String,
                 idCol: String, marginFloor: Double = 1.0,
                 roundTo: Int = 6,
                 top2: Option[(DataFrame, DataFrame) => DataFrame] = None)
      : DataFrame = {
    val scorer = top2.getOrElse((qs: DataFrame, corpus: DataFrame) =>
      bruteForceTopK(qs, corpus, vecCol, idCol, k = 2, roundTo,
        excludeSelf = false))
    // Deliberately NOT checkpointed (r16 scan census): each ranked
    // table IS consumed twice (rank-1 mutuality + rank-2 margin legs)
    // and the lazy plan re-runs the scorer per consumer — but the
    // measured A/B says the re-run is CHEAPER than materializing
    // (bitext_mine 2.68 s lazy vs 4.37 s checkpointed, repeat-4
    // steady state): each consumer's copy keeps its rank filter
    // pushed into the scoring pipeline, and the scorer output is
    // small enough that two pushed-down runs beat one blocking
    // materialization. The at-scale spelling is [[bitextMineLsh]],
    // whose bucketed scorer was measured NEUTRAL to this choice.
    val ab = scorer(a, b)
    val ba = scorer(b, a)
    def second(t: DataFrame, qn: String, sn: String) =
      t.filter(col("rank") === 2)
        .select(col("query_id").as(qn), col("score").as(sn))
    val bestAb = ab.filter(col("rank") === 1)
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("score").as("cos"))
    val bestBa = ba.filter(col("rank") === 1)
      .select(col("query_id").as("id_b"), col("neighbor_id").as("id_a"))
    bestAb.join(bestBa, Seq("id_a", "id_b")) // mutual top-1 only
      .join(second(ab, "id_a", "__s2a"), Seq("id_a"), "left")
      .join(second(ba, "id_b", "__s2b"), Seq("id_b"), "left")
      .withColumn("margin", round(col("cos") /
        ((coalesce(col("__s2a"), col("cos")) +
          coalesce(col("__s2b"), col("cos"))) / 2d), roundTo))
      .filter(col("margin") >= marginFloor)
      .select("id_a", "id_b", "cos", "margin")
  }

  /** [[bitextMine]] with sign-LSH bucketed retrieval — the spelling
    * that is real at corpus scale: each direction scores only pairs
    * sharing a hyperplane bucket (multi-probe on the query side for
    * recall), so the work is Σ_bucket |A_b|x|B_b| instead of |A|x|B|
    * and the exact cross product never exists in the plan. Margin and
    * mutuality semantics are identical to the exact spelling; recall
    * is the LSH trade (raise `planes` probes via multi-probe for more).
    */
  def bitextMineLsh(a: DataFrame, b: DataFrame, vecCol: String,
                    idCol: String, marginFloor: Double = 1.0,
                    planes: Int = 8, roundTo: Int = 6): DataFrame =
    bitextMine(a, b, vecCol, idCol, marginFloor, roundTo,
      top2 = Some((qs, corpus) =>
        lshTopKMultiProbe(qs, corpus, vecCol, idCol, k = 2, planes,
          roundTo, excludeSelf = false, broadcastQueries = false)))
}
