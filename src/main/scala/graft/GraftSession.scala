package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession builder for the engine: the configuration a
  * 1000-executor deployment wants, applied consistently in local mode
  * too so plans exercised in tests are the plans that run at scale.
  *
  *   - AQE on (runtime re-planning replaces the reference's hand-rolled
  *     part sizing, sharding_storage.go DesiredTableSize);
  *   - AQE coalescing + skew-join handling (≙ salting for hot keys);
  *   - UTC session time, nanos-as-long for ns parquet, engine SQL
  *     functions registered.
  *
  * `spark.sql.shuffle.partitions` stays a small explicit number in
  * local mode; under AQE it is only the pre-coalesce upper bound, and a
  * cluster deployment should raise it to ~2-3x total cores.
  */
object GraftSession {
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // lz4 (LZ4_RAW frames) beats the snappy default on BOTH axes for
      // this engine's write-heavy paths: ~9% faster encode (measured
      // steady-state medians: 760k vs 688k rows/s on the lineitem
      // transfer) and slightly smaller files (10.26 vs 10.52 MB).
      // Readable by pyarrow/duckdb/trino. zstd remains the archival
      // choice (-18% bytes, ~lz4-8% encode) — set per-write where
      // storage dominates.
      .config("spark.sql.parquet.compression.codec", "lz4")
      .config("spark.ui.enabled", "false")

  /** Streaming state off-heap — apply to a builder for any deployment
    * whose stateful streams outgrow executor heap: the default
    * HDFS-backed provider keeps every key's state in JVM heap for the
    * store's lifetime; at billions of CDC keys (monotonicGuard, dedup)
    * that is tens of GB per partition. RocksDB spills to local disk,
    * and changelog checkpointing uploads per-batch deltas instead of
    * full snapshot zips. Pair with `monotonicGuard(idleTimeout=...)`
    * so state lifetime is bounded too (docs/state-layout.md).
    *
    * Opt-in rather than the local default, with a MEASURED crossover
    * (monotonic-guard shape, local[32] — b1 = state-build batch, b2 =
    * full-state redelivery commit):
    *
    *   keys    HDFS b1/b2      RocksDB b1/b2
    *   10^5      4.8 /  2.4      2.5 /  1.8
    *   10^6      2.2 /  2.0      2.3 /  2.3
    *   3·10^6    2.2 /  2.4      3.2 /  3.0
    *   10^7      6.8 / 81.6     35.4 / 24.9
    *
    * SIZING RULE: below ~3M keys per query the default provider is
    * equal-or-better (the changelog round-trip costs more than the
    * heap it saves — also measured at kilobyte state on local[4]);
    * past ~5M the default's full-state snapshot commit goes superlinear
    * (81.6 s at 10^7 — the monotonic_guard sf10 cliff, 89 s, is exactly
    * this) while RocksDB + changelog stays incremental: 3.3× faster at
    * 10^7 and widening with scale. A 100 TB replication (10^8+ keys)
    * MUST apply this; the sf0.1 bench (1.5·10^5 keys) must not. */
  def scaleStreamingState(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")

  /** The crossover ENCODED, per query: the provider is a runtime SQL
    * conf read once at stream start, so each stream can be routed by
    * its expected key cardinality instead of a session-wide guess —
    * `body` runs with RocksDB + changelog checkpointing iff
    * `expectedKeys` crosses the measured threshold (default 5M, the
    * midpoint of the table above where the default store's commit goes
    * superlinear), and the previous conf is restored afterwards so
    * co-resident small streams keep the faster default. Expected keys
    * are usually a metadata-cheap count of the snapshot side. */
  def withStateStoreFor[A](spark: SparkSession, expectedKeys: Long)
                          (body: => A): A = {
    val rocksOverKeys = 5000000L
    if (expectedKeys < rocksOverKeys) body
    else {
      val pk = "spark.sql.streaming.stateStore.providerClass"
      val ck = "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled"
      val prev = Seq(pk, ck).map(k => k -> spark.conf.getOption(k))
      spark.conf.set(pk,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      spark.conf.set(ck, "true")
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Engine registrations on a freshly-built session: SQL functions,
    * JDBC dialect, plan-extension rules. Every entrypoint that builds
    * via [[builder]] must pass through here (create() does). */
  def init(spark: SparkSession): SparkSession = {
    graft.functions.GraftFunctions.register(spark)
    graft.sources.GraftJdbcDialect.register()
    if (!spark.experimental.extraOptimizations
          .contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RangeJoinRewrite)
    spark
  }

  def create(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]")
      : SparkSession = init(builder(master).getOrCreate())
}
