package graft

import graft.functions.{Dedup, EntityMatch, Hashing, Multimodal, Quantiles, Sampling, Similarity, TextAnalysis, UrlOps}
import graft.model.{CdcEnvelope => E}
import graft.operators.{Collapse, Transformers => T}
import graft.parsers.{Debezium, GenericParser}
import graft.sources.{IncrementalScan, Readers, ShardedScan}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The operator-to-correctness wiring: one query per implemented operator
  * from SURVEY.md §2, each with a DuckDB oracle in [[Oracles]]. Every
  * query is deterministic (sorted output, decimal-exact aggregation,
  * md5-based hashing) so the driver's hash compare is stable across
  * engines.
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Planted 9×8 grayscale PPM payload for the image-dedup rows:
    * md5-chain pixels shared per doc_id-div-4 cluster, ONE
    * +128-perturbed pixel per doc (flips ≤2 dHash gradient bits). The
    * oracle rebuilds the same pixels from the md5 hex. */
  private lazy val mkPpmUdf = udf { (hexes: Seq[String], perturb: Int) =>
    val px = new Array[Int](72)
    var p = 0
    while (p < 72) {
      val h = hexes(p / 16)
      px(p) = Integer.parseInt(h.substring(2 * (p % 16), 2 * (p % 16) + 2), 16)
      p += 1
    }
    px(perturb) = (px(perturb) + 128) % 256
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("P6\n9 8\n255\n".getBytes("US-ASCII"))
    px.foreach { v => bos.write(v); bos.write(v); bos.write(v) }
    bos.toByteArray
  }
  private def plantedImage: org.apache.spark.sql.Column = {
    val seed = concat(lit("img:"),
      expr("CAST(doc_id AS BIGINT) div 4").cast("string"))
    val chains = array((0 until 5).map(i =>
      md5(concat(seed, lit(s":$i")))): _*)
    mkPpmUdf(chains, (col("doc_id") % 72).cast("int"))
  }

  /** Planted two-tone WAV for the audio-dedup rows: integer-cycle
    * sines whose bins derive from the doc_id-div-4 cluster md5, at a
    * per-doc amplitude (argmax-invariant). */
  private lazy val mkWavUdf = udf { (hex: String, amp: Int) =>
    val b0 = Integer.parseInt(hex.substring(0, 2), 16) % 31 + 1
    val b1 = Integer.parseInt(hex.substring(2, 4), 16) % 31 + 1
    val samples = graft.functions.Dsp.sine(b0, 64, amp) ++
      graft.functions.Dsp.sine(b1, 64, amp)
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
    def le32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
    def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    ascii("RIFF"); le32(36 + 256); ascii("WAVE")
    ascii("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(16000)
    le16(2); le16(16)
    ascii("data"); le32(256)
    samples.foreach(v => le16(v & 0xffff))
    bos.toByteArray
  }
  private def plantedAudio: org.apache.spark.sql.Column =
    mkWavUdf(md5(concat(lit("aud:"),
        expr("CAST(doc_id AS BIGINT) div 4").cast("string"))),
      (lit(15000) + col("doc_id") % 7 * 500).cast("int"))

  /** Base frame for a synthetic queue-wire fixture. A single small
    * parquet file yields ONE input split, which would serialize the
    * whole downstream parse chain on one core — but a real queue source
    * delivers N partitions (reference: kafka topic partitions,
    * pkg/providers/kafka). Repartitioning to the cluster's parallelism
    * models the transport the wire stands in for, and lets the bench
    * measure the engine's parallel parse path (the 100-TB shape)
    * instead of a one-core artifact of the fixture. */
  private def qw(s: SparkSession, dir: String, name: String): DataFrame =
    t(s, dir, name).repartition(s.sparkContext.defaultParallelism)

  /** Materialize a synthetic wire fixture to local parquet once per
    * (sf-dir contents, key) and read it back. Benching a parse over an
    * in-plan fixture times fixture construction AND parse, and in a
    * crowded session the construction chain (scan -> repartition
    * exchange -> format_string) inherits every upstream session tax
    * (full benches showed 9x the isolated parse time). Reading
    * the frame back from parquet makes the timed region the parse
    * itself — which is what a queue-backed deployment measures: the
    * wire arrives from the transport, not from a projection. The build
    * side repartitions to cluster parallelism, so the cache holds one
    * file per partition and the read-back keeps the parallel parse
    * path (~one split per file at openCostInBytes granularity). The
    * cache key folds in the source dir's file sizes, so regenerated
    * testdata invalidates it; formula edits must bump the key suffix. */
  /** Queries whose fixture goes through [[wireCache]] — keep in sync
    * with the call sites below. The bench warms exactly these before
    * its timed loop: a regenerated sf dir invalidates the cache
    * signature, and a cold rebuild inside the timed region charges the
    * parse query ~10x its steady-state time. */
  val wireCached: Seq[String] =
    Seq("native_parse", "mysql_binlog_parse", "cdc_pipeline_mysql")

  /** Rows whose bench wall is dominated by multi-phase FIXED overhead
    * rather than data volume: standing-index lifecycles (2-3 separate
    * update batches + a compaction against an on-disk lake, each a full
    * write-read cycle) and checkpointed streaming rows (per-microbatch
    * commit/checkpoint cost on a handful of rows). At sf0.1 these are
    * ~90% fixed cost, which both inflates the headline wall and buries
    * genuine per-query drift. The bench reports their sum separately
    * (`value_lifecycle`) so the headline `value_core` stays comparable
    * from run to run; their SCALE story
    * lives in the fresh-sf ladder (PLANS.md), not the sf0.1 wall. */
  val lifecycle: Set[String] = Set(
    // standing-index lifecycles (multi-update + compact over a lake)
    "dedup_lsh_incremental", "dedup_lsh_compact",
    "containment_incremental", "containment_compact",
    "containment_update_many", "embedding_rebuild",
    "embed_near_dups_incremental", "embed_near_dups_compact",
    "ann_ivf_incremental", "ann_ivf_compact",
    // checkpointed structured-streaming rows (microbatch-commit-bound)
    "replicate_stream", "replicate_stream_fs", "monotonic_guard",
    "stream_dedup_lsh", "stream_sketch", "stream_join", "stream_enrich",
    "watermark_dedup",
    // multi-phase fixed-overhead rows missed by the first split: a
    // 5-phase table-set surgery (each phase its own write-read cycle)
    // and a checkpointed multi-table foreachBatch
    // merge — both ~90% phase/commit overhead at sf0.1
    "add_tables_lifecycle", "merge_multitable")

  private def wireCache(s: SparkSession, dir: String, key: String)
                       (build: => DataFrame): DataFrame = {
    val sig = {
      val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
        .sortBy(_.getName).map(f => s"${f.getName}:${f.length}").mkString(",")
      java.lang.Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir + "|" + files))
    }
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_wire/$sig/$key"
    if (!new java.io.File(path, "_SUCCESS").exists())
      build.write.mode("overwrite").parquet(path)
    s.read.parquet(path)
  }

  /** Decimal-exact sum of a double expression, surfaced as double:
    * per-row double arithmetic is deterministic, the decimal sum is
    * associative (order-independent), the final cast is exact. */
  private def dsum(c: Column, p: Int = 18, scale: Int = 2): Column =
    sum(c.cast(DecimalType(p, scale))).cast(DoubleType)

  /** Decimal-exact revenue term extendedprice*(1-discount): inputs are
    * exact 2dp decimals, the multiply is exact, the sum associative. */
  private def revTerm: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))

  /** Synthetic CDC changelog derived from orders — same formula as the
    * oracle's SQL so both engines see identical events. */
  private def changelog(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderkey") % 20 < 3)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("v0"))
    o.select(col("k"), col("v0"),
        explode(sequence(lit(0), lit(3))).as("seq"))
      .select(
        col("k"),
        (col("v0") + col("seq")).as("val"),
        when((col("k") + col("seq")) % 6 === 0, E.Delete)
          .when((col("k") + col("seq")) % 3 === 0, E.Insert)
          .otherwise(E.Update).as(E.Kind),
        col("seq").cast(LongType).as(E.Lsn),
        lit(0).as(E.Counter),
        lit(null).cast(ArrayType(StringType)).as(E.UpdatedCols))
  }

  /** Orders enveloped with a deterministic kind per key (shared with the
    * oracle formula). */
  private def ordersKind: Column =
    when(col("o_orderkey") % 7 === 0, E.Delete)
      .when(col("o_orderkey") % 3 === 0, E.Update)
      .otherwise(E.Insert)

  val all: Map[String, Q] = Map(
    // ---- §2.3 transformers -------------------------------------------
    "filter_columns" -> ((s, dir) =>
      T.FilterColumns(include = Seq("o_orderkey", "o_custkey", "o_orderstatus"))
        .apply(t(s, dir, "orders")).orderBy("o_orderkey")),

    "filter_rows" -> ((s, dir) =>
      T.FilterRows(Seq(
        "o_totalprice > 400000 AND o_orderstatus = 'F'",
        "o_orderpriority = '1-URGENT' AND o_totalprice <= 5000",
        "o_orderstatus IN ('P')",
        "o_orderpriority ~ '^5'"))
        .apply(t(s, dir, "orders"))
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
        .orderBy("o_orderkey")),

    "filter_rows_by_ids" -> ((s, dir) =>
      T.FilterRowsByIds("c_custkey", (0L to 40L by 3).toSeq)
        .apply(t(s, dir, "customer"))
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    "skip_events" -> ((s, dir) =>
      T.SkipEvents(Seq(E.Delete)).apply(
        t(s, dir, "orders").withColumn(E.Kind, ordersKind))
        .select(col("o_orderkey"), col(E.Kind)).orderBy("o_orderkey")),

    "rename_tables" -> ((s, dir) =>
      T.RenameTables(Map("region" -> "public.region_v2")).apply(
        t(s, dir, "region").withColumn(E.Table, lit("region")))
        .select(col("r_regionkey"), col("r_name"), col(E.Table))
        .orderBy("r_regionkey")),

    "mask_field" -> ((s, dir) =>
      T.MaskField(Seq("c_name"), salt = "s3cret", hmac = false)
        .apply(t(s, dir, "customer"))
        .select("c_custkey", "c_name").orderBy("c_custkey")),

    "sql_transform" -> ((s, dir) =>
      T.SqlTransform(
        "SELECT o_orderstatus, count(*) AS n, " +
          "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
          "FROM table GROUP BY o_orderstatus ORDER BY o_orderstatus")
        .apply(t(s, dir, "orders"))),

    "ch_sql_transform" -> ((s, dir) =>
      // the reference's clickhouse-local SQL transformer config, pasted
      // verbatim and translated to Spark SQL by ChSql
      T.SqlTransform(graft.operators.ChSql.translate(
        "SELECT o_orderstatus, countIf(o_totalprice > 200000) AS n_big, " +
          "uniqExact(o_custkey) AS n_cust, " +
          "toString(min(o_orderkey)) AS first_key " +
          "FROM table GROUP BY o_orderstatus ORDER BY o_orderstatus"))
        .apply(t(s, dir, "orders"))),

    "convert_to_string" -> ((s, dir) =>
      T.ConvertToString(Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"))
        .apply(t(s, dir, "lineitem"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate")
        .orderBy(col("l_orderkey").cast(LongType), col("l_linenumber").cast(IntegerType))),

    "convert_to_datetime" -> ((s, dir) =>
      T.ConvertToDatetime(Seq("user_id")).apply(t(s, dir, "events"))
        .select(col("event_id"), col("user_id").as("user_ts"))
        .orderBy("event_id")),

    "number_to_float" -> ((s, dir) =>
      T.NumberToFloat(Seq("k")).apply(
        t(s, dir, "events")
          .withColumn("k", get_json_object(col("props"), "$.k")))
        .select("event_id", "k").orderBy("event_id")),

    "regex_replace" -> ((s, dir) =>
      T.RegexReplace(Seq("p_name"), "a+", "X").apply(t(s, dir, "part"))
        .select("p_partkey", "p_name").orderBy("p_partkey")),

    "replace_primary_key" -> ((s, dir) => {
      val out = T.ReplacePrimaryKey(Seq("o_custkey")).apply(t(s, dir, "orders"))
      val pks = graft.model.TypeMapping.primaryKeys(out.schema)
      out.select(col("o_orderkey"), col("o_custkey"),
        lit(pks.mkString(",")).as("pk_cols")).orderBy("o_orderkey")
    }),

    "mongo_pk_extender" -> ((s, dir) =>
      T.MongoPkExtender("tenant1").apply(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "_id"))
        .select(col("_id"), col("c_name"))
        .orderBy("c_name")),

    "raw_doc_grouper" -> ((s, dir) =>
      T.RawDocGrouper(Seq("o_orderkey"), etlTimestamp = None)
        .apply(t(s, dir, "orders").drop("o_orderdate"))
        .orderBy("o_orderkey")),

    "raw_cdc_doc_grouper" -> ((s, dir) =>
      T.RawCdcDocGrouper(Seq("o_orderkey"))
        .apply(t(s, dir, "orders").drop("o_orderdate")
          .withColumn(E.Kind, ordersKind))
        .orderBy("o_orderkey")),

    "sharder" -> ((s, dir) =>
      T.Sharder(Seq("o_orderkey", "o_custkey"), parts = 8, stable = true)
        .apply(t(s, dir, "orders"))
        .select(col("o_orderkey"), col(E.PartId)).orderBy("o_orderkey")),

    "table_splitter" -> ((s, dir) =>
      T.TableSplitter("orders", Seq("o_orderstatus")).apply(t(s, dir, "orders"))
        .select(col("o_orderkey"), col(E.Table)).orderBy("o_orderkey")),

    "batch_splitter" -> ((s, dir) =>
      T.BatchSplitter(4).apply(t(s, dir, "region")).orderBy("r_regionkey")),

    "yt_dict" -> ((s, dir) =>
      T.YtDict(Seq("toks")).apply(
        t(s, dir, "documents")
          .withColumn("toks", TextAnalysis.tokens(col("text"))))
        .select("doc_id", "toks").orderBy("doc_id")),

    "remove_columns" -> ((s, dir) =>
      T.RemoveColumns(Seq("l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate"))
        .apply(t(s, dir, "lineitem")).orderBy("l_orderkey", "l_linenumber")),

    // ---- parsers ------------------------------------------------------
    "parse_json_good" -> ((s, dir) =>
      T.JsonParser("props2", StructType(Seq(StructField("k", IntegerType))))
        .apply(t(s, dir, "events").withColumn("props2",
          when(col("event_id") % 50 === 0, "{bad").otherwise(col("props"))))
        .select("event_id", "k").orderBy("event_id")),

    "parse_json_quarantine" -> ((s, dir) =>
      GenericParser.unparsed(
        t(s, dir, "events").withColumn("props2",
          when(col("event_id") % 50 === 0, "{bad").otherwise(col("props"))),
        "props2", StructType(Seq(StructField("k", IntegerType))),
        keep = Seq("event_id"))
        .orderBy("event_id")),

    "quarantine_replay" -> ((s, dir) => {
      // the DLQ loop CLOSED: first pass parses what it can and
      // quarantines the rest with raw payloads; the producer re-emits
      // the corrupted payloads complete, the quarantine replays through
      // the SAME parser, and recovered rows union with the first-pass
      // successes — the oracle proves nothing lost, nothing doubled
      val schema = StructType(Seq(StructField("k", IntegerType)))
      val ev = t(s, dir, "events").withColumn("props2",
        when(col("event_id") % 50 === 0, "{bad").otherwise(col("props")))
      val first = T.JsonParser("props2", schema).apply(ev)
        .select(col("event_id"), col("k"), lit("first_pass").as("pass"))
      val dlq = GenericParser.unparsed(ev, "props2", schema,
        keep = Seq("event_id"))
      val reEmitted = dlq.select(col("event_id")).join(
        t(s, dir, "events").select(col("event_id"),
          col("props").as("props2")), Seq("event_id"))
      val replayed = T.JsonParser("props2", schema).apply(reEmitted)
        .select(col("event_id"), col("k"), lit("replayed").as("pass"))
      first.unionByName(replayed).orderBy("event_id")
    }),

    "parse_xml" -> ((s, dir) => {
      // XML ingestion with quarantine: supplier rows rendered as XML
      // documents (attribute + child elements), every 37th corrupted;
      // the parser types the good rows and the quarantine keeps the
      // rest — the oracle re-derives both sets from the source table
      val xml = concat(
        lit("<supplier id=\""), col("s_suppkey").cast(StringType),
        lit("\"><name>"), col("s_name"),
        lit("</name><nation>"), col("s_nationkey").cast(StringType),
        lit("</nation><bal>"), col("s_acctbal").cast(StringType),
        lit("</bal></supplier>"))
      val feed = t(s, dir, "supplier").select(col("s_suppkey"),
        when(col("s_suppkey") % 37 === 0, lit("<supplier><broken"))
          .otherwise(xml).as("raw"))
      val good = graft.parsers.XmlParser.parse(feed, "raw", Seq(
        ("sk", "@id", LongType), ("name", "name", StringType),
        ("nation", "nation", IntegerType), ("bal", "bal", DoubleType)))
        .withColumn("status", lit("ok"))
      val bad = graft.parsers.XmlParser.unparsed(feed, "raw",
          Seq(("sk", "@id", LongType)), keep = Seq("s_suppkey"))
        .select(col("s_suppkey").as("sk"),
          lit(null).cast(StringType).as("name"),
          lit(null).cast(IntegerType).as("nation"),
          lit(null).cast(DoubleType).as("bal"),
          lit("quarantined").as("status"))
      good.unionByName(bad).orderBy("sk")
    }),

    "parse_tskv" -> ((s, dir) =>
      GenericParser.tskv(
        t(s, dir, "region").select(concat(
          lit("rkey="), col("r_regionkey").cast(StringType),
          lit("\trname="), col("r_name")).as("raw")),
        "raw", Seq(("rkey", IntegerType), ("rname", StringType)))
        .orderBy("rkey")),

    "debezium_roundtrip" -> ((s, dir) => {
      val src = qw(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn(E.Kind, ordersKind)
        .withColumn(E.Lsn, col("o_orderkey"))
        .withColumn(E.Counter, lit(0))
        .withColumn(E.TxId, col("o_custkey").cast(StringType))
        .withColumn(E.CommitTime, col("o_orderkey") * 1000000L)
      val wire = Debezium.emit(src, Seq("o_orderkey", "o_custkey", "o_totalprice"))
      Debezium.receive(wire, "value", StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType))))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col(E.Kind), col(E.Lsn))
        .orderBy("o_orderkey")
    }),

    "serialize_json" -> ((s, dir) =>
      graft.sinks.Sinks.serializeJson(
        t(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("value")),

    // ---- §2.4 core batch ops -----------------------------------------
    "cdc_collapse" -> ((s, dir) =>
      Collapse.collapse(changelog(s, dir), pks = Seq("k"))
        .select(col("k"), col("val"), col(E.Kind)).orderBy("k")),

    "split_updated_pkeys" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val upd = o.select(
        when(col("o_orderkey") % 10 === 0, col("o_orderkey") + 1000000L)
          .otherwise(col("o_orderkey")).as("k"),
        col("o_totalprice").as("val"),
        lit(E.Update).as(E.Kind), lit(1L).as(E.Lsn), lit(0).as(E.Counter),
        struct(col("o_orderkey").as("k")).as(E.OldKeys))
      Collapse.splitUpdatedPKeys(upd, Seq("k"))
        .select(col("k"), col("val"), col(E.Kind), col(E.Counter))
        .orderBy("k", E.Counter)
    }),

    "strictify" -> ((s, dir) => {
      val target = StructType(Seq(
        graft.model.TypeMapping.field("o_orderkey", "int32", primaryKey = true),
        StructField("o_totalprice", DecimalType(12, 2)),
        StructField("o_orderstatus", StringType)))
      // decimal round-trips back to double so the compared parquet carries
      // one value representation in both engines
      graft.model.TypeMapping.strictify(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus"),
        target)
        .withColumn("o_totalprice", col("o_totalprice").cast(DoubleType))
        .orderBy("o_orderkey")
    }),

    "split_by_table" -> ((s, dir) => {
      val r = t(s, dir, "region").select(lit("region").as(E.Table))
      val n = t(s, dir, "nation").select(lit("nation").as(E.Table))
      r.unionByName(n).groupBy(E.Table).agg(count(lit(1)).as("n"))
        .orderBy(E.Table)
    }),

    // ---- §2.1 scans ---------------------------------------------------
    "sharded_scan" -> ((s, dir) =>
      ShardedScan.unionAll(ShardedScan.byRange(
        t(s, dir, "lineitem"), "l_orderkey", 0L, 10000000L, 4))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    "incremental_scan" -> ((s, dir) => {
      val stateDir = "/tmp/graft_state"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(stateDir, "events.event_id.cursor"), "1000")
      IncrementalScan(stateDir).scan(t(s, dir, "events"), "events", "event_id")
        .select("event_id", "event_type", "value").orderBy("event_id")
    }),

    "row_counts" -> ((s, dir) =>
      Tables.all.map(n => t(s, dir, n)
          .agg(count(lit(1)).as("n")).select(lit(n).as("tbl"), col("n")))
        .reduce(_ unionByName _).orderBy("tbl")),

    // ---- §2.2 file-format readers ------------------------------------
    "read_csv" -> ((s, dir) => {
      val path = "/tmp/graft_io/csv_region"
      graft.sinks.Sinks.csv(
        t(s, dir, "region"), path, delimiter = ";",
        policy = graft.sinks.Sinks.Drop)
      Readers.csv(s, path, delimiter = ";",
        schema = Some(StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType)))))
        .orderBy("r_regionkey")
    }),

    "orc_roundtrip" -> ((s, dir) => {
      // columnar-format fidelity: orders through an ORC write/read
      // cycle with a pushed-down filter; the oracle reads the parquet
      // original, so a hash match proves the roundtrip is lossless
      val path = "/tmp/graft_io/orc_orders"
      graft.sinks.Sinks.orc(t(s, dir, "orders"), path,
        policy = graft.sinks.Sinks.Drop)
      Readers.orc(s, path)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    "avro_roundtrip" -> ((s, dir) => {
      // Avro container-file fidelity: orders through an OCF write/read
      // cycle (zstd blocks, sync-marker split protocol on the read).
      // The oracle reads the parquet original, so a hash match proves
      // the roundtrip lossless including the local-timestamp logical
      // type carried by o_orderdate.
      val path = "/tmp/graft_io/avro_orders"
      graft.sources.AvroIO.write(t(s, dir, "orders"), path)
      graft.sources.AvroIO.read(s, path)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
        .orderBy("o_orderkey")
    }),

    "read_jsonline" -> ((s, dir) => {
      val path = "/tmp/graft_io/json_nation"
      graft.sinks.Sinks.jsonLines(t(s, dir, "nation"), path,
        policy = graft.sinks.Sinks.Drop)
      Readers.jsonLines(s, path, schema = Some(StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))))
        .select("n_nationkey", "n_name", "n_regionkey").orderBy("n_nationkey")
    }),

    "read_nginx" -> ((s, dir) => {
      val path = "/tmp/graft_io/nginx_log"
      val lines = t(s, dir, "region").select(format_string(
        "10.0.0.%d - u%d [01/Jan/2024:00:00:00 +0000] \"GET /r/%s HTTP/1.1\" 200 %d",
        col("r_regionkey"), col("r_regionkey"),
        regexp_replace(col("r_name"), " ", "_"), length(col("r_name")))
        .as("value"))
      lines.coalesce(1).write.mode("overwrite").text(path)
      Readers.regexLog(s, path, Readers.NginxCombinedPattern,
        Readers.NginxCombinedColumns)
        .orderBy("remote_addr")
    }),

    // ---- §2.6 SQL surface (Catalyst-free ops, proven) ----------------
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revTerm).cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q3_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        // no broadcast hint: the filtered customer side is
        // corpus-PROPORTIONAL (1/5 of customers), so the right plan is
        // scale-dependent — size-based planning broadcasts it at bench
        // scale and AQE shuffle-joins it when it outgrows the threshold
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy("l_orderkey")
        .agg(sum(revTerm).cast(DoubleType).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
    }),

    "q5_sql" -> ((s, dir) => {
      // the engine's full SQL surface: six-table join through the
      // registered fixture views (Tables.registerAll ≙ the catalog)
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT n_name,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
          |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM region
          |JOIN nation ON n_regionkey = r_regionkey
          |JOIN customer ON c_nationkey = n_nationkey
          |JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
    }),

    "window_topn" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    }),

    "window_analytics" -> ((s, dir) => {
      // the wider analytic-window family over a deterministic ordering
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_custkey") < 50)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_key"),
          lead(col("o_orderkey"), 1).over(w).as("next_key"),
          rank().over(w).as("rnk"),
          round(cume_dist().over(w), 6).as("cd"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast(DoubleType).as("running_total"))
        .orderBy("o_custkey", "rnk")
    }),

    "agg_cube" -> ((s, dir) =>
      // multi-dimensional subtotal lattice (CUBE): partial aggregation
      // handles every grouping set in ONE shuffle (Spark Expand +
      // hash agg), not one pass per set; decimal-exact sums
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "agg_pivot" -> ((s, dir) =>
      // wide-format pivot on a bounded category domain: one shuffle on
      // the row key, pivot columns folded map-side (values enumerated,
      // so the plan never needs a distinct-collect on the driver)
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2))))
        .select(col("l_linestatus"),
          col("A").cast(DoubleType).as("a_price"),
          col("N").cast(DoubleType).as("n_price"),
          col("R").cast(DoubleType).as("r_price"))
        .orderBy("l_linestatus")),

    "sort_limit" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(100)),

    "set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def keys(st: String) = o.filter(col("o_orderstatus") === st)
        .select("o_custkey")
      keys("O").intersect(keys("F")).except(keys("P")).orderBy("o_custkey")
    }),

    "distinct_dedup" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus")
        .distinct().orderBy("l_returnflag", "l_linestatus")),

    "join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "join_anti" -> ((s, dir) => {
      // customers with no high-value order — the filter keeps the result
      // non-empty at every scale factor (an unfiltered anti-join matches
      // nothing in these fixtures, which would make the check vacuous)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "bucketed_join" -> ((s, dir) => {
      // co-located join (operators.Bucketing): both sides persisted
      // bucketed by the join key, so the join itself plans with NO
      // Exchange on either side — asserted here, since shuffle-freeness
      // is the entire point of paying the bucketed write once. The
      // groupBy afterwards shuffles tiny aggregated rows only.
      val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
            col("o_totalprice")),
          "gq_b_orders", 8, Seq("c_custkey"))
        graft.operators.Bucketing.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          "gq_b_customer", 8, Seq("c_custkey"))
        val joined = graft.operators.Bucketing.bucketedJoin(
          s, "gq_b_orders", "gq_b_customer", Seq("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          "bucketed join must be Exchange-free:\n" + plan)
        joined.groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("c_mktsegment")
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }),

    "salted_join" -> ((s, dir) => {
      // skew-mitigated join (operators.SaltedJoin): the big side gains a
      // salt column fanning each key over 8 sub-partitions, the small
      // side is exploded 8x to match. The salt cancels out of the
      // RESULT — which is exactly what this row proves against a plain
      // join in the oracle. Stable-hash salt mode so placement is
      // reproducible too.
      val big = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
        col("o_totalprice"), col("o_orderkey"))
      val small = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
      graft.operators.SaltedJoin.join(big, small, "c_custkey", salt = 8,
          saltCol = Some("o_orderkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    "asof_join" -> ((s, dir) => {
      // point-in-time lookup (operators.AsofJoin): each event joins the
      // latest state row at-or-before its timestamp within its user.
      // One union + one keyed shuffle + per-key sort — the sort-merge
      // shape that survives 100 TB. Oracle is DuckDB's NATIVE `ASOF LEFT
      // JOIN`, an entirely independent implementation of the semantics.
      val ev = t(s, dir, "events")
      val left = ev.filter(col("event_id") % 5 =!= 0)
        .select("user_id", "ts", "event_id")
      val right = ev.filter(col("event_id") % 5 === 0)
        .groupBy("user_id", "ts").agg(max(col("value")).as("state"))
      graft.operators.AsofJoin.join(left, right, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_state"), col("r_ts"))
        .orderBy("event_id")
    }),

    "asof_join_native" -> ((s, dir) => {
      // same semantics through the engine's custom physical operator
      // (AsOfJoinPlan/Strategy/Exec): co-partitioned + sorted children,
      // then ONE streaming merge pass with a single candidate row of
      // state — no union, no window buffer. Oracle is DuckDB's native
      // ASOF LEFT JOIN, like the other two spellings.
      val ev = t(s, dir, "events")
      val left = ev.filter(col("event_id") % 5 =!= 0)
        .select("user_id", "ts", "event_id")
      val right = ev.filter(col("event_id") % 5 === 0)
        .groupBy("user_id", "ts").agg(max(col("value")).as("state"))
      graft.operators.AsofJoinNative.join(
          left, right, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_state"), col("r_ts"))
        .orderBy("event_id")
    }),

    "asof_join_broadcast" -> ((s, dir) => {
      // same semantics as asof_join via the broadcast spelling
      // (operators.AsofJoinBroadcast): the small state side collapses
      // to per-key sorted histories and broadcasts; the event side is
      // NEVER shuffled — the spelling a 100 TB event table against a
      // GB state table wants. Same DuckDB native ASOF oracle.
      val ev = t(s, dir, "events")
      val left = ev.filter(col("event_id") % 5 =!= 0)
        .select("user_id", "ts", "event_id")
      val right = ev.filter(col("event_id") % 5 === 0)
        .groupBy("user_id", "ts").agg(max(col("value")).as("state"))
      graft.operators.AsofJoinBroadcast.join(
          left, right, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("r_state"), col("r_ts"))
        .orderBy("event_id")
    }),

    "global_index" -> ((s, dir) => {
      // dense 0-based global numbering in key order without a single-
      // task window (operators.GlobalIndex: one range shuffle +
      // zipWithIndex). Every 100th row keeps the output compact while
      // still proving the whole assignment (any offset error shifts
      // some sampled row).
      graft.operators.GlobalIndex.byOrder(
          t(s, dir, "orders").select("o_orderkey"), Seq("o_orderkey"))
        .filter(col("global_idx") % 100 === 0)
        .select("o_orderkey", "global_idx")
        .orderBy("global_idx")
    }),

    "range_join" -> ((s, dir) => {
      // interval-containment join (operators.RangeJoin): lineitem prices
      // against +/-10% bands around a sampled set of order totals,
      // banded by a group key. Bucketization turns the inequality join
      // into ONE equi-join shuffle — Spark's default plan here is a
      // nested loop over every (point, interval) pair. Granularity 10000
      // ~ typical band width, so replication stays ~O(spans).
      val pts = t(s, dir, "lineitem")
        .select((col("l_orderkey") % 10).as("g"),
          col("l_extendedprice").as("p"))
      val ivs = t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
        .select(col("o_orderkey"), (col("o_orderkey") % 10).as("g"),
          (col("o_totalprice") * 0.9).as("lo"),
          (col("o_totalprice") * 1.1).as("hi"))
      graft.operators.RangeJoin.pointInterval(pts, "p", ivs, "lo", "hi",
          granularity = 10000.0, keys = Seq("g"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n"), dsum(col("p")).as("total"))
        .orderBy("o_orderkey")
    }),

    "checksum_compare" -> ((s, dir) => {
      // source/target consistency check (operators.Checksum — the
      // reference's checksum task, pkg/worker/tasks/checksum.go): the
      // "target" is orders with planted defects (dropped keys, extra
      // keys, perturbed price/priority), derived by the same formulas
      // in the oracle, which re-derives the expected report with plain
      // SQL set ops.
      val src = t(s, dir, "orders")
      val perturbed = src.filter(col("o_orderkey") % 97 =!= 0).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 0.5)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"),
        when(col("o_orderkey") % 103 === 0,
            concat(lit("X-"), col("o_orderpriority")))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
      val extra = src.filter(col("o_orderkey") % 499 === 0).select(
        (col("o_orderkey") + 100000000L).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      graft.operators.Checksum.compare(
        src, perturbed.unionByName(extra), Seq("o_orderkey"))
    }),

    "reconcile_repair" -> ((s, dir) => {
      // the repair half of verification: same planted drift as
      // checksum_compare, then the MINIMAL insert/update/delete batch
      // (size ∝ drift, not table) applied back — the result must be
      // row-identical to the source, which is exactly what the oracle
      // checks by reading the source directly
      val src = t(s, dir, "orders")
      val drifted = src.filter(col("o_orderkey") % 97 =!= 0).select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey") % 101 === 0, col("o_totalprice") + 0.5)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"),
        when(col("o_orderkey") % 103 === 0,
            concat(lit("X-"), col("o_orderpriority")))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
        .unionByName(src.filter(col("o_orderkey") % 499 === 0).select(
          (col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority")))
        // the drifted table stands in for a STORED replica (reality:
        // read from disk); materialize it once instead of re-deriving
        // the planted drift in every diff/apply leg (scan census:
        // 11 scans in this row's executed plan)
        .localCheckpoint()
      // the repair batch is drift-sized by contract and applyRepair
      // consumes it twice (touched keys + replacement rows) — without
      // materialization the full-outer diff ran twice
      val repair = graft.operators.Checksum.repairBatch(
        src, drifted, Seq("o_orderkey")).localCheckpoint()
      graft.operators.Checksum.applyRepair(drifted, repair, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    "delta_cdf" -> ((s, dir) => {
      // change data feed by snapshot diff (sources.DeltaLite
      // .changesBetween): three commits (base, COW upsert, COW delete),
      // then the v0→v2 diff must read back exactly the planted changes
      // — updates with both images, inserts/deletes with one. The
      // oracle derives the same changelog from the fixture formulas.
      val path = "/tmp/graft_delta_cdf/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_cdf"), true)
      val o = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      graft.sources.DeltaLite.write(o, path)
      val ups = o.filter(col("o_orderkey") % 10 === 1)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 100).as("o_totalprice"))
        .unionByName(o.filter(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice")))
      graft.sources.DeltaLite.upsert(s, path, ups, Seq("o_orderkey"))
      graft.sources.DeltaLite.deleteWhere(s, path,
        col("o_orderkey") % 10 === 2 && col("o_orderkey") < 100000000L)
      graft.sources.DeltaLite.changesBetween(s, path, 0L, 2L,
          Seq("o_orderkey"))
        .select(col(E.Kind).as("kind"),
          coalesce(col("after.o_orderkey"), col("before.o_orderkey")).as("k"),
          col("before.o_totalprice").as("bp"),
          col("after.o_totalprice").as("ap"))
        .orderBy("k", "kind")
    }),

    "skew_profile" -> ((s, dir) => {
      // key-weight skew diagnostics (operators.SkewProfile): a planted
      // hot key (every %10==0 orderkey folded to 0) must surface as a
      // lonely high magnitude above the uniform band. Magnitude is
      // floor(log2) via length(bin(c))-1 — integer-exact in both
      // engines, no float log.
      val l = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 10 === 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k"))
      graft.operators.SkewProfile.histogram(l, Seq("k"))
        .orderBy("magnitude")
    }),

    "heavy_keys" -> ((s, dir) => {
      // the actionable half of the skew profile: keys above the
      // per-task target surface with the ceil salt factor that levels
      // them (feed to Joins.salted / bucket sizing). targetPerTask=100
      // keeps the planted hot key above threshold at every scale
      // factor while uniform lineitem keys (<=7 rows) stay below.
      val l = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 10 === 0, lit(0L))
          .otherwise(col("l_orderkey")).as("k"))
      graft.operators.SkewProfile.heavyKeys(l, Seq("k"),
          targetPerTask = 100)
        .orderBy("k")
    }),

    "gap_fill" -> ((s, dir) => {
      // regular-grid resample with forward fill (operators.GapFill):
      // irregular event instants -> one row per (user group, hour),
      // last observation carried forward. Hour bucketing is integer
      // division on epoch micros (a double division would lose
      // precision above 2^53; hour boundaries are whole micros, so the
      // loader's ns->us truncation cannot move a row across one).
      // Oracle: DuckDB's native ASOF JOIN of a generate_series grid
      // against the observations — an independent implementation of
      // carry-forward semantics.
      val obs = t(s, dir, "events")
        .select((col("user_id") % 20).as("k"),
          expr("unix_micros(ts) div 3600000000").as("h"))
        .groupBy("k", "h").agg(count(lit(1)).as("n_events"))
      graft.operators.GapFill.fill(obs, Seq("k"), "h", step = 1,
          Seq("n_events"))
        .orderBy("k", "h")
    }),

    "incremental_rollup" -> ((s, dir) => {
      // incremental aggregate maintenance (operators.Rollup): the
      // GROUP BY state is maintained by folding a signed retraction
      // delta — base history is aggregated once for the initial state
      // and never scanned again. Fixture: base = orders with
      // o_orderkey%10 != 0; the changelog then inserts the missing
      // tenth, reprices %10==1 (+100) via before/after updates, and
      // deletes %10==2. The oracle recomputes the FINAL table's
      // aggregate from scratch — a green row proves fold == recompute.
      import graft.operators.Rollup
      val keys = Seq("o_orderpriority")
      val mets = Seq("o_totalprice")
      // fixture prices are DOUBLE in parquet: pin them to decimal(18,2)
      // on entry (both engines) so the fold is decimal-exact
      val o = t(s, dir, "orders").withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val img = struct(col("o_orderpriority"), col("o_totalprice"))
      val nullImg = when(lit(false), img)
      val s0 = Rollup.init(
        o.filter(col("o_orderkey") % 10 =!= 0)
          .select("o_orderpriority", "o_totalprice"), keys, mets)
      val inserts = o.filter(col("o_orderkey") % 10 === 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val updates = o.filter(col("o_orderkey") % 10 === 1).select(
        img.as("before"),
        struct(col("o_orderpriority"),
          (col("o_totalprice") + 100).cast(DecimalType(18, 2))
            .as("o_totalprice")).as("after"),
        lit(E.Update).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val deletes = o.filter(col("o_orderkey") % 10 === 2).select(
        img.as("before"), nullImg.as("after"), lit(E.Delete).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val changes = inserts.unionByName(updates).unionByName(deletes)
      val st = Rollup.merge(s0,
        Rollup.delta(Rollup.retractions(changes), keys, mets), keys, mets)
      st.select(col("o_orderpriority"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("total_price"))
        .orderBy("o_orderpriority")
    }),

    "incremental_rollup_bucketed" -> ((s, dir) => {
      // HIGH-cardinality rollup maintenance (Rollup.foldBucketed):
      // per-customer aggregates laid out as hash-bucketed state dirs;
      // the bootstrap fold populates them, the changelog fold reads
      // and rewrites ONLY the buckets its delta touches (the flat
      // fold's whole-state rewrite stops scaling at billions of
      // groups). The oracle recomputes the final per-customer
      // aggregate from scratch: green proves two bucket-pruned folds
      // == full recompute.
      import graft.operators.Rollup
      val keys = Seq("o_custkey")
      val mets = Seq("o_totalprice")
      val statePath = "/tmp/graft_rollup_bucketed/state"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_rollup_bucketed"), true)
      val o = t(s, dir, "orders").withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val img = struct(col("o_custkey"), col("o_totalprice"))
      val nullImg = when(lit(false), img)
      val boot = o.filter(col("o_orderkey") % 10 =!= 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val inserts = o.filter(col("o_orderkey") % 10 === 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val updates = o.filter(col("o_orderkey") % 10 === 1).select(
        img.as("before"),
        struct(col("o_custkey"),
          (col("o_totalprice") + 100).cast(DecimalType(18, 2))
            .as("o_totalprice")).as("after"),
        lit(E.Update).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val deletes = o.filter(col("o_orderkey") % 10 === 2).select(
        img.as("before"), nullImg.as("after"), lit(E.Delete).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      Rollup.foldBucketed(s, statePath, Rollup.retractions(boot),
        keys, mets, numBuckets = 16, batchId = 0L)
      val changes = inserts.unionByName(updates).unionByName(deletes)
      Rollup.foldBucketed(s, statePath, Rollup.retractions(changes),
        keys, mets, numBuckets = 16, batchId = 1L)
      Rollup.readBucketed(s, statePath)
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("total_price"))
        .orderBy("o_custkey")
    }),

    "incremental_rollup_minmax_bucketed" -> ((s, dir) => {
      // extrema maintenance composed WITH the bucketed state layout
      // (Rollup.foldBucketedWithExtrema): per-customer count/sum/min/max
      // kept fresh across a bootstrap fold and a changelog fold, reading
      // and rewriting ONLY touched buckets, with min/max repair pruned
      // to the groups whose extremum was deleted. The oracle recomputes
      // the final per-customer aggregate from scratch: green proves two
      // bucket-pruned extrema folds == full recompute.
      import graft.operators.Rollup
      val keys = Seq("o_custkey")
      val mets = Seq("o_totalprice")
      val statePath = "/tmp/graft_rollup_mmbk/state"
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_rollup_mmbk"), true)
      val o = t(s, dir, "orders").withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val img = struct(col("o_custkey"), col("o_totalprice"))
      val nullImg = when(lit(false), img)
      val boot = o.filter(col("o_orderkey") % 10 =!= 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val inserts = o.filter(col("o_orderkey") % 10 === 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val updates = o.filter(col("o_orderkey") % 10 === 1).select(
        img.as("before"),
        struct(col("o_custkey"),
          (col("o_totalprice") + 100).cast(DecimalType(18, 2))
            .as("o_totalprice")).as("after"),
        lit(E.Update).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val deletes = o.filter(col("o_orderkey") % 10 === 2).select(
        img.as("before"), nullImg.as("after"), lit(E.Delete).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      // base AFTER each batch applied — the repair contract
      val base0 = o.filter(col("o_orderkey") % 10 =!= 0)
        .select("o_custkey", "o_totalprice")
      val base1 = o.filter(col("o_orderkey") % 10 =!= 2)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 1,
            (col("o_totalprice") + 100).cast(DecimalType(18, 2)))
            .otherwise(col("o_totalprice")))
        .select("o_custkey", "o_totalprice")
      Rollup.foldBucketedWithExtrema(s, statePath, Rollup.retractions(boot),
        base0, keys, mets, numBuckets = 16, batchId = 0L)
      val changes = inserts.unionByName(updates).unionByName(deletes)
      Rollup.foldBucketedWithExtrema(s, statePath,
        Rollup.retractions(changes), base1, keys, mets,
        numBuckets = 16, batchId = 1L)
      Rollup.readBucketed(s, statePath)
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("total_price"),
          col("min_o_totalprice").cast("double").as("min_price"),
          col("max_o_totalprice").cast("double").as("max_price"))
        .orderBy("o_custkey")
    }),

    "incremental_rollup_minmax" -> ((s, dir) => {
      // extrema-carrying rollup maintenance (Rollup.foldWithExtrema):
      // count/sum fold as signed deltas, inserts extend min/max
      // in-state, and ONLY groups whose delete touched a current
      // extremum re-aggregate min/max from the (post-batch) base via a
      // key-pruned semi join. Same fixture as incremental_rollup —
      // the %10==2 deletes and the %10==1 before-images land on group
      // extrema at every scale factor, so the repair path runs. The
      // oracle recomputes the FINAL table's aggregate from scratch:
      // green proves fold+repair == full recompute.
      import graft.operators.Rollup
      val keys = Seq("o_orderpriority")
      val mets = Seq("o_totalprice")
      val o = t(s, dir, "orders").withColumn("o_totalprice",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val img = struct(col("o_orderpriority"), col("o_totalprice"))
      val nullImg = when(lit(false), img)
      val s0 = Rollup.initWithExtrema(
        o.filter(col("o_orderkey") % 10 =!= 0)
          .select("o_orderpriority", "o_totalprice"), keys, mets)
      val inserts = o.filter(col("o_orderkey") % 10 === 0).select(
        nullImg.as("before"), img.as("after"), lit(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val updates = o.filter(col("o_orderkey") % 10 === 1).select(
        img.as("before"),
        struct(col("o_orderpriority"),
          (col("o_totalprice") + 100).cast(DecimalType(18, 2))
            .as("o_totalprice")).as("after"),
        lit(E.Update).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val deletes = o.filter(col("o_orderkey") % 10 === 2).select(
        img.as("before"), nullImg.as("after"), lit(E.Delete).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      val changes = inserts.unionByName(updates).unionByName(deletes)
      // the base AFTER the batch applied — the repair contract
      val base = o.filter(col("o_orderkey") % 10 =!= 2)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 1,
            (col("o_totalprice") + 100).cast(DecimalType(18, 2)))
            .otherwise(col("o_totalprice")))
        .select("o_orderpriority", "o_totalprice")
      // the retraction batch stands in for a STORED changelog slice
      // (reality: read from the stream/log); materialize it once —
      // foldWithExtrema consumes it twice (additive delta + extrema
      // scan) and the lazy plan re-derived the 3-leg fixture union per
      // consumer (scan census: 13 scans in this row's plan)
      val st = Rollup.foldWithExtrema(s0,
        Rollup.retractions(changes).localCheckpoint(),
        base, keys, mets)
      st.select(col("o_orderpriority"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("total_price"),
          col("min_o_totalprice").cast("double").as("min_price"),
          col("max_o_totalprice").cast("double").as("max_price"))
        .orderBy("o_orderpriority")
    }),

    "bloom_pruned_scan" -> ((s, dir) => {
      // point-lookup through the bloom file index (sinks.ZOrderLake
      // .bloomManifest): lineitem hash-partitioned into 16 files so
      // min/max manifests cannot prune an orderkey probe, the bloom
      // index opens only files that can contain it. The probed key (the
      // table's min orderkey) is present at every scale factor; oracle
      // filters the original table directly — the index changes which
      // files are READ, never the result.
      val path = "/tmp/graft_bloom/lineitem"
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      l.repartition(16, col("l_orderkey"))
        .write.mode("overwrite").parquet(path)
      val man = graft.sinks.ZOrderLake.bloomManifest(s, path, "l_orderkey")
      val probe = l.agg(min("l_orderkey")).collect().head.getLong(0)
      graft.sinks.ZOrderLake.bloomPointRead(
          s, path, man, "l_orderkey", probe.toString)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_linenumber")
    }),

    "trigram_pruned_scan" -> ((s, dir) => {
      // substring-search through the trigram bloom index
      // (sinks.ZOrderLake.trigramBloomManifest): neither min/max nor a
      // value bloom can prune contains(); the trigram index opens only
      // files holding every trigram of the needle. Oracle filters the
      // original table — the index changes which files are read, never
      // the result.
      val path = "/tmp/graft_trgm/documents"
      val d = t(s, dir, "documents").select("doc_id", "text")
      d.repartition(16, col("doc_id"))
        .write.mode("overwrite").parquet(path)
      val man = graft.sinks.ZOrderLake.trigramBloomManifest(s, path, "text")
      graft.sinks.ZOrderLake.trigramRead(s, path, man, "text", "window small")
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),

    "sketch_kmv" -> ((s, dir) => {
      // KMV theta sketch (functions.Sketches.kmvSketch): bottom-256
      // hash values of two overlapping customer sets, union-merged and
      // membership-intersected — the set-operation capability HLL
      // lacks. Estimates surface as floored integers (ppm / cents) so
      // the cross-engine compare never rides on float rounding ties.
      import graft.functions.Sketches
      val o = t(s, dir, "orders")
      // eager checkpoints (scan census): each 256-row sketch is
      // consumed by BOTH the union and the intersection join — without
      // materialization each consumer re-ran the corpus scan (6 scans
      // measured for a row whose whole point is fixed-size sketches)
      val sa = Sketches.kmvSketch(
        o.filter(col("o_orderkey") % 3 =!= 0).select("o_custkey"), "o_custkey")
        .localCheckpoint(true)
      val sb = Sketches.kmvSketch(
        o.filter(col("o_orderkey") % 2 === 0).select("o_custkey"), "o_custkey")
        .localCheckpoint(true)
      val u = Sketches.kmvUnion(Seq(sa, sb))
      val summ = u.agg(count(lit(1)).as("k_eff"), max(col("h")).as("kth"))
      val inter = u.join(sa, "h").join(sb, "h")
        .agg(count(lit(1)).as("n_inter"))
      summ.crossJoin(inter).select(
        col("k_eff"), col("kth"), col("n_inter"),
        floor(col("n_inter").cast("double") / col("k_eff") * 1000000L)
          .as("jaccard_ppm"),
        floor(when(col("k_eff") < 256, col("k_eff").cast("double"))
          .otherwise(lit(255.0) * lit(281474976710656.0) /
            col("kth").cast("double")) * 100).as("union_est_x100"))
    }),

    "zorder_curve" -> ((s, dir) => {
      // Morton z-values (sinks.ZOrderLake.zValue) — pure shift/and/or
      // projection; the oracle recomputes them with DuckDB's bit
      // operators from the same generated loop
      val l = t(s, dir, "lineitem").filter(col("l_orderkey") % 50 === 0)
      val x = pmod(col("l_partkey"), lit(1024L))
      val y = pmod(col("l_suppkey"), lit(1024L))
      l.select(col("l_orderkey"), col("l_linenumber"),
          x.as("x"), y.as("y"),
          graft.sinks.ZOrderLake.zValue(Seq(x, y), 10).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "zorder_pruned_scan" -> ((s, dir) => {
      // E2E layout proof: lineitem written z-ordered on (part, supp)
      // buckets, then read back through the min/max manifest with a
      // supp-bucket predicate — only intersecting files are opened
      // (ZOrderLakeSpec asserts the file-count pruning; this row proves
      // the pruned read loses no rows). Oracle is a plain filter+agg
      // over the original table.
      val path = "/tmp/graft_zorder/lineitem"
      val l = t(s, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(1024L)).as("x"),
        pmod(col("l_suppkey"), lit(1024L)).as("y"),
        col("l_extendedprice"), col("l_quantity"))
      val man = graft.sinks.ZOrderLake.writeZOrdered(
        l, path, Seq("x", "y"), files = 16, bits = 10)
      graft.sinks.ZOrderLake.prunedRead(s, path, man, "y", 100, 163)
        .groupBy((col("y") % 8).as("yb"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("rev"),
          dsum(col("l_quantity")).as("qty"))
        .orderBy("yb")
    }),

    "sketch_hll" -> ((s, dir) => {
      // engine-exact HyperLogLog registers (functions.Sketches): the
      // query sketches two DISJOINT halves of orders and merges them
      // (per-bucket max); the oracle sketches the whole table in one
      // pass. A green row therefore proves both the register math and
      // the merge law — the property that lets per-shard/per-day
      // sketches fold without touching raw data at 100 TB.
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderkey") % 2 === 0)
      val b = o.filter(col("o_orderkey") % 2 === 1)
      graft.functions.Sketches.hllMerge(Seq(
          graft.functions.Sketches.hllRegisters(a, "o_custkey"),
          graft.functions.Sketches.hllRegisters(b, "o_custkey")))
        .orderBy("bucket")
    }),

    "sketch_cms" -> ((s, dir) => {
      // engine-exact Count-Min sketch over lineitem part frequencies:
      // same split-merge-vs-single-pass proof as sketch_hll, with
      // cell-wise sum as the merge. 4x1024 cells regardless of input
      // size — the fixed-size shuffle state is the entire point.
      val l = t(s, dir, "lineitem")
      val a = l.filter(col("l_orderkey") % 2 === 0)
      val b = l.filter(col("l_orderkey") % 2 === 1)
      graft.functions.Sketches.cmsMerge(Seq(
          graft.functions.Sketches.cmsTable(a, "l_partkey"),
          graft.functions.Sketches.cmsTable(b, "l_partkey")))
        .orderBy("j", "c")
    }),

    "range_join_sql" -> ((s, dir) => {
      // the same interval join as range_join, spelled as PLAIN SQL and
      // bucketized transparently by the RangeJoinRewrite optimizer rule
      // (plans.RangeJoinRewrite via SparkSessionExtensions). The plan
      // assertion proves the rewrite fired and killed the nested loop;
      // persist+count materializes THROUGH the rewritten plan so the
      // verified rows are the rule's output, not a later re-plan.
      val key = "spark.graft.rangejoin.bucketWidth"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "10000")
      try {
        t(s, dir, "lineitem")
          .select((col("l_orderkey") % 10).as("pg"),
            col("l_extendedprice").as("p"))
          .createOrReplaceTempView("rjq_pts")
        t(s, dir, "orders").filter(col("o_orderkey") % 500 === 0)
          .select(col("o_orderkey"), (col("o_orderkey") % 10).as("ig"),
            (col("o_totalprice") * 0.9).as("lo"),
            (col("o_totalprice") * 1.1).as("hi"))
          .createOrReplaceTempView("rjq_ivs")
        val df = s.sql(
          """SELECT o_orderkey, count(*) AS n,
            |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM rjq_pts JOIN rjq_ivs
            |  ON pg = ig AND lo <= p AND p < hi
            |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("__rj_b"), "rewrite did not fire:\n" + plan)
        require(!plan.contains("BroadcastNestedLoopJoin") &&
          !plan.contains("CartesianProduct"), plan)
        df.persist(); df.count() // aggregated output: ~interval-count
        df                       // rows (~30 at sf0.01), KBs pinned
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),

    "serialize_csv" -> ((s, dir) => {
      // CSV wire serializer (Sinks.csvLine): NULL -> empty field,
      // embedded delimiter / quote / newline -> quoted with internal
      // quotes doubled. The fixture plants each hazard deterministically
      // so the oracle re-derives the exact quoted lines in SQL.
      val base = t(s, dir, "customer").select(
        col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit(null).cast(StringType))
          .when(col("c_custkey") % 5 === 1, concat(lit("a,"), col("c_name")))
          .when(col("c_custkey") % 5 === 2, concat(lit("q\""), col("c_name")))
          .when(col("c_custkey") % 5 === 3, concat(lit("n\n"), col("c_name")))
          .otherwise(col("c_name")).as("v"),
        col("c_mktsegment"))
      graft.sinks.Sinks.serializeCsv(base,
        Seq("c_custkey", "v", "c_mktsegment")).orderBy("value")
    }),

    "agg_stats" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("value")).as("mn"), max(col("value")).as("mx"),
          dsum(col("value"), 18, 2).as("sm"))
        .orderBy("event_type")),

    // ---- LLM-pipeline operators --------------------------------------
    "doc_chunks" -> ((s, dir) =>
      // training-data chunking: 64-token windows, 16-token overlap
      t(s, dir, "documents").select(col("doc_id"),
        posexplode(TextAnalysis.chunks(col("text"), 64, 16))
          .as(Seq("chunk_id", "chunk")))
        .select(col("doc_id"), col("chunk_id"), col("chunk"),
          TextAnalysis.tokenCount(col("chunk")).as("n_tokens"))
        .orderBy("doc_id", "chunk_id")),

    "corpus_stats" -> ((s, dir) =>
      // per-language corpus rollup with an exact interpolated median
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("nt"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("total_tokens"),
          expr("percentile(nt, 0.5)").as("median_tokens"),
          min(col("nt")).as("min_tokens"), max(col("nt")).as("max_tokens"))
        .orderBy("lang")),

    "funnel" -> ((s, dir) => {
      // ordered conversion funnel over the events stream: users whose
      // first view precedes their first click precedes their first
      // purchase — min-timestamp comparison, one shuffle on user
      val e = t(s, dir, "events")
      val byUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
      byUser.agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_view"),
        count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
        count(when(col("t_view") < col("t_click") &&
          col("t_click") < col("t_buy"), 1)).as("n_full_funnel"))
    }),

    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("fp")),

    "text_stats" -> ((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "dedup_clusters" -> ((s, dir) => {
      // transitive duplicate-cluster resolution: candidate pairs built
      // deterministically as doc_id -> 2*doc_id and 3*doc_id (self-join
      // keeps them in-corpus, no driver-side max), yielding multi-hop
      // components the resolver must close transitively — (k, 2k) and
      // (2k, 6k) only meet through propagation, never in one pair
      val d = t(s, dir, "documents").select("doc_id")
      def times(m: Int) = d.as("a").join(d.as("b"),
          col("b.doc_id") === col("a.doc_id") * m && col("a.doc_id") > 0)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.resolveClusters(times(2).union(times(3)), "id_a", "id_b")
        .orderBy("doc_id")
    }),

    "dedup_canonical" -> ((s, dir) => {
      // the dedup pipeline end-to-end: MinHash-LSH candidate pairs ->
      // transitive connected components -> one canonical survivor per
      // cluster, unpaired docs surviving as their own cluster — the
      // keep/drop frame a corpus build actually consumes
      val docs = t(s, dir, "documents")
      Dedup.canonicalize(docs,
          Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_id")
        .orderBy("doc_id")
    }),

    "line_dedup" -> ((s, dir) =>
      // C4-style corpus-wide line dedup: repeated 10-token lines keep
      // only their globally-first occurrence, docs reassemble from the
      // surviving lines
      TextAnalysis.lineDedup(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "dedup_incremental" -> ((s, dir) => {
      // cross-snapshot dedup: even docs are the ingested history, the
      // "new crawl" batch is the odd docs plus planted re-crawls of
      // history docs (id+10000 — must drop against history) and
      // planted within-batch copies (id+20000 — must lose to the
      // min-id original); survivors are exactly the novel odd docs
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") % 2 === 0 &&
            col("doc_id") % 10 === 0)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
        .unionAll(docs.filter(col("doc_id") % 2 === 1 &&
            col("doc_id") % 10 === 1)
          .select((col("doc_id") + 20000).as("doc_id"), col("text")))
      Dedup.crossSnapshotDedup(batch, history, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "dedup_lsh_incremental" -> ((s, dir) => {
      // continuous-crawl near-dup dedup: the corpus arrives in two
      // batches (even doc_ids, then odd); each update probes the
      // persisted band index by broadcasting ITS band rows into a
      // map-side join (the index never shuffles, cost per update is
      // O(index scan + batch)) and then appends its own rows. The
      // union of discovered pairs must equal a one-shot full
      // recompute — which is exactly what the oracle does in SQL.
      val base = "/tmp/graft_bandindex"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = t(s, dir, "documents")
      val u1 = Dedup.bandIndexUpdate(s"$base/idx",
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
      val u2 = Dedup.bandIndexUpdate(s"$base/idx",
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id")
      u1.unionByName(u2).orderBy("id_a", "id_b")
    }),

    "dedup_lsh_compact" -> ((s, dir) => {
      // index MAINTENANCE mid-stream: three updates with a compaction
      // between the second and third — the compacted lake must serve
      // the next update exactly as the uncompacted one would, so the
      // cumulative union still equals the one-shot full recompute
      // (dedup_lsh_incremental's oracle, shared). File-count collapse
      // is spec-asserted; this row gates the ANSWER across the swap.
      val base = "/tmp/graft_bandindex_compact"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = t(s, dir, "documents")
      val us = Seq(0, 1, 2).map { m =>
        val u = Dedup.bandIndexUpdate(s"$base/idx",
          docs.filter(pmod(col("doc_id"), lit(3)) === m), "text", "doc_id")
        if (m == 1) Dedup.bandIndexCompact(s, s"$base/idx")
        u
      }
      us.reduce(_ unionByName _).orderBy("id_a", "id_b")
    }),

    "stream_dedup_lsh" -> ((s, dir) => {
      // the continuous-crawl dedup loop under the real streaming
      // machinery: document batches arrive through a checkpointed
      // FILE-source stream (feed, state, and sink all distributed —
      // the MemoryStream spelling would collect the corpus to the
      // driver, the known sf1 superlinear trap), each foreachBatch
      // probing THEN appending the persisted band index
      // (Dedup.bandIndexUpdate — the index never shuffles); discovered
      // pairs append to a pairs lake, distinct-read for replay
      // idempotency. Two micro-batches must leave exactly the
      // full-recompute pair set — dedup_lsh_incremental's oracle.
      // (No withStateStoreFor here: the streaming query is a plain
      // file source + foreachBatch — NO stateful operator, so no state
      // store ever opens; the standing state lives in the band-index
      // lake itself, maintained by bandIndexUpdate.)
      val base = "/tmp/graft_streamlsh"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/in")
      def run(): Unit = {
        val q = s.readStream.schema(docs.schema).parquet(s"$base/in")
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[
              org.apache.spark.sql.Row], _: Long) =>
            Dedup.bandIndexUpdate(s"$base/idx", batch.toDF(), "text", "doc_id")
              .write.mode("append").parquet(s"$base/pairs")
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run()
      docs.filter(col("doc_id") % 2 =!= 0).write.mode("append")
        .parquet(s"$base/in")
      run()
      s.read.parquet(s"$base/pairs").distinct().orderBy("id_a", "id_b")
    }),

    "bpe_pair_stats" -> ((s, dir) =>
      // BPE iteration zero: corpus-wide adjacent character-pair counts,
      // top 50 — a map-side-combined count whose aggregate is
      // alphabet²-sized; ties rank lexicographically in both engines
      TextAnalysis.bpePairStats(t(s, dir, "documents"), "text", k = 50)),

    "bpe_train" -> ((s, dir) =>
      // greedy BPE merges: three rounds of corpus-wide
      // most-frequent-pair fusion; each round's winner is a one-row
      // driver literal broadcast into the next round's rewrite, and
      // the oracle replays the identical three rounds in SQL
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", merges = 3)
        .orderBy("round")),

    "bpe_apply" -> ((s, dir) => {
      // tokenizer end-to-end: train 3 merges, then tokenize the corpus
      // with them and report the top-20 vocabulary — the learned
      // multi-char tokens must appear with exactly the counts the
      // oracle's replayed merge chain produces
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", merges = 3)
        .orderBy("round").collect().map(_.getString(1)).toSeq
      TextAnalysis.bpeApply(docs, "text", merges)
        .orderBy(col("cnt").desc, col("token")).limit(20)
    }),

    "lm_score" -> ((s, dir) =>
      // CCNet-style quality gate: corpus-trained add-one bigram LM,
      // per-doc tf-weighted mean log-prob; training is two counting
      // aggregations, scoring two balanced key joins — no driver model
      TextAnalysis.bigramLmScore(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "nb_classify" -> ((s, dir) =>
      // model-based labeling: multinomial Naive Bayes trained on the
      // corpus's lang labels by pure counting aggs, full per-class
      // score matrix with a deterministic argmax rank (the fixture's
      // labels aren't text-correlated — the MECHANISM under test is the
      // distributed train/score/argmax pipeline, proven bit-exact)
      TextAnalysis.nbClassify(t(s, dir, "documents"), "text", "lang",
          "doc_id")
        .orderBy("doc_id", "rank")),

    "classifier_eval" -> ((s, dir) => {
      // the QA half of model-based labeling: NB predictions scored
      // against the lang labels — exact integer confusion counts per
      // class (classes broadcast, one conditional aggregation), then
      // rounded precision/recall/F1
      val docs = t(s, dir, "documents")
      val pred = TextAnalysis.nbClassify(docs, "text", "lang", "doc_id")
        .filter(col("rank") === 1)
        .select(col("doc_id"), col("cls").as("pred"))
      TextAnalysis.classifierEval(
        docs.select(col("doc_id"), col("lang")).join(pred, Seq("doc_id")),
        "lang", "pred")
        .orderBy("cls")
    }),

    "html_extract" -> ((s, dir) => {
      // the corpus has no markup column, so plant deterministic HTML
      // (title/style/script/nav blocks, comments, entities) around each
      // doc's text and run the extraction chain; the oracle rebuilds
      // the identical page and re-derives the same RE2 chain
      val page = concat(
        lit("<html><head><title>"), col("source"), lit(" | "), col("lang"),
        lit("</title><style>body {color: #000}</style></head>\n<body>"),
        lit("<nav>Home &gt; Docs</nav><script>var x = 1 < 2;</script>"),
        lit("<h1>Doc "), col("doc_id").cast("string"), lit("</h1>\n<p>"),
        substring(col("text"), 1, 120),
        lit(" &amp; more&nbsp;&#39;quoted&#39;</p><!-- id "),
        col("doc_id").cast("string"), lit(" --></body></html>"))
      t(s, dir, "documents").select(col("doc_id"), page.as("html"))
        .select(col("doc_id"),
          graft.functions.Html.title(col("html")).as("title"),
          graft.functions.Html.text(col("html")).as("text_clean"))
        .withColumn("n_chars", length(col("text_clean")).cast("long"))
        .orderBy("doc_id")
    }),

    "token_budget_sample" -> ((s, dir) =>
      // flat-mixture rebalance to a 30% token budget split equally
      // across the 5 languages: dominant langs sample down, rare langs
      // keep everything (rate capped at 100%)
      graft.functions.Sampling.tokenBudgetSummary(
        t(s, dir, "documents"), "text", "lang", "doc_id",
        budgetNum = 3, budgetDen = 10)
        .withColumnRenamed("stratum", "lang").orderBy("lang")),

    "dsir_weights" -> ((s, dir) =>
      // DSIR importance weighting: hashed-token bucket distributions
      // for the English slice (target) vs the whole corpus (raw);
      // per-doc summed log importance ratio, threshold-at-zero gate.
      // Both "models" are 256-row count tables; scoring is one
      // broadcast join — no corpus-sized model state anywhere.
      graft.functions.Sampling.dsirWeights(
        t(s, dir, "documents"), "text", "doc_id", col("lang") === "en")
        .orderBy("doc_id")),

    "dsir_select" -> ((s, dir) => {
      // the selection half of DSIR at scale: keep the top quartile by
      // importance weight WITHOUT a global sort — weights become exact
      // integer micro-units, the threshold comes from the domain-sized
      // count histogram (Quantiles.gate), and the corpus is filtered by
      // one broadcast threshold row. No corpus-sized sort or window.
      val w = graft.functions.Sampling.dsirWeights(
          t(s, dir, "documents"), "text", "doc_id", col("lang") === "en")
        .withColumn("logw_micro",
          round(col("logw") * 1000000d, 0).cast("long"))
      Quantiles.gate(w, "logw_micro", loPermille = 750, hiPermille = 1000)
        .select("doc_id", "n_tok", "logw")
        .orderBy("doc_id")
    }),

    "temperature_sample" -> ((s, dir) =>
      // temperature-flattened mixture (tau=1/2 via IEEE-exact sqrt):
      // big langs sample down harder than proportional, small langs
      // keep more — 40% doc budget redistributed by sqrt weights
      graft.functions.Sampling.temperatureSummary(
        t(s, dir, "documents"), "lang", "doc_id",
        budgetNum = 2, budgetDen = 5)
        .withColumnRenamed("stratum", "lang").orderBy("lang")),

    "shard_manifest" -> ((s, dir) =>
      // deterministic shard assignment (stable hash mod 8) + the
      // per-shard doc/token manifest a corpus shard writer verifies
      // against; balance comes from the hash, not a shuffle
      graft.functions.Sampling.shardManifest(
        t(s, dir, "documents"), "text", "doc_id", nShards = 8)
        .orderBy("shard")),

    "sequence_pack" -> ((s, dir) =>
      // GPT-style concat-and-chunk packing offsets into 512-token
      // training sequences; the prefix-sum is distributed (bucketed
      // windows + domain-sized base offsets), never a corpus-wide
      // single-partition window
      TextAnalysis.packSequences(t(s, dir, "documents"), "text", "doc_id",
        seqTokens = 512, idsPerBucket = 64)
        .orderBy("doc_id")),

    "pack_fragmentation" -> ((s, dir) =>
      // per-pack doc-boundary profile of the 512-token packing: docs
      // per pack, starts vs straddlers, token fill — the report that
      // guides seqTokens/doc-order choices for attention-mask packing;
      // explode is span-sized (corpus + straddles), never token-sized
      TextAnalysis.packFragmentation(t(s, dir, "documents"), "text",
        "doc_id", seqTokens = 512, idsPerBucket = 64)
        .orderBy("pack_id")),

    "pack_bins" -> ((s, dir) =>
      // first-fit NO-straddle packing (SFT recipe: a doc never splits
      // across sequences): greedy fold per contiguous-id bucket
      // (bounded state, restart waste <= 1 partial bin per bucket),
      // dense global bin ids from the two-level base-offset discipline
      TextAnalysis.packBinsGreedy(t(s, dir, "documents"), "text",
        "doc_id", seqTokens = 512, idsPerBucket = 64)
        .orderBy("doc_id")),

    "doc_tfidf" -> ((s, dir) =>
      // corpus-weighted keywords: top-3 per doc ranked by integer keys
      // (tf desc, rarer df first, token) — the float tf-idf score is
      // reported, never sorted on
      TextAnalysis.tfidfKeywords(t(s, dir, "documents"), "text", "doc_id",
        k = 3)
        .orderBy("doc_id", "rank")),

    "bm25_search" -> ((s, dir) =>
      // ranked full-text retrieval: four fixed queries over the corpus,
      // BM25 top-10 each; the corpus token stream is pruned against the
      // broadcast query vocabulary before the only corpus-sized shuffle
      TextAnalysis.bm25TopK(t(s, dir, "documents"), Seq(
          0 -> "spark window agg", 1 -> "hash join merge",
          2 -> "vector scan query", 3 -> "customer order line part"),
        "text", "doc_id", k = 10)
        .orderBy("query_id", "rank")),

    "hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: a lexical BM25 list and a dense-cosine list
      // over the same query ids (doc_id and vec_id share a domain in
      // the fixtures), fused by reciprocal-rank fusion. Self-hits are
      // dropped AFTER ranking, so surviving ranks are the true
      // per-list positions — the oracle mirrors that order exactly.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val qs = docs.filter(col("doc_id") < 4).select("doc_id", "text")
        .collect().map(r => (r.getLong(0).toInt, r.getString(1)))
        .sortBy(_._1).toSeq // 4 query rows — metadata-scale collect
      val lex = TextAnalysis.bm25TopK(docs, qs, "text", "doc_id", k = 20)
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id").cast("long").as("query_id"),
          col("doc_id").as("id"), col("rank"))
      val vec = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 4), emb, "embedding", "vec_id", k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), k = 10)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "url_normalize" -> ((s, dir) => {
      // the fixture corpus has no URL column, so plant deterministic
      // messy URLs (mixed-case authority, tracking params, fragments)
      // and canonicalize; the oracle builds the identical input and
      // re-derives the chain with the same RE2 patterns
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM/"), col("lang"), lit("/p/"),
          (col("doc_id") % 97).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?page="), (col("doc_id") % 5).cast("string"),
              lit("&utm_source=feed&ref="), col("doc_id").cast("string")))
            // suffix-collision params: href=/pref=/xutm_source= are NOT
            // tracking params and must survive the strip intact while
            // the interior utm_medium goes — the false-merge trap an
            // unanchored pattern falls into
            .when(col("doc_id") % 3 === 1,
              concat(lit("?href=h"), (col("doc_id") % 7).cast("string"),
                lit("&utm_medium=m&pref=1&xutm_source=1")))
            .otherwise(lit("?utm_source=feed")),
          lit("#sec")).as("url"))
      planted.select(col("doc_id"),
          UrlOps.normalize(col("url")).as("url_norm"))
        .withColumn("host", UrlOps.host(col("url_norm")))
        .orderBy("doc_id")
    }),

    "quantile_gate" -> ((s, dir) =>
      // outlier gate on exact [5%, 95%] token-count quantiles, derived
      // from a count histogram with integer cross-multiplied ranks —
      // scale-exact where percentile() would buffer the corpus
      Quantiles.gate(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "n_tokens", loPermille = 50, hiPermille = 950)
        .orderBy("doc_id")),

    "source_cap" -> ((s, dir) =>
      // per-source cap: no source contributes more than its 10 best
      // docs by quality (doc_id tie-break keeps the rank deterministic)
      graft.functions.Sampling.capPerGroup(
        t(s, dir, "documents").select(col("source"), col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "source", k = 10,
        Seq(col("quality").desc, col("doc_id").asc))
        .orderBy("source", "rank")),

    "decontaminate" -> ((s, dir) => {
      // benchmark decontamination: every 97th doc plays the eval set,
      // the rest are training docs; a training doc is contaminated if
      // it shares any 5-gram with the eval side (broadcast semi-join,
      // no corpus shuffle — plan keeps the corpus scan exchange-free
      // up to the final count aggregation)
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      Dedup.contamination(train, bench, "text", "doc_id", n = 5)
        .orderBy("doc_id")
    }),

    "pii_scrub" -> ((s, dir) => {
      // PII redaction over documents: the fixture corpus is clean, so
      // plant deterministic hazards (email/IP/phone/ID) on a slice of
      // docs — the oracle builds the identical input and re-derives the
      // scrub with the same RE2 patterns
      val planted = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"),
            lit(" contact bob.smith+x@corp.example.com now")))
          .when(col("doc_id") % 7 === 1, concat(col("text"),
            lit(" from 192.168.11.7 port 443")))
          .when(col("doc_id") % 7 === 2, concat(col("text"),
            lit(" call +14155550123 today")))
          .when(col("doc_id") % 7 === 3, concat(col("text"),
            lit(" or 415-555-0199 ext 7")))
          .when(col("doc_id") % 7 === 4, concat(col("text"),
            lit(" account 9934120455 closed")))
          .otherwise(col("text")).as("text"))
      planted.select(col("doc_id"),
          TextAnalysis.piiScrub(col("text")).as("scrubbed"))
        .filter(col("scrubbed").contains("<"))
        .orderBy("doc_id")
    }),

    "doc_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "corpus_vocab" -> ((s, dir) =>
      TextAnalysis.vocab(t(s, dir, "documents"), "text")),

    "text_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id")),

    "lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang"), col("lang"))
        .orderBy("doc_id")),

    "doc_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
        .orderBy("doc_id")),

    "dedup_minhash_bands" -> ((s, dir) =>
      Dedup.lshBands(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id", "band")),

    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("id_a", "id_b")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashFrame(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("doc_id")),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 150),
        "text", "doc_id", shingleN = 3, minJaccard = 0.02)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    "substring_dedup" -> ((s, dir) =>
      // substring-granular exact dedup (Lee et al. 2022 shape): maximal
      // per-doc spans of 3-token windows whose fingerprint repeats
      // anywhere in the corpus — integer token positions only
      Dedup.duplicatedSpans(t(s, dir, "documents"), "text", "doc_id",
        w = 3)
        .orderBy("doc_id", "span_start")),

    "substring_cut" -> ((s, dir) =>
      // the curation action on those spans: cut them, keep the unique
      // remainder; only the span table shuffles, the corpus stays put
      Dedup.cutDuplicatedSpans(t(s, dir, "documents"), "text", "doc_id",
        w = 3)
        .orderBy("doc_id")),

    "ann_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_quantized" -> ((s, dir) => {
      // SQ8 storage path: corpus quantized to int8 codes (4x smaller on
      // disk), reconstructed, ranked by cosine against full-precision
      // queries — the lossy layout must preserve neighbor ordering
      val e = t(s, dir, "embeddings")
      val qz = Similarity.quantizeInt8(e, "embedding", "vec_id")
      val corpus = qz.select(col("vec_id"),
        Similarity.dequantInt8(col("codes"), col("q_lo"), col("q_scale"))
          .as("embedding"))
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), corpus, "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_lsh_bucket" -> ((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        Similarity.hyperplaneBucket(col("embedding"), 8).as("bucket"))
        .orderBy("vec_id")),

    "ann_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") < 10), e,
        "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "ann_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(e.filter(col("vec_id") < 10), e,
        "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "grouped_quantiles" -> ((s, dir) =>
      // per-language median doc length: the count-histogram quantile
      // discipline partitioned by group — (group × domain)-sized
      // state, never a per-row sort
      graft.functions.Quantiles.groupedThreshold(
          t(s, dir, "documents"), "lang", "n_chars", permille = 500)
        .orderBy("lang")),

    "scd2_build" -> ((s, dir) => {
      // slowly-changing-dimension (type 2) build: a keyed change
      // stream becomes validity intervals — lead() over (key, lsn)
      // closes each version at the next change, the open head carries
      // NULL valid_to. Three planted versions per order key, with
      // version 2 dropped for every 3rd key (uneven histories). One
      // key-partitioned window — the warehouse-dimension shuffle
      // shape, balanced on the dimension key at any scale.
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v0"))
      val changes = Seq(1, 2, 3).map(i =>
          o.select(col("k"), (col("v0") + lit(i * 100.0)).as("v"),
            lit(i.toLong * 10).as("lsn")))
        .reduce(_ unionByName _)
        .filter(!(col("lsn") === 20 && col("k") % 3 === 0))
      val w = Window.partitionBy("k").orderBy("lsn")
      changes
        .withColumn("valid_to", lead(col("lsn"), 1).over(w) - 1)
        .select(col("k"), col("v"), col("lsn").as("valid_from"),
          col("valid_to"))
        .orderBy("k", "valid_from")
    }),

    "scd2_lookup" -> ((s, dir) => {
      // point-in-time dimension lookup: each probe (key, at_lsn)
      // resolves to the version whose validity interval covers it —
      // equi-join on the dimension key with the interval residual, so
      // the shuffle stays balanced on k; probes before any version
      // (at_lsn < 10) drop out
      import org.apache.spark.sql.expressions.Window
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("v0"))
      val changes = Seq(1, 2, 3).map(i =>
          o.select(col("k"), (col("v0") + lit(i * 100.0)).as("v"),
            lit(i.toLong * 10).as("lsn")))
        .reduce(_ unionByName _)
        .filter(!(col("lsn") === 20 && col("k") % 3 === 0))
      val w = Window.partitionBy("k").orderBy("lsn")
      val dim = changes
        .withColumn("valid_to", lead(col("lsn"), 1).over(w) - 1)
        .select(col("k"), col("v"), col("lsn").as("valid_from"),
          col("valid_to"))
      val probes = o.select(col("k"), (col("k") % 35).as("at_lsn"))
      probes.join(dim, Seq("k"))
        .filter(col("at_lsn") >= col("valid_from") &&
          (col("valid_to").isNull || col("at_lsn") <= col("valid_to")))
        .select(col("k"), col("at_lsn"), col("v"), col("valid_from"))
        .orderBy("k")
    }),

    "curriculum_shards" -> ((s, dir) =>
      // quality-curriculum sharding: exact quartile cuts on doc length
      // via the count-histogram thresholds (domain-sized, never a
      // corpus sort), each doc routed to its quartile shard
      graft.functions.Quantiles.shardByQuantiles(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "n_chars", Seq(250, 500, 750))
        .select("doc_id", "n_chars", "shard")
        .orderBy("doc_id")),

    "leakage_split" -> ((s, dir) => {
      // leakage-free train/eval split: a deterministic 10% hash split,
      // then any TRAIN doc that near-duplicates an EVAL doc (banded
      // MinHash candidates — never all-pairs) is quarantined from
      // train. This is the decontamination discipline applied at split
      // time: without it, eval twins leak into training and inflate
      // benchmark scores.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tagged = docs.withColumn("is_eval",
        pmod(graft.functions.Hashing.hex8ToLong(
          concat(lit("split:"), col("doc_id").cast(StringType))),
          lit(10L)) === 0)
      // eager checkpoint (diamond sweep): pairs is
      // candidate-pair-sized (the banded-candidate OUTPUT, never
      // all-pairs) and is probed from BOTH directions below — without
      // it the whole shingle+minhash+band pipeline runs twice
      // (measured 5 scans / 6 explodes in the executed plan)
      val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
        .localCheckpoint(true)
      val evalIds = tagged.filter(col("is_eval"))
        .select(col("doc_id").as("eid"))
      val leaky = pairs.join(evalIds, col("id_a") === col("eid"))
        .select(col("id_b").as("doc_id"))
        .unionByName(pairs.join(evalIds, col("id_b") === col("eid"))
          .select(col("id_a").as("doc_id")))
        .distinct().withColumn("leaky", lit(true))
      tagged.join(leaky, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_eval"), "eval")
            .when(coalesce(col("leaky"), lit(false)), "quarantine")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    }),

    "entity_match" -> ((s, dir) => {
      // record linkage for data integration: a dirty re-import of
      // customers (one character corrupted per name) must link back to
      // its master row. Blocking on the name's 5-char suffix keeps the
      // candidate join bucket-local (never all-pairs) — and block
      // CARDINALITY grows with the corpus, so occupancy stays ~1 at
      // any scale (a fixed block count would go quadratic: measured
      // 15s at derived sf1 with 3-char blocks, 150 rows/block);
      // integer-exact
      // Levenshtein gates the block pairs, threshold 1 — the corrupted
      // char — links exactly the true master.
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val dirty = c.select((col("c_custkey") + 1000000L).as("d_key"),
        concat(substring(col("c_name"), 1, 3), lit("X"),
          substring(col("c_name"), 5, 100)).as("d_name"))
      EntityMatch.link(dirty, "d_key", "d_name", c, "c_custkey", "c_name",
          EntityMatch.suffixBlocker(5), maxDist = 1)
        .select(col("d_key"), col("c_custkey").as("master_key"), col("dist"))
        .orderBy("d_key", "master_key")
    }),

    "entity_match_masked" -> ((s, dir) => {
      // the general-position linkage: corruption lands at a
      // hash-derived position per row (possibly inside the suffix,
      // where suffix blocking goes blind) — the deletion-neighborhood
      // blocker masks each position, so a 1-substitution pair shares
      // the key at its differing position and block occupancy is true
      // near-dups, not a q-gram frequency class (the positional
      // segment spelling degenerated to all-pairs on these
      // constant-prefix names: 869 s at sf0.1). A corrupted digit can
      // also land within distance 1 of a NEIGHBOR master differing
      // only at that digit, so multi-links are part of the contract
      // (and the oracle).
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val p = (pmod(Hashing.hex8ToLong(col("c_custkey").cast("string")),
        length(col("c_name")).cast("long")) + 1).cast("int")
      val dirty = c.select((col("c_custkey") + 1000000L).as("d_key"),
        concat(col("c_name").substr(lit(1), p - 1), lit("X"),
          col("c_name").substr(p + 1, length(col("c_name")))).as("d_name"))
      EntityMatch.link(dirty, "d_key", "d_name", c, "c_custkey", "c_name",
          EntityMatch.maskBlocker, maxDist = 1)
        .select(col("d_key"), col("c_custkey").as("master_key"), col("dist"))
        .orderBy("d_key", "master_key")
    }),

    "entity_match_edit" -> ((s, dir) => {
      // indel-robust linkage: per-row hash picks INSERT-or-DELETE
      // corruption at a hash-derived position — exactly the corruption
      // class where the position-tagged mask blocker's recall is ZERO
      // by contract (every position after the edit shifts; law-tested
      // in EntityMatchSpec). The untagged deletion-neighborhood
      // blocker (identity + every 1-char deletion, SymSpell-style)
      // covers the whole edit-distance-1 ball: deleting the inserted
      // char / the substituted position meets the master's key set.
      // Neighbor masters one digit apart can also land at distance 1,
      // so multi-links are part of the contract (and the oracle).
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val h = Hashing.hex8ToLong(col("c_custkey").cast("string"))
      val len = length(col("c_name"))
      val p = (pmod(shiftright(h, 1), len.cast("long")) + 1).cast("int")
      val deleted = concat(col("c_name").substr(lit(1), p - 1),
        col("c_name").substr(p + 1, len))
      val inserted = concat(col("c_name").substr(lit(1), p - 1), lit("X"),
        col("c_name").substr(p, len))
      val dirty = c.select((col("c_custkey") + 1000000L).as("d_key"),
        when(pmod(h, lit(2)) === 0, deleted).otherwise(inserted)
          .as("d_name"))
      EntityMatch.link(dirty, "d_key", "d_name", c, "c_custkey", "c_name",
          EntityMatch.deletionBlocker, maxDist = 1)
        .select(col("d_key"), col("c_custkey").as("master_key"), col("dist"))
        .orderBy("d_key", "master_key")
    }),

    "entity_match_edit2" -> ((s, dir) => {
      // distance-2 linkage: TWO hash-driven edits per name (first
      // insert-or-delete at p; second delete/insert/substitute at a
      // hash position of the intermediate string) — real crawl
      // corruption is rarely a single edit. Blocked by the depth-2
      // deletion neighborhood (deletionBlocker2, the SymSpell depth-2
      // index), which is recall-complete for ANY edit ≤ 2 — so the
      // oracle is the NAIVE all-pairs levenshtein join: the hash-match
      // PROVES the blocker drops nothing, the same proof discipline as
      // containment_join.
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val h = Hashing.hex8ToLong(col("c_custkey").cast("string"))
      val len = length(col("c_name"))
      val p = (pmod(shiftright(h, 1), len.cast("long")) + 1).cast("int")
      val del1 = concat(col("c_name").substr(lit(1), p - 1),
        col("c_name").substr(p + 1, len))
      val ins1 = concat(col("c_name").substr(lit(1), p - 1), lit("X"),
        col("c_name").substr(p, len))
      val step1 = c.select(col("c_custkey"),
        when(pmod(h, lit(2)) === 0, del1).otherwise(ins1).as("r1"),
        h.as("__h"))
      val len1 = length(col("r1"))
      val q = (pmod(shiftright(col("__h"), 3), len1.cast("long")) + 1)
        .cast("int")
      val del2 = concat(col("r1").substr(lit(1), q - 1),
        col("r1").substr(q + 1, len1))
      val ins2 = concat(col("r1").substr(lit(1), q - 1), lit("Y"),
        col("r1").substr(q, len1))
      val sub2 = concat(col("r1").substr(lit(1), q - 1), lit("Z"),
        col("r1").substr(q + 1, len1))
      val kind2 = pmod(shiftright(col("__h"), 2), lit(3))
      val dirty = step1.select((col("c_custkey") + 1000000L).as("d_key"),
        when(kind2 === 0, del2).when(kind2 === 1, ins2).otherwise(sub2)
          .as("d_name"))
      EntityMatch.link(dirty, "d_key", "d_name", c, "c_custkey", "c_name",
          EntityMatch.deletionBlocker2, maxDist = 2)
        .select(col("d_key"), col("c_custkey").as("master_key"), col("dist"))
        .orderBy("d_key", "master_key")
    }),

    "dedup_elect_skewed" -> ((s, dir) =>
      // representative election under a HOT cluster: 90% of the corpus
      // lands in cluster 0 — the struct-max aggregate is map-side
      // combined, so the hot cluster costs one partial per task, not a
      // window sort over 90% of the corpus (the shape skewed
      // real-world near-dup graphs produce: one boilerplate cluster
      // holding most of the crawl)
      Dedup.electRepresentatives(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
          when(col("doc_id") % 10 < 9, lit(0L))
            .otherwise(col("doc_id") % 100).as("cluster")),
        "doc_id", "cluster", "n_chars")
        .orderBy("cluster")),

    "code_detect" -> ((s, dir) => {
      // code-vs-prose routing: every 5th doc gets a code snippet
      // appended; the integer-exact signals (symbol/indent basis
      // points, keyword hits) and the gate must match the oracle's
      // identical regex arithmetic
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(TextAnalysis.CodeSnippet)))
          .otherwise(col("text")).as("text"))
      TextAnalysis.codeSignals(docs, "text", "doc_id").orderBy("doc_id")
    }),

    "key_share_topk" -> ((s, dir) =>
      // the pre-upload key-distribution probe: top-20 heaviest join
      // keys with integer-exact basis-point shares — the numbers a
      // planner uses to pick salting/bucketing before a big join
      // (complements skew_profile's magnitude histogram and
      // heavy_keys' salt factors with the exact head of the key mass)
      graft.functions.Profiling.skewProfile(
        t(s, dir, "orders"), "o_custkey", k = 20)),

    "drift_report" -> ((s, dir) => {
      // post-load monitoring: per-column stats for two snapshots side
      // by side — the "after" snapshot plants a flat surcharge on open
      // orders, which must move mean/max but not counts. An exact IEEE
      // sum, deliberately NOT round(x*1.1, 2): rounding a computed
      // double at 2 decimals is the classic cross-engine trap (Spark
      // rounds the shortest decimal rendering, DuckDB the binary
      // value — they split on near-half products).
      val o = t(s, dir, "orders")
      val after = o.withColumn("o_totalprice",
        when(col("o_orderstatus") === "O", col("o_totalprice") + 750.0)
          .otherwise(col("o_totalprice")))
      graft.functions.Profiling.driftReport(o, after,
          Seq("o_totalprice", "o_custkey"))
        .orderBy("snapshot", "column")
    }),

    "pagerank" -> ((s, dir) => {
      // corpus-quality weighting via link rank (the harvest-rank
      // recipe): a planted two-outlink graph (i -> i div 2 and
      // i -> i div 3, a funnel toward low ids), three iterations with
      // per-edge contributions rounded then DECIMAL-summed so the
      // oracle replays every double exactly
      val d = t(s, dir, "documents").select(col("doc_id"))
      val edges = d.select(col("doc_id").as("src"),
          expr("CAST(doc_id AS BIGINT) div 2").as("dst"))
        .unionAll(d.select(col("doc_id").as("src"),
          expr("CAST(doc_id AS BIGINT) div 3").as("dst")))
      graft.functions.Graph.pagerank(edges, "src", "dst", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(30)
        .select(col("node").as("doc_id"), col("rank"))
    }),

    "ann_matryoshka" -> ((s, dir) => {
      // Matryoshka coarse-to-fine: rank with the first 16 of 64 dims
      // (4x fewer bytes on the coarse pass), exact-rescore only the
      // 20-deep shortlist with full vectors
      val e = t(s, dir, "embeddings")
      Similarity.matryoshkaTopK(e.filter(col("vec_id") < 10), e,
          "embedding", "vec_id", shortDims = 16, kCoarse = 20, k = 5)
        .orderBy("query_id", "rank")
    }),

    "contrastive_pairs" -> ((s, dir) => {
      // contrastive training-pair mining: top-3 cosine positives plus
      // 5 hash-sampled negatives per query — the negative draw is a
      // deterministic bounded-heap top-k on md5(query:candidate), with
      // positives and self excluded BEFORE sampling
      val e = t(s, dir, "embeddings")
      Similarity.contrastivePairs(e.filter(col("vec_id") < 8), e,
          "embedding", "vec_id", kPos = 3, kNeg = 5)
        .orderBy("query_id", "role", "rank")
    }),

    "stratified_sample" -> ((s, dir) =>
      graft.functions.Sampling.stratified(
        t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .select("doc_id", "lang").orderBy("doc_id")),

    "ann_ivf" -> ((s, dir) => {
      // IVF coarse quantization with deterministic seed centroids
      // (iterations = 0 keeps the oracle exactly expressible in SQL; the
      // iterative k-means refinement is covered by DedupSimilaritySpec)
      val e = t(s, dir, "embeddings")
      val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
        k = 4, iterations = 0)
      Similarity.ivfAssign(e, cents, "embedding", "vec_id")
        .orderBy("vec_id")
    }),

    "ann_ivf_largek" -> ((s, dir) => {
      // production-shape IVF: k=1024 centroids, 16x beyond the
      // literal-unroll limit. Assignment runs as ONE compact codegen
      // loop over a reference-object centroid matrix
      // (NearestCentroidExpr) — generated code is O(1) in k, the
      // corpus is a pure projection with zero Exchange (plan-asserted
      // in DedupSimilaritySpec). The codebook is md5-derived so the
      // oracle regenerates it exactly in SQL.
      val e = t(s, dir, "embeddings")
      val cents = Similarity.syntheticCentroids(s, 1024, 64, "embedding")
      Similarity.ivfAssign(e, cents, "embedding", "vec_id")
        .orderBy("vec_id")
    }),

    "ann_pq_codes" -> ((s, dir) =>
      // spherical product quantization encode: 8 sub-codes per vector
      // (32x smaller than the float vector), codebooks md5-derived so
      // the oracle regenerates them exactly; encoding is a pure
      // projection — zero joins, zero Exchange on the corpus path
      Similarity.pqEncode(t(s, dir, "embeddings"), "embedding", "vec_id")
        .select(col("vec_id"),
          array_join(col("codes"), ",").as("codes"))
        .orderBy("vec_id")),

    "ann_pq_topk" -> ((s, dir) => {
      // PQ search via asymmetric distance computation: per-query
      // distance tables over the codebook grid (tiny, broadcast); the
      // corpus contributes ONLY its codes — m lookups per vector, no
      // float math over corpus vectors at all
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(e.filter(col("vec_id") < 10), e,
        "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "semantic_dedup" -> ((s, dir) => {
      // SemDeDup over the embedding corpus: IVF cells from seed
      // centroids (SQL-exact, like ann_ivf), within-cell cosine, drop
      // any vector with a lower-id near-twin in its cell
      val e = t(s, dir, "embeddings")
      val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
        k = 4, iterations = 0)
      Dedup.semanticDedup(e, cents, "embedding", "vec_id", minCos = 0.35)
        .orderBy("vec_id")
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // the IVF search path end-to-end: seed centroids (SQL-exact),
      // corpus cell assignment, nprobe=2 probing, exact cosine inside
      // probed cells
      val e = t(s, dir, "embeddings")
      val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
        k = 4, iterations = 0)
      Similarity.ivfTopK(e.filter(col("vec_id") < 10), e, cents,
        "embedding", "vec_id", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_incremental" -> ((s, dir) => {
      // streaming-corpus ANN: vector batches append to a PERSISTED
      // cell-partitioned IVF index (assignment = pure projection over
      // fixed driver-literal centroids — ingest is batch-sized, the
      // standing index is never read or rewritten), and probes read
      // ONLY the probed cells (partition-pruned scan — at 100 TB of
      // index a probe reads nprobe/k_cells of the bytes). Two appends
      // then a probe: the answer must equal the one-shot ivfTopK over
      // the union — ann_ivf_topk's own oracle, which is exactly what
      // the hash-match proves.
      val base = "/tmp/graft_ivf_idx"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val e = t(s, dir, "embeddings")
      val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
        k = 4, iterations = 0)
      Similarity.ivfIndexAppend(e.filter(col("vec_id") % 2 === 0), base,
        cents, "embedding", "vec_id")
      Similarity.ivfIndexAppend(e.filter(col("vec_id") % 2 =!= 0), base,
        cents, "embedding", "vec_id")
      Similarity.ivfIndexProbe(e.filter(col("vec_id") < 10), base, cents,
          "embedding", "vec_id", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    "ann_ivf_compact" -> ((s, dir) => {
      // index MAINTENANCE: four appends accumulate per-batch part
      // files in every cell, then ivfIndexCompact rewrites each cell
      // to ~one file (two-phase swap, cell layout kept). The probe
      // after compaction must answer exactly like the one-shot ivfTopK
      // over the union — the same contract (and oracle) as
      // ann_ivf_incremental, which is precisely what compaction must
      // not disturb. File-count collapse is spec-asserted
      // (DedupSimilaritySpec); this row gates the ANSWER.
      val base = "/tmp/graft_ivf_idx_compact"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val e = t(s, dir, "embeddings")
      val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
        k = 4, iterations = 0)
      for (m <- 0 to 3)
        Similarity.ivfIndexAppend(e.filter(col("vec_id") % 4 === m), base,
          cents, "embedding", "vec_id")
      Similarity.ivfIndexCompact(s, base)
      Similarity.ivfIndexProbe(e.filter(col("vec_id") < 10), base, cents,
          "embedding", "vec_id", k = 5, nprobe = 2)
        .orderBy("query_id", "rank")
    }),

    "sessionize_batch" -> ((s, dir) => {
      // batch sessionization by gap rule (the lag+cumsum recipe): a new
      // session starts where the gap from the previous event exceeds 30
      // minutes. One shuffle on user_id; both windows share that
      // partitioning, so the plan sorts once per user partition.
      val W = org.apache.spark.sql.expressions.Window
      val byUser = W.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = t(s, dir, "events").select("user_id", "ts", "event_id")
      ev.withColumn("__prev", lag(col("ts"), 1).over(byUser))
        .withColumn("__new",
          when(col("__prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("__prev")) > 1800000000L,
            1L).otherwise(0L))
        .withColumn("session_n", sum(col("__new")).over(
          byUser.rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy(col("user_id"), col("session_n"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_n")
    }),

    "retention_cohorts" -> ((s, dir) => {
      // cohort retention triangle: users grouped by first-activity day
      // (cohort), counted by distinct active day offset. Two shuffles
      // (first-day per user, then cohort cells) — both on bounded key
      // domains, the classic product-analytics rollup at any scale.
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val firstDay = ev.groupBy("user_id").agg(min("d").as("cohort_day"))
      ev.join(firstDay, Seq("user_id"))
        .select(col("user_id"), col("cohort_day"),
          datediff(col("d"), col("cohort_day")).as("day_offset"))
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    "session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("sw"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n"))
        .orderBy("user_id", "session_start_us")),

    "embed_near_dups" -> ((s, dir) =>
      // 0.35 is calibrated to the synthetic embeddings: high enough to be
      // selective, low enough that every scale factor yields pairs (0.9
      // returned zero rows everywhere — a vacuous hash match)
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "embedding", "vec_id",
        planes = 8, minCos = 0.35)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")),

    "embed_near_dups_incremental" -> ((s, dir) => {
      // continuous-crawl near-dup over a standing EMBEDDING index: the
      // vector corpus arrives in three batches; each update probes the
      // persisted bucket lake partition-pruned to ITS OWN cells (a
      // vector has exactly one sign-LSH bucket, so the probe reads
      // only the touched cells), broadcasts only the batch, appends,
      // and the cumulative pair union must equal the one-shot
      // embeddingNearDups over the full corpus (embed_near_dups'
      // oracle, shared — the equivalence IS the contract).
      val base = "/tmp/graft_embindex"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val e = t(s, dir, "embeddings")
      val us = Seq(0, 1, 2).map(m =>
        Dedup.embeddingIndexUpdate(s"$base/idx",
          e.filter(pmod(col("vec_id"), lit(3)) === m), "embedding",
          "vec_id", planes = 8, minCos = 0.35))
      us.reduce(_ unionByName _)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")
    }),

    "embed_near_dups_compact" -> ((s, dir) => {
      // embedding-index MAINTENANCE mid-stream: per-cell compaction
      // between the second and third update must leave the next
      // probe's answers exactly those of the uncompacted twin — the
      // cumulative union still equals the one-shot recompute (same
      // shared oracle). File-count collapse is spec-asserted.
      val base = "/tmp/graft_embindex_compact"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val e = t(s, dir, "embeddings")
      val us = Seq(0, 1, 2).map { m =>
        val u = Dedup.embeddingIndexUpdate(s"$base/idx",
          e.filter(pmod(col("vec_id"), lit(3)) === m), "embedding",
          "vec_id", planes = 8, minCos = 0.35)
        if (m == 1) Dedup.embeddingIndexCompact(s, s"$base/idx")
        u
      }
      us.reduce(_ unionByName _)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")
    }),

    "wal2json_parse" -> ((s, dir) => {
      val wire = qw(s, dir, "orders").select(format_string(
        """{"xid":%d,"change":[{"kind":"insert","schema":"public","table":"orders","columnnames":["id","price"],"columnvalues":["%d","%s"]}]}""",
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice").cast(StringType)).as("value"))
      graft.parsers.Wal2Json.receive(wire, "value",
        StructType(Seq(StructField("id", LongType),
          StructField("price", DoubleType))), pkCols = Seq("id"))
        .select(col("id"), col("price"), col(E.Kind), col(E.TxId), col(E.Table))
        .orderBy("id")
    }),

    "apply_truncates" -> ((s, dir) => {
      val env = t(s, dir, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("val"),
        when(col("o_orderkey") % 50 === 0, graft.model.CdcEnvelope.Truncate)
          .otherwise(E.Insert).as(E.Kind),
        col("o_orderkey").as(E.Lsn), lit(0).as(E.Counter))
      Collapse.applyTruncates(env)
        .select("k", "val").orderBy("k")
    }),

    "dblog_reconcile" -> ((s, dir) => {
      val snap = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val changes = t(s, dir, "orders").filter(
        col("o_orderkey") % 5 === 0 || col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          when(col("o_orderkey") % 17 === 0, E.Delete).otherwise(E.Update)
            .as(E.Kind),
          when(col("o_orderkey") % 17 === 0, lit(11L)).otherwise(lit(10L))
            .as(E.Lsn),
          lit(0).as(E.Counter))
      graft.sources.DbLog.reconcile(snap, changes, Seq("o_orderkey"),
        snapshotLsn = 5L).orderBy("o_orderkey")
    }),

    "native_parse" -> ((s, dir) => {
      // the reference's own serialized-ChangeItem wire: raw JSON number
      // values in the positional columnvalues array (coerced to text by
      // the parser, cast by declared schema)
      val wire = wireCache(s, dir, "native_v1") {
        qw(s, dir, "orders").select(format_string(
          """[{"id":%d,"nextlsn":%d,"commitTime":%d,"txPosition":0,"kind":"%s","schema":"public","table":"orders","part":"","columnnames":["id","price"],"columnvalues":[%d,%s],"oldkeys":{},"tx_id":"","query":""}]""",
          col("o_custkey"), col("o_orderkey"), col("o_orderkey") * 1000L,
          ordersKind, col("o_orderkey"),
          col("o_totalprice").cast(StringType)).as("value"))
      }
      graft.parsers.NativeChangeItems.receive(wire, "value",
        StructType(Seq(StructField("id", LongType),
          StructField("price", DoubleType))), pkCols = Seq("id"))
        .select(col("id"), col("price"), col(E.Kind), col(E.Lsn),
          col(E.TxId), col(E.Table), col(E.CommitTime))
        .orderBy("id")
    }),

    "audittrails_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val iso = date_format(timestamp_seconds(lit(1704067200L) + k),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val subjName = when(k % 3 === 0, "*** hidden ***")
        .otherwise(concat(lit("n"), k.cast(StringType)))
      val wire = qw(s, dir, "orders").select(format_string(
        """{"event_id":"e%s","event_source":"mia","event_type":"t%d","event_time":"%s","authentication":{"authenticated":true,"subject_type":"USER","subject_id":"u%s","subject_name":"%s"},"authorization":{"authorized":true},"request_metadata":{"remote_address":"10.0.0.%d"},"event_status":"DONE"}""",
        k.cast(StringType), k % 5, iso, k.cast(StringType), subjName,
        k % 256).as("value"))
      graft.parsers.AuditTrails.receive(wire, "value")
        .select(col("event_id"), col("event_type"),
          unix_micros(col("event_time")).as("event_time_us"),
          col("authentication_subject_id"),
          col("authentication_subject_name"),
          col("request_metadata_remote_address"))
        .orderBy("event_id")
    }),

    "cloudevents_parse" -> ((s, dir) => {
      val k = col("o_orderkey")
      val iso = date_format(timestamp_seconds(lit(1704067200L) + k),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val wire = qw(s, dir, "orders").select(format_string(
        """{"specversion":"1.0","id":"e%s","source":"/orders","type":"order.created","subject":"s%s","time":"%s","datacontenttype":"application/json","data":{"k":%d,"price":%s}}""",
        k.cast(StringType), k.cast(StringType), iso, k,
        col("o_totalprice").cast(StringType)).as("value"))
      graft.parsers.CloudEvents.parse(wire, "value",
        StructType(Seq(StructField("k", LongType),
          StructField("price", DoubleType))))
        .select(col("ce_id"), col("ce_type"), col("ce_subject"),
          unix_micros(col("ce_time")).as("ce_time_us"),
          col("k"), col("price"))
        .orderBy("k")
    }),

    "cloudlogging_parse" -> ((s, dir) => {
      val k = col("event_id")
      val iso = date_format(timestamp_seconds(lit(1704067200L) + k),
        "yyyy-MM-dd'T'HH:mm:ss'Z'")
      val sev = when(k % 10 === 0, "ERROR").otherwise("INFO")
      val wire = qw(s, dir, "events").select(format_string(
        """{"timestamp":"%s","severity":"%s","logName":"projects/p/logs/app","insertId":"i%s","resource":{"type":"gce_instance","labels":{"zone":"z1"}},"jsonPayload":{"event_id":%d,"value":%s}}""",
        iso, sev, k.cast(StringType), k,
        col("value").cast(StringType)).as("value"))
      graft.parsers.CloudLogging.parse(wire, "value",
        payloadSchema = Some(StructType(Seq(
          StructField("event_id", LongType),
          StructField("value", DoubleType)))))
        .select(col("insert_id"), col("severity"), col("resource_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
        .orderBy("event_id")
    }),

    "raw_to_table" -> ((s, dir) =>
      graft.parsers.RawToTable.parse(
        t(s, dir, "orders").select(col("o_orderkey"),
          concat(lit("payload:"), col("o_orderkey").cast(StringType))
            .as("body")),
        "body", metaCols = Seq("o_orderkey"))
        .select(col("o_orderkey"), sha2(col("raw"), 256).as("raw_sha"),
          octet_length(col("raw")).as("raw_len"))
        .orderBy("o_orderkey")),

    "mongo_changestream_parse" -> ((s, dir) => {
      // synthetic change-stream events from orders: deletes carry no
      // fullDocument, document updates keep the mongo-specific row kind
      val k = col("o_orderkey")
      val op = when(k % 7 === 0, "delete").when(k % 3 === 0, "insert")
        .when(k % 2 === 0, "replace").otherwise("update")
      val docPart = when(op === lit("delete"), lit("null"))
        .otherwise(format_string(
          """{"o_orderkey":%d,"price":%s}""", k,
          col("o_totalprice").cast(StringType)))
      val wire = qw(s, dir, "orders").select(format_string(
        """{"operationType":"%s","documentKey":{"_id":"%s"},"fullDocument":%s,"clusterTime":%d}""",
        op, k.cast(StringType), docPart, k).as("value"))
      graft.parsers.MongoChangeStream.receive(wire, "value",
        StructType(Seq(StructField("o_orderkey", LongType),
          StructField("price", DoubleType))))
        .select(col("_id"), col("price"), col(E.Kind), col(E.Lsn))
        .orderBy(col("_id").cast(LongType))
    }),

    "confluent_decode" -> ((s, dir) => {
      // two-schema topic: even keys encoded with v1, odd with v2 (adds
      // status); all decoded against reader v2 via Avro schema resolution
      val reg = "/tmp/graft_registry"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(reg))
      val v1 = """{"type":"record","name":"order","fields":[{"name":"id","type":"long"},{"name":"price","type":"double"}]}"""
      val v2 = """{"type":"record","name":"order","fields":[{"name":"id","type":"long"},{"name":"price","type":"double"},{"name":"status","type":"string","default":""}]}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(reg, "1.avsc"), v1)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(reg, "2.avsc"), v2)
      val enc = udf { (k: Long, p: Double, st: String) =>
        if (k % 2 == 0)
          graft.parsers.ConfluentDecode.encode(v1, 1,
            Map("id" -> k, "price" -> p))
        else
          graft.parsers.ConfluentDecode.encode(v2, 2,
            Map("id" -> k, "price" -> p, "status" -> st))
      }
      val wire = qw(s, dir, "orders").select(
        enc(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .as("raw"))
      graft.parsers.ConfluentDecode.receive(wire, "raw", reg, v2,
        StructType(Seq(StructField("id", LongType),
          StructField("price", DoubleType),
          StructField("status", StringType))))
        .select("id", "price", "status", "schema_id")
        .orderBy("id")
    }),

    "confluent_http" -> ((s, dir) => {
      // same mixed-schema topic as confluent_decode, but writer schemas
      // resolve over the WIRE: an in-process Confluent-REST server
      // (GET /schemas/ids/{id}, JDK HttpServer) with the executor-side
      // per-id cache amortizing fetches — the reference's HTTP registry
      // client path (pkg/schemaregistry). Materialized while the server
      // is live; the returned local frame never re-touches it.
      val v1 = """{"type":"record","name":"order","fields":[{"name":"id","type":"long"},{"name":"price","type":"double"}]}"""
      val v2 = """{"type":"record","name":"order","fields":[{"name":"id","type":"long"},{"name":"price","type":"double"},{"name":"status","type":"string","default":""}]}"""
      val reg = graft.parsers.ConfluentDecode.serveRegistry(Map(1 -> v1, 2 -> v2))
      try {
        val enc = udf { (k: Long, p: Double, st: String) =>
          if (k % 2 == 0)
            graft.parsers.ConfluentDecode.encode(v1, 1,
              Map("id" -> k, "price" -> p))
          else
            graft.parsers.ConfluentDecode.encode(v2, 2,
              Map("id" -> k, "price" -> p, "status" -> st))
        }
        val wire = qw(s, dir, "orders").select(
          enc(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
            .as("raw"))
        val out = graft.parsers.ConfluentDecode.receive(wire, "raw",
          reg.baseUrl, v2,
          StructType(Seq(StructField("id", LongType),
            StructField("price", DoubleType),
            StructField("status", StringType))))
          .select("id", "price", "status", "schema_id")
          .orderBy("id")
        val rows = java.util.Arrays.asList(out.collect(): _*)
        s.createDataFrame(rows, out.schema)
      } finally reg.stop()
    }),

    "mysql_binlog_parse" -> ((s, dir) => {
      // synthetic Canal-JSON binlog wire derived from orders; UPDATE
      // events carry changed-column pre-images in `old`, and every 4th
      // update changes the PK (old.id present) to exercise __old_keys
      val k = col("o_orderkey")
      val typ = when(k % 7 === 0, "DELETE").when(k % 3 === 0, "INSERT")
        .otherwise("UPDATE")
      val wire = wireCache(s, dir, "mysql_binlog_v1") {
        val oldPart = when(typ === lit("UPDATE") && k % 4 === 1,
            format_string("""[{"price":"%s","id":"%s"}]""",
              (col("o_totalprice") - 1).cast(StringType),
              (k + 9000000L).cast(StringType)))
          .when(typ === lit("UPDATE"),
            format_string("""[{"price":"%s"}]""",
              (col("o_totalprice") - 1).cast(StringType)))
          .otherwise(lit("null"))
        qw(s, dir, "orders").select(format_string(
          """{"data":[{"id":"%s","price":"%s"}],"old":%s,"database":"shop","table":"orders","es":%d,"id":%d,"isDdl":false,"type":"%s","pkNames":["id"]}""",
          k.cast(StringType), col("o_totalprice").cast(StringType),
          oldPart, k * 1000L, k, typ).as("value"))
      }
      graft.parsers.MySqlBinlog.receive(wire, "value",
        StructType(Seq(StructField("id", LongType),
          StructField("price", DoubleType))), pkCols = Seq("id"))
        .select(col("id"), col("price"), col(E.Kind), col(E.Lsn),
          col(E.Table), col(s"${E.OldKeys}.id").as("old_id"))
        .orderBy("id")
    }),

    "cdc_pipeline_mysql" -> ((s, dir) => {
      // the full ingestion pipeline off a mysql binlog wire: Canal parse
      // -> split PK-changing updates into delete+insert -> collapse ->
      // surviving row images
      val k = col("o_orderkey")
      val typ = when(k % 7 === 0, "DELETE").when(k % 3 === 0, "INSERT")
        .otherwise("UPDATE")
      val wire = wireCache(s, dir, "cdc_mysql_v1") {
        val oldPart = when(typ === lit("UPDATE") && k % 4 === 1,
            format_string("""[{"id":"%s"}]""", (k + 9000000L).cast(StringType)))
          .when(typ === lit("UPDATE"), lit("""[{"price":"0"}]"""))
          .otherwise(lit("null"))
        qw(s, dir, "orders").select(format_string(
          """{"data":[{"id":"%s","price":"%s"}],"old":%s,"database":"shop","table":"orders","es":%d,"id":%d,"isDdl":false,"type":"%s","pkNames":["id"]}""",
          k.cast(StringType), col("o_totalprice").cast(StringType),
          oldPart, k * 1000L, k, typ).as("value"))
      }
      val parsed = graft.parsers.MySqlBinlog.receive(wire, "value",
        StructType(Seq(StructField("id", LongType),
          StructField("price", DoubleType))), pkCols = Seq("id"))
      val split = Collapse.splitUpdatedPKeys(
        parsed.select("id", "price", E.Kind, E.Lsn, E.Counter, E.OldKeys),
        Seq("id"))
      Collapse.collapse(split, Seq("id"))
        .filter(col(E.Kind) =!= E.Delete)
        .select("id", "price").orderBy("id")
    }),

    "queue_roundtrip" -> ((s, dir) => {
      // the queue serde loop end-to-end: CDC envelope -> JSON wire ->
      // file-queue spool -> queue read -> parse -> bucketed MERGE state
      val qbase = "/tmp/graft_queue"
      val state = "/tmp/graft_queue_state/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(qbase), true)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_queue_state"), true)
      val src = t(s, dir, "orders").withColumn(E.Kind, ordersKind)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("val"),
          col(E.Kind), col("o_orderkey").as(E.Lsn))
      graft.sinks.KafkaSink.writeFileQueue(src, qbase, "orders",
        keyCols = Seq("k"))
      val q = Readers.fileQueue(s, s"$qbase/orders", "orders")
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("val", DoubleType),
        StructField(E.Kind, StringType), StructField(E.Lsn, LongType)))
      val parsed = q.select(from_json(col("value"), schema).as("__p"))
        .select(col("__p.k").as("k"), col("__p.val").as("val"),
          col(s"__p.${E.Kind}").as(E.Kind), col(s"__p.${E.Lsn}").as(E.Lsn))
        .withColumn(E.Counter, lit(0))
      graft.streaming.CdcStream.mergeBatch(parsed, state, Seq("k"))
      graft.streaming.CdcStream.readState(s, state).orderBy("k")
    }),

    "stream_sketch" -> ((s, dir) => {
      // streaming HLL: the SAME register aggregation as sketch_hll run
      // as an update-over-stream (complete mode, 256-row state), fed in
      // two batches; the final state must equal the one-pass batch
      // sketch the oracle computes — a replication stream can keep live
      // distinct counts at fixed state, because the sketch IS its own
      // streaming state. Fixture feed is driver-fed by MemoryStream
      // contract.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val keys = t(s, dir, "orders").select(col("o_custkey"))
        .as[Long].collect()
      val mem = MemoryStream[Long]
      val regs = graft.functions.Sketches.hllRegisters(
        mem.toDF().toDF("o_custkey"), "o_custkey")
      val q = regs.writeStream.format("memory")
        .queryName("graft_hll_stream").outputMode("complete").start()
      try {
        val (a, b) = keys.splitAt(keys.length / 3)
        mem.addData(a.toSeq); q.processAllAvailable()
        mem.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      s.table("graft_hll_stream").orderBy("bucket")
    }),

    "watermark_dedup" -> ((s, dir) => {
      // watermarked duplicate suppression through a real stream: replayed
      // rows (identical key+ts) inside the watermark collapse to one.
      // The feed (every third event delivered twice) stages to parquet
      // and rides a file-source stream — no driver-side collect, state
      // and sink distributed.
      val base = "/tmp/graft_wmdedup"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"))
      ev.unionByName(ev.filter(col("event_id") % 3 === 0))
        .write.parquet(s"$base/in")
      val stream = s.readStream.schema(ev.schema).parquet(s"$base/in")
      val deduped = graft.streaming.CdcStream.watermarkDedup(
        stream, "ts", "1 hour", Seq("event_id"))
      // dedup state is one entry per in-watermark key (~the event
      // count here): route the store by a metadata-cheap count
      graft.GraftSession.withStateStoreFor(s, ev.count()) {
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out").orderBy("event_id")
    }),

    "stream_enrich" -> ((s, dir) => {
      // stream-static enrichment: the replication loop's dimension
      // join. Events ride a file-source stream; the dimension table is
      // BROADCAST per micro-batch (no shuffle on the stream side, no
      // state store — stateless enrich scales with batch size only).
      val base = "/tmp/graft_stream_enrich"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      ev.write.parquet(s"$base/in")
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("__k"), col("n_name"))
      val stream = s.readStream.schema(ev.schema).parquet(s"$base/in")
        .withColumn("__k", pmod(col("user_id"), lit(25L)))
        .join(broadcast(dim), Seq("__k"))
        .select("event_id", "n_name", "value")
      val q = stream.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .groupBy("n_name")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_value"))
        .orderBy("n_name")
    }),

    "stream_join" -> ((s, dir) => {
      // stream-stream interval join through real watermarked streams:
      // clicks correlate to views by user within 30 minutes; the fixture
      // feeds MemoryStreams (driver-fed by contract), the operator under
      // test is the distributed watermarked join with bounded state
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      // even-user subset: the MemoryStream feed is driver-fed by
      // contract — halve it; the operator under test is unchanged
      val ev = t(s, dir, "events")
        .filter(col("user_id") % 2 === 0)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .as[(Long, Long, java.sql.Timestamp, String)].collect()
      val memV = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val memC = MemoryStream[(Long, Long, java.sql.Timestamp)]
      val views = memV.toDF().toDF("user_id", "view_id", "view_ts")
      val clicks = memC.toDF().toDF("user_id", "click_id", "click_ts")
      val joined = graft.streaming.CdcStream.intervalJoin(
        views, clicks, Seq("user_id"), "view_ts", "click_ts",
        delay = "1 hour", maxLag = "30 minutes")
        .select("user_id", "view_id", "click_id")
      // a stream-stream join opens 4 state stores per shuffle partition
      // per side; at the fixture's size the 32-partition default is
      // pure setup overhead — pin the STATE partitioning low for this
      // query (captured at start; restored after). At production rates
      // the right number is executor-count-scaled, not fixture-scaled.
      val prev = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "4")
      // join state holds both sides' in-watermark rows: route the
      // store by the feed size (already collected — free); default
      // provider below the crossover, RocksDB+changelog past it
      graft.GraftSession.withStateStoreFor(s, ev.length.toLong) {
        val q =
          try joined.writeStream.format("memory")
            .queryName("graft_sj_out").outputMode("append").start()
          finally s.conf.set("spark.sql.shuffle.partitions", prev)
        try {
          memV.addData(ev.filter(_._4 == "view").map(e => (e._1, e._2, e._3)).toSeq)
          memC.addData(ev.filter(_._4 == "click").map(e => (e._1, e._2, e._3)).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("graft_sj_out").orderBy("user_id", "view_id", "click_id")
    }),

    "udx_hash" -> ((s, dir) => {
      // the UDx registration surface: graft_stable_hash64 resolved BY
      // NAME through Spark SQL (FunctionRegistry path — the same hook
      // GraftExtensions installs), not via the Scala Column API
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "orders").createOrReplaceTempView("graft_udx_orders")
      s.sql("""SELECT o_orderkey,
               graft_stable_hash64(CAST(o_orderkey AS STRING)) AS h
               FROM graft_udx_orders ORDER BY o_orderkey""")
    }),

    "lambda_transform" -> ((s, dir) =>
      // the lambda transformer: a user DataFrame=>DataFrame folded into
      // the chain (reference runs an external function; the Spark-native
      // surface is the function itself)
      T.Lambda("big_spender_tag", df =>
        df.withColumn("big_spender", col("o_totalprice") > 150000))
        .apply(t(s, dir, "orders"))
        .select(col("o_orderkey"), col("big_spender"))
        .orderBy("o_orderkey")),

    "rotator_write" -> ((s, dir) => {
      // rotated sink layout end-to-end: daily partition dirs, O(1)
      // retention expiry (directory deletes, no rewrite), read-back of
      // the surviving periods
      val path = "/tmp/graft_rotator/events"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_rotator"), true)
      graft.sinks.Rotator.write(t(s, dir, "events").select("event_id", "ts"),
        "ts", graft.sinks.Rotator.Daily, path, graft.sinks.Sinks.Drop)
      graft.sinks.Rotator.expire(s, path, keep = 3)
      s.read.parquet(path)
        .select(col("event_id"),
          col(graft.sinks.Rotator.RotationCol).cast(StringType)
            .as(graft.sinks.Rotator.RotationCol))
        .orderBy("event_id")
    }),

    "compact_lake" -> ((s, dir) => {
      // lake maintenance end-to-end: a micro-batched sink leaves 48
      // small files; compaction bin-packs them (crash-safe two-phase
      // swap) and the read-back must be byte-identical content
      val path = "/tmp/graft_compact/lake"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_compact"), true)
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
        .repartition(48).write.parquet(path)
      val stats = graft.sinks.Sinks.compact(s, path, targetBytes = 64L << 20)
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce files: $stats")
      s.read.parquet(path).orderBy("o_orderkey")
    }),

    "config_transfer" -> ((s, dir) => {
      // the trcli surface end-to-end: YAML config -> parsed Transfer ->
      // runSnapshot (source read, transformer chain fold, cleanup-aware
      // sink write) -> sink read-back
      val out = "/tmp/graft_cfg_transfer/out"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_cfg_transfer"), true)
      val yaml =
        s"""type: SNAPSHOT_ONLY
           |src: { kind: parquet, path: $dir/orders.parquet }
           |dst: { kind: parquet, path: $out }
           |cleanup: drop
           |transformations:
           |  - filter_rows: { filters: ["o_totalprice > 100000"] }
           |  - filter_columns: { include: [o_orderkey, o_totalprice, o_orderstatus] }
           |""".stripMargin
      TransferRunner.runSnapshot(s, graft.config.TransferYaml.fromString(yaml))
      s.read.parquet(out)
        .withColumn("o_totalprice", col("o_totalprice").cast(DoubleType))
        .orderBy("o_orderkey")
    }),

    "dbt_run" -> ((s, dir) => {
      // dbt-core model semantics engine-side: a 3-model project
      // (staging view -> table-materialized rollup -> report view with
      // TWO refs) written as real model files, DAG-resolved and
      // materialized in dependency order; the view chain stays lazy so
      // Catalyst fuses it, the table model cuts through parquet
      val proj = new java.io.File("/tmp/graft_dbt/project")
      val models = new java.io.File(proj, "models")
      models.mkdirs()
      def w(n: String, sql: String): Unit =
        java.nio.file.Files.write(new java.io.File(models, n).toPath,
          sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      w("stg_docs.sql",
        """{{ config(materialized='view') }}
          |SELECT doc_id, lang, source, n_chars
          |FROM {{ source('raw', 'documents') }} WHERE n_chars >= 150""".stripMargin)
      w("lang_mix.sql",
        """{{ config(materialized='table') }}
          |SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars
          |FROM {{ ref('stg_docs') }} GROUP BY lang""".stripMargin)
      w("report.sql",
        """SELECT m.lang, m.n_docs, m.total_chars,
          |  m.total_chars DIV m.n_docs AS avg_chars,
          |  (SELECT count(*) FROM {{ ref('stg_docs') }}) AS n_kept
          |FROM {{ ref('lang_mix') }} m""".stripMargin)
      graft.operators.Dbt.runProject(s, proj.toString, "report",
          (sch, tbl) => { require(sch == "raw" && tbl == "documents",
            s"unexpected source ($sch,$tbl)"); t(s, dir, "documents") },
          targetDir = Some("/tmp/graft_dbt/target"))
        .orderBy("lang")
    }),

    "merge_multitable" -> ((s, dir) => {
      // multi-table batch routing: one enveloped batch splits on __table
      // and MERGEs into per-table bucketed state dirs; all states read
      // back must reassemble the input exactly
      val base = "/tmp/graft_multitable"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val env = T.TableSplitter("orders", Seq("o_orderstatus"))
        .apply(t(s, dir, "orders"))
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast(DoubleType).as("val"), col(E.Table))
        .withColumn(E.Kind, lit(E.Insert))
        .withColumn(E.Lsn, col("k")).withColumn(E.Counter, lit(0))
      val tables = graft.streaming.CdcStream.mergeMultiTable(env, base, Seq("k"))
      tables.map { tn =>
        val safe = tn.replaceAll("[^A-Za-z0-9_.-]", "_")
        graft.streaming.CdcStream.readState(s, s"$base/$safe")
          .withColumn(E.Table, lit(tn))
      }.reduce(_.unionByName(_)).orderBy("k")
    }),

    "toast_coalesce" -> ((s, dir) => {
      // TOAST-aware partial updates: an __updated_cols mask marks which
      // columns an update actually sets; Collapse must coalesce each
      // column from the last event that SET it, not the last event
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DoubleType).as("a"),
        col("o_custkey").as("b"))
      val noneSet = lit(null).cast(ArrayType(StringType))
      val ins = o.select(col("k"), col("a"), col("b"),
        lit(E.Insert).as(E.Kind), lit(1L).as(E.Lsn), lit(0).as(E.Counter),
        noneSet.as(E.UpdatedCols))
      val upA = o.filter(col("k") % 3 === 0).select(col("k"),
        (col("a") + 1000.0).as("a"), lit(null).cast(LongType).as("b"),
        lit(E.Update).as(E.Kind), lit(2L).as(E.Lsn), lit(0).as(E.Counter),
        array(lit("a")).as(E.UpdatedCols))
      val upB = o.filter(col("k") % 5 === 0).select(col("k"),
        lit(null).cast(DoubleType).as("a"), (col("b") + 7).as("b"),
        lit(E.Update).as(E.Kind), lit(3L).as(E.Lsn), lit(0).as(E.Counter),
        array(lit("b")).as(E.UpdatedCols))
      Collapse.collapse(ins.unionByName(upA).unionByName(upB), Seq("k"))
        .filter(col(E.Kind) =!= E.Delete)
        .select("k", "a", "b").orderBy("k")
    }),

    "problem_item_detector" -> ((s, dir) => {
      // binary-search isolation of poison rows: the detector bisects the
      // id range with real write attempts until each failing row is
      // pinned to a single-item (lo, hi] range. Probe window = 1024 keys
      // from the table minimum; poison = the first and last key of that
      // window with k % 7 == 3.
      import s.implicits._
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
      val mn = o.agg(min("k")).as[Long].head()
      val window = o.filter(col("k").between(mn, mn + 1023))
      val ps = window.filter(col("k") % 7 === 3).agg(min("k"), max("k"))
        .as[(Long, Long)].head()
      val poison = Set(ps._1, ps._2)
      val ranges = graft.operators.ProblemItemDetector.detect(
        window, "k", part => {
          if (part.filter(col("k").isInCollection(poison)).count() > 0)
            throw new RuntimeException("sink rejected poison row")
        })
      s.createDataFrame(ranges).toDF("lo", "hi").orderBy("lo")
    }),

    "table_filter" -> ((s, dir) => {
      // include/exclude table filter over table_splitter routes: anchored
      // regexes on the table name, driver-side over the (tiny) distinct
      // set, then a row filter on the kept tables
      val split = T.TableSplitter("orders", Seq("o_orderstatus"))
        .apply(t(s, dir, "orders"))
      val tf = graft.operators.TableFilter(
        include = Seq("orders/.*"), exclude = Seq("orders/F"))
      val kept = split.select(E.Table).distinct()
        .collect().map(_.getString(0)).filter(tf.matches).toSeq
      split.filter(col(E.Table).isin(kept: _*))
        .select(col("o_orderkey"), col(E.Table))
        .orderBy("o_orderkey")
    }),

    "sample_source" -> ((s, dir) =>
      // deterministic sample/rate generator (the `sample` provider's IoT
      // shape): pure arithmetic over range, reproducible in any engine
      graft.sources.SampleSource.iot(s, 10000).orderBy("event_id")),

    "metering_tap" -> ((s, dir) => {
      // metering middleware: observe-based row/byte counters piggyback
      // on the real action (no extra pass), collected via the public
      // QueryExecutionListener API (asynchronous -> bounded poll)
      val l = graft.streaming.Metering.listen(s)
      try {
        val tapped = graft.streaming.Metering.tap(
          t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
          "graft_meter_in")
        tapped.write.format("noop").mode("overwrite").save()
        val deadline = System.currentTimeMillis() + 15000
        var m: Map[String, Long] = null
        while (m == null && System.currentTimeMillis() < deadline) {
          m = l.metrics.get("graft_meter_in")
          if (m == null) Thread.sleep(50)
        }
        require(m != null, "metering listener never fired")
        import s.implicits._
        Seq(("graft_meter_in", m("rows"), m("bytes")))
          .toDF("name", "n_rows", "n_bytes")
      } finally s.listenerManager.unregister(l)
    }),

    "cleanup_policy" -> ((s, dir) => {
      // cleanup-policy semantics on a file sink: Drop re-creates, then a
      // Disabled (append-only) activation adds rows instead of clearing
      val path = "/tmp/graft_cleanup/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_cleanup"), true)
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"),
        col("o_totalprice").cast(DoubleType).as("val"))
      graft.sinks.Sinks.parquet(o, path, graft.sinks.Sinks.Drop)
      graft.sinks.Sinks.parquet(o.filter(col("k") % 10 === 0), path,
        graft.sinks.Sinks.Disabled)
      s.read.parquet(path).orderBy("k")
    }),

    "jdbc_roundtrip" -> ((s, dir) => {
      // the JDBC boundary end-to-end: dialect-mapped DDL write into
      // embedded Derby (Drop policy -> re-create), read back through
      // spark.read.jdbc — proves uint64/NUMERIC(20) fidelity beyond
      // int64 range, plus date/decimal/string round-trips
      val url = "jdbc:derby:memory:graftrt;create=true"
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") % 20 === 3)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DoubleType).as("qty"),
          (lit(new java.math.BigDecimal("18000000000000000000"))
            .cast(DecimalType(20, 0)) +
            col("l_orderkey").cast(DecimalType(20, 0)))
            .cast(DecimalType(20, 0)).as("big_id"),
          col("l_shipdate"), col("l_returnflag"))
      graft.sinks.JdbcSink.write(li, url, "graft_lineitem",
        graft.sinks.Sinks.Drop)
      s.read.jdbc(url, "graft_lineitem", new java.util.Properties())
        // decimals/dates stringify differently across pandas readers:
        // compare as strings (still proves the typed round-trip)
        .withColumn("big_id", col("big_id").cast(StringType))
        .withColumn("l_shipdate", col("l_shipdate").cast(StringType))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "blank_parse" -> ((s, dir) => {
      // blank parser: queue messages verbatim under the fixed reference
      // schema (uint64 offsets as Decimal(20,0)); null envelope fields
      // surface as is-null booleans so the oracle can pin them
      import org.apache.spark.sql.expressions.Window
      val part = (col("doc_id") % 4).cast(IntegerType)
      val q = t(s, dir, "documents").select(
        lit("docs").as("topic"), part.as("partition"),
        (row_number().over(Window.partitionBy(part).orderBy("doc_id")) - 1)
          .cast(LongType).as("offset"),
        col("text").as("value"))
      graft.parsers.BlankParser.fromQueue(q)
        .select(col("partition"),
          // uint64 offsets ARE Decimal(20,0) in the schema; stringified
          // for the cross-engine compare (pandas decimal drift)
          col("offset").cast(StringType).as("offset"),
          col("seq_no").cast(StringType).as("seq_no"),
          col("source_id"), col("lb_raw_message"),
          col("c_time").isNull.as("c_time_null"),
          col("w_time").isNull.as("w_time_null"),
          col("lb_extra_fields").isNull.as("extra_null"))
        .orderBy(col("partition"), col("offset").cast(LongType))
    }),

    "proto_scalar_parse" -> ((s, dir) => {
      // the runtime-free proto scalar wire decoder over generated
      // messages: varint (multi-byte), length-delimited string, zigzag
      // sint64, little-endian double — the encode side is the test
      // harness, the decode under test is ProtoReader.parseScalar
      import s.implicits._
      def varint(x: Long): Array[Byte] = {
        var v = x; val b = scala.collection.mutable.ArrayBuffer[Byte]()
        while ((v & ~0x7fL) != 0) { b += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
        b += v.toByte; b.toArray
      }
      val raw = s.range(0, 2000).as[Long].map { i =>
        val sv = if (i % 2 == 0) i else -i
        val str = s"m$i".getBytes("UTF-8")
        varint((1L << 3) | 0) ++ varint(i * 700 + 1) ++
          varint((2L << 3) | 2) ++ varint(str.length.toLong) ++ str ++
          varint((3L << 3) | 0) ++ varint((sv << 1) ^ (sv >> 63)) ++
          varint((4L << 3) | 1) ++ (0 until 8).map(j =>
            ((java.lang.Double.doubleToLongBits(i * 0.25) >> (8 * j))
              & 0xff).toByte)
      }.toDF("raw")
      graft.parsers.ProtoReader.parseScalar(raw, "raw",
        Map(1 -> "n", 2 -> "s", 3 -> "sn", 4 -> "d"),
        StructType(Seq(StructField("n", LongType),
          StructField("s", StringType), StructField("sn", LongType),
          StructField("d", DoubleType))),
        sintFields = Set("sn"))
        .orderBy("n")
    }),

    "proto_nested_parse" -> ((s, dir) => {
      // descriptor-driven decode: the FileDescriptorSet is hand-
      // assembled at the wire level (it is itself protobuf — no protoc
      // in the container), then bootstrapped by the same runtime-free
      // decoder; the message exercises a nested Item, packed repeated
      // int64 tags, two repeated Line messages and a zigzag sint64
      import graft.parsers.{ProtoDescriptors => PD, ProtoWire => W}
      val descSet = PD.buildSet("shop", Seq(
        "Order" -> Seq(
          PD.FieldDesc("id", 1, 1, PD.TInt64, ""),
          PD.FieldDesc("item", 2, 1, PD.TMessage, ".shop.Item"),
          PD.FieldDesc("tags", 3, PD.LabelRepeated, PD.TInt64, ""),
          PD.FieldDesc("lines", 4, PD.LabelRepeated, PD.TMessage, ".shop.Line"),
          PD.FieldDesc("neg", 5, 1, PD.TSint64, "")),
        "Item" -> Seq(
          PD.FieldDesc("name", 1, 1, PD.TString, ""),
          PD.FieldDesc("price", 2, 1, PD.TDouble, "")),
        "Line" -> Seq(
          PD.FieldDesc("qty", 1, 1, PD.TInt32, ""),
          PD.FieldDesc("amount", 2, 1, PD.TDouble, ""))))
      val enc = udf { (k: Long, p: Double) =>
        W.concat(
          W.vint(1, k),
          W.lenDelim(2, W.concat(W.str(1, "n" + k), W.dbl(2, p))),
          W.packedVarints(3, Seq(k % 5, k % 7)),
          W.lenDelim(4, W.concat(W.vint(1, k % 3), W.dbl(2, p / 2))),
          W.lenDelim(4, W.concat(W.vint(1, k % 4), W.dbl(2, p / 4))),
          W.sint(5, -k))
      }
      val wire = qw(s, dir, "orders").select(
        enc(col("o_orderkey"), col("o_totalprice")).as("raw"))
      PD.parse(wire, "raw", descSet, "shop.Order")
        .select(
          col("id"),
          col("item.name").as("item_name"),
          col("item.price").as("item_price"),
          array_join(transform(col("tags"), _.cast(StringType)), ",")
            .as("tags_csv"),
          col("neg"),
          size(col("lines")).cast(LongType).as("n_lines"),
          expr("aggregate(lines, 0, (a, x) -> a + x.qty)").as("qty_sum"),
          expr("aggregate(lines, 0D, (a, x) -> a + x.amount)").as("lines_total"))
        .orderBy("id")
    }),

    "proto_map_parse" -> ((s, dir) => {
      // map<string,int64> via the protoc encoding: a repeated map-entry
      // message flagged by MessageOptions.map_entry — decoded to a real
      // Spark MapType; key 'a' is sent TWICE (last entry wins, the
      // public proto3 map merge rule); output renders the map as a
      // key-sorted csv so the cross-engine compare is plain strings
      import graft.parsers.{ProtoDescriptors => PD, ProtoWire => W}
      val descSet = PD.buildSet("shop", Seq(
        "Doc" -> Seq(
          PD.FieldDesc("id", 1, 1, PD.TInt64, ""),
          PD.FieldDesc("attrs", 2, PD.LabelRepeated, PD.TMessage,
            ".shop.AttrsEntry"),
          PD.FieldDesc("status", 3, 1, PD.TEnum, ".shop.Status")),
        "AttrsEntry" -> Seq(
          PD.FieldDesc("key", 1, 1, PD.TString, ""),
          PD.FieldDesc("value", 2, 1, PD.TInt64, ""))),
        mapEntries = Set("AttrsEntry"),
        enums = Seq("Status" -> Seq("OK" -> 0, "DEGRADED" -> 1, "FAIL" -> 2)))
      val enc = udf { (k: Long) =>
        def entry(key: String, v: Long) =
          W.lenDelim(2, W.concat(W.str(1, key), W.vint(2, v)))
        W.concat(W.vint(1, k),
          entry("a", k % 5), entry("b", k % 7),
          entry("a", k % 9), // duplicate key: this one must win
          W.vint(3, k % 3))  // enum by number -> declared name
      }
      val wire = qw(s, dir, "orders")
        .select(enc(col("o_orderkey")).as("raw"))
      PD.parse(wire, "raw", descSet, "shop.Doc")
        .select(col("id"),
          size(col("attrs")).as("n_attrs"),
          array_join(transform(array_sort(map_keys(col("attrs"))),
            k => concat(k, lit("="),
              element_at(col("attrs"), k).cast(StringType))), ",")
            .as("attrs_csv"),
          col("status"))
        .orderBy("id")
    }),

    "monotonic_guard" -> ((s, dir) => {
      // per-key LSN monotonicity guard through a 2-batch stream: every
      // key's insert in batch 1, then per key ONE redelivery — stale for
      // even keys (same LSN, poison value -> suppressed), fresh for odd
      // keys (higher LSN -> passes). Both batches ride a FILE-source
      // stream with a shared checkpoint (run 1 sees the first file set,
      // run 2 resumes and sees only the redelivery files), so the feed,
      // the state, and the sink are all distributed — the earlier
      // MemoryStream spelling collected the fixture to the driver and
      // was the bench's worst superlinear query at sf1 (135s isolated;
      // the operator itself is a few seconds).
      val base = "/tmp/graft_guard"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val o = t(s, dir, "orders")
      val b1 = o.select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("double").as("val"),
        (col("o_orderkey") * 10).as(E.Lsn))
      val b2 = o.select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 2 === 0, col("o_totalprice") + 7777.0)
          .otherwise(col("o_totalprice") + 100.0)
          .cast("double").as("val"),
        when(col("o_orderkey") % 2 === 0, col("o_orderkey") * 10)
          .otherwise(col("o_orderkey") * 10 + 5).as(E.Lsn))
      b1.write.parquet(s"$base/in")
      def run(): Unit = {
        val stream = s.readStream.schema(b1.schema).parquet(s"$base/in")
          .withColumn("__key", col("k").cast(StringType))
        val guarded = graft.streaming.CdcStream
          .monotonicGuard(stream, "__key").drop("__key")
        val q = guarded.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      // one LSN of state per key: route the store by the measured key
      // count (the measured store crossover — the sf10 spelling of
      // this query was the bench's worst honest ratio precisely
      // because 15M keys rode the default store's full-state commit)
      graft.GraftSession.withStateStoreFor(s, o.count()) {
        run()
        b2.write.mode("append").parquet(s"$base/in")
        run()
      }
      s.read.parquet(s"$base/out")
        .select(col("k"), col("val"), col(E.Lsn).as("lsn"))
        .orderBy("k", "lsn")
    }),

    "fallback_downgrade" -> ((s, dir) => {
      // typesystem downgrade chain for an endpoint pinned at version 3:
      // v5 timestamp->datetime (second truncation) and v4
      // uint64->string both apply, newest first
      val ev = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("event_id").cast(DecimalType(20, 0)).as("big"))
      graft.model.Fallbacks.applyFor(ev, endpointVersion = 3, Seq(
        graft.model.Fallbacks.timestampAsDatetime(Seq("ts"), since = 5),
        graft.model.Fallbacks.uint64AsString(since = 4)))
        .orderBy("event_id")
    }),

    "sorted_lake" -> ((s, dir) => {
      // range-partitioned sorted parquet: every file covers a DISJOINT
      // key range (what makes min/max stats selective at lake scale).
      // Disjointness is asserted from the actual file footprint; the
      // hash compare proves data fidelity of the round-trip.
      val path = "/tmp/graft_sorted/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_sorted"), true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("val"))
      graft.sinks.Sinks.sortedParquet(o, path, Seq("o_orderkey"),
        graft.sinks.Sinks.Drop, partitions = Some(8))
      val back = s.read.parquet(path)
      val ranges = back.groupBy(input_file_name().as("f"))
        .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
        .orderBy("lo").collect()
      ranges.sliding(2).foreach {
        case Array(a, b) =>
          require(a.getLong(2) < b.getLong(1),
            s"file key ranges overlap: ${a} vs ${b}")
        case _ => ()
      }
      back.orderBy("o_orderkey")
    }),

    "replicate_stream" -> ((s, dir) => {
      // the engine's core purpose, end-to-end: a CDC stream driven
      // through the composed replication loop — MemoryStream source ->
      // per-key LSN monotonic guard (flatMapGroupsWithState) ->
      // checkpointed foreachBatch -> bucketed MERGE state -> state
      // read-back. Three SEQUENCED micro-batches: snapshot inserts,
      // then updates + stale replays (same LSN as the insert — the
      // guard must drop them before they corrupt the merge), then
      // deletes. The final state equals the batch collapse, which is
      // what DuckDB oracles.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val base = "/tmp/graft_replicate"
      val state = s"$base/state/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      // MemoryStream is driver-fed by contract: the rows collected here
      // are the test harness's event feed, not an operator collect
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice").cast("double"))
        .as[(Long, Double)].collect()
      val inserts = rows.toSeq.map { case (k, p) => (k, p, "insert", k * 10L) }
      val updates = rows.toSeq.filter(_._1 % 3 == 0)
        .map { case (k, p) => (k, p + 5000.0, "update", k * 10L + 1) }
      // stale replays: redelivered at the insert's LSN with a poison
      // value — the monotonic guard must suppress every one of them
      val replays = rows.toSeq.filter(_._1 % 5 == 0)
        .map { case (k, p) => (k, p + 99999.0, "update", k * 10L) }
      val deletes = rows.toSeq.filter(_._1 % 7 == 0)
        .map { case (k, _) => (k, 0.0, "delete", k * 10L + 2) }
      val mem = MemoryStream[(Long, Double, String, Long)]
      val stream = mem.toDF().toDF("k", "val", E.Kind, E.Lsn)
        .withColumn(E.Counter, lit(0))
        .withColumn("__key", col("k").cast(StringType))
      val guarded = graft.streaming.CdcStream
        .monotonicGuard(stream, "__key").drop("__key")
      // guard state is one LSN per key: route the store by the key
      // count (free here — the feed is already collected); at sf0.1
      // this stays on the default provider, at sf10+ it crosses to
      // RocksDB+changelog (the measured store crossover)
      graft.GraftSession.withStateStoreFor(s, rows.length.toLong) {
        val q = graft.streaming.CdcStream.replicate(guarded, state,
          s"$base/ckpt", Seq("k"),
          graft.streaming.CdcStream.Bufferer(interval = None)).start()
        try {
          mem.addData(inserts)
          q.processAllAvailable()
          mem.addData(updates ++ replays)
          q.processAllAvailable()
          mem.addData(deletes)
          q.processAllAvailable()
        } finally q.stop()
      }
      graft.streaming.CdcStream.readState(s, state).orderBy("k")
    }),

    "replicate_stream_fs" -> ((s, dir) => {
      // the SAME composed replication loop, fed from the file-queue
      // spool instead of a driver-collected MemoryStream: event batches
      // are derived engine-side from the orders table and APPENDED to
      // the spool as distributed writes; the stream consumes them with
      // the file source (checkpointed file-set = queue position). The
      // driver never materializes a row, so this spelling scales with
      // the corpus — it is the row that carries the 100x evidence for
      // the composed loop (fresh-sf10 in PLANS.md), where
      // replicate_stream's MemoryStream harness OOMs by construction.
      // Same final state, same oracle.
      val base = "/tmp/graft_replicate_fs"
      val state = s"$base/state/orders"
      val qdir = s"$base/queue"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").cast("double").as("val"))
      // the four event classes, engine-side (no collect anywhere)
      val inserts = o.select(col("k"), col("val"),
        lit("insert").as(E.Kind), (col("k") * 10).as(E.Lsn))
      val updates = o.filter(col("k") % 3 === 0).select(col("k"),
        (col("val") + 5000.0).as("val"),
        lit("update").as(E.Kind), (col("k") * 10 + 1).as(E.Lsn))
      // stale replays: redelivered at the insert's LSN with a poison
      // value — the monotonic guard must suppress every one of them
      val replays = o.filter(col("k") % 5 === 0).select(col("k"),
        (col("val") + 99999.0).as("val"),
        lit("update").as(E.Kind), (col("k") * 10).as(E.Lsn))
      val deletes = o.filter(col("k") % 7 === 0).select(col("k"),
        lit(0.0).as("val"), lit("delete").as(E.Kind),
        (col("k") * 10 + 2).as(E.Lsn))
      def publish(df: org.apache.spark.sql.DataFrame): Unit =
        graft.sinks.KafkaSink.appendFileQueue(df, qdir, "orders",
          keyCols = Seq("k"))
      publish(inserts)
      val wire = graft.sources.Readers.fileQueueStream(s, qdir, "orders")
      val payload = from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, val DOUBLE, __kind STRING, __lsn BIGINT"))
      val stream = wire.select(payload.as("__p")).select(
          col("__p.k").as("k"), col("__p.val").as("val"),
          col(s"__p.${E.Kind}").as(E.Kind), col(s"__p.${E.Lsn}").as(E.Lsn))
        .withColumn(E.Counter, lit(0))
        .withColumn("__key", col("k").cast(StringType))
      val guarded = graft.streaming.CdcStream
        .monotonicGuard(stream, "__key").drop("__key")
      // the guard holds one LSN per order key: route the state store by
      // the MEASURED key count (metadata-cheap parquet count) — past the
      // measured crossover the default store's full-state commit
      // goes superlinear (81.6 s/batch at 10^7 keys; RocksDB+changelog
      // 24.9 s), below it the default is faster. This is the sizing
      // rule from GraftSession.scaleStreamingState, encoded.
      graft.GraftSession.withStateStoreFor(s, o.count()) {
        val q = graft.streaming.CdcStream.replicate(guarded, state,
          s"$base/ckpt", Seq("k"),
          graft.streaming.CdcStream.Bufferer(interval = None)).start()
        try {
          q.processAllAvailable()
          publish(updates.unionByName(replays))
          q.processAllAvailable()
          publish(deletes)
          q.processAllAvailable()
        } finally q.stop()
      }
      graft.streaming.CdcStream.readState(s, state).orderBy("k")
    }),

    "tag_transactions" -> ((s, dir) =>
      Collapse.tagTransactions(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey").cast(StringType).as(E.TxId)))
        .select(col("o_orderkey"), col(E.TxId), col("__tx_ord"))
        .orderBy("o_orderkey")),

    "delta_roundtrip" -> ((s, dir) => {
      // two versioned Delta commits (public protocol), replayed by the
      // log reader
      val path = "/tmp/graft_delta/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 2 === 0), path)
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 2 =!= 0), path)
      graft.sources.DeltaLite.read(s, path).orderBy("o_orderkey")
    }),

    "delta_txn_sink" -> ((s, dir) => {
      // exactly-once foreachBatch sink over the protocol's txn action:
      // three micro-batches plus a crash-replay of batch 1 carrying a
      // poison payload — the replayed (appId, version) pair must skip,
      // so every order lands exactly once and the poison never commits
      val path = "/tmp/graft_delta_txnq/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_txnq"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      val app = "graft_replication"
      val D = graft.sources.DeltaLite
      D.writeTxn(o.filter(col("o_orderkey") % 3 === 0), path, app, 0L)
      D.writeTxn(o.filter(col("o_orderkey") % 3 === 1), path, app, 1L)
      D.writeTxn(o.filter(col("o_orderkey") % 3 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0e9),
        path, app, 1L)
      D.writeTxn(o.filter(col("o_orderkey") % 3 === 2), path, app, 2L)
      D.read(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "delta_restore" -> ((s, dir) => {
      // RESTORE as a new head commit: append on top of v0, restore to
      // v0 (log surgery only — no data movement), read the head. The
      // pre-restore version stays time-travelable; the oracle sees only
      // the v0 slice
      val path = "/tmp/graft_delta_restore/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_restore"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 4 === 0), path)
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 4 === 1), path)
      graft.sources.DeltaLite.restore(s, path, 0L)
      graft.sources.DeltaLite.read(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "delta_time_travel" -> ((s, dir) => {
      // versionAsOf over the same public protocol: three commits (two
      // appends, then an overwrite that logically removes them); reading
      // version 1 must reconstruct exactly the pre-overwrite state from
      // the immutable data files + truncated log replay
      val path = "/tmp/graft_delta_tt/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_tt"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 4 === 0), path)
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 4 === 1), path)
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 4 === 2), path,
        overwrite = true)
      graft.sources.DeltaLite.readAt(s, path, 1L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "delta_partitioned" -> ((s, dir) => {
      // date-partitioned lake shape over the public Delta protocol
      // (sources.DeltaLite): write orders partitioned by priority
      // (Hive-style dirs + partitionValues per add action), then a
      // PARTITION-PRUNED read of one value — planned entirely from the
      // log, so I/O ∝ the matching partition, not the table (the first
      // thing a 100 TB date-partitioned reader needs; the spec asserts
      // only grp-matching files are opened). The oracle filters the
      // original table — pruning changes which files are READ, never
      // the result.
      val path = "/tmp/graft_delta_part/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_part"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.sources.DeltaLite.write(o, path,
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaLite.readPruned(s, path,
          pv => pv("o_orderpriority") == "1-URGENT")
        .orderBy("o_orderkey")
    }),

    "delta_evolve" -> ((s, dir) => {
      // schema evolution on write (sources.DeltaLite.write mergeSchema):
      // the first commit carries (key, price); a later append adds
      // o_orderpriority, which extends the DECLARED schema in the log.
      // The unified read-back serves the log's schema — pre-evolution
      // files surface NULL for the new column — which the oracle
      // reproduces with a CASE over the same key split.
      val path = "/tmp/graft_delta_evolve/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_evolve"), true)
      val o = t(s, dir, "orders")
      graft.sources.DeltaLite.write(
        o.filter(col("o_orderkey") % 4 =!= 0)
          .select("o_orderkey", "o_totalprice"), path)
      graft.sources.DeltaLite.write(
        o.filter(col("o_orderkey") % 4 === 0)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        path, mergeSchema = true)
      graft.sources.DeltaLite.read(s, path).orderBy("o_orderkey")
    }),

    "delta_convert" -> ((s, dir) => {
      // in-place lake adoption: a plain Hive-partitioned parquet dir
      // (written by a non-Delta writer) becomes a Delta table by
      // LISTING, not rewriting — then a partition-pruned transactional
      // read serves one status from the log's partitionValues
      val path = "/tmp/graft_io/delta_convert"
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(path)
      graft.sources.DeltaLite.convert(s, path)
      graft.sources.DeltaLite.readPruned(s, path,
          pv => pv.get("o_orderstatus").contains("F"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    "delta_merge" -> ((s, dir) => {
      // copy-on-write row-level ops over the public Delta protocol
      // (sources.DeltaLite.upsert/deleteWhere): two file-disjoint
      // commits, then a PK upsert (reprice %100==1, insert synthetic
      // high keys) and a predicate delete (%100==2). Only files
      // containing touched rows are rewritten — the spec asserts the
      // untouched file survives; here the oracle recomputes the final
      // table state from the same formulas.
      val path = "/tmp/graft_delta_mrg/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_mrg"), true)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 2 === 0), path)
      graft.sources.DeltaLite.write(o.filter(col("o_orderkey") % 2 =!= 0), path)
      val ups = o.filter(col("o_orderkey") % 100 === 1)
        .select(col("o_orderkey"), (col("o_totalprice") + 1000).as("o_totalprice"),
          lit("U").as("o_orderstatus"))
        .unionByName(o.filter(col("o_orderkey") % 100 === 3)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice"), lit("N").as("o_orderstatus")))
      graft.sources.DeltaLite.upsert(s, path, ups, Seq("o_orderkey"))
      graft.sources.DeltaLite.deleteWhere(s, path,
        col("o_orderkey") % 100 === 2)
      graft.sources.DeltaLite.read(s, path)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    }),

    "merge_bucketed" -> ((s, dir) => {
      // bucketed incremental MERGE end-to-end: snapshot batch, then a
      // CDC batch of disjoint updates/deletes; the final state is read
      // back from the bucketed layout (only touched buckets rewritten)
      val state = "/tmp/graft_state_merge/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_state_merge"), true)
      val snap = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("val"))
      graft.streaming.CdcStream.mergeBatch(snap, state, Seq("k"),
        numBuckets = 16)
      val changes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 5000.0).as("val"),
          when(col("o_orderkey") % 7 === 0, E.Delete).otherwise(E.Update)
            .as(E.Kind),
          lit(10L).as(E.Lsn), lit(0).as(E.Counter))
      graft.streaming.CdcStream.mergeBatch(changes, state, Seq("k"))
      graft.streaming.CdcStream.readState(s, state).orderBy("k")
    }),

    "rotator_tag" -> ((s, dir) =>
      graft.sinks.Rotator.tag(t(s, dir, "events"), "ts", graft.sinks.Rotator.Daily)
        .select(col("event_id"), col(graft.sinks.Rotator.RotationCol))
        .orderBy("event_id")),

    "delta_cdc_merge" -> ((s, dir) => {
      // CDC replication into a LAKE table: snapshot, then an update/
      // delete batch merged copy-on-write under a txn watermark, then
      // the same batch REPLAYED with a poison payload — exactly-once
      // means the lake equals the collapse and the poison never lands
      val path = "/tmp/graft_delta_cdc/orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_delta_cdc"), true)
      val D = graft.sources.DeltaLite
      val app = "graft_lake_repl"
      val snap = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("val"))
      D.mergeCdc(s, path, snap, Seq("k"), txn = Some((app, 0L)))
      def changes(poison: Double) = t(s, dir, "orders")
        .filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 5000.0 + poison).as("val"),
          when(col("o_orderkey") % 7 === 0, E.Delete).otherwise(E.Update)
            .as(E.Kind),
          lit(10L).as(E.Lsn), lit(0).as(E.Counter))
      D.mergeCdc(s, path, changes(0.0), Seq("k"), txn = Some((app, 1L)))
      D.mergeCdc(s, path, changes(1.0e9), Seq("k"), txn = Some((app, 1L)))
      D.read(s, path).orderBy("k")
    }),

    "pipeline_docs" -> ((s, dir) => {
      // composed training-data pipeline: quality gate -> exact dedup
      // survivors -> per-doc features
      val docs = t(s, dir, "documents")
      val gated = docs.filter(
        TextAnalysis.qualityScore(col("text")) >= 0.7)
      val survivors = Dedup.exact(gated, "text", "doc_id")
      survivors.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        col("lang"))
        .orderBy("doc_id")
    }),

    "multimodal_meta" -> ((s, dir) =>
      Multimodal.byteFeatures(
        Multimodal.asMedia(t(s, dir, "documents"), "text", "text/plain"))
        .select(col("doc_id"), col("byte_len"), col("content_sha"),
          col("media_meta.width").as("width"),
          col("media_meta.duration_ms").as("duration_ms"))
        .orderBy("doc_id")),

    "multimodal_decode" -> ((s, dir) => {
      // REAL image decode (MediaCodecs.decodePpm): every doc becomes a
      // 2x2 P6 image whose 12 raster bytes derive from md5(text); the
      // mapPartitions kernel decodes actual pixels, then the resize
      // stage nearest-neighbor upsamples 2x2 -> 4x4 and re-decodes —
      // each source pixel replicates exactly 4x, so resized sums are
      // 4x the originals. Integer channel sums verify bit-for-bit; the
      // oracle recomputes them straight from the md5 hex pairs.
      val ppm = concat(
        unhex(lit("50360A3220320A3235350A")), // "P6\n2 2\n255\n"
        unhex(substring(md5(col("text")), 1, 24)))
      val docs = t(s, dir, "documents").select(col("doc_id"), ppm.as("payload"))
      val decoded = Multimodal.decodeImageStats(docs)
        .select("doc_id", "width", "height", "sum_r", "sum_g", "sum_b")
      val resized = Multimodal.decodeImageStats(
          Multimodal.resizeImages(docs, 4, 4).select(
            col("doc_id"), col("resized").as("payload")))
        .select(col("doc_id"), col("width").as("r_width"),
          col("height").as("r_height"), col("sum_r").as("r_sum_r"),
          col("sum_g").as("r_sum_g"), col("sum_b").as("r_sum_b"))
      decoded.join(resized, "doc_id").orderBy("doc_id")
    }),

    "multimodal_png" -> ((s, dir) => {
      // REAL PNG decode (MediaCodecs.decodePng — zlib ships with the
      // JDK, so PNG is NOT a codec-library stand-in): the same 2x2
      // md5-derived pixels as multimodal_decode, but encoded through a
      // real zlib IDAT with a DIFFERENT scanline filter per doc
      // (doc_id % 5 cycles None/Sub/Up/Average/Paeth, so every
      // unfilter recurrence decodes some of the corpus); CRCs verified
      // on every chunk. The oracle recomputes the channel sums from
      // the md5 hex — a hash match proves filters+inflate are
      // byte-exact, not just roundtrip-consistent.
      val mkPng = udf { (hex: String, ft: Int) =>
        val px = new Array[Byte](12)
        var i = 0
        while (i < 12) {
          px(i) = Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16).toByte
          i += 1
        }
        graft.functions.MediaCodecs.encodePng(
          graft.functions.MediaCodecs.Raster(2, 2, px), ft)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkPng(substring(md5(col("text")), 1, 24),
          pmod(col("doc_id"), lit(5)).cast(IntegerType)).as("payload"))
      Multimodal.decodeImageStats(docs)
        .withColumn("mime", Multimodal.mimeSniff(col("payload")))
        .select("doc_id", "mime", "width", "height",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    }),

    "multimodal_gif" -> ((s, dir) => {
      // REAL GIF decode (MediaCodecs.decodeGif): a 16x16 indexed image
      // per doc whose 256 pixel indices cycle the doc's first 4 md5
      // bytes — periodic input, so the LZW dictionary genuinely builds
      // and multi-symbol codes decode; palette channel formulas are
      // SQL-computable, so the oracle re-derives exact channel sums
      // from the md5 hex without touching bytes.
      val mkGif = udf { (hex: String) =>
        val b = Array.tabulate(4)(i =>
          Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16))
        val idx = Array.tabulate[Byte](256)(p => b(p % 4).toByte)
        val pal = Array.tabulate[Byte](768) { j =>
          val e = j / 3; val c = j % 3; ((e + c * 85) % 256).toByte
        }
        graft.functions.MediaCodecs.encodeGif(16, 16, idx, pal)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkGif(substring(md5(col("text")), 1, 8)).as("payload"))
      Multimodal.decodeImageStats(docs)
        .withColumn("mime", Multimodal.mimeSniff(col("payload")))
        .select("doc_id", "mime", "width", "height",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    }),

    "multimodal_jpeg" -> ((s, dir) => {
      // REAL baseline JPEG decode (functions.Jpeg): 16x16 grayscale,
      // four 8x8 blocks each CONSTANT at one of the doc's md5 bytes —
      // constant blocks survive DCT+flat-quant-8 bit-exactly (DC-only),
      // so the decode (markers, stream-defined Huffman tables, zigzag,
      // dequant, IDCT) is oracle-gated on exact channel sums. The
      // entropy stream is real Huffman, not a stub.
      val mkJpeg = udf { (hex: String) =>
        val b = Array.tabulate(4)(i =>
          Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16))
        val gray = new Array[Byte](256)
        var p = 0
        while (p < 256) {
          val bx = (p % 16) / 8; val by = p / 16 / 8
          gray(p) = b(by * 2 + bx).toByte
          p += 1
        }
        graft.functions.Jpeg.encodeGray(16, 16, gray)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkJpeg(substring(md5(col("text")), 1, 8)).as("payload"))
      Multimodal.decodeImageStats(docs)
        .withColumn("mime", Multimodal.mimeSniff(col("payload")))
        .select("doc_id", "mime", "width", "height",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id")
    }),

    "multimodal_video" -> ((s, dir) => {
      // REAL video frame sampling: each doc becomes a 4-frame
      // AVI/MJPEG container (RIFF movi chunks of true baseline JPEGs,
      // frame i constant at md5 byte b_i); the stage walks the real
      // container, samples every 2nd frame, and Huffman+IDCT-decodes
      // the sampled frames only — decode cost ∝ sampled frames. The
      // oracle predicts the exact per-frame sums from the md5 hex.
      val mkAvi = udf { (hex: String) =>
        val frames = (0 until 4).map { i =>
          val v = Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16)
          val gray = Array.fill[Byte](256)(v.toByte)
          graft.functions.Jpeg.encodeGray(16, 16, gray)
        }
        graft.functions.MediaCodecs.encodeAviMjpeg(frames, 16, 16)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkAvi(substring(md5(col("text")), 1, 8)).as("payload"))
      Multimodal.frameSampleStats(docs, every = 2)
        .withColumn("mime", Multimodal.mimeSniff(col("payload")))
        .select("doc_id", "mime", "frame_idx", "width", "height",
          "sum_r", "sum_g", "sum_b")
        .orderBy("doc_id", "frame_idx")
    }),

    "multimodal_audio" -> ((s, dir) => {
      // REAL audio decode (MediaCodecs.decodeWav): every doc becomes a
      // 44-byte PCM WAV (mono, 8 kHz, 16-bit) whose 4 samples are the
      // first 8 md5(text) bytes, little-endian signed. The kernel
      // walks the RIFF chunks and decodes actual samples; integer
      // |sample| sums and peak verify bit-for-bit against the oracle's
      // own int16 reconstruction from the md5 hex.
      val wav = concat(
        unhex(lit("524946462C00000057415645666D7420100000000100" +
          "0100401F0000803E0000020010006461746108000000")),
        unhex(substring(md5(col("text")), 1, 16)))
      Multimodal.decodeAudioStats(
          t(s, dir, "documents").select(col("doc_id"), wav.as("payload")))
        .select("doc_id", "n_samples", "sample_rate", "sum_abs", "peak")
        .orderBy("doc_id")
    }),

    "multimodal_spectral" -> ((s, dir) => {
      // REAL frequency-domain audio analysis: each doc gets a 64-sample
      // PCM WAV carrying a pure tone whose bin index derives from its
      // md5 (integer cycles → all energy in exactly one FFT bin); the
      // stage decodes the WAV and runs a real radix-2 FFT (Dsp.fft) —
      // the oracle predicts the dominant bin from the generating
      // formula without running any transform.
      val mkWav = udf { (hex: String) =>
        val b0 = Integer.parseInt(hex.substring(0, 2), 16)
        val samples = graft.functions.Dsp.sine(b0 % 31 + 1, 64, 20000)
        val bos = new java.io.ByteArrayOutputStream()
        def ascii(t: String): Unit = bos.write(t.getBytes("US-ASCII"))
        def le32(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
          bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
        def le16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
        ascii("RIFF"); le32(36 + 128); ascii("WAVE")
        ascii("fmt "); le32(16); le16(1); le16(1); le32(8000); le32(16000)
        le16(2); le16(16)
        ascii("data"); le32(128)
        samples.foreach(v => le16(v & 0xffff))
        bos.toByteArray
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkWav(substring(md5(col("text")), 1, 2)).as("payload"))
      Multimodal.audioSpectral(docs)
        .select("doc_id", "n_samples", "dominant_bin")
        .orderBy("doc_id")
    }),

    "image_dhash_neardup" -> ((s, dir) => {
      // perceptual image near-dup detection end to end: docs in the
      // same doc_id-div-4 cluster share an md5-derived 9x8 grayscale
      // image except for ONE +128-perturbed pixel (flips at most 2
      // gradient bits), so within-cluster pairs sit at Hamming <= 4
      // while cross-cluster hashes are random 64-bit. The stage runs
      // the REAL pipeline — PPM encode, codec decode, integer-luma
      // dHash, 16-bit band LSH with the hot-bucket cap, exact Hamming
      // gate — and the oracle replays every bit from the md5 hex.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        plantedImage.as("payload"))
      val hashed = graft.functions.ImageDedup.dhashFrame(docs)
      graft.functions.ImageDedup.nearDupPairs(hashed, maxHamming = 6)
        .orderBy("left_id", "right_id")
    }),

    "image_dhash_bands" -> ((s, dir) => {
      // the hash stage alone, every doc: proves the decode → luma →
      // gradient bit path bit-for-bit (the near-dup row above only
      // samples hashes that collide into candidate pairs)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        plantedImage.as("payload"))
      graft.functions.ImageDedup.dhashFrame(docs)
        .select("doc_id", "b0", "b1", "b2", "b3")
        .orderBy("doc_id")
    }),

    "video_fingerprint_match" -> ((s, dir) => {
      // video content-dup detection: docs in the same doc_id-div-4
      // cluster carry 4-frame MJPEG videos whose frame values differ
      // only by a per-doc ±3 jitter; the temporal signature (each
      // sampled frame's mean luma quantized /8) absorbs the jitter, so
      // clusters group exactly — the real AVI walk + JPEG decode runs
      // on every sampled frame, and the oracle derives each quantized
      // mean analytically (constant frames are DC-only, so the JPEG
      // roundtrip is value-exact).
      val mkAvi = udf { (hex: String, jitter: Int) =>
        val frames = (0 until 4).map { i =>
          val b = Integer.parseInt(hex.substring(i * 2, i * 2 + 2), 16)
          val v = (b / 8) * 8 + 4 + jitter
          val gray = Array.fill[Byte](256)(v.toByte)
          graft.functions.Jpeg.encodeGray(16, 16, gray)
        }
        graft.functions.MediaCodecs.encodeAviMjpeg(frames, 16, 16)
      }
      val docs = t(s, dir, "documents").select(col("doc_id"),
        mkAvi(substring(md5(concat(lit("vid:"),
            expr("CAST(doc_id AS BIGINT) div 4").cast("string"))), 1, 8),
          (col("doc_id") % 7 - 3).cast("int")).as("payload"))
      Multimodal.videoFingerprint(docs, every = 2, quant = 8)
        .groupBy("fp")
        .agg(min(element_at(col("qmeans"), 1)).as("q0"),
          min(element_at(col("qmeans"), 2)).as("q1"),
          min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .select("q0", "q1", "keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    "audio_fingerprint_match" -> ((s, dir) => {
      // audio content-dup detection: docs in the same doc_id-div-4
      // cluster carry the same two planted tones (integer-cycle sines
      // — all energy in one FFT bin per frame) at per-doc DIFFERENT
      // amplitudes; the fingerprint (dominant bin per 64-sample frame)
      // is gain-invariant, so clusters group exactly — including
      // cross-cluster merges when two clusters draw the same bin pair
      // (961 combinations). The stage decodes real WAVs and runs the
      // real radix-2 FFT; the oracle predicts every bin analytically.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        plantedAudio.as("payload"))
      Multimodal.audioFingerprint(docs)
        .groupBy("fp")
        .agg(min(element_at(col("bins"), 1)).as("b0"),
          min(element_at(col("bins"), 2)).as("b1"),
          min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .select("b0", "b1", "keep_id", "n_copies")
        .orderBy("keep_id")
    }),

    "dedup_multimodal_canonical" -> ((s, dir) => {
      // the multi-detector media-dedup pass end to end: duplicates
      // surfaced through ANY modality — image dHash pairs, audio
      // fingerprint groups, exact text fingerprints — union into one
      // edge set; connected components resolve the transitive closure
      // (an audio bin-pair collision fuses whole image clusters), and
      // canonical = min id per component. The oracle replays the three
      // edge derivations and the closure with a recursive CTE.
      val base = t(s, dir, "documents")
      val imgPairs = graft.functions.ImageDedup.nearDupPairs(
          graft.functions.ImageDedup.dhashFrame(
            base.select(col("doc_id"), plantedImage.as("payload"))),
          maxHamming = 6)
        .select(col("left_id").as("src"), col("right_id").as("dst"))
      val afp = Multimodal.audioFingerprint(
          base.select(col("doc_id"), plantedAudio.as("payload")))
        .select("doc_id", "fp")
      val aroots = afp.groupBy("fp").agg(min("doc_id").as("root"))
      val audEdges = afp.join(aroots, "fp")
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("src"), col("doc_id").as("dst"))
      val tfp = base.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("tfp"))
      val troots = tfp.groupBy("tfp").agg(min("doc_id").as("root"))
      val txtEdges = tfp.join(troots, "tfp")
        .filter(col("doc_id") =!= col("root"))
        .select(col("root").as("src"), col("doc_id").as("dst"))
      Dedup.resolveClusters(
          imgPairs.unionByName(audEdges).unionByName(txtEdges),
          "src", "dst")
        .orderBy("doc_id")
    }),

    "mime_sniff" -> ((s, dir) => {
      // magic-byte content-type detection over planted payloads: each
      // doc gets a real file signature (or none) prefixed to its text
      // bytes; the oracle knows which signature it planted per id and
      // checks the sniffer recovered exactly that
      val hdr = element_at(array(
        lit("FFD8FFE0"),                  // jpeg
        lit("89504E470D0A1A0A"),          // png
        lit("524946460000000057415645"),  // riff/wave
        lit("000000186674797069736F6D"),  // mp4 ftyp isom
        lit("474946383961"),              // gif89a
        lit("25504446"),                  // %PDF
        lit("")),                         // bare text: no signature
        (col("doc_id") % 7 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(unhex(hdr), col("text").cast("binary")).as("payload"))
        .select(col("doc_id"),
          Multimodal.mimeSniff(col("payload")).as("mime"),
          octet_length(col("payload")).cast("long").as("byte_len"))
        .orderBy("doc_id")
    }),

    "snapshot_diff" -> ((s, dir) => {
      // incremental-run planning: classify every doc across two corpus
      // snapshots (B = A minus id%7 deletions, with id%5 edits and
      // id%11 additions) as added/removed/changed — the join compares
      // 16-byte content digests computed in the scan stage, never text
      val a = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = a.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(lit("v2 "), col("text"))).otherwise(col("text")))
        .unionAll(a.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      graft.operators.SnapshotDiff.diff(a, b, "doc_id", Seq("text"))
        .filter(col("status") =!= "unchanged")
        .orderBy("doc_id")
    }),

    "quality_rule_stats" -> ((s, dir) =>
      // per-rule rejection accounting for the Gopher/C4-style intake
      // gate: WHICH rule is eating the corpus, in one scan (rule
      // vector exploded into a |rules|-sized aggregate)
      graft.functions.QualityRules
        .ruleStats(t(s, dir, "documents"), "text")
        .orderBy("rule")),

    "feature_hash" -> ((s, dir) =>
      // hashing-trick featurizer: sparse (doc, bucket, tf) rows over a
      // fixed 64-bucket space, no vocabulary pass — stable md5 buckets
      // so features reproduce across engines
      graft.functions.QualityRules.featureHash(
          t(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text", dims = 64)
        .orderBy("doc_id", "bucket")),

    "train_order" -> ((s, dir) =>
      // deterministic two-level training shuffle: hash shard + in-shard
      // hash rank; the window sorts per shard so no global sort exists
      // at any corpus size
      Sampling.trainOrder(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          shards = 16, seed = 7)
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), col("shard"), col("pos").cast("long").as("pos"))
        .orderBy("doc_id")),

    "group_reservoir" -> ((s, dir) =>
      // fixed-k deterministic per-group sample through the bounded-heap
      // aggregate: k rows per group ship per map task, never a window
      // sort of the group
      Sampling.reservoirPerGroup(t(s, dir, "documents"),
          Seq("lang"), "doc_id", k = 5, seed = 42)
        .orderBy("lang", "draw_rank")),

    "cluster_balanced_sample" -> ((s, dir) => {
      // topic-balanced corpus sampling: embedding-space cells via
      // 4-plane sign-LSH, then an equal fixed-k draw per cell — the
      // cheap stand-in for cluster-balanced data curation (cells and
      // draws both deterministic, so the curated set is reproducible)
      val cells = t(s, dir, "embeddings").select(col("vec_id"),
        Similarity.hyperplaneBucket(col("embedding"), planes = 4)
          .as("cell"))
      Sampling.reservoirPerGroup(cells, Seq("cell"), "vec_id",
          k = 8, seed = 3)
        .orderBy("cell", "draw_rank")
    }),

    "url_dedup_latest" -> ((s, dir) => {
      // crawl dedup: canonicalize messy URLs (same planted corpus as
      // url_normalize) and keep the LATEST crawl per canonical URL via
      // a max-struct aggregate — map-side combinable, no window sort
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM/"), col("lang"), lit("/p/"),
          (col("doc_id") % 97).cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("?page="), (col("doc_id") % 5).cast("string"),
              lit("&utm_source=feed&ref="), col("doc_id").cast("string")))
            .when(col("doc_id") % 3 === 1,
              concat(lit("?href=h"), (col("doc_id") % 7).cast("string"),
                lit("&utm_medium=m&pref=1&xutm_source=1")))
            .otherwise(lit("?utm_source=feed")),
          lit("#sec")).as("url"))
        .withColumn("crawl_seq", col("doc_id") % 13)
      planted
        .select(UrlOps.normalize(col("url")).as("url_norm"),
          col("crawl_seq"), col("doc_id"))
        .groupBy("url_norm")
        .agg(max(struct(col("crawl_seq"), col("doc_id"))).as("__w"),
          count(lit(1)).as("n_crawls"))
        .select(col("url_norm"), col("__w.doc_id").as("doc_id"),
          col("__w.crawl_seq").as("crawl_seq"), col("n_crawls"))
        .orderBy("url_norm")
    }),

    "bitext_mine" -> ((s, dir) => {
      // margin-based bitext mining between the even- and odd-label
      // halves of the embedding corpus: mutual top-1 pairs whose ratio
      // margin clears 1.0
      val e = t(s, dir, "embeddings")
      Similarity.bitextMine(
          e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
          "embedding", "vec_id", marginFloor = 1.0)
        .orderBy("id_a")
    }),

    "bitext_mine_lsh" -> ((s, dir) => {
      // the corpus-scale spelling of bitext mining: retrieval is
      // sign-LSH multiprobe (candidates share a hyperplane bucket or a
      // one-bit neighbor), so work is per-bucket, never |A|x|B| — the
      // hyperplanes are md5-derived driver literals, so DuckDB replays
      // the identical probe set and the oracle is exact, not rows-only
      val e = t(s, dir, "embeddings")
      Similarity.bitextMineLsh(
          e.filter(col("label") % 2 === 0), e.filter(col("label") % 2 === 1),
          "embedding", "vec_id", marginFloor = 1.0, planes = 8)
        .orderBy("id_a")
    }),

    "scalar_subquery" -> ((s, dir) => {
      // correlated scalar subquery (TPC-H q17 shape): Catalyst
      // decorrelates the per-part average into one aggregate + join,
      // not a per-row re-scan
      Tables.registerAll(s, dir)
      // l_quantity is integer-valued, so sum/count/0.2* are each one
      // exact-or-single-rounding double op — identical in any engine;
      // the revenue total accumulates as DECIMAL (order-independent)
      s.sql("""
        SELECT count(*) AS n_small,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DECIMAL(18,2)) AS lost_revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                            FROM lineitem l2
                            WHERE l2.l_partkey = p_partkey)""")
    }),

    "exists_subquery" -> ((s, dir) => {
      // correlated EXISTS (TPC-H q4 shape) -> left-semi join after
      // decorrelation: late-shipping orders counted per priority
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    "not_in_subquery" -> ((s, dir) => {
      // NOT IN + uncorrelated scalar subquery (TPC-H q22 shape) ->
      // null-aware anti join: rich customers who never ordered
      Tables.registerAll(s, dir)
      // the above-average test is spelled bal*n > sum so both sides of
      // the comparison stay exact DECIMAL — engines disagree on the
      // result type of avg(DECIMAL) (Spark: decimal; DuckDB: double),
      // and a threshold in doubles could flip boundary customers
      s.sql("""
        SELECT c_mktsegment, count(*) AS n_cust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
                 AS total_bal
        FROM customer
        WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
                (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
              > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
                 FROM customer WHERE c_acctbal > 0.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")
    }),

    "rolling_sum_range" -> ((s, dir) => {
      // time-RANGE window frame: per-user 7-day rolling event count and
      // value sum — the frame is value-based (interval), not row-based,
      // and partitions by user so no global sort; DECIMAL accumulation
      // keeps the rolling sum order-independent
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts_sec"))
        .rangeBetween(-6L * 86400L, 0L)
      t(s, dir, "events")
        .filter(col("user_id") < 20)
        .withColumn("ts_sec", unix_timestamp(col("ts")))
        .withColumn("n_7d", count(lit(1)).over(w))
        .withColumn("sum_7d",
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("decimal(18,6)"))
        .groupBy("user_id", "ts_sec")
        .agg(max("n_7d").as("n_7d"), max("sum_7d").as("sum_7d"))
        // DECIMAL in the accumulation (order-independent), DOUBLE at
        // the boundary (same decimal -> same nearest double in any
        // engine — decimal output formats differ across engines)
        .withColumn("sum_7d", col("sum_7d").cast("double"))
        .orderBy("user_id", "ts_sec")
    }),

    "jsonschema_registry_parse" -> ((s, dir) => {
      // registry-declared JSON topic: the target row schema is emitted
      // in BOTH registry dialects (Confluent JSON-Schema and the
      // Kafka-Connect envelope), the two documents must derive the
      // same Spark schema, and decoding is one codegen'd from_json
      // under the Confluent document
      import graft.parsers.JsonSchemaFormat
      val target = StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("status", StringType, nullable = false),
        StructField("price", DoubleType, nullable = false),
        StructField("note", StringType, nullable = true)))
      val confDoc = JsonSchemaFormat.structToConfluent(target, title = "order")
      val kafkaDoc = JsonSchemaFormat.structToKafkaConnect(target, name = "order")
      require(JsonSchemaFormat.toStruct(confDoc) ==
        JsonSchemaFormat.toStruct(kafkaDoc), "registry dialects disagree")
      val payloads = t(s, dir, "orders").select(
        to_json(struct(
          col("o_orderkey").as("id"),
          col("o_orderstatus").as("status"),
          col("o_totalprice").as("price"),
          when(col("o_orderkey") % 5 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("n"), col("o_orderkey").cast("string")))
            .as("note"))).as("payload"))
      JsonSchemaFormat.parse(payloads, "payload", confDoc)
        .select("id", "status", "price", "note")
        .orderBy("id")
    }),

    "incremental_join_view" -> ((s, dir) => {
      // incremental maintenance of a materialized orders x lineitem
      // join: start from a partial state on both sides, apply signed
      // insert/delete batches through the delta expansion (dA x B +
      // A x dB + dA x dB — prev x prev never re-joined), and return
      // the maintained view; the oracle recomputes the final join
      // from scratch
      import graft.operators.IncrementalJoin
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      val aPrev = o.filter(col("o_orderkey") % 31 =!= 0)
      val bPrev = l.filter(col("l_linenumber") =!= 7)
      // deltas are BATCH-sized by contract and the step expansion
      // references each twice (dA x B, dA x dB / A x dB, dA x dB) —
      // without materialization every reference re-runs the two-sided
      // delta construction (scan census: 21 scans in this row's
      // executed plan; exchange reuse never fires across re-aliased
      // branches)
      val dA = IncrementalJoin.delta(
        o.filter(col("o_orderkey") % 31 === 0),
        aPrev.filter(col("o_orderkey") % 37 === 0)).localCheckpoint()
      val dB = IncrementalJoin.delta(
        l.filter(col("l_linenumber") === 7),
        l.limit(0)).localCheckpoint()
      // orders is PK-keyed (duplicate-free) -> asRel, zero shuffle;
      // the projected lineitem slice is NOT unique -> lift
      // consolidates it. Prev state (aRel, bRel, viewPrev) is
      // materialized once, as a real maintenance step reads it from
      // storage rather than recomputing it per consumer branch.
      val aRel = IncrementalJoin.asRel(aPrev).localCheckpoint()
      val bRel = IncrementalJoin.lift(bPrev).localCheckpoint()
      val viewPrev = IncrementalJoin
        .joinRel(aRel, bRel, Seq("o_orderkey")).localCheckpoint()
      val view = IncrementalJoin.step(viewPrev, aRel, dA, bRel, dB,
        Seq("o_orderkey"))
      view.select(col("o_orderkey"), col("l_linenumber"),
          col("o_orderstatus"), col("l_quantity"),
          col(IncrementalJoin.MultCol))
        .orderBy("o_orderkey", "l_linenumber", "l_quantity")
    }),

    "mixture_schedule" -> ((s, dir) =>
      // domain-weighted training mixture: largest-remainder quotas
      // (en 44 / de 24 / fr 19 / zh 10 of a 97-doc budget), seeded
      // reservoir draw per domain, exact-integer stride interleave —
      // the epoch reads domains proportionally, not in blocks
      Sampling.mixture(t(s, dir, "documents"), "lang", "doc_id",
          weights = Map("en" -> 0.45, "de" -> 0.25,
            "fr" -> 0.2, "zh" -> 0.1),
          total = 97L, seed = 11)
        .orderBy("pos")),

    "winsorize_chars" -> ((s, dir) =>
      // tail-taming for metrics that feed downstream arithmetic: clip
      // doc length into the exact [p05, p95] band (count-histogram
      // thresholds, no corpus sort, rows preserved)
      Quantiles.winsorize(
          t(s, dir, "documents").select("doc_id", "n_chars"),
          "n_chars", loPermille = 50, hiPermille = 950)
        .orderBy("doc_id")),

    "quantile_pipeline" -> ((s, dir) => {
      // the curation chain: drop the degenerate tails (gate), then
      // clip what survives (winsorize) — ONE approx_count_distinct
      // decision pre-pass threads through both stages via domainHint
      // (per-stage estimates once doubled a corpus scan; a gate only
      // shrinks the domain, so the pre-gate estimate stays an honest
      // branch pick for the survivor stage)
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val est = Some(Quantiles.estimateDomain(d, "n_chars"))
      val gated = Quantiles.gate(d, "n_chars",
        loPermille = 10, hiPermille = 990, domainHint = est)
      Quantiles.winsorize(gated, "n_chars",
          loPermille = 100, hiPermille = 900, domainHint = est)
        .orderBy("doc_id")
    }),

    "embedding_gram" -> ((s, dir) =>
      // the corpus side of PCA/whitening: exact upper-triangle
      // second-moment matrix — (i, j, product) explode with map-side
      // partial aggregation (the shuffle carries ~d^2 rows per task at
      // any corpus size), DECIMAL sums for order-independence
      graft.functions.Pca.gram(t(s, dir, "embeddings"), "embedding")
        .orderBy("i", "j")),

    "add_tables_lifecycle" -> ((s, dir) => {
      // table-set surgery on a live transfer: replicate pub.orders
      // only (a batch touching a not-yet-added pub.custs must DROP its
      // rows), then addTables snapshots pub.custs at current content
      // and replication resumes over both; remove/reupload semantics
      // are spec-tested. The read-back of both states must equal the
      // oracle's replay of exactly these phases.
      import graft.operators.{Lifecycle, TableFilter}
      val base = "/tmp/graft_lifecycle"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val pks = Seq("k")
      val ordersNow = t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"))
      val custsNow = t(s, dir, "customer")
        .select(col("c_custkey").as("k"),
          col("c_mktsegment").as("status"))
      // phase 1: transfer starts on pub.orders only
      var f = Lifecycle.addTables(base, pks, TableFilter(),
        Seq("pub.orders" -> ordersNow))
      // phase 2: a mixed batch — pub.custs rows must not leak
      def env(df: org.apache.spark.sql.DataFrame, table: String,
              kind: String, lsn: Long) =
        df.withColumn(E.Table, lit(table)).withColumn(E.Kind, lit(kind))
          .withColumn(E.Lsn, lit(lsn)).withColumn(E.Counter, lit(0))
      val batch1 = env(ordersNow.filter(col("k") % 7 === 0)
          .withColumn("status", lit("X1")), "pub.orders", E.Update, 10L)
        .unionByName(env(custsNow.filter(col("k") % 3 === 0)
          .withColumn("status", lit("MUST_NOT_APPEAR")),
          "pub.custs", E.Insert, 10L))
      Lifecycle.applyBatch(batch1, base, pks, f)
      // phase 3: widen to pub.custs (snapshot at its current content)
      f = Lifecycle.addTables(base, pks, f, Seq("pub.custs" -> custsNow))
      // phase 4: both tables replicate now
      val batch2 = env(ordersNow.filter(col("k") % 11 === 0),
          "pub.orders", E.Delete, 20L)
        .unionByName(env(custsNow.filter(col("k") % 5 === 0)
          .withColumn("status", lit("Y2")), "pub.custs", E.Update, 20L))
      Lifecycle.applyBatch(batch2, base, pks, f)
      Lifecycle.readAll(s, base, Seq("pub.orders", "pub.custs"))
        .select(col(E.Table).as("tbl"), col("k"), col("status"))
        .orderBy("tbl", "k")
    }),

    "pca_project" -> ((s, dir) => {
      // the projection half of PCA under a FIXED orthonormal model
      // (components as exact literals, so the oracle can replay the
      // dot products): k codegen'd fold-dot-products per row, zero
      // shuffle; the FITTED path (gram -> Jacobi -> project) is
      // law-tested in PcaSpec
      import graft.functions.Pca
      val c1 = Array.fill(64)(0.125)
      val c2 = Array.tabulate(64)(i => if (i % 2 == 0) 0.125 else -0.125)
      val model = Pca.Model(Array(c1, c2), Array(1.0, 1.0),
        Array.fill(64)(0.0))
      Pca.project(t(s, dir, "embeddings"), "embedding", model)
        .select(col("vec_id"),
          element_at(col("proj"), 1).as("p1"),
          element_at(col("proj"), 2).as("p2"))
        .orderBy("vec_id")
    }),

    "quality_regression" -> ((s, dir) => {
      // model-based quality scoring, closed form: ONE moment scan
      // (9 exact integer sums), driver-side BigInt Cramer solve,
      // literal-weight codegen scoring — no gradient loop, no
      // second pass; the oracle replays the same HUGEINT
      // determinants so the weights are byte-identical
      import graft.functions.Regression
      val d = t(s, dir, "documents")
      val toks = split(trim(col("text")), "\\s+")
      val x1 = length(col("text"))
      val x2 = size(toks)
      val y = size(filter(toks,
        tk => lower(tk).isin("the", "a", "an", "of", "to", "in", "and")))
      val (scored, _) = Regression.fitScore3(
        d.select(col("doc_id"), x1.as("x1"), x2.as("x2"), y.as("y")),
        col("x1"), col("x2"), col("y"), BigInt(2500), "pred")
      scored.select(col("doc_id"), col("y").cast("long").as("stop_hits"),
          round(col("pred"), 6).as("pred_stop_hits"))
        .orderBy("doc_id")
    }),

    "kmv_per_group" -> ((s, dir) => {
      // per-group distinct-count estimation through the native
      // bounded KMV aggregate: at most k=64 longs per group per map
      // task ship, never the distinct pairs themselves (the
      // countDistinct alternative shuffles them all); the oracle
      // replays the k smallest distinct 48-bit hashes per group
      import graft.functions.Sketches
      Sketches.kmvPerGroup(t(s, dir, "orders"),
          Seq("o_orderpriority"), "o_custkey", k = 64)
        .orderBy("o_orderpriority")
    }),

    "nfc_dedup_keys" -> ((s, dir) => {
      // Unicode canonicalization before key hashing (graft_nfc, a
      // native codegen Expression): composed U+00E9 and decomposed
      // e+U+0301 are different BYTES for identical text — planted
      // per doc_id%3, the two variants must land in ONE group after
      // NFC while plain ASCII stays its own key; the oracle replays
      // with DuckDB's utf8proc nfc_normalize (the Unicode standard
      // pins the output byte-exactly)
      import graft.functions.Nfc
      val accent = when(col("doc_id") % 3 === 0, lit("\u00e9"))
        .when(col("doc_id") % 3 === 1, lit("e\u0301"))
        .otherwise(lit("e"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("caf"), accent, lit("-"), col("source")).as("raw"))
        .select(col("doc_id"), Nfc(col("raw")).as("norm"))
        .groupBy("norm")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy("norm")
    }),

    "weighted_sample" -> ((s, dir) => {
      // A-ES weighted sampling without replacement: sample k=100 docs
      // ∝ length through the bounded-heap draw (k entries per task
      // ship — no corpus sort); the oracle re-ranks the identical
      // md5-seeded u^(1/w) priorities
      t(s, dir, "documents").transform(d =>
        Sampling.weightedSample(d.filter(col("n_chars") > 0),
          "doc_id", "n_chars", k = 100, seed = 11))
        .orderBy("draw_rank")
    }),

    "setsim_prefix_join" -> ((s, dir) =>
      // threshold-EXACT similarity self-join via prefix filtering
      // (AllPairs/PPJoin): only each doc's rarest (1-θ) shingle
      // prefix is indexed, candidates are provably complete at θ,
      // exact verify runs on candidates alone — so the oracle is the
      // plain all-pairs answer, and the filter's losslessness is
      // what the hash-match proves
      Dedup.prefixJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 150),
        "text", "doc_id", shingleN = 3, theta = 0.1)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("id_a", "id_b")),

    "containment_join" -> ((s, dir) => {
      // DIRECTIONAL near-dup: each doc gets a planted "quote" (its
      // first third of tokens, id + 10^6) — a contained excerpt whose
      // symmetric Jaccard vs its source is far below any useful
      // threshold while its CONTAINMENT is 1.0. The asymmetric prefix
      // filter must find every (quote -> source) pair exactly at
      // θ = 0.8; the oracle replays the all-pairs answer, so the
      // filter's losslessness is what the hash-match proves.
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val tk = TextAnalysis.tokens(col("text"))
      val quotes = d.select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(tk, lit(1),
          floor((size(tk) + lit(2)) / lit(3)).cast("int")), " ").as("text"))
      Dedup.prefixContainmentPairs(d.unionByName(quotes), "text", "doc_id",
          shingleN = 3, theta = 0.8)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id_a", "id_b")
    }),

    "containment_incremental" -> ((s, dir) => {
      // the SAME corpus arriving in three batches against a persisted
      // postings index: every update discovers exactly the directed
      // pairs its batch completes (quote and source land in DIFFERENT
      // batches for most ids, so both probe directions carry the
      // load). The cumulative union must equal the one-shot batch
      // operator — containment_join's own naive all-pairs oracle,
      // which is what the hash-match proves. The index never shuffles:
      // batch prefixes probe it map-side, its stored fixed-order ranks
      // serve the reverse direction scan-side.
      val base = "/tmp/graft_containment_idx"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val tk = TextAnalysis.tokens(col("text"))
      val quotes = d.select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(tk, lit(1),
          floor((size(tk) + lit(2)) / lit(3)).cast("int")), " ").as("text"))
      val corpus = d.unionByName(quotes)
      val updates = (0 to 2).map(m =>
        Dedup.containmentIndexUpdate(base,
          corpus.filter(pmod(col("doc_id"), lit(3)) === m),
          "text", "doc_id", shingleN = 3, theta = 0.8))
      updates.reduce(_ unionByName _)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id_a", "id_b")
    }),

    "containment_compact" -> ((s, dir) => {
      // containment-index MAINTENANCE mid-stream: compact the
      // postings + frozen-df lakes between the second and third update;
      // stored ranks ride the rows, so the remaining updates' answers
      // — and the cumulative union — must equal the
      // uncompacted twin's exactly (containment_incremental's shared
      // naive all-pairs oracle). The fresh-sf10 ladder measures WHY:
      // without cadence the three per-update probe reads turn
      // listing-bound (PLANS.md).
      val base = "/tmp/graft_containment_idx_cpt"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val tk = TextAnalysis.tokens(col("text"))
      val quotes = d.select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(tk, lit(1),
          floor((size(tk) + lit(2)) / lit(3)).cast("int")), " ").as("text"))
      val corpus = d.unionByName(quotes)
      val updates = (0 to 2).map { m =>
        val u = Dedup.containmentIndexUpdate(base,
          corpus.filter(pmod(col("doc_id"), lit(3)) === m),
          "text", "doc_id", shingleN = 3, theta = 0.8)
        if (m == 1) Dedup.containmentIndexCompact(s, base)
        u
      }
      updates.reduce(_ unionByName _)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id_a", "id_b")
    }),

    "containment_update_many" -> ((s, dir) => {
      // micro-batch GROUPING: the same corpus arrives in six
      // batches but the index is updated three times, two batches per
      // lake scan via containmentIndexUpdateMany — the documented
      // 100-TB amortization of the update's one linear term (the
      // full-lake probe read). Grouping must not change the answer:
      // the cumulative union over any grouping of the arrival stream
      // equals the one-shot batch operator (shared naive all-pairs
      // oracle; the fresh-sf10 ladder measures the k× scan saving).
      val base = "/tmp/graft_containment_idx_many"
      org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true)
      val d = t(s, dir, "documents").filter(col("doc_id") < 150)
        .select(col("doc_id"), col("text"))
      val tk = TextAnalysis.tokens(col("text"))
      val quotes = d.select((col("doc_id") + 1000000L).as("doc_id"),
        array_join(slice(tk, lit(1),
          floor((size(tk) + lit(2)) / lit(3)).cast("int")), " ").as("text"))
      val corpus = d.unionByName(quotes)
      val updates = (0 to 2).map(g =>
        Dedup.containmentIndexUpdateMany(base,
          Seq(2 * g, 2 * g + 1).map(m =>
            corpus.filter(pmod(col("doc_id"), lit(6)) === m)),
          "text", "doc_id", shingleN = 3, theta = 0.8))
      updates.reduce(_ unionByName _)
        .withColumn("containment", round(col("containment"), 6))
        .orderBy("id_a", "id_b")
    }),

    "embedding_rebuild" -> ((s, dir) => {
      // the over-cap recovery path: the standing embedding index
      // is built incrementally, then REBUILT offline at a raised cap —
      // the exact recovery embeddingIndexUpdate's fail-fast exception
      // prescribes. The rebuild re-buckets the lake from its stored
      // vectors, swaps it in crash-safely, and returns the FULL pair
      // set via the one-shot bucket-join operator (never a corpus
      // broadcast) — so its answer is the one-shot oracle verbatim,
      // and updates resume against the rebuilt lake (the law spec
      // also exercises a planes CHANGE, which the pinned-planes
      // oracle here cannot).
      val base = "/tmp/graft_embindex_rebuild"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val e = t(s, dir, "embeddings")
      Seq(0, 1, 2).foreach(m =>
        Dedup.embeddingIndexUpdate(s"$base/idx",
          e.filter(pmod(col("vec_id"), lit(3)) === m), "embedding",
          "vec_id", planes = 8, minCos = 0.35).count())
      Dedup.embeddingIndexRebuild(s, s"$base/idx",
          planes = 8, minCos = 0.35, maxBucketSize = 1000000)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy("id_a", "id_b")
    }),

    "label_propagation" -> ((s, dir) => {
      // community detection where connected components is too coarse:
      // decade stars (9 leaves -> head) weakly CHAINED head-to-head —
      // CC would collapse everything into one blob through the
      // bridges; 3 synchronous LPA rounds keep the strongly-knit
      // decades as distinct communities. Deterministic by sync
      // updates + (count DESC, label ASC) tie-break, so the oracle
      // replays the rounds exactly
      val d = t(s, dir, "documents").select(col("doc_id"))
      val edges = d.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("src"),
          (col("doc_id") - col("doc_id") % 10).as("dst"))
        .unionAll(d.filter(col("doc_id") % 10 === 0 && col("doc_id") > 0)
          .select(col("doc_id").as("src"), (col("doc_id") - 10).as("dst")))
      graft.functions.Graph.labelPropagation(edges, "src", "dst", iters = 3)
        .select(col("node").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    "collocations" -> ((s, dir) =>
      // top adjacent-pair collocations by exact integer lift (PMI
      // rank without the cross-engine log): floor(cb·1e6·N/(cu1·cu2))
      // in DECIMAL(38,0) both engines replay bit-identically
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 50)
        .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))),

    "grouped_mad_outliers" -> ((s, dir) =>
      // robust numeric quality gate: |v - median| > 3·MAD per
      // language — two grouped histogram passes + broadcast stat
      // joins, all integer arithmetic under the repo's histogram
      // quantile definition (no per-row sort, no float boundary)
      graft.functions.Quantiles.groupedMadOutliers(
          t(s, dir, "documents"), "lang", "n_chars", k = 3)
        .filter(col("is_outlier"))
        .select(col("lang"), col("doc_id"), col("n_chars").cast("long")
          .as("n_chars"), col("med"), col("mad"))
        .orderBy("lang", "doc_id")),

    "paragraph_dedup" -> ((s, dir) => {
      // C4-style corpus-wide paragraph dedup + reassembly: a planted
      // boilerplate paragraph prepended to EVERY doc must survive
      // only in the smallest (doc, position) occurrence; every other
      // doc is rebuilt without it, sentence order preserved
      val planted = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("Subscribe to our newsletter now. "), col("text"))
            .as("text"))
      Dedup.paragraphDedup(planted, "text", "doc_id")
        .orderBy("doc_id")
    }),

    "time_decay_score" -> ((s, dir) => {
      // recency-weighted engagement: half-life decay per day-bucket
      // age, spelled as PURE INTEGERS — cents·2^(30-k) (k capped at
      // 30) summed in DECIMAL(38,0); 2^k is a dyadic weight so no
      // float enters the score at all, and age buckets come from
      // integer µs division (never a double quotient). One scan, one
      // broadcast max-ts scalar, one user-keyed aggregate
      val e = t(s, dir, "events")
      val mx = e.agg(max(unix_micros(col("ts"))).as("mx"))
      e.crossJoin(broadcast(mx))
        .withColumn("__k", least(
          expr("(mx - unix_micros(ts)) div 86400000000"), lit(30L)))
        .withColumn("__w", pow(lit(2.0), lit(30) - col("__k")).cast("long"))
        .withColumn("__cents", round(col("value") * 100).cast("long"))
        .groupBy("user_id")
        .agg(sum((col("__cents") * col("__w")).cast("decimal(38,0)"))
          .cast("long").as("score_scaled"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    "dedup_best_of_cluster" -> ((s, dir) => {
      // keep/drop refinement after near-dup clustering: each LSH
      // cluster keeps its LONGEST member (quality election), not the
      // min id — one cluster-keyed struct-max aggregate over the
      // canonicalize frame
      val docs = t(s, dir, "documents")
      val clusters = Dedup.canonicalize(docs,
        Dedup.minhashCandidates(docs, "text", "doc_id"), "doc_id")
      Dedup.electRepresentatives(
          clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id"),
          "doc_id", "cluster_id", "n_chars")
        .orderBy("cluster_id")
    }),

    "union_evolve" -> ((s, dir) => {
      // schema-evolving union across snapshot vintages: the older
      // vintage lacks the later column, unionByName(allowMissing)
      // null-fills it — the read-side half of schema evolution
      // (write-side is delta_evolve); pure projections + union, no
      // shuffle until the output sort
      val o = t(s, dir, "orders")
      val v1 = o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
      val v2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
      v1.unionByName(v2, allowMissingColumns = true)
        .orderBy("k")
    }),

    "dynamic_partition_overwrite" -> ((s, dir) => {
      // the daily-reload lake semantic: a refresh batch replaces ONLY
      // the partitions it carries (Spark's dynamic partitionOverwrite
      // mode — write I/O ∝ touched partitions, untouched dirs never
      // rewritten); the oracle replays the final state as a CASE over
      // the base table
      val base = "/tmp/graft_dyn_part"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          col("o_orderpriority").as("grp"))
      o.write.partitionBy("grp").parquet(base)
      // refresh ONE partition's rows with amended statuses
      val refresh = o.filter(col("grp") === "1-URGENT")
        .filter(col("k") % 3 =!= 0) // the reload also DROPS rows
        .withColumn("status", lit("R"))
      refresh.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("grp").parquet(base)
      s.read.parquet(base).select("k", "status", "grp").orderBy("k")
    }),

    "session_capped" -> ((s, dir) => {
      // sessionization with BOTH rules real attribution uses: break
      // at 30min inactivity AND split any session that exceeds a 2h
      // absolute cap (a long-running bot never yields one unbounded
      // session). Two user-keyed window passes — gaps-and-islands,
      // then integer µs division from each island's start; no
      // iterative logic, no state
      import org.apache.spark.sql.expressions.Window
      val gapUs = 1800000000L; val capUs = 7200000000L
      val e = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"))
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val marked = e.withColumn("__prev", lag(col("us"), 1).over(byUser))
        .withColumn("__new",
          (col("__prev").isNull ||
            col("us") - col("__prev") > gapUs).cast("long"))
        .withColumn("island", sum(col("__new")).over(byUser))
      val wIsland = Window.partitionBy("user_id", "island")
      val capped = marked
        .withColumn("__start", min(col("us")).over(wIsland))
        .withColumn("part", expr(s"(us - __start) div $capUs"))
      capped.groupBy("user_id", "island", "part")
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("t_start"), max(col("us")).as("t_end"))
        .orderBy("user_id", "island", "part")
    }),

    "sliding_unique_users" -> ((s, dir) => {
      // 7-day sliding distinct actives — the window-distinct shape a
      // per-row window can't express (count DISTINCT over a frame):
      // reduce to daily (user, day) pairs FIRST (map-side combined),
      // then each pair votes into the 7 report days it covers and one
      // distinct-agg per report day counts it once. Shuffle carries
      // daily-active pairs x 7, never raw events
      val e = t(s, dir, "events")
      val day = expr("unix_micros(ts) div 86400000000")
      val daily = e.select(col("user_id"), day.as("day")).distinct()
      daily.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("report_day"))
        .distinct()
        .groupBy("report_day")
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy("report_day")
    }),

    "mask_preserving" -> ((s, dir) => {
      // format-preserving masking (native codegen Expression
      // graft_mask): digits stay digits, case stays case, separators
      // pass through — phone shapes survive masking so parsers and
      // layout tests keep working; per-position seeded md5 draws, so
      // the oracle re-derives every character
      import graft.functions.Mask
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          Mask(col("c_name"), seed = 7).as("name_masked"))
        .orderBy("c_custkey")
    }),

    "funnel_windowed" -> ((s, dir) => {
      // conversion funnel with an attribution WINDOW: a purchase
      // counts only within 24h of the user's first view (unbounded
      // funnels overcount forever-later conversions); one user-keyed
      // aggregate, µs integer arithmetic
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val byUser = e.groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("us"))).as("t_view"))
      val conv = e.filter(col("event_type") === "purchase")
        .join(byUser, "user_id")
        .filter(col("t_view").isNotNull && col("us") > col("t_view") &&
          col("us") - col("t_view") <= 86400000000L)
        .select("user_id").distinct()
      byUser.agg(
        count(lit(1)).as("n_users"),
        count(col("t_view")).as("n_view"))
        .crossJoin(conv.agg(count(lit(1)).as("n_converted_24h")))
    }),

    "weighted_sample_grouped" -> ((s, dir) =>
      // per-language weight-proportional quota draw (k=20 per lang,
      // weight = doc length): the A-ES priorities through the
      // bounded-heap aggregate, k entries per group per task
      t(s, dir, "documents").transform(d =>
        Sampling.weightedSamplePerGroup(d.filter(col("n_chars") > 0),
          Seq("lang"), "doc_id", "n_chars", k = 20, seed = 13))
        .orderBy("lang", "draw_rank")),

    "score_percentiles" -> ((s, dir) =>
      // corpus permille of every doc's length WITHOUT a global sort:
      // domain-sized histogram + cumulative window + broadcast
      // value-keyed join back — the anti-percent_rank at scale
      graft.functions.Quantiles.percentiles(
          t(s, dir, "documents").select("doc_id", "n_chars"), "n_chars")
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("permille"))
        .orderBy("doc_id")),

    "grouped_percentiles" -> ((s, dir) =>
      // per-LANGUAGE permille of every doc's length: the group-keyed
      // twin of score_percentiles — (group x domain)-sized histogram,
      // group-partitioned cumulative, broadcast (group, value) join
      // back; length norms per language are the corpus-curation use
      graft.functions.Quantiles.groupedPercentiles(
          t(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")), "lang", "n_chars")
        .select(col("doc_id"), col("lang"),
          col("n_chars").cast("long").as("n_chars"), col("permille"))
        .orderBy("doc_id")),

    "class_terms" -> ((s, dir) =>
      // per-language characteristic terms (c-TF-IDF, integer-lift
      // flavor): each language's top-10 over-represented tokens by
      // exact DECIMAL lift — the "describe your clusters" report of
      // a curation run
      TextAnalysis.classTerms(t(s, dir, "documents"), "text", "lang",
        minCount = 5, topK = 10)
        .orderBy("cls", "rk")),

    "histogram_drift" -> ((s, dir) => {
      // distribution drift between two corpus vintages as exact
      // integer bucket shares: fixed 50-char buckets, per-side share
      // in ppm via integral division, per-bucket absolute shift —
      // the PSI report without its log (rank/threshold semantics
      // identical, no libm in the compare path); two domain-sized
      // aggregates, one bucket-keyed join
      val d = t(s, dir, "documents")
        .withColumn("bucket", expr("CAST(n_chars AS BIGINT) div 50"))
        .withColumn("side", (col("doc_id") % 2).cast("int"))
      val counts = d.groupBy("bucket", "side").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("side").agg(sum("c").as("n"))
      val shares = counts.join(totals, "side")
        .withColumn("share_ppm", expr("CAST(c * 1000000 div n AS BIGINT)"))
      val a = shares.filter(col("side") === 0)
        .select(col("bucket"), col("share_ppm").as("share_a"))
      val b = shares.filter(col("side") === 1)
        .select(col("bucket"), col("share_ppm").as("share_b"))
      a.join(b, Seq("bucket"), "full_outer")
        .na.fill(0L, Seq("share_a", "share_b"))
        .withColumn("shift_ppm", abs(col("share_a") - col("share_b")))
        .orderBy("bucket")
    }),

    "merkle_bucket_diff" -> ((s, dir) => {
      // replica reconciliation at digest granularity: both sides
      // reduce to 64 bucket digests (order-independent DECIMAL sums
      // of row hashes — a batch-level Merkle layer), and only
      // UNEQUAL buckets would be drilled row-level (checksum_compare
      // is that drill). Network cost of the equality check is
      // 2 x 64 digests, whatever the table size. Planted drift:
      // replica B amends status for keys % 97 == 0. Fields are
      // length-prefixed before hashing (the SnapshotDiff fingerprint
      // discipline) so no concatenation of values can collide with a
      // different field split and compensating in-bucket edits cannot
      // cancel in the digest sum.
      def digest(df: org.apache.spark.sql.DataFrame) = df
        .select(pmod(col("k"), lit(64L)).as("bucket"),
          graft.functions.Hashing.hex8ToLong(concat(
            length(col("k").cast("string")).cast("string"), lit(":"),
            col("k").cast("string"), lit("|"),
            length(col("status")).cast("string"), lit(":"),
            col("status"))).as("h"))
        .groupBy("bucket")
        .agg(sum(col("h").cast("decimal(38,0)")).cast("long").as("digest"),
          count(lit(1)).as("n"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
      val replicaB = o.withColumn("status",
        when(col("k") % 97 === 0, lit("X")).otherwise(col("status")))
      val da = digest(o)
      val db = digest(replicaB)
      da.join(db.select(col("bucket"), col("digest").as("digest_b"),
            col("n").as("n_b")), Seq("bucket"), "full_outer")
        .select(col("bucket"), col("n"), col("n_b"),
          (col("digest") === col("digest_b")).as("bucket_clean"))
        .orderBy("bucket")
    }),
  )
}
