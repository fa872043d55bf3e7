package graft

/** DuckDB oracle SQL for every entry in [[Queries.all]]. Written against
  * the same parquet tables; every query is value-deterministic across
  * engines: decimal-exact aggregation, md5-derived hashing, explicit
  * ORDER BY, rounded float scores.
  */
object Oracles {

  /** md5-derived stable 32-bit hash (DuckDB spelling of
    * [[graft.functions.Hashing.hex8ToLong]]). */
  private def hex8(x: String): String =
    s"CAST(('0x'||substr(md5($x),1,8)) AS BIGINT)"

  private val toks = "regexp_split_to_array(trim(text), '\\s+')"

  /** IVF probe replay, shared by ann_ivf_topk and ann_ivf_incremental
    * (the incremental index's contract is answer-equality with the
    * one-shot search). */
  private lazy val annIvfSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v FROM e
         |  ORDER BY ${hex8("CAST(vec_id AS VARCHAR)")} LIMIT 4),
         |cents AS (SELECT row_number() OVER (ORDER BY v[1]) - 1 AS centroid_id, v AS cv FROM seeds),
         |ac AS (SELECT e.vec_id, c.centroid_id,
         |  round(list_dot_product(e.v, c.cv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sc
         |FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id AS neighbor_id, centroid_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) AS rk FROM ac)
         |  WHERE rk = 1),
         |probes AS (SELECT vec_id AS query_id, centroid_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) AS rk
         |  FROM ac WHERE vec_id < 10) WHERE rk <= 2),
         |s AS (SELECT p.query_id, a.neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |FROM probes p JOIN assign a USING (centroid_id)
         |JOIN e q ON q.vec_id = p.query_id
         |JOIN e c ON c.vec_id = a.neighbor_id
         |WHERE a.neighbor_id <> p.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin


  private val ordersKindSql =
    "CASE WHEN o_orderkey % 7 = 0 THEN 'delete' " +
      "WHEN o_orderkey % 3 = 0 THEN 'update' ELSE 'insert' END"

  /** decimal-exact revenue term: exact 2dp decimals, exact multiply. */
  private val revTerm =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  private val nginxPat =
    """^(\S+) \S+ (\S+) \[([^\]]+)\] "(\S+) (\S+) [^"]*" (\d+) (\d+)"""

  private val langMarkersSql: Map[String, String] =
    graft.functions.TextAnalysis.LangMarkers.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
    }

  private val stopwordsSql =
    graft.functions.TextAnalysis.Stopwords.map(w => s"'$w'")
      .mkString("[", ", ", "]")

  /** Shared by the one-shot, incremental-index, and compacted-index
    * spellings of embedding near-dup: all three must produce the
    * one-shot bucket-join answer over the full corpus. */
  private def embedNearDupsSql: String =
    s"""WITH b AS (${lshBucketSql("embeddings")}),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |p AS (SELECT a.vec_id AS id_a, bb.vec_id AS id_b
       |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id),
       |s AS (SELECT id_a, id_b,
       |  list_dot_product(ea.v, eb.v) /
       |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos_raw
       |FROM p JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
       |SELECT id_a, id_b, round(cos_raw, 6) AS cos FROM s
       |WHERE cos_raw >= 0.35 ORDER BY id_a, id_b""".stripMargin

  val all: Map[String, String] = Map(
    "filter_columns" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders ORDER BY o_orderkey",

    "filter_rows" ->
      ("SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority FROM orders " +
        "WHERE (o_totalprice > 400000 AND o_orderstatus = 'F') " +
        "OR (o_orderpriority = '1-URGENT' AND o_totalprice <= 5000) " +
        "OR o_orderstatus IN ('P') " +
        "OR regexp_matches(o_orderpriority, '^5') ORDER BY o_orderkey"),

    "filter_rows_by_ids" ->
      s"SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (${(0 to 40 by 3).mkString(",")}) ORDER BY c_custkey",

    "skip_events" ->
      (s"""SELECT o_orderkey, $ordersKindSql AS "__kind" FROM orders """ +
        "WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey"),

    "rename_tables" ->
      """SELECT r_regionkey, r_name, 'public.region_v2' AS "__table" FROM region ORDER BY r_regionkey""",

    "mask_field" ->
      "SELECT c_custkey, sha256('s3cret'||c_name) AS c_name FROM customer ORDER BY c_custkey",

    "sql_transform" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),

    "ch_sql_transform" ->
      ("""SELECT o_orderstatus,
         |  count(*) FILTER (o_totalprice > 200000) AS n_big,
         |  count(DISTINCT o_custkey) AS n_cust,
         |  CAST(min(o_orderkey) AS VARCHAR) AS first_key
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "convert_to_string" ->
      ("SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey, " +
        "CAST(l_linenumber AS VARCHAR) AS l_linenumber, l_returnflag, " +
        "CAST(l_shipdate AS VARCHAR) AS l_shipdate " +
        "FROM lineitem ORDER BY lineitem.l_orderkey, lineitem.l_linenumber"),

    "convert_to_datetime" ->
      ("SELECT event_id, TIMESTAMP '1970-01-01 00:00:00' + " +
        "user_id * INTERVAL '1 second' AS user_ts FROM events ORDER BY event_id"),

    "number_to_float" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k " +
        "FROM events ORDER BY event_id"),

    "regex_replace" ->
      "SELECT p_partkey, regexp_replace(p_name, 'a+', 'X', 'g') AS p_name FROM part ORDER BY p_partkey",

    "replace_primary_key" ->
      "SELECT o_orderkey, o_custkey, 'o_custkey' AS pk_cols FROM orders ORDER BY o_orderkey",

    "mongo_pk_extender" ->
      ("""SELECT to_json(struct_pack(d := 'tenant1', id := c_custkey)) AS "_id", c_name """ +
        "FROM customer ORDER BY c_name"),

    "raw_doc_grouper" ->
      ("SELECT o_orderkey, to_json(struct_pack(o_custkey := o_custkey, " +
        "o_orderstatus := o_orderstatus, o_totalprice := o_totalprice, " +
        "o_orderpriority := o_orderpriority)) AS doc FROM orders ORDER BY o_orderkey"),

    "raw_cdc_doc_grouper" ->
      ("SELECT o_orderkey, to_json(struct_pack(o_custkey := o_custkey, " +
        "o_orderstatus := o_orderstatus, o_totalprice := o_totalprice, " +
        "o_orderpriority := o_orderpriority)) AS doc, " +
        "(o_orderkey % 7 = 0) AS deleted_flg FROM orders ORDER BY o_orderkey"),

    "sharder" ->
      (s"""SELECT o_orderkey, CAST(${hex8("CAST(o_orderkey AS VARCHAR)||chr(1)||CAST(o_custkey AS VARCHAR)")} % 8 AS INTEGER) AS "__part_id" """ +
        "FROM orders ORDER BY o_orderkey"),

    "table_splitter" ->
      """SELECT o_orderkey, 'orders/'||o_orderstatus AS "__table" FROM orders ORDER BY o_orderkey""",

    "batch_splitter" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "yt_dict" ->
      s"SELECT doc_id, to_json($toks) AS toks FROM documents ORDER BY doc_id",

    "remove_columns" ->
      "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber",

    "parse_json_good" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k " +
        "FROM events WHERE event_id % 50 <> 0 ORDER BY event_id"),

    "parse_json_quarantine" ->
      ("SELECT event_id, '{bad' AS unparsed_raw FROM events " +
        "WHERE event_id % 50 = 0 ORDER BY event_id"),

    // every event comes back exactly once: corrupted ids via the
    // replayed DLQ pass, the rest via the first pass
    "quarantine_replay" ->
      ("SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, " +
        "CASE WHEN event_id % 50 = 0 THEN 'replayed' ELSE 'first_pass' END AS pass " +
        "FROM events ORDER BY event_id"),

    // the Spark side parsed real XML documents (with quarantine); the
    // oracle re-derives both routes from the source rows directly
    "parse_xml" ->
      ("""SELECT s_suppkey AS sk,
         |  CASE WHEN s_suppkey % 37 = 0 THEN NULL ELSE s_name END AS name,
         |  CASE WHEN s_suppkey % 37 = 0 THEN NULL
         |    ELSE CAST(s_nationkey AS INTEGER) END AS nation,
         |  CASE WHEN s_suppkey % 37 = 0 THEN NULL ELSE s_acctbal END AS bal,
         |  CASE WHEN s_suppkey % 37 = 0 THEN 'quarantined' ELSE 'ok' END AS status
         |FROM supplier ORDER BY sk""".stripMargin),

    "parse_tskv" ->
      "SELECT CAST(r_regionkey AS INTEGER) AS rkey, r_name AS rname FROM region ORDER BY rkey",

    "debezium_roundtrip" ->
      (s"""SELECT o_orderkey, o_custkey, o_totalprice, $ordersKindSql AS "__kind", """ +
        """o_orderkey AS "__lsn" FROM orders ORDER BY o_orderkey"""),

    "serialize_json" ->
      ("SELECT to_json(struct_pack(o_orderkey := o_orderkey, " +
        "o_orderstatus := o_orderstatus, o_totalprice := o_totalprice)) AS value " +
        "FROM orders ORDER BY value"),

    "cdc_collapse" ->
      ("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS v0 FROM orders WHERE o_orderkey % 20 < 3),
         |ev AS (SELECT k, v0 + seq AS val,
         |  CASE WHEN (k+seq)%6=0 THEN 'delete' WHEN (k+seq)%3=0 THEN 'insert' ELSE 'update' END AS kind,
         |  seq AS lsn FROM base, (SELECT unnest(range(0,4)) AS seq) s),
         |t0 AS (SELECT ev.*, r.rl FROM ev LEFT JOIN (
         |  SELECT k, max(CASE WHEN kind IN ('insert','delete') THEN lsn END) AS rl
         |  FROM ev GROUP BY k) r USING (k)),
         |t AS (SELECT t0.*, rv.kind AS rk FROM t0
         |  LEFT JOIN ev rv ON rv.k = t0.k AND rv.lsn = t0.rl),
         |m AS (SELECT *, (rl IS NULL OR (rk='insert' AND lsn>=rl) OR (rk='delete' AND lsn>rl)) AS in_img FROM t),
         |agg AS (SELECT k, max(CASE WHEN in_img THEN lsn END) AS last_img_lsn,
         |               min(CASE WHEN in_img THEN lsn END) AS first_img_lsn FROM m GROUP BY k)
         |SELECT a.k,
         |  CASE WHEN a.last_img_lsn IS NOT NULL THEN lv.val END AS val,
         |  CASE WHEN a.last_img_lsn IS NOT NULL THEN fv.kind ELSE 'delete' END AS "__kind"
         |FROM agg a
         |LEFT JOIN m lv ON lv.k = a.k AND lv.lsn = a.last_img_lsn
         |LEFT JOIN m fv ON fv.k = a.k AND fv.lsn = a.first_img_lsn
         |ORDER BY a.k""".stripMargin),

    "split_updated_pkeys" ->
      ("""SELECT k, val, kind AS "__kind", ctr AS "__counter" FROM (
         |  SELECT o_orderkey AS k, o_totalprice AS val, 'update' AS kind, 0 AS ctr
         |    FROM orders WHERE o_orderkey % 10 <> 0
         |  UNION ALL
         |  SELECT o_orderkey, CAST(NULL AS DOUBLE), 'delete', 0
         |    FROM orders WHERE o_orderkey % 10 = 0
         |  UNION ALL
         |  SELECT o_orderkey + 1000000, o_totalprice, 'insert', 1
         |    FROM orders WHERE o_orderkey % 10 = 0
         |) ORDER BY k, ctr""".stripMargin),

    "strictify" ->
      ("SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey, " +
        "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice, o_orderstatus " +
        "FROM orders ORDER BY o_orderkey"),

    "split_by_table" ->
      ("""SELECT * FROM (
         |  SELECT 'nation' AS "__table", count(*) AS n FROM nation
         |  UNION ALL SELECT 'region', count(*) FROM region
         |) ORDER BY "__table"""".stripMargin),

    "sharded_scan" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber"),

    "incremental_scan" ->
      ("SELECT event_id, event_type, value FROM events " +
        "WHERE event_id > 1000 ORDER BY event_id"),

    "row_counts" ->
      ("SELECT * FROM (" +
        Tables.all.sorted.map(n =>
          s"SELECT '$n' AS tbl, count(*) AS n FROM $n").mkString(" UNION ALL ") +
        ") ORDER BY tbl"),

    "read_csv" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    "read_jsonline" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    // the Spark side went through an ORC write/read cycle; a hash match
    // against the parquet original proves the roundtrip lossless
    "orc_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey"),

    // the Spark side went through an Avro OCF write/read cycle; a hash
    // match against the parquet original proves the roundtrip lossless
    "avro_roundtrip" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate " +
        "FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey"),

    "read_nginx" -> {
      val p = nginxPat.replace("'", "''")
      val cols = Seq("remote_addr", "remote_user", "time_local", "method",
        "path", "status", "bytes_sent")
      val sel = cols.zipWithIndex.map { case (c, i) =>
        s"regexp_extract(value, '$p', ${i + 1}) AS $c"
      }.mkString(", ")
      s"""WITH lines AS (SELECT printf('10.0.0.%d - u%d [01/Jan/2024:00:00:00 +0000] "GET /r/%s HTTP/1.1" 200 %d',
         |  r_regionkey, r_regionkey, replace(r_name, ' ', '_'), length(r_name)) AS value FROM region)
         |SELECT $sel FROM lines ORDER BY remote_addr""".stripMargin
    },

    "q1_agg" ->
      (s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         |  CAST(sum($revTerm) AS DOUBLE) AS sum_disc_price,
         |  count(*) AS count_order
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    "q3_join" ->
      (s"""SELECT l_orderkey, CAST(sum($revTerm) AS DOUBLE) AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    "q5_sql" ->
      ("""SELECT n_name,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         |FROM region
         |JOIN nation ON n_regionkey = r_regionkey
         |JOIN customer ON c_nationkey = n_nationkey
         |JOIN orders ON o_custkey = c_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),

    "window_topn" ->
      ("""SELECT o_custkey, o_orderkey, rn FROM (
         |  SELECT o_custkey, o_orderkey,
         |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
         |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    "window_analytics" ->
      ("""SELECT o_custkey, o_orderkey,
         |  lag(o_orderkey, 1) OVER w AS prev_key,
         |  lead(o_orderkey, 1) OVER w AS next_key,
         |  rank() OVER w AS rnk,
         |  round(cume_dist() OVER w, 6) AS cd,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
         |    OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
         |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
         |FROM orders WHERE o_custkey < 50
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
         |ORDER BY o_custkey, rnk""".stripMargin),

    "sort_limit" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),

    "agg_cube" ->
      ("""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // conditional-aggregation spelling of the same pivot (DuckDB PIVOT
    // output column naming differs; the sums are what is under test)
    "agg_pivot" ->
      ("""SELECT l_linestatus,
         |  CAST(sum(CASE WHEN l_returnflag = 'A'
         |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS a_price,
         |  CAST(sum(CASE WHEN l_returnflag = 'N'
         |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS n_price,
         |  CAST(sum(CASE WHEN l_returnflag = 'R'
         |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE) AS r_price
         |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    "set_ops" ->
      ("""SELECT * FROM (
         |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
         |   INTERSECT
         |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         |  EXCEPT
         |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
         |) ORDER BY o_custkey""".stripMargin),

    "distinct_dedup" ->
      ("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem " +
        "ORDER BY l_returnflag, l_linestatus"),

    "join_semi" ->
      ("SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_totalprice > 400000) ORDER BY c_custkey"),

    "join_anti" ->
      ("SELECT c_custkey FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_totalprice > 450000) ORDER BY c_custkey"),

    // plain shuffle join in the oracle — bucketing changes the plan, not
    // the result, which is exactly what this row proves
    "bucketed_join" ->
      ("""SELECT c_mktsegment, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // DuckDB's native ASOF LEFT JOIN — an independent engine's
    // implementation of the backward-inclusive as-of semantics
    "asof_join" ->
      ("""WITH l AS (SELECT user_id, ts, event_id FROM events
         |           WHERE event_id % 5 <> 0),
         |     r AS (SELECT user_id, ts, max(value) AS state FROM events
         |           WHERE event_id % 5 = 0 GROUP BY user_id, ts)
         |SELECT l.event_id, l.user_id, l.ts,
         |       r.state AS r_state, r.ts AS r_ts
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts
         |ORDER BY l.event_id""".stripMargin),

    // identical oracle to asof_join: the custom merge operator is a
    // plan choice, not a semantics choice
    "asof_join_native" ->
      ("""WITH l AS (SELECT user_id, ts, event_id FROM events
         |           WHERE event_id % 5 <> 0),
         |     r AS (SELECT user_id, ts, max(value) AS state FROM events
         |           WHERE event_id % 5 = 0 GROUP BY user_id, ts)
         |SELECT l.event_id, l.user_id, l.ts,
         |       r.state AS r_state, r.ts AS r_ts
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts
         |ORDER BY l.event_id""".stripMargin),

    // identical oracle to asof_join: broadcast vs shuffle is a plan
    // choice, not a semantics choice
    "asof_join_broadcast" ->
      ("""WITH l AS (SELECT user_id, ts, event_id FROM events
         |           WHERE event_id % 5 <> 0),
         |     r AS (SELECT user_id, ts, max(value) AS state FROM events
         |           WHERE event_id % 5 = 0 GROUP BY user_id, ts)
         |SELECT l.event_id, l.user_id, l.ts,
         |       r.state AS r_state, r.ts AS r_ts
         |FROM l ASOF LEFT JOIN r
         |  ON l.user_id = r.user_id AND l.ts >= r.ts
         |ORDER BY l.event_id""".stripMargin),

    "global_index" ->
      ("""SELECT o_orderkey, global_idx FROM (
         |  SELECT o_orderkey,
         |         row_number() OVER (ORDER BY o_orderkey) - 1 AS global_idx
         |  FROM orders) t
         |WHERE global_idx % 100 = 0 ORDER BY global_idx""".stripMargin),

    // identical semantics to range_join — here the bucketization was
    // applied by the OPTIMIZER RULE to plain SQL, not by the operator
    "range_join_sql" ->
      ("""WITH p AS (SELECT l_orderkey % 10 AS g, l_extendedprice AS p
         |           FROM lineitem),
         |     iv AS (SELECT o_orderkey, o_orderkey % 10 AS g,
         |                   o_totalprice * 0.9 AS lo,
         |                   o_totalprice * 1.1 AS hi
         |            FROM orders WHERE o_orderkey % 500 = 0)
         |SELECT iv.o_orderkey, count(*) AS n,
         |  CAST(sum(CAST(p.p AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM iv JOIN p ON iv.g = p.g AND iv.lo <= p.p AND p.p < iv.hi
         |GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""".stripMargin),

    // plain inequality join in the oracle — bucketization changes the
    // plan (equi-join vs nested loop), not the result
    "range_join" ->
      ("""WITH p AS (SELECT l_orderkey % 10 AS g, l_extendedprice AS p
         |           FROM lineitem),
         |     iv AS (SELECT o_orderkey, o_orderkey % 10 AS g,
         |                   o_totalprice * 0.9 AS lo,
         |                   o_totalprice * 1.1 AS hi
         |            FROM orders WHERE o_orderkey % 500 = 0)
         |SELECT iv.o_orderkey, count(*) AS n,
         |  CAST(sum(CAST(p.p AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM iv JOIN p ON iv.g = p.g AND iv.lo <= p.p AND p.p < iv.hi
         |GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey""".stripMargin),

    // re-derives the expected error report from the defect formulas
    // with plain SQL set ops (the planted defects are deterministic)
    // the Spark side planted drift, computed the minimal repair batch
    // and applied it — convergence means the result IS the source
    "reconcile_repair" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority FROM orders ORDER BY o_orderkey"),

    "checksum_compare" ->
      ("""WITH missed AS (SELECT CAST(o_orderkey AS VARCHAR) AS key
         |                FROM orders WHERE o_orderkey % 97 = 0),
         |     extra AS (SELECT CAST(o_orderkey + 100000000 AS VARCHAR) AS key
         |               FROM orders WHERE o_orderkey % 499 = 0),
         |     price AS (SELECT CAST(o_orderkey AS VARCHAR) AS key
         |               FROM orders
         |               WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 = 0),
         |     prio AS (SELECT CAST(o_orderkey AS VARCHAR) AS key
         |              FROM orders
         |              WHERE o_orderkey % 97 <> 0 AND o_orderkey % 103 = 0)
         |SELECT * FROM (
         |  SELECT 'missed key' AS kind, '' AS "column", count(*) AS n,
         |    array_to_string((list(key ORDER BY key))[1:3], ',') AS sample_keys
         |  FROM missed
         |  UNION ALL
         |  SELECT 'extra key', '', count(*),
         |    array_to_string((list(key ORDER BY key))[1:3], ',') FROM extra
         |  UNION ALL
         |  SELECT 'column ''o_totalprice'' mismatch', 'o_totalprice', count(*),
         |    array_to_string((list(key ORDER BY key))[1:3], ',') FROM price
         |  UNION ALL
         |  SELECT 'column ''o_orderpriority'' mismatch', 'o_orderpriority',
         |    count(*),
         |    array_to_string((list(key ORDER BY key))[1:3], ',') FROM prio
         |) t WHERE n > 0 ORDER BY kind, "column"""".stripMargin),

    // re-derives the v0->v2 changelog from the fixture formulas
    "delta_cdf" ->
      ("""SELECT * FROM (
         |  SELECT 'update' AS kind, o_orderkey AS k,
         |    o_totalprice AS bp, o_totalprice + 100 AS ap
         |  FROM orders WHERE o_orderkey % 10 = 1
         |  UNION ALL
         |  SELECT 'insert', o_orderkey + 100000000,
         |    CAST(NULL AS DOUBLE), o_totalprice
         |  FROM orders WHERE o_orderkey % 10 = 3
         |  UNION ALL
         |  SELECT 'delete', o_orderkey, o_totalprice, CAST(NULL AS DOUBLE)
         |  FROM orders WHERE o_orderkey % 10 = 2
         |) ORDER BY k, kind""".stripMargin),

    // same floor(log2) via binary string length — integer-exact
    "skew_profile" ->
      ("""WITH kc AS (
         |  SELECT CASE WHEN l_orderkey % 10 = 0 THEN 0
         |              ELSE l_orderkey END AS k, count(*) AS c
         |  FROM lineitem GROUP BY 1)
         |SELECT CAST(length(bin(c)) - 1 AS INTEGER) AS magnitude,
         |  count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows,
         |  max(c) AS max_key_rows
         |FROM kc GROUP BY 1 ORDER BY magnitude""".stripMargin),

    "heavy_keys" ->
      ("""SELECT k, count(*) AS key_rows,
         |  CAST(ceil(count(*) / 100.0) AS INTEGER) AS salt_factor
         |FROM (SELECT CASE WHEN l_orderkey % 10 = 0 THEN 0
         |             ELSE l_orderkey END AS k FROM lineitem)
         |GROUP BY k HAVING count(*) > 100 ORDER BY k""".stripMargin),

    // DuckDB's native ASOF JOIN re-derives the carry-forward semantics
    // independently of the window spelling
    "gap_fill" ->
      ("""WITH obs AS (
         |  SELECT user_id % 20 AS k, epoch_ns(ts) // 3600000000000 AS h,
         |         count(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT k, min(h) AS lo, max(h) AS hi FROM obs GROUP BY k),
         |grid AS (SELECT k, unnest(generate_series(lo, hi, 1)) AS h
         |         FROM bounds)
         |SELECT g.k, g.h, o.n_events
         |FROM grid g ASOF JOIN obs o ON g.k = o.k AND g.h >= o.h
         |ORDER BY g.k, g.h""".stripMargin),

    // recomputes the post-changelog table's aggregate from scratch;
    // the Spark side only ever folds signed deltas into the base state
    "incremental_rollup" ->
      ("""SELECT o_orderpriority, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN o_orderkey % 10 = 1
         |                THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
         |                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
         |    AS DOUBLE) AS total_price
         |FROM orders WHERE o_orderkey % 10 <> 2
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // recomputes the final per-customer aggregate from scratch; the
    // Spark side ran two bucket-pruned folds over hash-bucketed state
    "incremental_rollup_bucketed" ->
      ("""SELECT o_custkey, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN o_orderkey % 10 = 1
         |                THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
         |                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
         |    AS DOUBLE) AS total_price
         |FROM orders WHERE o_orderkey % 10 <> 2
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // recomputes per-customer count/sum/min/max of the post-changelog
    // table from scratch; the Spark side ran two bucket-pruned extrema
    // folds over hash-bucketed state with key-pruned min/max repair
    "incremental_rollup_minmax_bucketed" ->
      ("""WITH final AS (
         |  SELECT o_custkey,
         |    CASE WHEN o_orderkey % 10 = 1
         |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
         |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
         |  FROM orders WHERE o_orderkey % 10 <> 2)
         |SELECT o_custkey, count(*) AS n_rows,
         |  CAST(sum(p) AS DOUBLE) AS total_price,
         |  CAST(min(p) AS DOUBLE) AS min_price,
         |  CAST(max(p) AS DOUBLE) AS max_price
         |FROM final
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // recomputes count/sum/min/max of the post-changelog table from
    // scratch; the Spark side folded signed deltas and repaired only
    // the groups whose extremum was deleted
    "incremental_rollup_minmax" ->
      ("""WITH final AS (
         |  SELECT o_orderpriority,
         |    CASE WHEN o_orderkey % 10 = 1
         |         THEN CAST(o_totalprice AS DECIMAL(18,2)) + 100
         |         ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS p
         |  FROM orders WHERE o_orderkey % 10 <> 2)
         |SELECT o_orderpriority, count(*) AS n_rows,
         |  CAST(sum(p) AS DOUBLE) AS total_price,
         |  CAST(min(p) AS DOUBLE) AS min_price,
         |  CAST(max(p) AS DOUBLE) AS max_price
         |FROM final
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // the bloom index changes which files are read, not the result
    "bloom_pruned_scan" ->
      ("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |FROM lineitem
         |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
         |ORDER BY l_linenumber""".stripMargin),

    // one-pass batch sketch — the Spark side accumulated the SAME
    // registers incrementally over a stream
    "stream_sketch" ->
      (s"""WITH h AS (
         |  SELECT CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,2)) AS BIGINT) AS bucket,
         |         CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),3,8)) AS BIGINT) AS h2
         |  FROM orders WHERE o_custkey IS NOT NULL)
         |SELECT bucket, max(${graft.functions.Sketches.rho32Sql("h2")}) AS r
         |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin),

    // the trigram index changes which files are read, not the result
    "trigram_pruned_scan" ->
      ("""SELECT doc_id, length(text) AS n_chars FROM documents
         |WHERE contains(text, 'window small')
         |ORDER BY doc_id""".stripMargin),

    "sketch_kmv" ->
      ("""WITH a AS (
         |  SELECT DISTINCT CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,12)) AS BIGINT) AS h
         |  FROM orders WHERE o_orderkey % 3 <> 0 AND o_custkey IS NOT NULL
         |  ORDER BY h LIMIT 256),
         |b AS (
         |  SELECT DISTINCT CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,12)) AS BIGINT) AS h
         |  FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey IS NOT NULL
         |  ORDER BY h LIMIT 256),
         |u AS (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b)
         |      ORDER BY h LIMIT 256),
         |s AS (SELECT count(*) AS k_eff, max(h) AS kth FROM u),
         |i AS (SELECT count(*) AS n_inter FROM u
         |      WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b))
         |SELECT s.k_eff, s.kth, i.n_inter,
         |  CAST(floor(CAST(i.n_inter AS DOUBLE) / s.k_eff * 1000000) AS BIGINT) AS jaccard_ppm,
         |  CAST(floor((CASE WHEN s.k_eff < 256 THEN CAST(s.k_eff AS DOUBLE)
         |    ELSE CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(s.kth AS DOUBLE) END) * 100) AS BIGINT) AS union_est_x100
         |FROM s, i""".stripMargin),

    "zorder_curve" ->
      (s"""SELECT l_orderkey, l_linenumber,
         |  l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         |  ${graft.sinks.ZOrderLake.zValueSql(
               Seq("l_partkey % 1024", "l_suppkey % 1024"), 10)} AS z
         |FROM lineitem WHERE l_orderkey % 50 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // the layout and manifest change WHICH FILES are read, not the
    // result — the oracle filters the original table directly
    "zorder_pruned_scan" ->
      ("""SELECT (l_suppkey % 1024) % 8 AS yb, count(*) AS n,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         |FROM lineitem
         |WHERE l_suppkey % 1024 BETWEEN 100 AND 163
         |GROUP BY (l_suppkey % 1024) % 8 ORDER BY yb""".stripMargin),

    // single-pass whole-table sketch — the Spark side merges two
    // disjoint-half sketches, so the match proves the merge law too
    "sketch_hll" ->
      (s"""WITH h AS (
         |  SELECT CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,2)) AS BIGINT) AS bucket,
         |         CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),3,8)) AS BIGINT) AS h2
         |  FROM orders WHERE o_custkey IS NOT NULL)
         |SELECT bucket, max(${graft.functions.Sketches.rho32Sql("h2")}) AS r
         |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin),

    "sketch_cms" ->
      ("""WITH e AS (
         |  SELECT j.j,
         |         CAST(('0x'||substr(md5(CAST(j.j AS VARCHAR)||':'||CAST(l_partkey AS VARCHAR)),1,8)) AS BIGINT) % 1024 AS c
         |  FROM lineitem CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j
         |  WHERE l_partkey IS NOT NULL)
         |SELECT j, c, count(*) AS cnt FROM e
         |GROUP BY j, c ORDER BY j, c""".stripMargin),

    "serialize_csv" ->
      ("""WITH f AS (
         |  SELECT CAST(c_custkey AS VARCHAR) AS k,
         |    CASE CAST(c_custkey % 5 AS INT)
         |      WHEN 0 THEN NULL
         |      WHEN 1 THEN 'a,' || c_name
         |      WHEN 2 THEN 'q"' || c_name
         |      WHEN 3 THEN 'n' || chr(10) || c_name
         |      ELSE c_name END AS v,
         |    c_mktsegment AS m
         |  FROM customer
         |), q AS (
         |  SELECT
         |    CASE WHEN k IS NULL THEN ''
         |         WHEN contains(k, ',') OR contains(k, '"')
         |           OR contains(k, chr(10)) OR contains(k, chr(13))
         |         THEN '"' || replace(k, '"', '""') || '"' ELSE k END AS qk,
         |    CASE WHEN v IS NULL THEN ''
         |         WHEN contains(v, ',') OR contains(v, '"')
         |           OR contains(v, chr(10)) OR contains(v, chr(13))
         |         THEN '"' || replace(v, '"', '""') || '"' ELSE v END AS qv,
         |    CASE WHEN m IS NULL THEN ''
         |         WHEN contains(m, ',') OR contains(m, '"')
         |           OR contains(m, chr(10)) OR contains(m, chr(13))
         |         THEN '"' || replace(m, '"', '""') || '"' ELSE m END AS qm
         |  FROM f
         |)
         |SELECT qk || ',' || qv || ',' || qm AS value FROM q
         |ORDER BY value""".stripMargin),

    "agg_stats" ->
      ("""SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
         |  min(value) AS mn, max(value) AS mx,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sm
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    "doc_chunks" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |  greatest(1, CAST(floor((len(tk) - 16 + 47) / 48.0) AS INT)) AS nc
         |FROM t),
         |e AS (SELECT doc_id,
         |  unnest(range(0, nc)) AS chunk_id,
         |  unnest(list_transform(range(0, nc),
         |    i -> array_to_string(tk[CAST(i*48+1 AS INT) : CAST(i*48+64 AS INT)], ' '))) AS chunk
         |FROM c)
         |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, chunk,
         |  len(regexp_split_to_array(trim(chunk), '\\s+')) AS n_tokens
         |FROM e ORDER BY doc_id, chunk_id""".stripMargin),

    "corpus_stats" ->
      (s"""WITH t AS (SELECT lang, len($toks) AS nt FROM documents)
         |SELECT lang, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  quantile_cont(nt, 0.5) AS median_tokens,
         |  min(nt) AS min_tokens, max(nt) AS max_tokens
         |FROM t GROUP BY lang ORDER BY lang""".stripMargin),

    "funnel" ->
      ("""WITH u AS (SELECT user_id,
         |  min(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END) AS t_view,
         |  min(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END) AS t_click,
         |  min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS t_buy
         |FROM events GROUP BY user_id)
         |SELECT count(*) AS n_users, count(t_view) AS n_view,
         |  count(CASE WHEN t_view < t_click THEN 1 END) AS n_view_click,
         |  count(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 END) AS n_full_funnel
         |FROM u""".stripMargin),

    "dedup_exact" ->
      ("SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
        "min(doc_id) AS keep_id, count(*) AS n_copies " +
        "FROM documents GROUP BY 1 ORDER BY fp"),

    // same planted batch (odd docs + re-crawled history + within-batch
    // copies); anti-join spelled as NOT IN over the history fingerprints
    "dedup_incremental" ->
      (s"""WITH batch AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT doc_id + 10000 AS doc_id, text FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 20000 AS doc_id, text FROM documents
         |  WHERE doc_id % 2 = 1 AND doc_id % 10 = 1
         |), hist AS (
         |  SELECT DISTINCT
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents WHERE doc_id % 2 = 0
         |), keep AS (
         |  SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |    min(doc_id) AS doc_id
         |  FROM batch GROUP BY 1
         |)
         |SELECT doc_id, fp FROM keep
         |WHERE fp NOT IN (SELECT fp FROM hist) ORDER BY doc_id""".stripMargin),

    // independent re-derivation: bigram/unigram counts by SQL GROUP BY,
    // the same rounded-then-DECIMAL log-prob accumulation (exact,
    // order-independent — double summation order is the trap)
    "lm_score" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |bi AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
         |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
         |        FROM t WHERE len(tk) >= 2)
         |), btf AS (
         |  SELECT doc_id, w1, w2, count(*) AS k FROM bi GROUP BY 1, 2, 3
         |), bc AS (
         |  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb FROM btf GROUP BY 1, 2
         |), uni AS (
         |  SELECT tok AS w1, count(*) AS cu
         |  FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY 1
         |), v AS (SELECT count(*) AS v FROM uni)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |  floor(CAST(sum(CAST(round(ln((cb + 1.0) / (cu + v)), 6)
         |    AS DECIMAL(18,6)) * k) AS DOUBLE) / sum(k)
         |    * 1000000) / CAST(1000000 AS DOUBLE) AS avg_logp
         |FROM btf JOIN bc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // independent NB re-derivation: count tables by GROUP BY, the same
    // rounded-log DECIMAL accumulation and (score desc, cls) argmax
    "nb_classify" ->
      (s"""$nbScoreSql
         |SELECT doc_id, cls, score,
         |  CAST(row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cls) AS INT) AS rank
         |FROM sc ORDER BY doc_id, rank""".stripMargin),

    // NB predictions (rank-1 re-derivation from the shared scoring
    // CTE) scored against the lang labels: exact integer confusion
    // counts per class, ratios rounded to 6dp, F1 from the rounded p/r
    "classifier_eval" ->
      (s"""$nbScoreSql,
         |rk AS (SELECT doc_id, cls, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY score DESC, cls) AS rk FROM sc),
         |pred AS (SELECT doc_id, cls AS pred FROM rk WHERE rk = 1),
         |j AS (SELECT d.lang, p.pred FROM documents d JOIN pred p USING (doc_id)),
         |cl AS (SELECT DISTINCT lang AS cls FROM documents),
         |m AS (
         |  SELECT c.cls,
         |    CAST(sum(CASE WHEN j.lang = c.cls AND j.pred = c.cls THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN j.pred = c.cls AND j.lang <> c.cls THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN j.lang = c.cls AND j.pred <> c.cls THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM cl c CROSS JOIN j GROUP BY c.cls),
         |r AS (
         |  SELECT cls, tp, fp, fn,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |      ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |      ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall
         |  FROM m)
         |SELECT cls, tp, fp, fn, precision, recall,
         |  CASE WHEN precision IS NULL OR recall IS NULL
         |    OR precision + recall = 0 THEN NULL
         |    ELSE round(2 * precision * recall / (precision + recall), 6)
         |  END AS f1
         |FROM r ORDER BY cls""".stripMargin),

    // the identical planted page and the same RE2-compatible chain:
    // per-tag block strips (no backreferences), comment/tag drop,
    // entity decode with &amp; last, whitespace collapse
    "html_extract" ->
      (s"""WITH page AS (
         |  SELECT doc_id,
         |    '<html><head><title>' || source || ' | ' || lang ||
         |    '</title><style>body {color: #000}</style></head>' || chr(10) ||
         |    '<body><nav>Home &gt; Docs</nav><script>var x = 1 < 2;</script>' ||
         |    '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) ||
         |    '<p>' || substr(text, 1, 120) ||
         |    ' &amp; more&nbsp;&#39;quoted&#39;</p><!-- id ' ||
         |    CAST(doc_id AS VARCHAR) || ' --></body></html>' AS html
         |  FROM documents
         |), stripped AS (
         |  SELECT doc_id, html,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      regexp_replace(html,
         |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |      '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
         |      '(?s)<!--.*?-->', ' ', 'g'),
         |      '<[^>]+>', ' ', 'g') AS raw
         |  FROM page
         |), decoded AS (
         |  SELECT doc_id,
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |      '&nbsp;', ' '), '&amp;', '&') AS title,
         |    trim(regexp_replace(
         |      replace(replace(replace(replace(replace(replace(raw,
         |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |        '&nbsp;', ' '), '&amp;', '&'),
         |      '\\s+', ' ', 'g')) AS text_clean
         |  FROM stripped
         |)
         |SELECT doc_id, title, text_clean,
         |  length(text_clean) AS n_chars
         |FROM decoded ORDER BY doc_id""".stripMargin),

    "decontaminate" ->
      (s"""WITH sh AS (
         |  SELECT doc_id, tk,
         |    CASE WHEN len(tk) >= 5
         |      THEN [array_to_string(tk[i:i+4], ' ') for i in range(1, len(tk)-3)]
         |      ELSE [array_to_string(tk, ' ')] END AS sh
         |  FROM (SELECT doc_id, $toks AS tk FROM documents)
         |), b AS (
         |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 97 = 0
         |), tr AS (
         |  SELECT doc_id, unnest(list_distinct(sh)) AS g FROM sh
         |  WHERE doc_id % 97 <> 0
         |)
         |SELECT tr.doc_id, count(*) AS n_hits
         |FROM tr JOIN b ON tr.g = b.g
         |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin),

    // transitive closure by recursive CTE — an independent algorithm
    // (BFS closure) from the engine's label propagation
    "dedup_clusters" ->
      ("""WITH RECURSIVE e AS (
         |  SELECT a.doc_id AS src, b.doc_id AS dst FROM documents a
         |  JOIN documents b ON b.doc_id = a.doc_id * 2 AND a.doc_id > 0
         |  UNION ALL
         |  SELECT a.doc_id, b.doc_id FROM documents a
         |  JOIN documents b ON b.doc_id = a.doc_id * 3 AND a.doc_id > 0
         |), sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |rr(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, rr.lbl FROM rr JOIN sym s ON s.src = rr.node
         |), cc AS (
         |  SELECT node, min(lbl) AS cluster_id FROM rr GROUP BY node
         |)
         |SELECT node AS doc_id, cluster_id,
         |  (node = cluster_id) AS is_canonical
         |FROM cc ORDER BY doc_id""".stripMargin),

    // the same recursive-CTE closure as dedup_clusters, but over REAL
    // MinHash-LSH candidate pairs, left-joined back onto the corpus so
    // unpaired docs survive as their own cluster
    "dedup_canonical" ->
      (s"""WITH RECURSIVE bands AS ($minhashBandsSql),
         |p AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |sym AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |rr(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, rr.lbl FROM rr JOIN sym s ON s.src = rr.node
         |), cc AS (SELECT node, min(lbl) AS cluster_id FROM rr GROUP BY node)
         |SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
         |  (coalesce(cc.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
         |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // same 10-token window arithmetic as doc_chunks; first occurrence
    // = min (doc_id, pos) per line fingerprint
    "line_dedup" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |c AS (SELECT doc_id, tk,
         |  greatest(1, CAST(ceil(len(tk)/10.0) AS INT)) AS nl FROM t),
         |l AS (SELECT doc_id,
         |  unnest(range(0, nl)) AS pos,
         |  unnest(list_transform(range(0, nl),
         |    i -> array_to_string(tk[CAST(i*10+1 AS INT):CAST(i*10+10 AS INT)], ' '))) AS line
         |FROM c),
         |f AS (SELECT doc_id, pos, line,
         |  row_number() OVER (PARTITION BY md5(line) ORDER BY doc_id, pos) AS rn
         |FROM l)
         |SELECT doc_id, count(*) AS n_kept,
         |  string_agg(line, ' ' ORDER BY pos) AS text_clean
         |FROM f WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // integer-only rate derivation: 30% of total tokens, split equally
    // across strata, floored to basis points — bit-exact in any engine
    "token_budget_sample" ->
      (s"""WITH t AS (SELECT lang, doc_id, len($toks) AS nt FROM documents),
         |s AS (SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS tokens FROM t GROUP BY lang),
         |g AS (SELECT CAST(sum(tokens) AS BIGINT) AS total,
         |  count(*) AS n_strata FROM s),
         |r AS (SELECT lang, n_docs, tokens,
         |  least(10000, (((total * 3) // 10) // n_strata) * 10000 // tokens) AS rate_bp
         |FROM s, g),
         |k AS (SELECT t.lang, count(*) AS kept_docs,
         |  CAST(sum(t.nt) AS BIGINT) AS kept_tokens
         |FROM t JOIN r ON t.lang = r.lang
         |WHERE ${hex8("CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp
         |GROUP BY t.lang)
         |SELECT r.lang, n_docs, tokens, CAST(rate_bp AS BIGINT) AS rate_bp,
         |  coalesce(kept_docs, 0) AS kept_docs,
         |  coalesce(kept_tokens, 0) AS kept_tokens
         |FROM r LEFT JOIN k ON r.lang = k.lang ORDER BY r.lang""".stripMargin),

    // tau=1/2 temperature weights: sqrt is IEEE-exact, weights rounded
    // to 6dp then summed as DECIMAL, one fixed double-arithmetic shape
    // floored to basis points — engines agree operand-for-operand
    // independent DSIR re-derivation: md5 bucket hashing, the same
    // rounded-then-DECIMAL log-ratio accumulation, exact-decimal cast
    "dsir_weights" ->
      (s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         |tok AS (SELECT doc_id, lang = 'en' AS is_t, unnest(tk) AS tok FROM t),
         |b AS (SELECT doc_id, is_t,
         |  CAST(('0x'||substr(md5(tok),1,4)) AS BIGINT) % 256 AS bk FROM tok),
         |pd AS (SELECT doc_id, bk, count(*) AS k FROM b GROUP BY 1, 2),
         |cr AS (SELECT bk, count(*) AS cr FROM b GROUP BY 1),
         |ctg AS (SELECT bk, count(*) AS ct FROM b WHERE is_t GROUP BY 1),
         |tot AS (SELECT count(*) AS tr,
         |  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tt FROM b),
         |w AS (
         |  SELECT cr.bk,
         |    CAST(round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (tt + 256))
         |      * (CAST(tr + 256 AS DOUBLE) / (cr + 1))), 6)
         |      AS DECIMAL(18,6)) AS w
         |  FROM cr LEFT JOIN ctg USING (bk) CROSS JOIN tot
         |)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
         |  CAST(sum(w * k) AS DOUBLE) AS logw,
         |  CAST(sum(w * k) AS DOUBLE) > 0 AS keep
         |FROM pd JOIN w USING (bk)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // same DSIR derivation, then the top-quartile threshold from a
    // cumulative count histogram with integer cross-multiplied ranks
    "dsir_select" ->
      (s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         |tok AS (SELECT doc_id, lang = 'en' AS is_t, unnest(tk) AS tok FROM t),
         |b AS (SELECT doc_id, is_t,
         |  CAST(('0x'||substr(md5(tok),1,4)) AS BIGINT) % 256 AS bk FROM tok),
         |pd AS (SELECT doc_id, bk, count(*) AS k FROM b GROUP BY 1, 2),
         |cr AS (SELECT bk, count(*) AS cr FROM b GROUP BY 1),
         |ctg AS (SELECT bk, count(*) AS ct FROM b WHERE is_t GROUP BY 1),
         |tot AS (SELECT count(*) AS tr,
         |  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS tt FROM b),
         |w AS (
         |  SELECT cr.bk,
         |    CAST(round(ln((CAST(coalesce(ct, 0) + 1 AS DOUBLE) / (tt + 256))
         |      * (CAST(tr + 256 AS DOUBLE) / (cr + 1))), 6)
         |      AS DECIMAL(18,6)) AS w
         |  FROM cr LEFT JOIN ctg USING (bk) CROSS JOIN tot
         |),
         |sc AS (
         |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tok,
         |    CAST(sum(w * k) AS DOUBLE) AS logw
         |  FROM pd JOIN w USING (bk) GROUP BY doc_id
         |),
         |sel AS (SELECT doc_id, n_tok, logw,
         |  CAST(round(logw * 1000000) AS BIGINT) AS lm FROM sc),
         |hist AS (SELECT lm AS v, count(*) AS c FROM sel GROUP BY 1),
         |cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM hist),
         |n AS (SELECT count(*) AS n FROM sel),
         |lo AS (SELECT min(v) AS lo FROM cum CROSS JOIN n
         |       WHERE cum * 1000 >= n * 750)
         |SELECT doc_id, n_tok, logw FROM sel CROSS JOIN lo
         |WHERE lm >= lo ORDER BY doc_id""".stripMargin),

    "temperature_sample" ->
      (s"""WITH s AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |w AS (SELECT lang, n_docs,
         |  CAST(round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS DECIMAL(18,6)) AS weight
         |FROM s),
         |g AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
         |  sum(weight) AS wsum FROM w),
         |r AS (SELECT lang, n_docs, CAST(weight AS DOUBLE) AS weight,
         |  least(10000, CAST(floor(
         |    CAST((total * 2) // 5 AS DOUBLE) * CAST(weight AS DOUBLE)
         |      / CAST(wsum AS DOUBLE) / CAST(n_docs AS DOUBLE) * 10000)
         |    AS BIGINT)) AS rate_bp
         |FROM w, g),
         |k AS (SELECT d.lang, count(*) AS kept_docs
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE ${hex8("CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp
         |GROUP BY d.lang)
         |SELECT r.lang, n_docs, weight, rate_bp,
         |  coalesce(kept_docs, 0) AS kept_docs
         |FROM r LEFT JOIN k ON r.lang = k.lang ORDER BY r.lang""".stripMargin),

    "shard_manifest" ->
      (s"""SELECT ${hex8("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |  count(*) AS n_docs, CAST(sum(len($toks)) AS BIGINT) AS n_tokens
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin),

    // concat-and-chunk packing: exclusive running token sum in id
    // order, integer pack arithmetic
    "sequence_pack" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |FROM t)
         |SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS token_offset,
         |  CAST(off // 512 AS BIGINT) AS pack_first,
         |  CAST((off + n_tokens - 1) // 512 AS BIGINT) AS pack_last
         |FROM c ORDER BY doc_id""".stripMargin),

    // the same prefix sum, then each doc's pack span explodes and the
    // per-pack boundary profile aggregates — all integers
    "pack_fragmentation" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
         |FROM t),
         |s AS (SELECT doc_id, n_tokens, CAST(off AS BIGINT) AS off,
         |    CAST(off // 512 AS BIGINT) AS pf,
         |    CAST((off + n_tokens - 1) // 512 AS BIGINT) AS pl
         |  FROM c WHERE n_tokens > 0),
         |e AS (SELECT doc_id, n_tokens, off,
         |    unnest(range(pf, pl + 1)) AS pack_id FROM s),
         |x AS (SELECT pack_id,
         |    least(off + n_tokens, (pack_id + 1) * 512)
         |      - greatest(off, pack_id * 512) AS tok,
         |    CASE WHEN off >= pack_id * 512 THEN 1 ELSE 0 END AS starts
         |  FROM e)
         |SELECT CAST(pack_id AS BIGINT) AS pack_id,
         |  count(*) AS n_docs,
         |  CAST(sum(starts) AS BIGINT) AS n_starts,
         |  count(*) - CAST(sum(starts) AS BIGINT) AS n_straddle_in,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM x GROUP BY pack_id ORDER BY pack_id""".stripMargin),

    // the per-bucket greedy fold replayed as a recursive CTE (step =
    // rank within bucket; new bin iff fill + n > 512 — oversize docs
    // isolate themselves by the same rule), then the dense global ids
    // from a cumulative over per-bucket bin counts
    "pack_bins" ->
      (s"""WITH RECURSIVE t AS (SELECT CAST(doc_id AS BIGINT) AS id,
         |    CAST(len($toks) AS BIGINT) AS n,
         |    CAST(doc_id // 64 AS BIGINT) AS b
         |  FROM documents WHERE len($toks) > 0),
         |r AS (SELECT id, n, b,
         |    row_number() OVER (PARTITION BY b ORDER BY id) AS rn FROM t),
         |g AS (
         |  SELECT b, rn, id, n, CAST(0 AS BIGINT) AS bin, n AS fill
         |    FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.b, r.rn, r.id, r.n,
         |    CASE WHEN g.fill + r.n > 512 THEN g.bin + 1 ELSE g.bin END,
         |    CASE WHEN g.fill + r.n > 512 THEN r.n ELSE g.fill + r.n END
         |  FROM g JOIN r ON r.b = g.b AND r.rn = g.rn + 1),
         |bins AS (SELECT b, max(bin) + 1 AS nb FROM g GROUP BY b),
         |bases AS (SELECT b, CAST(coalesce(sum(nb) OVER (ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |  AS BIGINT) AS base FROM bins)
         |SELECT g.id AS doc_id, g.n AS n_tokens,
         |  CAST(bases.base + g.bin AS BIGINT) AS bin_id
         |FROM g JOIN bases ON bases.b = g.b
         |ORDER BY doc_id""".stripMargin),

    // integer ranking keys (tf desc, df asc, token); ln only in the
    // reported rounded score
    "doc_tfidf" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toks) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents),
         |s AS (SELECT doc_id, tf.token AS token, tf.tf AS tf, dfq.df AS df,
         |  round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfq.df), 6) AS score,
         |  row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tf.tf DESC, dfq.df, tf.token) AS rank
         |FROM tf JOIN dfq ON tf.token = dfq.token, n)
         |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf,
         |  CAST(df AS BIGINT) AS df, score, CAST(rank AS INT) AS rank
         |FROM s WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // BM25 re-derived independently: same fixed query set, per-term
    // contribution rounded then DECIMAL-accumulated (expression shapes
    // mirror the Spark side token-for-token so IEEE arithmetic agrees)
    "bm25_search" ->
      (s"""WITH q(query_id, qtext) AS (VALUES
         |  (0, 'spark window agg'), (1, 'hash join merge'),
         |  (2, 'vector scan query'), (3, 'customer order line part')),
         |qt AS (SELECT DISTINCT query_id,
         |  unnest(regexp_split_to_array(trim(qtext), '\\s+')) AS token FROM q),
         |dt AS (SELECT doc_id, len($toks) AS dl, unnest($toks) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf, min(dl) AS dl
         |  FROM dt WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(len($toks)) AS total
         |  FROM documents),
         |c AS (SELECT qt.query_id, tf.doc_id,
         |  CAST(round(ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
         |    (tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 +
         |        0.75 * tf.dl * st.n_docs / CAST(st.total AS DOUBLE)))), 6)
         |    AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN dfq USING (token) JOIN qt USING (token), st),
         |s AS (SELECT query_id, doc_id,
         |  CAST(sum(c) AS DECIMAL(18,6)) AS score FROM c GROUP BY 1, 2),
         |r AS (SELECT query_id, doc_id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s)
         |SELECT query_id, doc_id, CAST(score AS DOUBLE) AS score,
         |  CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // hybrid RRF: the bm25_search CTE chain (query texts = the four
    // query docs' own text, k=20), the ann_cosine CTE chain (same
    // query ids, k=20), self-hits dropped after ranking, then the
    // 1/(60+rank) fusion — contributions rounded and DECIMAL-summed
    // exactly like the Spark side
    "hybrid_rrf" ->
      (s"""WITH q AS (SELECT doc_id AS query_id, text AS qtext
         |  FROM documents WHERE doc_id < 4),
         |qt AS (SELECT DISTINCT query_id,
         |  unnest(regexp_split_to_array(trim(qtext), '\\s+')) AS token FROM q),
         |dt AS (SELECT doc_id, len($toks) AS dl, unnest($toks) AS token
         |  FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf, min(dl) AS dl
         |  FROM dt WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs, sum(len($toks)) AS total
         |  FROM documents),
         |lc AS (SELECT qt.query_id, tf.doc_id,
         |  CAST(round(ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5)) *
         |    (tf.tf * (1.2 + 1.0) /
         |      (tf.tf + 1.2 * (1.0 - 0.75 +
         |        0.75 * tf.dl * st.n_docs / CAST(st.total AS DOUBLE)))), 6)
         |    AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN dfq USING (token) JOIN qt USING (token), st),
         |ls AS (SELECT query_id, doc_id,
         |  CAST(sum(c) AS DECIMAL(18,6)) AS score FROM lc GROUP BY 1, 2),
         |r_lex AS (SELECT query_id, doc_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM ls),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |sv AS (SELECT q2.vec_id AS query_id, c2.vec_id AS neighbor_id,
         |  round(list_dot_product(q2.v, c2.v) /
         |    (sqrt(list_dot_product(q2.v, q2.v)) * sqrt(list_dot_product(c2.v, c2.v))), 6) AS score
         |  FROM e q2, e c2 WHERE q2.vec_id < 4 AND q2.vec_id <> c2.vec_id),
         |r_vec AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM sv),
         |fin AS (SELECT query_id, doc_id AS id, rank FROM r_lex
         |    WHERE rank <= 20 AND doc_id <> query_id
         |  UNION ALL
         |  SELECT query_id, neighbor_id, rank FROM r_vec WHERE rank <= 20),
         |fc AS (SELECT query_id, id,
         |  CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6)) AS c FROM fin),
         |f AS (SELECT query_id, id,
         |  CAST(sum(c) AS DECIMAL(18,6)) AS score FROM fc GROUP BY 1, 2),
         |rr AS (SELECT query_id, id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, id) AS rank FROM f)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(id AS BIGINT) AS doc_id, CAST(score AS DOUBLE) AS score,
         |  CAST(rank AS INT) AS rank
         |FROM rr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // the identical planted input and RE2 chain as the Spark side
    "url_normalize" ->
      ("""WITH planted AS (
         |  SELECT doc_id, 'HTTPS://WWW.' || upper(source) || '.Example.COM/'
         |    || lang || '/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN '?page=' || CAST(doc_id % 5 AS VARCHAR)
         |        || '&utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
         |      WHEN doc_id % 3 = 1
         |      THEN '?href=h' || CAST(doc_id % 7 AS VARCHAR)
         |        || '&utm_medium=m&pref=1&xutm_source=1'
         |      ELSE '?utm_source=feed' END || '#sec' AS url
         |  FROM documents
         |), n1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM planted),
         |n2 AS (SELECT doc_id, regexp_replace(u,
         |  '([?&])((utm_[A-Za-z0-9_]*|ref)=[^&#]*(&|$))+', '\1', 'g') AS u FROM n1),
         |n3 AS (SELECT doc_id, regexp_replace(u, '[?&]+$', '') AS u FROM n2),
         |n4 AS (SELECT doc_id,
         |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
         |  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS u FROM n3),
         |n5 AS (SELECT doc_id, regexp_replace(
         |  regexp_replace(u, '://www\.', '://'), '/+$', '') AS u FROM n4)
         |SELECT doc_id, u AS url_norm,
         |  regexp_extract(u, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS host
         |FROM n5 ORDER BY doc_id""".stripMargin),

    // count-histogram exact quantiles with integer cross-multiplied
    // ranks: threshold(p) = smallest v whose cumulative count reaches
    // ceil(n*p/1000) — no floats anywhere
    "quantile_gate" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |h AS (SELECT n_tokens AS v, count(*) AS c FROM t GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
         |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM h),
         |th AS (SELECT min(CASE WHEN cum*1000 >= n*50 THEN v END) AS lo,
         |              min(CASE WHEN cum*1000 >= n*950 THEN v END) AS hi
         |       FROM cum, tot)
         |SELECT doc_id, n_tokens FROM t, th
         |WHERE n_tokens >= lo AND n_tokens <= hi
         |ORDER BY doc_id""".stripMargin),

    // the text_quality scoring expression, ranked per source
    "source_cap" ->
      (s"""WITH t AS (SELECT source, doc_id, text, $toks AS tk FROM documents),
         |q AS (SELECT source, doc_id,
         |  (CASE WHEN len(tk) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END +
         |   CASE WHEN len(list_filter(tk, x -> list_contains($stopwordsSql, x))) > 0 THEN 0.3 ELSE 0.0 END +
         |   CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) AS DOUBLE) / length(text) < 0.2 THEN 0.3 ELSE 0.0 END) AS quality
         |FROM t),
         |r AS (SELECT source, doc_id, quality,
         |  row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rank
         |FROM q)
         |SELECT source, doc_id, quality, CAST(rank AS INT) AS rank
         |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin),

    // IVF cell assignment exactly as ann_ivf, then within-cell pairs
    // and the lower-id-twin drop rule
    "semantic_dedup" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v FROM e
         |  ORDER BY ${hex8("CAST(vec_id AS VARCHAR)")} LIMIT 4),
         |cents AS (SELECT row_number() OVER (ORDER BY v[1]) - 1 AS centroid_id, v AS cv FROM seeds),
         |ac AS (SELECT e.vec_id, c.centroid_id,
         |  round(list_dot_product(e.v, c.cv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS sc
         |FROM e CROSS JOIN cents c),
         |assign AS (SELECT vec_id, centroid_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id) AS rk FROM ac)
         |  WHERE rk = 1),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign a JOIN assign b
         |    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
         |d AS (SELECT DISTINCT id_b FROM p
         |  JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
         |  WHERE list_dot_product(ea.v, eb.v) /
         |    (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.35)
         |SELECT a.vec_id, a.centroid_id, (d.id_b IS NULL) AS kept
         |FROM assign a LEFT JOIN d ON d.id_b = a.vec_id
         |ORDER BY a.vec_id""".stripMargin),

    "pii_scrub" ->
      ("""WITH planted AS (
         |  SELECT doc_id,
         |    CASE CAST(doc_id % 7 AS INT)
         |      WHEN 0 THEN text || ' contact bob.smith+x@corp.example.com now'
         |      WHEN 1 THEN text || ' from 192.168.11.7 port 443'
         |      WHEN 2 THEN text || ' call +14155550123 today'
         |      WHEN 3 THEN text || ' or 415-555-0199 ext 7'
         |      WHEN 4 THEN text || ' account 9934120455 closed'
         |      ELSE text END AS text
         |  FROM documents
         |), scrubbed AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(
         |            regexp_replace(text,
         |              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         |          '\+\d{7,15}', '<PHONE>', 'g'),
         |        '\b\d{3}[ -]\d{3}[ -]\d{4}\b', '<PHONE>', 'g'),
         |      '\b\d{9,}\b', '<ID>', 'g') AS scrubbed
         |  FROM planted
         |)
         |SELECT doc_id, scrubbed FROM scrubbed
         |WHERE contains(scrubbed, '<') ORDER BY doc_id""".stripMargin),

    "doc_repetition" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |b AS (
         |  SELECT doc_id, tk, len(tk) AS n,
         |    CASE WHEN len(tk) >= 2
         |      THEN [tk[i] || ' ' || tk[i+1] for i in range(1, len(tk))]
         |      ELSE [] END AS bg
         |  FROM t
         |), tc AS (
         |  SELECT doc_id, max(c) AS top FROM (
         |    SELECT doc_id, tok, count(*) AS c
         |    FROM (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY 1, 2
         |  ) GROUP BY 1
         |)
         |SELECT b.doc_id, n AS n_tokens,
         |  CAST(len(list_distinct(tk)) AS DOUBLE) / n AS uniq_token_ratio,
         |  CASE WHEN n > 1
         |    THEN 1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / (n - 1)
         |    ELSE 0.0 END AS dup_bigram_ratio,
         |  CAST(top AS DOUBLE) / n AS top_token_ratio
         |FROM b JOIN tc ON b.doc_id = tc.doc_id ORDER BY b.doc_id""".stripMargin),

    "corpus_vocab" ->
      (s"""SELECT tok AS token, count(*) AS freq
         |FROM (SELECT unnest($toks) AS tok FROM documents)
         |GROUP BY tok ORDER BY freq DESC, token""".stripMargin),

    // same oracle shape as bucketed_join: salting changes row placement,
    // never the join result
    "salted_join" ->
      ("""SELECT c_mktsegment, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    "text_stats" ->
      (s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents)
         |SELECT doc_id,
         |  len(tk) AS n_tokens,
         |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_bpe_tokens,
         |  length(text) AS n_chars,
         |  CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk) AS avg_token_len,
         |  len(list_filter(tk, x -> list_contains($stopwordsSql, x))) AS n_stopwords,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |FROM t ORDER BY doc_id""".stripMargin),

    "text_quality" ->
      (s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents),
         |s AS (SELECT doc_id, text, tk,
         |  len(tk) AS n_tokens,
         |  len(list_filter(tk, x -> list_contains($stopwordsSql, x))) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) AS DOUBLE) / length(text) AS pr
         |FROM t)
         |SELECT doc_id,
         |  (CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END +
         |   CASE WHEN n_stop > 0 THEN 0.3 ELSE 0.0 END +
         |   CASE WHEN pr < 0.2 THEN 0.3 ELSE 0.0 END) AS quality,
         |  pr AS punct_ratio,
         |  CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio
         |FROM s ORDER BY doc_id""".stripMargin),

    "lang_id" -> {
      val score = (l: String) =>
        s"len(list_filter(tk, x -> list_contains(${langMarkersSql(l)}, x)))"
      s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         |s AS (SELECT doc_id, lang, ${score("en")} AS s_en, ${score("de")} AS s_de,
         |  ${score("es")} AS s_es, ${score("fr")} AS s_fr FROM t)
         |SELECT doc_id,
         |  CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
         |    WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
         |    WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
         |    WHEN s_en >= s_de THEN 'en'
         |    ELSE 'de' END AS pred_lang,
         |  lang
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "doc_fingerprint" ->
      (s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents)
         |SELECT doc_id,
         |  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
         |  list_reduce(list_transform(tk, x -> ${hex8("x")} % 1000000007),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS rolling_fp
         |FROM t ORDER BY doc_id""".stripMargin),

    "dedup_minhash_bands" -> (minhashBandsSql + " ORDER BY doc_id, band"),

    "dedup_minhash_pairs" ->
      (s"""WITH bands AS ($minhashBandsSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    // iteration-zero BPE statistic: adjacent char pairs in the
    // space-joined symbol form the trainer uses ("a b")
    "bpe_pair_stats" ->
      ("""WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
         |  FROM documents),
         |p AS (SELECT substr(w, CAST(i AS INT), 1) || ' ' ||
         |    substr(w, CAST(i AS INT) + 1, 1) AS pair
         |  FROM (SELECT w, unnest(range(1, length(w))) AS i FROM w))
         |SELECT pair, count(*) AS cnt FROM p
         |GROUP BY 1 ORDER BY cnt DESC, pair LIMIT 50""".stripMargin),

    // three greedy merge rounds replayed exactly: per-round top pair
    // (count desc, pair asc) fused via the same left-to-right
    // non-overlapping replace the engine applies
    "bpe_train" ->
      (s"""$bpeRoundsSql
         |SELECT 1 AS round, pair, cnt FROM t1
         |UNION ALL SELECT 2, pair, cnt FROM t2
         |UNION ALL SELECT 3, pair, cnt FROM t3 ORDER BY round""".stripMargin),

    // train + tokenize: the same three replayed merges applied in
    // order, then the resulting token vocabulary's top 20
    "bpe_apply" ->
      (s"""$bpeRoundsSql,
         |s3 AS (SELECT replace(sym, (SELECT pair FROM t3),
         |    replace((SELECT pair FROM t3), ' ', '')) AS sym FROM s2),
         |tok AS (SELECT unnest(string_split(sym, ' ')) AS token FROM s3)
         |SELECT token, count(*) AS cnt FROM tok
         |GROUP BY 1 ORDER BY cnt DESC, token LIMIT 20""".stripMargin),

    // incremental band-index updates must union to the full recompute,
    // so the oracle IS the full recompute
    "dedup_lsh_incremental" ->
      (s"""WITH bands AS ($minhashBandsSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    // compaction mid-sequence must not change a single discovered pair:
    // same full-recompute oracle across the two-phase swap
    "dedup_lsh_compact" ->
      (s"""WITH bands AS ($minhashBandsSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    // same invariant through the streaming loop: checkpointed batches
    // into the band index must leave the full-recompute pair set
    "stream_dedup_lsh" ->
      (s"""WITH bands AS ($minhashBandsSql)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin),

    "dedup_simhash" -> {
      val bits = (0 until 16).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, list_transform($toks, x -> ${hex8("x")}) AS hs FROM documents)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM t ORDER BY doc_id""".stripMargin
    },

    "dedup_ngram_jaccard" ->
      (s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 150),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.02
         |ORDER BY id_a, id_b""".stripMargin),

    // substring spans re-derived: same 3-token rolling md5 windows,
    // duplicate set by HAVING count>=2, gaps-and-islands interval merge
    "substring_dedup" ->
      (s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         |wins AS (SELECT doc_id, unnest(range(1, len(tk)-1)) AS pos, tk
         |  FROM d WHERE len(tk) >= 3),
         |w AS (SELECT doc_id, pos,
         |  md5(array_to_string(tk[pos:pos+2], ' ')) AS fp FROM wins),
         |dup AS (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2),
         |m AS (SELECT doc_id, pos, pos + 2 AS e FROM w
         |  WHERE fp IN (SELECT fp FROM dup)),
         |i AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |  AS pmax FROM m),
         |j AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR
         |  pos > pmax + 1 THEN 1 ELSE 0 END AS nw FROM i),
         |k AS (SELECT doc_id, pos, e,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM j)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(e) AS BIGINT) AS span_end,
         |  CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
         |FROM k GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin),

    // span surgery re-derived: same span pipeline, covered positions
    // exploded, kept tokens re-aggregated in position order
    "substring_cut" ->
      (s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         |wins AS (SELECT doc_id, unnest(range(1, len(tk)-1)) AS pos, tk
         |  FROM d WHERE len(tk) >= 3),
         |w AS (SELECT doc_id, pos,
         |  md5(array_to_string(tk[pos:pos+2], ' ')) AS fp FROM wins),
         |dup AS (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2),
         |m AS (SELECT doc_id, pos, pos + 2 AS e FROM w
         |  WHERE fp IN (SELECT fp FROM dup)),
         |i AS (SELECT doc_id, pos, e, max(e) OVER (PARTITION BY doc_id
         |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |  AS pmax FROM m),
         |j AS (SELECT doc_id, pos, e, CASE WHEN pmax IS NULL OR
         |  pos > pmax + 1 THEN 1 ELSE 0 END AS nw FROM i),
         |k AS (SELECT doc_id, pos, e,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM j)
         |, spans AS (SELECT doc_id, min(pos) AS s, max(e) AS e
         |  FROM k GROUP BY doc_id, island),
         |cov AS (SELECT DISTINCT doc_id,
         |  unnest(range(s, e + 1)) AS pos FROM spans),
         |tokpos AS (SELECT doc_id, unnest(tk) AS token,
         |  unnest(range(1, len(tk) + 1)) AS pos FROM d),
         |kept AS (SELECT t.doc_id, t.pos, t.token FROM tokpos t
         |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.pos IS NULL),
         |agg AS (SELECT doc_id,
         |  string_agg(token, ' ' ORDER BY pos) AS clean_text,
         |  count(*) AS kept FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(agg.clean_text, '') AS clean_text,
         |  CAST(coalesce(agg.kept, 0) AS BIGINT) AS kept_tokens,
         |  CAST(len(d.tk) - coalesce(agg.kept, 0) AS BIGINT) AS cut_tokens
         |FROM d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    "ann_cosine_topk" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |FROM e q, e c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    "ann_quantized" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |qz AS (SELECT vec_id, v, list_aggregate(v, 'min') AS lo,
         |  (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0 AS scale FROM e),
         |dq AS (SELECT vec_id, CASE WHEN scale = 0 THEN list_transform(v, x -> lo)
         |  ELSE list_transform(v, x -> lo + round((x - lo) / scale) * scale) END AS v FROM qz),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |FROM e q, dq c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    "grouped_quantiles" ->
      ("""WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |cum AS (SELECT lang, v,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM h)
         |SELECT lang, min(CASE WHEN cum*1000 >= n*500 THEN v END) AS threshold
         |FROM cum GROUP BY lang ORDER BY lang""".stripMargin),

    // identical planted change stream, identical lead() closure
    "scd2_build" ->
      ("""WITH c AS (
         |  SELECT o_orderkey AS k, o_totalprice + 100.0 AS v,
         |    CAST(10 AS BIGINT) AS lsn FROM orders
         |  UNION ALL SELECT o_orderkey, o_totalprice + 200.0, 20
         |    FROM orders WHERE o_orderkey % 3 <> 0
         |  UNION ALL SELECT o_orderkey, o_totalprice + 300.0, 30 FROM orders)
         |SELECT k, v, lsn AS valid_from,
         |  lead(lsn) OVER (PARTITION BY k ORDER BY lsn) - 1 AS valid_to
         |FROM c ORDER BY k, valid_from""".stripMargin),

    // same dimension, same interval residual over the k-equi join
    "scd2_lookup" ->
      ("""WITH c AS (
         |  SELECT o_orderkey AS k, o_totalprice + 100.0 AS v,
         |    CAST(10 AS BIGINT) AS lsn FROM orders
         |  UNION ALL SELECT o_orderkey, o_totalprice + 200.0, 20
         |    FROM orders WHERE o_orderkey % 3 <> 0
         |  UNION ALL SELECT o_orderkey, o_totalprice + 300.0, 30 FROM orders),
         |dim AS (SELECT k, v, lsn AS valid_from,
         |    lead(lsn) OVER (PARTITION BY k ORDER BY lsn) - 1 AS valid_to
         |  FROM c),
         |p AS (SELECT o_orderkey AS k, o_orderkey % 35 AS at_lsn FROM orders)
         |SELECT p.k, p.at_lsn, d.v, d.valid_from
         |FROM p JOIN dim d ON d.k = p.k
         |WHERE p.at_lsn >= d.valid_from
         |  AND (d.valid_to IS NULL OR p.at_lsn <= d.valid_to)
         |ORDER BY p.k""".stripMargin),

    // same count-histogram quartile thresholds and band routing
    "curriculum_shards" ->
      ("""WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
         |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum FROM h),
         |th AS (SELECT min(CASE WHEN cum*1000 >= n*250 THEN v END) AS t0,
         |              min(CASE WHEN cum*1000 >= n*500 THEN v END) AS t1,
         |              min(CASE WHEN cum*1000 >= n*750 THEN v END) AS t2
         |       FROM cum, tot)
         |SELECT doc_id, n_chars,
         |  CAST(CASE WHEN n_chars <= t0 THEN 0 WHEN n_chars <= t1 THEN 1
         |    WHEN n_chars <= t2 THEN 2 ELSE 3 END AS INT) AS shard
         |FROM documents, th ORDER BY doc_id""".stripMargin),

    // same hash split, same band pairs, same precedence
    // (eval > quarantine > train)
    "leakage_split" ->
      (s"""WITH bands AS ($minhashBandsSql),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |tagged AS (SELECT doc_id,
         |    CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 = 0 AS is_eval
         |  FROM documents),
         |ev AS (SELECT doc_id AS eid FROM tagged WHERE is_eval),
         |leaky AS (SELECT id_b AS doc_id FROM pairs JOIN ev ON ev.eid = id_a
         |  UNION SELECT id_a FROM pairs JOIN ev ON ev.eid = id_b)
         |SELECT t.doc_id, CASE WHEN t.is_eval THEN 'eval'
         |    WHEN l.doc_id IS NOT NULL THEN 'quarantine'
         |    ELSE 'train' END AS split
         |FROM tagged t LEFT JOIN leaky l ON l.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin),

    // same block-then-gate shape: 5-char-suffix blocks, builtin
    // integer Levenshtein in both engines
    "entity_match" ->
      ("""WITH c AS (SELECT c_custkey, c_name FROM customer),
         |d AS (SELECT c_custkey + 1000000 AS d_key,
         |    substr(c_name, 1, 3) || 'X' || substr(c_name, 5, 100) AS d_name
         |  FROM c),
         |db AS (SELECT d_key, d_name,
         |    substr(d_name, length(d_name) - 4, 5) AS block FROM d),
         |mb AS (SELECT c_custkey, c_name,
         |    substr(c_name, length(c_name) - 4, 5) AS block FROM c)
         |SELECT db.d_key, mb.c_custkey AS master_key,
         |  CAST(levenshtein(db.d_name, mb.c_name) AS INT) AS dist
         |FROM db JOIN mb ON mb.block = db.block
         |WHERE levenshtein(db.d_name, mb.c_name) <= 1
         |ORDER BY d_key, master_key""".stripMargin),

    // corruption position is md5-derived per row; deletion-neighborhood
    // blocks (each position masked to '*', position-tagged) replayed
    // identically, pair dedup via DISTINCT (identical-outside-one-
    // position pairs share exactly the differing position's key)
    "entity_match_masked" ->
      (s"""WITH c AS (SELECT c_custkey, c_name FROM customer),
         |d AS (SELECT c_custkey + 1000000 AS d_key,
         |    substr(c_name, 1, p - 1) || 'X' ||
         |    substr(c_name, p + 1, length(c_name)) AS d_name
         |  FROM (SELECT c_custkey, c_name,
         |      CAST(1 + (${hex8("CAST(c_custkey AS VARCHAR)")}
         |        % length(c_name)) AS INT) AS p
         |    FROM c)),
         |dp AS (SELECT d_key, d_name,
         |    unnest(range(1, length(d_name) + 1)) AS p FROM d),
         |db AS (SELECT d_key, d_name,
         |    CAST(p AS VARCHAR) || '|' || substr(d_name, 1, p - 1) ||
         |      '*' || substr(d_name, p + 1, length(d_name)) AS block
         |  FROM dp),
         |mp AS (SELECT c_custkey, c_name,
         |    unnest(range(1, length(c_name) + 1)) AS p FROM c),
         |mb AS (SELECT c_custkey, c_name,
         |    CAST(p AS VARCHAR) || '|' || substr(c_name, 1, p - 1) ||
         |      '*' || substr(c_name, p + 1, length(c_name)) AS block
         |  FROM mp),
         |pairs AS (SELECT DISTINCT db.d_key, mb.c_custkey AS master_key,
         |    CAST(levenshtein(db.d_name, mb.c_name) AS INT) AS dist
         |  FROM db JOIN mb ON mb.block = db.block
         |  WHERE levenshtein(db.d_name, mb.c_name) <= 1)
         |SELECT d_key, master_key, dist FROM pairs
         |ORDER BY d_key, master_key""".stripMargin),

    // hash bit 0 picks insert-vs-delete corruption, the next bits the
    // position; blocks = identity + every 1-char deletion on BOTH
    // sides (UNION ALL — pair dedup happens in the DISTINCT), builtin
    // integer Levenshtein gates
    "entity_match_edit" ->
      (s"""WITH c AS (SELECT c_custkey, c_name FROM customer),
         |hp AS (SELECT c_custkey, c_name,
         |    ${hex8("CAST(c_custkey AS VARCHAR)")} AS h,
         |    CAST(1 + ((${hex8("CAST(c_custkey AS VARCHAR)")} // 2)
         |      % length(c_name)) AS INT) AS p
         |  FROM c),
         |d AS (SELECT c_custkey + 1000000 AS d_key,
         |    CASE WHEN h % 2 = 0
         |      THEN substr(c_name, 1, p - 1) ||
         |        substr(c_name, p + 1, length(c_name))
         |      ELSE substr(c_name, 1, p - 1) || 'X' ||
         |        substr(c_name, p, length(c_name)) END AS d_name
         |  FROM hp),
         |db AS (SELECT d_key, d_name, d_name AS block FROM d
         |  UNION ALL
         |  SELECT d_key, d_name, substr(d_name, 1, p - 1) ||
         |      substr(d_name, p + 1, length(d_name)) AS block
         |    FROM (SELECT d_key, d_name,
         |        unnest(range(1, length(d_name) + 1)) AS p FROM d)),
         |mb AS (SELECT c_custkey, c_name, c_name AS block FROM c
         |  UNION ALL
         |  SELECT c_custkey, c_name, substr(c_name, 1, p - 1) ||
         |      substr(c_name, p + 1, length(c_name)) AS block
         |    FROM (SELECT c_custkey, c_name,
         |        unnest(range(1, length(c_name) + 1)) AS p FROM c)),
         |pairs AS (SELECT DISTINCT db.d_key, mb.c_custkey AS master_key,
         |    CAST(levenshtein(db.d_name, mb.c_name) AS INT) AS dist
         |  FROM db JOIN mb ON mb.block = db.block
         |  WHERE levenshtein(db.d_name, mb.c_name) <= 1)
         |SELECT d_key, master_key, dist FROM pairs
         |ORDER BY d_key, master_key""".stripMargin),

    // the depth-2 deletion blocker is recall-complete for any edit <= 2,
    // so the oracle is the NAIVE all-pairs levenshtein join — the
    // hash-match proves the blocker dropped nothing
    "entity_match_edit2" ->
      (s"""WITH c AS (SELECT c_custkey, c_name FROM customer),
         |hp AS (SELECT c_custkey, c_name,
         |    ${hex8("CAST(c_custkey AS VARCHAR)")} AS h,
         |    CAST(1 + ((${hex8("CAST(c_custkey AS VARCHAR)")} // 2)
         |      % length(c_name)) AS INT) AS p
         |  FROM c),
         |s1 AS (SELECT c_custkey, h,
         |    CASE WHEN h % 2 = 0
         |      THEN substr(c_name, 1, p - 1) ||
         |        substr(c_name, p + 1, length(c_name))
         |      ELSE substr(c_name, 1, p - 1) || 'X' ||
         |        substr(c_name, p, length(c_name)) END AS r1
         |  FROM hp),
         |s1q AS (SELECT c_custkey, h, r1,
         |    CAST(1 + ((h // 8) % length(r1)) AS INT) AS q
         |  FROM s1),
         |d AS (SELECT c_custkey + 1000000 AS d_key,
         |    CASE (h // 4) % 3
         |      WHEN 0 THEN substr(r1, 1, q - 1) ||
         |        substr(r1, q + 1, length(r1))
         |      WHEN 1 THEN substr(r1, 1, q - 1) || 'Y' ||
         |        substr(r1, q, length(r1))
         |      ELSE substr(r1, 1, q - 1) || 'Z' ||
         |        substr(r1, q + 1, length(r1)) END AS d_name
         |  FROM s1q)
         |SELECT d.d_key, c.c_custkey AS master_key,
         |  CAST(levenshtein(d.d_name, c.c_name) AS INT) AS dist
         |FROM d CROSS JOIN c
         |WHERE levenshtein(d.d_name, c.c_name) <= 2
         |ORDER BY d_key, master_key""".stripMargin),

    // struct-max election replayed as a (quality DESC, id ASC) window
    // pick; member counts join back cluster-keyed
    "dedup_elect_skewed" ->
      ("""WITH d AS (SELECT doc_id, n_chars,
         |    CASE WHEN doc_id % 10 < 9 THEN 0
         |         ELSE doc_id % 100 END AS cluster
         |  FROM documents),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY n_chars DESC, doc_id ASC) AS rn FROM d),
         |n AS (SELECT cluster, count(*) AS n_members FROM d
         |  GROUP BY cluster)
         |SELECT r.cluster, r.doc_id AS keep_id,
         |  r.n_chars AS keep_quality, n.n_members
         |FROM r JOIN n USING (cluster) WHERE rn = 1
         |ORDER BY cluster""".stripMargin),

    // the snippet literal is generated from the SAME Scala constant
    // the query plants, newlines spliced as chr(10)
    "code_detect" -> {
      val snippetSql = "'" + graft.functions.TextAnalysis.CodeSnippet
        .replace("\n", "' || chr(10) || '") + "'"
      s"""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
         |    THEN text || $snippetSql ELSE text END AS t FROM documents),
         |s AS (SELECT doc_id,
         |    GREATEST(length(t), 1) AS len,
         |    length(regexp_replace(t, '[^{}\\[\\]();=<>]', '', 'g')) AS sym,
         |    len(string_split(t, chr(10))) AS n_lines,
         |    len(list_filter(string_split(t, chr(10)),
         |      l -> regexp_matches(l, '^(  |\\t)'))) AS ind,
         |    len(regexp_extract_all(t,
         |      '\\b(def|class|return|import|const|function|public|void|struct|fn)\\b')) AS kw
         |  FROM d),
         |g AS (SELECT doc_id,
         |    (sym * 10000) // len AS symbol_bp,
         |    (ind * 10000) // n_lines AS indent_bp,
         |    CAST(kw AS BIGINT) AS kw_hits
         |  FROM s)
         |SELECT doc_id, symbol_bp, indent_bp, kw_hits,
         |  (symbol_bp >= 400 OR (kw_hits >= 3 AND symbol_bp >= 150)
         |    OR indent_bp >= 3000) AS is_code
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "key_share_topk" ->
      ("""WITH c AS (SELECT o_custkey AS key, count(*) AS cnt
         |  FROM orders GROUP BY 1),
         |t AS (SELECT count(*) AS total FROM orders)
         |SELECT key, cnt, (cnt * 10000) // t.total AS share_bp
         |FROM c, t ORDER BY cnt DESC, key LIMIT 20""".stripMargin),

    // six stat blocks (before/after x two columns), means summed as
    // DECIMAL like the engine so every double matches
    "drift_report" -> {
      def block(snap: String, src: String, c: String): String =
        s"""SELECT '$snap' AS snapshot, '$c' AS "column",
           |  count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  round(min(CAST($c AS DOUBLE)), 6) AS vmin,
           |  round(max(CAST($c AS DOUBLE)), 6) AS vmax,
           |  round(CAST(sum(CAST(round(CAST($c AS DOUBLE), 6) AS DECIMAL(18,6)))
           |    AS DOUBLE) / count($c), 6) AS vmean
           |FROM $src""".stripMargin
      s"""WITH aft AS (SELECT o_custkey, CASE WHEN o_orderstatus = 'O'
         |    THEN o_totalprice + 750.0 ELSE o_totalprice END
         |    AS o_totalprice FROM orders)
         |${block("before", "orders", "o_totalprice")}
         |UNION ALL ${block("before", "orders", "o_custkey")}
         |UNION ALL ${block("after", "aft", "o_totalprice")}
         |UNION ALL ${block("after", "aft", "o_custkey")}
         |ORDER BY snapshot, "column"""".stripMargin
    },

    // three unrolled rank iterations, contributions rounded then
    // DECIMAL-summed exactly like the engine; (1 - 0.85) evaluated at
    // runtime so both engines hold the identical IEEE double
    "pagerank" -> {
      def iter(i: Int): String =
        s"""c$i AS (SELECT e.dst AS node,
           |  CAST(sum(CAST(round(r.rank / od.outdeg, 9) AS DECIMAL(18,9)))
           |    AS DECIMAL(18,9)) AS cin
           |  FROM e JOIN r${i - 1} r ON r.node = e.src
           |  JOIN od ON od.src = e.src GROUP BY 1),
           |r$i AS (SELECT nx.node, round((1 - 0.85) / nn.n +
           |    0.85 * CAST(coalesce(c$i.cin, 0) AS DOUBLE), 9) AS rank
           |  FROM nodes nx LEFT JOIN c$i ON c$i.node = nx.node, nn)""".stripMargin
      s"""WITH e AS (SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
         |  UNION ALL SELECT doc_id, doc_id // 3 FROM documents),
         |nodes AS (SELECT DISTINCT node FROM
         |  (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, round(1.0 / nn.n, 9) AS rank FROM nodes, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node AS doc_id, rank FROM r3
         |ORDER BY rank DESC, node LIMIT 30""".stripMargin
    },

    // coarse pass on the 16-dim prefix (rounded scores, id tie-break —
    // identical shortlist boundary), exact rescore on the full vector
    "ann_matryoshka" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |se AS (SELECT vec_id, v[1:16] AS v FROM e),
         |cs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |  FROM se q, se c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |cr AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM cs),
         |short AS (SELECT query_id, neighbor_id FROM cr WHERE rank <= 20),
         |f2 AS (SELECT s.query_id, s.neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |  FROM short s JOIN e q ON q.vec_id = s.query_id
         |  JOIN e c ON c.vec_id = s.neighbor_id),
         |fr AS (SELECT query_id, neighbor_id, score, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM f2)
         |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
         |FROM fr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // positives = top-3 rounded cosine; negatives = top-5 by the md5
    // hash of (query:candidate), positives and self excluded first
    "contrastive_pairs" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |ps AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |  FROM e q, e c WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
         |pr AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM ps),
         |pos AS (SELECT query_id, neighbor_id, rank FROM pr WHERE rank <= 3),
         |cand AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    CAST(('0x' || substr(md5(CAST(q.vec_id AS VARCHAR) || ':' ||
         |      CAST(c.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         |  FROM (SELECT vec_id FROM embeddings WHERE vec_id < 8) q,
         |    embeddings c
         |  WHERE c.vec_id <> q.vec_id AND NOT EXISTS (SELECT 1 FROM pos p
         |    WHERE p.query_id = q.vec_id AND p.neighbor_id = c.vec_id)),
         |nr AS (SELECT query_id, neighbor_id, row_number() OVER (
         |  PARTITION BY query_id ORDER BY h DESC, neighbor_id) AS rank FROM cand),
         |neg AS (SELECT query_id, neighbor_id, rank FROM nr WHERE rank <= 5)
         |SELECT query_id, neighbor_id, 'pos' AS role, CAST(rank AS INT) AS rank
         |FROM pos
         |UNION ALL
         |SELECT query_id, neighbor_id, 'neg', CAST(rank AS INT) FROM neg
         |ORDER BY query_id, role, rank""".stripMargin),

    "ann_lsh_bucket" -> (lshBucketSql("embeddings") + " ORDER BY vec_id"),

    "ann_lsh_topk" ->
      (s"""WITH b AS (${lshBucketSql("embeddings")}),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |FROM e q JOIN b bq ON bq.vec_id = q.vec_id
         |JOIN b bc ON bc.bucket = bq.bucket
         |JOIN e c ON c.vec_id = bc.vec_id AND c.vec_id <> q.vec_id
         |WHERE q.vec_id < 10),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    "ann_multiprobe" ->
      (s"""WITH b AS (${lshBucketSql("embeddings")}),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |masks AS (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m),
         |qp AS (SELECT bq.vec_id AS query_id, xor(bq.bucket, m.m) AS bucket
         |  FROM b bq, masks m WHERE bq.vec_id < 10),
         |s AS (SELECT qp.query_id, c.vec_id AS neighbor_id,
         |  round(list_dot_product(q.v, c.v) /
         |    (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |FROM qp JOIN b bc ON bc.bucket = qp.bucket
         |JOIN e c ON c.vec_id = bc.vec_id AND c.vec_id <> qp.query_id
         |JOIN e q ON q.vec_id = qp.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),

    "stratified_sample" ->
      (s"""SELECT doc_id, lang FROM documents
         |WHERE ${hex8("CAST(doc_id AS VARCHAR)")} % 10000 <
         |  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
         |ORDER BY doc_id""".stripMargin),

    // regenerates the md5-derived PQ codebooks in SQL, re-encodes every
    // vector per subspace (best rounded cosine, tie on code id) exactly
    "ann_pq_codes" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |cb AS (
         |  SELECT s.s AS sub, c.c AS code,
         |    list(CAST(CAST(('0x'||substr(md5('pq'||CAST(s.s AS VARCHAR)||'c'||CAST(c.c AS VARCHAR)||'_'||CAST(d.d AS VARCHAR)),1,8)) AS BIGINT) % 2000 AS DOUBLE)/1000.0 - 1.0 ORDER BY d.d) AS cv
         |  FROM generate_series(0,7) s(s) CROSS JOIN generate_series(0,15) c(c)
         |  CROSS JOIN generate_series(0,7) d(d) GROUP BY 1, 2),
         |sc AS (
         |  SELECT e.vec_id, cb.sub, cb.code,
         |    round(list_dot_product(e.v[cb.sub*8+1 : cb.sub*8+8], cb.cv) /
         |      (sqrt(list_dot_product(e.v[cb.sub*8+1 : cb.sub*8+8], e.v[cb.sub*8+1 : cb.sub*8+8]))
         |       * sqrt(list_dot_product(cb.cv, cb.cv))), 6) AS score
         |  FROM e CROSS JOIN cb),
         |enc AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY score DESC, code) AS rk FROM sc) WHERE rk = 1)
         |SELECT vec_id,
         |  string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub) AS codes
         |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin),

    // same codebooks + encode, then asymmetric distance computation:
    // per-query rounded sub-dot tables, DECIMAL-exact 8-term sums
    "ann_pq_topk" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |cb AS (
         |  SELECT s.s AS sub, c.c AS code,
         |    list(CAST(CAST(('0x'||substr(md5('pq'||CAST(s.s AS VARCHAR)||'c'||CAST(c.c AS VARCHAR)||'_'||CAST(d.d AS VARCHAR)),1,8)) AS BIGINT) % 2000 AS DOUBLE)/1000.0 - 1.0 ORDER BY d.d) AS cv
         |  FROM generate_series(0,7) s(s) CROSS JOIN generate_series(0,15) c(c)
         |  CROSS JOIN generate_series(0,7) d(d) GROUP BY 1, 2),
         |sc AS (
         |  SELECT e.vec_id, cb.sub, cb.code,
         |    round(list_dot_product(e.v[cb.sub*8+1 : cb.sub*8+8], cb.cv) /
         |      (sqrt(list_dot_product(e.v[cb.sub*8+1 : cb.sub*8+8], e.v[cb.sub*8+1 : cb.sub*8+8]))
         |       * sqrt(list_dot_product(cb.cv, cb.cv))), 6) AS score
         |  FROM e CROSS JOIN cb),
         |enc AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |      ORDER BY score DESC, code) AS rk FROM sc) WHERE rk = 1),
         |dt AS (
         |  SELECT q.vec_id AS query_id, cb.sub, cb.code,
         |    CAST(round(list_dot_product(q.v[cb.sub*8+1 : cb.sub*8+8], cb.cv), 6)
         |      AS DECIMAL(18,6)) AS contrib
         |  FROM e q CROSS JOIN cb WHERE q.vec_id < 10),
         |s2 AS (
         |  SELECT dt.query_id, enc.vec_id AS neighbor_id,
         |    CAST(sum(dt.contrib) AS DOUBLE) AS score
         |  FROM enc JOIN dt USING (sub, code)
         |  WHERE enc.vec_id <> dt.query_id GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY score DESC, neighbor_id) AS rank FROM s2)
         |SELECT query_id, neighbor_id, score, rank FROM r
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    "ann_ivf" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |seeds AS (SELECT vec_id, v FROM e
         |  ORDER BY ${hex8("CAST(vec_id AS VARCHAR)")} LIMIT 4),
         |cents AS (SELECT row_number() OVER (ORDER BY v[1]) - 1 AS centroid_id, v AS cv FROM seeds),
         |s AS (SELECT e.vec_id, c.centroid_id,
         |  round(list_dot_product(e.v, c.cv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS score
         |FROM e CROSS JOIN cents c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rk FROM s)
         |SELECT vec_id, centroid_id, score FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    // regenerates the md5-derived 1024-centroid codebook in SQL and
    // recomputes every assignment exactly — the Spark side ran ONE
    // codegen loop per vector, never a join or shuffle
    "ann_ivf_largek" ->
      ("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |comp AS (SELECT c.c AS centroid_id, d.d AS dim,
         |    CAST(CAST(('0x'||substr(md5('cent'||CAST(c.c AS VARCHAR)||'_'||CAST(d.d AS VARCHAR)),1,8)) AS BIGINT) % 2000 AS DOUBLE)/1000.0 - 1.0 AS x
         |  FROM generate_series(0,1023) c(c) CROSS JOIN generate_series(0,63) d(d)),
         |cents AS (SELECT centroid_id, list(x ORDER BY dim) AS cv FROM comp GROUP BY centroid_id),
         |s AS (SELECT e.vec_id, c.centroid_id,
         |  round(list_dot_product(e.v, c.cv) /
         |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS score
         |FROM e CROSS JOIN cents c),
         |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, centroid_id) AS rk FROM s)
         |SELECT vec_id, centroid_id, score FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin),

    "ann_ivf_topk" -> annIvfSql,

    // the incremental index must answer EXACTLY like the one-shot IVF
    // over the union of all appended batches — same oracle by design
    "ann_ivf_incremental" -> annIvfSql,

    // compaction is pure file-layout maintenance: the probe after the
    // two-phase swap must still equal the one-shot search — same oracle
    "ann_ivf_compact" -> annIvfSql,

    // the same correlation as plain SQL: CAST truncates ns -> µs exactly
    // like the Spark loader's `ts div 1000`, so boundary comparisons
    // agree; bounds are inclusive on both ends
    // the same lag + gap-flag + running-sum recipe in DuckDB SQL,
    // microsecond-exact gap arithmetic on both engines
    "sessionize_batch" ->
      ("""WITH x AS (
         |  SELECT user_id, ts, event_id,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |  FROM events),
         |z AS (
         |  SELECT user_id, ts,
         |    CAST(sum(CASE WHEN prev IS NULL
         |        OR epoch_us(ts) - epoch_us(prev) > 1800000000
         |      THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
         |  FROM x)
         |SELECT user_id, session_n, count(*) AS n_events,
         |  min(ts) AS session_start, max(ts) AS session_end
         |FROM z GROUP BY user_id, session_n
         |ORDER BY user_id, session_n""".stripMargin),

    // cohort = first active day; cells count distinct users per offset
    "retention_cohorts" ->
      ("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
         |f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY 1),
         |x AS (SELECT DISTINCT e.user_id, f.cohort_day,
         |  date_diff('day', f.cohort_day, e.d) AS day_offset
         |  FROM e JOIN f USING (user_id))
         |SELECT cohort_day, CAST(day_offset AS INTEGER) AS day_offset,
         |  count(*) AS n_users
         |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // the Spark side enriched a real file-source stream against a
    // broadcast dimension; batch SQL re-derives the same join + totals
    "stream_enrich" ->
      ("""SELECT n_name, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM events JOIN nation ON n_nationkey = user_id % 25
         |GROUP BY n_name ORDER BY n_name""".stripMargin),

    "stream_join" ->
      ("""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events WHERE user_id % 2 = 0
         |)
         |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
         |FROM e v JOIN e c ON c.user_id = v.user_id
         | AND v.event_type = 'view' AND c.event_type = 'click'
         | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
         |ORDER BY 1, 2, 3""".stripMargin),

    "session_window" ->
      ("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         |m AS (SELECT user_id, ts,
         |  CASE WHEN lag(ts) OVER w IS NULL
         |       OR ts - lag(ts) OVER w >= INTERVAL '1 hour' THEN 1 ELSE 0 END AS new_s
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (SELECT user_id, ts,
         |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
         |  epoch_us(max(ts) + INTERVAL '1 hour') AS session_end_us,
         |  count(*) AS n
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin),

    "embed_near_dups" -> embedNearDupsSql,

    // the standing embedding bucket index must answer EXACTLY like the
    // one-shot embeddingNearDups over the union of all appended
    // batches — same oracle by design (the equivalence law IS the
    // incremental contract), and compaction is pure file-layout
    // maintenance so the compacted twin shares it too
    "embed_near_dups_incremental" -> embedNearDupsSql,
    "embed_near_dups_compact" -> embedNearDupsSql,

    "wal2json_parse" ->
      ("""SELECT o_orderkey AS id, o_totalprice AS price,
         |  'insert' AS "__kind", CAST(o_custkey AS VARCHAR) AS "__tx_id",
         |  'public.orders' AS "__table"
         |FROM orders ORDER BY id""".stripMargin),

    "apply_truncates" ->
      ("""SELECT o_orderkey AS k, o_totalprice AS val FROM orders
         |WHERE o_orderkey % 50 <> 0
         |  AND o_orderkey > (SELECT coalesce(max(o_orderkey), -1)
         |                    FROM orders WHERE o_orderkey % 50 = 0)
         |ORDER BY k""".stripMargin),

    "dblog_reconcile" ->
      ("""SELECT o_orderkey,
         |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
         |       ELSE o_totalprice END AS o_totalprice
         |FROM orders WHERE o_orderkey % 17 <> 0 ORDER BY o_orderkey""".stripMargin),

    "native_parse" ->
      (s"""SELECT o_orderkey AS id, o_totalprice AS price,
         |  $ordersKindSql AS "__kind", o_orderkey AS "__lsn",
         |  CAST(o_custkey AS VARCHAR) AS "__tx_id",
         |  'public.orders' AS "__table", o_orderkey AS "__commit_time"
         |FROM orders ORDER BY id""".stripMargin),

    "audittrails_parse" ->
      ("""SELECT 'e'||CAST(o_orderkey AS VARCHAR) AS event_id,
         |  't'||CAST(o_orderkey % 5 AS VARCHAR) AS event_type,
         |  (1704067200 + o_orderkey) * 1000000 AS event_time_us,
         |  'u'||CAST(o_orderkey AS VARCHAR) AS authentication_subject_id,
         |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
         |       ELSE 'n'||CAST(o_orderkey AS VARCHAR) END AS authentication_subject_name,
         |  '10.0.0.'||CAST(o_orderkey % 256 AS VARCHAR) AS request_metadata_remote_address
         |FROM orders ORDER BY event_id""".stripMargin),

    "cloudevents_parse" ->
      ("""SELECT 'e'||CAST(o_orderkey AS VARCHAR) AS ce_id,
         |  'order.created' AS ce_type,
         |  's'||CAST(o_orderkey AS VARCHAR) AS ce_subject,
         |  (1704067200 + o_orderkey) * 1000000 AS ce_time_us,
         |  o_orderkey AS k, o_totalprice AS price
         |FROM orders ORDER BY k""".stripMargin),

    "cloudlogging_parse" ->
      ("""SELECT 'i'||CAST(event_id AS VARCHAR) AS insert_id,
         |  CASE WHEN event_id % 10 = 0 THEN 'ERROR' ELSE 'INFO' END AS severity,
         |  'gce_instance' AS resource_type,
         |  (1704067200 + event_id) * 1000000 AS ts_us,
         |  event_id, value
         |FROM events ORDER BY event_id""".stripMargin),

    "raw_to_table" ->
      ("""SELECT o_orderkey,
         |  sha256('payload:'||CAST(o_orderkey AS VARCHAR)) AS raw_sha,
         |  CAST(octet_length(encode('payload:'||CAST(o_orderkey AS VARCHAR))) AS INT) AS raw_len
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "mongo_changestream_parse" ->
      ("""SELECT CAST(o_orderkey AS VARCHAR) AS "_id",
         |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS price,
         |  CASE WHEN o_orderkey % 7 = 0 THEN 'delete'
         |       WHEN o_orderkey % 3 = 0 THEN 'insert'
         |       WHEN o_orderkey % 2 = 0 THEN 'update'
         |       ELSE 'mongo:update_document' END AS "__kind",
         |  o_orderkey AS "__lsn"
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "confluent_decode" ->
      ("""SELECT o_orderkey AS id, o_totalprice AS price,
         |  CASE WHEN o_orderkey % 2 = 0 THEN '' ELSE o_orderstatus END AS status,
         |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS schema_id
         |FROM orders ORDER BY id""".stripMargin),

    "confluent_http" ->
      ("""SELECT o_orderkey AS id, o_totalprice AS price,
         |  CASE WHEN o_orderkey % 2 = 0 THEN '' ELSE o_orderstatus END AS status,
         |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS schema_id
         |FROM orders ORDER BY id""".stripMargin),

    "mysql_binlog_parse" ->
      ("""SELECT o_orderkey AS id, o_totalprice AS price,
         |  CASE WHEN o_orderkey % 7 = 0 THEN 'delete'
         |       WHEN o_orderkey % 3 = 0 THEN 'insert'
         |       ELSE 'update' END AS "__kind",
         |  o_orderkey AS "__lsn", 'shop.orders' AS "__table",
         |  CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 3 <> 0 THEN
         |    CASE WHEN o_orderkey % 4 = 1 THEN o_orderkey + 9000000
         |         ELSE o_orderkey END
         |  END AS old_id
         |FROM orders ORDER BY id""".stripMargin),

    // pk-changing updates (old.id = k+9e6) split into delete(old)+
    // insert(new); the synthetic old keys never existed, so their
    // deletes vanish and every surviving key is the data-row id
    "cdc_pipeline_mysql" ->
      ("SELECT o_orderkey AS id, o_totalprice AS price FROM orders " +
        "WHERE o_orderkey % 7 <> 0 ORDER BY id"),

    "queue_roundtrip" ->
      ("SELECT o_orderkey AS k, o_totalprice AS val FROM orders " +
        "WHERE o_orderkey % 7 <> 0 ORDER BY k"),

    "watermark_dedup" ->
      ("SELECT event_id, CAST(ts AS TIMESTAMP) AS ts " +
        "FROM events ORDER BY event_id"),

    // the engine-stable hash: first 8 hex chars of md5, as a BIGINT
    "udx_hash" ->
      ("""SELECT o_orderkey,
         |  CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "lambda_transform" ->
      ("SELECT o_orderkey, o_totalprice > 150000 AS big_spender " +
        "FROM orders ORDER BY o_orderkey"),

    // only the newest `keep` daily periods survive expiry; rows carry
    // their rotation tag back from the partition layout
    "rotator_write" ->
      ("""WITH d AS (SELECT DISTINCT
         |    strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS rot
         |  FROM events),
         |keep AS (SELECT rot FROM d ORDER BY rot DESC LIMIT 3)
         |SELECT event_id,
         |  strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS "__rotation"
         |FROM events
         |WHERE strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d')
         |      IN (SELECT rot FROM keep)
         |ORDER BY event_id""".stripMargin),

    "compact_lake" ->
      ("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "config_transfer" ->
      ("""SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
         |  o_orderstatus
         |FROM orders WHERE o_totalprice > 100000
         |ORDER BY o_orderkey""".stripMargin),

    // the model DAG flattened to plain SQL: staging filter -> rollup ->
    // report (integer floor division, scalar-subquery row count)
    "dbt_run" ->
      ("""WITH stg AS (
         |  SELECT doc_id, lang, source, n_chars FROM documents
         |  WHERE n_chars >= 150
         |), mix AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS total_chars
         |  FROM stg GROUP BY lang
         |)
         |SELECT lang, n_docs, total_chars,
         |  total_chars // n_docs AS avg_chars,
         |  (SELECT count(*) FROM stg) AS n_kept
         |FROM mix ORDER BY lang""".stripMargin),

    "merge_multitable" ->
      ("""SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS val,
         |  'orders/' || o_orderstatus AS "__table"
         |FROM orders ORDER BY k""".stripMargin),

    // partial updates set only their masked columns: a keeps the last
    // a-setting event, b the last b-setting one — independently per key
    "toast_coalesce" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 3 = 0
         |       THEN CAST(o_totalprice AS DOUBLE) + 1000.0
         |       ELSE CAST(o_totalprice AS DOUBLE) END AS a,
         |  CASE WHEN o_orderkey % 5 = 0 THEN o_custkey + 7
         |       ELSE o_custkey END AS b
         |FROM orders ORDER BY k""".stripMargin),

    // the detector must pin exactly the two poison keys (first and last
    // key of the 1024-wide probe window with k % 7 = 3) to single-item
    // (lo, hi] ranges
    "problem_item_detector" ->
      ("""WITH w AS (SELECT min(o_orderkey) AS mn FROM orders),
         |p AS (SELECT min(o_orderkey) AS a, max(o_orderkey) AS b
         |      FROM orders, w
         |      WHERE o_orderkey BETWEEN mn AND mn + 1023
         |        AND o_orderkey % 7 = 3)
         |SELECT a - 1 AS lo, a AS hi FROM p
         |UNION ALL
         |SELECT b - 1, b FROM p WHERE b <> a
         |ORDER BY lo""".stripMargin),

    "table_filter" ->
      ("""SELECT o_orderkey, 'orders/' || o_orderstatus AS "__table"
         |FROM orders WHERE o_orderstatus <> 'F'
         |ORDER BY o_orderkey""".stripMargin),

    "sample_source" ->
      ("""SELECT i AS event_id,
         |  (i * 2654435761) % 100 AS device_id,
         |  TIMESTAMP '1970-01-01' + (1700000000 + i) * INTERVAL '1 second' AS ts,
         |  CAST((i * 1103515245 + 12345) % 100000 AS DOUBLE) / 100.0 AS value
         |FROM range(10000) t(i) ORDER BY event_id""".stripMargin),

    "metering_tap" ->
      ("""SELECT 'graft_meter_in' AS name,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(length(CAST(o_orderkey AS VARCHAR))
         |       + length(o_orderstatus)) AS BIGINT) AS n_bytes
         |FROM orders""".stripMargin),

    "cleanup_policy" ->
      ("""SELECT k, val FROM (
         |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS val
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) FROM orders
         |  WHERE o_orderkey % 10 = 0
         |) ORDER BY k""".stripMargin),

    // derby round-trip must surface exactly the rows written, with the
    // beyond-int64 NUMERIC(20) ids and dates intact (string-compared)
    "jdbc_roundtrip" ->
      ("""SELECT l_orderkey, l_linenumber,
         |  CAST(l_quantity AS DOUBLE) AS qty,
         |  CAST(CAST('18000000000000000000' AS DECIMAL(20,0))
         |       + l_orderkey AS DECIMAL(20,0))::VARCHAR AS big_id,
         |  CAST(l_shipdate AS VARCHAR) AS l_shipdate, l_returnflag
         |FROM lineitem WHERE l_orderkey % 20 = 3
         |ORDER BY l_orderkey, l_linenumber""".stripMargin),

    "blank_parse" ->
      ("""WITH b AS (SELECT doc_id, text,
         |    row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1 AS rn
         |  FROM documents)
         |SELECT CAST(doc_id % 4 AS VARCHAR) AS "partition",
         |  CAST(CAST(rn AS DECIMAL(20,0)) AS VARCHAR) AS "offset",
         |  CAST(CAST(rn AS DECIMAL(20,0)) AS VARCHAR) AS seq_no,
         |  'docs' AS source_id, text AS lb_raw_message,
         |  true AS c_time_null, true AS w_time_null, true AS extra_null
         |FROM b ORDER BY CAST(doc_id % 4 AS VARCHAR), rn""".stripMargin),

    // same arithmetic as the Spark-side harness encode: the decoder must
    // recover varint, string, zigzag sint64 and LE double fields exactly
    "proto_scalar_parse" ->
      ("""SELECT i * 700 + 1 AS n, 'm' || i AS s,
         |  CASE WHEN i % 2 = 0 THEN i ELSE -i END AS sn,
         |  i * 0.25 AS d
         |FROM range(2000) t(i) ORDER BY n""".stripMargin),

    // descriptor-driven nested decode: both engines recompute the same
    // fields the proto wire carried; p/2 + p/4 is IEEE-deterministic in
    // both (two exact halvings, one add), so the compare is exact
    // the oracle knows the planted entries and the proto3 duplicate-key
    // rule: 'a' was re-sent with k%9, so k%9 must be the surviving value
    "proto_map_parse" ->
      ("""SELECT o_orderkey AS id, CAST(2 AS INTEGER) AS n_attrs,
         |  'a=' || CAST(o_orderkey % 9 AS VARCHAR) ||
         |  ',b=' || CAST(o_orderkey % 7 AS VARCHAR) AS attrs_csv,
         |  CASE o_orderkey % 3 WHEN 0 THEN 'OK' WHEN 1 THEN 'DEGRADED'
         |    ELSE 'FAIL' END AS status
         |FROM orders ORDER BY id""".stripMargin),

    "proto_nested_parse" ->
      ("""SELECT o_orderkey AS id,
         |  'n' || CAST(o_orderkey AS VARCHAR) AS item_name,
         |  CAST(o_totalprice AS DOUBLE) AS item_price,
         |  CAST(o_orderkey % 5 AS VARCHAR) || ',' ||
         |    CAST(o_orderkey % 7 AS VARCHAR) AS tags_csv,
         |  -o_orderkey AS neg,
         |  CAST(2 AS BIGINT) AS n_lines,
         |  CAST(o_orderkey % 3 + o_orderkey % 4 AS INTEGER) AS qty_sum,
         |  CAST(o_totalprice AS DOUBLE) / 2 + CAST(o_totalprice AS DOUBLE) / 4
         |    AS lines_total
         |FROM orders ORDER BY id""".stripMargin),

    // guard semantics: batch-1 inserts all pass; batch-2 redeliveries
    // pass only when the LSN strictly advances (odd keys) — the stale
    // even-key replays (and their poison values) must be absent
    "monotonic_guard" ->
      ("""SELECT k, val, lsn FROM (
         |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS val,
         |         o_orderkey * 10 AS lsn FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) + 100.0,
         |         o_orderkey * 10 + 5 FROM orders WHERE o_orderkey % 2 = 1
         |) ORDER BY k, lsn""".stripMargin),

    "fallback_downgrade" ->
      ("""SELECT event_id,
         |  date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts,
         |  CAST(CAST(event_id AS DECIMAL(20,0)) AS VARCHAR) AS big
         |FROM events ORDER BY event_id""".stripMargin),

    "sorted_lake" ->
      ("SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS val " +
        "FROM orders ORDER BY o_orderkey"),

    // the streaming loop converges to the batch collapse: insert all,
    // update %3 (+5000), delete %7; the stale replays are guard-dropped
    // and must leave no trace
    "replicate_stream" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 3 = 0
         |       THEN o_totalprice + 5000.0 ELSE o_totalprice END AS val
         |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY k""".stripMargin),

    // the file-queue-fed loop converges to the IDENTICAL state: same
    // batch-collapse oracle — the transport must not change the answer
    "replicate_stream_fs" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 3 = 0
         |       THEN o_totalprice + 5000.0 ELSE o_totalprice END AS val
         |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY k""".stripMargin),

    "tag_transactions" ->
      ("""SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS "__tx_id",
         |  dense_rank() OVER (ORDER BY CAST(o_custkey AS VARCHAR)) AS "__tx_ord"
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    "delta_roundtrip" ->
      ("SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders " +
        "ORDER BY o_orderkey"),

    // partition pruning changes which files are READ, never the result
    "delta_partitioned" ->
      ("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
         |WHERE o_orderpriority = '1-URGENT'
         |ORDER BY o_orderkey""".stripMargin),

    // pre-evolution rows surface NULL for the evolved-in column
    "delta_evolve" ->
      ("""SELECT o_orderkey, o_totalprice,
         |  CASE WHEN o_orderkey % 4 = 0 THEN o_orderpriority
         |       ELSE NULL END AS o_orderpriority
         |FROM orders ORDER BY o_orderkey""".stripMargin),

    // recomputes the post-upsert/post-delete table from the same
    // formulas; the Spark side reaches it through COW file rewrites
    // the Spark side adopted a partitioned parquet dump via CONVERT TO
    // DELTA and served this from a log-planned pruned read
    "delta_convert" ->
      ("""SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM orders WHERE o_orderstatus = 'F'
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "delta_merge" ->
      ("""WITH fin AS (
         |  SELECT CASE WHEN o_orderkey % 100 = 1
         |              THEN o_totalprice + 1000 ELSE o_totalprice END AS p,
         |         CASE WHEN o_orderkey % 100 = 1
         |              THEN 'U' ELSE o_orderstatus END AS s
         |  FROM orders WHERE o_orderkey % 100 <> 2
         |  UNION ALL
         |  SELECT o_totalprice AS p, 'N' AS s
         |  FROM orders WHERE o_orderkey % 100 = 3
         |)
         |SELECT s AS o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM fin GROUP BY s ORDER BY s""".stripMargin),

    // the overwrite commit (v2) must be invisible at version 1
    "delta_time_travel" ->
      ("""SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders WHERE o_orderkey % 4 <= 1
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // exactly-once: every order exactly once, the replayed batch's
    // poison payload absent — a duplicate or leak breaks the hash
    "delta_txn_sink" ->
      ("""SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // the head after RESTORE TO v0 serves exactly the v0 slice
    "delta_restore" ->
      ("""SELECT o_orderstatus, count(*) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM orders WHERE o_orderkey % 4 = 0
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    "merge_bucketed" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
         |       THEN o_totalprice + 5000.0 ELSE o_totalprice END AS val
         |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY k""".stripMargin),

    // same collapse as merge_bucketed, targeting the Delta lake merge;
    // the replayed poison batch must leave no trace
    "delta_cdc_merge" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0
         |       THEN o_totalprice + 5000.0 ELSE o_totalprice END AS val
         |FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY k""".stripMargin),

    "rotator_tag" ->
      ("""SELECT event_id, strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS "__rotation" """ +
        "FROM events ORDER BY event_id"),

    "pipeline_docs" ->
      (s"""WITH t AS (SELECT doc_id, text, lang, $toks AS tk FROM documents),
         |scored AS (SELECT doc_id, text, lang, len(tk) AS n_tokens,
         |  (CASE WHEN len(tk) BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END +
         |   CASE WHEN len(list_filter(tk, x -> list_contains($stopwordsSql, x))) > 0 THEN 0.3 ELSE 0.0 END +
         |   CASE WHEN CAST(len(regexp_extract_all(text, '[^A-Za-z0-9_\\s]')) AS DOUBLE) / length(text) < 0.2 THEN 0.3 ELSE 0.0 END) AS quality
         |FROM t),
         |gated AS (SELECT * FROM scored WHERE quality >= 0.7),
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
         |SELECT g.doc_id, g.n_tokens, g.quality, g.lang
         |FROM gated g JOIN keep USING (doc_id) ORDER BY g.doc_id""".stripMargin),

    "multimodal_meta" ->
      ("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
         |  sha256(text) AS content_sha,
         |  CAST(length(text) % 1920 AS INTEGER) AS width,
         |  CAST(length(text) AS BIGINT) * 33 AS duration_ms
         |FROM documents ORDER BY doc_id""".stripMargin),

    // the Spark side DECODED actual PPM pixels (and a 4x4 nearest-
    // neighbor resize); the oracle recomputes the channel sums straight
    // from the md5 hex pairs that built the 2x2 raster — each source
    // pixel replicates exactly 4x in the upsample
    "multimodal_decode" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |x AS (SELECT doc_id,
         |  CAST(('0x'||substr(m,1,2)) AS INT) AS b0, CAST(('0x'||substr(m,3,2)) AS INT) AS b1,
         |  CAST(('0x'||substr(m,5,2)) AS INT) AS b2, CAST(('0x'||substr(m,7,2)) AS INT) AS b3,
         |  CAST(('0x'||substr(m,9,2)) AS INT) AS b4, CAST(('0x'||substr(m,11,2)) AS INT) AS b5,
         |  CAST(('0x'||substr(m,13,2)) AS INT) AS b6, CAST(('0x'||substr(m,15,2)) AS INT) AS b7,
         |  CAST(('0x'||substr(m,17,2)) AS INT) AS b8, CAST(('0x'||substr(m,19,2)) AS INT) AS b9,
         |  CAST(('0x'||substr(m,21,2)) AS INT) AS b10, CAST(('0x'||substr(m,23,2)) AS INT) AS b11
         |FROM b)
         |SELECT doc_id, CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
         |  CAST(b0+b3+b6+b9 AS BIGINT) AS sum_r,
         |  CAST(b1+b4+b7+b10 AS BIGINT) AS sum_g,
         |  CAST(b2+b5+b8+b11 AS BIGINT) AS sum_b,
         |  CAST(4 AS INTEGER) AS r_width, CAST(4 AS INTEGER) AS r_height,
         |  CAST(4*(b0+b3+b6+b9) AS BIGINT) AS r_sum_r,
         |  CAST(4*(b1+b4+b7+b10) AS BIGINT) AS r_sum_g,
         |  CAST(4*(b2+b5+b8+b11) AS BIGINT) AS r_sum_b
         |FROM x ORDER BY doc_id""".stripMargin),

    // the Spark side inflated a real zlib IDAT and unfiltered PNG
    // scanlines (filter cycling by doc); the oracle recomputes the
    // channel sums straight from the md5 hex that built the pixels
    "multimodal_png" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |x AS (SELECT doc_id,
         |  CAST(('0x'||substr(m,1,2)) AS INT) AS b0, CAST(('0x'||substr(m,3,2)) AS INT) AS b1,
         |  CAST(('0x'||substr(m,5,2)) AS INT) AS b2, CAST(('0x'||substr(m,7,2)) AS INT) AS b3,
         |  CAST(('0x'||substr(m,9,2)) AS INT) AS b4, CAST(('0x'||substr(m,11,2)) AS INT) AS b5,
         |  CAST(('0x'||substr(m,13,2)) AS INT) AS b6, CAST(('0x'||substr(m,15,2)) AS INT) AS b7,
         |  CAST(('0x'||substr(m,17,2)) AS INT) AS b8, CAST(('0x'||substr(m,19,2)) AS INT) AS b9,
         |  CAST(('0x'||substr(m,21,2)) AS INT) AS b10, CAST(('0x'||substr(m,23,2)) AS INT) AS b11
         |FROM b)
         |SELECT doc_id, 'image/png' AS mime,
         |  CAST(2 AS INTEGER) AS width, CAST(2 AS INTEGER) AS height,
         |  CAST(b0+b3+b6+b9 AS BIGINT) AS sum_r,
         |  CAST(b1+b4+b7+b10 AS BIGINT) AS sum_g,
         |  CAST(b2+b5+b8+b11 AS BIGINT) AS sum_b
         |FROM x ORDER BY doc_id""".stripMargin),

    // the Spark side Huffman+IDCT-decoded a real baseline JPEG whose
    // constant 8x8 blocks are bit-exact under flat quant 8; the oracle
    // recomputes the channel sums from the generating md5 bytes
    "multimodal_jpeg" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |x AS (SELECT doc_id,
         |  CAST(('0x'||substr(m,1,2)) AS INT) AS b0, CAST(('0x'||substr(m,3,2)) AS INT) AS b1,
         |  CAST(('0x'||substr(m,5,2)) AS INT) AS b2, CAST(('0x'||substr(m,7,2)) AS INT) AS b3
         |FROM b)
         |SELECT doc_id, 'image/jpeg' AS mime,
         |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
         |  CAST(64*(b0+b1+b2+b3) AS BIGINT) AS sum_r,
         |  CAST(64*(b0+b1+b2+b3) AS BIGINT) AS sum_g,
         |  CAST(64*(b0+b1+b2+b3) AS BIGINT) AS sum_b
         |FROM x ORDER BY doc_id""".stripMargin),

    // the Spark side walked a real AVI container and JPEG-decoded the
    // SAMPLED frames (0 and 2 of 4); the oracle predicts each sampled
    // frame's constant-gray sums from its generating md5 byte
    "multimodal_video" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |f AS (
         |  SELECT doc_id, 0 AS frame_idx,
         |    CAST(('0x'||substr(m,1,2)) AS BIGINT) AS v FROM b
         |  UNION ALL
         |  SELECT doc_id, 2 AS frame_idx,
         |    CAST(('0x'||substr(m,5,2)) AS BIGINT) AS v FROM b)
         |SELECT doc_id, 'video/avi' AS mime,
         |  CAST(frame_idx AS INTEGER) AS frame_idx,
         |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
         |  256*v AS sum_r, 256*v AS sum_g, 256*v AS sum_b
         |FROM f ORDER BY doc_id, frame_idx""".stripMargin),

    // the Spark side LZW-decoded a real GIF; the oracle recomputes the
    // palette-mapped channel sums from the md5 hex that built the
    // indices (each of the 4 bytes colors exactly 64 of 256 pixels)
    "multimodal_gif" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |x AS (SELECT doc_id,
         |  CAST(('0x'||substr(m,1,2)) AS INT) AS b0, CAST(('0x'||substr(m,3,2)) AS INT) AS b1,
         |  CAST(('0x'||substr(m,5,2)) AS INT) AS b2, CAST(('0x'||substr(m,7,2)) AS INT) AS b3
         |FROM b)
         |SELECT doc_id, 'image/gif' AS mime,
         |  CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
         |  CAST(64*(b0+b1+b2+b3) AS BIGINT) AS sum_r,
         |  CAST(64*((b0+85)%256+(b1+85)%256+(b2+85)%256+(b3+85)%256) AS BIGINT) AS sum_g,
         |  CAST(64*((b0+170)%256+(b1+170)%256+(b2+170)%256+(b3+170)%256) AS BIGINT) AS sum_b
         |FROM x ORDER BY doc_id""".stripMargin),

    // the Spark side FFT'd a real decoded tone; the oracle predicts
    // the dominant bin straight from the planted frequency
    "multimodal_spectral" ->
      ("""SELECT doc_id, CAST(64 AS INTEGER) AS n_samples,
         |  CAST(CAST(('0x'||substr(md5(text),1,2)) AS INT) % 31 + 1
         |    AS INTEGER) AS dominant_bin
         |FROM documents ORDER BY doc_id""".stripMargin),

    // the Spark side walked RIFF chunks and decoded real int16 PCM;
    // the oracle reconstructs the same little-endian signed samples
    // from the md5 hex that built the data chunk
    "multimodal_audio" ->
      ("""WITH b AS (SELECT doc_id, md5(text) AS m FROM documents),
         |s AS (SELECT doc_id,
         |  CAST(('0x'||substr(m,1,2)) AS INT) + 256*CAST(('0x'||substr(m,3,2)) AS INT) AS v0,
         |  CAST(('0x'||substr(m,5,2)) AS INT) + 256*CAST(('0x'||substr(m,7,2)) AS INT) AS v1,
         |  CAST(('0x'||substr(m,9,2)) AS INT) + 256*CAST(('0x'||substr(m,11,2)) AS INT) AS v2,
         |  CAST(('0x'||substr(m,13,2)) AS INT) + 256*CAST(('0x'||substr(m,15,2)) AS INT) AS v3
         |FROM b),
         |sg AS (SELECT doc_id,
         |  CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS s0,
         |  CASE WHEN v1 >= 32768 THEN v1 - 65536 ELSE v1 END AS s1,
         |  CASE WHEN v2 >= 32768 THEN v2 - 65536 ELSE v2 END AS s2,
         |  CASE WHEN v3 >= 32768 THEN v3 - 65536 ELSE v3 END AS s3
         |FROM s)
         |SELECT doc_id, CAST(4 AS INTEGER) AS n_samples,
         |  CAST(8000 AS INTEGER) AS sample_rate,
         |  CAST(abs(s0)+abs(s1)+abs(s2)+abs(s3) AS BIGINT) AS sum_abs,
         |  CAST(greatest(abs(s0),abs(s1),abs(s2),abs(s3)) AS INTEGER) AS peak
         |FROM sg ORDER BY doc_id""".stripMargin),

    // the oracle knows which signature was planted per id (doc_id % 7)
    // and independently recomputes the header length for byte_len
    "mime_sniff" ->
      ("""SELECT doc_id,
         |  CASE doc_id % 7
         |    WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
         |    WHEN 2 THEN 'audio/wav' WHEN 3 THEN 'video/mp4'
         |    WHEN 4 THEN 'image/gif' WHEN 5 THEN 'application/pdf'
         |    ELSE 'application/octet-stream' END AS mime,
         |  CAST(CASE doc_id % 7
         |    WHEN 0 THEN 4 WHEN 1 THEN 8 WHEN 2 THEN 12 WHEN 3 THEN 12
         |    WHEN 4 THEN 6 WHEN 5 THEN 4 ELSE 0 END
         |    + octet_length(encode(text)) AS BIGINT) AS byte_len
         |FROM documents ORDER BY doc_id""".stripMargin),

    // constant JPEG frames roundtrip value-exactly (DC-only), and the
    // /8 quantizer absorbs the planted ±3 jitter — so the oracle
    // derives every quantized frame mean straight from the md5 hex
    "video_fingerprint_match" ->
      ("""WITH d AS (SELECT doc_id,
         |    md5('vid:' || CAST(doc_id // 4 AS VARCHAR)) AS m FROM documents),
         |q AS (SELECT doc_id,
         |    CAST(CAST(('0x' || substr(m, 1, 2)) AS INT) // 8 AS INT) AS q0,
         |    CAST(CAST(('0x' || substr(m, 5, 2)) AS INT) // 8 AS INT) AS q1
         |  FROM d)
         |SELECT q0, q1, min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM q GROUP BY 1, 2 ORDER BY keep_id""".stripMargin),

    // planted integer-cycle tones put all energy in one FFT bin per
    // frame, so the oracle derives each fingerprint analytically from
    // the md5 that chose the bins — no transform on the oracle side
    "audio_fingerprint_match" ->
      ("""WITH d AS (SELECT doc_id,
         |    md5('aud:' || CAST(doc_id // 4 AS VARCHAR)) AS m FROM documents),
         |b AS (SELECT doc_id,
         |    CAST(('0x' || substr(m, 1, 2)) AS INT) % 31 + 1 AS b0,
         |    CAST(('0x' || substr(m, 3, 2)) AS INT) % 31 + 1 AS b1 FROM d)
         |SELECT CAST(b0 AS INT) AS b0, CAST(b1 AS INT) AS b1,
         |  min(doc_id) AS keep_id, count(*) AS n_copies
         |FROM b GROUP BY 1, 2 ORDER BY keep_id""".stripMargin),

    // perceptual dHash: the oracle replays every pipeline bit from the
    // md5 hex — pixel synthesis (+128 perturbation), integer grayscale
    // (= the pixel value, since r=g=b so the 77/150/29 luma is
    // identity), horizontal-gradient bits, 16-bit bands
    "image_dhash_bands" ->
      (s"""$dhashBandsSql
         |SELECT doc_id, b0, b1, b2, b3 FROM bands ORDER BY doc_id""".stripMargin),

    // ... and the LSH stage too: hot-bucket cap, band-collision
    // candidate generation, exact Hamming gate
    "image_dhash_neardup" ->
      (s"""$dhashPairsSql
         |SELECT left_id, right_id, hamming FROM ham
         |WHERE hamming <= 6 ORDER BY left_id, right_id""".stripMargin),

    // cross-modal closure: image dHash pairs + audio fingerprint stars
    // + exact-text stars union into one edge set; the recursive CTE
    // replays the min-label propagation the engine runs iteratively
    "dedup_multimodal_canonical" ->
      (s"""${("WITH RECURSIVE " + dhashPairsSql.stripPrefix("WITH ")).trim},
         |aud AS (SELECT doc_id,
         |    CAST(('0x' || substr(am, 1, 2)) AS INT) % 31 + 1 AS ab0,
         |    CAST(('0x' || substr(am, 3, 2)) AS INT) % 31 + 1 AS ab1
         |  FROM (SELECT doc_id,
         |    md5('aud:' || CAST(doc_id // 4 AS VARCHAR)) AS am FROM documents)),
         |aroots AS (SELECT ab0, ab1, min(doc_id) AS root FROM aud GROUP BY 1, 2),
         |aedges AS (SELECT r.root AS src, a.doc_id AS dst FROM aud a
         |  JOIN aroots r ON r.ab0 = a.ab0 AND r.ab1 = a.ab1
         |  WHERE a.doc_id <> r.root),
         |tf2 AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS tfp
         |  FROM documents),
         |troots AS (SELECT tfp, min(doc_id) AS root FROM tf2 GROUP BY 1),
         |tedges AS (SELECT r.root AS src, t2.doc_id AS dst FROM tf2 t2
         |  JOIN troots r ON r.tfp = t2.tfp WHERE t2.doc_id <> r.root),
         |e AS (SELECT left_id AS src, right_id AS dst FROM ham
         |    WHERE hamming <= 6
         |  UNION ALL SELECT src, dst FROM aedges
         |  UNION ALL SELECT src, dst FROM tedges),
         |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
         |ns AS (SELECT DISTINCT src AS node FROM sym),
         |rr(node, lbl) AS (
         |  SELECT node, node FROM ns
         |  UNION
         |  SELECT s.dst, rr.lbl FROM rr JOIN sym s ON s.src = rr.node
         |), cc AS (SELECT node, min(lbl) AS cluster_id FROM rr GROUP BY node)
         |SELECT node AS doc_id, cluster_id, node = cluster_id AS is_canonical
         |FROM cc ORDER BY doc_id""".stripMargin),

    // the planted edit/delete/add pattern is pure modular arithmetic,
    // so the classification re-derives from set logic — no fingerprints
    // needed: removed = id%7 deletions, changed = surviving id%5 edits
    // ('v2 ' prefix always changes the text), added = the +1000000
    // copies of id%11 docs (ids never collide: max doc_id << 1000000)
    "snapshot_diff" ->
      ("""SELECT doc_id, status FROM (
         |  SELECT doc_id, 'removed' AS status FROM documents
         |    WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id, 'changed' FROM documents
         |    WHERE doc_id % 7 <> 0 AND doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'added' FROM documents
         |    WHERE doc_id % 11 = 0)
         |ORDER BY doc_id""".stripMargin),

    // each rule re-derived over the same token metrics; n_docs is the
    // corpus size for every rule (the explode replicates each doc into
    // every rule row)
    "quality_rule_stats" ->
      (s"""WITH m AS (SELECT length(text) AS n_chars,
         |    len($toks) AS words,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
         |      / len($toks) AS mean_wl,
         |    len(list_filter($toks, t -> list_contains(
         |      ['the', 'a', 'an', 'of', 'to', 'in', 'and'], lower(t))))
         |      AS stop_hits
         |  FROM documents),
         |r AS (
         |  SELECT 'min_chars' AS rule,
         |    CAST(n_chars < 100 AS INT) AS fail FROM m
         |  UNION ALL SELECT 'max_chars', CAST(n_chars > 450 AS INT) FROM m
         |  UNION ALL SELECT 'min_words', CAST(words < 20 AS INT) FROM m
         |  UNION ALL SELECT 'mean_word_len',
         |    CAST(mean_wl < 3.4 OR mean_wl > 8.0 AS INT) FROM m
         |  UNION ALL SELECT 'stopword_floor',
         |    CAST(CAST(stop_hits AS DOUBLE) / words < 0.05 AS INT) FROM m)
         |SELECT rule, CAST(sum(fail) AS BIGINT) AS n_fail,
         |  round(CAST(sum(fail) AS DOUBLE) / count(*), 6) AS fail_pct
         |FROM r GROUP BY rule ORDER BY rule""".stripMargin),

    // same md5 bucket arithmetic as the engine's hashing trick
    "feature_hash" ->
      ("""WITH tok AS (
         |  SELECT doc_id, unnest(
         |    regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id,
         |  CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % 64 AS bucket,
         |  count(*) AS tf
         |FROM tok WHERE tok <> ''
         |GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin),

    // shard + position re-derived from the same seeded md5 hashes; the
    // rank runs over ALL docs (the engine filters after ordering)
    "train_order" ->
      (s"""WITH h AS (SELECT doc_id,
         |    ${hex8("'7:'||CAST(doc_id AS VARCHAR)")} % 16 AS shard,
         |    ${hex8("'8:'||CAST(doc_id AS VARCHAR)")} AS p
         |  FROM documents),
         |r AS (SELECT doc_id, shard,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY p, doc_id)
         |      AS BIGINT) AS pos
         |  FROM h)
         |SELECT doc_id, shard, pos FROM r WHERE doc_id < 300
         |ORDER BY doc_id""".stripMargin),

    // the bounded-heap draw = top-k by seeded md5 priority (desc, id
    // asc tie), replayed as a per-group window rank
    "group_reservoir" ->
      (s"""WITH h AS (SELECT lang, doc_id,
         |    CAST(${hex8("'42:'||CAST(doc_id AS VARCHAR)")} AS DOUBLE) AS pr
         |  FROM documents),
         |r AS (SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY pr DESC, doc_id)
         |      AS INT) AS draw_rank
         |  FROM h)
         |SELECT lang, doc_id, draw_rank FROM r WHERE draw_rank <= 5
         |ORDER BY lang, draw_rank""".stripMargin),

    // 4-plane sign-LSH cells exactly as ann_lsh_bucket (fewer planes),
    // then the same seeded-priority fixed-k draw per cell
    "cluster_balanced_sample" ->
      (s"""WITH b AS (${lshBucketSql("embeddings", nPlanes = 4)}),
         |h AS (SELECT bucket AS cell, vec_id,
         |    CAST(${hex8("'3:'||CAST(vec_id AS VARCHAR)")} AS DOUBLE) AS pr
         |  FROM b),
         |r AS (SELECT cell, vec_id,
         |    CAST(row_number() OVER (PARTITION BY cell ORDER BY pr DESC, vec_id)
         |      AS INT) AS draw_rank
         |  FROM h)
         |SELECT cell, vec_id, draw_rank FROM r WHERE draw_rank <= 8
         |ORDER BY cell, draw_rank""".stripMargin),

    // same planted-URL corpus and normalize chain as url_normalize,
    // then latest-crawl-wins replayed as a (crawl_seq, doc_id) window
    "url_dedup_latest" ->
      ("""WITH planted AS (
         |  SELECT doc_id, doc_id % 13 AS crawl_seq,
         |    'HTTPS://WWW.' || upper(source) || '.Example.COM/'
         |    || lang || '/p/' || CAST(doc_id % 97 AS VARCHAR) ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN '?page=' || CAST(doc_id % 5 AS VARCHAR)
         |        || '&utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
         |      WHEN doc_id % 3 = 1
         |      THEN '?href=h' || CAST(doc_id % 7 AS VARCHAR)
         |        || '&utm_medium=m&pref=1&xutm_source=1'
         |      ELSE '?utm_source=feed' END || '#sec' AS url
         |  FROM documents
         |), n1 AS (SELECT doc_id, crawl_seq, regexp_replace(url, '#.*$', '') AS u FROM planted),
         |n2 AS (SELECT doc_id, crawl_seq, regexp_replace(u,
         |  '([?&])((utm_[A-Za-z0-9_]*|ref)=[^&#]*(&|$))+', '\1', 'g') AS u FROM n1),
         |n3 AS (SELECT doc_id, crawl_seq, regexp_replace(u, '[?&]+$', '') AS u FROM n2),
         |n4 AS (SELECT doc_id, crawl_seq,
         |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) ||
         |  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$', 1) AS u FROM n3),
         |n5 AS (SELECT doc_id, crawl_seq, regexp_replace(
         |  regexp_replace(u, '://www\.', '://'), '/+$', '') AS u FROM n4),
         |r AS (SELECT u AS url_norm, doc_id, crawl_seq,
         |  row_number() OVER (PARTITION BY u
         |    ORDER BY crawl_seq DESC, doc_id DESC) AS rn,
         |  count(*) OVER (PARTITION BY u) AS n_crawls
         |  FROM n5)
         |SELECT url_norm, doc_id, crawl_seq, n_crawls FROM r WHERE rn = 1
         |ORDER BY url_norm""".stripMargin),

    // both retrieval directions replayed exactly (rounded cosine,
    // rank desc/id-asc ties), then mutual top-1 + ratio margin
    "bitext_mine" ->
      ("""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |a AS (SELECT vec_id, v FROM e WHERE label % 2 = 0),
         |b AS (SELECT vec_id, v FROM e WHERE label % 2 = 1),
         |rab AS (SELECT *, row_number() OVER
         |    (PARTITION BY qa ORDER BY score DESC, nb) AS rank
         |  FROM (SELECT a.vec_id AS qa, b.vec_id AS nb,
         |    round(list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v))
         |       * sqrt(list_dot_product(b.v, b.v))), 6) AS score
         |    FROM a, b)),
         |rba AS (SELECT *, row_number() OVER
         |    (PARTITION BY qb ORDER BY score DESC, na) AS rank
         |  FROM (SELECT b.vec_id AS qb, a.vec_id AS na,
         |    round(list_dot_product(b.v, a.v) /
         |      (sqrt(list_dot_product(b.v, b.v))
         |       * sqrt(list_dot_product(a.v, a.v))), 6) AS score
         |    FROM b, a)),
         |best_ab AS (SELECT qa AS id_a, nb AS id_b, score AS cos
         |  FROM rab WHERE rank = 1),
         |best_ba AS (SELECT qb AS id_b, na AS id_a FROM rba WHERE rank = 1),
         |s2a AS (SELECT qa AS id_a, score AS s2 FROM rab WHERE rank = 2),
         |s2b AS (SELECT qb AS id_b, score AS s2 FROM rba WHERE rank = 2),
         |m AS (SELECT p.id_a, p.id_b, p.cos,
         |    round(p.cos / ((coalesce(s2a.s2, p.cos)
         |      + coalesce(s2b.s2, p.cos)) / 2), 6) AS margin
         |  FROM best_ab p
         |  JOIN best_ba USING (id_a, id_b)
         |  LEFT JOIN s2a ON s2a.id_a = p.id_a
         |  LEFT JOIN s2b ON s2b.id_b = p.id_b)
         |SELECT id_a, id_b, cos, margin FROM m WHERE margin >= 1.0
         |ORDER BY id_a""".stripMargin),

    // the LSH spelling replayed exactly: md5-derived hyperplane buckets
    // (same literals as the engine), multiprobe masks {0, 1<<j}, top-2
    // per direction restricted to shared/one-bit-neighbor buckets, then
    // identical mutual-top-1 + ratio-margin logic
    "bitext_mine_lsh" ->
      (s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |bk AS (${lshBucketSql("embeddings")}),
         |a AS (SELECT e.vec_id, e.v, bk.bucket
         |  FROM e JOIN bk USING (vec_id) WHERE label % 2 = 0),
         |b AS (SELECT e.vec_id, e.v, bk.bucket
         |  FROM e JOIN bk USING (vec_id) WHERE label % 2 = 1),
         |masks AS (SELECT unnest([0,1,2,4,8,16,32,64,128]) AS m),
         |rab AS (SELECT *, row_number() OVER
         |    (PARTITION BY qa ORDER BY score DESC, nb) AS rank
         |  FROM (SELECT q.vec_id AS qa, c.vec_id AS nb,
         |    round(list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v))
         |       * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |    FROM a q JOIN masks m ON TRUE
         |    JOIN b c ON c.bucket = xor(q.bucket, m.m))),
         |rba AS (SELECT *, row_number() OVER
         |    (PARTITION BY qb ORDER BY score DESC, na) AS rank
         |  FROM (SELECT q.vec_id AS qb, c.vec_id AS na,
         |    round(list_dot_product(q.v, c.v) /
         |      (sqrt(list_dot_product(q.v, q.v))
         |       * sqrt(list_dot_product(c.v, c.v))), 6) AS score
         |    FROM b q JOIN masks m ON TRUE
         |    JOIN a c ON c.bucket = xor(q.bucket, m.m))),
         |best_ab AS (SELECT qa AS id_a, nb AS id_b, score AS cos
         |  FROM rab WHERE rank = 1),
         |best_ba AS (SELECT qb AS id_b, na AS id_a FROM rba WHERE rank = 1),
         |s2a AS (SELECT qa AS id_a, score AS s2 FROM rab WHERE rank = 2),
         |s2b AS (SELECT qb AS id_b, score AS s2 FROM rba WHERE rank = 2),
         |m AS (SELECT p.id_a, p.id_b, p.cos,
         |    round(p.cos / ((coalesce(s2a.s2, p.cos)
         |      + coalesce(s2b.s2, p.cos)) / 2), 6) AS margin
         |  FROM best_ab p
         |  JOIN best_ba USING (id_a, id_b)
         |  LEFT JOIN s2a ON s2a.id_a = p.id_a
         |  LEFT JOIN s2b ON s2b.id_b = p.id_b)
         |SELECT id_a, id_b, cos, margin FROM m WHERE margin >= 1.0
         |ORDER BY id_a""".stripMargin),

    // DuckDB decorrelates the same way; DECIMAL sum is engine-exact
    "scalar_subquery" ->
      ("""SELECT count(*) AS n_small,
         |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
         |    AS DECIMAL(18,2)) AS lost_revenue
         |FROM lineitem JOIN part ON p_partkey = l_partkey
         |WHERE p_brand = 'Brand#1'
         |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
         |                    FROM lineitem l2
         |                    WHERE l2.l_partkey = p_partkey)""".stripMargin),

    "exists_subquery" ->
      ("""SELECT o_orderpriority, count(*) AS n_orders
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |              WHERE l_orderkey = o_orderkey
         |                AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin),

    "not_in_subquery" ->
      ("""SELECT c_mktsegment, count(*) AS n_cust,
         |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
         |    AS total_bal
         |FROM customer
         |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
         |        (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
         |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
         |         FROM customer WHERE c_acctbal > 0.0)
         |  AND c_custkey NOT IN (SELECT o_custkey FROM orders)
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin),

    // epoch-second RANGE frame (peers included in both engines);
    // DECIMAL(18,6) accumulation is order-independent and exact
    "rolling_sum_range" ->
      ("""WITH e AS (SELECT user_id,
         |    CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec,
         |    CAST(value AS DECIMAL(18,6)) AS v
         |  FROM events WHERE user_id < 20),
         |w AS (SELECT user_id, ts_sec,
         |    count(*) OVER win AS n_7d,
         |    CAST(sum(v) OVER win AS DECIMAL(18,6)) AS sum_7d
         |  FROM e
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_sec
         |    RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW))
         |SELECT user_id, ts_sec, max(n_7d) AS n_7d,
         |  CAST(max(sum_7d) AS DOUBLE) AS sum_7d
         |FROM w GROUP BY user_id, ts_sec
         |ORDER BY user_id, ts_sec""".stripMargin),

    // the planted payloads round-trip doubles through JSON (shortest
    // decimal rendering parses back to the identical double), so the
    // oracle re-derives the decoded rows straight from orders
    "jsonschema_registry_parse" ->
      ("""SELECT o_orderkey AS id, o_orderstatus AS status,
         |  CAST(o_totalprice AS DOUBLE) AS price,
         |  CASE WHEN o_orderkey % 5 = 0 THEN NULL
         |       ELSE 'n' || CAST(o_orderkey AS VARCHAR) END AS note
         |FROM orders ORDER BY id""".stripMargin),

    // the final relation states after the planted BATCH-SIZED deltas:
    // orders with key%31=0 inserted and the key%37 slice of the old
    // state deleted (= keep %31=0 OR %37<>0), lineitem complete; the
    // maintained view must equal the from-scratch join in BAG
    // semantics — projected rows that collide carry their
    // multiplicity in __mult
    "incremental_join_view" ->
      ("""SELECT o_orderkey, l_linenumber, o_orderstatus, l_quantity,
         |  CAST(count(*) AS BIGINT) AS "__mult"
         |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE o_orderkey % 31 = 0 OR o_orderkey % 37 <> 0
         |GROUP BY o_orderkey, l_linenumber, o_orderstatus, l_quantity
         |ORDER BY o_orderkey, l_linenumber, l_quantity""".stripMargin),

    // quotas replayed as literals: largest-remainder shares of 97 over
    // (.45,.25,.2,.1) are 44/24/19/10; draw re-derived from the same
    // md5 priorities; the stride fraction (2r-1)/(2q) in the same
    // 63-bit fixed point ((2r-1)*2^62 // q — HUGEINT product, exact)
    "mixture_schedule" ->
      (s"""WITH q(lang, quota) AS (VALUES
         |    ('en', 44), ('de', 24), ('fr', 19), ('zh', 10)),
         |h AS (SELECT d.lang, doc_id,
         |    CAST(${hex8("'11:'||CAST(doc_id AS VARCHAR)")} AS DOUBLE) AS pr
         |  FROM documents d JOIN q USING (lang)),
         |r AS (SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY pr DESC, doc_id)
         |      AS INT) AS draw_rank
         |  FROM h),
         |sel AS (SELECT r.lang, doc_id, draw_rank,
         |    CAST(CAST(2 * draw_rank - 1 AS HUGEINT)
         |      * 4611686018427387904 // quota AS BIGINT) AS sched_key
         |  FROM r JOIN q ON q.lang = r.lang WHERE draw_rank <= quota)
         |SELECT lang, doc_id, draw_rank, sched_key,
         |  CAST(row_number() OVER (ORDER BY sched_key, lang) AS INT) AS pos
         |FROM sel ORDER BY pos""".stripMargin),

    // same count-histogram thresholds as quantile_gate, applied as a
    // clip instead of a filter
    "winsorize_chars" ->
      ("""WITH h AS (SELECT n_chars AS v, count(*) AS c FROM documents
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
         |cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM h),
         |th AS (SELECT min(CASE WHEN cum*1000 >= n*50 THEN v END) AS lo,
         |              min(CASE WHEN cum*1000 >= n*950 THEN v END) AS hi
         |       FROM cum, tot)
         |SELECT doc_id, greatest(lo, least(hi, n_chars)) AS n_chars
         |FROM documents, th ORDER BY doc_id""".stripMargin),

    // the gate->winsorize curation chain: stage-1 thresholds over the
    // full histogram, stage-2 thresholds over the SURVIVORS' histogram
    // (same ceil-rank cross-multiplied semantics at each stage)
    "quantile_pipeline" ->
      ("""WITH h1 AS (SELECT n_chars AS v, count(*) AS c FROM documents
         |  GROUP BY 1),
         |tot1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h1),
         |cum1 AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM h1),
         |th1 AS (SELECT min(CASE WHEN cum*1000 >= n*10 THEN v END) AS lo,
         |               min(CASE WHEN cum*1000 >= n*990 THEN v END) AS hi
         |        FROM cum1, tot1),
         |g AS (SELECT doc_id, n_chars FROM documents, th1
         |      WHERE n_chars >= lo AND n_chars <= hi),
         |h2 AS (SELECT n_chars AS v, count(*) AS c FROM g GROUP BY 1),
         |tot2 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h2),
         |cum2 AS (SELECT v, CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM h2),
         |th2 AS (SELECT min(CASE WHEN cum*1000 >= n*100 THEN v END) AS lo,
         |               min(CASE WHEN cum*1000 >= n*900 THEN v END) AS hi
         |        FROM cum2, tot2)
         |SELECT doc_id, greatest(th2.lo, least(th2.hi, n_chars)) AS n_chars
         |FROM g, th2 ORDER BY doc_id""".stripMargin),

    // exact decimal second-moment sums reproduce bit-for-bit in any
    // engine; the double products are identical (float x float), the
    // DECIMAL(27,12) cast is deterministic, and decimal addition is
    // order-free
    "embedding_gram" ->
      ("""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |idx AS (SELECT unnest(range(1, 65)) AS i),
         |p AS (SELECT CAST(i.i - 1 AS INT) AS i, CAST(j.i - 1 AS INT) AS j,
         |    CAST(e.v[i.i] * e.v[j.i] AS DECIMAL(27,12)) AS p
         |  FROM e, idx i, idx j WHERE j.i >= i.i)
         |SELECT i, j, CAST(CAST(sum(p) AS DECIMAL(27,12)) AS DOUBLE) AS m2
         |FROM p GROUP BY i, j ORDER BY i, j""".stripMargin),

    // replay of the planted phases: pub.orders = even keys, %7 updated
    // to X1, %11 deleted; pub.custs = snapshot at full current content
    // (the phase-2 MUST_NOT_APPEAR inserts were outside the table set
    // and dropped), %5 updated to Y2
    "add_tables_lifecycle" ->
      ("""SELECT 'pub.orders' AS tbl, o_orderkey AS k,
         |  CASE WHEN o_orderkey % 7 = 0 THEN 'X1'
         |       ELSE o_orderstatus END AS status
         |FROM orders
         |WHERE o_orderkey % 2 = 0 AND o_orderkey % 11 <> 0
         |UNION ALL
         |SELECT 'pub.custs', c_custkey,
         |  CASE WHEN c_custkey % 5 = 0 THEN 'Y2' ELSE c_mktsegment END
         |FROM customer
         |ORDER BY tbl, k""".stripMargin),

    // same exact-literal components; sequential fold == sequential
    // list_dot_product (the cosine-row precedent)
    "pca_project" ->
      ("""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT
         |    list_transform(range(0, 64), i -> 0.125) AS c1,
         |    list_transform(range(0, 64),
         |      i -> CASE WHEN i % 2 = 0 THEN 0.125 ELSE -0.125 END) AS c2)
         |SELECT vec_id,
         |  round(list_dot_product(v, c1), 6) AS p1,
         |  round(list_dot_product(v, c2), 6) AS p2
         |FROM e, c ORDER BY vec_id""".stripMargin),

    // the ridge normal equations replayed exactly: HUGEINT moment
    // sums, the same three Cramer expansions, one double division
    // per weight, then the same left-to-right IEEE scoring order
    "quality_regression" ->
      (s"""WITH f AS (SELECT doc_id,
         |    CAST(length(text) AS HUGEINT) AS x1,
         |    CAST(len($toks) AS HUGEINT) AS x2,
         |    CAST(len(list_filter($toks, t -> list_contains(
         |      ['the', 'a', 'an', 'of', 'to', 'in', 'and'], lower(t))))
         |      AS HUGEINT) AS y
         |  FROM documents),
         |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    sum(x1) AS s1, sum(x2) AS s2,
         |    sum(x1*x1) AS s11, sum(x1*x2) AS s12, sum(x2*x2) AS s22,
         |    sum(y) AS sy, sum(x1*y) AS s1y, sum(x2*y) AS s2y
         |  FROM f),
         |d AS (SELECT
         |    s11 + 2500 AS d11, s22 + 2500 AS d22, * FROM g),
         |w AS (SELECT
         |  CAST(sy*(d11*d22 - s12*s12) - s1*(s1y*d22 - s12*s2y)
         |    + s2*(s1y*s12 - d11*s2y) AS DOUBLE)
         |  / CAST(n*(d11*d22 - s12*s12) - s1*(s1*d22 - s2*s12)
         |    + s2*(s1*s12 - d11*s2) AS DOUBLE) AS w0,
         |  CAST(n*(s1y*d22 - s12*s2y) - sy*(s1*d22 - s2*s12)
         |    + s2*(s1*s2y - s1y*s2) AS DOUBLE)
         |  / CAST(n*(d11*d22 - s12*s12) - s1*(s1*d22 - s2*s12)
         |    + s2*(s1*s12 - d11*s2) AS DOUBLE) AS w1,
         |  CAST(n*(d11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2)
         |    + sy*(s1*s12 - d11*s2) AS DOUBLE)
         |  / CAST(n*(d11*d22 - s12*s12) - s1*(s1*d22 - s2*s12)
         |    + s2*(s1*s12 - d11*s2) AS DOUBLE) AS w2
         |  FROM d)
         |SELECT doc_id, CAST(y AS BIGINT) AS stop_hits,
         |  round(w0 + w1*CAST(x1 AS DOUBLE) + w2*CAST(x2 AS DOUBLE), 6)
         |    AS pred_stop_hits
         |FROM f, w ORDER BY doc_id""".stripMargin),

    // the k smallest distinct 48-bit hashes per group, replayed as a
    // per-group window rank; same estimate formula floored at cents
    "kmv_per_group" ->
      ("""WITH h AS (
         |  SELECT DISTINCT o_orderpriority AS g,
         |    CAST(('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,12))
         |      AS BIGINT) AS h
         |  FROM orders WHERE o_custkey IS NOT NULL),
         |r AS (SELECT g, h,
         |    row_number() OVER (PARTITION BY g ORDER BY h) AS rk
         |  FROM h),
         |s AS (SELECT g, CAST(count(*) AS BIGINT) AS k_eff,
         |    max(h) AS kth
         |  FROM r WHERE rk <= 64 GROUP BY g)
         |SELECT g AS o_orderpriority, k_eff, kth,
         |  CAST(floor((CASE WHEN k_eff < 64 THEN CAST(k_eff AS DOUBLE)
         |    ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
         |      / CAST(kth AS DOUBLE) END) * 100) AS BIGINT)
         |    AS distinct_est_x100
         |FROM s ORDER BY o_orderpriority""".stripMargin),

    // utf8proc NFC == java.text.Normalizer NFC (the Unicode standard
    // pins the bytes): composed chr(233) and decomposed e+chr(769)
    // collapse to one key, plain ASCII stays distinct
    "nfc_dedup_keys" ->
      ("""WITH p AS (SELECT doc_id,
         |    'caf' || CASE WHEN doc_id % 3 = 0 THEN chr(233)
         |      WHEN doc_id % 3 = 1 THEN 'e' || chr(769)
         |      ELSE 'e' END || '-' || source AS raw
         |  FROM documents)
         |SELECT nfc_normalize(raw) AS norm, count(*) AS n,
         |  min(doc_id) AS first_doc
         |FROM p GROUP BY norm ORDER BY norm""".stripMargin),

    // the same seeded uniforms and u^(1/w) priorities, re-ranked as a
    // window (priority DESC, id ASC — the heap's exact tie order)
    "weighted_sample" ->
      (s"""WITH p AS (SELECT doc_id,
         |    pow((CAST(${hex8("'11:'||CAST(doc_id AS VARCHAR)")}
         |           AS DOUBLE) + 1.0) / 4294967296.0,
         |        1.0 / CAST(n_chars AS DOUBLE)) AS pr
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY pr DESC, doc_id) AS INT)
         |      AS draw_rank
         |  FROM p)
         |SELECT doc_id, draw_rank FROM r WHERE draw_rank <= 100
         |ORDER BY draw_rank""".stripMargin),

    // the prefix filter is lossless at θ, so the oracle is the PLAIN
    // all-pairs exact Jaccard at θ=0.1 — same replay as
    // dedup_ngram_jaccard, higher threshold
    "setsim_prefix_join" ->
      (s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 150),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
         |FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.1
         |ORDER BY id_a, id_b""".stripMargin),

    // directed all-pairs containment over distinct shingle sets; the
    // quote rows are the source's token-prefix slice (re-tokenizing
    // the joined prefix equals the slice, both engines)
    "containment_join" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents
         |  WHERE doc_id < 150),
         |d AS (SELECT doc_id, tk FROM d0
         |  UNION ALL
         |  SELECT doc_id + 1000000, tk[1:(len(tk) + 2) // 3] FROM d0),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id <> b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.id = id_a
         |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    // the incremental index's contract is answer-equality with the
    // one-shot containment join over the full corpus — same naive
    // all-pairs oracle by design (the bandIndexUpdate discipline,
    // exact here: no bucket-cap caveats); the micro-batch-GROUPED
    // spelling (updateMany) makes the same promise for ANY
    // grouping of the arrival stream, so it shares the oracle too
    "containment_incremental" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents
         |  WHERE doc_id < 150),
         |d AS (SELECT doc_id, tk FROM d0
         |  UNION ALL
         |  SELECT doc_id + 1000000, tk[1:(len(tk) + 2) // 3] FROM d0),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id <> b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.id = id_a
         |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    // compaction must not disturb the incremental answer: the compact
    // spelling shares the one-shot naive all-pairs oracle verbatim
    "containment_compact" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents
         |  WHERE doc_id < 150),
         |d AS (SELECT doc_id, tk FROM d0
         |  UNION ALL
         |  SELECT doc_id + 1000000, tk[1:(len(tk) + 2) // 3] FROM d0),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id <> b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.id = id_a
         |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    // grouping k arrived batches per lake scan must not change the
    // answer — the shared one-shot all-pairs oracle, verbatim
    "containment_update_many" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents
         |  WHERE doc_id < 150),
         |d AS (SELECT doc_id, tk FROM d0
         |  UNION ALL
         |  SELECT doc_id + 1000000, tk[1:(len(tk) + 2) // 3] FROM d0),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
         |  ELSE [array_to_string(tk, ' ')] END) AS s FROM d),
         |ex AS (SELECT doc_id AS id, unnest(s) AS s FROM sh),
         |sizes AS (SELECT id, count(*) AS n FROM ex GROUP BY id),
         |pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.id <> b.id GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
         |FROM pairs JOIN sizes sa ON sa.id = id_a
         |WHERE CAST(inter AS DOUBLE) / sa.n >= 0.8
         |ORDER BY id_a, id_b""".stripMargin),

    // the rebuild returns the one-shot bucket-join answer over the
    // full (rebuilt) lake at the same planes — oracle shared with the
    // one-shot and incremental spellings
    "embedding_rebuild" -> embedNearDupsSql,

    // three synchronous LPA rounds unrolled: neighbor-label counts,
    // argmax by (cnt DESC, label ASC) — the heap's exact tie order
    "label_propagation" ->
      ("""WITH d AS (SELECT doc_id FROM documents),
         |e0 AS (SELECT doc_id AS src, doc_id - doc_id % 10 AS dst
         |    FROM d WHERE doc_id % 10 <> 0
         |  UNION ALL SELECT doc_id, doc_id - 10 FROM d
         |    WHERE doc_id % 10 = 0 AND doc_id > 0),
         |e AS (SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM e0
         |    UNION ALL SELECT dst, src FROM e0) WHERE src <> dst),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |l0 AS (SELECT node, node AS label FROM n),
         |c1 AS (SELECT e.dst AS n2, l.label, count(*) AS cnt
         |  FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
         |a1 AS (SELECT n2, label, row_number() OVER (
         |  PARTITION BY n2 ORDER BY cnt DESC, label) AS rk FROM c1),
         |l1 AS (SELECT n.node, coalesce(a.label, n.node) AS label FROM n
         |  LEFT JOIN (SELECT n2, label FROM a1 WHERE rk = 1) a
         |  ON a.n2 = n.node),
         |c2 AS (SELECT e.dst AS n2, l.label, count(*) AS cnt
         |  FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
         |a2 AS (SELECT n2, label, row_number() OVER (
         |  PARTITION BY n2 ORDER BY cnt DESC, label) AS rk FROM c2),
         |l2 AS (SELECT n.node, coalesce(a.label, n.node) AS label FROM n
         |  LEFT JOIN (SELECT n2, label FROM a2 WHERE rk = 1) a
         |  ON a.n2 = n.node),
         |c3 AS (SELECT e.dst AS n2, l.label, count(*) AS cnt
         |  FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
         |a3 AS (SELECT n2, label, row_number() OVER (
         |  PARTITION BY n2 ORDER BY cnt DESC, label) AS rk FROM c3),
         |l3 AS (SELECT n.node, coalesce(a.label, n.node) AS label FROM n
         |  LEFT JOIN (SELECT n2, label FROM a3 WHERE rk = 1) a
         |  ON a.n2 = n.node)
         |SELECT node AS doc_id, label FROM l3 ORDER BY doc_id""".stripMargin),

    // exact integer lift: HUGEINT floor-division — no log, no float
    "collocations" ->
      (s"""WITH d AS (SELECT $toks AS tk FROM documents),
         |bi AS (SELECT tk[i+1] AS w1, tk[i+2] AS w2
         |  FROM d, unnest(range(0, len(tk)-1)) AS u(i)
         |  WHERE len(tk) >= 2),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2
         |  HAVING count(*) >= 5),
         |uni AS (SELECT w AS tok, count(*) AS cu FROM
         |  (SELECT unnest(tk) AS w FROM d) GROUP BY 1),
         |n AS (SELECT CAST(sum(cu) AS HUGEINT) AS n FROM uni)
         |SELECT cb.w1, cb.w2, cb.cb,
         |  CAST((CAST(cb.cb AS HUGEINT) * 1000000 * n.n)
         |    // (CAST(u1.cu AS HUGEINT) * CAST(u2.cu AS HUGEINT))
         |    AS BIGINT) AS lift_ppm
         |FROM cb JOIN uni u1 ON u1.tok = cb.w1
         |  JOIN uni u2 ON u2.tok = cb.w2, n
         |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin),

    // two grouped histogram-quantile passes (median, deviation
    // median) under the engine's exact cum*1000 >= n*permille rule
    "grouped_mad_outliers" ->
      ("""WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v, count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |cum AS (SELECT lang, v,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM h),
         |med AS (SELECT lang, min(CASE WHEN cum*1000 >= n*500 THEN v END)
         |    AS med FROM cum GROUP BY lang),
         |dev AS (SELECT d.lang, d.doc_id, CAST(d.n_chars AS BIGINT) AS v,
         |    m.med, abs(CAST(d.n_chars AS BIGINT) - m.med) AS dv
         |  FROM documents d JOIN med m ON m.lang = d.lang),
         |dh AS (SELECT lang, dv, count(*) AS c FROM dev GROUP BY 1, 2),
         |dcum AS (SELECT lang, dv,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY dv) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM dh),
         |mad AS (SELECT lang, min(CASE WHEN cum*1000 >= n*500 THEN dv END)
         |    AS mad FROM dcum GROUP BY lang)
         |SELECT dev.lang, dev.doc_id, dev.v AS n_chars, dev.med, mad.mad
         |FROM dev JOIN mad ON mad.lang = dev.lang
         |WHERE abs(dev.v - dev.med) > 3 * mad.mad
         |ORDER BY dev.lang, dev.doc_id""".stripMargin),

    // first-occurrence election per paragraph md5, ordered rebuild
    "paragraph_dedup" ->
      ("""WITH d AS (SELECT doc_id,
         |    string_split('Subscribe to our newsletter now. ' || text,
         |      '. ') AS ps
         |  FROM documents),
         |p AS (SELECT doc_id, i AS idx, ps[i+1] AS para,
         |    md5(ps[i+1]) AS h
         |  FROM d, unnest(range(0, len(ps))) AS u(i)),
         |f AS (SELECT h, doc_id, idx, row_number() OVER (
         |    PARTITION BY h ORDER BY doc_id, idx) AS rk FROM p),
         |k AS (SELECT p.doc_id, p.idx, p.para FROM p
         |  JOIN f ON f.h = p.h AND f.doc_id = p.doc_id
         |    AND f.idx = p.idx AND f.rk = 1)
         |SELECT doc_id,
         |  string_agg(para, '. ' ORDER BY idx) AS text_dedup
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // identical integer spelling: µs integer division for the age
    // bucket, dyadic 2^(30-k) weights, HUGEINT sum
    "time_decay_score" ->
      ("""WITH m AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx
         |  FROM events),
         |e AS (SELECT user_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    least((m.mx - epoch_us(CAST(ts AS TIMESTAMP)))
         |      // 86400000000, 30) AS k
         |  FROM events, m)
         |SELECT user_id,
         |  CAST(sum(CAST(cents AS HUGEINT) * CAST(pow(2, 30 - k) AS HUGEINT))
         |    AS BIGINT) AS score_scaled,
         |  count(*) AS n_events
         |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),

    // the dedup_canonical cluster replay + a per-cluster quality
    // argmax (n_chars DESC, doc_id ASC)
    "dedup_best_of_cluster" ->
      (s"""WITH RECURSIVE bands AS ($minhashBandsSql),
         |p AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.band_hash = b.band_hash
         |    AND a.doc_id < b.doc_id),
         |sym AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |rr(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT s.dst, rr.lbl FROM rr JOIN sym s ON s.src = rr.node
         |), cc AS (SELECT node, min(lbl) AS cluster_id FROM rr GROUP BY node),
         |mem AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id)
         |    AS cluster_id, CAST(d.n_chars AS BIGINT) AS q
         |  FROM documents d LEFT JOIN cc ON cc.node = d.doc_id),
         |r AS (SELECT cluster_id, doc_id, q, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM mem)
         |SELECT cluster_id, doc_id AS keep_id, q AS keep_quality,
         |  CAST(n_members AS BIGINT) AS n_members
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin),

    // DuckDB's UNION ALL BY NAME null-fills the missing column the
    // same way unionByName(allowMissingColumns) does
    "union_evolve" ->
      ("""SELECT * FROM (
         |  SELECT o_orderkey AS k, o_orderstatus AS status
         |  FROM orders WHERE o_orderkey % 2 = 0
         |  UNION ALL BY NAME
         |  SELECT o_orderkey AS k, o_orderstatus AS status,
         |    o_orderpriority AS priority
         |  FROM orders WHERE o_orderkey % 2 = 1)
         |ORDER BY k""".stripMargin),

    // final lake state after the dynamic overwrite: the refreshed
    // partition carries only its reload rows, others are untouched
    "dynamic_partition_overwrite" ->
      ("""SELECT o_orderkey AS k,
         |  CASE WHEN o_orderpriority = '1-URGENT' THEN 'R'
         |    ELSE o_orderstatus END AS status,
         |  o_orderpriority AS grp
         |FROM orders
         |WHERE o_orderpriority <> '1-URGENT' OR o_orderkey % 3 <> 0
         |ORDER BY k""".stripMargin),

    // same two window passes: gaps-and-islands, then integer µs
    // division from each island's start
    "session_capped" ->
      ("""WITH e AS (SELECT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
         |  FROM events),
         |m AS (SELECT user_id, us, event_id,
         |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
         |      AS prev
         |  FROM e),
         |i AS (SELECT user_id, us, event_id,
         |    CAST(sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
         |      THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)
         |      AS island
         |  FROM m),
         |c AS (SELECT user_id, us, island,
         |    (us - min(us) OVER (PARTITION BY user_id, island))
         |      // 7200000000 AS part
         |  FROM i)
         |SELECT user_id, island, part, count(*) AS n_events,
         |  min(us) AS t_start, max(us) AS t_end
         |FROM c GROUP BY 1, 2, 3 ORDER BY user_id, island, part""".stripMargin),

    // daily-active pairs vote into the 7 report days they cover
    "sliding_unique_users" ->
      ("""WITH d AS (SELECT DISTINCT user_id,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
         |  FROM events),
         |v AS (SELECT DISTINCT user_id, day + i AS report_day
         |  FROM d, unnest(range(0, 7)) AS u(i))
         |SELECT report_day, count(DISTINCT user_id) AS active_users
         |FROM v GROUP BY report_day ORDER BY report_day""".stripMargin),

    // every character re-derived: class-preserving substitution from
    // the same seeded per-position md5 draw
    "mask_preserving" ->
      ("""SELECT c_custkey, c_name,
         |  array_to_string(list_transform(range(0, length(c_name)),
         |    i -> CASE
         |      WHEN substr(c_name, CAST(i+1 AS INT), 1) BETWEEN '0' AND '9'
         |      THEN chr(CAST(48 + CAST(('0x'||substr(md5(
         |        '7:'||CAST(i AS VARCHAR)||':'
         |        ||substr(c_name, CAST(i+1 AS INT), 1)),1,8)) AS BIGINT)
         |        % 10 AS INT))
         |      WHEN substr(c_name, CAST(i+1 AS INT), 1) BETWEEN 'A' AND 'Z'
         |      THEN chr(CAST(65 + CAST(('0x'||substr(md5(
         |        '7:'||CAST(i AS VARCHAR)||':'
         |        ||substr(c_name, CAST(i+1 AS INT), 1)),1,8)) AS BIGINT)
         |        % 26 AS INT))
         |      WHEN substr(c_name, CAST(i+1 AS INT), 1) BETWEEN 'a' AND 'z'
         |      THEN chr(CAST(97 + CAST(('0x'||substr(md5(
         |        '7:'||CAST(i AS VARCHAR)||':'
         |        ||substr(c_name, CAST(i+1 AS INT), 1)),1,8)) AS BIGINT)
         |        % 26 AS INT))
         |      ELSE substr(c_name, CAST(i+1 AS INT), 1) END), '')
         |    AS name_masked
         |FROM customer ORDER BY c_custkey""".stripMargin),

    // purchases only count within 24h of the user's first view
    "funnel_windowed" ->
      ("""WITH e AS (SELECT user_id, event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
         |u AS (SELECT user_id,
         |    min(CASE WHEN event_type = 'view' THEN us END) AS t_view
         |  FROM e GROUP BY user_id),
         |c AS (SELECT DISTINCT e.user_id FROM e JOIN u USING (user_id)
         |  WHERE e.event_type = 'purchase' AND u.t_view IS NOT NULL
         |    AND e.us > u.t_view AND e.us - u.t_view <= 86400000000)
         |SELECT (SELECT count(*) FROM u) AS n_users,
         |  (SELECT count(t_view) FROM u) AS n_view,
         |  (SELECT count(*) FROM c) AS n_converted_24h""".stripMargin),

    // the same seeded u^(1/w) priorities re-ranked per language
    "weighted_sample_grouped" ->
      (s"""WITH p AS (SELECT lang, doc_id,
         |    pow((CAST(${hex8("'13:'||CAST(doc_id AS VARCHAR)")}
         |           AS DOUBLE) + 1.0) / 4294967296.0,
         |        1.0 / CAST(n_chars AS DOUBLE)) AS pr
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT lang, doc_id,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY pr DESC, doc_id) AS INT) AS draw_rank
         |  FROM p)
         |SELECT lang, doc_id, draw_rank FROM r WHERE draw_rank <= 20
         |ORDER BY lang, draw_rank""".stripMargin),

    // domain histogram + cumulative window, floor(cum*1000/n)
    "score_percentiles" ->
      ("""WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
         |  FROM documents GROUP BY 1),
         |cum AS (SELECT v,
         |    CAST(sum(c) OVER (ORDER BY v) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER () AS BIGINT) AS n
         |  FROM h)
         |SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
         |  CAST(cum.cum * 1000 // cum.n AS BIGINT) AS permille
         |FROM documents d JOIN cum ON cum.v = CAST(d.n_chars AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin),

    // the group-partitioned twin: per-language cumulative over the
    // (lang, length) histogram, identical integer arithmetic
    "grouped_percentiles" ->
      ("""WITH h AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
         |    count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |cum AS (SELECT lang, v,
         |    CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
         |  FROM h)
         |SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
         |  CAST(cum.cum * 1000 // cum.n AS BIGINT) AS permille
         |FROM documents d JOIN cum ON cum.lang = d.lang
         |  AND cum.v = CAST(d.n_chars AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin),

    // exact integer lift per (class, token), HUGEINT floor division
    "class_terms" ->
      (s"""WITH tok AS (SELECT lang AS cls, unnest($toks) AS tok
         |  FROM documents),
         |ct AS (SELECT cls, tok, count(*) AS tf_ct FROM tok
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |t AS (SELECT tok, count(*) AS tf_t FROM tok GROUP BY 1),
         |c AS (SELECT cls, count(*) AS n_c FROM tok GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM tok),
         |s AS (SELECT ct.cls, ct.tok, ct.tf_ct,
         |    CAST((CAST(ct.tf_ct AS HUGEINT) * 1000000 * n.n)
         |      // (CAST(c.n_c AS HUGEINT) * CAST(t.tf_t AS HUGEINT))
         |      AS BIGINT) AS lift_ppm
         |  FROM ct JOIN t ON t.tok = ct.tok
         |    JOIN c ON c.cls = ct.cls, n),
         |r AS (SELECT cls, tok, tf_ct, lift_ppm,
         |    CAST(row_number() OVER (PARTITION BY cls
         |      ORDER BY lift_ppm DESC, tok) AS INT) AS rk
         |  FROM s)
         |SELECT cls, tok, tf_ct, lift_ppm, rk FROM r WHERE rk <= 10
         |ORDER BY cls, rk""".stripMargin),

    // same fixed buckets, integral ppm shares, full-outer per bucket
    "histogram_drift" ->
      ("""WITH d AS (SELECT CAST(n_chars AS BIGINT) // 50 AS bucket,
         |    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS side
         |  FROM documents),
         |c AS (SELECT bucket, side, count(*) AS c FROM d GROUP BY 1, 2),
         |t AS (SELECT side, sum(c) AS n FROM c GROUP BY 1),
         |s AS (SELECT bucket, c.side,
         |    CAST(c.c * 1000000 // t.n AS BIGINT) AS share_ppm
         |  FROM c JOIN t ON t.side = c.side),
         |a AS (SELECT bucket, share_ppm AS share_a FROM s WHERE side = 0),
         |b AS (SELECT bucket, share_ppm AS share_b FROM s WHERE side = 1)
         |SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |  coalesce(share_a, 0) AS share_a, coalesce(share_b, 0) AS share_b,
         |  abs(coalesce(share_a, 0) - coalesce(share_b, 0)) AS shift_ppm
         |FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
         |ORDER BY bucket""".stripMargin),

    // same order-independent digest sums per bucket on both replicas
    "merkle_bucket_diff" ->
      (s"""WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS status
         |  FROM orders),
         |r AS (SELECT k, CASE WHEN k % 97 = 0 THEN 'X' ELSE status END
         |    AS status FROM o),
         |da AS (SELECT k % 64 AS bucket,
         |    CAST(sum(CAST(${hex8(
           "length(CAST(k AS VARCHAR))||':'||CAST(k AS VARCHAR)" +
           "||'|'||length(status)||':'||status")}
         |      AS HUGEINT)) AS BIGINT) AS digest,
         |    count(*) AS n
         |  FROM o GROUP BY 1),
         |db AS (SELECT k % 64 AS bucket,
         |    CAST(sum(CAST(${hex8(
           "length(CAST(k AS VARCHAR))||':'||CAST(k AS VARCHAR)" +
           "||'|'||length(status)||':'||status")}
         |      AS HUGEINT)) AS BIGINT) AS digest_b,
         |    count(*) AS n_b
         |  FROM r GROUP BY 1)
         |SELECT coalesce(da.bucket, db.bucket) AS bucket, n, n_b,
         |  digest = digest_b AS bucket_clean
         |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
         |ORDER BY bucket""".stripMargin),
  )

  /** [[dhashBandsSql]] extended through the LSH stage: band explode,
    * hot-bucket cap, in-bucket candidates, exact Hamming — ends at the
    * un-gated `ham(left_id, right_id, hamming)` table. */
  private lazy val dhashPairsSql: String =
    s"""$dhashBandsSql,
       |bx AS (SELECT doc_id, 0 AS bi, b0 AS bv FROM bands
       |  UNION ALL SELECT doc_id, 1, b1 FROM bands
       |  UNION ALL SELECT doc_id, 2, b2 FROM bands
       |  UNION ALL SELECT doc_id, 3, b3 FROM bands),
       |ok AS (SELECT bi, bv FROM bx GROUP BY 1, 2 HAVING count(*) <= 1000),
       |cand AS (SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
       |  FROM bx l JOIN ok ON ok.bi = l.bi AND ok.bv = l.bv
       |  JOIN bx r ON r.bi = l.bi AND r.bv = l.bv AND l.doc_id < r.doc_id),
       |ham AS (SELECT c.left_id, c.right_id,
       |    CAST(bit_count(xor(lb.b0, rb.b0)) + bit_count(xor(lb.b1, rb.b1)) +
       |         bit_count(xor(lb.b2, rb.b2)) + bit_count(xor(lb.b3, rb.b3))
       |      AS INT) AS hamming
       |  FROM cand c JOIN bands lb ON lb.doc_id = c.left_id
       |  JOIN bands rb ON rb.doc_id = c.right_id)""".stripMargin

  /** Shared greedy-BPE CTE chain (ends at `t3`, with `s2` live):
    * char-symbol corpus, then three rounds of top-pair count (count
    * desc, pair asc) and left-to-right non-overlapping fusion —
    * mirrors [[graft.functions.TextAnalysis.bpeTrain]] exactly. */
  private lazy val bpeRoundsSql: String =
    """WITH w AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      |  FROM documents),
      |s0 AS (SELECT array_to_string(list_transform(range(1, length(w) + 1),
      |    j -> substr(w, CAST(j AS INT), 1)), ' ') AS sym FROM w
      |  WHERE length(w) >= 1),
      |p1 AS (SELECT list_extract(l, CAST(i AS INT)) || ' ' ||
      |    list_extract(l, CAST(i AS INT) + 1) AS pair
      |  FROM (SELECT string_split(sym, ' ') AS l,
      |    unnest(range(1, len(string_split(sym, ' ')))) AS i FROM s0)),
      |t1 AS (SELECT pair, count(*) AS cnt FROM p1 GROUP BY 1
      |  ORDER BY cnt DESC, pair LIMIT 1),
      |s1 AS (SELECT replace(sym, (SELECT pair FROM t1),
      |    replace((SELECT pair FROM t1), ' ', '')) AS sym FROM s0),
      |p2 AS (SELECT list_extract(l, CAST(i AS INT)) || ' ' ||
      |    list_extract(l, CAST(i AS INT) + 1) AS pair
      |  FROM (SELECT string_split(sym, ' ') AS l,
      |    unnest(range(1, len(string_split(sym, ' ')))) AS i FROM s1)),
      |t2 AS (SELECT pair, count(*) AS cnt FROM p2 GROUP BY 1
      |  ORDER BY cnt DESC, pair LIMIT 1),
      |s2 AS (SELECT replace(sym, (SELECT pair FROM t2),
      |    replace((SELECT pair FROM t2), ' ', '')) AS sym FROM s1),
      |p3 AS (SELECT list_extract(l, CAST(i AS INT)) || ' ' ||
      |    list_extract(l, CAST(i AS INT) + 1) AS pair
      |  FROM (SELECT string_split(sym, ' ') AS l,
      |    unnest(range(1, len(string_split(sym, ' ')))) AS i FROM s2)),
      |t3 AS (SELECT pair, count(*) AS cnt FROM p3 GROUP BY 1
      |  ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin

  /** Shared dHash CTE chain (ends at the `bands` table): rebuilds the
    * planted 9×8 grayscale images from their md5 chains and derives
    * the four 16-bit dHash bands with pure integer SQL — mirrors
    * [[graft.functions.ImageDedup.dhashBands]] bit for bit. */
  private lazy val dhashBandsSql: String =
    """WITH d AS (SELECT doc_id,
      |    'img:' || CAST(doc_id // 4 AS VARCHAR) AS seed FROM documents),
      |ch AS (SELECT doc_id, i, md5(seed || ':' || CAST(i AS VARCHAR)) AS m
      |  FROM d, (SELECT unnest(range(0, 5)) AS i) ii),
      |px AS (SELECT doc_id, p,
      |    (CAST(('0x' || substr(m, 1 + 2 * (p % 16), 2)) AS INT)
      |      + CASE WHEN p = doc_id % 72 THEN 128 ELSE 0 END) % 256 AS v
      |  FROM ch, (SELECT unnest(range(0, 72)) AS p) pp WHERE p // 16 = i),
      |bits AS (SELECT a.doc_id, ((a.p // 9) * 8 + (a.p % 9)) AS idx,
      |    CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
      |  FROM px a JOIN px b ON b.doc_id = a.doc_id AND b.p = a.p + 1
      |  WHERE a.p % 9 < 8),
      |bands AS (SELECT doc_id,
      |  CAST(sum(CASE WHEN idx // 16 = 0 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b0,
      |  CAST(sum(CASE WHEN idx // 16 = 1 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b1,
      |  CAST(sum(CASE WHEN idx // 16 = 2 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b2,
      |  CAST(sum(CASE WHEN idx // 16 = 3 THEN bit * (1 << (idx % 16)) ELSE 0 END) AS INT) AS b3
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Shared MinHash band SQL (16 affine permutations of one md5-derived
    * base hash per shingle, 3-shingles, 4 bands) — mirrors
    * [[graft.functions.Dedup.permute]]: ((2j+1)*h + (j*B)%P) % P. */
  /** Shared NB scoring CTE chain (ends at the `sc` score table) —
    * used by both the classification and the evaluation oracles. */
  private lazy val nbScoreSql: String =
    s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
       |tok AS (SELECT doc_id, unnest(tk) AS token FROM t),
       |dtf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
       |pri AS (SELECT lang AS cls, count(*) AS n_docs FROM documents GROUP BY 1),
       |tokc AS (SELECT lang AS cls, token, count(*) AS ct
       |         FROM (SELECT lang, unnest(tk) AS token FROM t) GROUP BY 1, 2),
       |ctot AS (SELECT cls, CAST(sum(ct) AS BIGINT) AS cls_tokens
       |         FROM tokc GROUP BY 1),
       |v AS (SELECT count(DISTINCT token) AS v FROM tok),
       |n AS (SELECT count(*) AS n FROM documents),
       |sc AS (
       |  SELECT d.doc_id, c.cls,
       |    round(round(ln(CAST(c.n_docs AS DOUBLE) / n.n), 6)
       |      + CAST(sum(CAST(round(ln((coalesce(tc.ct, 0) + 1.0)
       |          / (ct2.cls_tokens + v.v)), 6) AS DECIMAL(18,6)) * d.tf)
       |        AS DOUBLE), 6) AS score
       |  FROM dtf d CROSS JOIN pri c
       |  LEFT JOIN tokc tc ON tc.cls = c.cls AND tc.token = d.token
       |  JOIN ctot ct2 ON ct2.cls = c.cls
       |  CROSS JOIN v CROSS JOIN n
       |  GROUP BY d.doc_id, c.cls, c.n_docs, ct2.cls_tokens, v.v, n.n
       |)""".stripMargin

  private lazy val minhashBandsSql: String =
    s"""SELECT doc_id, CAST(j AS INTEGER) AS band,
       |  md5(array_to_string(sig[j*4+1:j*4+4], ',')) AS band_hash
       |FROM (
       |  SELECT doc_id, list_transform(range(0,16), j ->
       |    list_min(list_transform(sh, s ->
       |      ((2*j+1) * CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)
       |        + (j*2654435761) % 4294967311) % 4294967311))) AS sig
       |  FROM (
       |    SELECT doc_id, CASE WHEN len(tk) >= 3
       |      THEN list_transform(range(0, len(tk)-2), i -> array_to_string(tk[i+1:i+3], ' '))
       |      ELSE [array_to_string(tk, ' ')] END AS sh
       |    FROM (SELECT doc_id, $toks AS tk FROM documents)
       |  )
       |), (SELECT unnest(range(0,4)) AS j)""".stripMargin

  /** Sign-LSH bucket from `nPlanes` md5-seeded hyperplanes over 64 dims. */
  private def lshBucketSql(table: String, nPlanes: Int = 8): String = {
    val planes = (0 until nPlanes).map { j =>
      val comp = s"list_transform(range(0,64), d -> " +
        s"(CAST(('0x'||substr(md5('hp'||CAST($j AS VARCHAR)||'_'||CAST(d AS VARCHAR)),1,8)) AS BIGINT) % 2000) / 1000.0 - 1.0)"
      s"(CASE WHEN list_dot_product(v, $comp) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""SELECT vec_id, CAST($planes AS BIGINT) AS bucket
       |FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $table)""".stripMargin
  }
}
