package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language id and
  * document fingerprinting. All pure Column expressions (whole-stage
  * codegen, no UDFs), so they run at scan speed and scale linearly.
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Evaluate `arr` ONCE per row and hand it to `f` as a bound lambda
    * variable. Referencing a raw expression inside a higher-order
    * function's lambda inlines that expression into the per-element
    * loop — for a tokenization split that is a full re-split of the
    * document PER ELEMENT, O(elements x chars) per row (the
    * doc_repetition bench query paid exactly this). Wrapping the array
    * in a one-element array and going through `transform` binds it as
    * a NamedLambdaVariable instead: one evaluation, loop reads the
    * bound value. */
  private def bindOnce(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Adjacent-token bigrams as space-joined strings, via the native
    * shingle expression ([[org.apache.spark.sql.graft.ShinglesExpr]])
    * — one byte pass per doc where the transform/element_at lambda
    * tree ran interpreted per bigram (the shingle lesson; tokens
    * are space-free by construction, so the joined string is a
    * lossless pair encoding and `substring_index(bg, ' ', ±1)`
    * recovers w1/w2 exactly, empty edge tokens included). Callers
    * must guard size(tokens) >= 2 themselves — below that the
    * expression returns its whole-doc fallback shingle, not an empty
    * array. */
  private[functions] def bigrams(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(
      org.apache.spark.sql.graft.ShinglesExpr(
        org.apache.spark.sql.graft.bridge.expression(text), 2))

  /** BPE-ish subword-boundary count: word chunks plus standalone
    * punctuation, the usual pre-tokenizer regex shape. */
  val BpePattern = "[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(BpePattern), lit(0)))

  /** Total characters across tokens (excludes whitespace). */
  def tokenChars(c: Column): Column =
    aggregate(transform(tokens(c), t => length(t)), lit(0), (a, x) => a + x)

  /** Mean token length; single double division keeps it deterministic. */
  def avgTokenLen(c: Column): Column =
    tokenChars(c).cast(DoubleType) / tokenCount(c)

  /** Stopword list used for quality/language scoring (English core). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "for")

  def stopwordCount(c: Column, words: Seq[String] = Stopwords): Column =
    size(filter(tokens(c), t => t.isin(words.map(lit): _*)))

  def stopwordRatio(c: Column): Column =
    stopwordCount(c).cast(DoubleType) / tokenCount(c)

  def punctRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9_\\s]"), lit(0)))
      .cast(DoubleType) / length(c)

  /** Composite quality score in [0,1]: length sweet-spot, some stopwords,
    * not mostly punctuation. A heuristic in the spirit of C4/Gopher
    * filtering rules (public corpus-cleaning literature). */
  def qualityScore(c: Column): Column = {
    val lenOk = when(tokenCount(c).between(5, 1000), lit(0.4)).otherwise(lit(0.0))
    val stopOk = when(stopwordCount(c) > 0, lit(0.3)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(c) < 0.2, lit(0.3)).otherwise(lit(0.0))
    lenOk + stopOk + punctOk
  }

  /** Tiny per-language marker vocabularies for n-gram-free language id.
    * Real pipelines plug fastText-style models in the same operator shape;
    * the scoring scaffold (per-language token hit counts, argmax with a
    * deterministic tiebreak) is the part that matters at scale. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "les", "est"))

  def langScore(c: Column, lang: String): Column =
    size(filter(tokens(c), t => t.isin(LangMarkers(lang).map(lit): _*)))

  /** Predicted language: argmax of marker hits, ties broken by language
    * code order, "und" (undetermined) when nothing matches. */
  def langId(c: Column): Column = {
    val langs = LangMarkers.keys.toSeq.sorted
    val scored = langs.map(l => struct(langScore(c, l).as("s"), lit(l).as("l")))
    // array_max on (score, lang) structs: lexicographic max = top score,
    // and the *highest* lang code on ties — flip lang for determinism the
    // other way is not needed, ties pick max code; document as such.
    val best = array_max(array(scored: _*))
    when(best.getField("s") > 0, best.getField("l")).otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of case-folded, whitespace-collapsed text —
    * the canonical-form hash used for exact dedup. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  /** Rolling (polynomial) fingerprint over tokens: order-sensitive, cheap
    * to compare, stays in [0, p). acc = (acc*31 + h(tok)) mod p. */
  def rollingFingerprint(c: Column, p: Long = 1000000007L): Column =
    aggregate(
      transform(tokens(c), t => Hashing.hex8ToLong(t)),
      lit(0L),
      (acc, h) => pmod(acc * 31 + h, lit(p)))

  /** Per-document stats frame used by the `text_stats` query. */
  def stats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val c = col(textCol)
    df.select(col(idCol),
      tokenCount(c).as("n_tokens"),
      bpeTokenCount(c).as("n_bpe_tokens"),
      length(c).as("n_chars"),
      avgTokenLen(c).as("avg_token_len"),
      stopwordCount(c).as("n_stopwords"),
      fingerprint(c).as("fp"))
  }
  /** PII redaction patterns, applied in order. RE2-compatible (no
    * lookarounds, no backrefs) so the identical pattern runs in Spark,
    * DuckDB, or any RE2-family engine. Order matters: an email's local
    * part can contain digit runs (match email first), an IPv4 is four
    * short digit groups (redact before the bare-digit-run rule), and
    * the long-digit-run rule comes last as the catch-all for account
    * numbers / IDs. The public corpus-cleaning recipe shape (C4-style
    * scrubbing), kept deliberately conservative: false negatives over
    * mangled prose. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\+\\d{7,15}" -> "<PHONE>",
    "\\b\\d{3}[ -]\\d{3}[ -]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{9,}\\b" -> "<ID>")

  /** Redact emails / IPv4s / phone numbers / long digit runs. A chain
    * of codegen'd regexp_replace calls — scan-speed, shuffle-free. */
  def piiScrub(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Gopher-style repetition signals per document (public corpus-quality
    * literature: repetitious documents are low-value training data):
    * unique-token ratio, duplicate-bigram ratio, and the share of the
    * single most frequent token. Two LINEAR passes joined on doc id:
    * the array ratios are per-row expressions computed once per doc,
    * and the top-token share is an explode + two map-side-combined
    * aggregations. Deliberately NOT fused into one pass: carrying the
    * array expressions through the explode (e.g. as grouping keys)
    * makes Catalyst re-evaluate them per exploded TOKEN — an
    * O(tokens^2)-per-doc blowup, measured 40x slower at 500-token docs
    * — while the keyed join costs one balanced doc-id shuffle. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val c = col(textCol)
    // tokenize once per row (bindOnce): the bigram lambda would
    // otherwise re-split the whole document per bigram index
    val stats = bindOnce(tokens(c)) { t =>
      val n = size(t)
      val bigrams = when(n >= 2, TextAnalysis.bigrams(c)).otherwise(array())
      struct(
        n.as("n_tokens"),
        (size(array_distinct(t)).cast(DoubleType) / n)
          .as("uniq_token_ratio"),
        when(n > 1,
            lit(1.0) - size(array_distinct(bigrams)).cast(DoubleType) / (n - 1))
          .otherwise(lit(0.0)).as("dup_bigram_ratio"))
    }
    val scalars = df.select(col(idCol), stats.as("__st"))
      .select(col(idCol), col("__st.n_tokens").as("n_tokens"),
        col("__st.uniq_token_ratio").as("uniq_token_ratio"),
        col("__st.dup_bigram_ratio").as("dup_bigram_ratio"))
    val top = df.select(col(idCol), explode(tokens(c)).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max(col("__c")).as("__top"))
    scalars.join(top, Seq(idCol))
      .withColumn("top_token_ratio",
        col("__top").cast(DoubleType) / col("n_tokens"))
      .drop("__top")
  }

  /** Corpus vocabulary with frequencies — the classic distributed word
    * count: explode + one aggregation on the token key (partial
    * aggregation combines per partition before the shuffle, so skewed
    * common tokens reduce map-side). Deterministic order (freq desc,
    * token asc). */
  def vocab(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("token"))

  /** Overlapping token-window chunks for training-data preparation:
    * stride = chunkTokens - overlap; chunk i covers tokens
    * [i*stride, i*stride + chunkTokens). Short documents yield one
    * chunk. Pure per-row expressions — linear, shuffle-free, identical
    * in any engine (integer arithmetic only). */
  def chunks(c: Column, chunkTokens: Int, overlap: Int): Column = {
    require(overlap < chunkTokens, "overlap must be smaller than the chunk")
    val stride = chunkTokens - overlap
    bindOnce(tokens(c)) { t =>
      val n = size(t)
      val nChunks = greatest(lit(1),
        floor((n - overlap + stride - 1) / lit(stride)).cast("int"))
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(t, i * stride + 1, lit(chunkTokens))))
    }
  }

  /** GPT-style sequence-packing offsets: documents concatenate in id
    * order and chunk into fixed `seqTokens` training sequences; a doc
    * may straddle a pack boundary — that IS the public packing recipe
    * (concat-and-chunk), not an error. Emits each doc's global token
    * offset and first/last pack ids.
    *
    * The global prefix-sum is DISTRIBUTED: docs bucket by contiguous
    * id ranges (`idsPerBucket` ids each), the within-bucket cumulative
    * runs in a partitioned window (balanced — each bucket is its own
    * partition), and bucket base offsets come from a cumulative pass
    * over the bucket-totals frame, which is corpus/idsPerBucket rows —
    * domain-sized, like [[Quantiles]]' histogram. No corpus-wide
    * single-partition window anywhere (compare Collapse.tagTransactions,
    * the same discipline for transaction ranks). */
  def packSequences(df: DataFrame, textCol: String, idCol: String,
                    seqTokens: Int, idsPerBucket: Long = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"),
      expr(s"CAST($idCol AS BIGINT) DIV $idsPerBucket").as("__b"))
    val local = base.withColumn("__local",
      coalesce(sum(col("n_tokens")).over(
        Window.partitionBy("__b").orderBy(idCol)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = base.groupBy("__b")
      .agg(sum(col("n_tokens")).as("__bt"))
      .withColumn("__base",
        // bucket-totals frame: corpus/idsPerBucket rows — the explicit
        // single partition is the bounded second level, not a corpus
        // sort (and keeps WindowExec from warning)
        coalesce(sum(col("__bt")).over(
          Window.partitionBy(WindowKeys.onePartition(col("__b"))).orderBy("__b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__base")
    // no broadcast hint: the offsets frame is corpus/idsPerBucket rows
    // — NOT feature-sized (10^11 docs → a multi-GB build). Size-based
    // planning broadcasts it while it fits and AQE falls back to a
    // bucket-keyed shuffle join past the threshold.
    local.join(offsets, Seq("__b"))
      .withColumn("token_offset", col("__base") + col("__local"))
      .select(col(idCol), col("n_tokens"), col("token_offset"),
        expr(s"token_offset DIV $seqTokens").as("pack_first"),
        expr(s"(token_offset + n_tokens - 1) DIV $seqTokens").as("pack_last"))
  }

  /** Per-pack fragmentation report over [[packSequences]] — the
    * statistic that guides choosing `seqTokens` and doc ordering for
    * attention-mask packing: how many documents land in each training
    * sequence, how many START there vs straddle in from the previous
    * pack, and the pack's token fill (== seqTokens everywhere but the
    * final partial pack, by the concat-and-chunk construction — the
    * report's value is the DOC-BOUNDARY profile, not fill waste).
    *
    * Scale shape: [[packSequences]]' distributed prefix sum, then each
    * doc explodes to its (pack_first..pack_last) span — output size is
    * corpus + straddle count, never tokens — and one pack-keyed
    * aggregate. All integer arithmetic, engine-exact. Zero-token docs
    * span no pack and are excluded. */
  def packFragmentation(df: DataFrame, textCol: String, idCol: String,
                        seqTokens: Int, idsPerBucket: Long = 4096)
      : DataFrame = {
    val packed = packSequences(df, textCol, idCol, seqTokens, idsPerBucket)
      .filter(col("n_tokens") > 0)
    packed.select(col(idCol), col("n_tokens"), col("token_offset"),
        explode(sequence(col("pack_first"), col("pack_last"))).as("pack_id"))
      .withColumn("__tok",
        least(col("token_offset") + col("n_tokens"),
          (col("pack_id") + 1) * seqTokens)
          - greatest(col("token_offset"), col("pack_id") * seqTokens))
      .withColumn("__starts",
        when(col("token_offset") >= col("pack_id") * seqTokens, 1L)
          .otherwise(0L))
      .groupBy("pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__starts")).as("n_starts"),
        (count(lit(1)) - sum(col("__starts"))).as("n_straddle_in"),
        sum(col("__tok")).as("n_tokens"))
  }

  /** First-fit greedy bin packing WITHOUT document straddling — the
    * SFT-style recipe where a document must not split across training
    * sequences: docs pack in id order, a new bin opens when the
    * current one cannot fit the next doc, oversize docs (> seqTokens)
    * sit in a bin alone (both falls out of one rule: new bin iff
    * fill + n > seqTokens). Emits (id, n_tokens, bin_id) with
    * GLOBALLY dense bin ids.
    *
    * Exact greedy is a corpus-sequential scan, so the distributed
    * spelling restarts bins at contiguous-id bucket boundaries
    * (`idsPerBucket` docs each): waste is bounded by ONE partial bin
    * per bucket, and each bucket's fold runs as a bounded higher-order
    * `aggregate` over its collected doc list. The fold's output array
    * rebuilds per element, so per-bucket cost is O(idsPerBucket²)
    * element copies — the 512 default keeps that at ~130k copies per
    * bucket (sub-millisecond) while restart waste stays ≤ 1 bin per
    * 512 docs (<0.5% at ~1 doc/bin); total work is O(N·idsPerBucket),
    * linear in the corpus for the fixed knob (measured: 10⁶ docs in
    * seconds). Global bin ids come from the same
    * two-level base-offset discipline as [[packSequences]]: per-bucket
    * bin counts cumulate over the bucket-totals frame. Zero-token
    * docs are excluded (they occupy no sequence). All integers,
    * engine-exact; the oracle replays the greedy fold as a recursive
    * CTE. */
  def packBinsGreedy(df: DataFrame, textCol: String, idCol: String,
                     seqTokens: Int, idsPerBucket: Long = 512)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("__id"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"),
        expr(s"CAST($idCol AS BIGINT) DIV $idsPerBucket").as("__b"))
      .filter(col("n_tokens") > 0)
    val outType = "array<struct<id:bigint,n:bigint,bin:bigint>>"
    // fill starts effectively infinite so the first doc opens bin 0
    val zero = struct(lit(-1L).as("bin"),
      lit(Long.MaxValue / 4).as("fill"),
      array().cast(outType).as("out"))
    val folded = base.groupBy("__b")
      .agg(sort_array(collect_list(struct(col("__id"), col("n_tokens"))))
        .as("__docs"))
      .withColumn("__packed", aggregate(col("__docs"), zero, (acc, x) => {
        val n = x.getField("n_tokens")
        val opens = acc.getField("fill") + n > seqTokens
        val bin = when(opens, acc.getField("bin") + 1)
          .otherwise(acc.getField("bin"))
        struct(bin.as("bin"),
          when(opens, n).otherwise(acc.getField("fill") + n).as("fill"),
          concat(acc.getField("out"),
            array(struct(x.getField("__id").as("id"), n.as("n"),
              bin.as("bin")))).as("out"))
      }))
      .select(col("__b"), col("__packed.out").as("__out"),
        (col("__packed.bin") + 1).as("__bins"))
    // two-level dense global bin ids: bucket base = bins in earlier
    // buckets (bucket-totals frame — planning-sized)
    val bases = folded.select(col("__b"), col("__bins"))
      .withColumn("__base", coalesce(sum("__bins").over(
        Window.partitionBy(WindowKeys.onePartition(col("__b"))).orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__b", "__base")
    // un-hinted for the same reason as packSequences' offsets join:
    // bases is corpus/bucket-sized, not feature-sized
    folded.select(col("__b"), explode(col("__out")).as("__e"))
      .join(bases, Seq("__b"))
      .select(col("__e.id").as(idCol), col("__e.n").as("n_tokens"),
        (col("__base") + col("__e.bin")).as("bin_id"))
  }

  /** Corpus-weighted keywords (tf-idf): per-doc term frequency, corpus
    * document frequency from one token-keyed aggregation, top-`k`
    * keywords per doc. The RANKING keys are integers — tf desc, df asc
    * (rarer wins), then token — so every engine agrees exactly; the
    * float tf·ln(N/df) score is reported (rounded) but never sorted
    * on. Two balanced shuffles (doc-token, then token) plus a
    * broadcast of the one-row corpus count.
    *
    * EAGER by contract (the reuse fix): construction materializes the
    * per-doc tf table — a Spark job runs at call time; streaming
    * inputs are unsupported ([[Materialize]] has the policy). */
  def tfidfKeywords(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // eager checkpoint: tf feeds both the df roll-up
    // and the scoring join; exchange reuse never deduplicates the two
    // branches, so the corpus explode ran twice (measured 3 scans /
    // 2 explodes). The per-doc tf table is the materialization a real
    // keyword pipeline keeps.
    // per-doc×term = corpus-sized: Materialize.corpus carries the
    // durability policy (localCheckpoint vs the checkpointDir knob)
    val tf = Materialize.corpus(
      df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
        .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(dfreq, Seq("token")).crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Distributed BM25 top-k retrieval — full-text ranked search over
    * the corpus (Robertson/Sparck-Jones BM25, the Lucene-default
    * scoring): score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)) with idf(t) =
    * ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape: the query set's vocabulary is broadcast and the
    * corpus token stream is semi-joined against it BEFORE the tf
    * aggregation, so the only shuffle over corpus-sized data carries
    * just the rows matching query terms (at 100 TB the non-matching
    * ~99% never leaves the map side). Document length rides along from
    * the pre-explode `size()`, df/corpus stats are query-vocabulary- /
    * one-row-sized broadcasts, and top-k resolves per query partition.
    * Cross-engine determinism: per-term contributions are rounded then
    * accumulated as DECIMAL(18,6) (order-independent sums — the
    * [[bigramLmScore]] discipline) and ranking ties break on doc id.
    * EAGER by contract: construction materializes the query-vocab tf
    * frame (a Spark job at call time; no streaming inputs —
    * [[Materialize]]). */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)],
               textCol: String, idCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queries.toDF("query_id", "qtext")
    val qterms = q.select(col("query_id"),
      explode(tokens(col("qtext"))).as("token")).distinct()
    val vocab = qterms.select("token").distinct()
    val docTok = docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .select(col(idCol), size(col("__t")).as("dl"),
        explode(col("__t")).as("token"))
    // prune to the query vocabulary BEFORE the shuffle; eager
    // checkpoint: tf is query-vocabulary-bounded and
    // feeds both the df roll-up and the scoring join — without it the
    // corpus token stream re-runs per consumer (exchange reuse never
    // fires across the re-aliased branches)
    val tf = Materialize.corpus(docTok.join(broadcast(vocab), Seq("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl")))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tokens(col(textCol)))).as("total_tokens"))
    // expression shapes mirror the oracle SQL token-for-token: IEEE
    // +,·,/ are exactly rounded, so identical association ⇒ identical
    // doubles; only ln is library-rounded (same 1-ulp exposure the
    // corpus scoring family already accepts)
    val contrib = tf.join(broadcast(dfreq), Seq("token"))
      .join(broadcast(qterms), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("__c", round(
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
        (col("tf") * (lit(1.2) + lit(1.0)) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
            lit(0.75) * col("dl") * col("n_docs") /
              col("total_tokens").cast("double")))), 6)
        .cast("decimal(18,6)"))
    val scores = contrib.groupBy(col("query_id"), col(idCol))
      .agg(sum(col("__c")).cast("decimal(18,6)").as("__score"))
    // rank via the native bounded-heap top-k aggregate on the double
    // rendering: DECIMAL(18,6)→double is order-preserving and
    // injective at BM25 magnitudes (|v|·1e6 ≪ 2^53), so ranking and
    // ties are identical to ordering on the exact decimal
    Similarity.rankTopK(
      scores.select(col("query_id"),
        col(idCol).as("neighbor_id"),
        col("__score").cast("double").as("score")),
      k)
      .select(col("query_id"), col("neighbor_id").as(idCol),
        col("score"), col("rank"))
  }

  /** Corpus-trained bigram language-model score — the CCNet-style
    * perplexity quality filter from the public corpus-curation
    * literature (docs whose token transitions are improbable under a
    * model trained on the corpus itself are gibberish/boilerplate
    * candidates). Add-one smoothing over the corpus vocabulary:
    * lp(w1,w2) = ln((c(w1,w2)+1) / (c(w1)+V)); the reported score is
    * the tf-weighted mean log-prob of the doc's bigrams.
    *
    * Scale shape: model "training" is two map-side-combined counting
    * aggregations (bigram, unigram) — the classic distributed word
    * count, never a driver-side model. Scoring joins the per-doc
    * bigram-tf frame against the count tables on the bigram/unigram
    * key: balanced hash shuffles, and the count side carries one row
    * per key so hot bigrams probe without exploding. The per-bigram
    * log-prob is rounded then accumulated as DECIMAL(18,6)·tf, so the
    * sum is order-independent and engines agree bit-for-bit (double
    * summation order is the classic cross-engine mismatch trap —
    * compare the DECIMAL discipline in the join oracles). Only the
    * one-row vocabulary size crosses stages, as a broadcast. */
  /** Code-vs-prose detection — the corpus-separation heuristic from
    * the public curation pipelines (route code to a code subset, keep
    * prose clean): structural-symbol density, indented-line share, and
    * programming-keyword hits. ALL-INTEGER outputs (basis points and
    * counts), so any engine reproduces the gate exactly; pure
    * scan-speed expressions, no shuffle. */
  /** Planted snippet for the code-detection oracle row (shared so the
    * SQL literal is generated from the same string). */
  val CodeSnippet: String =
    "\ndef f(x):\n  return g(x);\nclass A {\n  public void h() { int y = (1<2); }\n}"

  def codeSignals(df: DataFrame, textCol: String,
                  idCol: String): DataFrame =
    df.select(col(idCol), col(textCol).as("__t"))
      .withColumn("__len", greatest(length(col("__t")), lit(1)).cast("long"))
      .withColumn("__sym",
        length(regexp_replace(col("__t"), "[^{}\\[\\]();=<>]", ""))
          .cast("long"))
      .withColumn("__lines", split(col("__t"), "\n"))
      .withColumn("__ind",
        size(filter(col("__lines"), l => l.rlike("^(  |\\t)"))).cast("long"))
      .withColumn("symbol_bp", expr("(__sym * 10000) div __len"))
      .withColumn("indent_bp", expr("(__ind * 10000) div size(__lines)"))
      .withColumn("kw_hits", size(regexp_extract_all(col("__t"),
        lit("\\b(def|class|return|import|const|function|public|void|struct|fn)\\b"),
        lit(0))).cast("long"))
      .withColumn("is_code",
        col("symbol_bp") >= 400 ||
          (col("kw_hits") >= 3 && col("symbol_bp") >= 150) ||
          col("indent_bp") >= 3000)
      .select(idCol, "symbol_bp", "indent_bp", "kw_hits", "is_code")

  // ---------------- BPE tokenizer training ----------------

  /** A corpus as BPE symbol strings: one row per DISTINCT word with
    * its occurrence count, the word's characters joined by single
    * spaces (the classic BPE working form — a merge rewrites `a b` →
    * `ab` in place). BPE is word-identity-based: every occurrence of a
    * word tokenizes identically, so the merge-rewrite chain and the
    * pair statistics run over the VOCABULARY (Zipf: orders of
    * magnitude below the occurrence count) with `__wc` carrying each
    * word's weight — value-identical to the per-occurrence spelling
    * (a weighted sum over distinct words IS the occurrence count),
    * measured 16x at fresh-sf10 where the occurrence frame made
    * bpe_apply the worst-ratio bench row. One extra word-keyed
    * aggregation buys occurrence-scale → vocab-scale CPU for the
    * whole merge chain. */
  private def symbolFrame(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 1)
      .groupBy("__w").agg(count(lit(1)).as("__wc"))
      .select(concat_ws(" ", split(col("__w"), "")).as("sym"), col("__wc"))

  /** Adjacent-symbol-pair counts of a symbol frame, occurrence-weighted
    * — the statistic a BPE trainer maximizes each round. Pure explode →
    * map-side-combined sum; the aggregate is pair-vocabulary-sized,
    * never corpus-sized. */
  private def pairCounts(syms: DataFrame): DataFrame = {
    val parts = split(col("sym"), " ")
    val pairs = bindOnce(parts)(a =>
      when(size(a) >= 2,
        transform(sequence(lit(0), size(a) - 2),
          i => concat_ws(" ", element_at(a, i + 1), element_at(a, i + 2))))
        .otherwise(array().cast("array<string>")))
    syms.select(explode(pairs).as("pair"), col("__wc"))
      .groupBy("pair").agg(sum("__wc").as("cnt"))
  }

  /** Top-k adjacent character-pair counts over the corpus — BPE
    * iteration zero, and the statistic behind vocabulary sizing. Tie
    * ranks break on the pair string so engines agree. The sort runs on
    * the aggregated pair table (≤ |alphabet|² rows). */
  def bpePairStats(df: DataFrame, textCol: String, k: Int = 50): DataFrame =
    pairCounts(symbolFrame(df, textCol))
      .orderBy(col("cnt").desc, col("pair")).limit(k)

  /** Greedy BPE training (Sennrich et al. 2016): `merges` rounds, each
    * taking the corpus-wide most-frequent adjacent symbol pair (ties →
    * lexicographic) and fusing it everywhere. Returns one row per
    * round: (round, pair, cnt).
    *
    * Scale shape: each round is one pair-count aggregation (map-side
    * combined, pair-vocabulary-sized result) + a pure-projection
    * rewrite; only the single winning pair crosses the driver, as a
    * broadcast literal for the next round's `replace`. The symbol
    * frame is cached between rounds — rounds are inherently sequential
    * (round n+1's counts depend on round n's merge), exactly like the
    * connected-components fixpoint. Production trainers run on a
    * corpus SAMPLE (the statistic converges long before 100 TB);
    * sample upstream with [[graft.functions.Sampling]]. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var syms = symbolFrame(df, textCol).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (round <- 1 to merges) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        out += ((round, pair, cnt))
        syms = syms.select(replace(col("sym"), lit(pair),
            lit(pair.replace(" ", ""))).as("sym"), col("__wc"))
          .localCheckpoint()
      }
    }
    out.toSeq.toDF("round", "pair", "cnt")
  }

  /** Apply a learned merge list: fuse each pair corpus-wide in
    * training order (order matters — later merges build on earlier
    * fusions), then explode the symbol stream to tokens with counts.
    * Pure projections per merge; the count is the only shuffle. */
  def bpeApply(df: DataFrame, textCol: String,
               merges: Seq[String]): DataFrame = {
    val syms = merges.foldLeft(symbolFrame(df, textCol)) { (acc, pair) =>
      acc.select(replace(col("sym"), lit(pair),
        lit(pair.replace(" ", ""))).as("sym"), col("__wc"))
    }
    syms.select(explode(split(col("sym"), " ")).as("token"), col("__wc"))
      .groupBy("token").agg(sum("__wc").as("cnt"))
  }

  /** Collocation mining by LIFT — PMI's argument without its log:
    * `lift(w1,w2) = P(w1 w2) / (P(w1)·P(w2)) = cb·N / (cu1·cu2)`.
    * Ranking by lift IS ranking by PMI (log is monotone), and the
    * integer spelling `floor(cb·1e6·N / (cu1·cu2))` is EXACT decimal
    * arithmetic both engines replay bit-identically — no libm log in
    * the comparison path (the repo's integer-score discipline; the
    * bigram LM keeps its log because probabilities must add).
    *
    * Scale shape: bigram + unigram counts are map-side-combined
    * explode-aggregates; two token-keyed joins attach unigram counts;
    * N is a broadcast scalar; minCount prunes the long tail BEFORE
    * the joins. EAGER by contract: the shared vocab-count frames
    * materialize at call time (no streaming inputs — [[Materialize]]). */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Long = 5, topK: Int = 50): DataFrame = {
    val t = tokens(col(textCol))
    val bi = df.filter(size(t) >= 2)
      .select(explode(bigrams(col(textCol))).as("__bg"))
      .groupBy(substring_index(col("__bg"), " ", 1).as("w1"),
        substring_index(col("__bg"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)
    // eager checkpoint: uni feeds the corpus total
    // and BOTH count-attach joins — vocab-sized, and without it the
    // token explode re-runs per consumer (exchange reuse never fires)
    val uni = df.select(explode(t).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu")).localCheckpoint(true)
    val n = uni.agg(sum(col("cu")).as("__n"))
    val dec = "decimal(38,0)"
    bi.join(uni.select(col("w").as("w1"), col("cu").as("cu1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"))
      .crossJoin(broadcast(n))
      // integral div, not round-then-floor: Spark's decimal '/' rounds
      // the quotient at result scale, which can bump past the integer
      // boundary DuckDB's floor-division never crosses
      .withColumn("__num",
        col("cb").cast(dec) * lit(1000000L) * col("__n").cast(dec))
      .withColumn("__den", col("cu1").cast(dec) * col("cu2").cast(dec))
      .withColumn("lift_ppm", expr("CAST((__num div __den) AS BIGINT)"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
      .select("w1", "w2", "cb", "lift_ppm")
  }

  /** Characteristic terms per class (the c-TF-IDF idea of
    * class-based topic description, integer-lift flavor): how
    * over-represented is token t in class c vs the corpus —
    * `lift = P(t|c) / P(t) = (tf_ct · N) / (n_c · tf_t)`, spelled
    * `floor(tf_ct·1e6·N / (n_c·tf_t))` in exact DECIMAL integer
    * division (the [[collocations]] discipline — rank equals the
    * log-ratio rank without a libm log in the comparison path).
    * Returns each class's top-k terms by (lift DESC, token ASC).
    *
    * Scale shape: one (class, token) count aggregate (map-side
    * combined), token- and class-keyed count joins, a broadcast
    * total, and a per-class bounded window over candidates already
    * reduced to (class × vocab) — never row-level data. EAGER by
    * contract: the (class, token) count frame materializes at call
    * time (no streaming inputs — [[Materialize]]). */
  def classTerms(df: DataFrame, textCol: String, classCol: String,
                 minCount: Long = 5, topK: Int = 10): DataFrame = {
    val tok = df.select(col(classCol).as("cls"),
      explode(tokens(col(textCol))).as("tok"))
    // ONE corpus explode: tf_t, n_c and N are pure
    // integer roll-ups of the (class, token) count frame, which is
    // class×vocab-bounded — previously all four consumers re-ran the
    // corpus explode (measured 4 scans / 4 explodes; exchange reuse
    // never fires across re-aliased branches). minCount filters AFTER
    // the shared frame so the roll-ups still see the full counts.
    val ctAll = tok.groupBy("cls", "tok").agg(count(lit(1)).as("tf_ct"))
      .localCheckpoint(true)
    val tfCt = ctAll.filter(col("tf_ct") >= minCount)
    val tfT = ctAll.groupBy("tok").agg(sum("tf_ct").as("tf_t"))
    val nC = ctAll.groupBy("cls").agg(sum("tf_ct").as("n_c"))
    val n = ctAll.agg(sum("tf_ct").as("__n"))
    val dec = "decimal(38,0)"
    val scored = tfCt.join(tfT, "tok").join(nC, "cls")
      .crossJoin(broadcast(n))
      .withColumn("__num",
        col("tf_ct").cast(dec) * lit(1000000L) * col("__n").cast(dec))
      .withColumn("__den", col("n_c").cast(dec) * col("tf_t").cast(dec))
      .withColumn("lift_ppm", expr("CAST((__num div __den) AS BIGINT)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cls").orderBy(col("lift_ppm").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= topK)
      .select(col("cls"), col("tok"), col("tf_ct"), col("lift_ppm"),
        col("rk"))
  }

  def bigramLmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = tokens(col(textCol))
    val docBi = df.filter(size(t) >= 2)
      .select(col(idCol), explode(bigrams(col(textCol))).as("__bg"))
      .select(col(idCol),
        substring_index(col("__bg"), " ", 1).as("w1"),
        substring_index(col("__bg"), " ", -1).as("w2"))
    // eager checkpoints (the reuse finding): docTf is
    // consumed by the model roll-up AND the scoring join, uniCounts by
    // the vocab count AND the join — plan-level exchange reuse never
    // fires across the re-aliased branches, so without materialization
    // the bigram explode runs twice and the token explode twice
    // (measured: 4 scans / 4 explodes). The per-doc bigram tf table
    // and the vocab count table are exactly what an LM pipeline
    // persists; counts are exact integers either way.
    val docTf = docBi.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k")).localCheckpoint(true)
    val biCounts = docTf.groupBy("w1", "w2").agg(sum("k").as("cb"))
    val uniCounts = df.select(explode(t).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cu")).localCheckpoint(true)
    val vocabN = uniCounts.agg(count(lit(1)).as("__v"))
    docTf.join(biCounts, Seq("w1", "w2"))
      .join(uniCounts, Seq("w1"))
      .crossJoin(broadcast(vocabN))
      .withColumn("__lp",
        round(log((col("cb") + 1).cast("double") / (col("cu") + col("__v"))), 6)
          .cast("decimal(18,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        // floor-at-6dp, not round: round() on a double quotient has
        // half-ties that Spark (BigDecimal shortest-repr) and DuckDB
        // (x*1e6 rounding) break differently — bit one cell at sf0.1.
        // floor of the identical IEEE product can never disagree.
        (floor(sum(col("__lp") * col("k")).cast("double") / sum(col("k"))
          * 1000000L) / 1000000.0).as("avg_logp"))
      .select(col(idCol), col("n_bigrams").cast("long").as("n_bigrams"),
        col("avg_logp"))
  }

  /** Corpus-trained multinomial Naive Bayes classification — the
    * model-based filter family from the public corpus-curation
    * literature (fastText-style domain/quality labeling): score(d, c) =
    * ln(P(c)) + Σ_t tf(d,t)·ln((count(c,t)+1) / (tokens(c)+V)),
    * argmax over classes.
    *
    * Training is counting: class priors and per-class token counts are
    * two map-side-combined aggregations — no driver-side model, no
    * gradient loop. Scoring: the per-doc token-tf frame crosses the
    * |classes|-row class frame (broadcast) and LEFT-joins the count
    * table on (class, token) — a balanced key shuffle whose build side
    * has one row per key; unseen (class, token) pairs coalesce to the
    * smoothing floor. Per-token log-probs are rounded then accumulated
    * as DECIMAL·tf (order-independent, engine-exact — see
    * [[bigramLmScore]]); the argmax resolves on (rounded score desc,
    * class asc), so every engine picks the same winner. Returns one row
    * per (doc, class) with `rank`; filter rank=1 for the verdict.
    * EAGER by contract: the per-doc tf frame materializes at call
    * time (no streaming inputs — [[Materialize]]). */
  def nbClassify(df: DataFrame, textCol: String, labelCol: String,
                 idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = tokens(col(textCol))
    // ONE corpus tokenize+explode (kernel-profile discipline, the dsir
    // rewrite applied here): docTf, tokC and vocabN are all pure
    // roll-ups of the per-(doc, class, token) count frame. The frame
    // is eagerly checkpointed because plan-level sharing does NOT
    // happen — analyzer re-aliasing across the derived branches breaks
    // exchange identity, so ReuseExchange/AQE never deduplicates the
    // corpus pass (measured: 6 file scans, 4 explodes, 0 reuses in
    // the un-checkpointed plan). Materializing the tf frame once is
    // also the 100-TB shape: it is the table every model roll-up and
    // the scoring join consume. Counts are exact integers →
    // bit-identical scores. (id, token) determines the class, so the
    // widened grouping key adds no rows.
    val perDocTok = Materialize.corpus(df
      .select(col(idCol), col(labelCol).as("__cls"), explode(t).as("token"))
      .groupBy(col(idCol), col("__cls"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val docTf = perDocTok.select(col(idCol), col("token"), col("tf"))
    val priors = df.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val tokC = perDocTok.groupBy(col("__cls").as("cls"), col("token"))
      .agg(sum("tf").as("ct"))
    val clsTotals = tokC.groupBy("cls").agg(sum("ct").as("cls_tokens"))
    val vocabN = perDocTok.select("token").agg(
      count_distinct(col("token")).as("__v"))
    val nTotal = df.agg(count(lit(1)).as("__n"))
    val classes = priors.join(clsTotals, Seq("cls"))
      .crossJoin(broadcast(vocabN)).crossJoin(broadcast(nTotal))
    val scored = docTf
      .crossJoin(broadcast(classes))
      .join(tokC, Seq("cls", "token"), "left")
      .withColumn("__lp",
        round(log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
          (col("cls_tokens") + col("__v"))), 6).cast("decimal(18,6)"))
      .groupBy(col(idCol), col("cls"))
      .agg(first(col("n_docs")).as("n_docs"),
        first(col("__n")).as("__n"),
        sum(col("__lp") * col("tf")).as("__sum"))
      .withColumn("score",
        round(round(log(col("n_docs").cast("double") / col("__n")), 6)
          + col("__sum").cast("double"), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("cls").asc)
    scored.select(col(idCol), col("cls"), col("score"))
      .withColumn("rank", row_number().over(w))
  }

  /** Line-level exact dedup across the corpus (the C4-style recipe from
    * the public corpus-cleaning literature: repeated lines — navbars,
    * boilerplate, license headers — are removed corpus-wide, keeping
    * only the FIRST occurrence). The fixture corpus has no newline
    * structure, so "lines" are consecutive `lineTokens`-token windows —
    * the same integer window arithmetic as [[chunks]], engine-exact.
    *
    * First-occurrence-wins resolves by min (doc id, position): a
    * min-struct groupBy on the line fingerprint, which map-side
    * combines — one balanced shuffle on the 128-bit fp even when a
    * boilerplate line repeats millions of times (a row_number window
    * would sort every occurrence of a hot line inside one task; the
    * min-aggregate reduces them map-side instead). Reassembly is one
    * doc-id shuffle. Docs whose every line was claimed elsewhere drop
    * out entirely — that is the dedup verdict, not data loss. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String,
                lineTokens: Int = 10): DataFrame = {
    val lines = bindOnce(tokens(col(textCol))) { t =>
      val nLines = greatest(lit(1),
        ceil(size(t) / lit(lineTokens.toDouble))).cast("int")
      transform(sequence(lit(0), nLines - 1),
        i => concat_ws(" ", slice(t, i * lineTokens + 1, lit(lineTokens))))
    }
    val ex = df.select(col(idCol), posexplode(lines))
      .withColumnRenamed("col", "line")
      .withColumn("fp", md5(col("line")))
    val firsts = ex.groupBy("fp")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"))
    ex.join(firsts, Seq("fp"))
      .filter(struct(col(idCol), col("pos")) === col("__first"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("line"))))
          .as("__ls"))
      .select(col(idCol), col("n_kept"),
        concat_ws(" ", transform(col("__ls"), x => x.getField("line")))
          .as("text_clean"))
  }

  /** Per-class precision/recall/F1 from a (label, prediction) frame —
    * the QA half of model-based labeling: after a classifier (NB,
    * fastText-style, an LM gate) tags the corpus, this scores the
    * tags against ground truth. ONE pass over the frame: the
    * (label, pred) confusion matrix aggregates directly (map-side
    * combined, ≤|classes|² rows leave the mappers — the earlier
    * rows×classes broadcast expansion both scanned the input twice,
    * once for the class list and once for the counts, and multiplied
    * every row by |classes| before filtering; a kernel profile measured
    * the double-computation at 2× the classify cost when the input is
    * itself a classifier pipeline). tp/fp/fn are exact-integer
    * roll-ups of the matrix; the class list is the matrix's distinct
    * LABEL side, as before. Ratios rounded to 6dp AFTER exact integer
    * counting, F1 derived from the ROUNDED p/r so engines agree
    * bit-for-bit. Empty denominators yield NULL, not 0. EAGER by
    * contract: the confusion matrix materializes at call time (no
    * streaming inputs — [[Materialize]]). */
  def classifierEval(df: DataFrame, labelCol: String,
                     predCol: String): DataFrame = {
    // eager checkpoint: the matrix is DOMAIN-sized (≤|classes|² rows),
    // and its three consumers below would otherwise each re-run the
    // corpus-sized input pipeline — analyzer re-aliasing across the
    // self-union/self-join breaks exchange identity, so AQE's
    // ReusedExchange never fires (measured: 0 reuses, 21 file scans
    // in the classifier_eval plan without this)
    val matrix = df.groupBy(col(labelCol).as("__l"), col(predCol).as("__p"))
      .agg(count(lit(1)).as("__n")).localCheckpoint(true)
    val counts = matrix
      .select(col("__l").as("cls"),
        when(col("__p") === col("__l"), col("__n")).otherwise(0L).as("tp"),
        lit(0L).as("fp"),
        when(col("__p") =!= col("__l"), col("__n")).otherwise(0L).as("fn"))
      .unionByName(matrix
        .select(col("__p").as("cls"), lit(0L).as("tp"),
          when(col("__l") =!= col("__p"), col("__n")).otherwise(0L).as("fp"),
          lit(0L).as("fn"))
        // a predicted class that never occurs as a LABEL was absent
        // from the old class list — keep the same contract
        .join(matrix.select(col("__l").as("cls")).distinct(), Seq("cls")))
      .groupBy("cls")
      .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"))
    def ratio(num: Column, den: Column): Column =
      when(den === 0L, lit(null))
        .otherwise(round(num.cast(DoubleType) / den, 6))
    counts
      .withColumn("precision", ratio(col("tp"), col("tp") + col("fp")))
      .withColumn("recall", ratio(col("tp"), col("tp") + col("fn")))
      .withColumn("f1",
        when(col("precision").isNull || col("recall").isNull ||
          (col("precision") + col("recall")) === 0d, lit(null))
          .otherwise(round(lit(2d) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 6)))
  }
}
