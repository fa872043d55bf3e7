package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 0
    (2L, "completely different words about spark shuffles and partitions here"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps one survivor per normalized text") {
    val out = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(out == Seq(0L, 1L, 2L))
    val groups = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n_copies") > 1).select("keep_id", "n_copies")
      .as[(Long, Long)].collect().toSeq
    assert(groups == Seq((0L, 2L)))
  }

  test("cross-snapshot dedup: batch drops history dups and self-dups") {
    val history = Seq(
      (1L, "Hello  World"),         // canonicalizes case + whitespace
      (2L, "already ingested doc"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "hello world"),         // re-crawl of history doc 1: drops
      (11L, "a brand new doc"),
      (12L, "a brand new doc"),     // within-batch copy: loses to 11
      (13L, "another new doc"),
    ).toDF("doc_id", "text")
    val kept = Dedup.crossSnapshotDedup(batch, history, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(11L, 13L))
  }

  test("PQ encode recovers exact codes on codebook-aligned vectors; ADC ranks the match first") {
    // corpus vector i = concat of code-i centroids across all 8
    // subspaces — its best-cosine code per subspace is i by construction
    val m = 8; val ksub = 16; val subDim = 8
    def vec(i: Int): Array[Float] =
      (0 until m).flatMap(s => (0 until subDim)
        .map(d => Similarity.pqComponent(s, i, d).toFloat)).toArray
    val corpus = (0 until ksub).map(i => (i.toLong + 100L, vec(i)))
      .toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(corpus, "embedding", "vec_id")
      .as[(Long, Seq[Int])].collect().toMap
    (0 until ksub).foreach { i =>
      assert(enc(i + 100L) == Seq.fill(m)(i), s"codes of aligned vector $i")
    }
    // a query identical to corpus vector 3 must rank it first under ADC
    val q = Seq((3L, vec(3))).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(q, corpus, "embedding", "vec_id", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(top.head._2 == 103L, s"expected neighbor 103 first, got ${top.toSeq}")
    // encode is reproducible (pure projection, no RNG)
    val enc2 = Similarity.pqEncode(corpus, "embedding", "vec_id")
      .as[(Long, Seq[Int])].collect().toMap
    assert(enc == enc2)
  }

  test("DSIR weights rank target-like documents above corpus-average ones") {
    // target slice speaks "alpha/beta" vocabulary, the rest "gamma/delta";
    // a held-out doc written in target vocabulary must score positive,
    // one in raw-only vocabulary negative
    val corpus = (
      (0 until 20).map(i => (i.toLong, "alpha beta alpha beta common", "en")) ++
      (20 until 80).map(i => (i.toLong, "gamma delta gamma delta common", "xx")) ++
      Seq((80L, "alpha beta alpha alpha beta", "xx"),   // target-like, not in slice
          (81L, "gamma delta delta gamma gamma", "xx")) // raw-like
    ).toDF("doc_id", "text", "lang")
    val w = Sampling.dsirWeights(corpus, "text", "doc_id", col("lang") === "en")
    val byId = w.select("doc_id", "logw", "keep")
      .as[(Long, Double, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(80L)._1 > 0 && byId(80L)._2, s"target-like doc scored ${byId(80L)}")
    assert(byId(81L)._1 < 0 && !byId(81L)._2, s"raw-like doc scored ${byId(81L)}")
    assert(byId(0L)._1 > byId(20L)._1)
    // weights are reproducible run-to-run (pure hashing, no RNG)
    val again = Sampling.dsirWeights(corpus, "text", "doc_id", col("lang") === "en")
      .select("doc_id", "logw").as[(Long, Double)].collect().toMap
    assert(byId.forall { case (id, (lw, _)) => again(id) == lw })
  }

  test("DSIR quantile selection keeps exactly the heavy tail, no global sort") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val w = Sampling.dsirWeights(docs, "text", "doc_id", col("lang") === "en")
      .withColumn("logw_micro", round(col("logw") * 1000000d, 0).cast("long"))
    val kept = Quantiles.gate(w, "logw_micro", 750, 1000)
    val total = w.count(); val k = kept.count()
    // >= 25% (ties at the threshold can only widen the kept set)
    assert(k * 1000 >= total * 250 && k < total,
      s"kept $k of $total")
    // separation: every kept weight >= every dropped weight
    val minKept = kept.agg(min("logw_micro")).head().getLong(0)
    val maxDropped = w.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .agg(max("logw_micro")).head().getLong(0)
    assert(minKept >= maxDropped, s"$minKept vs $maxDropped")
  }

  test("temperature sampling flattens toward small strata; shard manifest partitions exactly") {
    // 80/16/4 split: tau=1/2 must give the small stratum a HIGHER keep
    // rate than the big one, and rates must decrease with stratum size
    val docs = (0 until 100).map { i =>
      val s = if (i < 80) "big" else if (i < 96) "mid" else "small"
      (i.toLong, s"word$i text", s)
    }.toDF("doc_id", "text", "lang")
    val t = Sampling.temperatureSummary(docs, "lang", "doc_id",
      budgetNum = 1, budgetDen = 2)
    val rates = t.select("stratum", "rate_bp")
      .as[(String, Long)].collect().toMap
    assert(rates("small") > rates("mid") && rates("mid") > rates("big"))
    // kept_docs is within the hash-threshold tolerance of rate * n
    val m = Sampling.shardManifest(docs, "text", "doc_id", nShards = 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(m.map(_._1).sorted == Seq(0L, 1L, 2L, 3L))
    assert(m.map(_._2).sum == 100L)      // every doc lands in exactly one shard
    assert(m.map(_._3).sum == 200L)      // 2 tokens per doc
  }

  test("minhash signatures: identical docs identical, near-dups co-bucket") {
    val bands = Dedup.lshBands(docs, "text", "doc_id")
    // exact duplicates share every band hash
    val byDoc = bands.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getString(2))).toSet).toMap
    assert(byDoc(0L) == byDoc(3L))
    assert(byDoc(0L) != byDoc(2L))
    // candidate pairs contain the exact pair and the near pair, not (0,2)
    val pairs = Dedup.minhashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)))
    assert(!pairs.contains((0L, 2L)))
  }

  test("simhash: exact dups equal, unrelated docs differ") {
    val out = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(out(0L) == out(3L))
    assert(out(0L) != out(2L))
    assert(out.values.forall(h => h >= 0 && h < (1L << 16)))
  }

  test("ngram jaccard: exact pair 1.0, near pair high, unrelated pair absent") {
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", minJaccard = 0.2)
      .as[(Long, Long, Double)].collect()
      .map(p => ((p._1, p._2), p._3)).toMap
    assert(out((0L, 3L)) == 1.0)
    assert(out((0L, 1L)) > 0.5 && out((0L, 1L)) < 1.0)
    assert(!out.contains((0L, 2L)))
  }

  test("prefix-filtered join equals the all-pairs answer (losslessness)") {
    // the PPJoin completeness theorem, checked empirically: at every
    // threshold the prefix-filtered result IS the exact all-pairs one
    // 0.7 is the float-ceil trap class: 0.7*10 == 7.000000000000001 in
    // doubles, so a float ceil(θ·n) would demand overlap 8 where the
    // exact bound is 7 and shorten the prefix below losslessness
    for (theta <- Seq(0.2, 0.5, 0.7, 0.9)) {
      val viaPrefix = Dedup.prefixJaccardPairs(docs, "text", "doc_id",
          shingleN = 3, theta = theta)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      val allPairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          shingleN = 3, minJaccard = theta, maxDf = Int.MaxValue)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      assert(viaPrefix == allPairs, s"theta=$theta")
    }
  }

  test("prefixLen: exact-minimal prefix at every (n, θ) — never one " +
    "short of the losslessness bound, never longer than the exact " +
    "ceiling needs") {
    // the minimal required overlap is ⌈θ·n⌉ computed EXACTLY; a float
    // ceil(θ·n) lands 1 ulp above an exact integer product for e.g.
    // θ=0.7, n=10 (7.000000000000001 → 8) and silently drops boundary
    // pairs. prefixLen must equal n - ceilExact(θ·n) + 1 for every
    // permille θ the callers use.
    val ns = spark.range(1, 2001).toDF("__n")
    for (thetaPm <- Seq(1, 137, 300, 500, 700, 750, 800, 875, 999, 1000)) {
      val theta = thetaPm / 1000.0
      val got = ns.select(col("__n"), Dedup.prefixLen(theta).as("p"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      for (n <- 1L to 2000L) {
        val ceilExact = (n * thetaPm + 999L) / 1000L // exact ⌈n·θpm/1000⌉
        assert(got(n) == n - ceilExact + 1,
          s"n=$n thetaPm=$thetaPm got=${got(n)} want=${n - ceilExact + 1}")
      }
    }
  }

  test("containment join equals the naive all-pairs answer at every " +
    "threshold (asymmetric prefix-filter losslessness)") {
    // naive directed all-pairs containment over distinct shingle sets,
    // computed without any filter
    def naive(theta: Double): Seq[Seq[Any]] = {
      val sh = docs.select(col("doc_id").as("id"),
        explode(array_distinct(Dedup.shingles(col("text"), 3))).as("s"))
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
      sh.select(col("id").as("id_a"), col("s"))
        .join(sh.select(col("id").as("id_b"), col("s")), Seq("s"))
        .filter(col("id_a") =!= col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")),
          Seq("id_a"))
        .withColumn("containment",
          col("inter").cast("double") / col("n_a"))
        .filter(col("containment") >= theta)
        .select("id_a", "id_b", "containment")
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
    }
    for (theta <- Seq(0.3, 0.6, 0.7, 0.8, 1.0)) {
      val viaPrefix = Dedup.prefixContainmentPairs(docs, "text", "doc_id",
          shingleN = 3, theta = theta)
        .orderBy("id_a", "id_b").collect().map(_.toSeq).toSeq
      assert(viaPrefix == naive(theta), s"theta=$theta")
    }
  }

  test("incremental containment index: cumulative union over any batch " +
    "arrival equals the one-shot batch operator at every threshold") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    for (theta <- Seq(0.6, 0.8, 1.0)) {
      val full = Dedup.prefixContainmentPairs(docs, "text", "doc_id",
          shingleN = 3, theta = theta)
        .collect().map(_.toSeq).toSet
      val idx = s"/tmp/graft_cont_idx_spec_${(theta * 10).toInt}"
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val got = (0 to 2).map(m => Dedup.containmentIndexUpdate(idx,
          docs.filter(pmod(col("doc_id"), lit(3)) === m),
          "text", "doc_id", shingleN = 3, theta = theta))
        .reduce(_ unionByName _).collect().map(_.toSeq).toSet
      assert(got == full, s"theta=$theta")
    }
  }

  test("containment catches a quote-in-page pair symmetric Jaccard " +
    "misses, and is directional") {
    val page = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (1 to 12).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, page), (2L, quote),
      (3L, "completely unrelated text body here")).toDF("doc_id", "text")
    // the quote's shingles are all inside the page: containment 1.0
    val cont = Dedup.prefixContainmentPairs(corpus, "text", "doc_id",
        shingleN = 3, theta = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((2L, 1L, 1.0))) // directed: quote -> page only
    // symmetric Jaccard at the same threshold sees nothing
    val jac = Dedup.prefixJaccardPairs(corpus, "text", "doc_id",
      shingleN = 3, theta = 0.8).count()
    assert(jac == 0L)
  }

  test("prefix filter indexes strictly fewer postings than the full index") {
    // a shared hot token everywhere, rare tokens distinguishing docs:
    // prefixes (rarity-ordered) skip the hot token for most docs
    val corpus = (0L until 40L).map(i =>
      (i, s"common common common rare$i other${i % 7} thing${i % 5} " +
        s"word${i % 3} extra$i more$i tail$i"))
      .toDF("doc_id", "text")
    val sh = corpus.select(col("doc_id"),
      explode(array_distinct(Dedup.shingles(col("text"), 3))).as("s"))
    val fullPostings = sh.count()
    // rebuild the prefix postings exactly as prefixJaccardPairs does
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("__df"), col("s"))
    val prefixPostings = sh.join(dfreq, "s")
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("__rk") <= col("__n") - ceil(lit(0.5) * col("__n")) + 1)
      .count()
    assert(prefixPostings < fullPostings,
      s"prefix=$prefixPostings full=$fullPostings")
    assert(prefixPostings <= fullPostings * 6 / 10 + corpus.count())
  }

  test("paragraph dedup: first occurrence survives, order preserved, " +
      "within-doc repeats removed") {
    val corpus = Seq(
      (1L, "keep me. shared boilerplate. unique one"),
      (2L, "shared boilerplate. unique two. unique two"),
      (3L, "unique three. shared boilerplate")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(corpus, "text", "doc_id")
      .as[(Long, String)].collect().toMap
    // doc 1 holds the first occurrence of the boilerplate
    assert(out(1L) == "keep me. shared boilerplate. unique one")
    // doc 2 loses the boilerplate AND its own internal repeat
    assert(out(2L) == "unique two")
    // doc 3 loses only the boilerplate; order of the rest preserved
    assert(out(3L) == "unique three")
  }

  test("label propagation separates communities a bridge edge merges in CC") {
    // two triangles + one bridge: CC -> one blob; LPA -> two
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val l = graft.functions.Graph.labelPropagation(edges, "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    assert(l(1L) == l(2L) && l(2L) == l(3L))
    assert(l(4L) == l(5L) && l(5L) == l(6L))
    assert(l(1L) != l(4L), s"communities merged: $l")
    // same graph through CC: everything one component
    val cc = Dedup.connectedComponents(edges, "src", "dst")
    assert(cc.select(countDistinct(col("cluster_id"))).head().getLong(0) == 1L)
    // deterministic across partitioning
    val l2 = graft.functions.Graph.labelPropagation(
        edges.repartition(7), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    assert(l == l2)
  }

  test("duplicated substring spans: cross-doc repeat located, merged " +
      "maximally, unique text untouched") {
    val corpus = Seq(
      // docs 10/11 share the 4-token run "alpha beta gamma delta"
      // (two overlapping 3-windows -> ONE merged span of 4 tokens)
      (10L, "alpha beta gamma delta unique1 unique2"),
      (11L, "pre1 pre2 alpha beta gamma delta post1"),
      // doc 12 repeats a 3-window WITHIN itself, twice
      (12L, "x y z mid x y z"),
      // doc 13 shares nothing
      (13L, "only words nobody else ever wrote down")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(corpus, "text", "doc_id", w = 3)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).toSet)
      .toMap
    assert(spans(10L) == Set((1L, 4L, 4L)))  // maximal, not two 3-spans
    assert(spans(11L) == Set((3L, 6L, 4L)))
    assert(spans(12L) == Set((1L, 3L, 3L), (5L, 7L, 3L)))
    assert(!spans.contains(13L))
  }

  test("substring cut removes exactly the duplicated spans, keeps the " +
      "rest in order") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta unique1 unique2"),
      (11L, "pre1 pre2 alpha beta gamma delta post1"),
      (13L, "only words nobody else ever wrote down")
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicatedSpans(corpus, "text", "doc_id", w = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(10L) == (("unique1 unique2", 2L, 4L)))
    assert(out(11L) == (("pre1 pre2 post1", 3L, 4L)))
    assert(out(13L) ==
      (("only words nobody else ever wrote down", 7L, 0L)))
  }

  test("cosine similarity: orthogonal 0, parallel 1") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cos = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    assert(math.abs(cos((0L, 1L))) < 1e-12)
    assert(math.abs(cos((0L, 2L)) - 1.0) < 1e-12)
  }

  test("bruteForceTopK ranks by similarity, excludes self, respects k") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val out = Similarity.bruteForceTopK(
      e.filter(col("vec_id") < 3), e, "embedding", "vec_id", k = 4)
    val rows = out.as[(Long, Long, Double, Int)].collect()
    assert(rows.length == 12)
    assert(rows.forall { case (q, n, _, _) => q != n })
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == Seq(1, 2, 3, 4))
      // scores non-increasing with rank
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).toSeq.sorted.reverse)
    }
  }

  test("lsh buckets: same vector same bucket; lshTopK subset of brute-force candidates") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val b1 = e.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    val b2 = e.select(col("vec_id"),
      Similarity.hyperplaneBucket(col("embedding"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 256))
    val lsh = Similarity.lshTopK(e.filter(col("vec_id") < 3), e,
      "embedding", "vec_id", k = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // every lsh result pair shares a bucket by construction
    assert(lsh.forall { case (q, n) => b1(q) == b1(n) })
  }

  test("embedding near-dup pairs only within buckets and above threshold") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val out = Dedup.embeddingNearDups(e, "embedding", "vec_id", minCos = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(out.forall(_._3 >= 0.8))
    assert(out.forall(p => p._1 < p._2))
  }

  test("incremental embedding index: cumulative union over any batch " +
    "split equals the one-shot operator; index scan partition-pruned") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.withColumn("cos", round(col("cos"), 9))
        .as[(Long, Long, Double)].collect().toSet
    val oneShot = pairs(
      Dedup.embeddingNearDups(e, "embedding", "vec_id", minCos = 0.35))
    assert(oneShot.nonEmpty, "vacuous: threshold yields no pairs")
    for (nBatches <- Seq(2, 3)) {
      val idx = s"/tmp/graft_emb_idx_spec_$nBatches"
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      val got = (0 until nBatches).map(m => pairs(
        Dedup.embeddingIndexUpdate(idx,
          e.filter(pmod(col("vec_id"), lit(nBatches)) === m),
          "embedding", "vec_id", minCos = 0.35)))
      // a pair is discovered exactly once — the union is disjoint
      assert(got.map(_.size).sum == got.reduce(_ ++ _).size,
        "a pair was discovered by more than one update")
      assert(got.reduce(_ ++ _) == oneShot, s"split=$nBatches")
    }
    // the probe's index read is partition-pruned to the batch's cells
    val scan = Dedup.embeddingIndexScan(spark,
      "/tmp/graft_emb_idx_spec_2", Seq(3, 17, 130))
    val plan = scan.queryExecution.executedPlan.toString
    val idxScan = plan.linesIterator
      .find(l => l.contains("graft_emb_idx_spec_2") && l.contains("FileScan"))
      .getOrElse("")
    assert(idxScan.contains("PartitionFilters: [bucket"),
      "index scan is not partition-pruned:\n" + plan)
  }

  test("embedding index update: over-cap bucket fails fast; empty batch " +
    "leaves no poisoned directory") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    // empty batch: no pairs, no append — the next (real) update must
    // not trip over a parquet-less directory (ADVICE r13)
    val idx = "/tmp/graft_emb_idx_guard"
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    val empty = Dedup.embeddingIndexUpdate(idx, e.filter(lit(false)),
      "embedding", "vec_id", minCos = 0.35)
    assert(empty.isEmpty)
    val afterEmpty = Dedup.embeddingIndexUpdate(idx, e,
      "embedding", "vec_id", minCos = 0.35)
    assert(afterEmpty.count() ==
      Dedup.embeddingNearDups(e, "embedding", "vec_id", minCos = 0.35)
        .count())
    // over-cap: once the total bucket (index + batch) crosses the cap
    // the incremental==one-shot contract is irreconcilable — the update
    // must fail fast, not silently diverge (ADVICE r13, medium)
    val ex = intercept[IllegalStateException] {
      Dedup.embeddingIndexUpdate(idx, e, "embedding", "vec_id",
        minCos = 0.35, maxBucketSize = 3)
    }
    assert(ex.getMessage.contains("maxBucketSize"))
    // planes bound: the cell IN-list is driver-side (r13 verdict #5)
    intercept[IllegalArgumentException] {
      Dedup.embeddingIndexUpdate(idx, e, "embedding", "vec_id",
        planes = 21)
    }
    // the same empty-batch guard across the standing-index family:
    // band and containment updates must also survive an empty first
    // batch without poisoning the lake
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    val bIdx = "/tmp/graft_band_idx_guard"
    fs.delete(new org.apache.hadoop.fs.Path(bIdx), true)
    assert(Dedup.bandIndexUpdate(bIdx, docs.filter(lit(false)),
      "text", "doc_id").isEmpty)
    assert(Dedup.bandIndexUpdate(bIdx, docs.limit(50), "text", "doc_id")
      .columns.sameElements(Array("id_a", "id_b")))
    val cIdx = "/tmp/graft_cont_idx_guard"
    fs.delete(new org.apache.hadoop.fs.Path(cIdx), true)
    assert(Dedup.containmentIndexUpdate(cIdx, docs.filter(lit(false)),
      "text", "doc_id").isEmpty)
    assert(Dedup.containmentIndexUpdate(cIdx, docs.limit(50),
      "text", "doc_id").columns.length == 3)
    // r17 verdict What's-wrong #1: a NON-empty batch whose texts are
    // all NULL produces zero postings (ShinglesExpr null-propagates,
    // explode drops the rows) yet a non-empty newDocs — the update must
    // return an EMPTY frame, not (id, id, 0.0) self-pairs that bypass
    // the theta filter. Checked on bootstrap AND post-bootstrap.
    val allNull = docs.limit(3).select(col("doc_id"),
      lit(null).cast("string").as("text"))
    val nIdx = "/tmp/graft_cont_idx_nulltext"
    fs.delete(new org.apache.hadoop.fs.Path(nIdx), true)
    assert(Dedup.containmentIndexUpdate(nIdx, allNull, "text", "doc_id")
      .isEmpty, "all-NULL-text batch on bootstrap must emit no pairs")
    Dedup.containmentIndexUpdate(nIdx, docs.limit(50), "text", "doc_id")
    assert(Dedup.containmentIndexUpdate(nIdx, allNull, "text", "doc_id")
      .isEmpty, "all-NULL-text batch post-bootstrap must emit no pairs")
  }

  test("embedding index compaction: pairs after a mid-stream compact " +
    "equal the uncompacted twin's, file count collapsed, pruning kept") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    def run(idx: String, compactAt: Int): Set[(Long, Long)] = {
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      var out = Set.empty[(Long, Long)]
      for (m <- 0 to 3) {
        val u = Dedup.embeddingIndexUpdate(idx,
          e.filter(pmod(col("vec_id"), lit(4)) === m),
          "embedding", "vec_id", minCos = 0.35)
        out ++= u.select("id_a", "id_b").as[(Long, Long)].collect()
        if (m == compactAt) Dedup.embeddingIndexCompact(spark, idx)
      }
      out
    }
    val plain = run("/tmp/graft_emb_idx_plain", compactAt = -1)
    val compacted = run("/tmp/graft_emb_idx_cpt", compactAt = 1)
    assert(compacted == plain)
    // file-count collapse on a fresh 4-append lake
    val idx = "/tmp/graft_emb_idx_fc"
    run(idx, compactAt = -1)
    val stats = Dedup.embeddingIndexCompact(spark, idx)
    assert(stats.filesBefore > stats.filesAfter,
      s"before=${stats.filesBefore} after=${stats.filesAfter}")
    // compaction kept the bucket=<cell>/ layout: probes stay pruned
    val plan = Dedup.embeddingIndexScan(spark, idx, Seq(0, 1))
      .queryExecution.executedPlan.toString
    val idxScan = plan.linesIterator
      .find(l => l.contains("graft_emb_idx_fc") && l.contains("FileScan"))
      .getOrElse("")
    assert(idxScan.contains("PartitionFilters: [bucket"),
      "pruning lost after compaction:\n" + plan)
  }

  test("containment index compaction: pairs after a mid-stream compact " +
    "equal the uncompacted twin's; file count collapsed") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val d = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).limit(120)
    def run(idx: String, compactAt: Int): Set[(Long, Long)] = {
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      var out = Set.empty[(Long, Long)]
      for (m <- 0 to 3) {
        val u = Dedup.containmentIndexUpdate(idx,
          d.filter(pmod(col("doc_id"), lit(4)) === m),
          "text", "doc_id", theta = 0.6)
        out ++= u.select("id_a", "id_b").as[(Long, Long)].collect()
        if (m == compactAt) Dedup.containmentIndexCompact(spark, idx)
      }
      out
    }
    val plain = run("/tmp/graft_cont_idx_plain", compactAt = -1)
    val compacted = run("/tmp/graft_cont_idx_cpt", compactAt = 1)
    assert(compacted == plain)
    // file-count collapse on a fresh 4-append lake
    val idx = "/tmp/graft_cont_idx_fc"
    run(idx, compactAt = -1)
    val stats = Dedup.containmentIndexCompact(spark, idx)
    assert(stats.filesBefore > stats.filesAfter,
      s"before=${stats.filesBefore} after=${stats.filesAfter}")
    // and the compacted lake still serves later updates identically:
    // stored __rk/__n rode the rewrite (frozen-df order preserved)
    val u = Dedup.containmentIndexUpdate(idx,
      d.filter(pmod(col("doc_id"), lit(4)) === 3)
        .withColumn("doc_id", col("doc_id") + 5000000L),
      "text", "doc_id", theta = 0.6)
    assert(u.columns.length == 3)
  }

  test("ivf: k-means separates synthetic blobs; assignment probes cells") {
    // two well-separated 4-dim blobs
    val blobA = (0 until 20).map(i => (i.toLong, Array(1.0f + i*0.001f, 1.0f, 0.0f, 0.0f)))
    val blobB = (0 until 20).map(i => (100L + i, Array(-1.0f, -1.0f + i*0.001f, 0.0f, 0.0f)))
    val vecs = (blobA ++ blobB).toDF("vec_id", "embedding")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val cents = Similarity.fitCentroids(vecs, "embedding", "vec_id", k = 2,
      iterations = 3)
    assert(cents.count() == 2)
    // cache hygiene: each iteration unpersists the superseded centroid
    // frame — only the returned frame may remain cached
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore + 1)
    val assign = Similarity.ivfAssign(vecs, cents, "embedding", "vec_id")
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    // each blob lands wholly in one cell, and the cells differ
    val aCells = blobA.map(v => assign(v._1)).toSet
    val bCells = blobB.map(v => assign(v._1)).toSet
    assert(aCells.size == 1 && bCells.size == 1 && aCells != bCells)
    // deterministic: same fit twice
    val cents2 = Similarity.fitCentroids(vecs, "embedding", "vec_id", k = 2,
      iterations = 3)
    assert(cents.collect().toSet == cents2.collect().toSet)
  }

  test("contamination: 5-gram overlap flags, 4-gram overlap does not") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "tiny doc")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x x alpha beta gamma delta epsilon y"), // shares a 5-gram
      (2L, "alpha beta gamma delta X epsilon"),     // best overlap only 4
      (3L, "tiny doc"),                             // short doc = whole text
      (4L, "clean text entirely")).toDF("doc_id", "text")
    val out = Dedup.contamination(train, bench, "text", "doc_id", n = 5)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 3L -> 1L))
  }

  test("connected components: chains close transitively, canonical = min id") {
    // chain 1-2-4-8 (multi-hop), triangle 20-21-22, isolated pair 50-51
    val pairs = Seq((1L, 2L), (2L, 4L), (4L, 8L),
      (20L, 21L), (21L, 22L), (20L, 22L), (50L, 51L))
      .toDF("id_a", "id_b")
    val out = Dedup.resolveClusters(pairs, "id_a", "id_b")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1L, 1L, true), (2L, 1L, false), (4L, 1L, false), (8L, 1L, false),
      (20L, 20L, true), (21L, 20L, false), (22L, 20L, false),
      (50L, 50L, true), (51L, 50L, false)))
    // early exit: a long chain still converges under the iteration cap
    val chain = (1 until 20).map(i => (i.toLong, (i + 1).toLong))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect().toSeq
    assert(cc.forall(_._2 == 1L) && cc.size == 20)
  }

  test("ngram jaccard hot-shingle cap bounds stop-shingle pair blowup") {
    // 12 docs sharing ONE stop-shingle, otherwise disjoint: without the
    // cap the shared shingle alone contributes 12*11/2 = 66 join rows
    val stopDocs = (0 until 12).map { i =>
      (i.toLong, s"common stop shingle unique${i}a unique${i}b unique${i}c")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(stopDocs, "text", "doc_id",
      maxDf = Int.MaxValue)
    assert(uncapped.count() == 66, "every doc pair shares the stop shingle")
    // cap at df<=4: the df=12 stop shingle is dropped from the universe,
    // the remaining shingles are doc-unique -> zero intersections
    val capped = Dedup.ngramJaccardPairs(stopDocs, "text", "doc_id",
      maxDf = 4)
    assert(capped.count() == 0, "capped run must drop the hot shingle")
    // default cap leaves a small corpus untouched (oracle stability)
    val dflt = Dedup.ngramJaccardPairs(docs, "text", "doc_id", minJaccard = 0.2)
      .as[(Long, Long, Double)].collect().toSet
    val nocap = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      minJaccard = 0.2, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    assert(dflt == nocap)
  }

  test("ivf cell assignment is a pure projection: no Exchange on the corpus path") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
      k = 4, iterations = 0)
    val assignPlan = Similarity.ivfAssign(e, cents, "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"), assignPlan)
    // full search: the only Exchanges rank the candidate/query sets —
    // nothing repartitions the corpus by its own id anymore
    val topkPlan = Similarity.ivfTopK(e.filter(col("vec_id") < 10), e,
      cents, "embedding", "vec_id", k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!topkPlan.contains("Exchange hashpartitioning(neighbor_id"),
      topkPlan)
  }

  test("incremental IVF index: any append sequence answers exactly like " +
    "the one-shot search, and probes are partition-pruned") {
    val base = "/tmp/graft_ivf_idx_spec"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
      k = 4, iterations = 0)
    val queries = e.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val oneShot = rows(Similarity.ivfTopK(queries, e, cents,
      "embedding", "vec_id", k = 5, nprobe = 2))
    // three uneven appends must land on the identical answer
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    Similarity.ivfIndexAppend(e.filter(col("vec_id") % 3 === 0), base,
      cents, "embedding", "vec_id")
    Similarity.ivfIndexAppend(e.filter(col("vec_id") % 3 === 1), base,
      cents, "embedding", "vec_id")
    Similarity.ivfIndexAppend(e.filter(col("vec_id") % 3 === 2), base,
      cents, "embedding", "vec_id")
    val probe = Similarity.ivfIndexProbe(queries, base, cents,
      "embedding", "vec_id", k = 5, nprobe = 2)
    assert(rows(probe) == oneShot)
    // the index scan must carry a partition filter on the probed cells
    val plan = probe.queryExecution.executedPlan.toString
    val idxScan = plan.linesIterator
      .find(l => l.contains("graft_ivf_idx_spec") && l.contains("FileScan"))
      .getOrElse("")
    assert(idxScan.contains("PartitionFilters: [centroid_id"),
      "index scan is not partition-pruned:\n" + plan)
  }

  test("ivf index compaction: probe answers byte-identical, file count " +
    "collapsed, partition pruning preserved") {
    val base = "/tmp/graft_ivf_idx_compact_spec"
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val cents = Similarity.fitCentroids(e, "embedding", "vec_id",
      k = 4, iterations = 0)
    val queries = e.filter(col("vec_id") < 10)
    // eight appends: every touched cell accrues one part file per batch
    for (m <- 0 to 7)
      Similarity.ivfIndexAppend(e.filter(col("vec_id") % 8 === m), base,
        cents, "embedding", "vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val before = rows(Similarity.ivfIndexProbe(queries, base, cents,
      "embedding", "vec_id", k = 5, nprobe = 2))
    val stats = Similarity.ivfIndexCompact(spark, base)
    // the lake held >= 8 files per non-empty cell; now ~one per cell
    assert(stats.filesBefore > stats.filesAfter,
      s"before=${stats.filesBefore} after=${stats.filesAfter}")
    assert(stats.filesAfter <= 4, s"filesAfter=${stats.filesAfter}")
    val probeAfter = Similarity.ivfIndexProbe(queries, base, cents,
      "embedding", "vec_id", k = 5, nprobe = 2)
    assert(rows(probeAfter) == before)
    // compaction kept the cell layout: probes stay partition-pruned
    val plan = probeAfter.queryExecution.executedPlan.toString
    val idxScan = plan.linesIterator
      .find(l => l.contains(base) && l.contains("FileScan"))
      .getOrElse("")
    assert(idxScan.contains("PartitionFilters: [centroid_id"),
      "index scan is not partition-pruned after compaction:\n" + plan)
    // further appends + probes keep working against the compacted lake
    Similarity.ivfIndexAppend(e.filter(col("vec_id") % 8 === 0), base,
      cents, "embedding", "vec_id")
    assert(Similarity.ivfIndexProbe(queries, base, cents,
      "embedding", "vec_id", k = 5, nprobe = 2).count() > 0)
  }

  test("band index compaction: updates after a compact find exactly " +
    "the pairs an uncompacted index would, with fewer files") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val docs = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text"))
    def run(idx: String, compactBetween: Boolean): Set[(Long, Long)] = {
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      var pairs = Set.empty[(Long, Long)]
      for (m <- 0 to 4) {
        val u = Dedup.bandIndexUpdate(idx, docs.filter(col("doc_id") % 5 === m),
          "text", "doc_id")
        pairs ++= u.as[(Long, Long)].collect()
        if (compactBetween && m == 2) Dedup.bandIndexCompact(spark, idx)
      }
      pairs
    }
    val plain = run("/tmp/graft_band_idx_plain", compactBetween = false)
    val compacted = run("/tmp/graft_band_idx_compact", compactBetween = true)
    assert(compacted == plain)
    // and the compacted lake really has fewer files at the swap point
    fs.delete(new org.apache.hadoop.fs.Path("/tmp/graft_band_idx_fc"), true)
    for (m <- 0 to 4)
      Dedup.bandIndexUpdate("/tmp/graft_band_idx_fc",
        docs.filter(col("doc_id") % 5 === m), "text", "doc_id")
    val stats = Dedup.bandIndexCompact(spark, "/tmp/graft_band_idx_fc")
    assert(stats.filesBefore > stats.filesAfter,
      s"before=${stats.filesBefore} after=${stats.filesAfter}")
  }

  test("large-k ivf: loop expression matches the literal unroll exactly") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    // same 16 centroids through both spellings (16 <= unroll limit, so
    // force the loop path directly): every assignment must be identical
    val cents = Similarity.collectCentroids(
      Similarity.syntheticCentroids(spark, 16, 64, "embedding"),
      "embedding")
    def run(c: org.apache.spark.sql.Column) =
      e.select(col("vec_id"), c.as("b"))
        .select(col("vec_id"), col("b.centroid_id"), col("b.score"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSeq.sortBy(_._1)
    val literal = run({
      val b = Similarity.bestCell(col("embedding"), cents, 6)
      struct((-b.getField("negid")).as("centroid_id"),
        b.getField("score").as("score"))
    })
    val loop = run(Similarity.bestCellLoop(col("embedding"), cents, 6))
    assert(literal == loop)
  }

  test("sq8 quantize and PQ encode are pure projections: no Exchange " +
    "on the corpus path") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    for (df <- Seq(Similarity.quantizeInt8(e, "embedding", "vec_id"),
                   Similarity.pqEncode(e, "embedding", "vec_id"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(df.count() == e.count())
    }
  }

  test("prefix and containment joins stay exact when every doc shares " +
    "one universal hot shingle") {
    // Jaccard: 20 planted pairs (2p, 2p+1) differing in the tail token
    // (J = 0.8) under a header every doc shares; rarity-ordered prefixes
    // never hold the header's shingles, and the answer is exactly the
    // planted set
    val words = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val jdocs = (0 until 40).map { d =>
      (d.toLong, ("the common header shares" +: words.map(w => s"$w${d / 2}") :+
        s"tail${d % 2}").mkString(" "))
    }.toDF("doc_id", "text")
    val planted = (0 until 20).map(p => (2L * p, 2L * p + 1)).toSet
    val jp = Dedup.prefixJaccardPairs(jdocs, "text", "doc_id",
        shingleN = 3, theta = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    assert(jp.toSet == planted && jp.length == planted.size, jp.toSeq)
    // containment: 30 sources open with the same 3 common tokens; every
    // 3rd has a quote (id + 1000) of its 6 rare tokens. Exactly the 10
    // quote -> source links reach theta = 0.8, one-shot and incremental
    // over 3 arrivals that split quotes from their sources
    val src = (0 until 30).map { d =>
      (d.toLong, ("common0 common1 common2" +: (0 until 6).map(i => s"r${d}x$i"))
        .mkString(" "))
    }
    val quotes = src.collect { case (d, t) if d % 3 == 0 =>
      (d + 1000L, t.split(" ").drop(3).mkString(" ")) }
    val cdocs = (src ++ quotes).toDF("doc_id", "text")
    val links = quotes.map { case (q, _) => (q, q - 1000L) }.toSet
    def quoteLinks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("id_a") >= 1000L).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSeq
    assert(quoteLinks(Dedup.prefixContainmentPairs(cdocs, "text", "doc_id",
      shingleN = 3, theta = 0.8)).toSet == links)
    val idx = java.nio.file.Files.createTempDirectory("graft_hot_cont")
      .toString + "/idx"
    val inc = (0 to 2).flatMap(m => quoteLinks(Dedup.containmentIndexUpdate(
      idx, cdocs.filter(pmod(col("doc_id"), lit(3)) === m), "text", "doc_id",
      shingleN = 3, theta = 0.8)))
    assert(inc.toSet == links && inc.length == links.size, inc)
  }

  test("large-k ivf assignment: zero Exchange, codegen survives k=1024") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val cents = Similarity.syntheticCentroids(spark, 1024, 64, "embedding")
    val assigned = Similarity.ivfAssign(e, cents, "embedding", "vec_id")
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the loop expression must actually run (and inside codegen — a
    // janino overflow would log a fallback but still compute; the
    // count proves the 1024x64 matrix evaluates end to end)
    assert(assigned.count() == e.count())
    // every centroid id must be a valid codebook entry
    val ids = assigned.agg(min("centroid_id"), max("centroid_id"))
      .collect().head
    assert(ids.getInt(0) >= 0 && ids.getInt(1) <= 1023)
  }

  test("multi-probe lsh recall dominates single-probe at equal k") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshTopK(q, e, "embedding", "vec_id", k = 50))
    val multi = pairs(Similarity.lshTopKMultiProbe(q, e, "embedding", "vec_id", k = 50))
    // with k larger than any bucket, single-probe candidates all survive,
    // so multi-probe's candidate set strictly contains them
    assert(single.subsetOf(multi), "multi-probe lost single-probe pairs")
    assert(multi.size > single.size, "probing added no candidates")
  }

  test("deterministic sampling: reproducible, join-stable, near the rate") {
    val docs = graft.Tables.load(spark, sf(), "documents")
    val s1 = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.hashSample(docs, "doc_id", 0.3)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2, "sample not reproducible")
    val n = docs.count().toDouble
    assert(math.abs(s1.size / n - 0.3) < 0.1, s"rate off: ${s1.size / n}")
    // nested rates: a 10% sample is a subset of the 30% sample
    // (consistent sampling — the property RNG-based sampling lacks)
    val s3 = Sampling.hashSample(docs, "doc_id", 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(s3.subsetOf(s1))
    // stratified rates apply per stratum
    val strat = Sampling.stratified(docs, "doc_id", "lang",
      Map("en" -> 1.0), defaultRate = 0.0)
    val langs = strat.select("lang").distinct().as[String].collect().toSeq
    assert(langs == Seq("en"))
  }

  test("sq8 quantization: codes bounded, reconstruction tight, top-k recall high") {
    val e = graft.Tables.load(spark, sf(), "embeddings")
    val qz = Similarity.quantizeInt8(e, "embedding", "vec_id")
    // every code in [0,255]
    val bad = qz.filter(exists(col("codes"),
      c => c < 0 || c > 255)).count()
    assert(bad == 0, s"$bad vectors with out-of-range codes")
    // reconstruction error bounded by scale/2 per component
    val recon = qz.join(e, "vec_id").select(
      max(aggregate(
        zip_with(
          Similarity.dequantInt8(col("codes"), col("q_lo"), col("q_scale")),
          transform(col("embedding"), x => x.cast("double")),
          (a, b) => abs(a - b) / greatest(col("q_scale"), lit(1e-12))),
        lit(0.0), (acc, x) => greatest(acc, x))).as("worst"))
      .head().getDouble(0)
    assert(recon <= 0.5 + 1e-9, s"component error $recon exceeds scale/2")
    // constant vector: scale 0, codes 0, exact reconstruction
    import spark.implicits._
    val const = Seq((1L, Array(2.5f, 2.5f, 2.5f))).toDF("vec_id", "embedding")
    val cq = Similarity.quantizeInt8(const, "embedding", "vec_id")
      .select(col("codes"), Similarity.dequantInt8(col("codes"),
        col("q_lo"), col("q_scale")).as("back"))
      .head()
    assert(cq.getSeq[Int](0) == Seq(0, 0, 0))
    assert(cq.getSeq[Double](1) == Seq(2.5, 2.5, 2.5))
    // ranking through the lossy layout stays close to exact: >= 80%
    // of exact top-5 pairs survive SQ8
    val queries = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, e, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus = qz.select(col("vec_id"),
      Similarity.dequantInt8(col("codes"), col("q_lo"), col("q_scale"))
        .as("embedding"))
    val lossy = Similarity.bruteForceTopK(queries, corpus, "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & lossy).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall $recall below 0.8")
  }

  test("semantic dedup drops the higher-id near-twin within its cell only") {
    // two well-separated blobs; ids 2 and 3 are exact twins inside blob A
    def va(m: Double) = Array(1.0f, m.toFloat, 0f, 0f)
    def vb(m: Double) = Array(0f, 0.1f, 1.0f, m.toFloat)
    val vecs = Seq(
      0L -> va(0.0), 1L -> va(0.4), 2L -> va(0.8), 3L -> va(0.8),
      4L -> va(1.2),
      10L -> vb(0.0), 11L -> vb(0.4), 12L -> vb(0.8), 13L -> vb(1.2),
    ).toDF("vec_id", "embedding")
    val cents = Similarity.fitCentroids(vecs, "embedding", "vec_id",
      k = 2, iterations = 3)
    val out = Dedup.semanticDedup(vecs, cents, "embedding", "vec_id",
        minCos = 0.99)
      .as[(Long, Int, Boolean)].collect().toSeq
    val kept = out.filter(_._3).map(_._1).toSet
    assert(kept == Set(0L, 1L, 2L, 4L, 10L, 11L, 12L, 13L),
      s"unexpected survivors $kept")
    // the twins share a cell; the two blobs land in different cells
    val cellOf = out.map(t => t._1 -> t._2).toMap
    assert(cellOf(2L) == cellOf(3L))
    assert(cellOf(0L) != cellOf(10L))
    // hot-cell guard: cap below the cell size -> no pairs, all kept
    val capped = Dedup.semanticDedup(vecs, cents, "embedding", "vec_id",
      minCos = 0.99, maxCellSize = 2)
    assert(capped.filter(!col("kept")).count() == 0)
    // "returns EVERY vector" contract (ADVICE r16): a NULL id survives
    // to the output with its cell and verdict — the assign is a pure
    // projection, never an id-keyed join that would drop it
    val withNull = vecs.unionByName(
      Seq((Option.empty[Long], va(10.0))).toDF("vec_id", "embedding"))
    val nOut = Dedup.semanticDedup(withNull, cents, "embedding",
      "vec_id", minCos = 0.99)
    assert(nOut.count() == withNull.count())
    assert(nOut.filter(col("vec_id").isNull).count() == 1)
  }

  test("canonicalize keeps isolated docs and resolves transitive clusters") {
    val ids = (0L to 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.canonicalize(ids, pairs, "doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out.size == 10)
    assert(out.filter(t => Set(2L, 4L).contains(t._1))
      .forall(t => t._2 == 1L && !t._3))
    assert(out.filterNot(t => Set(2L, 4L).contains(t._1))
      .forall(t => t._2 == t._1 && t._3))
    // no pairs at all: every doc is its own canonical cluster
    val none = Dedup.canonicalize(ids,
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "doc_id")
    assert(none.filter(col("is_canonical")).count() == 10)
  }

  test("token budget: integer-exact rates, over-budget strata sampled down") {
    // stratum a: 4 docs x 10 tokens = 40; stratum b: 1 doc x 10 tokens
    // budget 1/2 of 50 = 25, split 2 ways = 12 each (integer floor):
    // rate_a = 12*10000/40 = 3000 bp, rate_b = min(10000, 12000) = 10000
    val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = ((0 to 3).map(i => (i.toLong, "a", ten)) :+ (9L, "b", ten))
      .toDF("doc_id", "lang", "text")
    val out = Sampling.tokenBudgetSummary(docs, "text", "lang", "doc_id",
        budgetNum = 1, budgetDen = 2)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a")._4 == 3000L && out("b")._4 == 10000L)
    assert(out("b")._5 == 1L && out("b")._6 == 10L) // under budget: keep all
    assert(out("a")._6 == out("a")._5 * 10)          // tokens track docs
    assert(out("a")._5 < 4)                          // sampled down
  }

  test("capPerGroup keeps top-k per group under the given order") {
    val rows = (for (g <- Seq("x", "y"); i <- 1 to 5)
      yield (g, s"$g$i", i.toDouble)).toDF("grp", "id", "score")
    val out = Sampling.capPerGroup(rows, "grp", 3,
        Seq(col("score").desc, col("id").asc))
      .select("grp", "id", "rank").as[(String, String, Int)].collect()
    assert(out.length == 6)
    assert(out.filter(_._1 == "x").map(_._2).toSet == Set("x5", "x4", "x3"))
    assert(out.forall(r => r._3 >= 1 && r._3 <= 3))
  }

  test("incremental band index: update union equals full recompute; " +
      "batch broadcasts, index side never shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("bandidx").toString
    val idx = s"$dir/idx"
    val corpus = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "text")
    val full = Dedup.minhashCandidates(corpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val u1 = Dedup.bandIndexUpdate(idx,
      corpus.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    val u2 = Dedup.bandIndexUpdate(idx,
      corpus.filter(col("doc_id") % 2 === 1), "text", "doc_id")
    val incr = (u1.collect() ++ u2.collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(incr == full)
    // pairs never duplicate across updates
    assert(u1.count() + u2.count() == incr.size)
    // the probe plan broadcasts the batch side: no Exchange may sit
    // between the index scan and the cross join
    val probe = spark.read.parquet(idx).join(
      broadcast(Dedup.lshBands(corpus.limit(10), "text", "doc_id")),
      Seq("band", "band_hash"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("pagerank: hub outranks leaves, fixed rounds are deterministic") {
    // star: 1..4 all link to 0; 0 links to itself
    val edges = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
      .toDF("src", "dst")
    val r = graft.functions.Graph.pagerank(edges, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(0L) > r(1L))
    // leaves have identical in-structure -> identical rank
    assert(Set(r(1L), r(2L), r(3L), r(4L)).size == 1)
    // leaf rank = (1-d)/N exactly (no inlinks)
    assert(math.abs(r(1L) - 0.15 / 5) < 1e-9)
    // two runs produce bit-identical ranks (rounded decimal discipline)
    val r2 = graft.functions.Graph.pagerank(edges, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == r2)
  }

  test("containment index: oversized ingest batch fails fast before " +
    "the broadcast; updateMany groups batches without changing the answer") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val d = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).limit(120)
    // fail-fast: the probe broadcasts batch-postings-sized frames by
    // contract; an over-cap batch must throw the named contract error,
    // not OOM the driver (r14 verdict #5)
    val capIdx = "/tmp/graft_cont_idx_cap"
    fs.delete(new org.apache.hadoop.fs.Path(capIdx), true)
    val ex = intercept[IllegalStateException] {
      Dedup.containmentIndexUpdate(capIdx, d, "text", "doc_id",
        maxBatchPostings = 100L)
    }
    assert(ex.getMessage.contains("maxBatchPostings"))
    // matched-frame cap (r16 verdict #7): the one-scan probe persists
    // the lake's vocab-restricted postings — when the batch's vocab
    // covers the lake, that frame approaches lake size; the cap turns
    // the executor-storage surprise into a named contract error. Build
    // a real lake first (the cap counts LAKE matches, so a bootstrap
    // never trips it), then probe with overlapping vocab under a tiny
    // cap; the throw precedes the postings append, so a retry at the
    // default cap sees an unpoisoned index.
    val mIdx = "/tmp/graft_cont_idx_matched_cap"
    fs.delete(new org.apache.hadoop.fs.Path(mIdx), true)
    Dedup.containmentIndexUpdate(mIdx, d.limit(60), "text", "doc_id")
      .count()
    val mEx = intercept[IllegalStateException] {
      Dedup.containmentIndexUpdate(mIdx, d, "text", "doc_id",
        maxMatchedPostings = 10L)
    }
    assert(mEx.getMessage.contains("maxMatchedPostings"))
    Dedup.containmentIndexUpdate(mIdx, d, "text", "doc_id").count()
    // updateMany == the same stream fed batch-by-batch == one-shot:
    // the pair space partitions identically under ANY grouping
    val oneShot = Dedup.prefixContainmentPairs(d, "text", "doc_id",
        shingleN = 3, theta = 0.6)
      .collect().map(_.toSeq).toSet
    val manyIdx = "/tmp/graft_cont_idx_many_spec"
    fs.delete(new org.apache.hadoop.fs.Path(manyIdx), true)
    val viaMany = (0 to 1).map(g =>
        Dedup.containmentIndexUpdateMany(manyIdx,
          Seq(3 * g, 3 * g + 1, 3 * g + 2).map(m =>
            d.filter(pmod(col("doc_id"), lit(6)) === m)),
          "text", "doc_id", shingleN = 3, theta = 0.6))
      .reduce(_ unionByName _).collect().map(_.toSeq).toSet
    assert(viaMany == oneShot)
    // group-of-1 degenerates to the plain update (same lake state)
    val oneIdx = "/tmp/graft_cont_idx_many_one"
    fs.delete(new org.apache.hadoop.fs.Path(oneIdx), true)
    val viaOnes = (0 to 1).map(m =>
        Dedup.containmentIndexUpdateMany(oneIdx,
          Seq(d.filter(pmod(col("doc_id"), lit(2)) === m)),
          "text", "doc_id", shingleN = 3, theta = 0.6))
      .reduce(_ unionByName _).collect().map(_.toSeq).toSet
    assert(viaOnes == oneShot)
    // grouped batches sharing a doc id fail fast (r15 verdict #4):
    // the grouped union would merge the two arrivals into one postings
    // set, silently violating the grouping==sequential law — while the
    // SAME id across separate sequential updates keeps its documented
    // re-ingestion semantics (exercised by the fresh-index call below)
    val dupIdx = "/tmp/graft_cont_idx_many_dup"
    fs.delete(new org.apache.hadoop.fs.Path(dupIdx), true)
    val dupEx = intercept[IllegalArgumentException] {
      Dedup.containmentIndexUpdateMany(dupIdx,
        Seq(d.filter(pmod(col("doc_id"), lit(6)) < 4),
          d.filter(pmod(col("doc_id"), lit(6)) < 2)), // residues 0,1 collide
        "text", "doc_id", shingleN = 3, theta = 0.6)
    }
    assert(dupEx.getMessage.contains("more than one grouped batch"))
    // the throw happened BEFORE any index mutation: a clean retry with
    // disjoint batches bootstraps the index normally
    Dedup.containmentIndexUpdateMany(dupIdx,
      Seq(d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1)),
      "text", "doc_id", shingleN = 3, theta = 0.6).count()
    // sequential re-ingestion of an already-indexed id still goes
    // through the single-update path without throwing
    Dedup.containmentIndexUpdate(dupIdx,
      d.filter(pmod(col("doc_id"), lit(6)) === 0), "text", "doc_id",
      shingleN = 3, theta = 0.6).count()
  }

  test("embedding index rebuild: over-cap recovery at a raised cap and " +
    "changed planes equals a fresh incremental run; updates resume") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val e = graft.Tables.load(spark, sf(), "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.withColumn("cos", round(col("cos"), 9))
        .as[(Long, Long, Double)].collect().toSet
    val idx = "/tmp/graft_emb_idx_rebuild_spec"
    fs.delete(new org.apache.hadoop.fs.Path(idx), true)
    // build the lake in two updates at planes=8, then hit the cap
    (0 to 1).foreach(m => Dedup.embeddingIndexUpdate(idx,
      e.filter(pmod(col("vec_id"), lit(3)) === m),
      "embedding", "vec_id", planes = 8, minCos = 0.35).count())
    val ex = intercept[IllegalStateException] {
      Dedup.embeddingIndexUpdate(idx,
        e.filter(pmod(col("vec_id"), lit(3)) === 2),
        "embedding", "vec_id", planes = 8, minCos = 0.35,
        maxBucketSize = 1)
    }
    // the exception routes callers to the rebuild entry point
    assert(ex.getMessage.contains("embeddingIndexRebuild"))
    // rebuild the 2/3 lake at DIFFERENT planes (6) and a raised cap:
    // returned pairs must equal the one-shot operator over the lake's
    // corpus at the new parameters (== a fresh incremental run's
    // cumulative union, by the already-proven equivalence law)
    val lakeCorpus = e.filter(pmod(col("vec_id"), lit(3)) < 2)
    val rebuilt = pairs(Dedup.embeddingIndexRebuild(spark, idx,
      planes = 6, minCos = 0.35, maxBucketSize = 1000000))
    val oneShot6 = pairs(Dedup.embeddingNearDups(lakeCorpus,
      "embedding", "vec_id", planes = 6, minCos = 0.35,
      maxBucketSize = 1000000))
    assert(rebuilt == oneShot6 && rebuilt.nonEmpty)
    // the swapped-in lake serves further updates at the new planes:
    // the third batch's update completes the full-corpus pair set
    val u3 = pairs(Dedup.embeddingIndexUpdate(idx,
      e.filter(pmod(col("vec_id"), lit(3)) === 2),
      "embedding", "vec_id", planes = 6, minCos = 0.35,
      maxBucketSize = 1000000))
    val fullOneShot6 = pairs(Dedup.embeddingNearDups(e,
      "embedding", "vec_id", planes = 6, minCos = 0.35,
      maxBucketSize = 1000000))
    assert(rebuilt ++ u3 == fullOneShot6)
    // rebuilt lake keeps the partition-pruned probe layout
    val plan = Dedup.embeddingIndexScan(spark, idx, Seq(0, 1))
      .queryExecution.executedPlan.toString
    val idxScan = plan.linesIterator
      .find(l => l.contains("rebuild_spec") && l.contains("FileScan"))
      .getOrElse("")
    assert(idxScan.contains("PartitionFilters: [bucket"),
      "pruning lost after rebuild:\n" + plan)
  }

  test("containment index rebuild: fresh-df re-rank preserves probe " +
    "answers and re-ranks emerged-hot shingles out of prefixes") {
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val d = graft.Tables.load(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).limit(120)
    val probe = d.filter(pmod(col("doc_id"), lit(4)) === 3)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    def run(idx: String, rebuild: Boolean): Set[Seq[Any]] = {
      fs.delete(new org.apache.hadoop.fs.Path(idx), true)
      var out = Set.empty[Seq[Any]]
      for (m <- 0 to 2)
        out ++= Dedup.containmentIndexUpdate(idx,
            d.filter(pmod(col("doc_id"), lit(4)) === m),
            "text", "doc_id", theta = 0.6)
          .collect().map(_.toSeq)
      if (rebuild) Dedup.containmentIndexRebuild(spark, idx)
      out ++ Dedup.containmentIndexUpdate(idx, probe,
          "text", "doc_id", theta = 0.6)
        .collect().map(_.toSeq)
    }
    val plain = run("/tmp/graft_cont_idx_rb_plain", rebuild = false)
    val rebuilt = run("/tmp/graft_cont_idx_rb", rebuild = true)
    assert(rebuilt == plain && plain.nonEmpty)
    // the re-rank actually uses the FRESH corpus dfs: a shingle that
    // was rare at bootstrap but saturated the corpus afterwards must
    // sort to the BOTTOM of every doc's order after the rebuild
    val idx2 = "/tmp/graft_cont_idx_rb_order"
    fs.delete(new org.apache.hadoop.fs.Path(idx2), true)
    // bootstrap: 3 distinct docs, NONE carrying the future-hot trigram
    // — it must be unseen at freeze time (frozen df 0)
    val boot = Seq((1L, "alpha beta gamma delta"),
      (2L, "delta epsilon zeta eta"),
      (3L, "theta iota kappa lambda")).toDF("doc_id", "text")
    Dedup.containmentIndexUpdate(idx2, boot, "text", "doc_id",
      theta = 0.9).count()
    // then "x x x" floods in: 30 docs all carrying it, each alongside
    // three doc-unique (also df-0) shingles
    val flood = (10L until 40L).map(i =>
      (i, s"x x x unique$i filler$i tail$i")).toDF("doc_id", "text")
    Dedup.containmentIndexUpdate(idx2, flood, "text", "doc_id",
      theta = 0.9).count()
    def hotRanks(path: String): Seq[(Long, Int)] =
      spark.read.parquet(s"$path/postings")
        .filter(col("s") === "x x x")
        .select(col("id"),
          (col("__n") - col("__rk")).cast("int").as("fromBottom"))
        .as[(Long, Int)].collect().toSeq
    // before rebuild: "x x x" carries frozen df 0 like its doc-unique
    // neighbors, so the hash tie-break scatters it across positions —
    // prefix-eligible in some docs (the speed degradation the rebuild
    // exists to cure)
    assert(hotRanks(idx2).exists(_._2 > 0),
      "test premise broken: hot shingle already at the bottom everywhere")
    Dedup.containmentIndexRebuild(spark, idx2)
    // after rebuild under the fresh df (30 occurrences — the corpus
    // max), "x x x" is the LAST-ranked shingle in every doc carrying it
    assert(hotRanks(idx2).forall(_._2 == 0),
      s"hot shingle not re-ranked to the bottom: ${hotRanks(idx2)}")
  }

  test("incremental band index caps hot buckets on the TOTAL bucket size") {
    val dir = java.nio.file.Files.createTempDirectory("bandidxcap").toString
    val idx = s"$dir/idx"
    // 8 exact copies arriving 4 + 4: a cap of 6 must kill the bucket
    // in the second update (4 indexed + 4 new > 6) but keep the first
    // (4 ≤ 6 → C(4,2)=6 within-batch pairs)
    val copies = (0L until 8L).map(i => (i, "same text repeated " * 5))
      .toDF("doc_id", "text")
    val u1 = Dedup.bandIndexUpdate(idx,
      copies.filter(col("doc_id") < 4), "text", "doc_id", maxBucketSize = 6)
    val u2 = Dedup.bandIndexUpdate(idx,
      copies.filter(col("doc_id") >= 4), "text", "doc_id", maxBucketSize = 6)
    assert(u1.count() == 6)
    assert(u2.count() == 0)
  }

  /** Pairs of one [[Dedup.bandIndexUpdate]] call, as a set. */
  private def bandUpdate(idx: String, docs: Seq[(Long, String)],
                         maxBucketSize: Int = 1000): Set[(Long, Long)] =
    Dedup.bandIndexUpdate(idx, docs.toDF("doc_id", "text"), "text",
        "doc_id", maxBucketSize = maxBucketSize)
      .as[(Long, Long)].collect().toSet

  // three texts with no 3-word shingle in common: docs with the same
  // text share all four band buckets, docs with different texts none
  private val textT = "same text repeated " * 5
  private val textU = "another entirely different sentence about nothing " * 3
  private val textV = "a third unrelated line of words here " * 3

  test("band index: an id already indexed that arrives again pairs with " +
    "the others in its buckets, never with itself") {
    val idx = java.nio.file.Files.createTempDirectory("bandreid").toString +
      "/idx"
    assert(bandUpdate(idx, Seq(1L -> textT, 2L -> textT, 3L -> textU)) ==
      Set((1L, 2L)))
    // 2 arrives again with its text, 3 with a new one; 5 joins 3's old
    // buckets
    assert(bandUpdate(idx, Seq(2L -> textT, 3L -> textT, 5L -> textU)) ==
      Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 5L)))
  }

  test("band index: the same id twice in one batch is one document") {
    val idx = java.nio.file.Files.createTempDirectory("bandtwice").toString +
      "/idx"
    assert(bandUpdate(idx, Seq(7L -> textT, 7L -> textT, 8L -> textT,
      9L -> textV, 9L -> textV)) == Set((7L, 8L)))
    assert(bandUpdate(idx, Seq(10L -> textT, 10L -> textT, 11L -> textV)) ==
      Set((7L, 10L), (8L, 10L), (9L, 11L)))
  }

  test("band index: a bucket that crosses maxBucketSize mid-stream keeps " +
    "its early pairs and yields none once over the cap") {
    val idx = java.nio.file.Files.createTempDirectory("bandcross").toString +
      "/idx"
    // the T bucket grows 3 → 4 (at the cap of 4, kept) → 5 → 6 (over)
    assert(bandUpdate(idx, Seq(0L -> textT, 1L -> textT, 2L -> textT), 4) ==
      Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(bandUpdate(idx, Seq(3L -> textT), 4) ==
      Set((0L, 3L), (1L, 3L), (2L, 3L)))
    assert(bandUpdate(idx, Seq(4L -> textT, 5L -> textU, 6L -> textU), 4) ==
      Set((5L, 6L)))
    assert(bandUpdate(idx, Seq(7L -> textT, 8L -> textU), 4) ==
      Set((5L, 8L), (6L, 8L)))
  }
}
