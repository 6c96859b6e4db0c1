package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps}

/** Standalone scale-stress measurement (NOT part of the correctness gate —
  * timings are not oracleable). The default mode:
  *
  * `corpus10x` (default): materializes a 10× corpus from the sf tables —
  * ten copies with shifted ids, where text is per-copy letter-substituted
  * and embeddings are per-copy diagonally rescaled so copies are NOT
  * near-duplicates of each other (a naive union would plant 10 clones of
  * every document/vector, growing the TRUE pair count ~100× and telling
  * us nothing about the plan) — then times the bucketed/blocked/sketched
  * operators at sf0.1 and at 10× side by side. The claim under test: the
  * bucketed shapes grow ~linearly with data; any ≳100× growth on 10× data
  * falsifies that operator's scale story. Also runs exact vs LSH-blocked
  * near-pairs at threshold 0.9 at BOTH scales — the regime the LSH op
  * exists for — so the crossover (exact grows ~quadratically, blocked
  * ~linearly) is bench-visible, not just spec-asserted.
  *
  * Results are recorded in BENCHNOTES.md.
  */
object ScaleBench {
  private val COPIES = 10
  private val SHIFT = 100000000L

  /** Per-copy 1:1 letter map: rotation over the 9 most frequent letters
    * COMPOSED with an independent rotation over the next 8 — 9×8 = 72
    * distinct maps, so corpora up to 72 copies never repeat a map (a
    * single 9-letter rotation repeats at copy 9, which would plant exact
    * cross-copy text duplicates and corrupt the growth measurement).
    */
  private val alpha = "etaoinshr"
  private val alpha2 = "dlucmfwy"
  private def substituted(i: Int): org.apache.spark.sql.Column = {
    val r1 = i % alpha.length
    val r2 = (i / alpha.length) % alpha2.length
    val t1 = translate(col("text"), alpha, alpha.drop(r1) + alpha.take(r1))
    if (r2 == 0) t1 else translate(t1, alpha2, alpha2.drop(r2) + alpha2.take(r2))
  }

  /** Bump when the synthetic-corpus construction changes (substitution
    * maps, rescale scheme, id shifts): reuse requires the on-disk corpus
    * to carry the SAME version, or it is rebuilt. Round 7 found exactly
    * this staleness class in the wild — a pre-round-6 10× corpus (single
    * 9-letter rotation, so copy 9 exactly cloned copy 0) passed the
    * _SUCCESS checks and silently tripled the measured 10× dedup pair
    * counts. A crash-partial corpus is caught by the per-table _SUCCESS
    * check; a scheme change is caught only by this stamp.
    */
  private val SchemeVersion = "v2-composed-rotation"

  private def buildCorpus(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int = COPIES, tables: Set[String] =
        Set("documents", "embeddings", "events", "orders", "lineitem")): Unit = {
    // Reuse only when EVERY selected table has a _SUCCESS marker — a crash
    // mid-build leaves the early tables complete and the rest missing, and
    // checking a single table would treat that partial corpus as done —
    // AND the scheme stamp matches the current construction code.
    val stamp = new java.io.File(s"$outDir/_graft_scheme")
    val stampOk = stamp.isFile &&
      new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
        .trim == SchemeVersion
    val exists = stampOk && tables.forall(tb =>
      new java.io.File(s"$outDir/$tb.parquet/_SUCCESS").isFile)
    if (exists) { println(s"[scale] reusing corpus at $outDir"); return }
    println(s"[scale] building ${copies}x corpus at $outDir (${tables.mkString(",")})")

    // documents: per-copy substitution (see [[substituted]]) rewrites most
    // words, so shingles/minhashes/simhashes of different copies are
    // unrelated — each copy is an independent corpus with the SAME internal
    // near-dup structure (a 1:1 letter map preserves within-copy shingle
    // equality exactly).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    if (tables("documents")) (0 until copies).map { i =>
      docs.select(
        (col("doc_id") + lit(i * SHIFT)).as("doc_id"),
        (if (i == 0) col("text") else substituted(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    // embeddings: per-copy diagonal rescale with signs/magnitudes drawn
    // from a hash of (copy, dim) — a fixed linear map per copy, so
    // within-copy cosine structure survives (near-dups stay near-dups)
    // while cross-copy cosines collapse toward 0 (E[s_i·s_j] = 0).
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    if (tables("embeddings")) (0 until copies).map { i =>
      val scaled =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          x * ((pmod(hash(lit(i * 7919), j), lit(2000)) - lit(1000)).cast("float")
            / lit(1000.0f)))
      emb.select((col("vec_id") + lit(i * SHIFT)).as("vec_id"),
        scaled.as("embedding"), col("label"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val events = spark.read.parquet(s"$sfDir/events.parquet")
    if (tables("events")) (0 until copies).map { i =>
      events.select((col("event_id") + lit(i * SHIFT)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * SHIFT)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    if (tables("orders")) (0 until copies).map { i =>
      orders.withColumn("o_orderkey", col("o_orderkey") + lit(i * SHIFT))
        .withColumn("o_custkey", col("o_custkey") + lit(i * SHIFT))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    if (tables("lineitem")) (0 until copies).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i * SHIFT))
        .withColumn("l_partkey", col("l_partkey") + lit(i * SHIFT))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * SHIFT))
    }.reduce(_.unionAll(_))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")

    // stamp LAST: a crash anywhere above leaves no stamp -> full rebuild
    java.nio.file.Files.write(stamp.toPath,
      SchemeVersion.getBytes("UTF-8"))
  }

  // the near-pairs 0.9 regime config proven exact-recall in AnnClusteredSpec
  private val NP9_BITS = 12
  private val NP9_TABLES = 24
  private val NP9_SEED = 99L

  private def scaleQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dd_minhash" -> SparkEntry.queries("dd_minhash"),
    "dd_simhash" -> SparkEntry.queries("dd_simhash"),
    "dd_clusters_star" -> SparkEntry.queries("dd_clusters_star"),
    "ev_heavy_hitters" -> SparkEntry.queries("ev_heavy_hitters"),
    "q30_kmv_distinct" -> SparkEntry.queries("q30_kmv_distinct"),
    "q33_hist_quantile" -> SparkEntry.queries("q33_hist_quantile"),
    "q34_quantile_refine" -> SparkEntry.queries("q34_quantile_refine"),
    "dd_containment" -> SparkEntry.queries("dd_containment"),
    // the gate binding's FIXED k=16: cluster sizes grow with the corpus,
    // so within-cluster pair work grows quadratically — the knob SemDeDup
    // tunes is k ∝ n, demonstrated by the _scaledk twin below
    "emb_semantic_dedup" -> SparkEntry.queries("emb_semantic_dedup"),
    "emb_semantic_dedup_scaledk" -> ((s: SparkSession, d: String) => {
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val k = math.max(16L, e.count() / 125) // constant expected cluster size
      SimilarityOps.semanticDedup(e,
        broadcast(e.filter(col("vec_id") < k)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"))), 0.40)
    }),
    "knn_lsh" -> SparkEntry.queries("knn_lsh"),
    // round-5 continuation additions: chunk dedup (hash-keyed dup shuffle),
    // the dedup apply chain, DSIR scoring (B-row broadcast model), funnel
    // (bounded-gap interval join), PQ encode + ADC scan
    "tx_chunk_dedup" -> SparkEntry.queries("tx_chunk_dedup"),
    "dd_keep_canonical" -> SparkEntry.queries("dd_keep_canonical"),
    "tx_dsir" -> SparkEntry.queries("tx_dsir"),
    "ev_funnel" -> SparkEntry.queries("ev_funnel"),
    "emb_pq_codes" -> SparkEntry.queries("emb_pq_codes"),
    "knn_pq" -> SparkEntry.queries("knn_pq"),
    "dd_minhash_incr" -> SparkEntry.queries("dd_minhash_incr"),
    "dd_pagerank" -> SparkEntry.queries("dd_pagerank"),
    "tx_bm25" -> SparkEntry.queries("tx_bm25"),
    "knn_ivfpq" -> SparkEntry.queries("knn_ivfpq"),
    "ev_scd2" -> SparkEntry.queries("ev_scd2"),
    "ev_scd2_lookup" -> SparkEntry.queries("ev_scd2_lookup"),
    "q35_profile" -> SparkEntry.queries("q35_profile"),
    // round-6 continuation additions: classifier apply (broadcast model),
    // semantic decontamination (broadcast bench, corpus-shuffle-free),
    // bottom-k Jaccard (sketch-sized pairwise stage), batch layouts,
    // data card, normalization, skew pre-flight
    "tx_score_linear" -> SparkEntry.queries("tx_score_linear"),
    "emb_decontaminate" -> SparkEntry.queries("emb_decontaminate"),
    "q36_kmv_jaccard" -> SparkEntry.queries("q36_kmv_jaccard"),
    "tx_length_buckets" -> SparkEntry.queries("tx_length_buckets"),
    "tx_corpus_report" -> SparkEntry.queries("tx_corpus_report"),
    "emb_normalize" -> SparkEntry.queries("emb_normalize"),
    "q37_skew_report" -> SparkEntry.queries("q37_skew_report"),
    "near_pairs_exact_09" -> ((s: SparkSession, d: String) =>
      SimilarityOps.nearPairs(s.read.parquet(s"$d/embeddings.parquet"), 0.9)),
    "near_pairs_lsh_09" -> ((s: SparkSession, d: String) =>
      SimilarityOps.nearPairsLsh(s.read.parquet(s"$d/embeddings.parquet"), 0.9,
        NP9_BITS, NP9_TABLES, NP9_SEED)),
    // round-7 continuation additions: df-capped TF-IDF postings join,
    // prefix-filtered exact-Jaccard join, the (user, week)-reduced
    // retention matrix, vocabulary-keyed trigram LM
    "tx_tfidf_pairs" -> SparkEntry.queries("tx_tfidf_pairs"),
    "dd_prefix_jaccard" -> SparkEntry.queries("dd_prefix_jaccard"),
    "ev_retention" -> SparkEntry.queries("ev_retention"),
    "tx_trigram_ppl" -> SparkEntry.queries("tx_trigram_ppl"),
    // kNN graph at the gate's FIXED 10 labels: block populations grow
    // with the corpus, so within-block pair work grows quadratically —
    // the production knob is routing granularity ∝ n (centroid count,
    // exactly the semantic-dedup scaledk story), shown by the twin
    "emb_knn_graph" -> SparkEntry.queries("emb_knn_graph"),
    "emb_knn_graph_scaledblocks" -> ((s: SparkSession, d: String) => {
      val e = s.read.parquet(s"$d/embeddings.parquet")
      val k = math.max(16L, e.count() / 125) // constant expected block size
      SimilarityOps.labelKnnGraph(
        SimilarityOps.assignToCentroids(e,
            broadcast(e.filter(col("vec_id") < k)
              .select(col("vec_id").as("cid"), col("embedding").as("ce"))))
          .withColumnRenamed("cid", "label"), 5)
    }))

  // dev knob: SPARK_GRAFT_SCALE_ONLY=q1,q2 re-measures a subset (the
  // recorded tables always come from full runs)
  private def selected(name: String): Boolean =
    sys.env.get("SPARK_GRAFT_SCALE_ONLY").forall(_.split(",").contains(name))

  /** Least-squares slope of log t over log k for `(k, t)` points. */
  private def fitSlope(pts: Seq[(Double, Double)]): Double = {
    val lp = pts.map { case (k, t) => (math.log(k), math.log(t)) }
    val n = lp.size
    val (mx, my) = (lp.map(_._1).sum / n, lp.map(_._2).sum / n)
    lp.map(p => (p._1 - mx) * (p._2 - my)).sum /
      lp.map(p => (p._1 - mx) * (p._1 - mx)).sum
  }

  private def runCorpus10x(spark: SparkSession, sfDir: String): Unit = {
    val tenxDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10x")
    buildCorpus(spark, sfDir, tenxDir)
    // warm page cache at both scales
    Seq(sfDir, tenxDir).foreach { d =>
      Seq("documents", "embeddings", "events", "lineitem", "orders")
        .foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    }
    // recall sanity at base scale: the 0.9-blocked path must reproduce the
    // exact pair set before its timing means anything
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exactPairs = SimilarityOps.nearPairs(e, 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = SimilarityOps.nearPairsLsh(e, 0.9, NP9_BITS, NP9_TABLES, NP9_SEED)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"[scale] near-pairs@0.9 base-scale recall check: " +
      s"exact=${exactPairs.size} lsh=${lshPairs.size} equal=${exactPairs == lshPairs}")
    println(f"| query | sf0.1 s | 10x s | growth |")
    println(f"|---|---|---|---|")
    val rows = scaleQueries.filter(q => selected(q._1)).map { case (name, fn) =>
      val base = Measure.minOf(2)(Measure.noop(fn(spark, sfDir)))
      val tenx = Measure.minOf(2)(Measure.noop(fn(spark, tenxDir)))
      println(f"| $name | $base%.3f | $tenx%.3f | ${tenx / base}%.1fx |")
      (name, base, tenx)
    }
    val json = rows.map { case (n, b, t) =>
      f""""$n":{"base_s":$b%.3f,"tenx_s":$t%.3f,"growth":${t / b}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale10x","copies":$COPIES,"queries":$json}""")
  }

  /** Three-point growth CURVE (1×/10×/30×) for the three headline bucketed
    * claims — two points bound a ratio, three fit an exponent. Prints the
    * per-scale min-of-two timings and the least-squares slope of
    * log(time) vs log(scale): slope ≈ 1 is the linear-growth claim, the
    * quadratic anchor would show ≈ 2. 30× tables are built only for what
    * these ops read (documents/embeddings/events/orders).
    */
  private def runCurve(spark: SparkSession, sfDir: String): Unit = {
    val tenxDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10x")
    val thirtyDir = sys.env.getOrElse("SPARK_GRAFT_SCALE30_DIR", "/tmp/graft_scale30x")
    val tables = Set("documents", "embeddings", "events", "orders")
    buildCorpus(spark, sfDir, tenxDir)
    buildCorpus(spark, sfDir, thirtyDir, copies = 30, tables = tables)
    Seq(sfDir, tenxDir, thirtyDir).foreach { d =>
      tables.foreach(t => spark.read.parquet(s"$d/$t.parquet").count())
    }
    // Queries take the SCALE so LSH can demonstrate the production knob:
    // with bits FIXED the 2^bits buckets saturate as n grows and candidate
    // verification degrades toward n²/2^bits (visible in the fixed-config
    // row's 10×→30× segment); scaling bits ≈ 12 + log2(scale) keeps bucket
    // occupancy constant and the growth near-linear. Narrower buckets
    // lower per-table recall (found-pair counts reported alongside) — a
    // production deployment also grows `tables` to hold the recall target;
    // the cost model is n·tables·bits for signatures + occupancy·n for
    // candidates, both linear in n at constant occupancy.
    def scaledBits(k: Double): Int =
      NP9_BITS + math.round(math.log(k) / math.log(2)).toInt
    val curveQueries: Seq[(String, (SparkSession, String, Double) => DataFrame)] = Seq(
      "near_pairs_lsh_09" -> ((s: SparkSession, d: String, _: Double) =>
        SimilarityOps.nearPairsLsh(s.read.parquet(s"$d/embeddings.parquet"), 0.9,
          NP9_BITS, NP9_TABLES, NP9_SEED)),
      "near_pairs_lsh_09_scaledbits" -> ((s: SparkSession, d: String, k: Double) =>
        SimilarityOps.nearPairsLsh(s.read.parquet(s"$d/embeddings.parquet"), 0.9,
          scaledBits(k), NP9_TABLES, NP9_SEED)),
      "tx_chunk_dedup" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("tx_chunk_dedup")(s, d)),
      "ev_heavy_hitters" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("ev_heavy_hitters")(s, d)),
      // round-6 continuation: cross-source sketch Jaccard (pairwise stage
      // is G·k sketch rows regardless of corpus size — the curve isolates
      // the linear shingle-scan term) and classifier apply (broadcast
      // model, one scan)
      "q36_kmv_jaccard" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("q36_kmv_jaccard")(s, d)),
      "tx_score_linear" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("tx_score_linear")(s, d)),
      // round-7 continuation: full within-corpus MinHash pairs (band-
      // bucketed inverted index — the linear-growth claim for the
      // headline dedup path)
      "dd_minhash" -> ((s: SparkSession, d: String, _: Double) =>
        DedupOps.minhashPairs(s.read.parquet(s"$d/documents.parquet"))),
      // round-7 additions: df-capped inverted-index cosine pairs (postings
      // cost Σdf² with df bounded; term space grows with the corpus, per-
      // term df does not — the letter-substituted copies share no
      // shingles) and pigeonhole Hamming linkage on the fixed-width
      // prefix key (the regime where length banding has no leverage)
      "tx_tfidf_pairs" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.tfidfPairs(s.read.parquet(s"$d/documents.parquet"))),
      "dd_hamming" -> ((s: SparkSession, d: String, _: Double) =>
        DedupOps.hammingPairs(s.read.parquet(s"$d/documents.parquet"),
          col("doc_id"), substring(col("text"), 1, 40), k = 2)),
      // round-7 (cont.): constraint suite (k row-level checks = ONE shared
      // scan + one key shuffle for the unique check — the flat-per-row
      // claim) and sequential anomaly verdicts (one shuffle + per-group
      // sort; parallelism = groups, the documented batch-form bound — the
      // unbounded-data shape is anomalyStream's 3-longs-per-group state)
      "aud_dq_events" -> ((s: SparkSession, d: String, _: Double) => {
        import graft.operators.AuditOps.Check._
        graft.operators.AuditOps.dataQualityReport(
          Map("events" -> graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet"))),
          Seq(NotNull("events", "value"), InRange("events", "value", "0", "1000"),
            AcceptedValues("events", "event_type",
              Seq("click", "view", "purchase", "signup", "error")),
            UniqueKey("events", Seq("event_id"))))
      }),
      "aud_anomaly_cum" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("aud_anomaly_cum")(s, d)),
      // treat step (two sketch-refine percentile passes + broadcast-clip
      // scan — each pass counter-agg-bound) and the distinct-score-group
      // AUC (one hash agg + a window over groups, data never sorts)
      "aud_winsorize" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.winsorize(
          s.read.parquet(s"$d/events.parquet"), col("value"),
          "event_type", 25, 975)),
      "aud_auc" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.aucReport(
          graft.operators.Tables.normalizeTs(s.read.parquet(s"$d/events.parquet")),
          floor(col("value")), col("event_type") === "error")),
      // round-8 additions (VERDICT r7 #8): the two r7 linkage ops with 1×
      // points but no fitted exponents yet. dd_fuzzy blocks on (length
      // band, lang) — lang survives the per-copy letter substitution, so
      // block population grows ∝ scale and the candidate term's growth is
      // exactly what the exponent should expose; dd_prefix_jaccard's
      // prefix postings are shingle-keyed, and substituted copies share no
      // shingles, so per-posting df stays flat while the term space grows.
      "dd_fuzzy" -> ((s: SparkSession, d: String, _: Double) =>
        DedupOps.fuzzyPairs(s.read.parquet(s"$d/documents.parquet"),
          col("doc_id"), concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
          k = 2, blockWidth = 4, blockOn = Seq(col("lang")))),
      // the production knob for the fixed-config row's quadratic growth
      // (blocks on copy-invariant attributes grow ∝ corpus → candidates
      // ∝ corpus²): COMPOUND blocking whose key cardinality grows with
      // the corpus — here the ingest-batch id (copy index), standing in
      // for the postcode/source/crawl-batch attributes record-linkage
      // practice adds as a corpus grows. Constant block occupancy →
      // near-linear growth, the semantic_dedup_scaledk story.
      "dd_fuzzy_scaledblocks" -> ((s: SparkSession, d: String, _: Double) =>
        DedupOps.fuzzyPairs(s.read.parquet(s"$d/documents.parquet"),
          col("doc_id"), concat_ws(" ", slice(split(col("text"), " "), 1, 3)),
          k = 2, blockWidth = 4,
          blockOn = Seq(col("lang"), floor(col("doc_id") / SHIFT)))),
      "dd_prefix_jaccard" -> ((s: SparkSession, d: String, _: Double) =>
        DedupOps.prefixJaccardPairs(s.read.parquet(s"$d/documents.parquet"))),
      // round-8 additions: the CDC merge (one max_by hash agg), the
      // single-shuffle attribution pair stream (users grow with the
      // corpus, per-user touch volume is window-bounded → linear), the
      // melt-then-lag completeness trend, the vocab-bounded BPE trainer
      // (3 rounds; corpus term is the one vocabulary-building scan) and
      // the pure-projection rule filter / encode passes
      "ev_apply_changes" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("ev_apply_changes")(s, d)),
      "ev_attribution" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("ev_attribution")(s, d)),
      "aud_completeness" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("aud_completeness")(s, d)),
      "tx_bpe_train" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.bpeTrain(
          s.read.parquet(s"$d/documents.parquet"), 3)),
      "tx_gopher_rules" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.gopherRules(
          s.read.parquet(s"$d/documents.parquet"))),
      // round-8 (cont.): the banded KS CDF (distinct-value agg bound —
      // copies repeat o_totalprice, so the distinct-value table stays
      // flat while per-value counts scale: the curve should expose the
      // scan-bound shape), and the
      // shingle-novelty first-occurrence pass (ids+hashes shuffle only;
      // substituted copies share no shingles so the hash table grows ∝
      // corpus while per-key fan-in stays flat)
      "aud_ks" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.ksReport(
          s.read.parquet(s"$d/orders.parquet")
            .filter(col("o_orderstatus").isin("F", "O")),
          col("o_totalprice"), col("o_orderstatus") === "F")),
      "tx_novelty" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.noveltyReport(
          s.read.parquet(s"$d/documents.parquet"))),
      // gap fill reduces to (group, day) immediately — the curve should
      // be the one reduction scan; quarantine's frontier joins move
      // 8-byte ids over the (linear-in-corpus) minhash edge set
      "ev_gap_fill" -> ((s: SparkSession, d: String, _: Double) => {
        val ev = graft.operators.Tables.normalizeTs(
          s.read.parquet(s"$d/events.parquet"))
        graft.operators.EventOps.gapFill(ev,
          call_function("div", col("ts").cast("long"), lit(1000L)))
      }),
      "dd_quarantine" -> ((s: SparkSession, d: String, _: Double) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.operators.GraphOps.quarantineSet(
          DedupOps.minhashPairs(docs),
          docs.filter(col("doc_id") % 45 === 0).select("doc_id"), 3)
      }),
      // vocabulary-bounded count aggs + marginal joins (bigram explode is
      // the scan term); per-source KS windows partition by group; rolling
      // windows run over the bounded (group, day) daily table
      "tx_pmi" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.pmiCollocations(
          s.read.parquet(s"$d/documents.parquet"))),
      "aud_ks_by_source" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.ksReportBy(
          s.read.parquet(s"$d/documents.parquet"),
          col("n_chars"), col("lang") === "en", "source")),
      "ev_rolling7" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.rollingDaily(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)))),
      "aud_threshold" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.thresholdReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          floor(col("value")), col("event_type") === "error")),
      // bitext anchor/twin pair in the FIXED-PROBE-BATCH shape (the
      // dd_minhash_incr_probe pattern — a constant 250-vector batch mined
      // against the growing other side; the full-corpus exhaustive form
      // is O(|A|·|B|) and intractable past 10x, which is the point of
      // the anchor): exhaustive cost grows ∝ |B|, the LSH-blocked
      // production shape ∝ bucket collisions at scaled bits
      "emb_bitext_probe" -> ((s: SparkSession, d: String, _: Double) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        SimilarityOps.bitextMine(
          e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 500)
            .select("vec_id", "embedding"),
          e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding"), 4)
      }),
      "emb_bitext_probe_lsh" -> ((s: SparkSession, d: String, k: Double) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        SimilarityOps.bitextMineLsh(
          e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 500)
            .select("vec_id", "embedding"),
          e.filter(col("vec_id") % 2 === 1).select("vec_id", "embedding"),
          4, 0.0, scaledBits(k), 16, 4241L)
      }),
      // round-9 additions: the shuffle-free CDC chunker (per-token work —
      // the linear claim) and its dedup apply (adds the 8-byte-hash dup
      // shuffle + per-doc rebuild); PSI (counts-only — near-flat);
      // two-proportion readout (one map-side agg to |variants| rows);
      // the per-source calibration/operating-point panels (bounded
      // group-keyed windows over distinct scores)
      "tx_cdc_chunks" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.cdcChunks(
          s.read.parquet(s"$d/documents.parquet"), 3, 5)),
      "tx_cdc_dedup" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.cdcChunkDedup(
          s.read.parquet(s"$d/documents.parquet"), 3, 3)),
      "aud_psi" -> ((s: SparkSession, d: String, _: Double) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.operators.AuditOps.psiReport(docs,
          docs.filter(col("doc_id") % 3 =!= 0), "source")
      }),
      "aud_abtest" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.abTestReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          concat(lit("v"), pmod(col("user_id"), lit(3))),
          col("event_type") === "purchase", "v0")),
      "aud_calibration_by_source" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.calibrationReportBy(
          s.read.parquet(s"$d/documents.parquet"),
          col("n_chars") / 2000.0, col("lang") === "en", "source")),
      "aud_threshold_by_source" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.thresholdReportBy(
          s.read.parquet(s"$d/documents.parquet"),
          col("n_chars"), col("lang") === "en", "source")),
      // round-9 additions (cont.): gains curves (banded global + the
      // group-partitioned form — counts-only, bounded outputs), the KMV
      // set-op pair table (G·k sketch rows regardless of corpus size),
      // the degree-oriented triangle census (wedge volume is the graph's
      // own, not the corpus's), and MMR rerank over a FIXED query batch
      // (pool-bounded pairwise work per query; corpus only pays the
      // brute-candidate scan)
      "aud_gains" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.gainsReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          floor(col("value")), col("event_type") === "error")),
      "aud_gains_by_source" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.gainsReportBy(
          s.read.parquet(s"$d/documents.parquet"),
          col("n_chars"), col("lang") === "en", "source", 5)),
      "q42_kmv_setops" -> ((s: SparkSession, d: String, _: Double) =>
        SparkEntry.queries("q42_kmv_setops")(s, d)),
      "dd_triangles" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.GraphOps.triangleStats(
          DedupOps.minhashPairs(s.read.parquet(s"$d/documents.parquet")))),
      "knn_mmr" -> ((s: SparkSession, d: String, _: Double) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        SimilarityOps.mmrTopK(e,
          e.filter(col("vec_id") < 50)
            .select(col("vec_id").as("query_id"), col("embedding").as("qe")),
          k = 4, pool = 10)
      }),
      // round-9 final wave: per-source drift/PSI — counts-only, bounded
      // (sources × langs) outputs; cost is the two snapshot scans
      "aud_drift_by_source" -> ((s: SparkSession, d: String, _: Double) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.operators.AuditOps.categoricalDriftBy(docs,
          docs.filter(col("doc_id") % 3 =!= 0), "lang", "source")
      }),
      "aud_psi_by_source" -> ((s: SparkSession, d: String, _: Double) => {
        val docs = s.read.parquet(s"$d/documents.parquet")
        graft.operators.AuditOps.psiReportBy(docs,
          docs.filter(col("doc_id") % 3 =!= 0), "lang", "source")
      }),
      // privacy gates: one quasi-group aggregation (+ bounded summary);
      // the DP release is one category aggregation + a pure projection
      "aud_kanon" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.kAnonymityReport(
          s.read.parquet(s"$d/documents.parquet")
            .withColumn("len_band", expr("n_chars div 200")),
          Seq("lang", "len_band"), col("source"), k = 5, l = 3)),
      "aud_dp_counts" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.dpCounts(
          s.read.parquet(s"$d/documents.parquet"), col("source"),
          seed = 1234567L, invEps = 2)),
      // CUSUM: one stats pass + one group-partitioned sort + streaming
      // fold - the only linear-sort member of the audit family
      "aud_cusum" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.cusumReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          "event_type", "ts", "event_id", "value", k = 30L, h = 150L)),
      // round-10 additions: runs test (stats pass + two group-partitioned
      // windows — the window sort is the scan-bound term), dwell (one
      // user_id exchange for the lead window, then a bounded agg),
      // audio decode (pure mapPartitions projection — embarrassingly
      // parallel), and ANN-fed MMR (LSH candidate generation ∝ bucket
      // collisions; the greedy stage stays pool-bounded per query)
      "aud_runs" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.runsReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          "event_type", "ts", "event_id", "value")),
      "ev_dwell" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.dwellReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)))),
      "mm_audio_meta" -> ((s: SparkSession, d: String, _: Double) => {
        import s.implicits._
        graft.multimodal.MediaOps.audioMeta(s,
          s.read.parquet(s"$d/documents.parquet")
            .select(col("doc_id"), octet_length(col("text")).as("nb"))
            .as[(Long, Int)]
            .mapPartitions(_.map { case (id, nb) =>
              (id, graft.multimodal.MediaStub.synthWav(
                8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt, 16, 100 + nb))
            })
            .toDF("doc_id", "payload")).toDF()
      }),
      "knn_mmr_rerank_lsh" -> ((s: SparkSession, d: String, k: Double) => {
        val e = s.read.parquet(s"$d/embeddings.parquet")
        val qs = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        SimilarityOps.mmrRerank(e,
          SimilarityOps.lshTopK(e, qs, k = 10, bits = scaledBits(k)), k = 4)
      }),
      // round-11: incremental IVF append in the FIXED-PROBE-BATCH shape
      // (the dd_minhash_incr_probe pattern) — a constant 500-vector batch
      // assigned against the per-scale index's frozen centroids and
      // appended to its lists. The claim the exponent tests: append cost
      // is ∝ batch (+ the 1-row stats read), INDEPENDENT of how large the
      // indexed corpus has grown — the whole point of the append path vs
      // writeIvfIndex's full-corpus rebuild. The one-time per-scale index
      // build happens on the first of the two timed runs and is absorbed
      // by min-of-two (the warm run is pure append).
      "knn_ivf_append_probe" -> {
        val built = scala.collection.mutable.Map[String, String]()
        (s: SparkSession, d: String, _: Double) => {
          val e = s.read.parquet(s"$d/embeddings.parquet")
          val dir = built.getOrElseUpdate(d, {
            val tmp = java.nio.file.Files
              .createTempDirectory("graft-curve-ivfapp").toString
            SimilarityOps.writeIvfIndex(
              e.filter(col("vec_id") % 50 =!= 0).select("vec_id", "embedding"),
              e.filter(col("vec_id") < 16)
                .select(col("vec_id").as("cid"), col("embedding").as("ce")),
              tmp)
            tmp
          })
          SimilarityOps.appendToIvfIndex(s, dir,
            e.filter(col("vec_id") % 50 === 0).limit(500)
              .select("vec_id", "embedding"))
        }
      },
      // round-11 additions: bootstrap (the ×B explode rides the scan —
      // the exponent tests "B× CPU, zero extra data movement"), hazard
      // (one user_id exchange + censoring broadcast, bounded cumulative),
      // lifecycle (distinct (user, week) reduction first), heaps (the
      // token-hash distinct is the one real shuffle — term space grows
      // with the substituted copies), and OOD (labels×dim model state +
      // a scoring projection — the exponent tests the one-scan claim)
      "aud_bootstrap" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.bootstrapCiReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          "event_type", "event_id", "value")),
      "ev_hazard" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.hazardReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)))),
      "ev_lifecycle" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.growthAccounting(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)))),
      "tx_heaps" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.heapsFit(
          s.read.parquet(s"$d/documents.parquet"))),
      "emb_ood" -> ((s: SparkSession, d: String, _: Double) =>
        SimilarityOps.oodReport(
          s.read.parquet(s"$d/embeddings.parquet"), 0.2)),
      // round-12 additions: postings self-joins over DISTINCT sets (the
      // exponent tests "pairs ∝ shared keys, not corpus"), the W1
      // windows over the (grp, value) count table, the per-user rank
      // window behind paths, the 11-panel composed card, and the
      // sorted-fold smoother
      "dd_source_overlap" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.DedupOps.sourceOverlap(
          s.read.parquet(s"$d/documents.parquet"))),
      "ev_coengagement" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.coEngagement(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")))),
      "aud_wasserstein" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.wassersteinReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          "event_type", pmod(col("user_id"), lit(2)) === 0, "value")),
      "ev_paths" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.topPaths(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)),
          depth = 3, k = 10)),
      "aud_holt" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.AuditOps.holtReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          "event_type", "ts", "event_id", "value")),
      // round-13 additions (VERDICT r12 #5): the k-step funnel (every
      // step join hashes on user_id — the exponent tests "cost ∝ events,
      // not ∝ users²"), Kaplan–Meier (events reduce to ≤types×12 cells
      // before the bounded driver fold), the 12-panel composed data card
      // (each panel individually curve-graded; the exponent tests that
      // composition stays scan-bound), and the unigram trainer (corpus
      // term is the one vocabulary-building scan; EM rounds run over the
      // vocab table — the bpe_train claim for the other family)
      "ev_funnel3" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.funnelSteps(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)),
          Seq("signup", "click", "purchase"), horizonTicks = 86400000000L)),
      "ev_survival" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.EventOps.survivalReport(
          graft.operators.Tables.normalizeTs(
            s.read.parquet(s"$d/events.parquet")),
          call_function("div", col("ts").cast("long"), lit(1000L)))),
      "aud_card" -> ((s: SparkSession, d: String, _: Double) =>
        graft.Audit.buildCard(s, d)),
      "tx_unigram_train" -> ((s: SparkSession, d: String, _: Double) =>
        graft.operators.TextOps.unigramTrain(
          s.read.parquet(s"$d/documents.parquet"))))
    val scales = Seq(1.0 -> sfDir, 10.0 -> tenxDir, 30.0 -> thirtyDir)
    println("| query | 1x s | 10x s | 30x s | fitted exponent | rows@1x/10x/30x |")
    println("|---|---|---|---|---|---|")
    val rows = curveQueries.filter(q => selected(q._1)).map { case (name, fn) =>
      val ts = scales.map { case (k, d) =>
        (k, Measure.minOf(2)(Measure.noop(fn(spark, d, k))), fn(spark, d, k).count()) }
      val slope = fitSlope(ts.map { case (k, t, _) => (k, t) })
      println(f"| $name | ${ts(0)._2}%.3f | ${ts(1)._2}%.3f | ${ts(2)._2}%.3f | $slope%.2f " +
        f"| ${ts(0)._3}/${ts(1)._3}/${ts(2)._3} |")
      (name, ts, slope)
    }
    val json = rows.map { case (n, ts, slope) =>
      f""""$n":{"s1":${ts(0)._2}%.3f,"s10":${ts(1)._2}%.3f,"s30":${ts(2)._2}%.3f,""" +
        f""""exponent":$slope%.2f,"rows":[${ts(0)._3},${ts(1)._3},${ts(2)._3}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scalecurve","queries":$json}""")

    // Incremental-dedup PROBE cost vs corpus scale: the corpus MinHash
    // index is built ONCE per scale and persisted (the production shape —
    // yesterday's index is on disk); the timed quantity is probing a FIXED
    // base-scale batch against it. The claim "per-batch cost ∝ batch +
    // collisions, NOT corpus size" predicts an exponent well below 1 —
    // what remains is the collision term (fixed band buckets fill as the
    // corpus grows) plus the scan of matched corpus shingle groups.
    import org.apache.spark.storage.StorageLevel
    val batch = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 7 === 0)
    println("| probe (fixed batch) | corpus scale | probe s | pairs | index rows |")
    println("|---|---|---|---|---|")
    val probePts = scales.map { case (k, d) =>
      val corpus = spark.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 7 =!= 0)
      val (hashed, bands) = DedupOps.minhashIndex(corpus)
      val h = hashed.persist(StorageLevel.MEMORY_AND_DISK)
      val b = bands.persist(StorageLevel.MEMORY_AND_DISK)
      val idxRows = h.count() + b.count()
      val t = Measure.minOf(2)(Measure.noop(DedupOps.minhashPairsAgainst((h, b), batch)))
      val pairs = DedupOps.minhashPairsAgainst((h, b), batch).count()
      println(f"| dd_minhash_incr_probe | ${k}%.0fx | $t%.3f | $pairs | $idxRows |")
      h.unpersist(); b.unpersist()
      (k, t)
    }
    println(f"[scale] dd_minhash_incr_probe fitted exponent: ${fitSlope(probePts)}%.2f")

    // Star contraction: time AND the executed round count per scale — the
    // O(log n) claim directly (rounds should grow by ~log, not scale).
    println("| star | scale | s (min of 2) | rounds | clusters |")
    println("|---|---|---|---|---|")
    val starPts = scales.map { case (k, d) =>
      val docs = spark.read.parquet(s"$d/documents.parquet")
      def once(): (Double, Int, Long) = {
        val t0 = System.nanoTime()
        val (labels, rounds) =
          DedupOps.nearDupClustersStarRounds(DedupOps.minhashPairs(docs))
        val n = labels.select("cluster_id").distinct().count()
        ((System.nanoTime() - t0) / 1e9, rounds, n)
      }
      val (t1, r1, n1) = once()
      val (t2, _, _) = once()
      val t = math.min(t1, t2)
      println(f"| dd_clusters_star | ${k}%.0fx | $t%.3f | $r1 | $n1 |")
      (k, t)
    }
    println(f"[scale] dd_clusters_star fitted exponent: ${fitSlope(starPts)}%.2f")
  }

  /** Bucketed-layout payoff: the SAME join+agg on the bucket key, read from
    * plain parquet (shuffle both sides every query) vs tables written once
    * with [[graft.operators.LayoutOps.writeBucketed]] (exchange-free SMJ).
    * Broadcast disabled so the comparison is shuffle vs no-shuffle, not
    * join-strategy luck. Reports the one-time write cost next to the
    * per-query savings — the amortization argument IS the result.
    */
  def runBucketed(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.LayoutOps
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    def joined(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
      l.join(o, "l_orderkey").groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
    // warm page cache
    li.count(); ord.count()
    val plainSec = Measure.minOf(3)(joined(li, ord).collect())
    val nb = spark.sparkContext.defaultParallelism
    val writeSec = Measure.seconds {
      LayoutOps.writeBucketed(li, "sb_lineitem", Seq("l_orderkey"), nb)
      LayoutOps.writeBucketed(ord, "sb_orders", Seq("l_orderkey"), nb)
    }
    val bl = spark.table("sb_lineitem"); val bo = spark.table("sb_orders")
    val bucketedSec = Measure.minOf(3)(joined(bl, bo).collect())
    val planHasExchange = joined(bl, bo).queryExecution.executedPlan.toString
      .split("SortMergeJoin").last.contains("Exchange")
    spark.sql("DROP TABLE IF EXISTS sb_lineitem")
    spark.sql("DROP TABLE IF EXISTS sb_orders")
    println(f"""{"metric":"bucketed_join","plain_sec":$plainSec%.3f,"bucketed_sec":$bucketedSec%.3f,"write_once_sec":$writeSec%.3f,"buckets":$nb,"join_subtree_has_exchange":$planHasExchange,"sf":"${CliJson.str(sfDir)}"}""")
  }

  /** ANN maintenance payoff: the SAME nprobe top-k probe served from an
    * index carrying N `appends/version=*` subdirs vs the one compacted
    * base [[graft.operators.SimilarityOps.compactIvfIndex]] folds them
    * into. The claim: probe cost (and the files the scan plans over)
    * grows with live version count and compaction restores it to the
    * fresh-build flat — the amortization argument for riding
    * `graft.Ingest --compact-every`. Serving-set equality is asserted,
    * not assumed.
    */
  def runIvfCompact(spark: SparkSession, sfDir: String,
      nVersions: Int = 24): Unit = {
    import graft.operators.SimilarityOps
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val qs = e.filter(col("vec_id") % 97 === 0).limit(64)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .localCheckpoint()
    val cents = e.limit(16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfcmp").toString
    // base = 1/3 of the corpus; the other 2/3 arrive as nVersions appends
    SimilarityOps.writeIvfIndex(e.filter(col("vec_id") % 3 === 0), cents, dir)
    (0 until nVersions).foreach { v =>
      SimilarityOps.appendVersionToIvfIndex(spark, dir, v.toLong,
        e.filter(col("vec_id") % 3 =!= 0 &&
          col("vec_id") % nVersions === v))
      ()
    }
    def countFiles(d: java.io.File): Long =
      if (d.isFile) { if (d.getName.endsWith(".parquet")) 1L else 0L }
      else Option(d.listFiles()).map(_.map(countFiles).sum).getOrElse(0L)
    def probe(): Set[(Long, Int, Long)] = {
      val (c, l) = SimilarityOps.readIvfIndexAll(spark, dir)
      SimilarityOps.ivfTopKFromIndex(l, qs, c, nprobe = 3, k = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    }
    val filesBefore = countFiles(new java.io.File(dir))
    val servedBefore = probe()
    val tBefore = Measure.minOf(2)(probe())
    val folded = SimilarityOps.compactIvfIndex(spark, dir)
    val filesAfter = countFiles(new java.io.File(dir))
    val servedAfter = probe()
    val tAfter = Measure.minOf(2)(probe())
    require(servedAfter == servedBefore,
      "compaction changed the served top-k — maintenance must be invisible")
    println(f"""{"metric":"ivf_compact","versions":$nVersions,"folded":$folded,""" +
      f""""probe_sec_appends":$tBefore%.3f,"probe_sec_compacted":$tAfter%.3f,""" +
      f""""files_before":$filesBefore,"files_after":$filesAfter,""" +
      f""""serving_equal":true,"sf":"${CliJson.str(sfDir)}"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val mode = args.headOption.getOrElse("corpus10x")
    val spark = Session.local(cpus, cpus)
    mode match {
      case "corpus10x" => runCorpus10x(spark, sfDir)
      case "curve" => runCurve(spark, sfDir)
      case "bucketed" => runBucketed(spark, sfDir)
      case "ivfcompact" => runIvfCompact(spark, sfDir)
      // corpus build only (all five fact tables), for running the FULL
      // battery at Nx via `SPARK_GRAFT_SF_DIR=<dir> runMain graft.Bench`
      // with the unscaled dims symlinked in — the r13 10x full-battery
      // procedure, generalized so the 30x point (VERDICT-r13 #5) uses
      // the same composed-rotation corpus scheme.
      case "build" =>
        val outDir = args(1)
        val copies = args(2).toInt
        buildCorpus(spark, sfDir, outDir, copies = copies)
      case other =>
        sys.error(s"unknown mode $other (corpus10x | curve | bucketed | ivfcompact | build)")
    }
    spark.stop()
  }
}
