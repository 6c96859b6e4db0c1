package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{AuditOps, DedupOps, SimilarityOps, Tables}

/** graft's growth harness. It is NOT part of the correctness gate:
  * timings are not oracleable. Two verbs:
  *
  *  - `build <outDir> <copies>` materializes an N× corpus from the sf
  *    tables: N copies with shifted ids, where text is per-copy
  *    letter-substituted and embeddings are per-copy diagonally rescaled,
  *    so copies are NOT near-duplicates of each other (a naive union would
  *    plant N clones of every document and vector, grow the TRUE pair
  *    count ~N² and tell us nothing about the plan). `graft.Bench` runs the
  *    whole battery over such a corpus (`SPARK_GRAFT_SF_DIR=<outDir>`, with
  *    the unscaled dimension tables symlinked in).
  *  - `curve` (the default) times each selected name at 1×, 10× and 30×,
  *    min of two into the noop sink, and fits the growth exponent: the
  *    least-squares slope of log time over log scale. A slope near 1 is the
  *    linear-growth claim; the quadratic anchor shows ~2. A name is a gate
  *    of [[SparkEntry.queries]] or one of the [[twins]]. The default run is
  *    [[Tracked]] plus every twin; `SPARK_GRAFT_ONLY=a,b` selects names
  *    instead (any gate resolves). The 10× and 30× corpora live at
  *    `SPARK_GRAFT_SCALE_DIR` and `SPARK_GRAFT_SCALE30_DIR`; they are built
  *    on first use and reused while their scheme stamp matches.
  *
  * Results are recorded in BENCHNOTES.md.
  */
object ScaleBench {
  private val SHIFT = 100000000L
  private val CorpusTables = Seq("documents", "embeddings", "events", "orders", "lineitem")

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
      copies: Int): Unit = {
    // Reuse only when EVERY table has a _SUCCESS marker — a crash mid-build
    // leaves the early tables complete and the rest missing, and checking
    // a single table would treat that partial corpus as done — AND the
    // scheme stamp matches the current construction code.
    val stamp = new java.io.File(s"$outDir/_graft_scheme")
    val stampOk = stamp.isFile &&
      new String(java.nio.file.Files.readAllBytes(stamp.toPath), "UTF-8")
        .trim == SchemeVersion
    if (stampOk && CorpusTables.forall(tb =>
        new java.io.File(s"$outDir/$tb.parquet/_SUCCESS").isFile)) {
      println(s"[scale] reusing corpus at $outDir"); return
    }
    println(s"[scale] building ${copies}x corpus at $outDir")
    def write(table: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val in = spark.read.parquet(s"$sfDir/$table.parquet")
      (0 until copies).map(copy(in, _)).reduce(_.unionAll(_))
        .write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    def shifted(c: String, i: Int) = (col(c) + lit(i * SHIFT)).as(c)

    // documents: per-copy substitution (see [[substituted]]) rewrites most
    // words, so shingles/minhashes/simhashes of different copies are
    // unrelated — each copy is an independent corpus with the SAME internal
    // near-dup structure (a 1:1 letter map preserves within-copy shingle
    // equality exactly).
    write("documents")((docs, i) => docs.select(shifted("doc_id", i),
      (if (i == 0) col("text") else substituted(i)).as("text"),
      col("lang"), col("source"), col("n_chars")))
    // embeddings: per-copy diagonal rescale with signs/magnitudes drawn
    // from a hash of (copy, dim) — a fixed linear map per copy, so
    // within-copy cosine structure survives (near-dups stay near-dups)
    // while cross-copy cosines collapse toward 0 (E[s_i·s_j] = 0).
    write("embeddings") { (emb, i) =>
      val scaled =
        if (i == 0) col("embedding")
        else transform(col("embedding"), (x, j) =>
          x * ((pmod(hash(lit(i * 7919), j), lit(2000)) - lit(1000)).cast("float")
            / lit(1000.0f)))
      emb.select(shifted("vec_id", i), scaled.as("embedding"), col("label"))
    }
    write("events")((ev, i) => ev.select(shifted("event_id", i), col("ts"),
      shifted("user_id", i), col("event_type"), col("value"), col("props")))
    write("orders")((o, i) => o.withColumns(Map(
      "o_orderkey" -> shifted("o_orderkey", i), "o_custkey" -> shifted("o_custkey", i))))
    write("lineitem")((li, i) => li.withColumns(Map(
      "l_orderkey" -> shifted("l_orderkey", i), "l_partkey" -> shifted("l_partkey", i),
      "l_suppkey" -> shifted("l_suppkey", i))))

    // stamp LAST: a crash anywhere above leaves no stamp -> full rebuild
    java.nio.file.Files.write(stamp.toPath, SchemeVersion.getBytes("UTF-8"))
  }

  /** The gates `curve` times by default. The quadratic fixed-config gates
    * (emb_semantic_dedup, emb_knn_graph, dd_fuzzy) stay off: their twins
    * carry the scale claim, and `SPARK_GRAFT_ONLY` still selects them.
    */
  private[graft] val Tracked: Seq[String] = Seq(
    "dd_minhash", "dd_simhash", "dd_clusters_star", "dd_containment",
    "dd_keep_canonical", "dd_minhash_incr", "dd_pagerank", "dd_prefix_jaccard",
    "dd_hamming", "dd_quarantine", "dd_triangles", "dd_source_overlap",
    "q30_kmv_distinct", "q33_hist_quantile", "q34_quantile_refine", "q35_profile",
    "q36_kmv_jaccard", "q37_skew_report", "q42_kmv_setops",
    "tx_chunk_dedup", "tx_dsir", "tx_bm25", "tx_score_linear", "tx_length_buckets",
    "tx_corpus_report", "tx_tfidf_pairs", "tx_trigram_ppl", "tx_bpe_train",
    "tx_gopher_rules", "tx_novelty", "tx_pmi", "tx_cdc_chunks", "tx_cdc_dedup",
    "tx_heaps", "tx_unigram_train",
    "emb_pq_codes", "emb_decontaminate", "emb_normalize", "emb_ood",
    "knn_lsh", "knn_pq", "knn_ivfpq", "knn_mmr",
    "ev_heavy_hitters", "ev_funnel", "ev_scd2", "ev_scd2_lookup", "ev_retention",
    "ev_apply_changes", "ev_attribution", "ev_gap_fill", "ev_rolling7", "ev_dwell",
    "ev_hazard", "ev_lifecycle", "ev_coengagement", "ev_paths", "ev_funnel3",
    "ev_survival",
    "aud_anomaly_cum", "aud_winsorize", "aud_auc", "aud_completeness", "aud_ks",
    "aud_ks_by_source", "aud_threshold", "aud_psi", "aud_abtest",
    "aud_calibration_by_source", "aud_threshold_by_source", "aud_gains",
    "aud_gains_by_source", "aud_drift_by_source", "aud_psi_by_source", "aud_kanon",
    "aud_dp_counts", "aud_cusum", "aud_runs", "aud_bootstrap", "aud_wasserstein",
    "aud_holt", "aud_card",
    "mm_audio_meta")

  /** A timed shape: (session, corpus dir, scale) => the result to write. */
  private[graft] type Op = (SparkSession, String, Double) => DataFrame
  private def twin(name: String)(op: Op): (String, Op) = name -> op

  /** Builds `state` once per corpus dir, releasing the previous dir's, so a
    * probe twin times the probe and not the index build. */
  private def perScale[A](state: (SparkSession, String) => A, release: A => Unit)(
      probe: (SparkSession, String, A) => DataFrame): Op = {
    var cur: Option[(String, A)] = None
    (s, d, _) => {
      if (!cur.exists(_._1 == d)) {
        cur.foreach(c => release(c._2))
        cur = Some(d -> state(s, d))
      }
      probe(s, d, cur.get._2)
    }
  }

  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def emb(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")
  private def vecs(e: DataFrame) = e.select("vec_id", "embedding")
  /** A fixed 250-vector batch (even ids below 500) against the odd ids. */
  private def bitextSides(e: DataFrame) =
    (vecs(e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 500)),
      vecs(e.filter(col("vec_id") % 2 === 1)))
  /** k ∝ n centroids from the lowest ids: constant expected cluster size. */
  private def scaledCentroids(e: DataFrame) = broadcast(
    e.filter(col("vec_id") < math.max(16L, e.count() / 125))
      .select(col("vec_id").as("cid"), col("embedding").as("ce")))

  // the near-pairs 0.9 regime config proven exact-recall in AnnClusteredSpec
  private val NP9_BITS = 12
  private val NP9_TABLES = 24
  private val NP9_SEED = 99L
  /** bits ≈ 12 + log2(scale) keep LSH bucket occupancy constant as n grows. */
  private def scaledBits(k: Double): Int =
    NP9_BITS + math.round(math.log(k) / math.log(2)).toInt

  /** Non-gate shapes, each measuring a production knob or a fixed-batch
    * cost claim that no gate's binding exercises. */
  private[graft] val twins: Seq[(String, Op)] = Seq(
    // fixed 12 bits: buckets saturate as n grows (the _scaledbits anchor)
    twin("near_pairs_lsh_09")((s, d, _) =>
      SimilarityOps.nearPairsLsh(emb(s, d), 0.9, NP9_BITS, NP9_TABLES, NP9_SEED)),
    // bits grow with scale: constant occupancy, near-linear growth
    twin("near_pairs_lsh_09_scaledbits")((s, d, k) =>
      SimilarityOps.nearPairsLsh(emb(s, d), 0.9, scaledBits(k), NP9_TABLES, NP9_SEED)),
    // exact all-pairs at 0.9: the quadratic anchor the LSH rows are read against
    twin("near_pairs_exact_09")((s, d, _) => SimilarityOps.nearPairs(emb(s, d), 0.9)),
    // emb_semantic_dedup fixes k = 16; SemDeDup's knob is k ∝ n
    twin("emb_semantic_dedup_scaledk") { (s, d, _) =>
      val e = emb(s, d)
      SimilarityOps.semanticDedup(e, scaledCentroids(e), 0.40)
    },
    // emb_knn_graph blocks on 10 fixed labels; the knob is routing ∝ n
    twin("emb_knn_graph_scaledblocks") { (s, d, _) =>
      val e = emb(s, d)
      SimilarityOps.labelKnnGraph(SimilarityOps.assignToCentroids(e, scaledCentroids(e))
        .withColumnRenamed("cid", "label"), 5)
    },
    // dd_fuzzy blocks on lang alone; the knob adds a key whose cardinality
    // grows with the corpus (the copy index, standing in for a crawl batch)
    twin("dd_fuzzy_scaledblocks")((s, d, _) =>
      DedupOps.fuzzyPairs(docs(s, d), col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 3)), k = 2, blockWidth = 4,
        blockOn = Seq(col("lang"), floor(col("doc_id") / SHIFT)))),
    // the constraint suite over events: k checks share one scan (no gate
    // runs it on events)
    twin("aud_dq_events") { (s, d, _) =>
      import AuditOps.Check._
      AuditOps.dataQualityReport(
        Map("events" -> Tables.normalizeTs(s.read.parquet(s"$d/events.parquet"))),
        Seq(NotNull("events", "value"), InRange("events", "value", "0", "1000"),
          AcceptedValues("events", "event_type",
            Seq("click", "view", "purchase", "signup", "error")),
          UniqueKey("events", Seq("event_id"))))
    },
    // a fixed 250-vector batch mined exhaustively: cost ∝ |B|
    twin("emb_bitext_probe") { (s, d, _) =>
      val (a, b) = bitextSides(emb(s, d))
      SimilarityOps.bitextMine(a, b, 4)
    },
    // the same batch LSH-blocked at scaled bits: cost ∝ bucket collisions
    twin("emb_bitext_probe_lsh") { (s, d, k) =>
      val (a, b) = bitextSides(emb(s, d))
      SimilarityOps.bitextMineLsh(a, b, 4, 0.0, scaledBits(k), 16, 4241L)
    },
    // MMR over LSH candidates at scaled bits for a fixed 50-query batch
    twin("knn_mmr_rerank_lsh") { (s, d, k) =>
      val e = emb(s, d)
      val qs = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      SimilarityOps.mmrRerank(e, SimilarityOps.lshTopK(e, qs, k = 10, bits = scaledBits(k)),
        k = 4)
    },
    // a fixed 500-vector batch appended to a per-scale IVF index: cost ∝
    // batch, independent of the indexed corpus (vs writeIvfIndex's rebuild)
    twin("knn_ivf_append_probe")(perScale(
      (s, d) => {
        val e = emb(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-curve-ivfapp").toString
        SimilarityOps.writeIvfIndex(vecs(e.filter(col("vec_id") % 50 =!= 0)),
          e.filter(col("vec_id") < 16)
            .select(col("vec_id").as("cid"), col("embedding").as("ce")), dir)
        dir
      },
      graft.sources.SnapshotStore.deleteRecursively) { (s, d, dir) =>
      SimilarityOps.appendToIvfIndex(s, dir,
        vecs(emb(s, d).filter(col("vec_id") % 50 === 0).limit(500)))
    }),
    // copy 0's every-7th doc probed against a per-scale persisted MinHash
    // index of the rest: cost ∝ batch + collisions, not corpus size
    twin("dd_minhash_incr_probe")(perScale(
      (s, d) => {
        val (h, b) = DedupOps.minhashIndex(docs(s, d).filter(col("doc_id") % 7 =!= 0))
        (h.persist(StorageLevel.MEMORY_AND_DISK), b.persist(StorageLevel.MEMORY_AND_DISK))
      },
      (idx: (DataFrame, DataFrame)) => { idx._1.unpersist(); idx._2.unpersist(); () }) {
      (s, d, idx) => DedupOps.minhashPairsAgainst(idx,
        docs(s, d).filter(col("doc_id") < SHIFT && col("doc_id") % 7 === 0))
    }),
    // star contraction's executed round count: the O(log n) claim
    twin("dd_clusters_star_rounds") { (s, d, k) =>
      val (labels, rounds) =
        DedupOps.nearDupClustersStarRounds(DedupOps.minhashPairs(docs(s, d)))
      println(f"[scale] dd_clusters_star_rounds ${k}%.0fx rounds=$rounds")
      labels.select("cluster_id").distinct()
    })

  /** Least-squares slope of log t over log k for `(k, t)` points. */
  private[graft] def fitSlope(pts: Seq[(Double, Double)]): Double = {
    val lp = pts.map { case (k, t) => (math.log(k), math.log(t)) }
    val n = lp.size
    val (mx, my) = (lp.map(_._1).sum / n, lp.map(_._2).sum / n)
    lp.map(p => (p._1 - mx) * (p._2 - my)).sum /
      lp.map(p => (p._1 - mx) * (p._1 - mx)).sum
  }

  private def runCurve(spark: SparkSession, sfDir: String): Unit = {
    val scales = Seq(1.0 -> sfDir,
      10.0 -> sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale10x"),
      30.0 -> sys.env.getOrElse("SPARK_GRAFT_SCALE30_DIR", "/tmp/graft_scale30x"))
    scales.tail.foreach { case (k, d) => buildCorpus(spark, sfDir, d, k.toInt) }
    scales.foreach { case (_, d) => Measure.warm(spark, d, CorpusTables) }
    val byName = twins.toMap
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Tracked ++ twins.map(_._1))
    val ops = names.map { n =>
      n -> byName.getOrElse(n, SparkEntry.queries.get(n)
        .map(gate => (s: SparkSession, d: String, _: Double) => gate(s, d))
        .getOrElse(sys.error(s"unknown name $n: neither a gate nor a twin")))
    }
    println("| query | 1x s | 10x s | 30x s | fitted exponent | rows@1x/10x/30x |")
    println("|---|---|---|---|---|---|")
    val rows = ops.map { case (name, op) =>
      val ts = scales.map { case (k, d) =>
        (k, Measure.minOf(2)(Measure.noop(op(spark, d, k))), op(spark, d, k).count()) }
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
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    args.headOption.getOrElse("curve") match {
      case "curve" => runCurve(spark, sfDir)
      case "build" => buildCorpus(spark, sfDir, args(1), args(2).toInt)
      case other => sys.error(s"unknown verb $other (curve | build <outDir> <copies>)")
    }
    spark.stop()
  }
}
