package graft

/** Determinism under PARALLELISM (VERDICT r10 #7, widened to the FULL
  * battery in r12 per VERDICT r11 #4): the repo's FP discipline (decimal
  * exact sums, single correctly-rounded final ops, integer gate
  * comparisons) promises results independent of partial-aggregate merge
  * order — which `spark.sql.shuffle.partitions` directly perturbs. The
  * correctness gate proves cross-ENGINE equality (Spark vs DuckDB at one
  * partitioning); this spec proves cross-PARTITIONING equality: EVERY
  * `SparkEntry.queries` gate re-runs at 4 vs 32 shuffle partitions and
  * every output must match row-for-row, bit-for-bit (Double.toString is
  * shortest-unique per bit pattern, so string equality is bit equality).
  * Both runs come from the one battery pass in [[GateBattery]].
  *
  * Two tests: the curated high-risk slice (fast, runs the families where
  * merge order bites hardest — kept as the quick dev signal) and the
  * battery-wide sweep over every remaining gate, no exclusions (even the
  * sketch/approx family is merge-order independent by construction:
  * HLL/KMV/CMS merges are max/min/sum lattice ops).
  */
class DeterminismSpec extends SparkTestBase {

  // ≥20 gates; every family with nontrivial aggregation arithmetic
  private val GATES = Seq(
    "q1_pricing_summary",   // decimal sums + avg
    "q9_rollup_lineitem",   // rollup over decimal sums
    "q22_percentiles",      // exact global percentiles
    "q34_quantile_refine",  // two-pass sketch-refine percentile
    "q30_kmv_distinct",     // KMV sketch
    "q41_ams_f2",           // AMS F2 sketch
    "q37_skew_report",      // skew statistics
    "tx_token_entropy",     // decimal-fixed entropy sums
    "tx_bm25",              // idf·tf scoring sums
    "tx_dsir",              // importance weights
    "tx_zipf",              // rank-frequency fit
    "tx_weighted_sample",   // hash-derived sampler
    "tx_train_classifier",  // iterative integer-gradient training
    "tx_quality",           // ratio arithmetic
    "aud_auc",              // exact rank-sum AUC
    "aud_gini",             // cumulative share arithmetic
    "aud_ks",               // max-gap statistic
    "aud_cusum",            // sequential fold
    "aud_drift",            // exact TVD
    "aud_runs",             // runs-test cross-multiply
    "aud_trend",            // Mann-Kendall pairwise sign sums
    "aud_theilsen",         // pairwise-slope median at sorted ranks
    "aud_seasonal",         // exact chi-square numerator + WH critical
    "aud_autocorr",         // exact lag moments + √·√÷ chain
    "aud_mannwhitney",      // 2×-scaled rank sums + tie-corrected var
    "ev_rfm",               // decimal monetary sums + cutpoint scores
    "tx_mattr",             // per-window distinct counts, one division
    "emb_hard_negatives",   // band-filtered cosine ranking
    "dd_exact",             // digest aggregate
    "dd_minhash",           // banded signatures + jaccard verify
    "dd_clusters",          // iterative connected components
    "emb_covariance",       // quantized second moments
    "emb_centroid_sim",     // decimal dot/norm arithmetic
    "knn_brute",            // cosine ranking
    "ev_sessions",          // sessionization windows
    "ev_retention",         // cohort arithmetic
    "sim_gbm_stats",        // RNG + trace statistics
    "aud_bootstrap",        // hash-weighted replicate sums + envelope
    "aud_chisq_indep",      // quantized floor-division chi-square
    "aud_tost",             // unpooled se² two-division + add chain
    "tx_readability",       // pooled regex counts + FMA-pinned tail
    "tx_code_detect",       // cross-multiply flag + one division
    "ev_hazard",            // censored risk-set cumulative
    "emb_ood",              // decimal centroid + round-6 cosine mean
    "aud_srm",              // quantized goodness-of-fit terms
    "aud_mde",              // two-division se² + power multiply
    "tx_langid_kappa",      // marginal products + chance correction
    "aud_ewma",             // integer-floor recursion fold
    "knn_eval_pq",          // ADC ranking ∩ exact truth
    "sim_qmc_vdc",          // bit-reversal net + exact square sum
    "ev_ltv",               // decimal revenue cumulative per cohort
    "aud_anova",            // quantized floor-division sums of squares
    "aud_kruskal",          // doubled rank sums + tie-corrected H
    "ev_stickiness",        // double-distinct window explode
    "emb_dim_eval",         // sliced-dim cosine ranking ∩ truth
    "ev_burstiness",        // exact gap moments + mirrored sqrt chain
    "aud_spearman",         // doubled tie-averaged ranks, five-op chain
    "q44_pivot",            // explicit-list conditional decimal sums
    "mm_audio_stats")       // PCM decode + exact sample sums

  private def sweep(gates: Seq[String]): Unit = {
    val missing = gates.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unknown gates in the sweep: $missing")
    val runs = GateBattery.runs(spark, sfDir)
    val diffs = gates.flatMap { g =>
      // a gate that threw at either partitioning fails the sweep with its error
      val at4 = runs(g).at4.toTry.get
      val at32 = runs(g).at32.toTry.get
      if (at4 == at32) None
      else Some(s"$g: ${at4.length} vs ${at32.length} rows, first diff " +
        at4.zip(at32).find(p => p._1 != p._2).map(p => s"${p._1} != ${p._2}")
          .getOrElse("row-count mismatch"))
    }
    assert(diffs.isEmpty,
      s"outputs changed with shuffle partitioning:\n${diffs.mkString("\n")}")
  }

  test("gate outputs are identical at shuffle.partitions 4 vs 32 (merge-order independence)") {
    sweep(GATES)
  }

  test("EVERY remaining gate is identical at shuffle.partitions 4 vs 32 (battery-wide sweep)") {
    sweep(SparkEntry.queries.keys.toSeq.filterNot(GATES.toSet).sorted)
  }
}
