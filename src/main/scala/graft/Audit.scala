package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{AuditOps, Tables}
import graft.operators.AuditOps.Check._

/** One-command data-quality audit — the ops-facing sibling of
  * [[Pipeline]]: run the declarative constraint suite over the star
  * schema, then the numeric detectors (exact z-score, robust median/MAD,
  * sequential arrival-order anomalies) and the AUC ranking audit over the
  * event stream, printing one JSON line per result row plus a final
  * summary with the failed-check count (non-zero exit if any structural
  * check fails — the scheduler contract).
  *
  *   sbt "runMain graft.Audit <sfDir>"
  *
  * Every number printed here is produced by the same gate-pinned
  * operators the DuckDB oracle hash-checks; this main only composes them.
  */
object Audit {

  /** The release data card over the documents corpus: the standing CLI
    * panel's per-source metrics ([[graft.operators.AuditOps.dataCard]])
    * with the same score/label/drift/privacy configuration the
    * line-by-line detectors below print — one callable so the `--card`
    * CLI and the spec pin the SAME composition.
    */
  def buildCard(spark: SparkSession, sfDir: String):
      org.apache.spark.sql.DataFrame = {
    // the card's 12 panels run as parallel stages of ONE plan-level
    // union; keep the input a pruned column projection and let each
    // panel scan it (measured A/B in BENCHNOTES r12: a localCheckpoint
    // here is 60% SLOWER — it serializes the parallel scans behind one
    // materialization; the columnar scans are cheap, the parallelism is
    // not)
    val docs = Tables.t(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .withColumn("len_band", expr("n_chars div 200"))
    val thinned = docs.filter(col("doc_id") % 3 =!= 0)
    AuditOps.dataCard(docs, thinned,
      scoreCol = col("n_chars") / 2000.0, labelCol = col("lang") === "en",
      groupCol = "source", driftCol = "lang",
      quasiCols = Seq("lang", "len_band"), sensitiveCol = col("source"),
      k = 5, l = 3)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--card")) { runCard(args.drop(1)); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus(8), 8)

    def t(name: String) = Tables.t(spark, sfDir, name)

    val dq = AuditOps.dataQualityReport(
      Map("customer" -> t("customer"), "orders" -> t("orders"),
        "lineitem" -> t("lineitem"), "part" -> t("part"),
        "supplier" -> t("supplier"), "region" -> t("region"),
        "nation" -> t("nation")),
      Seq(
        NotNull("customer", "c_name"), NotNull("orders", "o_custkey"),
        NotNull("lineitem", "l_shipdate"),
        UniqueKey("orders", Seq("o_orderkey")),
        UniqueKey("part", Seq("p_partkey")),
        // the generator reuses (orderkey, linenumber), so the key adds the
        // part and supplier (the gate's aud_dq_report keeps the 2-column
        // form as its failing-check demo). Even the 4-column key is not
        // guaranteed unique: sf0.001 lineitem holds one duplicate,
        // (1294, 4, 123, 0) with l_quantity 43 and 19, which this check
        // reports and fails on; sf0.01 and sf0.1 hold none.
        UniqueKey("lineitem", Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")),
        FkIntegrity("orders", "o_custkey", "customer", "c_custkey"),
        FkIntegrity("lineitem", "l_partkey", "part", "p_partkey"),
        FkIntegrity("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        FkIntegrity("nation", "n_regionkey", "region", "r_regionkey"),
        InRange("lineitem", "l_discount", "0", "1"),
        InRange("part", "p_size", "1", "50"),
        AcceptedValues("lineitem", "l_returnflag", Seq("A", "N", "R")),
        AcceptedValues("orders", "o_orderstatus", Seq("F", "O", "P")),
        RowCountBetween("region", 1, 1000)))
      .orderBy("check_id").collect()
    dq.foreach { r =>
      println(s"""{"check":"${r.getString(0)}","type":"${r.getString(1)}",""" +
        s""""table":"${r.getString(2)}","target":"${r.getString(3)}",""" +
        s""""violations":${r.getLong(4)},"total":${r.getLong(5)},"passed":${r.getLong(6) == 1L}}""")
    }

    val ev = t("events")
    // fused single-pass suite: z-score + median/MAD + winsorize out of 5
    // scans instead of the three ops' ~10 (r8; AuditOpsSpec pins equality
    // with the separate gate-pinned detectors)
    AuditOps.numericAuditReport(ev, col("value"), "event_type")
      .orderBy("event_type").collect().foreach { r =>
        println(s"""{"detector":"fused","group":"${r.getString(0)}",""" +
          s""""n":${r.getLong(1)},"z_outliers":${r.getLong(2)},""" +
          s""""med":${r.getDouble(5)},"mad":${r.getDouble(6)},""" +
          s""""mad_flagged":${r.getLong(7)},"clip_lo":${r.getLong(10)},""" +
          s""""clip_hi":${r.getLong(11)}}""")
      }
    AuditOps.anomalyReport(ev, "event_type", "ts", "event_id", "value")
      .orderBy("grp").collect().foreach { r =>
        println(s"""{"detector":"sequential","group":"${r.getString(0)}",""" +
          s""""scored":${r.getLong(1)},"anomalies":${r.getLong(2)}}""")
      }
    // completeness trend: per-day null rates + day-over-day deltas for
    // the nullable payload columns (r8; the time-series companion of the
    // NotNull point checks above)
    AuditOps.completenessReport(
        ev.withColumn("day", call_function("div",
          call_function("div", col("ts").cast("long"), lit(1000L)),
          lit(86400000000L))),
        Seq("value", "props"), col("day"))
      .orderBy("column_name", "day").collect().foreach { r =>
        println(s"""{"detector":"completeness","day":${r.getLong(0)},""" +
          s""""column":"${r.getString(1)}","rows":${r.getLong(2)},""" +
          s""""nulls":${r.getLong(3)}}""")
      }
    val auc = AuditOps.aucReport(ev, floor(col("value")), col("event_type") === "error")
      .collect()(0)
    println(s"""{"detector":"auc","n":${auc.getLong(0)},"n_pos":${auc.getLong(1)},""" +
      s""""auc":${if (auc.isNullAt(3)) "null" else auc.getDouble(3)}}""")
    // operating point: the argmax-F1 cutoff for the same score/label
    // pair the AUC grades (r8)
    val th = AuditOps.thresholdReport(ev, floor(col("value")),
      col("event_type") === "error").collect()(0)
    println(s"""{"detector":"threshold","cut":${th.getDouble(0)},""" +
      s""""tp":${th.getLong(1)},"fp":${th.getLong(2)},"fn":${th.getLong(3)},""" +
      s""""f1":${th.getDouble(6)}}""")
    // sequential drift: CUSUM per event type (r9 — the persistent-shift
    // detector next to the sequential z verdicts)
    AuditOps.cusumReport(ev, "event_type", "ts", "event_id", "value",
        k = 30L, h = 150L).collect().foreach { r =>
      println(s"""{"detector":"cusum","group":"${r.getString(0)}",""" +
        s""""alarms_up":${r.getLong(2)},"alarms_down":${r.getLong(3)},""" +
        s""""max_up":${r.getDouble(5)},"max_down":${r.getDouble(6)}}""")
    }
    // monotone drift: Mann–Kendall trend of the daily volume per event
    // type (r11 — the steady-drift audit the jump detectors miss)
    AuditOps.trendReport(ev, "event_type",
        call_function("div",
          call_function("div", col("ts").cast("long"), lit(1000L)),
          lit(86400000000L))).collect().foreach { r =>
      println(s"""{"detector":"trend","group":"${r.getString(0)}",""" +
        s""""n_days":${r.getLong(1)},"s":${r.getLong(2)},""" +
        s""""z":${if (r.isNullAt(4)) "null" else r.getDouble(4)},""" +
        s""""trend":"${r.getString(5)}"}""")
    }
    // ...and its magnitude: Theil-Sen robust slope of the same series
    // (events/day/type; outlier days don't move it)
    AuditOps.theilSenReport(ev, "event_type",
        call_function("div",
          call_function("div", col("ts").cast("long"), lit(1000L)),
          lit(86400000000L))).collect().foreach { r =>
      println(s"""{"detector":"theilsen","group":"${r.getString(0)}",""" +
        s""""n_days":${r.getLong(1)},"n_pairs":${r.getLong(2)},""" +
        s""""slope":${if (r.isNullAt(3)) "null" else r.getDouble(3)}}""")
    }
    // periodic pattern: day-of-week chi-square uniformity per event type
    AuditOps.seasonalityReport(ev, "event_type",
        call_function("div",
          call_function("div", col("ts").cast("long"), lit(1000L)),
          lit(86400000000L))).collect().foreach { r =>
      println(s"""{"detector":"seasonal","group":"${r.getString(0)}",""" +
        s""""n":${r.getLong(1)},"chi2":${r.getDouble(2)},""" +
        s""""seasonal":${r.getBoolean(4)}}""")
    }
    // serial dependence: lag-1..3 autocorrelation per event type (r11 —
    // the AR(1)-stickiness screen the jump/drift/runs/season quartet
    // can't see)
    AuditOps.autocorrReport(ev, "event_type", "ts", "event_id", "value")
      .collect().foreach { r =>
        println(s"""{"detector":"autocorr","group":"${r.getString(0)}",""" +
          s""""lag":${r.getLong(1)},"n_pairs":${r.getLong(2)},""" +
          s""""r":${if (r.isNullAt(3)) "null" else r.getDouble(3)},""" +
          s""""significant":${r.getBoolean(4)}}""")
      }
    // nonparametric A/B: Mann–Whitney U of value between even/odd user
    // cohorts per event type (r11 — the distribution-shift readout next
    // to the two-proportion z)
    AuditOps.mannWhitneyReport(ev, "event_type",
        pmod(col("user_id"), lit(2)) === 0, "value")
      .collect().foreach { r =>
        println(s"""{"detector":"mannwhitney","group":"${r.getString(0)}",""" +
          s""""n1":${r.getLong(1)},"n2":${r.getLong(2)},""" +
          s""""u1":${r.getDouble(3)},""" +
          s""""z":${if (r.isNullAt(4)) "null" else r.getDouble(4)},""" +
          s""""significant":${r.getBoolean(5)}}""")
      }
    // EWMA chart next to the CUSUM rows: the small-persistent-shift
    // detector (r11)
    AuditOps.ewmaReport(ev, "event_type", "ts", "event_id", "value",
        el = 4L, h = 20L).collect().foreach { r =>
      println(s"""{"detector":"ewma","group":"${r.getString(0)}",""" +
        s""""n":${r.getLong(1)},"n_alarms":${r.getLong(2)},""" +
        s""""max_dev":${r.getDouble(5)}}""")
    }
    // Holt level+trend smoother: the one-step forecaster next to the
    // EWMA level chart (r12)
    AuditOps.holtReport(ev, "event_type", "ts", "event_id", "value")
      .collect().foreach { r =>
        println(s"""{"detector":"holt","group":"${r.getString(0)}",""" +
          s""""level":${r.getDouble(2)},"trend":${r.getDouble(3)},""" +
          s""""forecast":${r.getDouble(4)},"mae":${r.getDouble(5)}}""")
      }
    // Welch t + exact W1 between even/odd user cohorts per type — the
    // continuous-mean and shift-magnitude A/B cells (r12)
    val armA = pmod(col("user_id"), lit(2)) === 0
    AuditOps.welchReport(ev, "event_type", armA, "value")
      .collect().foreach { r =>
        println(s"""{"detector":"welch","group":"${r.getString(0)}",""" +
          s""""t":${if (r.isNullAt(7)) "null" else r.getDouble(7)},""" +
          s""""significant":${r.getBoolean(8)}}""")
      }
    AuditOps.wassersteinReport(ev, "event_type", armA, "value")
      .collect().foreach { r =>
        println(s"""{"detector":"wasserstein","group":"${r.getString(0)}",""" +
          s""""w1":${if (r.isNullAt(3)) "null" else r.getDouble(3)}}""")
      }
    // Brown–Forsythe spread homogeneity across types (r12)
    val lev = AuditOps.leveneReport(ev, "event_type", "value").collect()(0)
    println(s"""{"detector":"levene","k":${lev.getLong(0)},""" +
      s""""f":${if (lev.isNullAt(2)) "null" else lev.getDouble(2)}}""")
    // the experiment panel (r11): SRM first — a broken split invalidates
    // every readout below it — then the design MDE, the equivalence
    // verdict, and the resampled uncertainty envelope
    val variant = concat(lit("v"), pmod(col("user_id"), lit(3)))
    val purchased = col("event_type") === "purchase"
    val srm = AuditOps.srmReport(ev, variant,
      Seq("v0" -> 1L, "v1" -> 1L, "v2" -> 1L)).collect()(0)
    println(s"""{"detector":"srm","n":${srm.getLong(0)},""" +
      s""""chi2":${srm.getDouble(3)},"mismatch":${srm.getBoolean(5)}}""")
    AuditOps.mdeReport(ev, variant, purchased, "v0")
      .filter(col("variant") =!= "v0").collect().foreach { r =>
        println(s"""{"detector":"mde","variant":"${r.getString(0)}",""" +
          s""""n":${r.getLong(1)},"rate":${r.getDouble(3)},""" +
          s""""mde_abs":${if (r.isNullAt(5)) "null" else r.getDouble(5)}}""")
      }
    AuditOps.tostReport(ev, variant, purchased, "v0", margin = 0.02)
      .filter(col("variant") =!= "v0").collect().foreach { r =>
        println(s"""{"detector":"tost","variant":"${r.getString(0)}",""" +
          s""""diff":${if (r.isNullAt(4)) "null" else r.getDouble(4)},""" +
          s""""equivalent":${r.getBoolean(8)}}""")
      }
    // CUPED: pre-period covariate adjustment + the variance reduction
    // the panel's tests gain from it (r12)
    AuditOps.cupedReport(ev, concat(lit("v"), pmod(col("user_id"), lit(3))),
        call_function("div", col("ts").cast("long"), lit(1000L)),
        "value", cutoffTicks = 1705276800000000L)
      .collect().foreach { r =>
        println(s"""{"detector":"cuped","variant":"${r.getString(0)}",""" +
          s""""mean_adj":${if (r.isNullAt(4)) "null" else r.getDouble(4)},""" +
          s""""var_reduction":${if (r.isNullAt(6)) "null" else r.getDouble(6)}}""")
      }
    AuditOps.bootstrapCiReport(ev, "event_type", "event_id", "value")
      .collect().foreach { r =>
        println(s"""{"detector":"bootstrap","group":"${r.getString(0)}",""" +
          s""""mean":${r.getDouble(2)},""" +
          s""""ci_lo":${if (r.isNullAt(4)) "null" else r.getDouble(4)},""" +
          s""""ci_hi":${if (r.isNullAt(5)) "null" else r.getDouble(5)}}""")
      }
    // targeting curve: decile cumulative gains/lift of the same pair —
    // the whole curve next to the AUC's one number (r9)
    AuditOps.gainsReport(ev, floor(col("value")), col("event_type") === "error")
      .collect().foreach { r =>
        println(s"""{"detector":"gains","bucket":${r.getLong(0)},""" +
          s""""cum_n":${r.getLong(3)},"cum_pos":${r.getLong(4)},""" +
          s""""gain":${if (r.isNullAt(5)) "null" else r.getDouble(5)},""" +
          s""""lift":${if (r.isNullAt(6)) "null" else r.getDouble(6)}}""")
      }
    // numeric drift: exact two-sample KS of the value column between the
    // error cohort and the rest (r8; the numeric sibling of aud_drift)
    val ks = AuditOps.ksReport(ev, col("value"), col("event_type") === "error")
      .collect()(0)
    println(s"""{"detector":"ks","n_a":${ks.getLong(0)},"n_b":${ks.getLong(1)},""" +
      s""""ks":${if (ks.isNullAt(3)) "null" else ks.getDouble(3)},""" +
      s""""at_value":${if (ks.isNullAt(4)) "null" else ks.getDouble(4)}}""")
    // Benford first-digit screen on the value column (r8)
    AuditOps.benfordReport(ev, col("value"))
      .orderBy("digit").collect().foreach { r =>
        println(s"""{"detector":"benford","digit":${r.getLong(0)},""" +
          s""""cnt":${r.getLong(1)},"dev":${r.getDouble(6)}}""")
      }
    // per-source data card over the documents corpus (r9 completes the
    // panel: aucReportBy/ksReportBy graded ranking and drift per source;
    // calibrationReportBy and thresholdReportBy add the probability
    // quality and the per-source operating point for the same
    // length->English classifier)
    val docs = t("documents")
    val enLabel = col("lang") === "en"
    AuditOps.calibrationReportBy(docs, col("n_chars") / 2000.0, enLabel, "source")
      .select("grp", "ece").distinct().orderBy("grp").collect().foreach { r =>
        println(s"""{"detector":"calibration_by_source","source":"${r.getString(0)}",""" +
          s""""ece":${r.getDouble(1)}}""")
      }
    AuditOps.gainsReportBy(docs, col("n_chars"), enLabel, "source", 5)
      .filter(col("bucket") === 1).collect().foreach { r =>
        println(s"""{"detector":"gains_by_source","source":"${r.getString(0)}",""" +
          s""""top_bucket_gain":${if (r.isNullAt(6)) "null" else r.getDouble(6)},""" +
          s""""top_bucket_lift":${if (r.isNullAt(7)) "null" else r.getDouble(7)}}""")
      }
    AuditOps.thresholdReportBy(docs, col("n_chars"), enLabel, "source")
      .orderBy("grp").collect().foreach { r =>
        println(s"""{"detector":"threshold_by_source","source":"${r.getString(0)}",""" +
          s""""cut":${r.getDouble(1)},"tp":${r.getLong(2)},"fp":${r.getLong(3)},""" +
          s""""fn":${r.getLong(4)},"f1":${r.getDouble(7)}}""")
      }
    // per-source language-mix drift + stability vs the thinned snapshot
    // (one TVD / one PSI row per source — the drift wing of the panel)
    val thinned = docs.filter(col("doc_id") % 3 =!= 0)
    AuditOps.categoricalDriftBy(docs, thinned, "lang", "source")
      .groupBy("grp").agg(min(col("tvd")).as("tvd"))
      .orderBy("grp").collect().foreach { r =>
        println(s"""{"detector":"drift_by_source","source":"${r.getString(0)}",""" +
          s""""tvd":${if (r.isNullAt(1)) "null" else r.getDouble(1)}}""")
      }
    AuditOps.psiReportBy(docs, thinned, "lang", "source")
      .groupBy("grp").agg(min(col("psi")).as("psi"))
      .orderBy("grp").collect().foreach { r =>
        println(s"""{"detector":"psi_by_source","source":"${r.getString(0)}",""" +
          s""""psi":${if (r.isNullAt(1)) "null" else r.getDouble(1)}}""")
      }
    // JSD of each source's language mix vs the corpus mix — the bounded
    // symmetric f-divergence next to TVD/PSI (r12)
    AuditOps.jsdBySource(docs, "lang", "source")
      .collect().foreach { r =>
        println(s"""{"detector":"jsd_source","source":"${r.getString(0)}",""" +
          s""""jsd_norm":${r.getDouble(3)}}""")
      }
    // privacy release gate: k-anonymity / l-diversity of the
    // (lang, length-band) quasi-identifiers vs source (r9)
    val ka = AuditOps.kAnonymityReport(
      docs.withColumn("len_band", expr("n_chars div 200")),
      Seq("lang", "len_band"), col("source"), k = 5, l = 3).collect()(0)
    println(s"""{"detector":"k_anonymity","n_groups":${ka.getLong(1)},""" +
      s""""min_group":${ka.getLong(2)},"min_l":${ka.getLong(5)},""" +
      s""""k_anonymous":${ka.getBoolean(6)},"l_diverse":${ka.getBoolean(7)}}""")
    // source-concentration grade for the mixture rebalance (r9)
    val gini = AuditOps.giniReport(docs, "source").collect()(0)
    println(s"""{"detector":"gini","categories":${gini.getLong(0)},""" +
      s""""rows":${gini.getLong(1)},"gini":${
        if (gini.isNullAt(2)) "null" else gini.getDouble(2)}}""")
    // collection-bias check: is language independent of source? (r11 —
    // the cross-margin question the per-source drift rows can't answer)
    val ind = AuditOps.independenceReport(docs, "lang", "source").collect()(0)
    println(s"""{"detector":"chisq_indep","n":${ind.getLong(0)},""" +
      s""""chi2":${ind.getDouble(4)},""" +
      s""""cramers_v":${if (ind.isNullAt(6)) "null" else ind.getDouble(6)},""" +
      s""""dependent":${ind.getBoolean(7)}}""")

    val failed = dq.count(_.getLong(6) == 0L)
    println(s"""{"audit":"done","checks":${dq.length},"failed":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  /** `graft.Audit --card <sfDir> <cardRoot>` — compute the release data
    * card and PUBLISH it as the next immutable
    * [[graft.sources.SnapshotStore]] version at `cardRoot` (atomic
    * `_latest` flip, row-count + digest manifest) — the data card lives
    * next to the corpus manifests, versioned the same way, so "what did
    * the corpus look like when v12 shipped" is one time-travel read.
    * Prints one JSON line per card section summary plus the published
    * version.
    */
  private def runCard(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cardRoot = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-card").toString)
    val spark = Session.local(Session.cpus(8), 8)
    val card = buildCard(spark, sfDir).localCheckpoint()
    val v = graft.sources.SnapshotStore.publish(card, cardRoot,
      concat_ws(":", col("section"), col("source"), col("metric")))
    card.groupBy("section").agg(count(lit(1)).as("rows"))
      .orderBy("section").collect().foreach { r =>
        println(s"""{"card_section":"${r.getString(0)}","rows":${r.getLong(1)}}""")
      }
    println(s"""{"card":"published","root":"${CliJson.str(cardRoot)}","version":$v,"rows":${card.count()}}""")
    spark.stop()
  }
}
