package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AuditOps, DedupOps, GraphOps, SimilarityOps, TextOps}

/** End-to-end training-corpus build — the library's operators chained the
  * way a production pipeline runs them, in one command:
  *
  *   sbt "runMain graft.Pipeline <sfDir> <outDir> [--tokenizer=DIR]"
  *
  * documents.parquet
  *   → admission gate ([[AuditOps.dataQualityReport]] — structural
  *     constraints checked before any transform runs)
  *   → decontaminate (benchmark anti join, [[DedupOps.antiJoinDedup]])
  *   → quarantine ([[GraphOps.quarantineSet]] — docs transitively
  *     near-dup to the benchmark leave with it)
  *   → exact dedup (keep-first by content digest)
  *   → near-dup dedup ([[DedupOps.minhashPairs]] → connected components →
  *     [[DedupOps.keepCanonical]])
  *   → quality floor ([[TextOps.quality]] score ≥ 0.3)
  *   → temperature mixture ([[TextOps.applyMixtureRows]])
  *   → sequence packing ([[TextOps.packSequences]]) + padding-based
  *     layout ([[TextOps.lengthBuckets]]) + release data card
  *     ([[TextOps.corpusReport]])
  *   → parquet partitioned by lang;
  * then the embedding side: semantic decontamination
  * ([[SimilarityOps.semanticDecontaminate]], the embedding-space
  * eval-leakage guard) → SemDeDup near-pairs → connected components →
  * canonical survivors → PQ codebooks + codes persisted as the ANN index.
  *
  * Prints one JSON line per stage with surviving counts. Every stage is
  * the SAME operator the correctness gate pins against DuckDB — this main
  * only composes them. Each counted stage is pinned once with
  * localCheckpoint (the iterative-lineage discipline); beyond those, a
  * frame is pinned only when it is read more than once — the full-corpus
  * MinHash pairs, the embedding near-pairs and a freshly trained BPE
  * model. A cluster deployment would write intermediate tables instead.
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    // `--tokenizer=DIR`: train-once/serve-many for the token budget —
    // first build trains a BPE tokenizer on the cleaned corpus and
    // persists it (TextOps.writeTokenizer); every later build LOADS the
    // artifact instead of re-training (the IVF-index restart contract,
    // now for tokenizer model state).
    val tokenizerDir = args.collectFirst {
      case a if a.startsWith("--tokenizer=") => a.stripPrefix("--tokenizer=")
    }
    val pos = args.filterNot(_.startsWith("--"))
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = pos.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-pipeline").toString)
    val spark = Session.local(Session.cpus(8), 8)
    // wall-clock from here (session up, nothing read) — the number the
    // end-to-end scale curve fits, free of JVM/sbt startup constants
    val t0 = System.nanoTime()

    def stage(name: String, df: DataFrame): DataFrame = {
      val cp = df.localCheckpoint()
      println(s"""{"stage":"$name","docs":${cp.count()}}""")
      cp
    }

    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"""{"stage":"input","docs":${raw.count()}}""")

    // 0. admission gate: the constraint suite runs BEFORE any transform
    //    touches the corpus (a failed structural check means the upstream
    //    delivery is broken — re-crawl, don't launder)
    val dq = AuditOps.dataQualityReport(Map("documents" -> raw), Seq(
      AuditOps.Check.NotNull("documents", "doc_id"),
      AuditOps.Check.NotNull("documents", "text"),
      AuditOps.Check.UniqueKey("documents", Seq("doc_id")),
      AuditOps.Check.InRange("documents", "n_chars", "1", "1000000")))
      .collect()
    val dqFailed = dq.count(_.getLong(6) == 0L)
    println(s"""{"stage":"dq_gate","checks":${dq.length},"failed":$dqFailed}""")
    // fail FAST, like the Audit CLI: a failed structural check means the
    // upstream delivery is broken — abort instead of laundering it through
    // dedup and publish (ADVICE r7)
    if (dqFailed > 0) {
      System.err.println(s"[pipeline] dq gate failed $dqFailed check(s); aborting")
      spark.stop()
      sys.exit(1)
    }

    // 1. cross-corpus decontamination (benchmark = every 50th doc, the
    //    gate convention; swap in the real eval set in production)
    val bench = raw.filter(col("doc_id") % 50 === 0)
    val clean0 = stage("decontaminated", DedupOps.antiJoinDedup(raw, bench))

    // MinHash pass runs ONCE per build (ADVICE r8) — quarantine uses the
    // full-corpus pairs, near-dup derives ITS pairs by semi-joining both
    // endpoints against the exact-dedup survivors (pairs are pairwise, so
    // the restriction is exact, not an approximation). Pinned: read three
    // times (graph QA, quarantine, near-dup).
    val pairsAll = DedupOps.minhashPairs(raw).localCheckpoint()
    // dup-graph shape QA: clique-like clusters are healthy, chain-like
    // ones over-merge (one pass over the pinned pair set)
    val gq = GraphOps.triangleStats(pairsAll).collect()(0)
    println(s"""{"stage":"graph_qa","edges":${gq.getLong(0)},""" +
      s""""triangles":${gq.getLong(1)},"wedges":${gq.getLong(2)},""" +
      s""""clustering":${if (gq.isNullAt(3)) "null" else gq.getDouble(3)}}""")

    // 1b. contamination blast radius: the benchmark's transitive near-dups
    //     (paraphrase chains) leave with it — the exact anti join above
    //     only catches verbatim copies
    val qIds = GraphOps.quarantineSet(pairsAll, bench.select("doc_id"), maxHops = 2)
      .filter(col("hops") > 0).select("doc_id")
    val clean = stage("quarantined", clean0.join(qIds, Seq("doc_id"), "left_anti"))

    // 2. exact dedup: keep the smallest doc_id per content digest
    val keepIds = clean.groupBy(md5(col("text")).as("d"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val exact = stage("exact_dedup", clean.join(keepIds, Seq("doc_id"), "left_semi"))

    // 3. near-dup dedup: pairs → components → canonical survivors
    val survIds = exact.select("doc_id")
    val exactPairs = pairsAll
      .join(survIds.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
      .join(survIds.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
    val nearDeduped = stage("near_dedup", DedupOps.keepCanonical(exact,
      DedupOps.nearDupClusters(exactPairs)))

    // 4. quality floor
    val goodIds = TextOps.quality(nearDeduped)
      .filter(col("quality_score") >= 0.3).select("doc_id")
    val good = stage("quality_filtered",
      nearDeduped.join(goodIds, Seq("doc_id"), "left_semi"))

    // 5. temperature mixture (α = 0.5; rarest language keeps everything)
    val mixed = stage("mixture_applied",
      TextOps.applyMixtureRows(good)
        .select(good.columns.map(col).toSeq: _*))

    // 5b. token budget under a PERSISTED tokenizer: load the artifact if
    //     one exists, else train on this build's cleaned corpus and
    //     persist it for every later build/restart
    tokenizerDir.foreach { dir =>
      val loaded = TextOps.tokenizerExists(dir)
      val (family, model, mpl) =
        if (loaded) TextOps.readTokenizer(spark, dir)
        else {
          val m = TextOps.bpeTrain(good, nMerges = 8).localCheckpoint()
          TextOps.writeTokenizer(m, dir, "bpe")
          ("bpe", m, 3)
        }
      val enc =
        if (family == "bpe")
          TextOps.bpeEncode(mixed, TextOps.bpeMergeSeq(model))
            .withColumnRenamed("n_bpe_tokens", "n_tokens")
        else TextOps.unigramEncode(mixed, TextOps.unigramLp(model), mpl)
      val b = enc.agg(sum("n_words").cast("long"), sum("n_tokens").cast("long"))
        .collect()(0)
      println(s"""{"stage":"token_budget","family":"$family","loaded":$loaded,""" +
        s""""n_words":${b.getLong(0)},"n_tokens":${b.getLong(1)}}""")
    }

    // 6. pack into fixed token budgets and persist, partitioned by lang
    val packs = TextOps.packSequences(mixed, capacity = 2048)
    println(s"""{"stage":"packed","pack_assignments":${packs.count()},"packs":${
      packs.select("lang", "pack_id").distinct().count()}}""")
    mixed.write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/corpus")
    packs.write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/packs")
    // versioned publish: each build lands as an immutable snapshot with
    // an atomic pointer flip — consumers read the live version, previous
    // builds stay pinned for rollback until vacuumed
    val snapV = graft.sources.SnapshotStore.publish(
      mixed, s"$outDir/snapshots", col("doc_id"))
    println(s"""{"stage":"snapshot_published","version":$snapV}""")

    // 6b. padding-based layout alongside the packed one (encoder-style
    //     dataloaders), plus the release data card per source
    val batches = TextOps.lengthBuckets(mixed, padTo = 64, batchSize = 8, nShards = 4)
    batches.write.mode("overwrite").parquet(s"$outDir/batches")
    println(s"""{"stage":"length_bucketed","batch_assignments":${batches.count()}}""")
    val report = TextOps.corpusReport(mixed)
    report.write.mode("overwrite").parquet(s"$outDir/report")
    println(s"""{"stage":"data_card","sources":${report.count()}}""")
    // privacy verdict on the released mix: k-anonymity / l-diversity of
    // the (lang, length-band) quasi-identifiers vs source — a WARNING
    // line, not an abort (what counts as a quasi-identifier is a release
    // policy; the DQ admission gate is the aborting one)
    val ka = graft.operators.AuditOps.kAnonymityReport(
      mixed.withColumn("len_band", expr("n_chars div 200")),
      Seq("lang", "len_band"), col("source"), k = 5, l = 3).collect()(0)
    println(s"""{"stage":"privacy_gate","min_group":${ka.getLong(2)},""" +
      s""""min_l":${ka.getLong(5)},"k_anonymous":${ka.getBoolean(6)},""" +
      s""""l_diverse":${ka.getBoolean(7)}}""")

    // ---- embedding side: semantic decontamination + dedup + PQ index ----
    val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
    println(s"""{"stage":"emb_input","vecs":${embAll.count()}}""")
    // embedding-space eval-leakage guard (bench = every 50th vector, the
    // gate convention, aligned with the document-side benchmark split)
    val emb = stage("emb_decontaminated",
      SimilarityOps.semanticDecontaminate(
        embAll.filter(col("vec_id") % 50 =!= 0),
        embAll.filter(col("vec_id") % 50 === 0),
        0.40, SimilarityOps.RELEASE_DECON_BITS, SimilarityOps.RELEASE_DECON_TABLES,
        SimilarityOps.RELEASE_DECON_SEED))
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val pairs = SimilarityOps.semanticDedup(emb, broadcast(cents), 0.40)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      .localCheckpoint()
    println(s"""{"stage":"emb_near_pairs","pairs":${pairs.count()}}""")
    val survivors = stage("emb_deduped",
      DedupOps.keepCanonical(
          emb.withColumnRenamed("vec_id", "doc_id"),
          DedupOps.nearDupClusters(pairs))
        .withColumnRenamed("doc_id", "vec_id"))
    val codebooks = SimilarityOps.pqCodebooks(survivors)
    val codes = SimilarityOps.pqCodes(survivors)
    codebooks.write.mode("overwrite").parquet(s"$outDir/pq_codebooks")
    codes.write.mode("overwrite").parquet(s"$outDir/pq_codes")
    println(s"""{"stage":"emb_indexed","codes":${codes.count()},"codebook_rows":${codebooks.count()}}""")
    println(s"""{"stage":"written","out":"${CliJson.str(outDir)}","wall_s":${
      (System.nanoTime() - t0) / 1e9}}""")
    spark.stop()
  }
}
