package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** One-command streaming ingest — the operational wrapper over
  * [[graft.streaming.StreamOps.ingestPipeline]], completing the CLI
  * family (Pipeline = batch corpus build, Audit = data card,
  * Snapshots = lifecycle, Ingest = continuous intake):
  *
  *   sbt "runMain graft.Ingest <landingDir> <corpusParquet> <outRoot>
  *        [minScore] [--follow] [--compact-every=N] [--keep=K]
  *        [--ann-index=DIR]"
  *
  * `<corpusParquet>` is the RELEASED corpus (documents-shaped parquet:
  * doc_id, lang, n_chars, text) that incoming docs are decontaminated
  * against — its MinHash index is built once at startup (the production
  * deployment loads a persisted [[graft.operators.DedupOps.writeMinhashIndex]]
  * instead; this CLI favors zero setup). `<outRoot>/snap` receives one
  * immutable snapshot version per micro-batch, `<outRoot>/quarantine`
  * the reject rows, `<outRoot>/ckpt` the checkpoint — re-running the
  * same command RESUMES from the checkpoint (landed-but-processed files
  * are not reprocessed; the StreamingIngestSpec restart contract).
  *
  * By default the command drains everything currently in the landing
  * dir and exits (the cron-driven intake shape); `--follow` keeps the
  * query running until killed (the daemon shape). `minScore` (default
  * disabled) applies the classifier floor with a uniform demo model —
  * production passes a trained model through the library API.
  *
  * Maintenance: `--compact-every=N` folds the log into one compacted
  * full-snapshot version whenever N increment versions accrete
  * ([[graft.streaming.StreamOps.compactIngestLog]] — bounds versions AND
  * small files under continuous ingest); `--keep=K` (default 2) retains
  * K full snapshots as rollback history (only meaningful with
  * `--compact-every`). Read the current corpus with
  * [[graft.streaming.StreamOps.ingestCorpus]].
  *
  * ANN maintenance: `--ann-index=DIR` names a persisted IVF index
  * ([[graft.operators.SimilarityOps.writeIvfIndex]]); each published
  * batch's vectors join it as an idempotent versioned append with a
  * persisted drift report ([[graft.operators.SimilarityOps
  * .appendVersionToIvfIndex]]). Requires the landing schema to carry an
  * `embedding` column, so this CLI enables it only together with the
  * flag (the default schema is doc_id + text). With `--compact-every`
  * the ANN index rides the same maintenance cycle: after each log
  * compaction the accreted append subdirs fold into the base lists
  * ([[graft.operators.SimilarityOps.compactIvfIndex]] — atomic pointer
  * flip, probe cost flat in version count).
  */
object Ingest {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: graft.Ingest <landingDir> <corpusParquet> <outRoot>" +
          " [minScore] [--follow] [--compact-every=N] [--keep=K]" +
          " [--ann-index=DIR] [--tokenizer=DIR]")
      sys.exit(2)
    }
    val Array(landing, corpusPath, outRoot) = args.take(3)
    val follow = args.contains("--follow")
    val minScore = args.drop(3).filterNot(_.startsWith("--"))
      .headOption.map(_.toDouble).getOrElse(Double.NegativeInfinity)
    def flagVal(name: String): Option[Int] = args.collectFirst {
      case a if a.startsWith(s"--$name=") => a.stripPrefix(s"--$name=").toInt
    }
    val compactEvery = flagVal("compact-every").getOrElse(0)
    val keepFull = flagVal("keep").getOrElse(2)
    val annIndexDir = args.collectFirst {
      case a if a.startsWith("--ann-index=") => a.stripPrefix("--ann-index=")
    }
    val spark = Session.local(Session.cpus(8), 8)

    val corpus = spark.read.parquet(corpusPath)
      .select("doc_id", "lang", "n_chars", "text")
    val index = graft.operators.DedupOps.minhashIndex(corpus)
    index._1.persist(); index._2.persist()
    // demo model: a REAL perceptron trained at startup on the released
    // corpus (label = lang='en' — swap in curated seed labels in
    // production, or pass a trained table through the library API). The
    // floor only bites when the caller passes a minScore; with the
    // default -inf the scores still ride into the published versions as
    // the floor's evidence column.
    val model = graft.operators.TextOps.trainPerceptron(
      corpus, col("lang") === "en", iters = 3).localCheckpoint()
    // `--tokenizer=DIR`: a restart loads the persisted unigram model
    // instead of re-training it every process (TextOps.writeTokenizer —
    // the ANN index's train-once/serve-many contract, for tokenizer
    // state); the released corpus's fertility under it prints as
    // startup evidence the artifact round-tripped
    args.collectFirst {
      case a if a.startsWith("--tokenizer=") => a.stripPrefix("--tokenizer=")
    }.foreach { dir =>
      import graft.operators.TextOps
      val loaded = TextOps.tokenizerExists(dir)
      val (_, tokModel, mpl) =
        if (loaded) TextOps.readTokenizer(spark, dir)
        else {
          val m = TextOps.unigramModel(corpus, candN = 500, maxPieceLen = 3,
            rounds = 2)
          TextOps.writeTokenizer(m, dir, "unigram", 3)
          ("unigram", m, 3)
        }
      val f = TextOps.unigramFertility(corpus, TextOps.unigramLp(tokModel), mpl,
          groupCol = "lang")
        .agg(sum("n_words").cast("long"), sum("n_tokens").cast("long")).collect()(0)
      println(s"""{"cli":"ingest","tokenizer":"${CliJson.str(dir)}","loaded":$loaded,""" +
        s""""n_words":${f.getLong(0)},"n_tokens":${f.getLong(1)}}""")
    }
    val schema = StructType(
      Seq(StructField("doc_id", LongType), StructField("text", StringType)) ++
        annIndexDir.map(_ => StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
    val q = graft.streaming.StreamOps.ingestPipeline(spark, landing, schema,
      required = Seq("doc_id", "text"), corpusIndex = index, model = model,
      minScore = minScore, snapRoot = s"$outRoot/snap",
      quarantineDir = s"$outRoot/quarantine", checkpointDir = s"$outRoot/ckpt",
      compactEvery = compactEvery, keepFull = keepFull,
      annIndexDir = annIndexDir)
    if (follow) q.awaitTermination()
    else {
      q.processAllAvailable()
      q.stop()
      val live = graft.sources.SnapshotStore.latestVersion(s"$outRoot/snap")
      println(s"""{"cli":"ingest","landing":"${CliJson.str(landing)}","live_version":${
        live.map(_.toString).getOrElse("null")}}""")
    }
    spark.stop()
  }
}
