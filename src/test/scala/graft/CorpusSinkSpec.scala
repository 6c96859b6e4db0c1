package graft

import graft.sources.CorpusSink
import org.apache.spark.sql.functions._

/** The release-packaging contract: deterministic sharding, a manifest
  * that certifies the on-disk bytes, and detection of the delivery
  * corruption classes (truncation, duplication) a consumer re-manifest
  * must catch.
  */
class CorpusSinkSpec extends SparkTestBase {
  import spark.implicits._

  test("writeSharded: deterministic shards, complete manifest, re-manifest agrees") {
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft-corpus-sink").toString
    val m1 = CorpusSink.writeSharded(docs, out, col("doc_id"), 8)
      .orderBy("shard").collect()
    // every row landed in exactly one of the 8 shards
    assert(m1.map(_.getLong(1)).sum == docs.count())
    assert(m1.length <= 8 && m1.nonEmpty)
    // consumer-side re-manifest of the same directory certifies the bytes
    val m2 = CorpusSink.manifest(spark, out, col("doc_id")).orderBy("shard").collect()
    assert(m1.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      m2.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // shard assignment is a pure hash: a second write produces the
    // identical manifest (row order inside shards may differ — the
    // order-independent digest must not care)
    val out2 = java.nio.file.Files.createTempDirectory("graft-corpus-sink2").toString
    val m3 = CorpusSink.writeSharded(
        docs.orderBy(col("doc_id").desc), out2, col("doc_id"), 8)
      .orderBy("shard").collect()
    assert(m1.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      m3.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("manifest detects truncated and duplicated deliveries") {
    val docs = graft.operators.Tables.t(spark, sfDir, "documents").limit(100)
    val out = java.nio.file.Files.createTempDirectory("graft-corpus-tamper").toString
    val good = CorpusSink.writeSharded(docs, out, col("doc_id"), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // truncated: drop some rows -> count and digest both move
    val outT = java.nio.file.Files.createTempDirectory("graft-corpus-trunc").toString
    val trunc = CorpusSink.writeSharded(docs.filter(col("doc_id") % 7 =!= 0),
        outT, col("doc_id"), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(trunc != good)

    // duplicated delivery: same ids twice -> digests XOR out to the
    // all-pairs cancellation, but n_rows doubles — the column PAIR catches
    // what either alone would miss
    val outD = java.nio.file.Files.createTempDirectory("graft-corpus-dup").toString
    val dup = CorpusSink.writeSharded(docs.unionAll(docs), outD, col("doc_id"), 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(dup.keySet == good.keySet)
    dup.foreach { case (s, (n, _)) => assert(n == 2 * good(s)._1) }
  }

  test("SnapshotStore: publish/flip/time-travel/rollback/vacuum lifecycle") {
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/corpus"
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "lang").limit(100)
    assert(SnapshotStore.latestVersion(root).isEmpty)
    intercept[IllegalStateException] { SnapshotStore.read(spark, root) }
    // v1: full set; v2: a thinned re-publish — the pointer flips, v1
    // stays readable (time travel), versions() carries the manifests
    val v1 = SnapshotStore.publish(docs, root, col("doc_id"))
    val v2 = SnapshotStore.publish(docs.filter(col("doc_id") % 2 === 0),
      root, col("doc_id"))
    assert(v1 == 1L && v2 == 2L)
    assert(SnapshotStore.latestVersion(root).contains(2L))
    assert(SnapshotStore.read(spark, root).count() ==
      docs.filter(col("doc_id") % 2 === 0).count())
    assert(SnapshotStore.readVersion(spark, root, 1L).count() == docs.count())
    val vs = SnapshotStore.versions(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(vs(1L) == docs.count() && vs(2L) == SnapshotStore.read(spark, root).count())
    // rollback is a metadata flip to an existing version
    SnapshotStore.rollback(root, 1L)
    assert(SnapshotStore.read(spark, root).count() == docs.count())
    intercept[IllegalArgumentException] { SnapshotStore.rollback(root, 99L) }
    // vacuum keeps the newest `keep` AND never the live target: with the
    // pointer rolled back to v1, vacuum(keep=1) may remove nothing live
    val removedNow = SnapshotStore.vacuum(root, keep = 1)
    assert(!removedNow.contains(1L), s"live version vacuumed: $removedNow")
    assert(SnapshotStore.read(spark, root).count() == docs.count())
    // flip forward again and vacuum v1 away; reads of latest survive
    SnapshotStore.rollback(root, 2L)
    val removed = SnapshotStore.vacuum(root, keep = 1)
    assert(removed == Seq(1L), removed.toString)
    assert(SnapshotStore.read(spark, root).count() == vs(2L))
    // the next publish allocates past the vacuumed ids
    val v3 = SnapshotStore.publish(docs.limit(10), root, col("doc_id"))
    assert(v3 == 3L && SnapshotStore.read(spark, root).count() == 10)
    // no pointer tmp files left behind (atomic-rename discipline)
    assert(!new java.io.File(root).listFiles().exists(_.getName.startsWith("_latest.tmp")))
  }

  test("SnapshotStore: a second concurrent writer fails loudly; breakLease recovers") {
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-snaplease").toString + "/c"
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "lang").limit(20)
    val v1 = SnapshotStore.publish(docs, root, col("doc_id"))
    assert(v1 == 1L)
    // lease released after a clean publish
    assert(!new java.io.File(root, "_publish.lease").exists())
    // emulate writer A mid-publish: hold the lease externally (the
    // deterministic interleaving — exclusive-create is the atomic claim,
    // so "held" is indistinguishable from a concurrent writer's window)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_publish.lease"),
      """{"op":"publish","pid":0}""".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    // every writer-side op raises; the store stays intact
    val e = intercept[IllegalStateException] {
      SnapshotStore.publish(docs, root, col("doc_id"))
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    intercept[IllegalStateException] { SnapshotStore.rollback(root, 1L) }
    intercept[IllegalStateException] { SnapshotStore.vacuum(root, keep = 1) }
    // the failed second writer must NOT have deleted writer A's lease
    assert(new java.io.File(root, "_publish.lease").exists())
    // the store is untouched: pointer still v1, no v=2 dir, reads work
    assert(SnapshotStore.latestVersion(root).contains(1L))
    assert(!new java.io.File(root, "v=2").exists())
    assert(SnapshotStore.read(spark, root).count() == 20)
    // crashed-writer recovery: breakLease, then publish proceeds
    assert(SnapshotStore.breakLease(root))
    assert(!SnapshotStore.breakLease(root), "second break finds no lease")
    val v2 = SnapshotStore.publish(docs.limit(5), root, col("doc_id"))
    assert(v2 == 2L && SnapshotStore.read(spark, root).count() == 5)
    // genuinely-racing writers: exactly one of two simultaneous publishes
    // wins when they collide; a loser (if any) raises the lease error
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val results = (0 until 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          gate.await()
          try Right(SnapshotStore.publish(docs.limit(3 + i), root, col("doc_id")))
          catch { case t: Throwable => Left(t) }
        }
      })
    }
    gate.countDown()
    val outcomes = results.map(_.get())
    pool.shutdown()
    val wins = outcomes.collect { case Right(v) => v }
    assert(wins.nonEmpty, s"no publish won: $outcomes")
    outcomes.collect { case Left(t) => t }.foreach { t =>
      assert(t.isInstanceOf[IllegalStateException] &&
        t.getMessage.contains("lease"), t.toString)
    }
    // allocation stayed race-free: versions are dense and distinct
    val vsAfter = SnapshotStore.versions(spark, root).collect().map(_.getLong(0))
    assert(vsAfter.distinct.length == vsAfter.length)
    assert(SnapshotStore.latestVersion(root).contains(vsAfter.max))
  }

  test("SnapshotStore versions feed snapshotDiff: the version-audit composition") {
    import graft.sources.SnapshotStore
    val root = java.nio.file.Files.createTempDirectory("graft-snapdiff").toString + "/c"
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text").limit(60)
    SnapshotStore.publish(docs.filter(col("doc_id") % 10 =!= 0), root, col("doc_id"))
    SnapshotStore.publish(docs.filter(col("doc_id") % 13 =!= 0), root, col("doc_id"))
    val d = graft.operators.DedupOps.snapshotDiff(
        SnapshotStore.readVersion(spark, root, 1L),
        SnapshotStore.readVersion(spark, root, 2L))
      .collect().map(r => r.getString(1) -> r).groupBy(_._1).view.mapValues(_.length).toMap
    // doc_ids divisible by 10 (absent in v1) appear as added; divisible
    // by 13 (absent in v2) as removed — exact counts from the carve
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(d.getOrElse("added", 0) == ids.count(i => i % 10 == 0 && i % 13 != 0), d.toString)
    assert(d.getOrElse("removed", 0) == ids.count(i => i % 13 == 0 && i % 10 != 0), d.toString)
  }

  test("SnapshotStore and CorpusSink read back roots with glob metacharacters literally") {
    import graft.sources.SnapshotStore
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "lang").limit(50)
    val base = java.nio.file.Files.createTempDirectory("graft-glob").toString
    // each root next to the sibling its name matches as a glob pattern
    // (`\s` unescapes to `s`, `[x]` matches `x`): a globbing read-back
    // would certify and return the decoy's 10 rows
    Seq("back\\slash" -> "backslash", "brack[x]et" -> "brackxet").foreach {
      case (name, decoy) =>
        SnapshotStore.publish(docs.limit(10), s"$base/$decoy/snap", col("doc_id"))
        CorpusSink.writeSharded(docs.limit(10), s"$base/$decoy/sharded", col("doc_id"), 4)
        val root = s"$base/$name"
        assert(SnapshotStore.publish(docs, s"$root/snap", col("doc_id")) == 1L)
        assert(SnapshotStore.read(spark, s"$root/snap").count() == 50)
        // the streaming-ingest reader folds the same version directories
        assert(graft.streaming.StreamOps.ingestCorpus(spark, s"$root/snap").count() == 50)
        assert(SnapshotStore.versions(spark, s"$root/snap").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toSeq == Seq(1L -> 50L))
        val m = CorpusSink.writeSharded(docs, s"$root/sharded", col("doc_id"), 4)
        assert(m.collect().map(_.getLong(1)).sum == 50)
        assert(CorpusSink.manifest(spark, s"$root/sharded", col("doc_id"))
          .collect().map(_.getLong(1)).sum == 50)
    }
  }

  test("readJsonl: round-trip, corrupt-line and missing-required quarantine") {
    import graft.sources.CorpusSource
    import org.apache.spark.sql.types._
    val docs = graft.operators.Tables.t(spark, sfDir, "documents")
      .select("doc_id", "text", "lang").limit(50)
    val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
    CorpusSource.writeJsonl(docs.repartition(1), out)
    // tamper: a malformed line, a blank line, and a parsed-but-unusable
    // record (null doc_id) appended to the shard set
    val extra = java.nio.file.Paths.get(out, "part-extra.txt")
    java.nio.file.Files.write(extra,
      java.util.Arrays.asList(
        """{"doc_id": 999, "text": "truncat""",
        "",
        """{"doc_id": null, "text": "no id", "lang": "en"}"""))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType)))
    val r = CorpusSource.readJsonl(spark, out, schema, required = Seq("doc_id"))
    // good rows: the 50 originals, content identical (blank line dropped)
    assert(r.good.count() == 50)
    val gotTexts = r.good.select("doc_id", "text", "lang").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).sortBy(_._1).toSeq
    val want = docs.collect()
      .map(x => (x.getLong(0), x.getString(1), x.getString(2))).sortBy(_._1).toSeq
    assert(gotTexts == want)
    assert(r.good.columns.contains("source_file"))
    // quarantine: exactly the two rejects, with the right reasons
    val q = r.quarantine.collect()
      .map(x => x.getString(2) -> x.getString(0)).toMap
    assert(q.size == 2, q.toString)
    assert(q("malformed_json").startsWith("""{"doc_id": 999"""))
    assert(q("missing_required").contains("no id"))
    // contract violations fail loudly, not silently
    intercept[IllegalArgumentException] {
      CorpusSource.readJsonl(spark, out, schema, required = Seq("nope"))
    }
  }
}
