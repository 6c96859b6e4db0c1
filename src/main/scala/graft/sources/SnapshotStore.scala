package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned corpus publishes with ATOMIC snapshot swap and time travel —
  * the missing lifecycle around the sinks: [[CorpusSink]] writes and
  * certifies ONE delivery; training pipelines need "publish v(n+1),
  * readers atomically flip, v(n) stays readable until vacuumed, roll
  * back = point at v(n) again". The design re-expresses the public
  * Delta/Iceberg core idea — data files are immutable, commits are a
  * metadata pointer swap — at the minimal scale this library needs:
  *
  * ```
  * <root>/v=<n>/part-*.parquet      immutable data of version n
  * <root>/_meta/v=<n>.json          manifest: n_rows + order-independent
  *                                  XOR id digest (the CorpusSink columns)
  * <root>/_latest                   ONE file holding the live version id,
  *                                  replaced by atomic rename
  * ```
  *
  * Readers resolve `_latest` once and then read only `v=<n>/` — a
  * publish in progress is invisible (its dir isn't pointed at) and a
  * completed publish is all-or-nothing (rename is atomic on POSIX
  * filesystems; on object stores swap the pointer in whatever atomic
  * primitive the store offers — the layout is unchanged). Scale shape:
  * commit cost is O(1) metadata regardless of data size; time-travel
  * reads are ordinary parquet scans of an immutable dir, so caching /
  * bucketing / statistics all keep working.
  *
  * Single-writer ENFORCED (not just documented): every writer-side op
  * (publish / rollback / vacuum) first claims `<root>/_publish.lease`
  * by exclusive create (`CREATE_NEW` — the POSIX O_EXCL semantics), so
  * a second concurrent writer fails loudly instead of racing the
  * version counter or flipping the pointer out of order. The lease is
  * released in a finally; a crashed writer leaves a stale lease that
  * [[breakLease]] removes after a human (or orchestrator) confirms the
  * holder is dead — the store itself is still consistent (the crash
  * discipline above holds: at worst an orphan dir, never a visible
  * partial version). On an object store the lease maps to a
  * conditional PUT (`If-None-Match: *` on S3/GCS) of the same key.
  */
object SnapshotStore {

  // This implementation's version listing and pointer swap use the LOCAL
  // filesystem (java.io/java.nio): a scheme-qualified root (hdfs://,
  // s3a://) would silently list nothing and allocate version 1 forever.
  // Fail loudly instead; a distributed-FS port swaps these primitives for
  // Hadoop FileSystem listStatus + the store's atomic pointer op, with
  // the layout unchanged.
  private def requireLocal(root: String): Unit =
    require(!root.contains("://"),
      s"SnapshotStore: local-filesystem roots only (got $root) — port the " +
        "listing/pointer primitives to your store's atomic ops for remote use")

  private def metaDir(root: String) = s"$root/_meta"
  private def dataDir(root: String, v: Long) = s"$root/v=$v"
  private def pointer(root: String) = java.nio.file.Paths.get(root, "_latest")
  private def leasePath(root: String) = java.nio.file.Paths.get(root, "_publish.lease")

  /** Run `body` holding the exclusive writer lease. Exclusive-create is
    * the atomic claim; a held lease raises (second writer fails loudly —
    * the store is never left racing two version allocations or pointer
    * swaps). Always released on exit, including failure paths.
    */
  private def withLease[A](root: String, op: String)(body: => A): A = {
    new java.io.File(root).mkdirs()
    val lease = leasePath(root)
    try
      java.nio.file.Files.write(lease,
        s"""{"op":"$op","pid":${ProcessHandle.current.pid}}""".getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val holder = try new String(
          java.nio.file.Files.readAllBytes(lease), "UTF-8") catch {
          case _: java.io.IOException => "<unreadable>"
        }
        throw new IllegalStateException(
          s"SnapshotStore.$op: another writer holds $lease ($holder) — " +
            "wait for it to finish, or if its process is dead, clear the " +
            "stale lease with SnapshotStore.breakLease(root)")
    }
    try body finally java.nio.file.Files.deleteIfExists(lease)
  }

  /** Remove a stale writer lease left by a CRASHED publisher. Only call
    * after confirming the holding process (recorded in the lease body) is
    * dead — breaking a live writer's lease re-opens the race the lease
    * exists to prevent. Returns true iff a lease file was removed.
    */
  def breakLease(root: String): Boolean = {
    requireLocal(root)
    java.nio.file.Files.deleteIfExists(leasePath(root))
  }

  /** Manifest-backed version ids, sorted — shared with the streaming
    * ingest's index reconcile ([[graft.streaming.StreamOps]]), which
    * must key off the same "publish completed" evidence [[vacuum]] uses.
    */
  private[graft] def manifestVersions(root: String): Seq[Long] = {
    val metaD = new java.io.File(metaDir(root))
    if (!metaD.isDirectory) Nil
    else metaD.listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("v=") && n.endsWith(".json"))
      .map(_.stripPrefix("v=").stripSuffix(".json").toLong).sorted
  }

  /** Recursive delete — the one implementation [[removeVersions]] and the
    * ingest-index maintenance share. */
  private[graft] def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && f.listFiles() != null) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  private def existingVersions(root: String): Seq[Long] = {
    val d = new java.io.File(root)
    if (!d.exists()) Nil
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.stripPrefix("v=").toLong)
      .sorted
  }

  /** Publish `df` as the next version and atomically flip `_latest`.
    * Order: data dir → manifest → pointer swap; a crash before the swap
    * leaves an orphan dir (re-publish allocates past it; [[vacuum]]
    * removes it) and NEVER a reader-visible partial version. Returns the
    * new version id.
    */
  def publish(df: DataFrame, root: String, idCol: Column): Long = {
    requireLocal(root)
    withLease(root, "publish") {
    val v = existingVersions(root).lastOption.getOrElse(0L) + 1L
    df.write.mode("errorifexists").parquet(dataDir(root, v))
    // manifest certifies the written bytes (read back, the CorpusSink
    // discipline): count + order-independent XOR digest of the id hash
    // (native bit_xor aggregate — exact, distributive, 8 bytes of state)
    val back = readVersion(df.sparkSession, root, v)
    val m = back.agg(count(lit(1)).as("n_rows"),
        coalesce(bit_xor(xxhash64(idCol)), lit(0L)).as("digest"))
      .collect()(0)
    val metaD = new java.io.File(metaDir(root)); metaD.mkdirs()
    val meta = s"""{"version":$v,"n_rows":${m.getLong(0)},"digest":${m.getLong(1)}}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(metaDir(root), s"v=$v.json"),
      meta.getBytes("UTF-8"))
    val tmp = java.nio.file.Paths.get(root, s"_latest.tmp.$v")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, pointer(root),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    v
    }
  }

  /** The live version id, or None before the first publish. */
  def latestVersion(root: String): Option[Long] = {
    requireLocal(root)
    val p = pointer(root)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong)
  }

  /** Read the live snapshot (resolves `_latest` once at call time). */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"SnapshotStore: no published version at $root"))
    readVersion(spark, root, v)
  }

  /** Time travel: read a pinned version (must not be vacuumed). */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    spark.read.parquet(CorpusSink.literalPath(dataDir(root, v)))

  /** Roll back: atomically point `_latest` at an EXISTING older version
    * (no data movement — the whole point of immutable version dirs).
    */
  def rollback(root: String, v: Long): Unit = {
    requireLocal(root)
    withLease(root, "rollback") {
      require(existingVersions(root).contains(v),
        s"SnapshotStore.rollback: version $v does not exist at $root")
      val tmp = java.nio.file.Paths.get(root, s"_latest.tmp.rb$v")
      java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, pointer(root),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Version table from the manifests: (version, n_rows, digest). */
  def versions(spark: SparkSession, root: String): DataFrame = {
    val d = new java.io.File(metaDir(root))
    if (!d.exists())
      return spark.range(0).select(col("id").as("version"),
        col("id").as("n_rows"), col("id").as("digest"))
    spark.read.json(d.listFiles().filter(_.getName.endsWith(".json"))
        .map(f => CorpusSink.literalPath(f.getPath)).toSeq: _*)
      .select(col("version").cast("long"), col("n_rows").cast("long"),
        col("digest").cast("long"))
      .orderBy("version")
  }

  /** Remove data dirs (and manifests) of all versions EXCEPT the newest
    * `keep` MANIFEST-BACKED versions and the live pointer's target —
    * bounded storage without ever breaking `read`. Orphan dirs from
    * crashed publishes (data dir but no manifest, never pointed at) are
    * victims FIRST and never count toward `keep`: otherwise a single
    * crash could make vacuum retain the useless orphan while deleting an
    * older readable version. Returns the removed version ids.
    */
  def vacuum(root: String, keep: Int): Seq[Long] = {
    requireLocal(root)
    require(keep >= 1, s"SnapshotStore.vacuum: keep >= 1, got $keep")
    withLease(root, "vacuum") {
      val live = latestVersion(root)
      val all = existingVersions(root)
      val backed = manifestVersions(root).toSet
      val kept = all.filter(backed.contains).takeRight(keep).toSet
      val victims = all.filterNot(kept.contains).filterNot(live.contains)
      removeVersions(root, victims)
    }
  }

  private def removeVersions(root: String, victims: Seq[Long]): Seq[Long] = {
    victims.foreach { v =>
      deleteRecursively(dataDir(root, v))
      new java.io.File(metaDir(root), s"v=$v.json").delete()
    }
    victims
  }

  /** Caller-policy vacuum: remove every version EXCEPT the `keep` set and
    * the live pointer's target. Used where newest-K is the wrong policy —
    * e.g. the streaming ingest log retains its compacted full snapshots
    * and drops the increments they fold
    * ([[graft.streaming.StreamOps.compactIngestLog]]). Manifest-less
    * orphans not in `keep` are victims like any version. Returns the
    * removed version ids.
    */
  def vacuumKeeping(root: String, keep: Set[Long]): Seq[Long] = {
    requireLocal(root)
    withLease(root, "vacuumKeeping") {
      val live = latestVersion(root)
      removeVersions(root,
        existingVersions(root).filterNot(keep.contains).filterNot(live.contains))
    }
  }

}
