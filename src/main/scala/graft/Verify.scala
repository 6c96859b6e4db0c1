package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    // Clean slate: a stale per-query dump from a previous run would be
    // silently compared (and could pass) if this run's query throws before
    // overwriting it — and a dump from a since-RENAMED query would be
    // reported by the gate as a live rows-only result. Delete ONLY the
    // artifacts Verify owns: every current-query subdirectory, plus every
    // name recorded in the manifest this program wrote on previous runs
    // (covers renamed/dropped queries), plus oracle_sql.json. Unrelated
    // files in outDir — even Spark outputs with a _SUCCESS marker — are
    // never touched, so pointing --out at a directory holding other
    // parquet data cannot delete it. listFiles() is null for
    // unreadable/raced paths.
    // Migration note (one-time): the manifest was introduced in round 3;
    // on the FIRST run against an older outDir, dumps of queries renamed
    // or dropped BEFORE that round are not in any manifest and linger.
    // That window has passed for the driver's gate dir (the round-3 gate
    // reported exactly the live query set, no strays); for a fresh outDir
    // the manifest exists from run one. We deliberately do NOT sweep
    // unmanifested _SUCCESS-marked directories: outDir may legitimately
    // hold a user's own Spark outputs, which such a sweep would delete.
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
      f.delete()
    }
    // Optional comma-separated subset for the fast dev loop (mirrors
    // Bench's filter). Filters BOTH the dumps and oracle_sql.json so
    // localverify's oracle-key iteration stays consistent. The driver
    // runs without it → full battery.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def keep(name: String): Boolean = only.forall(_(name))
    val outRoot = new java.io.File(outDir)
    val manifest = new java.io.File(outRoot, "graft_verify_manifest.txt")
    val previous =
      if (manifest.isFile)
        scala.jdk.CollectionConverters.ListHasAsScala(
          Files.readAllLines(manifest.toPath)).asScala.toSeq
      else Seq.empty
    val current = SparkEntry.queries.keys.toSeq
    (current ++ previous :+ "oracle_sql.json").distinct
      // defense in depth: owned names are flat identifiers; never follow
      // a manifest entry that could escape outDir
      .filterNot(n => n.isEmpty || n.contains('/') || n.contains('\\') || n.contains(".."))
      .foreach(n => rmrf(new java.io.File(outRoot, n)))
    outRoot.mkdirs()
    Files.writeString(manifest.toPath, current.mkString("\n"))
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
