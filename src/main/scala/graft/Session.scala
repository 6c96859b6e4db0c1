package graft

import org.apache.spark.sql.SparkSession

/** The one way graft's mains (and the test suites) start Spark.
  *
  * Every session gets the same conf:
  *   - `spark.sql.legacy.parquet.nanosAsLong=true` — `events.ts` ships as
  *     parquet TIMESTAMP(NANOS) in some testdata generations, and the
  *     engine contract is int64 epoch nanos;
  *   - session time zone UTC — `Tables.normalizeTs` folds timestamp-typed
  *     generations back to nanos, which is only exact in UTC;
  *   - `spark.ui.enabled=false`;
  *   - a temp `spark.sql.warehouse.dir`, one per JVM, so bucketed-table
  *     writes never land in the working directory;
  *   - log level WARN.
  *
  * What differs is sizing, and each main keeps the values it has always
  * run with: the corpus-build and lifecycle CLIs (Pipeline, Audit,
  * Snapshots, Ingest) default to 8 cpus with 8 shuffle partitions, the
  * shape their recorded stage counts and timings come from; the
  * measurement mains (Bench, Verify, ScaleBench, SkewBench, Demo and the
  * `Plans dump`/`Plans time` tools) default to 32 cpus with one shuffle
  * partition per cpu, the shape the gate battery is benched in; PLANS.md
  * is rendered at a fixed `local(4, 4)` so the committed plans do not
  * depend on the host.
  *
  * On an already-running session (a harness that calls a main in-process)
  * `getOrCreate` returns that session and applies the runtime confs —
  * shuffle partitions included — to it.
  */
object Session {
  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft-warehouse").toString

  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Task slots: `SPARK_GRAFT_CPUS` when set, else the main's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)
}
