package graft

import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

/** Standalone skew-join measurement (NOT part of the correctness gate —
  * timings are not oracleable). Joins an artificially skewed events key
  * (one hot key holding ~90% of the fact side) against a per-user build
  * table four ways:
  *
  *   - naive sort-merge join with AQE's skew handling (Spark's default);
  *   - naive sort-merge join with AQE disabled (what a non-adaptive
  *     engine, or a plan shape AQE can't rewrite, would run);
  *   - [[SkewJoin.saltedInnerJoin]] with AQE disabled — the explicit
  *     salted form on its own;
  *   - the salted join with AQE back on (the combination a real cluster
  *     would run).
  *
  * Broadcast is disabled: at the 100 TB design point the build side does
  * not fit an executor, and a broadcast join would sidestep the skew
  * entirely (that IS the right fix when the dim is small — see
  * RelationalQueries' broadcast joins). Each variant is timed twice and
  * the min reported, mirroring Bench. Results are recorded in
  * BENCHNOTES.md.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val events = spark.read.parquet(s"$sfDir/events.parquet")
    // skewed fact side, inflated 32x so the hot partition is heavy enough
    // to stall a task at this SF: ~90% of rows collapse onto key 0 (the
    // single-task pathology), the rest keep their user_id
    val left = events
      .select(col("event_id"), col("user_id"), col("value"),
        explode(array((0 until 32).map(lit): _*)).as("rep"))
      .select(
        when(pmod(col("event_id") + col("rep"), lit(10)) < 9, lit(0L))
          .otherwise(col("user_id")).as("k"),
        col("event_id"), col("value"))
    // build side: one row per user (plus the hot key 0), too big to ship
    // per-task at real scale — forced into a shuffle join above
    val right = events.groupBy(col("user_id").as("rk"))
      .agg(count(lit(1)).as("user_events"))
    left.count(); right.count() // warm page cache + JIT

    val naiveAqe = "naive_aqe_skewjoin" ->
      Measure.minOf(2)(Measure.noop(left.join(right, col("k") === col("rk"))))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val naiveNoAqe = "naive_no_aqe" ->
      Measure.minOf(2)(Measure.noop(left.join(right, col("k") === col("rk"))))
    val saltedNoAqe = "salted_no_aqe" ->
      Measure.minOf(2)(Measure.noop(SkewJoin.saltedInnerJoin(left, right, col("k"), col("rk"), 32)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val saltedAqe = "salted_aqe" ->
      Measure.minOf(2)(Measure.noop(SkewJoin.saltedInnerJoin(left, right, col("k"), col("rk"), 32)))

    // diagnose->act: the salt count comes from skewReport's suggestion
    // instead of a hand-picked constant — suggested_salt levels the hot
    // key to the average, capped at the task-slot count (salts beyond
    // parallelism only multiply right-side replication). PlanSpec pins
    // the semantics of this loop; this row measures it.
    val rep = graft.operators.SketchOps.skewReport(left, col("k")).collect()(0)
    val suggested = math.min(rep.getAs[Long]("suggested_salt"),
      cpus.toLong).toInt
    println(s"""{"metric":"skew_report","suggested_salt":${rep.getAs[Long]("suggested_salt")},"applied_salt":$suggested,"skew_factor":${rep.getAs[Double]("skew_factor")}}""")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val saltedSuggested = "salted_suggested_no_aqe" -> Measure.minOf(2)(
      Measure.noop(SkewJoin.saltedInnerJoin(left, right, col("k"), col("rk"), suggested)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    val all = Seq(naiveAqe, naiveNoAqe, saltedNoAqe, saltedAqe, saltedSuggested)
    val qs = all.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    println(s"""{"metric":"skew_join","unit":"sec","variants":$qs,"sf":"${CliJson.str(sfDir)}"}""")
    spark.stop()
  }
}
