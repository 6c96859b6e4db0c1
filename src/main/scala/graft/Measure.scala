package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timing core the measurement mains share (Bench, ScaleBench,
  * SkewBench, `Plans time`). Wall-clock seconds around a by-name body;
  * min-of-n as the steady-state cost (single runs showed 3-4× one-off
  * spikes from GC pauses and page-cache eviction — BENCHNOTES); and the
  * noop-sink write, which materializes EVERY column, where `.count()`
  * would let Catalyst prune unreferenced projections, windows and final
  * sorts and under-measure work that lives in the projection.
  */
object Measure {
  /** The six parquet inputs the gate battery reads. */
  val BatteryTables: Seq[String] =
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")

  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def minOf(n: Int)(body: => Unit): Double = (1 to n).map(_ => seconds(body)).min

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Warms the JVM (codegen JIT) and the page cache for `tables` so the
    * first measured body does not absorb one-time session cost. */
  def warm(spark: SparkSession, sfDir: String, tables: Seq[String]): Unit = {
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
  }
}
