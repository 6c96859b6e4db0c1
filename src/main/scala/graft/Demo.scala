package graft

import org.apache.spark.sql.functions._
import graft.core._

/** End-to-end demo reproducing the reference's notebook workflow
  * (`demos/demo_coin_sequences.ipynb`) on this engine — what a user of the
  * reference runs after switching:
  *
  * {{{ sbt "runMain graft.Demo [outDir]" }}}
  *
  * Runs all four demo workloads (A: 100k×16 fair coin; B: 60k×32 biased;
  * C/D: 200k×12 and 80k×28 with a 5-point starting sequence), writes each
  * model's traces as one CSV file (reference format), and prints the
  * per-model Monte Carlo estimates.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(".")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)

    val start = Seq("T", "T", "T", "T", "T")
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 100000, 16, Seq(0.5), Nil, 0, Some(s"$outDir/0.txt")),
      SimulationSpec(1, "coin_sequence", 60000, 32, Seq(0.7), Nil, 0, Some(s"$outDir/1.txt")),
      SimulationSpec(2, "coin_sequence", 200000, 12, Seq(0.5), start, 0, Some(s"$outDir/2.txt")),
      SimulationSpec(3, "coin_sequence", 80000, 28, Seq(0.7), start, 0, Some(s"$outDir/3.txt")))

    // Philox + reproducible master seed (omit masterSeed for the reference's
    // fresh-random behavior).
    val battery = new MCBattery(spark, RngFamily.Philox, masterSeed = Some(2024L))
    val t0 = System.nanoTime()
    val traces = battery.simulate(specs)
    TraceSink.writeReferenceCsv(traces, specs)
    val secs = (System.nanoTime() - t0) / 1e9

    println(f"generated + wrote ${specs.map(_.numberSimulations).sum}%,d traces in $secs%.1f s")
    MCBattery.explodeTraces(traces)
      .groupBy("model_id")
      .agg(avg(when(col("value") === "H", 1).otherwise(0)).as("heads_frac"),
        count(lit(1)).as("n_points"))
      .orderBy("model_id")
      .show()
    spark.stop()
  }
}
