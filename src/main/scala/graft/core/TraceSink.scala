package graft.core

import java.io.BufferedOutputStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, SaveMode}
import org.apache.spark.sql.functions._

/** Trace sinks.
  *
  * The reference writes each model's battery as one local CSV file — one row
  * per trace, points as columns, truncate-on-open (`"w"` mode)
  * (`parallel_simulations/utils.py:15-23`). That exact behavior is preserved
  * by [[writeReferenceCsv]] for parity; the scale paths are
  * [[writePartitionedText]] / [[writeParquet]], which keep the write fully
  * distributed (one directory per model via `partitionBy`, no single-file
  * bottleneck — the right shape for a 100 TB run).
  *
  * The text and parity sinks want only each trace's CSV line. When they are
  * fed by [[MCBattery.simulate]], the [[NativeTraceLines]] optimizer rule
  * (installed by `MCBattery`) turns their `concat_ws(',', trace)` into
  * [[NativeTraceLine]], so the kernel writes the line's bytes directly and
  * no `array<string>` is built. [[writeParquet]] keeps the array.
  */
object TraceSink {

  /** Distributed CSV-format sink: `dir/model_id=<m>/part-*.txt`, one CSV line
    * per trace. Overwrite semantics, matching `utils.py:19`.
    */
  def writePartitionedText(traces: DataFrame, dir: String): Unit =
    traces
      .select(col("model_id"), concat_ws(",", col("trace")).as("value"))
      .write.mode(SaveMode.Overwrite).partitionBy("model_id").text(dir)

  /** Columnar sink for downstream analytics (keeps the array type). */
  def writeParquet(traces: DataFrame, dir: String): Unit =
    traces.write.mode(SaveMode.Overwrite).partitionBy("model_id").parquet(dir)

  /** Reference-parity sink: exactly one local CSV file per spec at its
    * `resolvedOutputPath` (default `./{i}.txt`,
    * `parallel_simulations.py:176-179`), one line per trace in sim_id order,
    * overwritten on rerun. A spec whose model has no rows gets an empty
    * file; specs sharing a `modelId` each receive that model's file.
    *
    * One shuffle-free job: the specs' rows are projected to
    * `(model_id, sim_id, CSV line bytes)` and collected; the driver groups
    * them by model and orders each group by sim_id — `simulate` emits each
    * partition as an ordered run, which TimSort merges in near-linear
    * time — and streams each file through one buffered writer. The files
    * therefore land on the driver's filesystem, where the reference writes
    * them too.
    *
    * The whole battery passes through driver memory and is bounded by
    * `spark.driver.maxResultSize`: use it at demo/parity scale. Larger
    * batteries belong on [[writePartitionedText]], which writes from the
    * executors.
    */
  def writeReferenceCsv(traces: DataFrame, specs: Seq[SimulationSpec]): Unit = {
    if (specs.isEmpty) return
    val rows = traces
      .filter(col("model_id").isin(specs.map(_.modelId): _*))
      .select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")).cast("binary"))
      .as(Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong, Encoders.BINARY))
      .collect()
    val byModel = rows.groupBy(_._1).map { case (m, rs) => m -> rs.sortBy(_._2) }
    specs.foreach { s =>
      val dest = Paths.get(s.resolvedOutputPath)
      Option(dest.getParent).foreach(Files.createDirectories(_))
      val out = new BufferedOutputStream(Files.newOutputStream(dest), 1 << 16)
      try byModel.get(s.modelId).foreach(_.foreach { r => out.write(r._3); out.write('\n') })
      finally out.close()
    }
  }
}
