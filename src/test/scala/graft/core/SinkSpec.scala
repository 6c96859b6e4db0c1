package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.SparkTestBase
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed sinks: per-model partitioned text (reference CSV format per
  * line) and partitioned parquet (array type preserved).
  */
class SinkSpec extends SparkTestBase {

  private val specs = Seq(
    SimulationSpec(0, "coin_sequence", 30, 5, Seq(0.5), Nil, 42),
    SimulationSpec(1, "random_walk", 20, 4, Seq(0.5), Nil, 43))

  test("writePartitionedText: one dir per model, one CSV line per trace") {
    val out = java.nio.file.Files.createTempDirectory("graft-ptext").toString
    val traces = new MCBattery(spark).simulate(specs)
    TraceSink.writePartitionedText(traces, out)
    val m0 = spark.read.text(s"$out/model_id=0")
    val m1 = spark.read.text(s"$out/model_id=1")
    assert(m0.count() == 30 && m1.count() == 20)
    assert(m0.head().getString(0).split(",").length == 5)
    assert(m1.head().getString(0).split(",").length == 4)
    // overwrite semantics (utils.py:19 "w" mode)
    TraceSink.writePartitionedText(traces, out)
    assert(spark.read.text(s"$out/model_id=0").count() == 30)
  }

  test("writeReferenceCsv edge cases: rowless spec -> empty file; shared modelId -> both paths served") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-edge")
    val traces = new MCBattery(spark).simulate(
      Seq(SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42)))
    // spec 9 has no rows in traces; specs 0a/0b share modelId 0 with
    // different output paths — both degraded gracefully in the per-spec
    // implementation and must keep doing so in the one-job form
    val outSpecs = Seq(
      SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42, Some(s"$tmp/a.csv")),
      SimulationSpec(0, "coin_sequence", 4, 3, Seq(0.5), Nil, 42, Some(s"$tmp/b.csv")),
      SimulationSpec(9, "coin_sequence", 1, 1, Seq(0.5), Nil, 1, Some(s"$tmp/none.csv")))
    TraceSink.writeReferenceCsv(traces, outSpecs)
    val a = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$tmp/a.csv"))
    val b = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$tmp/b.csv"))
    assert(a.size == 4 && a == b)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(s"$tmp/none.csv")) == 0)
  }

  private def withPaths(dir: Path) =
    specs.map(s => s.copy(outputPath = Some(s"$dir/${s.modelId}.txt")))

  test("writeReferenceCsv orders rows by sim_id whatever order they arrive in") {
    val traces = new MCBattery(spark).simulate(specs)
    def written(name: String, df: DataFrame): Seq[Seq[Byte]] = {
      val out = withPaths(Files.createTempDirectory(s"graft-csv-$name"))
      TraceSink.writeReferenceCsv(df, out)
      out.map(s => Files.readAllBytes(Paths.get(s.resolvedOutputPath)).toSeq)
    }
    val inOrder = written("inorder", traces)
    assert(inOrder.map(f => f.count(_ == '\n')) == Seq(30, 20))
    assert(written("repartitioned", traces.repartition(3)) == inOrder)
    assert(written("shuffled", traces.orderBy(rand(7))) == inOrder)
  }

  test("writeReferenceCsv runs one shuffle-free job: one stage, no shuffle write") {
    val out = withPaths(Files.createTempDirectory("graft-csv-stages"))
    val traces = new MCBattery(spark).simulate(out)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      TraceSink.writeReferenceCsv(traces, out)
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert((jobs.get, stages.get, shuffleBytes.get) == ((1, 1, 0L)))
  }

  test("writeParquet round-trips the array column and partitions by model") {
    val out = java.nio.file.Files.createTempDirectory("graft-pparq").toString
    val traces = new MCBattery(spark).simulate(specs)
    TraceSink.writeParquet(traces, out)
    val back = spark.read.parquet(out)
    assert(back.count() == 50)
    val sizes = back.groupBy("model_id").agg(min(size(col("trace"))), max(size(col("trace"))))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(sizes == Map(0 -> (5, 5), 1 -> (4, 4)))
    // traces must be byte-identical through the round trip
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")))
        .orderBy("model_id", "sim_id").collect().map(_.toSeq).toSeq
    assert(dump(back) == dump(traces))
  }
}
