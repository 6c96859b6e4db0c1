package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One harness-side span: a timed call into the library. `op` is the
  * label the call's Spark jobs carry (local property [[Recorder.OpKey]]),
  * `group` the layer bucket it reports under (a gate family, a pipeline
  * stage, an MC phase). Start and end are epoch milliseconds, to match
  * Spark's event times; the duration itself is measured in nanoseconds.
  * A span with a `parent` is part of that op's time, not added to it.
  */
final case class Span(op: String, group: String, startMs: Long, endMs: Long, nanos: Long,
    parent: String = "") {
  def seconds: Double = nanos / 1e9
}

/** One completed Spark stage, attributed to the op that submitted it. */
final case class StageRec(op: String, startMs: Long, endMs: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, maxTaskMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long, output: Long)

/** One query execution's planning record: analysis + optimization +
  * physical planning time from its planning tracker, and the exchange
  * nodes of its final executed plan.
  */
final case class QeRec(startMs: Long, planMs: Long, exchanges: Int)

/** The traced run's recorder: a SparkListener for jobs, stages and tasks
  * plus a QueryExecutionListener for plan timing. Everything stays in
  * memory; [[summary]] reduces it over a set of spans at the end.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val stageOp = mutable.Map.empty[(Int, Int), String]
  private val maxTask = mutable.Map.empty[(Int, Int), Long]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  private def opOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Recorder.OpKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += opOf(e.properties) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageOp((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = opOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    synchronized {
      val k = (e.stageId, e.stageAttemptId)
      maxTask(k) = math.max(maxTask.getOrElse(k, 0L), e.taskMetrics.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val m = i.taskMetrics
    if (m != null) stages += StageRec(stageOp.getOrElse(k, ""),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, maxTask.getOrElse(k, 0L),
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val rec = QeRec(phases.map(_.startTimeMs).min,
        phases.map(p => p.endTimeMs - p.startTimeMs).sum,
        Recorder.exchanges(qe.executedPlan))
      synchronized { qes += rec }
    }
  }

  /** Layer totals over `spans` (all of them timed back to back). Stage
    * busy time is the union of the spans' stage intervals, so the driver
    * gap is the part of the spans' wall time with no stage running.
    */
  def summary(spans: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val ops = spans.map(_.op).toSet
    val st = stages.filter(s => ops(s.op))
    val wallS = spans.map(_.seconds).sum
    val busyS = Recorder.union(st.map(s => (s.startMs, s.endMs)).toSeq) / 1e3
    val runS = st.map(_.runMs).sum / 1e3
    def mb(f: StageRec => Long) = st.map(f).sum / 1048576.0
    val inWindow = (ms: Long) => spans.exists(s => ms >= s.startMs && ms <= s.endMs)
    val qe = qes.filter(q => inWindow(q.startMs))
    Map(
      "spark.jobs" -> jobs.count(ops).toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> mb(_.shuffleWrite),
      "spark.shuffle_read_mb" -> mb(_.shuffleRead),
      "spark.spill_mb" -> mb(_.spill),
      "spark.input_mb" -> mb(_.input),
      "spark.output_mb" -> mb(_.output),
      "spark.stage_busy_s" -> busyS,
      "spark.driver_gap_s" -> (wallS - busyS),
      "spark.floor_ms_per_stage" -> (if (st.isEmpty) 0.0 else (wallS - busyS) * 1e3 / st.size),
      "spark.slot_util" -> (if (wallS <= 0) 0.0 else runS / (wallS * cores)),
      "spark.max_task_share" ->
        (if (runS <= 0) 0.0 else st.map(_.maxTaskMs).sum / 1e3 / runS),
      "plan_s" -> qe.map(_.planMs).sum / 1e3,
      "exchanges" -> qe.map(_.exchanges).sum.toDouble,
    )
  }
}

object Recorder {
  val OpKey = "perfbench.op"

  def attach(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }

  def detach(spark: SparkSession, r: Recorder): Unit = {
    spark.sparkContext.removeSparkListener(r)
    spark.listenerManager.unregister(r)
  }

  /** Exchanges that run: shuffle and broadcast nodes of the final plan,
    * through adaptive wrappers, query stages and subqueries; a reused
    * exchange runs nothing and is not counted.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
