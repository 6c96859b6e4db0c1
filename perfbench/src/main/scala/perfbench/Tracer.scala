package perfbench

import scala.collection.mutable
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession

/** Pass bookkeeping shared by the workloads. Untraced runs time every
  * pass with no listener attached. Traced runs attach a [[Recorder]] to
  * half of the warm passes, in untraced-traced-traced-untraced order so
  * that warm-up drift cancels; run.py takes the tracing overhead from the
  * two halves of one JVM.
  *
  * @param session the live session at the start of a pass (the pipeline
  *                workload starts a new one after Pipeline stops it)
  */
final class Tracer(session: () => SparkSession, a: Main.Args) {
  private val traced = mutable.ArrayBuffer.empty[(Recorder, Seq[Span])]

  /** Runs one pass; `body` returns a span per op, or the error of a
    * failed op. Returns the pass's record for the result line.
    */
  def pass(kind: String, traced: Boolean)(body: => Seq[Either[String, Span]]): Map[String, Any] = {
    val spark = session()
    val rec = if (traced) Some(Recorder.attach(spark)) else None
    val ops = body
    rec.foreach { r =>
      if (!spark.sparkContext.isStopped) Bus.drain(spark.sparkContext)
      Recorder.detach(spark, r)
      this.traced += r -> ops.collect { case Right(s) => s }
    }
    Map("kind" -> kind, "traced" -> traced, "ops" -> ops.map {
      case Right(s) => Map("op" -> s.op, "group" -> s.group, "s" -> s.seconds, "parent" -> s.parent)
      case Left(err) => Map("error" -> err)
    })
  }

  /** Warm passes until the run's seconds are spent: at least one, and in
    * a traced run at least four, traced in the middle two of each four.
    * `kind` names them in the result; only "warm" passes count as warm
    * end to end.
    */
  def warmPasses(body: Int => Seq[Either[String, Span]],
      kind: String = "warm"): Seq[Map[String, Any]] = {
    val t0 = System.nanoTime()
    val minPasses = if (a.trace) 4 else 1
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (out.size < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds)
      out += pass(kind, traced = a.trace && (out.size % 4 == 1 || out.size % 4 == 2))(body(out.size))
    out.toSeq
  }

  /** Per-layer figures of a traced run, per traced warm pass (the mean
    * over them): the Spark runtime layer and the workload's own layers
    * from `own`. Empty for an untraced run.
    */
  def layers(own: (Recorder, Seq[Span]) => Map[String, Double]): Map[String, Double] =
    if (!a.trace) Map.empty
    else {
      val perPass = traced.toSeq.map { case (r, spans) =>
        r.summary(spans.filter(_.parent.isEmpty), a.cores).filter(_._1.startsWith("spark.")) ++
          own(r, spans)
      }
      val keys = perPass.flatMap(_.keys).distinct
      keys.map(k => k -> perPass.flatMap(_.get(k)).sum / perPass.size).toMap
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
