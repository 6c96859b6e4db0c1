package perfbench

import java.io.{ByteArrayOutputStream, OutputStream, PrintStream}
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** `graft.Pipeline` in plain mode over the benchmark's documents and
  * embeddings, run once per JVM as its command line runs it: one cold
  * pass. The session is created in set-up, outside the timed call, and
  * the output goes to a fresh directory. (Pipeline stops its session at
  * the end; a traced run starts a new session for each added run.)
  *
  * The pipeline's stage lines are captured with their arrival times: the
  * gap before each line is that stage's time, and the lines themselves
  * (minus the output path and wall time) are the output check.
  */
final class PipelineWorkload(a: Main.Args) extends Workload {
  private var spark: SparkSession = _
  private val stageLines = mutable.ArrayBuffer.empty[Seq[String]]

  def setUp(): Unit = {
    spark = Main.session(a, PipelineWorkload.ShufflePartitions)
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    Seq("documents", "embeddings").foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").count())
  }

  /** The session, started again if the last run stopped it. */
  private def live(): SparkSession = {
    if (spark.sparkContext.isStopped) spark = Main.session(a, PipelineWorkload.ShufflePartitions)
    spark
  }

  /** One Pipeline run: a span for the whole call, one per stage line. */
  private def runOnce(kind: String, i: Int): Seq[Either[String, Span]] = {
    val out = s"${a.work}/pipeline/$kind$i"
    FileUtils.deleteDirectory(new java.io.File(out))
    val lines = new LineClock
    val whole = try Right(Timer.span(spark, s"$kind$i/pipeline", "pipeline") {
      Console.withOut(new PrintStream(lines, true, "UTF-8")) {
        graft.Pipeline.main(Array(a.data, out))
      }
    }) catch { case e: Exception => Left("pipeline: " + e.getMessage) }
    stageLines += lines.lines.map(_._2).toSeq
    val stages = whole.toSeq.flatMap { w =>
      def ms(ns: Long) = w.startMs + (ns - lines.origin) / 1000000L
      lines.lines.toSeq.scanLeft((lines.origin, Option.empty[Span])) { case ((prev, _), (ns, line)) =>
        val name = PipelineWorkload.stageName(line)
        (ns, Some(Span(s"$kind$i/$name", s"stage.$name", ms(prev), ms(ns), ns - prev, w.op)))
      }.flatMap(_._2).map(Right(_))
    }
    whole +: stages
  }

  def run(): Seq[(String, Any)] = {
    val tracer = new Tracer(() => live(), a)
    val cold = tracer.pass("cold", traced = false)(runOnce("cold", 0))
    // the single run is the measurement; a traced run adds the
    // untraced/traced pair of runs the layers and the overhead come from
    val warm = if (a.trace) tracer.warmPasses(i => runOnce("pair", i), kind = "pair") else Nil
    val layers = tracer.layers { (_, spans) =>
      spans.filter(_.group.startsWith("stage.")).map(s => s"pipeline.${s.group.stripPrefix("stage.")}.s" -> s.seconds).toMap
    }
    val checks = stageLines.zipWithIndex.map { case (lines, i) =>
      Map("check" -> s"pipeline.run$i", "observed" -> lines) }
    Seq("passes" -> (cold +: warm), "checks" -> checks.toSeq, "layers" -> layers)
  }

  def tearDown(): Unit = if (!spark.sparkContext.isStopped) spark.stop()

  /** Collects printed lines with the System.nanoTime of their arrival;
    * `origin` is when it was created, just before the timed call.
    */
  private final class LineClock extends OutputStream {
    val origin: Long = System.nanoTime()
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    private val buf = new ByteArrayOutputStream
    override def write(b: Int): Unit =
      if (b == '\n') { lines += System.nanoTime() -> buf.toString("UTF-8"); buf.reset() }
      else buf.write(b)
  }
}

object PipelineWorkload {
  /** Pipeline's own setting; its session builder applies it anyway. */
  val ShufflePartitions = 8

  def stageName(line: String): String =
    """"stage":"([^"]+)"""".r.findFirstMatchIn(line).map(_.group(1)).getOrElse("unknown")
}
