package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{MCBattery, RngFamily, Rngs, SimulationSpec, TraceSink}

/** The paper's workload: coin-model batteries A–D at [[McWorkload.Scale]]
  * times the demo sizes, PCG64 (the reference default). Each pass builds
  * the battery with `MCBattery.simulate` and writes it once through the
  * partitioned text sink and once through the parquet sink (one timed op
  * each), then sends demo A+B at 1× through `writeReferenceCsv`
  * [[McWorkload.DemoCalls]] times. Spec seeds come from the run's seed.
  */
final class McWorkload(a: Main.Args) extends Workload {
  import McWorkload._

  private var spark: SparkSession = _
  private lazy val mc = new MCBattery(spark)
  private val seedBase = (math.abs(a.seed) % 1000000000L) * 8
  private val big = specs(Scale, seedBase)
  private val demo = specs(1.0, seedBase + 4).take(2)
    .map(s => s.copy(outputPath = Some(s"${a.work}/mc/demo/${s.modelId}.txt")))
  private val textDir = s"${a.work}/mc/text"
  private val parquetDir = s"${a.work}/mc/parquet"

  def setUp(): Unit = {
    spark = Main.session(a, a.cores)
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    noop(mc.simulate(specs(0.01, seedBase)))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def pass(kind: String): Seq[Either[String, Span]] = {
    def op(name: String, group: String)(body: => Unit): Either[String, Span] =
      try Right(Timer.span(spark, s"$kind/$name", group)(body))
      catch { case e: Exception => Left(s"$name: ${e.getMessage}") }
    Seq(
      op("text", "text")(TraceSink.writePartitionedText(mc.simulate(big), textDir)),
      op("parquet", "parquet")(TraceSink.writeParquet(mc.simulate(big), parquetDir))) ++
      (0 until DemoCalls).map(i =>
        op(s"demo$i", "demo")(TraceSink.writeReferenceCsv(mc.simulate(demo), demo)))
  }

  def run(): Seq[(String, Any)] = {
    val tracer = new Tracer(() => spark, a)
    val cold = tracer.pass("cold", traced = false)(pass("cold"))
    val warm = tracer.warmPasses(i => pass(s"warm$i"))
    val checks = check()
    val layers = tracer.layers { (rec, spans) =>
      val demos = spans.filter(_.group == "demo")
      Map("core.plan_s" -> rec.summary(demos, a.cores)("plan_s") / math.max(demos.size, 1))
    }
    val core = if (a.trace) coreLayers(warm) else Map.empty[String, Double]
    Seq("passes" -> (cold +: warm), "checks" -> checks, "layers" -> (layers ++ core),
      "points" -> Map("battery" -> points(big), "demo" -> points(demo)))
  }

  /** Output checks, observed here and judged by run.py. */
  private def check(): Seq[Map[String, Any]] = {
    def eq(name: String, observed: Any, expected: Any) =
      Map("check" -> name, "observed" -> observed, "expected" -> expected)
    val mem = perModel(mc.simulate(big), big)
    val text = hashes(spark.read.text(textDir).select(col("model_id"), col("value")))
    val parquet = hashes(spark.read.parquet(parquetDir)
      .select(col("model_id"), concat_ws(",", col("trace")).as("value")))
    val battery = big.flatMap { s =>
      val m = mem(s.modelId)
      val n = s.numberSimulations * s.numberPoints
      val sigma = math.sqrt(s.parameters.head * (1 - s.parameters.head) / n)
      val heads = (m._3 - s.numberSimulations * s.startingPoint.count(_ == "H")).toDouble / n
      Seq(
        eq(s"battery.m${s.modelId}.rows", m._1, s.numberSimulations),
        eq(s"battery.m${s.modelId}.bad_lengths", m._2, 0L),
        Map("check" -> s"battery.m${s.modelId}.heads_frac", "observed" -> heads,
          "lo" -> (s.parameters.head - 5 * sigma), "hi" -> (s.parameters.head + 5 * sigma)),
        eq(s"text.m${s.modelId}.readback", text.getOrElse(s.modelId, (0L, "")), (m._1, m._4)),
        eq(s"parquet.m${s.modelId}.readback", parquet.getOrElse(s.modelId, (0L, "")), (m._1, m._4)))
    }
    val demoMem = mc.simulate(demo).cache()
    val demoPer = perModel(demoMem, demo)
    val refcsv = demo.flatMap { s =>
      val path = Paths.get(s.resolvedOutputPath)
      val lines = Files.readAllLines(path)
      val file = hashes(spark.read.text(path.toString).select(lit(s.modelId).as("model_id"), col("value")))
      def line(sim: Long) = demoMem.filter(col("model_id") === s.modelId && col("sim_id") === sim)
        .select(concat_ws(",", col("trace"))).head().getString(0)
      Seq(
        eq(s"refcsv.m${s.modelId}.lines", lines.size.toLong, s.numberSimulations),
        eq(s"refcsv.m${s.modelId}.hash", file.getOrElse(s.modelId, (0L, "")),
          (demoPer(s.modelId)._1, demoPer(s.modelId)._4)),
        eq(s"refcsv.m${s.modelId}.first_last", Seq(lines.get(0), lines.get(lines.size - 1)),
          Seq(line(0), line(s.numberSimulations - 1))))
    }
    demoMem.unpersist()
    battery ++ refcsv
  }

  /** Per model: rows, traces of the wrong length, heads, and the
    * order-independent hash of (model_id, CSV line).
    */
  private def perModel(df: DataFrame, ss: Seq[SimulationSpec]): Map[Int, (Long, Long, Long, String)] = {
    val expectedLen = ss.tail.foldLeft(
      when(col("model_id") === ss.head.modelId, ss.head.numberPoints + ss.head.startingPoint.size)) {
      (acc, s) => acc.when(col("model_id") === s.modelId, s.numberPoints + s.startingPoint.size)
    }
    df.groupBy("model_id").agg(
        count(lit(1)),
        sum(when(size(col("trace")) =!= expectedLen, 1L).otherwise(0L)),
        sum(expr("aggregate(trace, 0L, (acc, x) -> acc + if(x = 'H', 1L, 0L))")),
        sum(rowHash(col("model_id"), concat_ws(",", col("trace")))))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDecimal(4).toPlainString))).toMap
  }

  private def hashes(df: DataFrame): Map[Int, (Long, String)] =
    df.groupBy("model_id").agg(count(lit(1)), sum(rowHash(col("model_id"), col("value"))))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDecimal(2).toPlainString))).toMap

  /** The MC core's layers, measured after the timed passes: RNG kernels,
    * the codegen'd expression and the typed tier into the noop sink, and
    * each sink's time beyond the expression at the same size.
    */
  private def coreLayers(warm: Seq[Map[String, Any]]): Map[String, Double] = {
    val kernels = RngFamily.all.map(f => s"core.rng.${f.name.toLowerCase}.ns_per_draw" -> nsPerDraw(f)).toMap
    def median3(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
    val exprS = median3(noop(mc.simulate(big)))
    val typedS = median3(noop(mc.simulateTyped(big)))
    val exprDemoS = median3(noop(mc.simulate(demo)))
    val warmOps = warm.filter(_("traced") == false).flatMap(_("ops").asInstanceOf[Seq[Map[String, Any]]])
    def warmMedian(group: String) = Stats.median(
      warmOps.filter(_.get("group").contains(group)).map(_("s").asInstanceOf[Double]))
    val bigPts = points(big).toDouble
    val demoPts = points(demo).toDouble
    val exprRate = bigPts / exprS
    val pcgRate = 1e9 / kernels("core.rng.pcg64.ns_per_draw")
    kernels ++ Map(
      "core.expr.pts_per_s" -> exprRate,
      "core.expr.pts_per_s_per_core" -> exprRate / a.cores,
      "core.rng.pcg64.draws_per_s" -> pcgRate,
      "core.expr_over_kernel" -> exprRate / a.cores / pcgRate,
      "core.typed.pts_per_s" -> bigPts / typedS,
      "core.sink.text.self_s" -> (warmMedian("text") - exprS),
      "core.sink.parquet.self_s" -> (warmMedian("parquet") - exprS),
      "core.sink.refcsv.self_s" -> (warmMedian("demo") - exprDemoS),
      "core.sink.text.bytes_per_pt" -> bytesUnder(Paths.get(textDir)) / bigPts,
      "core.sink.parquet.bytes_per_pt" -> bytesUnder(Paths.get(parquetDir)) / bigPts,
      "core.sink.refcsv.bytes_per_pt" ->
        demo.map(s => Files.size(Paths.get(s.resolvedOutputPath))).sum / demoPts)
  }

  /** Single-thread draw cost as a battery pays it: one stream per sim,
    * [[KernelDraws]] draws each, for about a fifth of a second.
    */
  private def nsPerDraw(f: RngFamily): Double = {
    def loop(sims: Int): Double = {
      var sink = 0.0
      val t0 = System.nanoTime()
      var sim = 0
      while (sim < sims) {
        val s = Rngs.stream(f.id, seedBase + 1, 0L, sim.toLong)
        var k = 0
        while (k < KernelDraws) { sink += s.next(); k += 1 }
        sim += 1
      }
      drawSink += sink
      (System.nanoTime() - t0).toDouble / (sims.toLong * KernelDraws)
    }
    loop(2000)
    var sims = 2000
    while (loop(sims) * sims * KernelDraws < 2e8) sims *= 2
    Stats.median((1 to 3).map(_ => loop(sims)))
  }

  /** Where the kernel loop's draws go, so none of them is dead code. */
  @volatile private var drawSink = 0.0

  private def bytesUnder(dir: java.nio.file.Path): Double = {
    val files = Files.walk(dir)
    try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble
    finally files.close()
  }

  def tearDown(): Unit = spark.stop()
}

object McWorkload {
  /** Battery size as a multiple of the demo sizes (≈9.6 M points at 1×). */
  val Scale = 3.0
  val DemoCalls = 4
  val KernelDraws = 32

  /** BASELINE.md demo workloads A–D: coin model, p = 0.5 / 0.7; C and D
    * carry a 5-point starting point.
    */
  def specs(scale: Double, seedBase: Long): Seq[SimulationSpec] = {
    val start = Seq("T", "H", "T", "H", "T")
    def n(sims: Int) = math.max(1L, math.round(sims * scale))
    Seq(
      SimulationSpec(0, "coin_sequence", n(100000), 16, Seq(0.5), Nil, seedBase + 1),
      SimulationSpec(1, "coin_sequence", n(60000), 32, Seq(0.7), Nil, seedBase + 2),
      SimulationSpec(2, "coin_sequence", n(200000), 12, Seq(0.5), start, seedBase + 3),
      SimulationSpec(3, "coin_sequence", n(80000), 28, Seq(0.7), start, seedBase + 4))
  }

  /** Trace elements, starting points included. */
  def points(ss: Seq[SimulationSpec]): Long =
    ss.map(s => s.numberSimulations * (s.numberPoints + s.startingPoint.size)).sum

  def rowHash(cols: Column*): Column = xxhash64(cols: _*).cast("decimal(38,0)")
}
