package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by run.py in a fresh JVM per run:
  *
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --cores C
  *
  * Speaks to run.py through stdout lines that start with [[Out.Tag]]; all
  * else (Spark's own logging, the pipeline's stage lines) stays off them.
  * It prints `ready` once set-up is done, then one `result` object with
  * every timed span, the output-check observations and, when traced, the
  * per-layer figures. Comparing observations with expected values, and
  * turning spans into end-to-end metrics, is run.py's job.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", kv("--data"), kv("--work"),
      kv("--cores").toInt)
  }

  /** A local session shaped like the library's own mains: `cores` task
    * slots, UTC, nanosecond timestamps as longs, scratch space under the
    * run's work directory.
    */
  def session(a: Args, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "mc_battery" => new McWorkload(a)
      case "gates" => new GatesWorkload(a)
      case "pipeline" => new PipelineWorkload(a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setUp()
    Out.emit("event" -> "ready")
    val host = Map("java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    Out.emit(Seq("event" -> "result", "host" -> host) ++ w.run(): _*)
    w.tearDown()
  }
}

/** One workload: set-up (session and warm-up, counted in set-up time),
  * then the timed passes, the output checks and, when traced, the layers.
  */
trait Workload {
  def setUp(): Unit
  /** The result fields: `passes`, `checks` and, when traced, `layers`. */
  def run(): Seq[(String, Any)]
  def tearDown(): Unit
}

/** The result lines: one JSON object each, maps, sequences, options and
  * pairs written as Jackson's Scala module writes them.
  */
object Out {
  val Tag = "PERFBENCH "
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def emit(fields: (String, Any)*): Unit = {
    System.out.println(Tag + mapper.writeValueAsString(fields.toMap))
    System.out.flush()
  }
}

/** Timed calls. Each call's Spark jobs carry its op label, so a traced
  * run attributes stages to the call that caused them.
  */
object Timer {
  def span(spark: SparkSession, op: String, group: String)(body: => Unit): Span = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpKey, op)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally sc.setLocalProperty(Recorder.OpKey, null)
    val nanos = System.nanoTime() - t0
    Span(op, group, startMs, startMs + nanos / 1000000L, nanos)
  }
}
