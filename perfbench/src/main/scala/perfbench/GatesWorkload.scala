package perfbench

import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.SparkEntry
import graft.operators.MemoStats

/** A fixed slice of the gate battery (`SparkEntry.queries`): one cold
  * pass (each gate's first execution in the session), then warm passes
  * into the noop sink until the run's seconds are spent. The cold pass
  * collects each gate's rows instead, and hashes them after its timer
  * stops: that is the output check, at no extra execution. The seed sets
  * the gate order; the inputs are the benchmark's own tables.
  */
final class GatesWorkload(a: Main.Args) extends Workload {
  private var spark: SparkSession = _

  def setUp(): Unit = {
    spark = Main.session(a, a.cores)
    // the library's own warm-up (graft.Bench): JIT and the page cache
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    GatesWorkload.Tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").count())
  }

  private def gate(name: String): DataFrame = SparkEntry.queries(name)(spark, a.data)

  /** One pass; a gate that throws is recorded as failed, not timed. */
  private def pass(kind: String, names: Seq[String])(
      run: (String, DataFrame) => Unit): Seq[Either[String, Span]] =
    names.map { n =>
      try Right(Timer.span(spark, s"$kind/$n", GatesWorkload.family(n))(run(n, gate(n))))
      catch { case e: Exception => Left(n + ": " + e.getMessage) }
    }

  def run(): Seq[(String, Any)] = {
    val names = new scala.util.Random(a.seed).shuffle(GatesWorkload.Slice)
    val tracer = new Tracer(() => spark, a)
    MemoStats.drain()
    val rows = scala.collection.mutable.Map.empty[String, Array[Row]]
    val cold = tracer.pass("cold", traced = false)(
      pass("cold", names)((n, df) => rows(n) = df.collect()))
    val memoMissS = MemoStats.drain().values.sum
    val warm = tracer.warmPasses(i =>
      pass(s"warm$i", names)((_, df) => df.write.format("noop").mode("overwrite").save()))
    val checks = names.map { n =>
      Map("check" -> s"gate.$n", "observed" -> rows.get(n).map(r => (r.length, GatesWorkload.hash(r))))
    }
    val layers = tracer.layers { (rec, spans) =>
      val byFamily = spans.groupBy(_.group)
      GatesWorkload.Families.flatMap { f =>
        val fs = byFamily.getOrElse(f, Nil)
        Seq(s"operators.$f.s" -> fs.map(_.seconds).sum,
          s"operators.$f.plan_s" -> rec.summary(fs, a.cores)("plan_s"))
      }.toMap ++ Map(
        "operators.exchanges" -> rec.summary(spans, a.cores)("exchanges"),
        "operators.memo_miss_s" -> memoMissS)
    }
    Seq("passes" -> (cold +: warm), "checks" -> checks, "layers" -> layers)
  }

  def tearDown(): Unit = spark.stop()
}

object GatesWorkload {
  /** The tables graft.Bench warms. */
  val Tables: Seq[String] = Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")

  /** Order-independent 64-bit row-multiset hash: the sum of two seeded
    * 32-bit hashes of each row's rendered values.
    */
  def hash(rows: Array[Row]): String = rows.iterator.map { r =>
    val s = r.toSeq.map(String.valueOf).mkString("\u0001")
    BigInt((MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 31) & 0xffffffffL))
  }.sum.toString

  /** Operator families, by gate-name prefix (the `q<N>_…` gates are one family). */
  val Families: Seq[String] = Seq("aud", "tx", "q", "dd", "emb", "ev", "knn", "sim", "mm")
  def family(gate: String): String =
    if (gate.matches("q\\d+_.*")) "q" else gate.takeWhile(_ != '_')

  /** The slice: one gate of each family. For the four families the
    * roadmap's layer profile names, one of the gates it names; knn_ivfpq
    * trains a shared model on its first run, so the cold pass carries a
    * memo miss.
    */
  val Slice: Seq[String] = Seq(
    "dd_eval", "tx_contamination", "aud_runs", "ev_survival",
    "q3_top_revenue_orders", "emb_near_pairs", "knn_ivfpq", "sim_coin_est",
    "mm_image_stats")
}
