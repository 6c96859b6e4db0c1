package graft

import org.apache.spark.sql.SparkSession

/** The sf0.001 gate battery, run once per test JVM and shared by
  * QueriesSpec ("all queries execute") and DeterminismSpec (the 4 vs 32
  * partition sweep): every `SparkEntry.queries` gate is collected at
  * shuffle.partitions 4 (the SparkTestBase default) and then at 32. Each
  * run keeps its sorted row strings — Double.toString is shortest-unique
  * per bit pattern, so string equality is bit equality — or the
  * exception it threw.
  */
object GateBattery {
  final case class Runs(at4: Either[Throwable, Seq[String]], at32: Either[Throwable, Seq[String]])

  private var memo: Option[Map[String, Runs]] = None

  /** The battery's runs, collected on the first call in this JVM. */
  def runs(spark: SparkSession, sfDir: String): Map[String, Runs] = synchronized {
    if (memo.isEmpty) memo = Some(collect(spark, sfDir))
    memo.get
  }

  private def collect(spark: SparkSession, sfDir: String): Map[String, Runs] = {
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    def runAt(name: String, parts: String): Either[Throwable, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try Right(SparkEntry.queries(name)(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq)
      catch { case e: Throwable => Left(e) }
    }
    try SparkEntry.queries.keys.toSeq.sorted
      .map(g => g -> Runs(runAt(g, "4"), runAt(g, "32"))).toMap
    finally spark.conf.set("spark.sql.shuffle.partitions", orig)
  }
}
