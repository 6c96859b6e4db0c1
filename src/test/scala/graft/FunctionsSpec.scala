package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.sources.TraceSource

class FunctionsSpec extends SparkTestBase {

  test("GraftExtensions registers SQL functions (graft_dot_product et al.)") {
    // New session object over the same SparkContext, with extensions applied
    // (both active AND default must be cleared or getOrCreate reuses them).
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = ext.sql(
        """SELECT graft_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       graft_md5int60('hello') AS h,
          |       size(graft_word_shingles('a b c d', 3)) AS ns,
          |       graft_uniform(42L, 0L, 7L, 3L) AS u,
          |       graft_coin_trace(42L, 0L, 0L, 4, 0.5) AS ct,
          |       graft_uniform(42L, -3L, 7L, 3L) AS un,
          |       graft_rng_uniform('CounterHash', 42L, -3L, 7L, 3L) AS chn""".stripMargin).collect()(0)
      assert(r.getDouble(0) == 11.0)
      // md5('hello') = 5d41402abc4b2a76...; top 60 bits = 0x5d41402abc4b2a7
      assert(r.getLong(1) == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
      assert(r.getInt(2) == 2)
      assert(r.getDouble(3) == graft.core.DeterministicRng.uniform(42, 0, 7, 3))
      // a negative counter: both SQL forms fold it exactly like the Scala hash
      assert(r.getDouble(5) == graft.core.DeterministicRng.uniform(42, -3, 7, 3))
      assert(r.getDouble(6) == r.getDouble(5))
      // SQL zorder equals the LayoutOps column form on a known interleave:
      // x=3 (bits 0,1), y=5 (bits 0,2) -> z = 1+4 | 2+32 = 39
      val z = ext.sql("SELECT graft_zorder16(3, 5) AS z").collect()(0).getLong(0)
      assert(z == 39L)
      import ext.implicits._
      val zc = Seq((3L, 5L)).toDF("x", "y")
        .select(graft.operators.LayoutOps.zorder16(col("x"), col("y")).as("z"))
        .collect()(0).getLong(0)
      assert(zc == z, "SQL function and Column form must agree")
      // every family reachable from SQL, routed to its real backend
      val fam = ext.sql(
        """SELECT graft_rng_uniform('PCG64', 42L, 0L, 7L, 3L) AS pcg,
          |       graft_rng_uniform('Philox', 42L, 0L, 7L, 3L) AS phx,
          |       graft_rng_uniform('SFC64', 42L, 0L, 7L, 3L) AS sfc,
          |       graft_rng_uniform('MT19937', 42L, 0L, 7L, 3L) AS mt,
          |       graft_rng_uniform('CounterHash', 42L, 0L, 7L, 3L) AS ch""".stripMargin)
        .collect()(0)
      assert(fam.getDouble(0) == graft.core.Pcg64.uniform(42, 0, 7, 3))
      assert(fam.getDouble(1) == graft.core.Philox.uniform(42, 0, 7, 3))
      assert(fam.getDouble(2) == graft.core.Rngs.uniform(2, 42, 0, 7, 3))
      assert(fam.getDouble(3) == graft.core.Rngs.uniform(3, 42, 0, 7, 3))
      assert(fam.getDouble(4) == graft.core.DeterministicRng.uniform(42, 0, 7, 3))
      // packed LSH signatures from SQL: same values as the Column API
      val sigSql = ext.sql(
        """SELECT graft_lsh_signatures(array(0.5D, -0.25D, 0.125D, -0.0625D),
          |                            4241L, 3, 4, 4) AS sigs""".stripMargin)
        .collect()(0).getSeq[Int](0)
      val sigCol = {
        import ext.implicits._
        Seq(Tuple1(Array(0.5, -0.25, 0.125, -0.0625))).toDF("v")
          .select(graft.functions.VectorFunctions.lsh_signatures(
            org.apache.spark.sql.functions.col("v"), 4241L, 3, 4, 4))
          .collect()(0).getSeq[Int](0)
      }
      assert(sigSql == sigCol && sigSql.length == 3)
      // the SQL function draws familyId 0 (CounterHash) — pin it on the
      // StepRng side too (the default family is the real PCG64 backend)
      val rng = new graft.core.StepRng(42, 0, 0, graft.core.RngFamily.CounterHash)
      assert(r.getSeq[String](4) ==
        graft.core.CoinSequence.simulate(4, rng, Seq(0.5), Nil))
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("native md5int60 equals the composable conv(substr(md5)) form") {
    val df = spark.range(200).select(
      concat(lit("doc-"), col("id")).as("s"))
    val both = df.select(
      graft.functions.CrossHash.mdint(col("s")).as("fast"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("native word_shingles equals the composable transform form") {
    import org.apache.spark.sql.graftbridge.Bridge
    val w = split(col("s"), " ")
    val composable = array_distinct(transform(sequence(lit(0), size(w) - 3),
      i => concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))))
    val native = Bridge.column(graft.functions.WordShingles(Bridge.expression(col("s")), 3))
    val df = operators.Tables.t(spark, sfDir, "documents")
      .select(col("text").as("s"))
      .select(array_sort(composable).as("a"), array_sort(native).as("b"))
    assert(df.filter(col("a") =!= col("b")).count() == 0)
  }

  test("TraceSource round-trips the reference CSV format") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-src")
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 20, 6, Seq(0.5), Nil, 42, Some(s"$tmp/m0.csv")),
      SimulationSpec(1, "coin_sequence", 10, 9, Seq(0.7), Nil, 43, Some(s"$tmp/m1.csv")))
    val bat = new MCBattery(spark)
    val written = bat.simulate(specs)
    TraceSink.writeReferenceCsv(written, specs)
    val back = TraceSource.readReferenceCsvBattery(spark,
      Map(0 -> s"$tmp/m0.csv", 1 -> s"$tmp/m1.csv"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")))
        .orderBy("model_id", "sim_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    assert(dump(back) == dump(written))
  }

  test("approx_count_distinct lands within its error bound") {
    val r = SparkEntry.queries("q26_approx_distinct")(spark, sfDir).collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"exact=$exact approx=$approx")
  }

  test("TraceStats aggregator matches naive statistics") {
    import spark.implicits._
    val vals = Seq(1.0, 0.0, 1.0, 1.0, 0.0, 1.0)
    val ds = vals.toDS()
    val s = ds.select(graft.functions.TraceStats.agg.toColumn).collect()(0)
    val mean = vals.sum / vals.size
    assert(s.n_points == 6 && s.mean == mean)
    assert(math.abs(s.variance - vals.map(v => (v - mean) * (v - mean)).sum / 6) < 1e-12)
    assert(s.min_v == 0.0 && s.max_v == 1.0)
  }

  test("Session.local on a running session returns it with the shared confs") {
    // a harness that calls a main in-process (the benchmark's pipeline
    // workload) gets its own session back, resized to the main's partitions
    try {
      val s = Session.local(4, 8)
      assert(s eq spark)
      assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}
