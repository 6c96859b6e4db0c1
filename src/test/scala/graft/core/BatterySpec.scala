package graft.core

import java.nio.file.{Files, Paths}
import graft.SparkTestBase
import org.apache.spark.sql.functions._

object BatterySpec {
  /** Typed-tier-only AR(1) model for the bring-your-own-model test. */
  object Ar1 extends MCModel {
    val name = "test_ar1"
    def traceCol(n: Int, params: Seq[Double], start: Seq[String],
        seed: org.apache.spark.sql.Column, modelId: org.apache.spark.sql.Column,
        simId: org.apache.spark.sql.Column,
        family: RngFamily): org.apache.spark.sql.Column =
      throw new UnsupportedOperationException("typed-tier-only model")
    def simulate(n: Int, rng: StepRng, params: Seq[Double], start: Seq[String]): Seq[String] = {
      val phi = params.headOption.getOrElse(0.8)
      var x = start.headOption.map(_.toDouble).getOrElse(0.0)
      (0 until n).map { _ =>
        x = phi * x + (rng.nextUniform() - 0.5)
        f"$x%.6f"
      }
    }
  }
}

/** Reference-parity semantics (SURVEY §5.2 behavioral table) + tier
  * equivalence for the MCBattery engine core.
  */
class BatterySpec extends SparkTestBase {

  private def battery = new MCBattery(spark)

  test("trace length = numberPoints (demo notebook invariant)") {
    val df = battery.simulate(Seq(SimulationSpec(0, "coin_sequence", 10, 7, Seq(0.5), Nil, 42)))
    val sizes = df.select(size(col("trace"))).distinct().collect().map(_.getInt(0))
    assert(sizes.toSeq == Seq(7))
  }

  test("starting point is prepended verbatim; width = start + points (cell-32: 5+12=17)") {
    val start = Seq("T", "T", "T", "T", "T")
    val df = battery.simulate(Seq(SimulationSpec(0, "coin_sequence", 20, 12, Seq(0.5), start, 42)))
    val rows = df.select(col("trace")).collect().map(_.getSeq[String](0))
    assert(rows.nonEmpty && rows.forall(_.length == 17))
    assert(rows.forall(_.take(5) == start))
  }

  test("the reference's arity-dispatch hole is fixed: startingPoint without parameters works") {
    // parallel_simulations.py:80-95 silently emits [] for this combination.
    val df = battery.simulate(Seq(SimulationSpec(0, "coin_sequence", 5, 3, Nil, Seq("H"), 42)))
    val rows = df.select(col("trace")).collect().map(_.getSeq[String](0))
    assert(rows.forall(r => r.length == 4 && r.head == "H"))
  }

  test("row count = number_simulations per model; sim_ids dense from 0") {
    val df = battery.simulate(Seq(
      SimulationSpec(0, "coin_sequence", 13, 3, Seq(0.5), Nil, 1),
      SimulationSpec(1, "coin_sequence", 29, 3, Seq(0.7), Nil, 2)))
    val counts = df.groupBy("model_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 13L, 1 -> 29L))
    val maxSim = df.groupBy("model_id").agg(max("sim_id"), min("sim_id")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(maxSim == Map(0 -> (12L, 0L), 1 -> (28L, 0L)))
  }

  test("fixed seed => identical traces across runs; different seeds differ") {
    def run(seed: Long) = battery
      .simulate(Seq(SimulationSpec(0, "coin_sequence", 50, 8, Seq(0.5), Nil, seed)))
      .select(concat_ws(",", col("trace"))).collect().map(_.getString(0)).toSeq
    assert(run(42) == run(42))
    assert(run(42) != run(43))
  }

  test("no masterSeed and no spec seed => fresh seeds per call (reference utils.py:8-12)") {
    def run() = new MCBattery(spark)
      .simulate(Seq(SimulationSpec(0, "coin_sequence", 20, 8, Seq(0.5), Nil, 0)))
      .select(concat_ws(",", col("trace"))).collect().map(_.getString(0)).toSeq
    assert(run() != run()) // 2^-160-ish false-failure probability
  }

  test("masterSeed gives reproducible derived per-model seeds") {
    def run() = new MCBattery(spark, masterSeed = Some(99L))
      .simulate(Seq(
        SimulationSpec(0, "coin_sequence", 10, 6, Seq(0.5), Nil, 0),
        SimulationSpec(1, "coin_sequence", 10, 6, Seq(0.7), Nil, 0)))
      .select(concat_ws(",", col("trace"))).collect().map(_.getString(0)).toSeq
    assert(run() == run())
  }

  test("config validation bounds (models.py:45-61): sims>=1, points>=1") {
    intercept[IllegalArgumentException] { SimulationSpec(0, "coin_sequence", 0, 5) }
    intercept[IllegalArgumentException] { SimulationSpec(0, "coin_sequence", 5, 0) }
  }

  test("a null starting-point element is refused, naming its index (models.py List[str])") {
    val e = intercept[IllegalArgumentException] {
      SimulationSpec(0, "coin_sequence", 3, 4, Seq(0.5), Seq("T", null, ""), 11)
    }
    assert(e.getMessage.contains("index 1"), e.getMessage)
  }

  test("unknown model fails fast (deviation from reference's swallowed KeyError)") {
    intercept[IllegalArgumentException] {
      battery.simulate(Seq(SimulationSpec(0, "no_such_model", 1, 1))).collect()
    }
  }

  test("default output path is ./{i}.txt (parallel_simulations.py:176-179)") {
    assert(SimulationSpec(3, "coin_sequence", 1, 1).resolvedOutputPath == "./3.txt")
    assert(SimulationSpec(3, "coin_sequence", 1, 1, outputPath = Some("/x/y.csv")).resolvedOutputPath == "/x/y.csv")
  }

  test("Column tier and typed tier produce identical traces (coin + walk)") {
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 40, 9, Seq(0.6), Seq("T", "T"), 42),
      SimulationSpec(1, "random_walk", 40, 9, Seq(0.5), Nil, 43))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")).as("t"))
        .orderBy("model_id", "sim_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    assert(dump(battery.simulate(specs)) == dump(battery.simulateTyped(specs)))
  }

  test("Philox family: real Philox backend, tiers identical, streams distinct") {
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 40, 9, Seq(0.6), Seq("T", "T"), 42),
      SimulationSpec(1, "random_walk", 40, 9, Seq(0.5), Nil, 43))
    def dump(b: MCBattery, typed: Boolean) = {
      val df = if (typed) b.simulateTyped(specs) else b.simulate(specs)
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")).as("t"))
        .orderBy("model_id", "sim_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    }
    val philox = new MCBattery(spark, RngFamily.Philox)
    // cross-tier identity holds under the Philox backend too (both tiers
    // draw through Rngs.uniform at the same counters)
    val colTier = dump(philox, typed = false)
    assert(colTier == dump(philox, typed = true))
    // and the traces really come from a different generator than PCG64
    assert(colTier != dump(battery, typed = false))
    // routing sanity at the draw level
    assert(Rngs.uniform(RngFamily.Philox.id, 7L, 0L, 0L, 0L) ==
      Philox.uniform(7L, 0L, 0L, 0L))
    assert(Rngs.uniform(RngFamily.PCG64.id, 7L, 0L, 0L, 0L) ==
      Pcg64.uniform(7L, 0L, 0L, 0L))
    assert(Rngs.uniform(RngFamily.CounterHash.id, 7L, 0L, 0L, 0L) ==
      DeterministicRng.uniform(7L, 0L, 0L, 0L))
    // unknown family ids fail fast instead of silently drawing from a
    // fallback backend
    intercept[IllegalArgumentException] { Rngs.uniform(99, 7L, 0L, 0L, 0L) }
    // the sequential families draw forward from the stream head: a negative
    // step has no draw and must not alias step 0
    for (fam <- Seq(RngFamily.SFC64, RngFamily.MT19937)) {
      val e = intercept[IllegalArgumentException] { Rngs.uniform(fam.id, 42L, 0L, 7L, -1L) }
      assert(e.getMessage.contains(fam.name) && e.getMessage.contains("-1"), e.getMessage)
    }
  }

  test("uniformCol equals the Scala counter hash, negative and >= M counters included") {
    import spark.implicits._
    val m = DeterministicRng.M
    val grid = spark.range(0, 240).select(expr("id % 4").as("seed"),
      expr("id div 4 % 5").as("model"), expr("id div 20").as("sim"), expr("id % 7").as("step"))
    // each edge value in each counter position exercises the pmod fold
    val edges = for (e <- Seq(-1L, -12345L, -m, m, m + 1, 3 * m + 11, Long.MaxValue, Long.MinValue);
        k <- 0 until 4) yield {
      val c = Array(42L, 3L, 5L, 9L); c(k) = e; (c(0), c(1), c(2), c(3))
    }
    val rows = grid.union(edges.toDF("seed", "model", "sim", "step"))
      .select($"seed", $"model", $"sim", $"step",
        DeterministicRng.uniformCol($"seed", $"model", $"sim", $"step"))
      .collect()
    assert(rows.length == 240 + edges.size)
    rows.foreach { r =>
      val want = DeterministicRng.uniform(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(r.getDouble(4) == want, r.toString)
    }
  }

  test("NativeTrace: interpreted eval equals the battery's generated code, every kernel and family") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val start = Seq("T", "T", "T", "T", "T")
    val (mu, sigma, dt) = (0.05, 0.2, 1.0 / 252)
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 3, 6, Seq(0.6), Nil, 42),
      SimulationSpec(1, "coin_sequence", 3, 6, Seq(0.4), start, 43),
      SimulationSpec(2, "random_walk", 3, 6, Seq(0.55), Seq("10"), 44),
      SimulationSpec(3, "gbm", 3, 6, Seq(mu, sigma, dt), Seq("50.0"), 45))
    for (fam <- RngFamily.all :+ RngFamily.Antithetic(RngFamily.Philox)) {
      val kernels = Seq[TraceKernel](
        TraceKernel.Coin(6, 0.6, Nil, fam.id),
        TraceKernel.Coin(6, 0.4, start, fam.id),
        TraceKernel.Walk(6, 0.55, 10L, fam.id),
        TraceKernel.Gbm(6, (mu - sigma * sigma / 2.0) * dt, sigma * math.sqrt(dt), 50.0, fam.id))
      val rows = new MCBattery(spark, fam).simulate(specs).collect()
      assert(rows.length == 12)
      rows.foreach { r =>
        val (model, sim) = (r.getInt(0), r.getLong(1))
        // the battery folds the family salt into each spec's seed
        val seed = specs(model).seed + fam.salt
        val evaluated = NativeTrace(Literal(seed), Literal(model.toLong), Literal(sim),
          kernels(model)).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          .toSeq[UTF8String](StringType).map(_.toString)
        assert(evaluated == r.getSeq[String](2), s"${fam.name} model $model sim $sim")
      }
    }
  }

  test("NativeTraceLine: line = joined trace, eval = the sinks' generated code, rule off byte-identical") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val start = Seq("T", "", "\u00e9", "H")
    val (mu, sigma, dt) = (0.05, 0.2, 1.0 / 252)
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 3, 6, Seq(0.6), Nil, 42),
      SimulationSpec(1, "coin_sequence", 3, 6, Seq(0.4), start, 43),
      SimulationSpec(2, "random_walk", 3, 6, Seq(0.55), Seq("-7"), 44),
      SimulationSpec(3, "gbm", 3, 6, Seq(mu, sigma, dt), Seq("1e-5"), 45))
    val x = spark.experimental
    for (fam <- RngFamily.all :+ RngFamily.Antithetic(RngFamily.Philox)) {
      val kernels = Seq[TraceKernel](
        TraceKernel.Coin(6, 0.6, Nil, fam.id),
        TraceKernel.Coin(6, 0.4, start, fam.id),
        TraceKernel.Walk(6, 0.55, -7L, fam.id),
        TraceKernel.Gbm(6, (mu - sigma * sigma / 2.0) * dt, sigma * math.sqrt(dt), 1e-5, fam.id))
      val mc = new MCBattery(spark, fam)
      def lines(): (Map[(Int, Long), Seq[Byte]], String) = {
        val df = mc.simulate(specs)
          .select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")).cast("binary"))
        (df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getAs[Array[Byte]](2).toSeq).toMap,
          df.queryExecution.optimizedPlan.toString)
      }
      val (withRule, planOn) = lines()
      x.extraOptimizations = x.extraOptimizations.filterNot(_ == NativeTraceLines)
      val (withoutRule, planOff) = try lines() finally NativeTraceLines.install(spark)
      assert(planOn.contains("nativetraceline") && !planOff.contains("nativetraceline"), planOn)
      assert(withRule.size == 12 && withoutRule == withRule, fam.name)
      withRule.foreach { case ((model, sim), bytes) =>
        val seed = specs(model).seed + fam.salt
        val k = kernels(model)
        val line = k.line(seed, model.toLong, sim)
        assert(line.toString ==
          k.trace(seed, model.toLong, sim).toSeq[UTF8String](StringType).mkString(","),
          s"${fam.name} model $model sim $sim")
        val evaluated = NativeTraceLine(Literal(seed), Literal(model.toLong), Literal(sim), k)
          .eval().asInstanceOf[UTF8String]
        assert(evaluated == line && line.getBytes.toSeq == bytes, s"${fam.name} model $model sim $sim")
      }
      val text = withRule.map { case (k, b) => k -> new String(b.toArray, "UTF-8") }
      assert(text((1, 0L)).startsWith("T,,\u00e9,H,"), text((1, 0L)))
      assert(text((2, 0L)).startsWith("-"), text((2, 0L)))
      assert(text((3, 0L)).contains("E-"), text((3, 0L)))
    }
  }

  test("all five families: tiers identical, streams pairwise distinct") {
    // every family (4 real NumPy backends + CounterHash) must satisfy the
    // cross-tier identical-trace invariant, and equal user seeds must give
    // different traces across families
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 10, 9, Seq(0.6), Seq("T"), 42),
      SimulationSpec(1, "random_walk", 10, 9, Seq(0.5), Nil, 43))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select(col("model_id"), col("sim_id"), concat_ws(",", col("trace")).as("t"))
        .orderBy("model_id", "sim_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSeq
    val perFamily = RngFamily.all.map { fam =>
      val b = new MCBattery(spark, fam)
      val colTier = dump(b.simulate(specs))
      assert(colTier == dump(b.simulateTyped(specs)), s"tier mismatch for ${fam.name}")
      fam.name -> colTier
    }
    perFamily.combinations(2).foreach { case Seq((n1, d1), (n2, d2)) =>
      assert(d1 != d2, s"families $n1 and $n2 produced identical traces")
    }
  }

  test("gbm tiers agree to ulp precision (log-space accumulation aligned)") {
    // Both tiers accumulate in log space (s0·exp(Σ inc)), which removed the
    // systematic exp(a+b) ≠ exp(a)·exp(b) divergence; the residual is
    // HotSpot's Math.exp/cos intrinsics, which may differ from the
    // non-JIT path by ≤1 ulp per call — so compare to ~1e-12 relative,
    // not bit-for-bit (coin/walk ARE bit-compared: integer-exact).
    val specs = Seq(SimulationSpec(0, "gbm", 10, 6, Seq(0.05, 0.2, 1.0 / 252), Seq("100.0"), 7))
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("sim_id").select(col("trace")).collect()
        .map(_.getSeq[String](0).map(_.toDouble))
    val a = vals(battery.simulate(specs))
    val b = vals(battery.simulateTyped(specs))
    assert(a.length == b.length)
    a.zip(b).foreach { case (ta, tb) =>
      ta.zip(tb).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(x)), s"$x vs $y")
      }
    }
  }

  test("user-defined models register and run through the typed tier") {
    // the reference's core promise: bring your own model function
    // (top-level object — a method-local one would capture the enclosing
    // test class in its serialized form)
    ModelRegistry.register(BatterySpec.Ar1)
    val df = battery.simulateTyped(
      Seq(SimulationSpec(0, "test_ar1", 50, 10, Seq(0.8), Seq("1.0"), 42)))
    assert(df.count() == 50)
    val first = df.orderBy("sim_id").select("trace").collect()(0).getSeq[String](0)
    assert(first.length == 10)
    // deterministic: re-running gives identical traces
    val again = battery.simulateTyped(
      Seq(SimulationSpec(0, "test_ar1", 50, 10, Seq(0.8), Seq("1.0"), 42)))
      .orderBy("sim_id").select("trace").collect()(0).getSeq[String](0)
    assert(first == again)
  }

  test("mixed battery: three model families generate in ONE shuffle-free plan") {
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 100, 8, Seq(0.5), Nil, 1),
      SimulationSpec(1, "random_walk", 200, 12, Seq(0.6), Nil, 2),
      SimulationSpec(2, "gbm", 50, 6, Seq(0.05, 0.2, 1.0 / 252), Seq("100.0"), 3))
    val df = battery.simulate(specs)
    val counts = df.groupBy("model_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 100L, 1 -> 200L, 2 -> 50L))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p) // still one Range -> Project stage
    // each family produced its own value domain
    val sample = df.filter(col("model_id") === 2).select(col("trace")).collect()(0)
      .getSeq[String](0)
    assert(sample.forall(_.toDouble > 0)) // gbm prices
  }

  test("heads fraction within CLT bounds of bias") {
    val df = battery.simulate(Seq(SimulationSpec(0, "coin_sequence", 2000, 16, Seq(0.7), Nil, 42)))
    val frac = MCBattery.explodeTraces(df)
      .agg(avg(when(col("value") === "H", 1).otherwise(0))).collect()(0).getDouble(0)
    val se = math.sqrt(0.7 * 0.3 / (2000 * 16))
    assert(math.abs(frac - 0.7) < 5 * se, s"frac=$frac se=$se")
  }

  test("sim_qmc_vdc: the 4096-point van der Corput net is exactly {k/4096}, closed-form sum of squares") {
    // bitrev20 over 0..4095 = {k << 8}: the net is every k/4096 once, so
    // sum_sq = 2^16 * sum k^2 and the estimate is the closed-form
    // left-endpoint Riemann sum of x^2 — both pinned exactly.
    val out = graft.operators.SimQueries.queries("sim_qmc_vdc")(spark, "")
      .collect().head
    val n = 4095L
    val sumK2 = n * (n + 1) * (2 * n + 1) / 6
    val ss = 65536L * sumK2
    assert(out.getLong(0) == 4096L && out.getLong(1) == ss, out.toString)
    val est = ss.toDouble / (4096L * (1L << 40)).toDouble
    assert(out.getDouble(2) == est)
    assert(out.getDouble(3) == math.abs(est - 1.0 / 3.0) &&
      out.getDouble(3) < 2.0e-4, s"QMC error must be ~1/(2n): $out")
  }

  test("simulation plan is shuffle-free (Range -> Project, no Exchange)") {
    val df = battery.simulate(Seq(
      SimulationSpec(0, "coin_sequence", 1000, 8, Seq(0.5), Nil, 42),
      SimulationSpec(1, "coin_sequence", 1000, 8, Seq(0.7), Nil, 43)))
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("Exchange"), physical)
    assert(physical.contains("Range"), physical)
  }

  test("simulateAntithetic: twin shares seeds, bias-.5 walk negates exactly, stream is 1-u") {
    // complement stream identity at the Rngs level, every family
    for (f <- RngFamily.all) {
      val p = Rngs.stream(f.id, 42L, 1L, 2L)
      val a = Rngs.stream(f.id | RngFamily.AntiBit, 42L, 1L, 2L)
      (0 until 16).foreach { _ =>
        assert(a.next() == 1.0 - p.next(), f.name)
      }
    }
    // battery pairing: a bias-0.5 walk's antithetic twin takes the exact
    // mirrored step at every draw -> final position negates, sim by sim.
    // Seeds come from a masterSeed (auto sentinel 0) — the pairing only
    // holds because both passes resolve seeds ONCE.
    val b = new MCBattery(spark, RngFamily.CounterHash, masterSeed = Some(5L))
    val specs = Seq(SimulationSpec(0, "random_walk", 50, 16, Seq(0.5), Nil, 0))
    val fin = b.simulateAntithetic(specs)
      .select(org.apache.spark.sql.functions.col("sim_id"),
        org.apache.spark.sql.functions.col("variant"),
        org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("trace"), -1).cast("long").as("f"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fin.size == 100, "50 sims x 2 variants")
    (0 until 50).foreach { s =>
      assert(fin((s.toLong, "a")) == -fin((s.toLong, "p")), s"sim $s")
    }
    // double-wrapping is a hard error
    intercept[IllegalArgumentException] {
      RngFamily.Antithetic(RngFamily.Antithetic(RngFamily.PCG64))
    }
  }

  test("reference CSV sink: one file per model, one row per sim, overwrite on rerun") {
    val tmp = Files.createTempDirectory("graft-csv")
    val specs = Seq(
      SimulationSpec(0, "coin_sequence", 6, 4, Seq(0.5), Nil, 42, Some(s"$tmp/a.csv")),
      SimulationSpec(1, "coin_sequence", 3, 4, Seq(0.7), Nil, 43, Some(s"$tmp/b.csv")))
    val df = battery.simulate(specs)
    TraceSink.writeReferenceCsv(df, specs)
    val a = Files.readAllLines(Paths.get(s"$tmp/a.csv"))
    val b = Files.readAllLines(Paths.get(s"$tmp/b.csv"))
    assert(a.size == 6 && b.size == 3)
    assert(a.get(0).split(",").length == 4)
    TraceSink.writeReferenceCsv(df, specs) // overwrite, not append (utils.py:19 "w")
    assert(Files.readAllLines(Paths.get(s"$tmp/a.csv")).size == 6)
  }
}
