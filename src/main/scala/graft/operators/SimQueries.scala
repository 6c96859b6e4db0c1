package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._

/** Simulation-surface queries for the driver contract.
  *
  * Every query here is DETERMINISTIC (pinned seeds) and — because the
  * counter-based RNG is pure integer arithmetic expressible in DuckDB SQL
  * ([[DeterministicRng.uniformSql]]) — even the Monte Carlo output gets a
  * full value-level oracle: the DuckDB side regenerates identical traces from
  * `generate_series` grids. This goes beyond the reference, whose only
  * correctness artifact is manual notebook inspection (SURVEY §5.1).
  *
  * All batteries pin [[RngFamily.CounterHash]] — the engine-native
  * SQL-expressible family — precisely because the oracle must regenerate
  * the draws in DuckDB. The engine default (real PCG64 since round 3) and
  * Philox are KAT-verified in their own specs instead; their bit streams
  * have no SQL form.
  *
  * FP discipline for oracle parity: compared doubles are always a single
  * correctly-rounded operation over exactly-representable integers
  * (e.g. `h / 2147483647.0`, `SUM(int) / COUNT(*)`) — never an
  * order-dependent float accumulation.
  */
/** GBM log-return constants, computed once in Scala and embedded as
  * literals in BOTH the Spark plan and the oracle SQL (Double.toString
  * round-trips exactly, so DuckDB parses back the identical double).
  */
object GbmLogRet {
  val mu = 0.05; val sigma = 0.2; val dt = 1.0 / 252
  val vol: Double = sigma * math.sqrt(dt)
  def driftTotal(points: Int): Double = (mu - sigma * sigma / 2.0) * dt * points
}

/** Exact OU weight table shared by the sim_ou_final gate and its oracle:
  * w(model, step) = a^(points−1−step) · 10^15 as an exact long (a = 0.9
  * for model 0, 0.8 for model 1 — both powers terminate at 15 decimals
  * for exponents ≤ 15), so Spark VALUES and DuckDB VALUES carry the SAME
  * integers and no decimal literal ever crosses an engine boundary.
  */
object OuWeights {
  val unitScale: Double = 32768.0 * 1e15 // 2^15·10^15 — exactly representable
  private val as = Seq(0 -> BigDecimal("0.9"), 1 -> BigDecimal("0.8"))
  def unitRows(points: Int): Seq[(Int, Int, Long)] =
    for ((m, a) <- as; st <- 0 until points)
      yield (m, st,
        (a.pow(points - 1 - st) * BigDecimal(10).pow(15)).toLongExact)
  def sqlValues(points: Int): String =
    unitRows(points).map { case (m, st, w) => s"($m, $st, $w)" }
      .mkString("(VALUES ", ", ", ") AS w(model_id, step, w)")
}

object SimQueries {
  import DeterministicRng.uniformSql

  // Pinned workloads (scaled-down from the reference demo workloads A/B,
  // BASELINE.md) — small enough for the DuckDB oracle, large enough to be real.
  val coinSpecs: Seq[SimulationSpec] = Seq(
    SimulationSpec(0, "coin_sequence", 200, 16, Seq(0.5), Nil, 42),
    SimulationSpec(1, "coin_sequence", 200, 16, Seq(0.7), Nil, 43))
  val estSpecs: Seq[SimulationSpec] = Seq(
    SimulationSpec(0, "coin_sequence", 5000, 16, Seq(0.5), Nil, 42),
    SimulationSpec(1, "coin_sequence", 5000, 16, Seq(0.7), Nil, 43))
  val walkSpecs: Seq[SimulationSpec] = Seq(
    SimulationSpec(0, "random_walk", 1000, 24, Seq(0.5), Nil, 7),
    SimulationSpec(1, "random_walk", 1000, 24, Seq(0.55), Nil, 8))

  private def coinValues(specs: Seq[SimulationSpec]): String =
    specs.map(s => s"(${s.modelId}, ${s.parameters.head}, ${s.seed})")
      .mkString("(VALUES ", ", ", ") AS m(model_id, bias, seed)")

  /** Irwin–Hall z in 1/32768 units: Σ of 12 quantized uniforms at counter
    * steps 12t..12t+11, minus the 6·32768 mean. Shared by sim_nwalk_final
    * and sim_gbm_logret.
    *
    * The `aggregate(sequence(0,11), ...)` fold states the twelve draws
    * once: the seed CASE and the counter casts appear in the plan one
    * time, where a 12-way unrolled sum would copy them twelve times. The
    * repo's HOF trap is about per-row lambdas over exploded strings, not
    * short numeric folds. Long addition is exact either way, so the two
    * forms are value-identical.
    */
  private def zUnitsCol(seedCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(sequence(lit(0), lit(11)), lit(0L), (acc, j) =>
      acc + floor(DeterministicRng.uniformCol(seedCol, col("model_id").cast("long"),
        col("sim_id"), col("step").cast("long") * 12 + j) * 32768).cast("long")) - lit(6L * 32768)

  private def u: String = uniformSql("m.seed", "m.model_id", "s.sim_id", "st.step")
  private def flip: String = s"CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 'H' ELSE 'T' END"
  private def walkStep: String = s"CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE -1 END"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // QUASI-Monte Carlo — the low-discrepancy companion to the
    // pseudo-random battery (van der Corput base-2 radical inverse,
    // the 1-D Halton/Sobol' building block): x_i = bitrev20(i)/2^20
    // over a Range, estimating ∫₀¹x²dx with O(log n/n) error where
    // plain MC pays O(1/√n). The radical inverse is pure integer
    // bit arithmetic (20 shift-mask-scale terms — codegen'd, shuffle-
    // free, the sim-family scale shape); Σr² is an exact decimal sum;
    // the estimate ONE division by the exact constant n·2^40; abs_err
    // one subtraction against the correctly-rounded literal 1/3.
    "sim_qmc_vdc" -> ((spark, _) => {
      import org.apache.spark.sql.types.DataTypes
      val dec = DataTypes.createDecimalType(38, 0)
      val bits = 20
      val r = (0 until bits).map(b =>
          shiftright(col("id"), b).bitwiseAND(lit(1L)) *
            lit(1L << (bits - 1 - b)))
        .reduce(_ + _)
      spark.range(4096).select(r.as("r"))
        .agg(count(lit(1)).as("n"),
          sum((col("r") * col("r")).cast(dec)).as("ss"))
        .select(col("n"), col("ss").cast("long").as("sum_sq"),
          (col("ss").cast("double") /
            (col("n") * lit(1L << 40)).cast("double")).as("estimate"),
          abs(col("ss").cast("double") /
            (col("n") * lit(1L << 40)).cast("double") - lit(1.0 / 3.0))
            .as("abs_err"))
    }),
    // Full trace content, one CSV string per simulation — bit-level parity.
    "sim_coin_traces" -> ((spark, _) => {
      new MCBattery(spark, RngFamily.CounterHash).simulate(coinSpecs)
        .select(col("model_id"), col("sim_id"),
          concat_ws(",", col("trace")).as("trace_csv"))
    }),
    // The flagship MC-estimator shape: heads fraction per model
    // (posexplode -> groupBy -> avg), SURVEY §7.2 step 1.
    "sim_coin_est" -> ((spark, _) => {
      val traces = new MCBattery(spark, RngFamily.CounterHash).simulate(estSpecs)
      MCBattery.explodeTraces(traces)
        .groupBy(col("model_id"))
        .agg(avg(when(col("value") === "H", 1).otherwise(0)).as("heads_frac"),
          count(lit(1)).as("n_flips"))
        .orderBy(col("model_id"))
    }),
    // Distribution of random-walk endpoints — exact integer aggregates.
    "sim_walk_final" -> ((spark, _) => {
      new MCBattery(spark, RngFamily.CounterHash).simulate(walkSpecs)
        .select(col("model_id"), element_at(col("trace"), -1).cast("long").as("final_pos"))
        .groupBy(col("model_id"))
        .agg(avg(col("final_pos")).as("avg_final"),
          min(col("final_pos")).as("min_final"),
          max(col("final_pos")).as("max_final"),
          count(lit(1)).as("n_sims"))
        .orderBy(col("model_id"))
    }),
    // Antithetic-variates battery: each walk paired with its complement-
    // stream twin; the paired-estimator variance ratio Var(pairsum)/
    // (2·Var(x)) < 1 IS the variance-reduction claim, computed from exact
    // integer moment sums with ONE division of exact products (the mean is
    // one more). Fully value-oracled — the twin's uniforms are 1−u at the
    // same counters, mirrored in SQL.
    "sim_walk_antithetic" -> ((spark, _) => {
      import org.apache.spark.sql.types.DataTypes
      val dec = DataTypes.createDecimalType(38, 0)
      val fin = new MCBattery(spark, RngFamily.CounterHash)
        .simulateAntithetic(walkSpecs)
        .select(col("model_id"), col("sim_id"),
          element_at(col("trace"), -1).cast("long").as("fin"))
      val ind = fin.groupBy("model_id").agg(
        count(lit(1)).cast(dec).as("n2"),
        sum(col("fin")).cast(dec).as("sx"),
        sum(col("fin") * col("fin")).cast(dec).as("sx2"))
      val pr = fin.groupBy("model_id", "sim_id")
        .agg(sum(col("fin")).as("s"))
        .groupBy("model_id").agg(
          count(lit(1)).cast(dec).as("np"),
          sum(col("s")).cast(dec).as("ss"),
          sum(col("s") * col("s")).cast(dec).as("ss2"))
      ind.join(broadcast(pr), Seq("model_id"))
        .select(col("model_id"),
          col("np").cast("long").as("n_pairs"),
          (col("ss").cast("double") / col("n2").cast("double"))
            .as("avg_final_paired"),
          when(col("n2") * col("sx2") - col("sx") * col("sx") > 0,
            (lit(2).cast(dec) * (col("np") * col("ss2") - col("ss") * col("ss")))
              .cast("double") /
              (col("n2") * col("sx2") - col("sx") * col("sx")).cast("double"))
            .as("var_ratio"))
        .orderBy("model_id")
    }),
    // Convergence along the trace: per-step H fraction in long format.
    "sim_trace_long" -> ((spark, _) => {
      MCBattery.explodeTraces(new MCBattery(spark, RngFamily.CounterHash).simulate(coinSpecs))
        .groupBy(col("model_id"), col("step"))
        .agg(avg(when(col("value") === "H", 1).otherwise(0)).as("h_frac"))
        .orderBy(col("model_id"), col("step"))
    }),

    // Single-pass trace statistics via the typed Aggregator (custom UDAF
    // tier): one buffer per model instead of four separate aggregates.
    "sim_trace_stats" -> ((spark, _) => {
      import spark.implicits._
      val binary = MCBattery.explodeTraces(new MCBattery(spark, RngFamily.CounterHash).simulate(estSpecs))
        .select(col("model_id"),
          when(col("value") === "H", 1.0).otherwise(0.0).as("v"))
        .as[(Int, Double)]
      binary.groupByKey(_._1)
        .agg(graft.functions.TraceStats.aggOn[(Int, Double)](_._2).toColumn.name("stats"))
        .select(col("key").as("model_id"),
          col("stats.n_points").as("n_points"), col("stats.mean").as("mean"),
          col("stats.variance").as("variance"), col("stats.min_v").as("min_v"),
          col("stats.max_v").as("max_v"))
        .orderBy("model_id")
    }),

    // Continuous-valued MC with a FULL oracle — the trick that closes the
    // "FP sums are order-dependent" gap for continuous models: quantize each
    // uniform to 1/32768 units so every step is an exact integer multiple;
    // integer sums are associative, so SUM order doesn't matter and both
    // engines agree bit-for-bit. One final division rescales.
    "sim_cwalk_final" -> ((spark, _) => {
      val (sims, points) = (2000, 32)
      val grid = MCBattery.explodeTraces(
        new MCBattery(spark, RngFamily.CounterHash).simulate(Seq(
          SimulationSpec(0, "coin_sequence", sims, points, Seq(0.5), Nil, 21),
          SimulationSpec(1, "coin_sequence", sims, points, Seq(0.5), Nil, 22))))
      // recompute the uniform from the counters (the trace content is not
      // used — the exploded grid just provides (model, sim, step))
      val u = DeterministicRng.uniformCol(
        when(col("model_id") === 0, lit(21L)).otherwise(lit(22L)),
        col("model_id").cast("long"), col("sim_id"), col("step").cast("long"))
      grid
        .withColumn("step_units", (floor(u * 32768) - lit(16384)).cast("long"))
        .groupBy(col("model_id"), col("sim_id"))
        .agg(sum(col("step_units")).as("final_units"))
        .groupBy(col("model_id"))
        .agg(
          (sum(col("final_units")).cast("double") / lit(32768.0) / count(lit(1))).as("mean_final"),
          (min(col("final_units")).cast("double") / lit(32768.0)).as("min_final"),
          (max(col("final_units")).cast("double") / lit(32768.0)).as("max_final"),
          count(lit(1)).as("n_sims"))
        .orderBy("model_id")
    }),

    // Gaussian-increment MC with a FULL oracle: Irwin–Hall normals
    // (Σ of 12 uniforms − 6 ≈ N(0,1), the classic CLT construction) in the
    // same 1/32768 integer units as sim_cwalk_final — so even normal-driven
    // simulation output is bit-checkable in SQL. Inner 12-sum and outer
    // step-sum are exact integer arithmetic; two scaled divisions at the end.
    "sim_nwalk_final" -> ((spark, _) => {
      val (sims, points) = (1000, 16)
      val grid = MCBattery.explodeTraces(
        new MCBattery(spark, RngFamily.CounterHash).simulate(Seq(
          SimulationSpec(0, "coin_sequence", sims, points, Seq(0.5), Nil, 31),
          SimulationSpec(1, "coin_sequence", sims, points, Seq(0.5), Nil, 32))))
      val seedCol = when(col("model_id") === 0, lit(31L)).otherwise(lit(32L))
      // z in units: sum over 12 quantized uniforms at counter steps 12t..12t+11
      val zUnits = zUnitsCol(seedCol)
      grid
        .withColumn("z_units", zUnits)
        .groupBy(col("model_id"), col("sim_id"))
        .agg(sum(col("z_units")).as("final_units"))
        .groupBy(col("model_id"))
        .agg(
          (sum(col("final_units")).cast("double") / lit(32768.0) / count(lit(1))).as("mean_final"),
          ((sum(col("final_units") * col("final_units")).cast("double")
            - sum(col("final_units")).cast("double") * sum(col("final_units")).cast("double")
              / count(lit(1)))
            / count(lit(1)) / lit(32768.0 * 32768.0)).as("var_final"),
          count(lit(1)).as("n_sims"))
        .orderBy("model_id")
    }),

    // GBM with a FULL oracle, in log space: the excess log return of a GBM
    // path is drift·n + vol·(Σ z)/32768 — affine in the exact integer z-sum
    // from the Irwin–Hall units, with drift/vol embedded as round-tripping
    // double literals. No libm call remains (sqrt is correctly rounded), so
    // the multiplicative model's estimates are bit-checkable — closing the
    // gap that kept GBM rows-only (prices need exp; log returns don't).
    "sim_gbm_logret" -> ((spark, _) => {
      val (sims, points) = (1000, 16)
      val grid = MCBattery.explodeTraces(
        new MCBattery(spark, RngFamily.CounterHash).simulate(Seq(
          SimulationSpec(0, "coin_sequence", sims, points, Seq(0.5), Nil, 51),
          SimulationSpec(1, "coin_sequence", sims, points, Seq(0.5), Nil, 52))))
      val seedCol = when(col("model_id") === 0, lit(51L)).otherwise(lit(52L))
      val zUnits = zUnitsCol(seedCol)
      val driftTotal = GbmLogRet.driftTotal(points)
      val vol = GbmLogRet.vol
      grid
        .withColumn("z_units", zUnits)
        .groupBy(col("model_id"), col("sim_id"))
        .agg(sum(col("z_units")).as("zsum"))
        .withColumn("logret", lit(driftTotal) + lit(vol) * (col("zsum").cast("double") / lit(32768.0)))
        .groupBy(col("model_id"))
        // round(12): the a·b+c folding of drift/vol can differ by one ulp
        // across engines (FMA contraction); 12 decimals on ~1e-3 values
        // absorbs it with ~1e-9 headroom
        .agg(
          round(sum(col("zsum")).cast("double") / lit(32768.0) / count(lit(1)) * lit(vol)
            + lit(driftTotal), 12).as("mean_logret"),
          round(min(col("logret")), 12).as("min_logret"),
          round(max(col("logret")), 12).as("max_logret"),
          count(lit(1)).as("n_sims"))
        .orderBy("model_id")
    }),

    // ORNSTEIN–UHLENBECK mean-reverting process (Vasicek-class — rates,
    // spreads, temperature models; the mean-reverting counterpart of the
    // GBM/random-walk zoo). Exact-discretization form around mean 0:
    //   x_n = Σ_i a^{n-1-i}·z_i   (a = e^{-θΔt}, chosen so a is an exact
    // 1-digit decimal: 0.9 / 0.8 per model — the decay IS the config).
    // Everything integer-exact until one final scaling: the weights are
    // a^k·10^15 as exact longs (a^k terminates at 15 decimals for
    // k ≤ 15), z the Irwin–Hall integer units, so the weighted sum is an
    // exact DECIMAL(38,0); per-sim x quantizes through ONE correctly-
    // rounded cast + division by the exactly-representable
    // 2^15·10^15, round(…, 6) (the sim_gbm_stats discipline), and the
    // final stats are decimal-exact sums + the shared percentile.
    "sim_ou_final" -> ((spark, _) => {
      import org.apache.spark.sql.types.{DataTypes, DecimalType}
      val (sims, points) = (1000, 16)
      val grid = MCBattery.explodeTraces(
        new MCBattery(spark, RngFamily.CounterHash).simulate(Seq(
          SimulationSpec(0, "coin_sequence", sims, points, Seq(0.5), Nil, 61),
          SimulationSpec(1, "coin_sequence", sims, points, Seq(0.5), Nil, 62))))
      val seedCol = when(col("model_id") === 0, lit(61L)).otherwise(lit(62L))
      import spark.implicits._
      val weights = OuWeights.unitRows(points).toDF("model_id", "step", "w")
      val dec = DataTypes.createDecimalType(38, 0)
      val s1 = sum(col("qx").cast(DecimalType(18, 6))).cast("double")
      val s2 = sum((col("qx") * col("qx")).cast(DecimalType(30, 12))).cast("double")
      val n = count(lit(1))
      grid.withColumn("z_units", zUnitsCol(seedCol))
        .join(broadcast(weights), Seq("model_id", "step"))
        .groupBy(col("model_id"), col("sim_id"))
        .agg(sum(col("w").cast(dec) * col("z_units")).as("xu"))
        .select(col("model_id"),
          round(col("xu").cast("double") / lit(OuWeights.unitScale), 6).as("qx"))
        .groupBy("model_id")
        .agg(n.as("n_sims"), round(s1 / n, 4).as("mean_x"),
          round(sqrt((s2 - s1 * s1 / n) / n), 4).as("sd_x"),
          round(expr("percentile(qx, 0.05)"), 4).as("p05_x"))
        .orderBy("model_id")
    }),

    // GBM price-path statistics (the README's stock-price use case): mean /
    // dispersion of final prices plus a 5% quantile (~VaR shape). No DuckDB
    // oracle — libm cos/log differ in final ulps across engines (SURVEY
    // §7.4); validated statistically in SimModelSpec instead.
    // GBM final-price stats with a FULL value oracle (round 2 — this was
    // rows-only). The whole price chain (counter-hash uniforms → Box-Muller
    // → log-space accumulation → 100·exp) is reproduced in DuckDB SQL;
    // measured cross-engine libm skew on the 4000 finals is ≤ 2.9e-14 while
    // the nearest 6-decimal rounding boundary sits 4.8e-11 away, so per-sim
    // prices are quantized with round(…, 6) and every aggregate follows the
    // repo FP discipline: decimal-exact sums (mean, variance) divided once,
    // shared R-7 percentile definition, round(…, 4) on outputs.
    "sim_gbm_stats" -> ((spark, _) => {
      import org.apache.spark.sql.types.DecimalType
      val specs = Seq(
        SimulationSpec(0, "gbm", 2000, 32, Seq(0.05, 0.2, 1.0 / 252), Seq("100.0"), 11),
        SimulationSpec(1, "gbm", 2000, 32, Seq(0.10, 0.4, 1.0 / 252), Seq("100.0"), 12))
      val s1 = sum(col("qfin").cast(DecimalType(18, 6))).cast("double")
      val s2 = sum((col("qfin") * col("qfin")).cast(DecimalType(30, 12))).cast("double")
      val n = count(lit(1))
      new MCBattery(spark, RngFamily.CounterHash).simulate(specs)
        .select(col("model_id"),
          round(element_at(col("trace"), -1).cast("double"), 6).as("qfin"))
        .groupBy("model_id")
        .agg(n.as("n_sims"),
          round(s1 / n, 4).as("mean_final"),
          round(sqrt((s2 - s1 * s1 / n) / n), 4).as("sd_final"),
          round(expr("percentile(qfin, 0.05)"), 4).as("p05_final"))
        .orderBy("model_id")
    }),

    // Max drawdown per random-walk trace (the classic MC risk statistic:
    // max over t of runningMax(t) − pos(t)) — two stacked windows over the
    // exploded long format; exact integers, fully oracle-checked.
    "sim_walk_drawdown" -> ((spark, _) => {
      import org.apache.spark.sql.expressions.Window
      val byStep = Window.partitionBy(col("model_id"), col("sim_id")).orderBy(col("step"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pos = MCBattery.explodeTraces(new MCBattery(spark, RngFamily.CounterHash).simulate(walkSpecs))
        .select(col("model_id"), col("sim_id"), col("step"), col("value").cast("long").as("pos"))
      pos
        .withColumn("runmax", max(col("pos")).over(byStep))
        .groupBy(col("model_id"), col("sim_id"))
        .agg(max(col("runmax") - col("pos")).as("drawdown"))
        .groupBy(col("model_id"))
        .agg(avg(col("drawdown")).as("avg_drawdown"),
          max(col("drawdown")).as("max_drawdown"),
          count(lit(1)).as("n_sims"))
        .orderBy("model_id")
    }),

    // Control variates — the second classic variance-reduction member
    // (sim_walk_antithetic is the first): estimate E[drawdown] with the
    // final position as control (its mean is EXACTLY known: n·(2b−1)).
    // Emits the decision quantities, each ONE division of exact integer
    // moment sums: the sample means, the optimal coefficient
    // β = Cov(dd,fin)/Var(fin), and the achievable variance ratio
    // 1 − ρ² = (Vd·Vf − C²)/(Vd·Vf) — the combined point estimate is
    // deliberately NOT emitted (mean_dd − β·(mean_fin − μ) is an
    // FMA-contractable a·b±c chain, the repo's cross-engine ulp trap;
    // callers compose it from the emitted pieces).
    "sim_walk_cv" -> ((spark, _) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DataTypes
      val dec = DataTypes.createDecimalType(38, 0)
      val byStep = Window.partitionBy(col("model_id"), col("sim_id")).orderBy(col("step"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pos = MCBattery.explodeTraces(
          new MCBattery(spark, RngFamily.CounterHash).simulate(walkSpecs))
        .select(col("model_id"), col("sim_id"), col("step"),
          col("value").cast("long").as("pos"))
      val per = pos
        .withColumn("runmax", max(col("pos")).over(byStep))
        .groupBy(col("model_id"), col("sim_id"))
        .agg(max(col("runmax") - col("pos")).as("dd"),
          max(when(col("step") === lit(23), col("pos"))).as("fin"))
      val m = per.groupBy("model_id").agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("dd")).cast(dec).as("sd"),
        sum(col("fin")).cast(dec).as("sf"),
        sum(col("dd") * col("dd")).cast(dec).as("sd2"),
        sum(col("fin") * col("fin")).cast(dec).as("sf2"),
        sum(col("dd") * col("fin")).cast(dec).as("sdf"))
      val vd = m("n") * m("sd2") - m("sd") * m("sd")
      val vf = m("n") * m("sf2") - m("sf") * m("sf")
      val cv = m("n") * m("sdf") - m("sd") * m("sf")
      m.select(col("model_id"), col("n").cast("long").as("n_sims"),
          (col("sd").cast("double") / col("n").cast("double")).as("mean_dd"),
          (col("sf").cast("double") / col("n").cast("double")).as("mean_fin"),
          when(vf > 0, cv.cast("double") / vf.cast("double")).as("beta"),
          when(vd > 0 && vf > 0,
            (vd * vf - cv * cv).cast("double") / (vd * vf).cast("double"))
            .as("var_ratio_cv"))
        .orderBy("model_id")
    }),

    // Importance sampling — the third variance-reduction member: the
    // rare event P(final ≥ 16) of the fair 24-step walk (true p ≈ 7.7e-4
    // — a 1000-path naive battery usually sees 0-2 hits) estimated from
    // a bias-0.75 proposal with EXACT likelihood ratios: under 0.5→0.75,
    // L = (2/3)^u · 2^(n−u) = 2^n / 3^u with u = (fin+n)/2 the up-step
    // count, an exact rational whose scaled numerator 3^(n−u) ≤ 81 on
    // hit paths (u ≥ 20) — so every moment sum is a small exact integer
    // and p̂_IS and the IS/naive variance ratio are each ONE division of
    // exact integer products. No other engine competency makes the IS
    // estimator itself value-oracle-able like the counter RNG does.
    "sim_walk_importance" -> ((spark, _) => {
      import org.apache.spark.sql.types.DataTypes
      val dec = DataTypes.createDecimalType(38, 0)
      val T = 16
      val naiveSpec = Seq(SimulationSpec(0, "random_walk", 1000, 24, Seq(0.5), Nil, 7))
      val isSpec = Seq(SimulationSpec(1, "random_walk", 1000, 24, Seq(0.75), Nil, 9))
      val b = new MCBattery(spark, RngFamily.CounterHash)
      def fins(specs: Seq[SimulationSpec]) = b.simulate(specs)
        .select(element_at(col("trace"), -1).cast("long").as("fin"))
      val pow3 = array(lit(1L), lit(3L), lit(9L), lit(27L), lit(81L))
      val nv = fins(naiveSpec)
        .agg(count(lit(1)).cast(dec).as("n"),
          sum(when(col("fin") >= T, 1L).otherwise(0L)).cast(dec).as("hits_naive"))
      val isw = fins(isSpec)
        .select(expr("(fin + 24) div 2").as("u"))
        .select(when(col("u") >= 20L,
          element_at(pow3, (lit(25L) - col("u")).cast("int"))).otherwise(lit(0L)).as("w"))
        .agg(sum(when(col("w") > 0, 1L).otherwise(0L)).as("hits_is"),
          sum(col("w")).cast(dec).as("sw"),
          sum(col("w") * col("w")).cast(dec).as("sw2"))
      val p2_24 = lit(1L << 24).cast(dec)         // 2^24
      val p2_48 = lit(1L << 48).cast(dec)         // 2^48
      val p3_24 = lit(282429536481L).cast(dec)    // 3^24
      val p3_48 = (lit(282429536481L).cast(dec) * lit(282429536481L)).cast(dec) // 3^48
      nv.crossJoin(broadcast(isw))
        .select(col("n").cast("long").as("n_sims"),
          col("hits_naive").cast("long").as("n_hits_naive"),
          col("hits_is").as("n_hits_is"),
          (col("hits_naive").cast("double") / col("n").cast("double")).as("p_naive"),
          ((p2_24 * col("sw")).cast("double") /
            (col("n") * p3_24).cast("double")).as("p_is"),
          when(col("n") * col("hits_naive") - col("hits_naive") * col("hits_naive") > 0,
            ((col("n") * col("sw2") - col("sw") * col("sw")) * p2_48).cast("double") /
              ((col("n") * col("hits_naive") - col("hits_naive") * col("hits_naive")) * p3_48)
                .cast("double")).as("var_ratio_is"))
    }),

    // Stratified sampling — the fourth variance-reduction member:
    // estimate p = P(u < b) with systematic strata u_i = (i + v_i)/N
    // (every stratum sampled exactly once; only the boundary stratum
    // contributes variance, so Var drops ~N× vs naive). Measured across
    // R replicates against a naive battery of the same budget: per-
    // replicate hit counts are EXACT INTEGERS, so the cross-replicate
    // variance ratio is ONE division of exact integer products and the
    // whole readout value-oracles. The only FP on the stratified path is
    // the single correctly-rounded add i + v and its compare — mirrored
    // op-for-op in the oracle.
    "sim_coin_stratified" -> ((spark, _) => {
      import org.apache.spark.sql.types.DataTypes
      val dec = DataTypes.createDecimalType(38, 0)
      val R = 200L; val N = 100L; val bn = 30.55 // bias·N (b = 0.3055)
      val gid = spark.range(0, R * N)
      def hitsOf(seed: Long, stratified: Boolean) = {
        val v = DeterministicRng.uniformCol(lit(seed), lit(0L), col("id"), lit(0L))
        val hit = if (stratified) (col("id") % N).cast("double") + v < lit(bn)
          else v < lit(0.3055) // plain draw vs the bias literal, zero FP ops
        gid.select(expr(s"id div $N").as("r"),
            when(hit, 1L).otherwise(0L).as("y"))
          .groupBy("r").agg(sum(col("y")).as("h"))
          .agg(count(lit(1)).cast(dec).as("rr"),
            sum(col("h")).cast(dec).as("sh"),
            sum(col("h") * col("h")).cast(dec).as("sh2"))
      }
      val st = hitsOf(77L, stratified = true)
      val nv = hitsOf(78L, stratified = false)
        .select(col("rr").as("nrr"), col("sh").as("nsh"), col("sh2").as("nsh2"))
      st.crossJoin(broadcast(nv))
        .select(col("rr").cast("long").as("r_replicates"),
          lit(N).as("n_per_replicate"),
          (col("sh").cast("double") / (col("rr") * lit(N).cast(dec)).cast("double"))
            .as("p_strat"),
          (col("nsh").cast("double") / (col("nrr") * lit(N).cast(dec)).cast("double"))
            .as("p_naive"),
          when(col("nrr") * col("nsh2") - col("nsh") * col("nsh") > 0,
            (col("rr") * col("sh2") - col("sh") * col("sh")).cast("double") /
              (col("nrr") * col("nsh2") - col("nsh") * col("nsh")).cast("double"))
            .as("var_ratio_strat"))
    }),

    // Running estimator along the trace: cumulative H fraction per sim
    // (window cumsum over the exploded long format).
    "sim_running_mean" -> ((spark, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("model_id"), col("sim_id")).orderBy(col("step"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      MCBattery.explodeTraces(new MCBattery(spark, RngFamily.CounterHash).simulate(coinSpecs))
        .filter(col("sim_id") < 5)
        .withColumn("h", when(col("value") === "H", 1L).otherwise(0L))
        .select(col("model_id"), col("sim_id"), col("step"),
          (sum(col("h")).over(w).cast("double") / (col("step") + 1)).as("run_mean"))
        .orderBy("model_id", "sim_id", "step")
    }))

  def oracleSql: Map[String, String] = Map(
    // the same 20 shift-mask-scale terms, HUGEINT square sum, one
    // division by the exact 2^52 constant
    "sim_qmc_vdc" -> {
      val terms = (0 until 20)
        .map(b => s"((i >> $b) & 1) * ${1L << (19 - b)}").mkString(" + ")
      s"""WITH i AS (SELECT unnest(generate_series(0, 4095)) AS i),
         |r AS (SELECT CAST($terms AS BIGINT) AS r FROM i)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST(r AS HUGEINT) * r) AS BIGINT) AS sum_sq,
         |  CAST(SUM(CAST(r AS HUGEINT) * r) AS DOUBLE)
         |    / CAST(COUNT(*) * ${1L << 40} AS DOUBLE) AS estimate,
         |  abs(CAST(SUM(CAST(r AS HUGEINT) * r) AS DOUBLE)
         |    / CAST(COUNT(*) * ${1L << 40} AS DOUBLE) - 1.0/3.0) AS abs_err
         |FROM r""".stripMargin
    },
    // OU: the z CTE is sim_gbm_logret's Irwin–Hall integer units; the
    // weighted sum stays HUGEINT-exact; one int→double cast, one division
    // by the exact 2^15·10^15, round(6) — then the gbm_stats agg idioms
    "sim_ou_final" -> {
      val uj = uniformSql("m.seed", "m.model_id", "s.sim_id", "st.step * 12 + j.j")
      s"""WITH z AS (
         |  SELECT m.model_id, s.sim_id, st.step,
         |    CAST(SUM(CAST(floor($uj * 32768) AS BIGINT)) - 196608 AS BIGINT) AS z_units
         |  FROM (VALUES (0, 61), (1, 62)) AS m(model_id, seed)
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 15) AS st(step)
         |  CROSS JOIN generate_series(0, 11) AS j(j)
         |  GROUP BY 1, 2, 3),
         |x AS (SELECT z.model_id,
         |    round(CAST(SUM(CAST(w.w AS HUGEINT) * z.z_units) AS DOUBLE)
         |      / 3.2768e19, 6) AS qx
         |  FROM z JOIN ${OuWeights.sqlValues(16)}
         |    ON w.model_id = z.model_id AND w.step = z.step
         |  GROUP BY z.model_id, z.sim_id),
         |agg AS (SELECT model_id, COUNT(*) AS n,
         |    CAST(SUM(CAST(qx AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(qx * qx AS DECIMAL(30,12))) AS DOUBLE) AS s2,
         |    quantile_cont(qx, 0.05) AS p05
         |  FROM x GROUP BY model_id)
         |SELECT model_id, n AS n_sims, round(s1 / n, 4) AS mean_x,
         |  round(sqrt((s2 - s1 * s1 / n) / n), 4) AS sd_x,
         |  round(p05, 4) AS p05_x
         |FROM agg ORDER BY model_id""".stripMargin
    },

    "sim_gbm_stats" -> {
      // drift/vol embedded as exact round-tripping double literals; the
      // Box-Muller/exp chain mirrors core.TraceKernel.Gbm term for term
      def dv(mu: Double, sigma: Double): (String, String) = {
        val dt = 1.0 / 252
        (((mu - sigma * sigma / 2.0) * dt).toString, (sigma * math.sqrt(dt)).toString)
      }
      val (d0, v0) = dv(0.05, 0.2)
      val (d1, v1) = dv(0.10, 0.4)
      val gu1 = uniformSql("m.seed", "m.model_id", "s.sim_id", "t.t * 2")
      val gu2 = uniformSql("m.seed", "m.model_id", "s.sim_id", "t.t * 2 + 1")
      // the CASTs are load-bearing: DuckDB types bare VALUES decimals as
      // DECIMAL(p,s), and DECIMAL→DOUBLE conversion is not correctly
      // rounded — without them the drift/vol doubles round-trip only by
      // luck (the repo-wide VALUES-literal trap)
      s"""WITH inc AS (
         |  SELECT m.model_id, s.sim_id,
         |    SUM(m.drift + m.vol * (sqrt(-2.0 * ln(greatest($gu1, 1e-300)))
         |      * cos(2.0 * pi() * $gu2))) AS acc
         |  FROM (VALUES (0, 11, CAST('$d0' AS DOUBLE), CAST('$v0' AS DOUBLE)),
         |               (1, 12, CAST('$d1' AS DOUBLE), CAST('$v1' AS DOUBLE)))
         |    AS m(model_id, seed, drift, vol)
         |  CROSS JOIN generate_series(0, 1999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 31) AS t(t)
         |  GROUP BY 1, 2),
         |fins AS (SELECT model_id, round(100.0 * exp(acc), 6) AS qfin FROM inc),
         |agg AS (SELECT model_id, COUNT(*) AS n,
         |    CAST(SUM(CAST(qfin AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         |    CAST(SUM(CAST(qfin * qfin AS DECIMAL(30,12))) AS DOUBLE) AS s2,
         |    quantile_cont(qfin, 0.05) AS p05
         |  FROM fins GROUP BY model_id)
         |SELECT model_id, n AS n_sims,
         |  round(s1 / n, 4) AS mean_final,
         |  round(sqrt((s2 - s1 * s1 / n) / n), 4) AS sd_final,
         |  round(p05, 4) AS p05_final
         |FROM agg ORDER BY model_id""".stripMargin
    },
    "sim_coin_traces" ->
      s"""SELECT m.model_id, s.sim_id,
         |  string_agg($flip, ',' ORDER BY st.step) AS trace_csv
         |FROM ${coinValues(coinSpecs)}
         |CROSS JOIN generate_series(0, 199) AS s(sim_id)
         |CROSS JOIN generate_series(0, 15) AS st(step)
         |GROUP BY m.model_id, s.sim_id
         |ORDER BY m.model_id, s.sim_id""".stripMargin,
    "sim_coin_est" ->
      s"""SELECT m.model_id,
         |  AVG(CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE 0 END) AS heads_frac,
         |  COUNT(*) AS n_flips
         |FROM ${coinValues(estSpecs)}
         |CROSS JOIN generate_series(0, 4999) AS s(sim_id)
         |CROSS JOIN generate_series(0, 15) AS st(step)
         |GROUP BY m.model_id
         |ORDER BY m.model_id""".stripMargin,
    "sim_walk_final" ->
      s"""WITH fin AS (
         |  SELECT m.model_id, s.sim_id, CAST(SUM($walkStep) AS BIGINT) AS final_pos
         |  FROM ${coinValues(walkSpecs)}
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 23) AS st(step)
         |  GROUP BY 1, 2)
         |SELECT model_id, AVG(final_pos) AS avg_final,
         |  MIN(final_pos) AS min_final, MAX(final_pos) AS max_final,
         |  COUNT(*) AS n_sims
         |FROM fin GROUP BY model_id ORDER BY model_id""".stripMargin,
    "sim_walk_antithetic" -> {
      // the twin draws 1−u at the same counters; moment sums are exact
      // HUGEINTs, the ratio/mean each one division of exact products
      val uv = s"CASE WHEN v.av = 1 THEN 1.0 - ($u) ELSE ($u) END"
      val stepv = s"CASE WHEN $uv < CAST(m.bias AS DOUBLE) THEN 1 ELSE -1 END"
      s"""WITH fin AS (
         |  SELECT m.model_id, s.sim_id, v.av,
         |    CAST(SUM($stepv) AS BIGINT) AS fin
         |  FROM ${coinValues(walkSpecs)}
         |  CROSS JOIN (VALUES (0), (1)) AS v(av)
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 23) AS st(step)
         |  GROUP BY 1, 2, 3),
         |ind AS (SELECT model_id, CAST(COUNT(*) AS HUGEINT) AS n2,
         |    CAST(SUM(fin) AS HUGEINT) AS sx,
         |    CAST(SUM(fin * fin) AS HUGEINT) AS sx2
         |  FROM fin GROUP BY 1),
         |prs AS (SELECT model_id, sim_id, SUM(fin) AS s FROM fin GROUP BY 1, 2),
         |pr AS (SELECT model_id, CAST(COUNT(*) AS HUGEINT) AS np,
         |    CAST(SUM(s) AS HUGEINT) AS ss,
         |    CAST(SUM(s * s) AS HUGEINT) AS ss2
         |  FROM prs GROUP BY 1)
         |SELECT i.model_id, CAST(p.np AS BIGINT) AS n_pairs,
         |  CAST(p.ss AS DOUBLE) / CAST(i.n2 AS DOUBLE) AS avg_final_paired,
         |  CASE WHEN i.n2 * i.sx2 - i.sx * i.sx > 0 THEN
         |    CAST(2 * (p.np * p.ss2 - p.ss * p.ss) AS DOUBLE) /
         |      CAST(i.n2 * i.sx2 - i.sx * i.sx AS DOUBLE) END AS var_ratio
         |FROM ind i JOIN pr p ON p.model_id = i.model_id
         |ORDER BY i.model_id""".stripMargin
    },
    "sim_trace_long" ->
      s"""SELECT m.model_id, CAST(st.step AS INTEGER) AS step,
         |  AVG(CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE 0 END) AS h_frac
         |FROM ${coinValues(coinSpecs)}
         |CROSS JOIN generate_series(0, 199) AS s(sim_id)
         |CROSS JOIN generate_series(0, 15) AS st(step)
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,
    "sim_trace_stats" ->
      s"""WITH v AS (
         |  SELECT m.model_id,
         |    CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN CAST(1 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS v
         |  FROM ${coinValues(estSpecs)}
         |  CROSS JOIN generate_series(0, 4999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 15) AS st(step))
         |SELECT model_id, COUNT(*) AS n_points,
         |  SUM(v) / COUNT(*) AS mean,
         |  (SUM(v * v) - SUM(v) * SUM(v) / COUNT(*)) / COUNT(*) AS variance,
         |  MIN(v) AS min_v, MAX(v) AS max_v
         |FROM v GROUP BY model_id ORDER BY model_id""".stripMargin,
    "sim_gbm_logret" -> {
      val uj = uniformSql("m.seed", "m.model_id", "s.sim_id", "st.step * 12 + j.j")
      val drift = GbmLogRet.driftTotal(16)
      val vol = GbmLogRet.vol
      s"""WITH z AS (
         |  SELECT m.model_id, s.sim_id, st.step,
         |    CAST(SUM(CAST(floor($uj * 32768) AS BIGINT)) - 196608 AS BIGINT) AS z_units
         |  FROM (VALUES (0, 51), (1, 52)) AS m(model_id, seed)
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 15) AS st(step)
         |  CROSS JOIN generate_series(0, 11) AS j(j)
         |  GROUP BY 1, 2, 3),
         |f AS (SELECT model_id, sim_id, CAST(SUM(z_units) AS BIGINT) AS zsum
         |      FROM z GROUP BY 1, 2),
         |lr AS (SELECT model_id, zsum,
         |    $drift + $vol * (CAST(zsum AS DOUBLE) / 32768.0) AS logret FROM f)
         |SELECT model_id,
         |  round(CAST(SUM(zsum) AS DOUBLE) / 32768.0 / COUNT(*) * $vol + $drift, 12) AS mean_logret,
         |  round(MIN(logret), 12) AS min_logret, round(MAX(logret), 12) AS max_logret,
         |  COUNT(*) AS n_sims
         |FROM lr GROUP BY model_id ORDER BY model_id""".stripMargin
    },
    "sim_nwalk_final" -> {
      val uj = uniformSql("m.seed", "m.model_id", "s.sim_id", "st.step * 12 + j.j")
      s"""WITH z AS (
         |  SELECT m.model_id, s.sim_id, st.step,
         |    CAST(SUM(CAST(floor($uj * 32768) AS BIGINT)) - 196608 AS BIGINT) AS z_units
         |  FROM (VALUES (0, 31), (1, 32)) AS m(model_id, seed)
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 15) AS st(step)
         |  CROSS JOIN generate_series(0, 11) AS j(j)
         |  GROUP BY 1, 2, 3),
         |f AS (SELECT model_id, sim_id, CAST(SUM(z_units) AS BIGINT) AS final_units
         |      FROM z GROUP BY 1, 2)
         |SELECT model_id,
         |  CAST(SUM(final_units) AS DOUBLE) / 32768.0 / COUNT(*) AS mean_final,
         |  (CAST(SUM(final_units * final_units) AS DOUBLE)
         |    - CAST(SUM(final_units) AS DOUBLE) * CAST(SUM(final_units) AS DOUBLE) / COUNT(*))
         |    / COUNT(*) / 1073741824.0 AS var_final,
         |  COUNT(*) AS n_sims
         |FROM f GROUP BY model_id ORDER BY model_id""".stripMargin
    },
    "sim_cwalk_final" ->
      s"""WITH g AS (
         |  SELECT m.model_id, s.sim_id,
         |    CAST(floor($u * 32768) - 16384 AS BIGINT) AS step_units
         |  FROM (VALUES (0, 21), (1, 22)) AS m(model_id, seed)
         |  CROSS JOIN generate_series(0, 1999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 31) AS st(step)),
         |f AS (SELECT model_id, sim_id, CAST(SUM(step_units) AS BIGINT) AS final_units
         |      FROM g GROUP BY 1, 2)
         |SELECT model_id,
         |  CAST(SUM(final_units) AS DOUBLE) / 32768.0 / COUNT(*) AS mean_final,
         |  CAST(MIN(final_units) AS DOUBLE) / 32768.0 AS min_final,
         |  CAST(MAX(final_units) AS DOUBLE) / 32768.0 AS max_final,
         |  COUNT(*) AS n_sims
         |FROM f GROUP BY model_id ORDER BY model_id""".stripMargin,
    "sim_walk_drawdown" ->
      s"""WITH pos AS (
         |  SELECT m.model_id, s.sim_id, CAST(st.step AS INTEGER) AS step,
         |    CAST(SUM(CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE -1 END)
         |      OVER (PARTITION BY m.model_id, s.sim_id ORDER BY st.step
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos
         |  FROM ${coinValues(walkSpecs)}
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 23) AS st(step)),
         |rm AS (
         |  SELECT model_id, sim_id, pos,
         |    CAST(MAX(pos) OVER (PARTITION BY model_id, sim_id ORDER BY step
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmax
         |  FROM pos),
         |dd AS (
         |  SELECT model_id, sim_id, MAX(runmax - pos) AS drawdown
         |  FROM rm GROUP BY model_id, sim_id)
         |SELECT model_id, AVG(drawdown) AS avg_drawdown,
         |  MAX(drawdown) AS max_drawdown, COUNT(*) AS n_sims
         |FROM dd GROUP BY model_id ORDER BY model_id""".stripMargin,
    "sim_walk_importance" -> {
      // two pinned batteries (naive seed 7 bias .5; proposal seed 9 bias
      // .75); weights from the exact 3^(24-u) lookup on hit paths only
      s"""WITH fin AS (
         |  SELECT m.model_id, s.sim_id,
         |    CAST(SUM(CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE -1 END)
         |      AS BIGINT) AS fin
         |  FROM (VALUES (0, 0.5, 7), (1, 0.75, 9)) AS m(model_id, bias, seed)
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 23) AS st(step)
         |  GROUP BY 1, 2),
         |nv AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(CASE WHEN fin >= 16 THEN 1 ELSE 0 END) AS HUGEINT) AS h
         |  FROM fin WHERE model_id = 0),
         |ws AS (SELECT CASE WHEN (fin + 24) // 2 >= 20 THEN
         |      ([1, 3, 9, 27, 81])[CAST(25 - (fin + 24) // 2 AS INTEGER)]
         |    ELSE 0 END AS w
         |  FROM fin WHERE model_id = 1),
         |iw AS (SELECT CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_is,
         |    CAST(SUM(w) AS HUGEINT) AS sw,
         |    CAST(SUM(w * w) AS HUGEINT) AS sw2 FROM ws)
         |SELECT CAST(nv.n AS BIGINT) AS n_sims,
         |  CAST(nv.h AS BIGINT) AS n_hits_naive,
         |  iw.hits_is AS n_hits_is,
         |  CAST(nv.h AS DOUBLE) / CAST(nv.n AS DOUBLE) AS p_naive,
         |  CAST(16777216 * iw.sw AS DOUBLE) /
         |    CAST(nv.n * 282429536481 AS DOUBLE) AS p_is,
         |  CASE WHEN nv.n * nv.h - nv.h * nv.h > 0 THEN
         |    CAST((nv.n * iw.sw2 - iw.sw * iw.sw) * 281474976710656 AS DOUBLE) /
         |      CAST((nv.n * nv.h - nv.h * nv.h) *
         |        (CAST(282429536481 AS HUGEINT) * 282429536481) AS DOUBLE)
         |  END AS var_ratio_is
         |FROM nv, iw""".stripMargin
    },
    "sim_coin_stratified" -> {
      val us = uniformSql("77", "0", "g.gid", "0")
      val un = uniformSql("78", "0", "g.gid", "0")
      s"""WITH g AS (SELECT gid FROM generate_series(0, 19999) AS t(gid)),
         |sh AS (SELECT gid // 100 AS r,
         |    CASE WHEN CAST(gid % 100 AS DOUBLE) + $us < 30.55
         |      THEN 1 ELSE 0 END AS y FROM g),
         |nh AS (SELECT gid // 100 AS r,
         |    CASE WHEN $un < 0.3055 THEN 1 ELSE 0 END AS y FROM g),
         |sm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS rr,
         |    CAST(SUM(h) AS HUGEINT) AS sh, CAST(SUM(h * h) AS HUGEINT) AS sh2
         |  FROM (SELECT r, SUM(y) AS h FROM sh GROUP BY r)),
         |nm AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nrr,
         |    CAST(SUM(h) AS HUGEINT) AS nsh, CAST(SUM(h * h) AS HUGEINT) AS nsh2
         |  FROM (SELECT r, SUM(y) AS h FROM nh GROUP BY r))
         |SELECT CAST(sm.rr AS BIGINT) AS r_replicates,
         |  CAST(100 AS BIGINT) AS n_per_replicate,
         |  CAST(sm.sh AS DOUBLE) / CAST(sm.rr * 100 AS DOUBLE) AS p_strat,
         |  CAST(nm.nsh AS DOUBLE) / CAST(nm.nrr * 100 AS DOUBLE) AS p_naive,
         |  CASE WHEN nm.nrr * nm.nsh2 - nm.nsh * nm.nsh > 0 THEN
         |    CAST(sm.rr * sm.sh2 - sm.sh * sm.sh AS DOUBLE) /
         |      CAST(nm.nrr * nm.nsh2 - nm.nsh * nm.nsh AS DOUBLE)
         |  END AS var_ratio_strat
         |FROM sm, nm""".stripMargin
    },
    "sim_walk_cv" ->
      s"""WITH pos AS (
         |  SELECT m.model_id, s.sim_id, CAST(st.step AS INTEGER) AS step,
         |    CAST(SUM(CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE -1 END)
         |      OVER (PARTITION BY m.model_id, s.sim_id ORDER BY st.step
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pos
         |  FROM ${coinValues(walkSpecs)}
         |  CROSS JOIN generate_series(0, 999) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 23) AS st(step)),
         |rm AS (
         |  SELECT model_id, sim_id, step, pos,
         |    CAST(MAX(pos) OVER (PARTITION BY model_id, sim_id ORDER BY step
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS runmax
         |  FROM pos),
         |per AS (
         |  SELECT model_id, sim_id, MAX(runmax - pos) AS dd,
         |    MAX(CASE WHEN step = 23 THEN pos END) AS fin
         |  FROM rm GROUP BY model_id, sim_id),
         |mo AS (SELECT model_id, CAST(COUNT(*) AS HUGEINT) AS n,
         |    CAST(SUM(dd) AS HUGEINT) AS sd, CAST(SUM(fin) AS HUGEINT) AS sf,
         |    CAST(SUM(dd * dd) AS HUGEINT) AS sd2,
         |    CAST(SUM(fin * fin) AS HUGEINT) AS sf2,
         |    CAST(SUM(dd * fin) AS HUGEINT) AS sdf
         |  FROM per GROUP BY model_id)
         |SELECT model_id, CAST(n AS BIGINT) AS n_sims,
         |  CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS mean_dd,
         |  CAST(sf AS DOUBLE) / CAST(n AS DOUBLE) AS mean_fin,
         |  CASE WHEN n * sf2 - sf * sf > 0 THEN
         |    CAST(n * sdf - sd * sf AS DOUBLE) /
         |      CAST(n * sf2 - sf * sf AS DOUBLE) END AS beta,
         |  CASE WHEN n * sd2 - sd * sd > 0 AND n * sf2 - sf * sf > 0 THEN
         |    CAST((n * sd2 - sd * sd) * (n * sf2 - sf * sf)
         |        - (n * sdf - sd * sf) * (n * sdf - sd * sf) AS DOUBLE) /
         |      CAST((n * sd2 - sd * sd) * (n * sf2 - sf * sf) AS DOUBLE)
         |  END AS var_ratio_cv
         |FROM mo ORDER BY model_id""".stripMargin,
    "sim_running_mean" ->
      s"""WITH flips AS (
         |  SELECT m.model_id, s.sim_id, CAST(st.step AS INTEGER) AS step,
         |    CASE WHEN $u < CAST(m.bias AS DOUBLE) THEN 1 ELSE 0 END AS h
         |  FROM ${coinValues(coinSpecs)}
         |  CROSS JOIN generate_series(0, 4) AS s(sim_id)
         |  CROSS JOIN generate_series(0, 15) AS st(step))
         |SELECT model_id, sim_id, step,
         |  CAST(SUM(h) OVER (PARTITION BY model_id, sim_id ORDER BY step
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / (step + 1) AS run_mean
         |FROM flips ORDER BY model_id, sim_id, step""".stripMargin)
}
