package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** A Monte Carlo model — the engine's equivalent of the reference's
  * user-supplied Python callable with positional contract
  * `model(number_points, rng[, parameters[, starting_point]])`
  * (`parallel_simulations/parallel_simulations.py:80-95`, `README.md:50-54`).
  *
  * Two tiers (SURVEY §2.2 "UDF/UDAF/UDTF surface"):
  *   - [[traceCol]]: a Catalyst `Column` expression over built-in functions —
  *     fully whole-stage-codegen'd, the scale path;
  *   - [[simulate]]: an arbitrary Scala function fed a sequential [[StepRng]] —
  *     the flexibility path, executed via `Dataset.mapPartitions`.
  * For models that draw exactly the same uniforms in the same order, the two
  * tiers produce identical traces (asserted in ModelTierSpec).
  *
  * The reference's arity-dispatch hole (`starting_point` without `parameters`
  * silently yields an empty trace, `parallel_simulations.py:80-95`) does not
  * exist here: all four optional combinations are well-defined.
  */
trait MCModel extends Serializable {
  def name: String

  /** Column-tier generator. `seed`/`modelId`/`simId` are the RNG counters;
    * returns an `array<string>` trace. Starting-point semantics are
    * MODEL-DEFINED (matching the reference's model-callable contract, where
    * the callable receives `starting_point` and does what it likes):
    * [[CoinSequence]] prepends it verbatim (length
    * `numberPoints + startingPoint.size`, demo notebook cells 29-33);
    * [[RandomWalk]] and [[GeometricBrownianMotion]] consume
    * `startingPoint(0)` as the origin / S₀ and emit `numberPoints` values.
    * Each model documents its own width behavior. `family` selects the
    * uniform backend (default: the SQL-oracle-expressible counter hash;
    * [[RngFamily.Philox]]: real Philox-4x32-10) — models that draw through
    * [[Rngs.uniform]] honor it automatically.
    */
  def traceCol(numberPoints: Int, parameters: Seq[Double], startingPoint: Seq[String],
               seed: Column, modelId: Column, simId: Column,
               family: RngFamily = RngFamily.PCG64): Column

  /** Typed-tier generator (the reference's model contract, Scala-ified). */
  def simulate(numberPoints: Int, rng: StepRng, parameters: Seq[Double],
               startingPoint: Seq[String]): Seq[String]

  protected def prepend(start: Seq[String], gen: Column): Column =
    if (start.isEmpty) gen else concat(array(start.map(lit): _*), gen)
}

/** Bernoulli H/T sequence — the reference's demo model
  * (`demos/demo_coin_sequences.ipynb` cell-14/cell-27): point `t` is 'H' iff
  * uniform(t) < bias, bias = parameters(0) (default 0.5). One uniform per point.
  */
object CoinSequence extends MCModel {
  val name = "coin_sequence"

  def traceCol(n: Int, params: Seq[Double], start: Seq[String],
               seed: Column, modelId: Column, simId: Column,
               family: RngFamily = RngFamily.PCG64): Column = {
    // native loop (core.NativeTrace) — one kernel call per row instead of
    // an interpreted per-point lambda; same values
    NativeTrace.column(seed, modelId, simId,
      TraceKernel.Coin(n, params.headOption.getOrElse(0.5), start, family.id))
  }

  def simulate(n: Int, rng: StepRng, params: Seq[Double], start: Seq[String]): Seq[String] = {
    val bias = params.headOption.getOrElse(0.5)
    start ++ Seq.fill(n)(if (rng.nextUniform() < bias) "H" else "T")
  }
}

/** Integer random walk: position(t) = start + Σ_{i<=t} ±1, P(+1) = bias.
  * Values are exact integers formatted as strings (so the DuckDB oracle
  * reproduces them bit-for-bit). Column tier: one cumulative loop per trace
  * ([[TraceKernel.Walk]]).
  */
object RandomWalk extends MCModel {
  val name = "random_walk"

  def traceCol(n: Int, params: Seq[Double], start: Seq[String],
               seed: Column, modelId: Column, simId: Column,
               family: RngFamily = RngFamily.PCG64): Column = {
    // native cumulative loop (core.NativeTrace); the composable form
    // needed an O(n²) prefix-sum fold per trace
    NativeTrace.column(seed, modelId, simId, TraceKernel.Walk(n,
      params.headOption.getOrElse(0.5), start.headOption.map(_.toLong).getOrElse(0L), family.id))
  }

  def simulate(n: Int, rng: StepRng, params: Seq[Double], start: Seq[String]): Seq[String] = {
    val bias = params.headOption.getOrElse(0.5)
    var pos = start.headOption.map(_.toLong).getOrElse(0L)
    (0 until n).map { _ =>
      pos += (if (rng.nextUniform() < bias) 1L else -1L)
      pos.toString
    }
  }
}

/** Geometric Brownian motion (the README's foreseen stock-price use case,
  * `README.md` "stock prices"): S_t = S_0 · exp(Σ_{i<=t} ((μ−σ²/2)Δt + σ√Δt·Z_i)),
  * Z from Box-Muller over uniform pairs (2t, 2t+1). parameters = [μ, σ, Δt];
  * startingPoint(0) = S_0 (default 100). No DuckDB oracle (libm `cos`/`log`
  * may differ in final ulp across engines); validated statistically instead.
  */
object GeometricBrownianMotion extends MCModel {
  val name = "gbm"

  private def p(params: Seq[Double]): (Double, Double, Double) = (
    params.lift(0).getOrElse(0.05), params.lift(1).getOrElse(0.2), params.lift(2).getOrElse(1.0 / 252))

  def traceCol(n: Int, params: Seq[Double], start: Seq[String],
               seed: Column, modelId: Column, simId: Column,
               family: RngFamily = RngFamily.PCG64): Column = {
    // native cumulative log-space loop (core.NativeTrace) — the composable
    // transform/aggregate form re-folded the whole prefix per point: O(n²)
    // uniform draws in interpreted lambdas. Same values.
    val (mu, sigma, dt) = p(params)
    val s0 = start.headOption.map(_.toDouble).getOrElse(100.0)
    NativeTrace.column(seed, modelId, simId, TraceKernel.Gbm(n,
      (mu - sigma * sigma / 2.0) * dt, sigma * math.sqrt(dt), s0, family.id))
  }

  def simulate(n: Int, rng: StepRng, params: Seq[Double], start: Seq[String]): Seq[String] = {
    val (mu, sigma, dt) = p(params)
    val s0 = start.headOption.map(_.toDouble).getOrElse(100.0)
    val drift = (mu - sigma * sigma / 2.0) * dt
    val vol = sigma * math.sqrt(dt)
    // accumulate in LOG space exactly like the Column tier
    // (s0·exp(Σ increments)) — iterating s *= exp(inc) differs in the low
    // bits because exp(a+b) ≠ exp(a)·exp(b) in IEEE-754, which would break
    // the cross-tier identical-traces invariant
    var acc = 0.0
    (0 until n).map { _ =>
      acc += drift + vol * rng.nextGaussian()
      (s0 * math.exp(acc)).toString
    }
  }
}

/** Registry keyed by model name — replaces the reference's "pass callables
  * positionally" API with named registration; users add models with
  * [[ModelRegistry.register]].
  */
object ModelRegistry {
  @volatile private var models: Map[String, MCModel] =
    Seq(CoinSequence, RandomWalk, GeometricBrownianMotion).map(m => m.name -> m).toMap

  def register(m: MCModel): Unit = synchronized { models += (m.name -> m) }
  def apply(name: String): MCModel = models.getOrElse(name,
    throw new IllegalArgumentException(
      s"Unknown model '$name'; registered: ${models.keys.toSeq.sorted.mkString(", ")}"))
  def names: Set[String] = models.keySet
}
