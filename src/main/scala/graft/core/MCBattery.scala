package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine core — Spark-native successor of the reference's
  * `ParallelMCBattery` (`parallel_simulations/parallel_simulations.py:14-109`).
  *
  * Deliberate design differences from the reference (SURVEY §3.4):
  *   - instance state, not class attributes (the reference stores
  *     `rng_generator` / `pipeline_options` / cached `output_paths` as
  *     class-level globals shared across batteries, `:25-31,40-46`);
  *   - one output row per *simulation*, never a per-model in-memory battery
  *     (the reference buffers `number_simulations × number_points` points in a
  *     Python list before its sink, `:75-98`);
  *   - parallelism is independent of the model count: the reference's max
  *     concurrency equals the number of models (one Beam element per model,
  *     `:50-57`); here the work is a single `spark.range(0, Σ sims)` split
  *     evenly over all partitions — shuffle-free, and scales to any cluster
  *     size because the counter-based RNG needs no shared state;
  *   - optional `masterSeed` for full-run reproducibility (the reference draws
  *     fresh unseeded seeds per call, `utils.py:8-12`; omit `masterSeed` to
  *     match that behavior).
  *
  * @param rng        RNG family (reference enum, default PCG64 — `models.py:25`)
  * @param masterSeed when set, per-model seeds derive deterministically;
  *                   when None, fresh random seeds per simulate() call
  */
final class MCBattery(
    spark: SparkSession,
    rng: RngFamily = RngFamily.PCG64,
    masterSeed: Option[Long] = None) {

  // sinks that only want CSV lines get them from the kernel (the rule
  // rewrites only the plans it matches; see NativeTraceLines)
  NativeTraceLines.install(spark)

  /** Column-tier simulate: the scale path.
    * Returns `DataFrame(model_id INT, sim_id BIGINT, trace ARRAY<STRING>)` —
    * the long-format shape all downstream analytics build on (SURVEY §1.3).
    *
    * Physical plan: Range → Project(whole-stage codegen) — zero shuffles,
    * zero driver-side loops; would execute identically on a 1000-executor
    * cluster with the Range split across executors.
    */
  def simulate(specs: Seq[SimulationSpec], numPartitions: Option[Int] = None): DataFrame = {
    require(specs.nonEmpty, "at least one simulation spec required")
    simulateResolved(resolveSeeds(specs), numPartitions, rng)
  }

  /** Antithetic-variates battery: every simulation is emitted TWICE —
    * the primary trace and its antithetic twin drawn from the complement
    * stream u' = 1 − u at the SAME (seed, model, sim, step) counters
    * (classic MC variance reduction: for a monotone payoff the pair's
    * estimates are negatively correlated, so the paired-mean estimator's
    * variance drops below the 2N-independent-path one at equal cost).
    * Output adds `variant` ('p' | 'a') to the simulate() schema; pair
    * (model_id, sim_id) across variants to form the paired estimator.
    *
    * Seeds are resolved ONCE and shared by both passes — with unseeded
    * (reference-style fresh-random) batteries the twin would otherwise
    * draw unrelated seeds and the pairing would silently be noise. The
    * plan stays a shuffle-free union of two codegen'd Range→Project
    * passes; the anti pass costs exactly one extra subtraction per draw.
    */
  def simulateAntithetic(specs: Seq[SimulationSpec],
      numPartitions: Option[Int] = None): DataFrame = {
    require(specs.nonEmpty, "at least one simulation spec required")
    val rs = resolveSeeds(specs)
    simulateResolved(rs, numPartitions, rng).withColumn("variant", lit("p"))
      .unionAll(simulateResolved(rs, numPartitions, RngFamily.Antithetic(rng))
        .withColumn("variant", lit("a")))
      .select(col("model_id"), col("sim_id"), col("variant"), col("trace"))
  }

  private def simulateResolved(rs: Seq[SimulationSpec],
      numPartitions: Option[Int], family: RngFamily): DataFrame = {
    val (base, offsets) = rows(rs, numPartitions)
    val id = col("id")

    // Global row id -> (model, sim) via a CASE chain over cumulative offsets;
    // stays a single codegen'd Project (specs are few by construction).
    def chain(value: Int => Column): Column =
      rs.indices.tail.foldLeft(when(id < offsets(1), value(0))) { (acc, i) =>
        acc.when(id < offsets(i + 1), value(i))
      }
    val modelCol = chain(i => lit(rs(i).modelId))
    val simCol = chain(i => id - lit(offsets(i)))
    val traceCol = chain { i =>
      val s = rs(i)
      ModelRegistry(s.modelName).traceCol(
        s.numberPoints, s.parameters, s.startingPoint,
        lit(s.seed), lit(s.modelId.toLong), id - lit(offsets(i)), family)
    }
    base.select(
      modelCol.cast("int").as("model_id"),
      simCol.cast("long").as("sim_id"),
      traceCol.as("trace"))
  }

  /** Typed-tier simulate: arbitrary Scala model functions via the reference's
    * positional contract. Same output schema and same RNG streams as the
    * Column tier (for models drawing the same uniforms in the same order).
    */
  def simulateTyped(specs: Seq[SimulationSpec], numPartitions: Option[Int] = None): DataFrame = {
    import spark.implicits._
    require(specs.nonEmpty, "at least one simulation spec required")
    val rs = resolveSeeds(specs)
    val (base, offsets) = rows(rs, numPartitions)
    val offs = offsets.toArray // small, like specArr; serialized into the task closure
    val specArr = rs.toArray
    // Resolve models ON THE DRIVER and ship the instances in the closure:
    // executor JVMs have a fresh ModelRegistry without any driver-side
    // register() calls, so a name lookup inside mapPartitions would fail on
    // a real cluster (and only accidentally work in local mode).
    val modelArr: Array[MCModel] = rs.map(s => ModelRegistry(s.modelName)).toArray
    // local copy: referencing the `rng` field inside mapPartitions would
    // capture `this` (and its SparkSession) in the task closure
    val rngFamily = rng

    base.as[Long]
      .mapPartitions { ids =>
        ids.map { gid =>
          val i = {
            var k = 0; while (gid >= offs(k + 1)) k += 1; k
          }
          val s = specArr(i)
          val sim = gid - offs(i)
          val stepRng = new StepRng(s.seed, s.modelId.toLong, sim, rngFamily)
          // Models return the full trace (starting point included when their
          // semantics prepend it, e.g. CoinSequence) — no double-prepend here.
          val trace = modelArr(i)
            .simulate(s.numberPoints, stepRng, s.parameters, s.startingPoint)
          (s.modelId, sim, trace)
        }
      }
      .toDF("model_id", "sim_id", "trace")
  }

  /** The battery's row layout, shared by both tiers: one row per
    * simulation, global ids `0 until Σ sims` split evenly over the
    * partitions, plus the cumulative per-spec offsets (length specs + 1)
    * that map a global id back to (spec, sim).
    */
  private def rows(rs: Seq[SimulationSpec],
      numPartitions: Option[Int]): (org.apache.spark.sql.Dataset[java.lang.Long], Seq[Long]) = {
    val offsets = rs.map(_.numberSimulations).scanLeft(0L)(_ + _)
    val total = offsets.last
    val parts = numPartitions.getOrElse(math.max(spark.sparkContext.defaultParallelism, 1))
    (spark.range(0, total, 1, math.min(parts.toLong, total).toInt), offsets)
  }

  /** Per-model effective seeds: an explicit spec seed (>= 1; 0 is the
    * documented auto sentinel) wins; else derived from the master seed by
    * counter hashing (split-stream style); else fresh random (the
    * reference's behavior, `utils.py:8-12`). The RNG family salt is folded
    * in so different families give decorrelated streams.
    */
  private def resolveSeeds(specs: Seq[SimulationSpec]): Seq[SimulationSpec] =
    specs.zipWithIndex.map { case (s, i) =>
      val base =
        if (s.seed != 0L) s.seed
        else masterSeed match {
          case Some(ms) => DeterministicRng.hash(ms, i.toLong, 0L, 0L)
          case None => math.abs(scala.util.Random.nextLong() % DeterministicRng.M) + 1L
        }
      s.copy(seed = (base % DeterministicRng.M) + rng.salt)
    }
}

object MCBattery {
  /** Exploded long format for trace analytics (SURVEY §1.3):
    * `(model_id, sim_id, step INT, value STRING)`.
    */
  def explodeTraces(traces: DataFrame): DataFrame =
    traces.select(col("model_id"), col("sim_id"),
      posexplode(col("trace")).as(Seq("step", "value")))
}
