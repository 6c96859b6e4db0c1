package graft.core

/** One model's simulation request — the engine's unit of work.
  *
  * Mirrors the reference's validated config surface
  * (`parallel_simulations/models.py:39-61`: `number_simulations >= 1`,
  * `number_points >= 1`, optional `parameters` / `starting_point`) plus the
  * per-model seed (`utils.py:8-12`) and output path defaulting
  * (`parallel_simulations.py:176-179`). pydantic validation becomes
  * constructor `require(...)` — and unlike the reference (which discards the
  * validated model and returns the raw dict,
  * `parallel_simulations.py:147-170`), the validated object IS the value used.
  */
final case class SimulationSpec(
    modelId: Int,
    modelName: String,
    numberSimulations: Long,
    numberPoints: Int,
    parameters: Seq[Double] = Nil,
    startingPoint: Seq[String] = Nil,
    seed: Long = 0L,
    outputPath: Option[String] = None) {
  require(numberSimulations >= 1, s"number_simulations must be >= 1, got $numberSimulations")
  require(numberPoints >= 1, s"number_points must be >= 1, got $numberPoints")
  // the reference types starting_point as List[str] (models.py); a null
  // element has no CSV form and no array<string> slot
  require(!startingPoint.contains(null),
    s"starting_point elements must be non-null, got null at index ${startingPoint.indexOf(null)}")
  // seed = 0 is the "auto" sentinel: MCBattery assigns one (from masterSeed
  // when set, else fresh random, matching the reference's unseeded draws).
  // Pass any seed >= 1 for an explicit reproducible stream.
  require(seed >= 0, s"seed must be non-negative (0 = auto-assign), got $seed")

  /** Reference default naming: `./{i}.txt` by model position
    * (`parallel_simulations.py:176-179`). Kept per-call — the reference's
    * class-attribute output-path caching (`:40-46`) is deliberately NOT
    * reproduced (SURVEY §2.1 O9).
    */
  def resolvedOutputPath: String = outputPath.getOrElse(s"./$modelId.txt")
}
