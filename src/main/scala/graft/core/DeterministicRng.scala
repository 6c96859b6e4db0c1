package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge

/** Counter-based deterministic uniform generator.
  *
  * Replaces the reference's NumPy bit-generator RNGs
  * (`parallel_simulations/parallel_simulations.py:121-130` maps names to
  * `np.random.{PCG64,Philox,SFC64,MT19937}`) with a *counter-based* design in
  * the spirit of Philox (Salmon et al., "Parallel Random Numbers: As Easy as
  * 1, 2, 3", SC'11): the value at `(seed, model, sim, step)` is a pure hash of
  * the counter, so any worker can generate any point of any trace without
  * shared state — the property that makes Monte Carlo generation
  * embarrassingly parallel on a 1000-executor cluster.
  *
  * The mix is a Lehmer-style multiply-mod chain over the Mersenne prime
  * M = 2^31-1 with the "minimal standard" multiplier A = 48271, interleaved
  * with modular squarings for nonlinearity (plain Lehmer chains are affine in
  * the counter, which would correlate adjacent steps). Every intermediate
  * value stays below 2^62, so the mix has exactly two implementations:
  *   - plain Scala ([[hash]]/[[uniform]], the reference implementation), and
  *   - DuckDB BIGINT SQL text ([[hashSql]]/[[uniformSql]]) — which is what
  *     lets even the random simulation output be oracle-checked
  *     bit-for-bit: the final division `h / 2147483647.0` is a single
  *     correctly-rounded IEEE-754 operation, identical across engines.
  * The Spark forms — [[uniformCol]] and the `graft_uniform` SQL function —
  * are [[RngUniform]] at family CounterHash, whose generated code calls
  * the Scala one.
  *
  * This generator is the engine-native [[RngFamily.CounterHash]] family;
  * the reference's four NumPy family names route per [[RngFamily]] (PCG64
  * and Philox to real KAT-verified backends, SFC64/MT19937 to salted
  * streams of this hash).
  */
object DeterministicRng {
  /** Modulus: the Mersenne prime 2^31 - 1. */
  val M: Long = 2147483647L
  /** Multiplier: Park-Miller "minimal standard" (Lehmer) constant. */
  val A: Long = 48271L

  @inline private def nn(x: Long): Long = { val r = x % M; if (r < 0) r + M else r }

  /** Scala reference implementation. Returns a double in [0, 1).
    *
    * Quality caveat (documented, accepted): the modular squarings are 2→1
    * maps over the field, so pairwise counter collisions occur at ~2/M per
    * squaring round instead of the ideal 1/M, and the output support is a
    * subset of [0, M). Immaterial for Monte Carlo estimation at these scales
    * (validated statistically in RngSpec/RngPropertiesSpec) and the price of
    * a mix that stays inside 63-bit SQL arithmetic; swap in a 64-bit
    * counter hash (e.g. xxhash64-based) if cryptographic-grade uniformity
    * ever matters more than oracle expressibility.
    */
  def uniform(seed: Long, model: Long, sim: Long, step: Long): Double =
    hash(seed, model, sim, step).toDouble / M

  /** The integer mix underlying [[uniform]]; value in [0, M). */
  def hash(seed: Long, model: Long, sim: Long, step: Long): Long = {
    var h = nn(seed)
    h = (h * A + nn(model) + 1L) % M
    h = (h * h) % M
    h = (h * A + nn(sim) + 1L) % M
    h = (h * h) % M
    h = (h * A + nn(step) + 1L) % M
    h = (h * h) % M
    h = (h * A + 1L) % M // finalization round: without it, adjacent steps
    h = (h * h) % M      // show lag-1 autocorrelation ~0.09 (RngSpec)
    h = (h * A) % M
    h
  }

  /** Spark Column form: [[RngUniform]] at family CounterHash — one
    * generated-code call into [[hash]] per row, no UDF. Each counter is
    * cast to bigint.
    */
  def uniformCol(seed: Column, model: Column, sim: Column, step: Column): Column = {
    def l(c: Column) = Bridge.expression(c.cast("long"))
    Bridge.column(RngUniform(l(seed), l(model), l(sim), l(step), RngFamily.CounterHash.id))
  }

  /** The identical chain as SQL text (DuckDB-compatible; plain ANSI
    * arithmetic). Callers pass SQL expressions for the four counters; they
    * must evaluate to non-negative BIGINTs.
    */
  def uniformSql(seed: String, model: String, sim: String, step: String): String =
    s"(${hashSql(seed, model, sim, step)}) / 2147483647.0"

  def hashSql(seed: String, model: String, sim: String, step: String): String = {
    def mix(h: String, add: String): String = {
      val lin = s"(($h) * 48271 + ((CAST($add AS BIGINT)) % 2147483647) + 1) % 2147483647"
      s"((($lin) * (($lin))) % 2147483647)"
    }
    // NB: SQL has no let-binding outside CTEs, so the linear term is textually
    // duplicated inside each squaring; the oracle only runs on small counts.
    // The BIGINT casts matter: without them DuckDB evaluates the chain in
    // INT32 and the squarings overflow.
    var h = s"((CAST($seed AS BIGINT)) % 2147483647)"
    h = mix(h, model)
    h = mix(h, sim)
    h = mix(h, step)
    h = mix(h, "0") // finalization round (matches hash())
    s"((($h) * 48271) % 2147483647)"
  }
}

/** Sequential view of one RNG stream at a fixed (seed, model, sim) —
  * what the trace kernels and [[StepRng]] actually consume: a trace row
  * draws its uniforms in step order inside one kernel invocation, so the
  * engine only needs STATELESS access ACROSS streams (that is what keeps
  * generation shuffle-free), never within one.
  */
trait UniformStream { def next(): Double }

/** Static per-family dispatch — shared by the native trace kernels
  * ([[TraceKernel]]), [[StepRng]] and anything else that draws.
  * `familyId` is [[RngFamily.id]]. Unknown ids FAIL — a silent
  * fallthrough to a default backend would hand a future mis-wired family
  * plausible-looking draws from the wrong generator.
  *
  * [[stream]] is the primary entry point. For the counter-based families
  * (CounterHash, Philox, PCG64) the stream's draw k equals
  * `uniform(familyId, …, step = k)` — point access is O(1) (PCG64 via
  * LCG jump-ahead). The sequential families (SFC64, MT19937 — real
  * KAT-verified backends with no jump-ahead, see [[Sfc64]]/[[Mt19937]])
  * only exist as streams; their point-access [[uniform]] honestly costs
  * O(step) by drawing forward from the stream head, and refuses a
  * negative step (there is no draw before the head).
  */
object Rngs {
  def uniform(familyId: Int, seed: Long, model: Long, sim: Long, step: Long): Double =
    if ((familyId & RngFamily.AntiBit) != 0)
      1.0 - uniform(familyId & ~RngFamily.AntiBit, seed, model, sim, step)
    else familyId match {
      case 0 => DeterministicRng.uniform(seed, model, sim, step) // CounterHash
      case 1 => Philox.uniform(seed, model, sim, step)
      case 4 => Pcg64.uniform(seed, model, sim, step)
      case 2 | 3 => // sequential designs: skip-ahead by iteration, O(step)
        require(step >= 0, s"${if (familyId == 2) "SFC64" else "MT19937"} draws " +
          s"forward from its stream head: step must be >= 0, got $step")
        val s = stream(familyId, seed, model, sim)
        var k = 0L
        while (k < step) { s.next(); k += 1 }
        s.next()
      case other => throw new IllegalArgumentException(
        s"unknown RNG familyId $other; known: ${RngFamily.all.map(f => s"${f.id}=${f.name}").mkString(", ")}")
    }

  def stream(familyId: Int, seed: Long, model: Long, sim: Long): UniformStream =
    if ((familyId & RngFamily.AntiBit) != 0) {
      val inner = stream(familyId & ~RngFamily.AntiBit, seed, model, sim)
      new UniformStream { def next(): Double = 1.0 - inner.next() }
    } else familyId match {
      case 0 => new UniformStream {
        private var step = 0L
        def next(): Double = {
          val u = DeterministicRng.uniform(seed, model, sim, step); step += 1; u
        }
      }
      case 1 => new UniformStream {
        private var step = 0L
        def next(): Double = {
          val u = Philox.uniform(seed, model, sim, step); step += 1; u
        }
      }
      case 2 => new UniformStream {
        private val g = Sfc64.stream(seed, model, sim)
        def next(): Double = g.nextDouble()
      }
      case 3 => new UniformStream {
        private val g = Mt19937.stream(seed, model, sim)
        def next(): Double = g.nextDouble()
      }
      case 4 => new UniformStream {
        // sequential PCG64: one seeding, one LCG step per draw — same
        // values as uniform(4, …, k) (PcgSpec pins the equivalence), far
        // cheaper than a jump-ahead per step
        private val g = Pcg64.seeded(seed, model, 0L, sim)
        def next(): Double = g.nextDouble()
      }
      case other => throw new IllegalArgumentException(
        s"unknown RNG familyId $other; known: ${RngFamily.all.map(f => s"${f.id}=${f.name}").mkString(", ")}")
    }
}

/** The reference's RNG-family enum (`models.py:17-33`, default PCG64),
  * plus the engine-native `CounterHash` family. All four NumPy names route
  * to real KAT-verified backends (Philox modulo the 4x32-vs-4x64 variant
  * noted below):
  *
  *   - `PCG64` (the reference's DEFAULT): [[Pcg64]],
  *     pcg_setseq_128_xsl_rr_64 — verified against the published demo
  *     vectors and NumPy's C implementation; stateless point access via
  *     LCG jump-ahead;
  *   - `Philox`: [[Philox]]-4x32-10 per Random123 — natively
  *     counter-based. NOTE: NumPy's `np.random.Philox` ships the 4x64-10
  *     variant, so this family is KAT-faithful to Random123, not
  *     bit-compatible with NumPy (see the caveat in Philox.scala);
  *   - `SFC64`: [[Sfc64]] — verified against NumPy by raw-state injection;
  *   - `MT19937`: [[Mt19937]] — verified against the published
  *     default-seed vectors and CPython's MT by state injection.
  *
  * SFC64 and MT19937 are sequential designs with no jump-ahead, so they
  * run as per-(seed, model, sim) streams ([[Rngs.stream]]) — independent
  * across simulations (generation stays shuffle-free), consumed in step
  * order within a trace; their per-point [[Rngs.uniform]] costs O(step).
  * The family salts remain folded into battery seeds so equal user seeds
  * still give decorrelated streams across families.
  *
  * `CounterHash` is the engine's own family: the SQL-expressible counter
  * hash ([[DeterministicRng]]), bit-reproducible in DuckDB via
  * [[DeterministicRng.uniformSql]] — which is what gives even Monte Carlo
  * output a full value-level oracle. The gate's sim queries pin it
  * explicitly; its stream is identical to what the pre-round-3 PCG64
  * substitute produced (salt 0), so golden traces carry over unchanged.
  */
sealed abstract class RngFamily(val name: String, val salt: Long, val id: Int)
object RngFamily {
  case object PCG64       extends RngFamily("PCG64",   0L, 4)
  case object Philox      extends RngFamily("Philox",  1000000007L, 1)
  case object SFC64       extends RngFamily("SFC64",   998244353L, 2)
  case object MT19937     extends RngFamily("MT19937", 754974721L, 3)
  case object CounterHash extends RngFamily("CounterHash", 0L, 0)

  /** Antithetic-variates flag bit carried INSIDE the family id: a wrapped
    * family draws the COMPLEMENT stream u' = 1 − u of its inner family at
    * the same (seed, model, sim, step) counters. Because the flag rides
    * the id (decoded once in [[Rngs.uniform]]/[[Rngs.stream]]) and the
    * salt is the inner family's, every kernel, model, SQL function and
    * tier supports antithetic pairing with ZERO signature changes, and
    * the twin trace is guaranteed to share its primary's seeds.
    * u' ∈ (0, 1]: the coin/walk comparisons and the Box-Muller log guard
    * all tolerate the closed upper end.
    */
  val AntiBit: Int = 0x100
  final case class Antithetic(inner: RngFamily)
      extends RngFamily(s"Antithetic(${inner.name})", inner.salt,
        inner.id | AntiBit) {
    require((inner.id & AntiBit) == 0,
      "RngFamily.Antithetic: cannot wrap an already-antithetic family")
  }

  val all: Seq[RngFamily] = Seq(PCG64, Philox, SFC64, MT19937, CounterHash)

  /** Name lookup with the reference's default; unknown names fail fast
    * (the reference logs-and-swallows a KeyError at
    * `parallel_simulations.py:131-132` — documented deviation, SURVEY §2.1).
    */
  def fromName(name: Option[String]): RngFamily = name match {
    case None => PCG64
    case Some(n) =>
      all.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"Unknown RNG family '$n'; supported: ${all.map(_.name).mkString(", ")}"))
  }
}

/** Sequential-draw view over one RNG stream, for the typed (arbitrary
  * Scala model function) tier: models that want a classic
  * `rng.nextUniform()` stream get one, deterministically derived from
  * `(seed, model, sim)`. Thin facade over [[Rngs.stream]] — the SAME
  * streams the Column tier's native kernels draw, preserving the
  * cross-tier identical-trace invariant for every family.
  */
final class StepRng(seed: Long, model: Long, sim: Long,
    family: RngFamily = RngFamily.PCG64) {
  private val s = Rngs.stream(family.id, seed, model, sim)
  def nextUniform(): Double = s.next()
  /** Box-Muller standard normal (consumes two uniforms). */
  def nextGaussian(): Double = {
    val u1 = math.max(nextUniform(), 1e-300) // guard log(0)
    val u2 = nextUniform()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}
