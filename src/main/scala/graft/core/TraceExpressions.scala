package graft.core

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Coalesce, ConcatWs, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One model's native trace loop: its constants plus a `trace`/`line`
  * pair that builds the whole row. `trace(seed, model, sim)` returns the
  * points as an `array<string>`; `line(seed, model, sim)` returns exactly
  * the bytes of `concat_ws(',', trace(seed, model, sim))`, the CSV line the
  * text sinks write, without building the array. Both consume the same
  * draws in the same order.
  *
  * Each kernel opens ONE [[Rngs.stream]] per trace row and consumes draws
  * in step order — for the counter-based families this yields exactly the
  * draws `Rngs.uniform(familyId, …, step)` would (the stream is a step
  * counter over the same function), and it is what lets the sequential
  * SFC64/MT19937 backends run at full fidelity: the whole trace is
  * generated inside one kernel invocation, so no cross-step stateless
  * access is ever needed.
  */
sealed trait TraceKernel extends Serializable {
  def points: Int
  def trace(seed: Long, model: Long, sim: Long): ArrayData
  def line(seed: Long, model: Long, sim: Long): UTF8String
}

object TraceKernel {
  private val H = UTF8String.fromString("H")
  private val T = UTF8String.fromString("T")

  /** Coin flips after a verbatim prefix: 'H' iff the draw < bias. The line
    * is one exactly-sized byte array: the prefix elements, each followed
    * by a comma, then one `H`/`T` byte per point with commas between.
    */
  final case class Coin(points: Int, bias: Double, prefix: Seq[String], familyId: Int)
      extends TraceKernel {
    @transient private lazy val prefixArr: Array[UTF8String] =
      prefix.map(UTF8String.fromString).toArray
    @transient private lazy val prefixLine: Array[Byte] =
      prefix.map(_ + ",").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    def trace(seed: Long, model: Long, sim: Long): ArrayData = {
      val pre = prefixArr
      val out = new Array[Any](pre.length + points)
      System.arraycopy(pre, 0, out, 0, pre.length)
      val rs = Rngs.stream(familyId, seed, model, sim)
      var step = 0
      while (step < points) {
        out(pre.length + step) = if (rs.next() < bias) H else T
        step += 1
      }
      new GenericArrayData(out)
    }

    def line(seed: Long, model: Long, sim: Long): UTF8String = {
      val pre = prefixLine
      val out = new Array[Byte](pre.length + 2 * points - 1)
      System.arraycopy(pre, 0, out, 0, pre.length)
      val rs = Rngs.stream(familyId, seed, model, sim)
      var i = pre.length
      while (i < out.length) {
        out(i) = if (rs.next() < bias) 'H'.toByte else 'T'.toByte
        if (i + 1 < out.length) out(i + 1) = ','.toByte
        i += 2
      }
      UTF8String.fromBytes(out)
    }
  }

  /** Kernels whose points are numbers: one loop renders the points as
    * strings, and both `trace` and `line` are built from it.
    */
  sealed trait NumericKernel extends TraceKernel {
    protected def values(seed: Long, model: Long, sim: Long): Array[String]

    def trace(seed: Long, model: Long, sim: Long): ArrayData =
      new GenericArrayData(values(seed, model, sim).map[Any](UTF8String.fromString))

    def line(seed: Long, model: Long, sim: Long): UTF8String =
      UTF8String.fromString(String.join(",", values(seed, model, sim): _*))
  }

  /** Random-walk positions in one cumulative loop (vs the O(n²) prefix-sum
    * fold of the composable form). Long.toString matches Spark's
    * long→string cast, so values are unchanged.
    */
  final case class Walk(points: Int, bias: Double, origin: Long, familyId: Int)
      extends NumericKernel {
    protected def values(seed: Long, model: Long, sim: Long): Array[String] = {
      val out = new Array[String](points)
      val rs = Rngs.stream(familyId, seed, model, sim)
      var pos = origin
      var step = 0
      while (step < points) {
        pos += (if (rs.next() < bias) 1L else -1L)
        out(step) = java.lang.Long.toString(pos)
        step += 1
      }
      out
    }
  }

  /** GBM prices in one cumulative LOG-SPACE loop: acc += drift + vol·Z_t,
    * point t = S₀·exp(acc), Z from Box-Muller over stream draws (2t, 2t+1)
    * — the exact evaluation order of the typed tier
    * ([[graft.core.GeometricBrownianMotion.simulate]]). Double.toString
    * matches Spark's double→string cast, so traces are bit-identical across
    * tiers (ModelTierSpec).
    */
  final case class Gbm(points: Int, drift: Double, vol: Double, s0: Double, familyId: Int)
      extends NumericKernel {
    protected def values(seed: Long, model: Long, sim: Long): Array[String] = {
      val out = new Array[String](points)
      val rs = Rngs.stream(familyId, seed, model, sim)
      var acc = 0.0
      var t = 0
      while (t < points) {
        val u1 = math.max(rs.next(), 1e-300)
        val u2 = rs.next()
        val z = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
        acc += drift + vol * z
        out(t) = java.lang.Double.toString(s0 * math.exp(acc))
        t += 1
      }
      out
    }
  }
}

/** One [[TraceKernel]] call per row, inside whole-stage codegen.
  * Interpreted eval and generated code run the same kernel method (codegen
  * reaches it through a reference object), so the two paths cannot drift
  * apart.
  */
sealed abstract class KernelCall extends TernaryExpression {
  def seed: Expression
  def model: Expression
  def sim: Expression
  def kernel: TraceKernel
  /** The kernel method this expression calls: `trace` or `line`. */
  protected def method: String
  protected def call(seed: Long, model: Long, sim: Long): Any

  override def first: Expression = seed
  override def second: Expression = model
  override def third: Expression = sim

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(seed, model, sim).forall(_.dataType == LongType) && kernel.points >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "native trace expects (bigint, bigint, bigint) counters, points >= 1")

  override protected def nullSafeEval(s: Any, m: Any, si: Any): Any =
    call(s.asInstanceOf[Long], m.asInstanceOf[Long], si.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("kernel", kernel, kernel.getClass.getName)
    nullSafeCodeGen(ctx, ev, (s, m, si) => s"${ev.value} = $k.$method($s, $m, $si);")
  }
}

/** Native trace generator: the `array<string>` of one row's points.
  * Replaces the composable `transform(sequence(...), ...)` forms, whose
  * lambdas were interpreted per point; values are identical, so the DuckDB
  * trace oracle is unchanged (sim_coin_traces in the correctness gate).
  */
case class NativeTrace(seed: Expression, model: Expression, sim: Expression,
    kernel: TraceKernel) extends KernelCall {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  protected def method: String = "trace"
  protected def call(s: Long, m: Long, si: Long): Any = kernel.trace(s, m, si)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(seed = newFirst, model = newSecond, sim = newThird)
}

object NativeTrace {
  /** Column form over any counter columns (cast to bigint). */
  def column(seed: Column, model: Column, sim: Column, kernel: TraceKernel): Column =
    Bridge.column(NativeTrace(Bridge.expression(seed.cast("long")),
      Bridge.expression(model.cast("long")), Bridge.expression(sim.cast("long")), kernel))
}

/** Native CSV line: the row's points joined with commas, straight from
  * [[TraceKernel.line]] — equal to `concat_ws(',', NativeTrace(...))` with
  * the same arguments, without the array. Planted by [[NativeTraceLines]].
  */
case class NativeTraceLine(seed: Expression, model: Expression, sim: Expression,
    kernel: TraceKernel) extends KernelCall {

  override def dataType: DataType = StringType
  protected def method: String = "line"
  protected def call(s: Long, m: Long, si: Long): Any = kernel.line(s, m, si)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(seed = newFirst, model = newSecond, sim = newThird)
}

/** Optimizer rule: a consumer that only wants the CSV line gets it from
  * the kernel. Rewrites `concat_ws(',', NativeTrace(...))` and
  * `concat_ws(',', CASE WHEN … THEN NativeTrace(...) … END)` — the shape
  * [[MCBattery.simulate]] leaves once `CollapseProject` has inlined the
  * trace column into the sink's projection — into the same shape over
  * [[NativeTraceLine]]. `concat_ws` returns `''` for a NULL array, so an
  * unmatched CASE gets `ELSE ''` and a nullable call is coalesced to `''`.
  * Any other shape is left alone: another separator, a CASE with an `ELSE`
  * or a branch that is not a NativeTrace, or a trace column that is also
  * used elsewhere (and so was not inlined). With or without the rule the
  * output is the same.
  *
  * [[MCBattery]] installs it on its session ([[install]]); sessions that
  * load [[graft.GraftExtensions]] get it from there too.
  */
object NativeTraceLines extends Rule[LogicalPlan] {
  private val Comma = UTF8String.fromString(",")

  def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case c @ ConcatWs(Seq(Literal(Comma, StringType), array)) => lineOf(array).getOrElse(c)
  }

  private def lineOf(array: Expression): Option[Expression] = array match {
    case t: NativeTrace => Some(line(t))
    case CaseWhen(branches, None) if branches.forall(_._2.isInstanceOf[NativeTrace]) =>
      Some(CaseWhen(branches.map { case (cond, t: NativeTrace) => cond -> line(t) },
        Some(Literal(""))))
    case _ => None
  }

  private def line(t: NativeTrace): Expression = {
    val l = NativeTraceLine(t.seed, t.model, t.sim, t.kernel)
    if (t.nullable) Coalesce(Seq(l, Literal(""))) else l
  }

  /** Adds the rule to the session's extra optimizations once. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraOptimizations.contains(this)) x.extraOptimizations ++= Seq(this)
    }
  }
}

/** Native per-family uniform draw — the SQL-surface form of
  * [[Rngs.uniform]]: any registered family's generator callable from
  * plain SQL at a (seed, model, sim, step) counter, inside whole-stage
  * codegen (the generated code is one static call). Registered as
  * `graft_rng_uniform(family, seed, model, sim, step)` by
  * [[graft.GraftExtensions]]. Families PCG64/Philox/CounterHash draw in
  * O(1); the sequential SFC64/MT19937 backends cost O(step) per call
  * (documented on [[Rngs]]) — use them through the battery/stream tiers
  * for bulk generation.
  */
case class RngUniform(seed: Expression, model: Expression, sim: Expression,
    step: Expression, familyId: Int)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = seed
  override def second: Expression = model
  override def third: Expression = sim
  override def fourth: Expression = step

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(seed, model, sim, step).forall(_.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "rng_uniform expects (bigint, bigint, bigint, bigint) counters")

  override protected def nullSafeEval(s: Any, m: Any, si: Any, st: Any): Any =
    Rngs.uniform(familyId, s.asInstanceOf[Long], m.asInstanceOf[Long],
      si.asInstanceOf[Long], st.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, m, si, st) =>
      s"${ev.value} = graft.core.Rngs.uniform($familyId, $s, $m, $si, $st);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(seed = newFirst, model = newSecond, sim = newThird, step = newFourth)
}
