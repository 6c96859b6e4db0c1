package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType
import graft.core.{NativeTrace, NativeTraceLines, RngFamily, RngUniform, TraceKernel}
import graft.functions.{DotProduct, Md5Int60, WordShingles}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get them too, and
  * the [[graft.core.NativeTraceLines]] optimizer rule:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * spark.sql("SELECT graft_dot_product(a.embedding, b.embedding) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    def arity(name: String, n: Int, args: Seq[Expression]): Unit =
      if (args.length != n)
        throw new IllegalArgumentException(s"$name expects $n arguments, got ${args.length}")
    def long(e: Expression): Expression = Cast(e, LongType)
    e.injectOptimizerRule(_ => NativeTraceLines)
    e.injectFunction((FunctionIdentifier("graft_dot_product"),
      info("graft_dot_product", "_FUNC_(a, b) - dot product of two float/double arrays"),
      (args: Seq[Expression]) => { arity("graft_dot_product", 2, args); DotProduct(args(0), args(1)) }))
    e.injectFunction((FunctionIdentifier("graft_md5int60"),
      info("graft_md5int60", "_FUNC_(s) - top 60 bits of md5(s) as bigint"),
      (args: Seq[Expression]) => { arity("graft_md5int60", 1, args); Md5Int60(args(0)) }))
    e.injectFunction((FunctionIdentifier("graft_word_shingles"),
      info("graft_word_shingles", "_FUNC_(s, n) - distinct n-word shingles"),
      (args: Seq[Expression]) => {
        if (args.length != 2)
          throw new IllegalArgumentException(
            s"graft_word_shingles(text, n) expects 2 arguments, got ${args.length}")
        if (!args(1).foldable)
          throw new IllegalArgumentException(
            "graft_word_shingles: n must be a literal integer")
        val n = args(1).eval() match {
          case i: java.lang.Integer => i.intValue()
          case l: java.lang.Long => l.intValue()
          case s: java.lang.Short => s.intValue()
          case other => throw new IllegalArgumentException(
            s"graft_word_shingles: n must be an integer literal, got $other")
        }
        WordShingles(args(0), n)
      }))
    e.injectFunction((FunctionIdentifier("graft_lsh_signatures"),
      info("graft_lsh_signatures",
        "_FUNC_(v, seed, tables, bits, dim) - array of all random-hyperplane " +
          "LSH table signatures for one embedding (plane matrix derived from " +
          "the counter RNG, held as a reference object, never in the tree)"),
      (args: Seq[Expression]) => {
        arity("graft_lsh_signatures", 5, args)
        def lit(i: Int, name: String): Long = {
          require(args(i).foldable, s"graft_lsh_signatures: $name must be a literal")
          args(i).eval() match {
            case x: java.lang.Integer => x.longValue()
            case x: java.lang.Long => x.longValue()
            case other => throw new IllegalArgumentException(
              s"graft_lsh_signatures: $name must be an integer literal, got $other")
          }
        }
        graft.functions.LshSignatures(args(0), lit(1, "seed"),
          lit(2, "tables").toInt, lit(3, "bits").toInt, lit(4, "dim").toInt)
      }))
    // simulation surface for SQL users (SURVEY §2.2 UDF tier b):
    // the counter RNG and the coin generator as plain SQL functions
    e.injectFunction((FunctionIdentifier("graft_uniform"),
      info("graft_uniform", "_FUNC_(seed, model, sim, step) - deterministic counter-based uniform in [0,1)"),
      (args: Seq[Expression]) => {
        require(args.length == 4, s"graft_uniform expects 4 arguments, got ${args.length}")
        RngUniform(long(args(0)), long(args(1)), long(args(2)), long(args(3)),
          RngFamily.CounterHash.id)
      }))
    // every RNG family (4 real NumPy backends + CounterHash) from SQL; the
    // family name must be a literal so the dispatch constant-folds into the
    // generated code
    e.injectFunction((FunctionIdentifier("graft_rng_uniform"),
      info("graft_rng_uniform",
        "_FUNC_(family, seed, model, sim, step) - uniform in [0,1) from the " +
          "named RNG family (PCG64/Philox/SFC64/MT19937/CounterHash); " +
          "SFC64/MT19937 cost O(step) per draw"),
      (args: Seq[Expression]) => {
        require(args.length == 5, s"graft_rng_uniform expects 5 arguments, got ${args.length}")
        require(args.head.foldable, "graft_rng_uniform: family must be a string literal")
        val family = RngFamily.fromName(Option(args.head.eval()).map(_.toString))
        RngUniform(long(args(1)), long(args(2)), long(args(3)), long(args(4)), family.id)
      }))
    e.injectFunction((FunctionIdentifier("graft_coin_trace"),
      info("graft_coin_trace", "_FUNC_(seed, model, sim, points, bias) - H/T trace array"),
      (args: Seq[Expression]) => {
        require(args.length == 5, s"graft_coin_trace expects 5 arguments, got ${args.length}")
        require(args(3).foldable && args(4).foldable,
          "graft_coin_trace: points and bias must be literals")
        val points = args(3).eval() match {
          case i: java.lang.Integer => i.intValue(); case l: java.lang.Long => l.intValue()
          case other => throw new IllegalArgumentException(s"points must be integer, got $other")
        }
        val bias = args(4).eval() match {
          case d: java.lang.Double => d.doubleValue()
          case d: java.math.BigDecimal => d.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case i: java.lang.Integer => i.doubleValue()
          case other => throw new IllegalArgumentException(s"bias must be numeric, got $other")
        }
        NativeTrace(long(args(0)), long(args(1)), long(args(2)),
          TraceKernel.Coin(points, bias, Nil, RngFamily.CounterHash.id))
      }))
    // write-side layout from SQL: the same bit-interleave LayoutOps.zorder16
    // plans (pure integer arithmetic, whole-stage codegen'd via the
    // built-in shift/and/add expressions)
    e.injectFunction((FunctionIdentifier("graft_zorder16"),
      info("graft_zorder16",
        "_FUNC_(x, y) - 32-bit Z-order (bit-interleave) of the low 16 bits " +
          "of two integer columns; ORDER BY it before writing for " +
          "multi-dimensional min/max file pruning"),
      (args: Seq[Expression]) => {
        arity("graft_zorder16", 2, args)
        import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Literal, ShiftLeft, ShiftRight}
        val (x, y) = (long(args(0)), long(args(1)))
        (0 until 16).map { b =>
          Add(
            ShiftLeft(BitwiseAnd(ShiftRight(x, Literal(b)), Literal(1L)), Literal(2 * b)),
            ShiftLeft(BitwiseAnd(ShiftRight(y, Literal(b)), Literal(1L)), Literal(2 * b + 1)))
        }.reduce[Expression](Add(_, _))
      }))
  }
}
