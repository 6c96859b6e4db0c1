package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint checks (the Deequ/Great-Expectations
  * surface a training-data pipeline runs before a corpus is allowed into a
  * mixture): completeness, key uniqueness, referential integrity, value
  * ranges, accepted-value domains. Each suite run emits one row per check —
  * `(check_id, check_type, table_name, target, violations, total, passed)` —
  * the machine-readable gate a scheduler can assert on.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - All ROW-LEVEL checks on one table (not-null, in-range,
  *     accepted-values) share a SINGLE scan: they compile to one
  *     conditional-sum aggregate over the table, partial (map-side)
  *     aggregation reducing each partition to one row before the 1-row
  *     exchange. k row-level checks cost one pass, not k.
  *   - [[Check.UniqueKey]] is one shuffle on the key (count per key, then a
  *     1-row re-agg of the bounded per-key counts).
  *   - [[Check.FkIntegrity]] joins the child against the parent's DISTINCT
  *     key projection (1 column) — Catalyst/AQE broadcasts dim-sized
  *     parents; a fact-sized parent degrades to a shuffle on the key where
  *     only (key) pairs move, never payload columns.
  *   - Every branch ends in a 1-row aggregate, so the union that stitches
  *     the report together moves O(checks) rows total.
  *
  * Null discipline (documented, asserted in AuditOpsSpec): `InRange` and
  * `AcceptedValues` do NOT count nulls as violations, and `FkIntegrity`
  * skips null foreign keys — completeness is exclusively [[Check.NotNull]]'s
  * job, so a single root cause (a null column) fires exactly one check.
  */
object AuditOps {

  /** One declarative constraint; see [[AuditOps.dataQualityReport]]. */
  sealed trait Check {
    /** Stable id — also the report's sort key. */
    def id: String
    def table: String
  }
  object Check {
    /** `column` must never be null in `table`. */
    final case class NotNull(table: String, column: String) extends Check {
      val id = s"nn_${table}_$column"
    }
    /** `columns` form a unique key of `table`; violations = surplus rows
      * (total minus distinct key count). A null key value counts as one
      * key (Spark groupBy semantics — engines that drop nulls from
      * COUNT(DISTINCT) diverge on null-keyed rows; pair with [[NotNull]]
      * on the key columns, which is also what a real schema requires). */
    final case class UniqueKey(table: String, columns: Seq[String]) extends Check {
      require(columns.nonEmpty, s"UniqueKey($table) needs at least one column")
      val id = s"uk_${table}_${columns.mkString("_")}"
    }
    /** Every non-null `childCol` value must exist in `parentTable.parentCol`;
      * violations = orphan child rows. */
    final case class FkIntegrity(table: String, childCol: String,
        parentTable: String, parentCol: String) extends Check {
      val id = s"fk_${table}_${childCol}"
    }
    /** Non-null `column` values must satisfy `lo <= v <= hi` (bounds as
      * canonical string literals so the same check text runs in any
      * engine); violations = out-of-range rows. */
    final case class InRange(table: String, column: String, lo: String, hi: String)
        extends Check {
      val id = s"rng_${table}_$column"
    }
    /** Non-null `column` values must be one of `values`; violations = rows
      * outside the domain. */
    final case class AcceptedValues(table: String, column: String, values: Seq[String])
        extends Check {
      require(values.nonEmpty, s"AcceptedValues($table.$column) needs a non-empty domain")
      val id = s"av_${table}_$column"
    }
    /** `table` must hold between `lo` and `hi` rows (a delivery-size
      * sanity gate); violations = how many rows short of `lo` or past
      * `hi`. Rides the table's shared-scan aggregate for free (it only
      * reads the count every fused block already computes). */
    final case class RowCountBetween(table: String, lo: Long, hi: Long) extends Check {
      require(0 <= lo && lo <= hi, s"RowCountBetween($table) needs 0 <= lo <= hi")
      val id = s"rc_$table"
    }
  }
  import Check._

  /** Row-level violation predicate of a check evaluated against the columns
    * of `df` (the check's table name is not consulted). This is the single
    * definition shared by the batch report and the streaming twin
    * ([[graft.streaming.StreamOps.dqViolationsStream]]) — same predicate,
    * same null discipline, incremental execution. Keyed checks (unique key,
    * FK) have no row-local form and are rejected here.
    */
  def violationOf(df: DataFrame, c: Check): Column = c match {
    case NotNull(_, col0) => col(col0).isNull
    case InRange(_, col0, lo, hi) =>
      col(col0).isNotNull &&
        !(col(col0) >= lit(lo).cast(df.schema(col0).dataType) &&
          col(col0) <= lit(hi).cast(df.schema(col0).dataType))
    case AcceptedValues(_, col0, vals) =>
      col(col0).isNotNull && !col(col0).cast("string").isin(vals: _*)
    case other => throw new IllegalArgumentException(
      s"check ${other.id} is not row-level (unique/FK checks need the full key space)")
  }

  private def report(c: Check, target: String, violations: Column, total: Column,
      tpe: String): Seq[Column] = Seq(
    lit(c.id).as("check_id"), lit(tpe).as("check_type"),
    lit(c.table).as("table_name"), lit(target).as("target"),
    violations.cast("long").as("violations"), total.cast("long").as("total"),
    (violations === 0).cast("long").as("passed"))

  /** Run a constraint suite against named tables; one result row per check,
    * ordered by `check_id`. Row-level checks per table are fused into one
    * shared-scan aggregate (see object Scaladoc for the full scale shape).
    */
  def dataQualityReport(tables: Map[String, DataFrame], checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "dataQualityReport needs at least one check")
    val ids = checks.map(_.id)
    require(ids.distinct.size == ids.size,
      s"duplicate check ids: ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    checks.foreach { c =>
      require(tables.contains(c.table), s"check ${c.id}: unknown table '${c.table}'")
      c match {
        case fk: FkIntegrity => require(tables.contains(fk.parentTable),
          s"check ${fk.id}: unknown parent table '${fk.parentTable}'")
        case _ => ()
      }
    }

    // Row/table-level checks grouped per table -> ONE conditional-sum agg
    // per table (k checks, one scan). The k result rows are EXPLODED from
    // the single fused agg row — NOT unioned per-check selects, which
    // column pruning would split back into k independent aggregates each
    // with its own scan (found by the r7-ADVICE physical-plan pin: the
    // old union shape really did scan once per check). RowCountBetween
    // contributes no agg of its own — it reads the count every fused
    // block already computes.
    val rowLevel: Seq[DataFrame] = checks.collect {
      case c @ (_: NotNull | _: InRange | _: AcceptedValues | _: RowCountBetween) => c
    }.groupBy(_.table).toSeq.map { case (tname, cs) =>
      val df = tables(tname)
      val aggs = cs.flatMap {
        case _: RowCountBetween => Nil
        case c => Seq(sum(when(violationOf(df, c), 1).otherwise(0)).as(s"v_${c.id}"))
      } :+ count(lit(1)).as("v_total")
      val one = df.agg(aggs.head, aggs.tail: _*)
      val rows = cs.map {
        case c @ RowCountBetween(_, lo, hi) =>
          struct(report(c, s"[$lo,$hi]",
            greatest(lit(lo) - col("v_total"), col("v_total") - lit(hi), lit(0)),
            col("v_total"), "row_count"): _*)
        case c =>
          val (tgt, tpe) = c match {
            case NotNull(_, col0) => (col0, "not_null")
            case InRange(_, col0, _, _) => (col0, "in_range")
            case AcceptedValues(_, col0, _) => (col0, "accepted_values")
            case other => throw new MatchError(other)
          }
          struct(report(c, tgt, coalesce(col(s"v_${c.id}"), lit(0)),
            col("v_total"), tpe): _*)
      }
      one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
    }

    val keyed: Seq[DataFrame] = checks.collect {
      case c @ UniqueKey(tname, cols) =>
        // one shuffle on the key; the re-agg input is one row per key
        val perKey = tables(tname).groupBy(cols.map(col): _*).agg(count(lit(1)).as("cnt"))
        perKey.agg(sum(col("cnt")).as("t"), count(lit(1)).as("d"))
          .select(report(c, cols.mkString(","), coalesce(col("t") - col("d"), lit(0)),
            coalesce(col("t"), lit(0)), "unique_key"): _*)
      case c @ FkIntegrity(tname, childCol, ptable, pcol) =>
        // child (non-null fk) LEFT JOIN distinct parent keys: one pass over
        // the child, the 1-column parent side broadcast when dim-sized;
        // violations and total come out of the same aggregate.
        val parentKeys = tables(ptable).select(col(pcol).as("__pk")).distinct()
        val joined = tables(tname).filter(col(childCol).isNotNull)
          .select(col(childCol))
          .join(parentKeys, col(childCol) === col("__pk"), "left")
        joined.agg(
          sum(when(col("__pk").isNull, 1).otherwise(0)).as("v"),
          count(lit(1)).as("t"))
          .select(report(c, s"$childCol->$ptable.$pcol",
            coalesce(col("v"), lit(0)), col("t"), "fk_integrity"): _*)
    }

    // no trailing sort: gate bindings order by check_id for the oracle hash
    // (library discipline — ops never plan a determinism-only global sort)
    (rowLevel ++ keyed).reduce(_.unionByName(_))
  }

  /** Robust (median/MAD) outlier report — the detect sibling of
    * [[outlierReport]] for skewed or already-contaminated columns, where
    * mean/stddev are dragged by the very outliers being hunted: flag rows
    * with `|x − median| > k · MAD` (MAD = median of absolute deviations).
    * Both medians are EXACT sketch-then-refine percentiles
    * ([[SketchOps.exactQuantileRefine]] — counters locate the target bins,
    * one pruned pass ranks them), broadcast back as two-number-per-group
    * model state; the flag comparison is `|x−med| > k·mad`, three IEEE
    * ops identical in any engine. Integer `k` (k=3 ≈ 2·sigma on normal
    * data via the 1.4826 MAD-to-sigma factor — callers wanting the exact
    * sigma calibration scale their cutoff upstream).
    *
    * Scale shape: two quantile refinements (each: one counter agg + one
    * pruned ranking pass) + one broadcast-join scan for the flags — five
    * scan-bound passes total, no data-sized shuffle anywhere.
    */
  def robustOutlierReport(df: DataFrame, valCol: Column, groupCol: String,
      k: Int = 3, binWidth: Long = 1024L, bins: Int = 1024): DataFrame = {
    require(k >= 1, s"robustOutlierReport needs k >= 1, got $k")
    val med = SketchOps.exactQuantileRefine(df, valCol, groupCol, binWidth, bins, Seq(500))
      .select(col(groupCol).as("g"), col("exact_value").as("med"))
    val base = df.filter(valCol.isNotNull)
      .select(col(groupCol).as("g"), valCol.cast("double").as("v"))
    val dev = base.join(broadcast(med), Seq("g"))
      .withColumn("ad", abs(col("v") - col("med")))
    val mad = SketchOps.exactQuantileRefine(dev, col("ad"), "g", binWidth, bins, Seq(500))
      .select(col("g"), col("exact_value").as("mad"))
    dev.join(broadcast(mad), Seq("g"))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(col("ad") > lit(k) * col("mad"), 1).otherwise(0))
          .cast("long").as("n_flagged"))
      .withColumnRenamed("g", groupCol)
  }

  /** Exact tie-corrected binary AUC (Mann–Whitney U) of a score against a
    * boolean label — the ranking-quality audit run before trusting a
    * quality/toxicity/contamination classifier's scores for filtering.
    * Computed WITHOUT per-row ranking: scores collapse to DISTINCT values
    * first (one hash aggregation carrying `cnt` and `pos` per value), the
    * tie-averaged rank sum follows from a cumulative window over those
    * groups — `Σ pos_g·(2·cum_g + cnt_g + 1) = 2·Σ avgrank(positives)` —
    * and AUC = (that − P·(P+1)) / (2·P·N). Every term is an exact integer;
    * the single final division is the only floating-point op, so the
    * result is bit-identical in any engine.
    *
    * Scale shape: the data pass is one map-side-combined aggregation to
    * ≤|distinct scores| rows; the cumulative count then runs BANDED
    * (r8, after VERDICT r7 flagged the original global `Window.orderBy(s)`
    * — one task sorting every distinct score once scores are continuous):
    * distinct scores are bucketed into ≤4097 range bands by a monotone
    * map `floor((s − lo)/((hi − lo)/4096))` (banding is an execution
    * detail — ANY monotone bucketing composes the same exact integer
    * prefix sums, so the band boundaries' FP has no output effect), the
    * across-band prefix comes from a broadcast join over the ≤4097-row
    * band-total table (bounded; no unpartitioned WindowExec anywhere in
    * the plan — PlanSpec pins this), and the within-band window
    * partitions by band. Pathologically concentrated scores (most mass
    * inside one 1/4096th of the range) degrade toward a single band —
    * [[aucReportBy]] remains the shape to prefer when a grouping key
    * exists. AUC is NULL when either class is empty.
    */
  def aucReport(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val g = df.filter(scoreCol.isNotNull)
      .select(scoreCol.as("s"), when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    // adaptive monotone banding over the observed score range (1-row
    // scalar crossJoin — the q6 pattern); hi == lo (or a single distinct
    // score) collapses to band 0
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val banded = g.crossJoin(broadcast(mm))
      .withColumn("band", when(col("hi") > col("lo"),
          floor((col("s") - col("lo")) /
            ((col("hi") - col("lo")) / lit(4096.0))))
        .otherwise(lit(0L)))
      .drop("lo", "hi")
    val bandTot = banded.groupBy("band").agg(sum(col("cnt")).as("bcnt"))
    // across-band exclusive prefix: bounded ≤4097×4097 broadcast
    // theta-join instead of an unpartitioned window
    val pref = bandTot.select(col("band"), col("bcnt"))
      .join(broadcast(bandTot.select(col("band").as("pb"), col("bcnt").as("pcnt"))),
        col("pb") < col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("pcnt")), lit(0L)).as("bpre"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ranked = banded.join(broadcast(pref), Seq("band"))
      .withColumn("cum",
        col("bpre") + coalesce(sum(col("cnt")).over(w), lit(0L)))
    // decimal(38,0) keeps the rank sum exact out to ~1e18-row inputs; the
    // ONLY floating-point op is the final num/denom division of two
    // correctly-rounded exact integers — engine-identical
    ranked.agg(
      sum(col("cnt")).cast(dec).as("n"),
      sum(col("pos")).cast(dec).as("p"),
      sum(col("pos").cast(dec) *
        (lit(2) * col("cum") + col("cnt") + lit(1)).cast(dec)).as("s2x"))
      .select(col("n").cast("long").as("n"),
        col("p").cast("long").as("n_pos"),
        (col("n") - col("p")).cast("long").as("n_neg"),
        when(col("p") > 0 && col("n") - col("p") > 0,
          (col("s2x") - col("p") * (col("p") + lit(1))).cast("double") /
            (lit(2).cast(dec) * col("p") * (col("n") - col("p"))).cast("double"))
          .as("auc"))
  }

  /** Per-group [[aucReport]] — the data-card form (one AUC row per source/
    * domain/shard). Same distinct-score-group construction, but the
    * cumulative window partitions by the group key, so groups rank in
    * parallel and no global single-partition window exists — this is also
    * the shape to prefer at extreme score cardinality.
    */
  def aucReportBy(df: DataFrame, scoreCol: Column, labelCol: Column,
      groupCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.aucReportBy", groupCol)
    aucFromScoreCounts(
      df.filter(scoreCol.isNotNull)
        .select(col(groupCol).as("grp"), scoreCol.as("s"),
          when(labelCol, 1L).otherwise(0L).as("y"))
        .groupBy("grp", "s")
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos")))
  }

  /** [[aucReportBy]]'s arithmetic over a caller-built
    * `(grp, s, cnt, pos)` per-score count table — the [[dataCard]]
    * composition seam: the card feeds auc / calibration / threshold /
    * gains the SAME score-counts DataFrame, so exchange reuse computes
    * the per-(group, score) corpus reduction once for the quartet.
    */
  def aucFromScoreCounts(g: DataFrame): DataFrame = {
    OpContract.requireCols(g, "AuditOps.aucFromScoreCounts",
      "grp", "s", "cnt", "pos")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cum", coalesce(sum(col("cnt")).over(w), lit(0L)))
    ranked.groupBy("grp").agg(
      sum(col("cnt")).cast(dec).as("n"),
      sum(col("pos")).cast(dec).as("p"),
      sum(col("pos").cast(dec) *
        (lit(2) * col("cum") + col("cnt") + lit(1)).cast(dec)).as("s2x"))
      .select(col("grp"),
        col("n").cast("long").as("n"),
        col("p").cast("long").as("n_pos"),
        (col("n") - col("p")).cast("long").as("n_neg"),
        when(col("p") > 0 && col("n") - col("p") > 0,
          (col("s2x") - col("p") * (col("p") + lit(1))).cast("double") /
            (lit(2).cast(dec) * col("p") * (col("n") - col("p"))).cast("double"))
          .as("auc"))
  }

  /** Winsorization — the TREAT step after [[outlierReport]]'s detect: clip
    * each group's values into its exact `[loPermille, hiPermille]`
    * percentiles (quantile_cont definition, computed by
    * [[SketchOps.exactQuantileRefine]]'s sketch-then-refine: counters
    * locate the target bins, ONE pruned pass ranks only those bins) and
    * report per group the clip counts and the exact decimal sum of the
    * winsorized column. The clip itself is a broadcast join of two
    * cutoffs per group over one scan — no data shuffle beyond the cutoff
    * computation's own counter aggregation.
    *
    * FP discipline: cutoffs are the engine-exact interpolated percentiles
    * (q34 parity), comparisons are raw double compares, and the sum casts
    * each clipped double to DECIMAL(28,6) (one correctly-rounded op per
    * row) before the order-independent decimal accumulation.
    */
  def winsorize(df: DataFrame, valCol: Column, groupCol: String,
      loPermille: Int, hiPermille: Int,
      binWidth: Long = 1024L, bins: Int = 1024): DataFrame = {
    require(0 <= loPermille && loPermille < hiPermille && hiPermille <= 1000,
      s"need 0 <= lo < hi <= 1000 permille, got ($loPermille, $hiPermille)")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)
    val cuts = SketchOps.exactQuantileRefine(df, valCol, groupCol, binWidth, bins,
        Seq(loPermille, hiPermille))
      .groupBy(groupCol)
      .agg(
        min(when(col("q") === lit(loPermille / 1000.0), col("exact_value"))).as("lo_cut"),
        max(when(col("q") === lit(hiPermille / 1000.0), col("exact_value"))).as("hi_cut"))
      .withColumnRenamed(groupCol, "g")
    val base = df.filter(valCol.isNotNull)
      .select(col(groupCol).as("g"), valCol.cast("double").as("v"))
    base.join(broadcast(cuts), Seq("g"))
      .withColumn("w", least(greatest(col("v"), col("lo_cut")), col("hi_cut")))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v") < col("lo_cut"), 1).otherwise(0)).cast("long").as("n_clip_lo"),
        sum(when(col("v") > col("hi_cut"), 1).otherwise(0)).cast("long").as("n_clip_hi"),
        min(col("lo_cut")).as("lo_cut"), min(col("hi_cut")).as("hi_cut"),
        sum(col("w").cast(dec)).cast("double").as("win_sum"))
      .withColumnRenamed("g", groupCol)
  }

  /** Classifier CALIBRATION report (reliability diagram + ECE) — the
    * audit run before trusting a quality/toxicity classifier's scores as
    * sampling weights: scores in [0, 1] bucket into `bins` equal-width
    * confidence bins; each bin reports its empirical positive rate
    * against the bin midpoint, and every row carries the overall expected
    * calibration error ECE = Σ_i n_i·|pos_i/n_i − mid_i| / N.
    *
    * FP discipline: ZERO data-dependent rounding. The bin index is
    * floor(score·bins) (one IEEE multiply + floor — identical in any
    * engine); the ECE rewrites to |2B·pos_i − n_i·(2i+1)| summed over
    * bins — EXACT integers carried as DECIMAL(38,0) — divided once by
    * 2B·N; acc = pos/n and mid = (2i+1)/2B are single exact-integer
    * divisions. Bit-stable cross-engine while the integer operands stay
    * below 2⁵³ (beyond that, decimal→double casts may differ in the last
    * ulp between engines — at 2⁵³ ECE numerators that is ~450 T rows).
    *
    * Scale shape: ONE map-side-combined aggregation to ≤bins rows; the
    * totals ride a 1-row broadcast crossJoin (the q6 pattern).
    */
  def calibrationReport(df: DataFrame, scoreCol: Column, labelCol: Column,
      bins: Int = 10): DataFrame =
    calibrationReportBy(oneGroup(df), scoreCol, labelCol, OneGroup, bins).drop("grp")

  /** Per-group [[calibrationReport]] — the data-card form (one reliability
    * diagram + ECE per source/domain/shard), completing the per-group
    * audit panel next to [[aucReportBy]]/[[ksReportBy]]: a classifier can
    * be well-calibrated in aggregate while badly mis-calibrated on one
    * source, which is exactly the source whose sampling weights it will
    * distort. NULL group keys are dropped (not a data-card row); NULL
    * labels count as negatives (family convention). Output per (grp,
    * bin): `(grp, bin, conf_mid, n, n_pos, acc, ece)` with `ece` the
    * GROUP's expected calibration error on every row of that group.
    *
    * Same FP discipline as the global form (exact integer ECE numerators
    * in DECIMAL(38,0), single divisions). Scale shape: one map-side-
    * combined aggregation to ≤|groups|·bins rows, then a ≤|groups|-row
    * broadcast join for the per-group totals — data-card group counts
    * (sources/domains) are bounded; nothing data-sized past the first
    * aggregation.
    */
  def calibrationReportBy(df: DataFrame, scoreCol: Column, labelCol: Column,
      groupCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationReportBy needs bins >= 2, got $bins")
    OpContract.requireCols(df, "AuditOps.calibrationReportBy", groupCol)
    calibrationFromBinCounts(
      df.filter(scoreCol.isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).as("grp"),
          greatest(least(floor(scoreCol * bins).cast("long"), lit(bins - 1L)),
            lit(0L)).as("bin"),
          when(labelCol, 1L).otherwise(0L).as("y"))
        .groupBy("grp", "bin")
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos")),
      bins)
  }

  /** [[calibrationReportBy]] over a caller-built `(grp, s, cnt, pos)`
    * per-score count table — the [[dataCard]] composition seam (see
    * [[aucFromScoreCounts]]): bins are re-derived from the DISTINCT
    * scores (the bin map is a pure function of the score, so summing
    * per-score counts into bins is exactly the per-row aggregation).
    */
  def calibrationFromScoreCounts(g: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"calibrationFromScoreCounts needs bins >= 2, got $bins")
    OpContract.requireCols(g, "AuditOps.calibrationFromScoreCounts",
      "grp", "s", "cnt", "pos")
    calibrationFromBinCounts(
      g.select(col("grp"),
        greatest(least(floor(col("s") * bins).cast("long"), lit(bins - 1L)),
          lit(0L)).as("bin"),
        col("cnt"), col("pos"))
        .groupBy("grp", "bin")
        .agg(sum(col("cnt")).as("n"), sum(col("pos")).as("n_pos")),
      bins)
  }

  private def calibrationFromBinCounts(g: DataFrame, bins: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val tot = g.groupBy("grp").agg(
      sum(col("n")).cast(dec).as("nn"),
      sum(abs(lit(2L * bins).cast(dec) * col("n_pos") -
        col("n").cast(dec) * (lit(2) * col("bin") + 1))).as("ece_num"))
    g.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("bin"),
        ((lit(2) * col("bin") + 1).cast("double") / lit(2.0 * bins)).as("conf_mid"),
        col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("acc"),
        (col("ece_num").cast("double") /
          (lit(2L * bins).cast(dec) * col("nn")).cast("double")).as("ece"))
  }

  /** Categorical DRIFT report between two corpus snapshots — the audit a
    * recurring crawl refresh runs next to [[graft.operators.DedupOps.snapshotDiff]]:
    * per category of `catCol`, both snapshots' counts and rates, the
    * two-sample chi-square contribution, and (on every row) the total
    * variation distance TVD = ½ Σ_c |o_c/N_o − n_c/N_n| between the two
    * categorical distributions — the number a mixture rebalance
    * thresholds on.
    *
    * FP discipline: counts are exact; TVD rewrites to
    * Σ|o_c·N_n − n_c·N_o| / (2·N_o·N_n) — an exact DECIMAL(38,0)
    * integer numerator and ONE division; rates are single exact-integer
    * divisions; the chi-square contribution
    * (N·o − N_o·c)²/(N·N_o·c) + (N·n − N_n·c)²/(N·N_n·c) (c = o+n,
    * N = N_o+N_n) is two exact-integer quotients added in a fixed order.
    * Bit-stable cross-engine while operands stay below 2⁵³ (the
    * chi-square squares cap that at ~corpus 3e8 per side; past it the
    * verdict is still numerically right, just not bit-pinned — scope the
    * oracle claim accordingly).
    *
    * Scale shape: one count aggregation per snapshot (map-side combined
    * to ≤|categories| rows), a full-outer join and two 1-row broadcast
    * crossJoins over the category table — nothing data-sized past the
    * first aggregations.
    */
  def categoricalDrift(oldDf: DataFrame, newDf: DataFrame, catCol: String): DataFrame =
    categoricalDriftBy(oneGroup(oldDf), oneGroup(newDf), catCol, OneGroup).drop("grp")

  /** Per-group [[categoricalDrift]] — the data-card form (one drift panel
    * per source/domain/shard), completing the per-group family next to
    * [[aucReportBy]]/[[ksReportBy]]/[[gainsReportBy]]: global drift can
    * hide one source whose category mix shifted against a stable rest.
    * Same full-outer per-category count join and exact cross-multiplied
    * arithmetic, with every aggregation keyed by (group, category) and
    * the per-group totals/TVD numerators riding ≤\|groups\|-row broadcast
    * joins. NULL group or category keys are dropped (family convention).
    * Output: `(grp, cat, o_cnt, n_cnt, o_rate, n_rate, chi2_contrib,
    * tvd)` — `tvd` is the GROUP's total variation distance, repeated on
    * its rows (the categoricalDrift convention).
    */
  def categoricalDriftBy(oldDf: DataFrame, newDf: DataFrame, catCol: String,
      groupCol: String): DataFrame = {
    OpContract.requireCols(oldDf, "AuditOps.categoricalDriftBy old", catCol, groupCol)
    OpContract.requireCols(newDf, "AuditOps.categoricalDriftBy new", catCol, groupCol)
    def counts(df: DataFrame) =
      df.filter(col(catCol).isNotNull && col(groupCol).isNotNull)
        .groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
        .agg(count(lit(1)).as("cnt"))
    categoricalDriftFromCounts(counts(oldDf), counts(newDf))
  }

  /** [[categoricalDriftBy]]'s arithmetic over caller-built `(grp, cat,
    * cnt)` count tables — the [[dataCard]] composition seam: the card
    * feeds tvd / psi / mix / independence the SAME counts DataFrame, so
    * exchange reuse (`spark.sql.exchange.reuse`) computes the corpus
    * reduction once per side instead of once per panel.
    */
  def categoricalDriftFromCounts(oCounts: DataFrame,
      nCounts: DataFrame): DataFrame = {
    OpContract.requireCols(oCounts, "AuditOps.categoricalDriftFromCounts old",
      "grp", "cat", "cnt")
    OpContract.requireCols(nCounts, "AuditOps.categoricalDriftFromCounts new",
      "grp", "cat", "cnt")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val j = oCounts.select(col("grp"), col("cat"), col("cnt").as("o_cnt"))
      .join(nCounts.select(col("grp"), col("cat"), col("cnt").as("n_cnt")),
        Seq("grp", "cat"), "full_outer")
      .select(col("grp"), col("cat"),
        coalesce(col("o_cnt"), lit(0L)).cast(dec).as("o_cnt"),
        coalesce(col("n_cnt"), lit(0L)).cast(dec).as("n_cnt"))
    val totals = j.groupBy("grp")
      .agg(sum(col("o_cnt")).as("no"), sum(col("n_cnt")).as("nn"))
    val withT = j.join(broadcast(totals), Seq("grp"))
    val tvdNum = withT.groupBy("grp")
      .agg(sum(abs(col("o_cnt") * col("nn") - col("n_cnt") * col("no"))).as("tvd_num"))
    val c = col("o_cnt") + col("n_cnt")
    val bigN = col("no") + col("nn")
    def sq(x: Column) = x * x
    withT.join(broadcast(tvdNum), Seq("grp"))
      .select(col("grp"), col("cat"),
        col("o_cnt").cast("long").as("o_cnt"),
        col("n_cnt").cast("long").as("n_cnt"),
        when(col("no") > 0,
          col("o_cnt").cast("double") / col("no").cast("double")).as("o_rate"),
        when(col("nn") > 0,
          col("n_cnt").cast("double") / col("nn").cast("double")).as("n_rate"),
        when(col("no") > 0 && col("nn") > 0 && c > 0,
          sq(bigN * col("o_cnt") - col("no") * c).cast("double") /
              (bigN * col("no") * c).cast("double") +
            sq(bigN * col("n_cnt") - col("nn") * c).cast("double") /
              (bigN * col("nn") * c).cast("double")).as("chi2_contrib"),
        when(col("no") > 0 && col("nn") > 0,
          col("tvd_num").cast("double") /
            (lit(2).cast(dec) * col("no") * col("nn")).cast("double")).as("tvd"))
      .orderBy("grp", "cat")
  }

  /** Population Stability Index between two corpus snapshots — the
    * industry-standard drift score next to [[categoricalDrift]]'s
    * TVD/chi² (credit-risk monitoring convention: PSI < 0.1 stable,
    * 0.1–0.25 drifting, > 0.25 shifted): per category,
    * psi_term = (p_c − q_c)·ln(p_c/q_c) with p = old rate, q = new rate,
    * and every row carries the total PSI.
    *
    * FP discipline (the tokenEntropy log rule — libm touches only
    * integers, once): ln(p_c/q_c) rewrites to ln(o_c·Nn) − ln(n_c·No) —
    * each a `ln(integer)` rounded ONCE to 7 decimals into DECIMAL(12,7);
    * the term numerator (o_c·Nn − n_c·No)·(L₁ − L₂) and its sum are then
    * EXACT decimal arithmetic, divided ONCE by No·Nn per emitted value.
    * Categories absent from either snapshot have an undefined log-ratio:
    * their `psi_term` is NULL and they are EXCLUDED from the total
    * (documented convention; the standard epsilon hack trades one
    * arbitrary constant for another and breaks exactness).
    *
    * Scale shape: identical to [[categoricalDrift]] — one map-side-
    * combined count per snapshot to ≤\|categories\| rows, a full-outer
    * join, 1-row broadcast totals. Nothing data-sized past the counts.
    */
  def psiReport(oldDf: DataFrame, newDf: DataFrame, catCol: String): DataFrame =
    psiReportBy(oneGroup(oldDf), oneGroup(newDf), catCol, OneGroup).drop("grp")

  /** The global count-table reports are their per-group forms over one
    * constant group: the arithmetic lives once, in the grouped form. */
  private val OneGroup = "__graft_one_group"
  private def oneGroup(df: DataFrame): DataFrame = df.withColumn(OneGroup, lit(0))

  /** CUPED ADJUSTED A/B READOUT (Deng, Xu, Kohavi & Walker, WSDM '13) —
    * the variance-reduction step every mature experiment platform runs
    * before the significance tests in this panel: each user's PRE-period
    * metric (before `cutoffTicks`) is a covariate for their POST-period
    * metric; the adjusted mean ŷ_v = mean(post_v) − θ·(mean(pre_v) −
    * mean(pre)) removes the variance the pre-period explains, shrinking
    * required sample sizes by the squared pre/post correlation. Emits
    * per variant `(variant, n_users, mean_pre, mean_post, mean_adj,
    * theta, var_reduction)` — θ = cov(pre,post)/var(pre) POOLED (the
    * paper's recommendation — a per-arm θ re-introduces bias), and
    * var_reduction = corr²(pre, post), the fraction of metric variance
    * CUPED removes.
    *
    * FP discipline: per-user pre/post are exact integer sums of the
    * floor-quantized metric (users missing a side contribute 0 — the
    * paper's convention for triggered-user analysis); all five global
    * moments are exact DECIMAL(38,0); θ and corr² are each ONE division
    * of exact integers (corr² numerator/denominator both products of
    * exact covariance integers — width ≤ 10²⁸ at gate scales, inside
    * both engines' 38 digits); mean_adj is the one composite double
    * chain (subtract, multiply, subtract) and is round(·, 9)-pinned —
    * the FMA-contraction guard, values O(10²) so 9 decimals keep ~1e-7
    * headroom over a 1-ulp contraction difference.
    *
    * Scale shape: ONE map-side-combined per-user conditional aggregate
    * (users-sized), one 1-row global-moment broadcast, a ≤\|variants\|
    * aggregate — nothing corpus-sized past the first reduction.
    */
  def cupedReport(df: DataFrame, variantCol: Column, tsTicks: Column,
      valueCol: String, cutoffTicks: Long): DataFrame = {
    OpContract.requireCols(df, "AuditOps.cupedReport", "user_id", valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val u = df.filter(col("user_id").isNotNull && col(valueCol).isNotNull)
      .select(col("user_id"), variantCol.cast("string").as("variant"),
        tsTicks.cast("long").as("tk"),
        floor(col(valueCol)).cast("long").as("x"))
      .groupBy("user_id")
      .agg(min(col("variant")).as("variant"),
        coalesce(sum(when(col("tk") < cutoffTicks, col("x"))), lit(0L))
          .as("pre"),
        coalesce(sum(when(col("tk") >= cutoffTicks, col("x"))), lit(0L))
          .as("post"))
      .localCheckpoint(false)
    val g = u.agg(count(lit(1)).as("n"),
      sum(col("pre").cast(dec)).as("sx"), sum(col("post").cast(dec)).as("sy"),
      sum(col("pre").cast(dec) * col("pre")).as("sxx"),
      sum(col("post").cast(dec) * col("post")).as("syy"),
      sum(col("pre").cast(dec) * col("post")).as("sxy"))
    val covN = (col("n") * col("sxy") - col("sx") * col("sy")).cast(dec)
    val varX = (col("n") * col("sxx") - col("sx") * col("sx")).cast(dec)
    val varY = (col("n") * col("syy") - col("sy") * col("sy")).cast(dec)
    val glob = g.select(col("n"), col("sx"),
        when(varX > 0, covN.cast("double") / varX.cast("double")).as("theta"),
        when(varX > 0 && varY > 0,
          (covN * covN).cast("double") / (varX * varY).cast("double"))
          .as("var_reduction"))
      .withColumn("gmx", col("sx").cast("double") / col("n").cast("double"))
    val v = u.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("pre").cast(dec)).as("vx"), sum(col("post").cast(dec)).as("vy"))
    v.crossJoin(broadcast(glob))
      .select(col("variant"), col("n_users"),
        (col("vx").cast("double") / col("n_users").cast("double")).as("mean_pre"),
        (col("vy").cast("double") / col("n_users").cast("double")).as("mean_post"),
        round(col("vy").cast("double") / col("n_users").cast("double")
          - col("theta") *
            (col("vx").cast("double") / col("n_users").cast("double")
              - col("gmx")), 9).as("mean_adj"),
        col("theta"), col("var_reduction"))
      .orderBy("variant")
  }

  /** JENSEN–SHANNON DIVERGENCE of each group's category mix against the
    * GLOBAL mix — the bounded, symmetric member completing the
    * f-divergence wing (TVD = worst-case mass moved, PSI = unbounded
    * log-ratio drift, chi² = significance; JSD ∈ [0, ln 2] is the one
    * that never blows up on a category one side lacks, Lin '91): with
    * p = group mix, q = corpus mix, m = (p+q)/2,
    * JSD = ½·KL(p‖m) + ½·KL(q‖m). The "which source least resembles the
    * corpus" ranking behind mixture design. Emits
    * `(grp, n, jsd, jsd_norm)` with jsd_norm = jsd/ln 2 ∈ [0,1].
    *
    * FP discipline (the [[psiReportBy]] ln idiom): every probability
    * ratio is cross-multiplied into integer arguments —
    * p/m = 2·o·N/(o·N + g·n_s), q/m = 2·g·n_s/(o·N + g·n_s) — each ln
    * evaluated once on an exact-integer double and quantized
    * round(·,7) → DECIMAL(12,7); the per-group sums Σo·Δln and Σg·Δln
    * are exact decimals, each divided ONCE (by 2n_s / 2N), one add, and
    * the normalizer is the exact double literal ln 2. Categories the
    * group lacks contribute their q·ln 2 mass through the same general
    * term (o = 0 → ratio 2). Bit-identical cross-engine.
    *
    * Scale shape: one (grp, cat) count reduction; the grid join and
    * every ln run on the ≤groups×categories bounded table.
    */
  def jsdBySource(df: DataFrame, catCol: String, groupCol: String): DataFrame =
    jsdFromCounts(
      df.filter(col(catCol).isNotNull && col(groupCol).isNotNull)
        .groupBy(col(groupCol).cast("string").as("grp"),
          col(catCol).cast("string").as("cat"))
        .agg(count(lit(1)).as("o")))

  /** [[jsdBySource]]'s arithmetic over a caller-built `(grp, cat, o)`
    * count table — the composition seam [[dataCard]] uses so the mix
    * panel rides the card's one union job instead of checkpointing its
    * own copy of the counts (the r13 card regression: a mid-union
    * `localCheckpoint` materialized ahead of the otherwise-parallel
    * panel scans). The counts plan is referenced four times (per-group
    * totals, per-category totals, the grand total, and the grid join);
    * all four are the IDENTICAL aggregate subplan, so exchange reuse
    * (`spark.sql.exchange.reuse`, on by default) computes the shuffle
    * once — no checkpoint needed for single-query consumers.
    */
  def jsdFromCounts(o: DataFrame): DataFrame = {
    OpContract.requireCols(o, "AuditOps.jsdFromCounts", "grp", "cat", "o")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 7)
    val dec7 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 7)
    val ns = o.groupBy("grp").agg(sum(col("o")).as("ns"))
    val g = o.groupBy("cat").agg(sum(col("o")).as("g"))
    val tot = g.agg(sum(col("g")).as("nn"))
    def ln7(x: Column) = round(log(x.cast("double")), 7).cast(dec7)
    val grid = ns.crossJoin(broadcast(g)).crossJoin(broadcast(tot))
      .join(o, Seq("grp", "cat"), "left")
      .withColumn("o0", coalesce(col("o"), lit(0L)))
      .withColumn("common", col("o0") * col("nn") + col("g") * col("ns"))
    val terms = grid.select(col("grp"), col("ns"), col("nn"),
      when(col("o0") > 0,
        (col("o0") * (ln7(col("o0") * col("nn") * 2) - ln7(col("common"))))
          .cast(dec)).otherwise(lit(0L).cast(dec)).as("tp"),
      (col("g") * (ln7(col("g") * col("ns") * 2) - ln7(col("common"))))
        .cast(dec).as("tq"))
    val ln2 = 0.6931471805599453
    terms.groupBy("grp")
      .agg(min(col("ns")).as("n"), min(col("nn")).as("nn"),
        sum(col("tp")).cast(dec).as("sp"), sum(col("tq")).cast(dec).as("sq"))
      .select(col("grp"), col("n"),
        (col("sp").cast("double") / (lit(2L) * col("n")).cast("double") +
          col("sq").cast("double") / (lit(2L) * col("nn")).cast("double"))
          .as("jsd"))
      .withColumn("jsd_norm", col("jsd") / lit(ln2))
      .orderBy("grp")
  }

  /** Per-group [[psiReport]] — the data-card form (one PSI per source/
    * domain/shard), the last per-group member of the audit panel: the
    * same exact-integer cross-multiplication with ln confined to
    * ln(integer) rounded once into DECIMAL(12,7), every aggregation
    * keyed by (group, category), and per-group totals/PSI numerators on
    * ≤\|groups\|-row broadcast joins. NULL group/category keys dropped.
    * Output: `(grp, cat, o_cnt, n_cnt, o_rate, n_rate, psi_term, psi)` —
    * `psi` is the GROUP total, repeated on its rows; zero-count
    * categories carry NULL psi_term and are excluded from the total
    * (the psiReport convention — the emitted psi is the partial sum
    * over two-sided categories).
    */
  def psiReportBy(oldDf: DataFrame, newDf: DataFrame, catCol: String,
      groupCol: String): DataFrame = {
    OpContract.requireCols(oldDf, "AuditOps.psiReportBy old", catCol, groupCol)
    OpContract.requireCols(newDf, "AuditOps.psiReportBy new", catCol, groupCol)
    def counts(df: DataFrame) =
      df.filter(col(catCol).isNotNull && col(groupCol).isNotNull)
        .groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
        .agg(count(lit(1)).as("cnt"))
    psiFromCounts(counts(oldDf), counts(newDf))
  }

  /** [[psiReportBy]]'s arithmetic over caller-built `(grp, cat, cnt)`
    * count tables — the [[dataCard]] composition seam (see
    * [[categoricalDriftFromCounts]]).
    */
  def psiFromCounts(oCounts: DataFrame, nCounts: DataFrame): DataFrame = {
    OpContract.requireCols(oCounts, "AuditOps.psiFromCounts old",
      "grp", "cat", "cnt")
    OpContract.requireCols(nCounts, "AuditOps.psiFromCounts new",
      "grp", "cat", "cnt")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dec7 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 7)
    val dec20 = org.apache.spark.sql.types.DataTypes.createDecimalType(20, 0)
    val j = oCounts.select(col("grp"), col("cat"), col("cnt").as("o_cnt"))
      .join(nCounts.select(col("grp"), col("cat"), col("cnt").as("n_cnt")),
        Seq("grp", "cat"), "full_outer")
      .select(col("grp"), col("cat"),
        coalesce(col("o_cnt"), lit(0L)).cast(dec).as("o_cnt"),
        coalesce(col("n_cnt"), lit(0L)).cast(dec).as("n_cnt"))
    val totals = j.groupBy("grp")
      .agg(sum(col("o_cnt")).as("no"), sum(col("n_cnt")).as("nn"))
    def l7(x: Column) = round(log(x.cast("double")), 7).cast(dec7)
    val withT = j.join(broadcast(totals), Seq("grp"))
      .withColumn("num",
        (col("o_cnt") * col("nn") - col("n_cnt") * col("no")).cast(dec20))
      .withColumn("dl", when(col("o_cnt") > 0 && col("n_cnt") > 0,
        l7(col("o_cnt") * col("nn")) - l7(col("n_cnt") * col("no"))))
      .withColumn("tnum", col("num") * col("dl"))
    val tot = withT.groupBy("grp").agg(sum(col("tnum")).as("psi_num"))
    withT.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("cat"),
        col("o_cnt").cast("long").as("o_cnt"),
        col("n_cnt").cast("long").as("n_cnt"),
        when(col("no") > 0,
          col("o_cnt").cast("double") / col("no").cast("double")).as("o_rate"),
        when(col("nn") > 0,
          col("n_cnt").cast("double") / col("nn").cast("double")).as("n_rate"),
        when(col("no") > 0 && col("nn") > 0,
          col("tnum").cast("double") /
            (col("no") * col("nn")).cast("double")).as("psi_term"),
        when(col("no") > 0 && col("nn") > 0,
          col("psi_num").cast("double") /
            (col("no") * col("nn")).cast("double")).as("psi"))
      .orderBy("grp", "cat")
  }

  /** k-anonymity / l-diversity release audit (Sweeney '02; Machanavajjhala
    * '07) — the formal privacy gate next to [[graft.operators.EventOps]]'
    * pseudonymization: rows grouped by the quasi-identifier columns (the
    * attributes an attacker can link on); a release is k-anonymous iff
    * every group holds ≥ k rows, and l-diverse iff every group carries ≥
    * l distinct sensitive values (k alone still leaks when a small group
    * is homogeneous in the sensitive attribute). One summary row:
    * `(n_rows, n_groups, min_group_size, rows_below_k, frac_below_k,
    * min_l, k_anonymous, l_diverse)`.
    *
    * Exactness: every statistic is an exact integer off one aggregation
    * (`frac_below_k` is ONE division of exact integers); the verdicts are
    * integer comparisons — engine-identical. NULL quasi values form their
    * own group (NULL-linked rows are still linkable); NULL sensitive
    * values don't count toward diversity.
    *
    * Scale shape: one map-side-combined aggregation to the quasi-group
    * table (count + distinct-sensitive per group — the distinct is
    * per-group, so partial aggregation applies), then a second bounded
    * aggregation to the single summary row. Nothing driver-side grows
    * with the data.
    */
  def kAnonymityReport(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: Column, k: Int, l: Int = 2): DataFrame = {
    require(quasiCols.nonEmpty, "AuditOps.kAnonymityReport: quasiCols must be non-empty")
    require(k >= 2 && l >= 1,
      s"AuditOps.kAnonymityReport: need k >= 2 and l >= 1, got k=$k l=$l")
    OpContract.requireCols(df, "AuditOps.kAnonymityReport", quasiCols: _*)
    val g = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        countDistinct(sensitiveCol).as("lv"))
    g.agg(
        sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_groups"),
        min(col("cnt")).as("min_group_size"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L)).cast("long")
          .as("rows_below_k"),
        min(col("lv")).as("min_l"))
      .select(col("n_rows"), col("n_groups"), col("min_group_size"),
        col("rows_below_k"),
        when(col("n_rows") > 0,
          col("rows_below_k").cast("double") / col("n_rows").cast("double"))
          .as("frac_below_k"),
        col("min_l"),
        (col("min_group_size") >= k).as("k_anonymous"),
        (col("min_l") >= l).as("l_diverse"))
  }

  /** ε-differentially-private COUNT RELEASE by the discrete geometric
    * mechanism (Ghosh–Roughgarden–Sundararajan '09 — the universally
    * optimal mechanism for counts; two-sided geometric noise = discrete
    * Laplace): per category, `noisy_count = count + G₁ − G₂` with
    * Gᵢ ~ Geometric(p = e^(−ε)), ε = 1/invEps. The privacy-audited
    * sibling of [[kAnonymityReport]]: k-anonymity gates what may be
    * released as-is; this releases the histogram itself with a formal
    * ε-DP guarantee (sensitivity 1 per category for disjoint categories).
    *
    * Determinism-by-seed: the noise draws come from the counter RNG at
    * `(seed, 0, mdint(cat), draw)` — a FIXED seed yields one reproducible
    * draw of the mechanism (the release artifact is stable across reruns
    * and engines; the DP guarantee is over the choice of seed, so a seed
    * must be drawn fresh per release and never reused against the same
    * data — documented contract, same as any DP deployment's RNG).
    *
    * Exactness (what makes a DP mechanism value-oracle-able at all):
    * uniforms quantize to the integer grid u_q = floor(u·2³⁰) + 1, the
    * geometric inverse-CDF runs on `round(ln(integer), 7)` decimals (the
    * aud_psi libm discipline — ln touches only integers), the ε division
    * is an exact decimal multiply by the integer `invEps`, and the floor
    * is decimal — every emitted count is bit-identical across engines.
    *
    * Guarantee fine print: the 2³⁰ quantization grid TRUNCATES the
    * geometric tail at G_max = floor(invEps·ln 2³⁰) (≈ 41 at invEps=2) —
    * draws that would exceed it are impossible, so the release is
    * (ε, δ)-DP rather than pure ε-DP, with δ bounded by the clipped
    * tail mass P(G > G_max) ≈ e^(−G_max/invEps) ≈ 2⁻³⁰ per draw
    * (≤ 2·2⁻³⁰ per released category over its two one-sided draws) —
    * negligible for any audit release, stated here so the docstring
    * does not overclaim. A pure-ε mechanism needs an unquantized
    * geometric draw and forfeits the cross-engine value oracle.
    *
    * Scale shape: ONE map-side-combined aggregation to the category
    * table; noise is a pure projection over it. Output:
    * `(cat, noisy_count, epsilon)`.
    */
  def dpCounts(df: DataFrame, catCol: Column, seed: Long,
      invEps: Int = 2): DataFrame = {
    require(invEps >= 1 && invEps <= 1000,
      s"AuditOps.dpCounts: invEps in [1, 1000], got $invEps")
    val dec7 = org.apache.spark.sql.types.DataTypes.createDecimalType(12, 7)
    val g = df.filter(catCol.isNotNull)
      .groupBy(catCol.as("cat")).agg(count(lit(1)).as("cnt"))
    def l7(x: Column) = round(log(x.cast("double")), 7).cast(dec7)
    // ln(2^30) rounded once — the same constant both engines compute
    // from the same integer
    val l7Max = l7(lit(1073741824L))
    def geo(draw: Int) = {
      val u = graft.core.DeterministicRng.uniformCol(
        lit(seed), lit(0L), graft.functions.CrossHash.mdint(col("cat").cast("string")),
        lit(draw.toLong))
      val uq = (floor(u * lit(1073741824.0)) + lit(1)).cast("long")
      floor(lit(invEps) * (l7Max - l7(uq))).cast("long")
    }
    g.select(col("cat"),
        (col("cnt") + geo(0) - geo(1)).as("noisy_count"),
        (lit(1.0) / lit(invEps.toDouble)).as("epsilon"))
      .orderBy("cat")
  }

  /** CUSUM sequential change detection (Page '54) — the drift-OPTIMAL
    * sequential detector next to [[anomalyVerdicts]]' point-outlier
    * z-test: small persistent shifts that never trip a per-point
    * threshold accumulate in S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k)) /
    * S⁻_t = max(0, S⁻_{t−1} − (x_t − μ + k)) and alarm when either
    * exceeds h. Output one row per group:
    * `(grp, n, n_alarms_up, n_alarms_down, first_alarm_id,
    * max_cusum_up, max_cusum_down)`.
    *
    * Input quantization: `valueCol` is `floor()`ed to a long BEFORE the
    * integer-scaled recursion, so sub-integer structure is truncated
    * away — a persistent shift smaller than 1 unit is invisible.
    * PRE-SCALE the value column so the smallest shift of interest is
    * ≥ 1 unit (e.g. `col * 1000` for milli-resolution), scaling k and h
    * by the same factor; the overflow note below then bounds how far
    * that scaling can go.
    *
    * Exactness: the recursion runs on INTEGER-SCALED residuals
    * r_t = n·x_t − Σx (mean-centering multiplied through by the group
    * count n), so T_t = n·S_t stays an exact long; alarms compare
    * T > n·h and the only floating point is the final max-statistic
    * division by n — engine-identical, mirrored by a recursive-CTE
    * oracle. Overflow guards: Math.multiplyExact/addExact fail loudly
    * (the anomalyVerdicts convention) — precondition n·max\|x\| and the
    * running T under 2^63 (rescale the value column past that).
    *
    * Scale shape: one pass for the per-group (n, Σx) stats (broadcast
    * back), then ONE shuffle partitioning by group with a sort within
    * partitions and a STREAMING per-partition fold — no per-group
    * in-memory buffering, state per open group is five longs. Rows are
    * processed in (order, id) order, so results are deterministic across
    * partitionings. (The z-detector's window form suffices for prefix
    * sums; CUSUM's max(0, ·) recursion is a true fold, hence this shape.)
    */
  def cusumReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String, k: Long = 1L, h: Long = 50L): DataFrame = {
    require(k >= 0 && h >= 1,
      s"AuditOps.cusumReport: need k >= 0 and h >= 1, got k=$k h=$h")
    OpContract.requireCols(df, "AuditOps.cusumReport",
      groupCol, orderCol, idCol, valueCol)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(orderCol).cast("long").as("ord"), col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    val stats = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val rows = base.join(broadcast(stats), Seq("grp"))
      .repartition(col("grp"))
      .sortWithinPartitions("grp", "ord", "id")
      .select(col("grp"), col("id"), col("x"), col("n"), col("s"))
      .as[(String, Long, Long, Long, Long)]
    // plain local vars only: an inner class here would capture the
    // enclosing (non-serializable) object in the task closure
    val kk = k; val hh = h
    val folded = rows.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long, Option[Long], Long, Long)]
      var curGrp: String = null
      var curN = 0L; var tp = 0L; var tn = 0L; var maxTp = 0L; var maxTn = 0L
      var upA = 0L; var dnA = 0L; var firstId: java.lang.Long = null
      def flush(): Unit = if (curGrp != null)
        out += ((curGrp, curN, upA, dnA,
          Option(firstId).map(_.longValue), maxTp, maxTn))
      it.foreach { case (grp, id, x, n, s) =>
        if (grp != curGrp) {
          flush()
          curGrp = grp; curN = n
          tp = 0L; tn = 0L; maxTp = 0L; maxTn = 0L
          upA = 0L; dnA = 0L; firstId = null
        }
        val r = Math.subtractExact(Math.multiplyExact(n, x), s)
        val nk = Math.multiplyExact(n, kk)
        tp = math.max(0L, Math.addExact(tp, Math.subtractExact(r, nk)))
        tn = math.max(0L, Math.subtractExact(tn, Math.addExact(r, nk)))
        maxTp = math.max(maxTp, tp); maxTn = math.max(maxTn, tn)
        val nh = Math.multiplyExact(n, hh)
        val up = tp > nh; val dn = tn > nh
        if (up) upA += 1
        if (dn) dnA += 1
        if ((up || dn) && firstId == null) firstId = id
      }
      flush()
      out.iterator
    }
    folded.toDF("grp", "n", "n_alarms_up", "n_alarms_down", "first_alarm_id",
        "max_tp", "max_tn")
      .select(col("grp"), col("n"), col("n_alarms_up"), col("n_alarms_down"),
        col("first_alarm_id"),
        (col("max_tp").cast("double") / col("n").cast("double")).as("max_cusum_up"),
        (col("max_tn").cast("double") / col("n").cast("double")).as("max_cusum_down"))
      .orderBy("grp")
  }

  /** ONE-WAY ANOVA across groups — the k-group parametric question the
    * pairwise family can't pose in one test ([[abTestReport]] is
    * two-proportion, [[mannWhitneyReport]] two-sample): does the
    * quantized metric's MEAN differ across event types / sources /
    * shards at all? Emits one row
    * `(k, n, ss_between, ss_within, f_stat, eta2)` — the F statistic
    * for significance lookup and η² = SSB/(SSB+SSW) as the effect size
    * (how much of the variance the grouping explains).
    *
    * FP discipline (the [[independenceReport]] quantization): from the
    * exact per-group moments (n_g, Σx, Σx²), each mean-square term
    * (Σx_g)²·10⁶ div n_g is an integer FLOOR division — bit-identical
    * cross-engine — so SSB_q = Σt_g − T_q and SSW_q = 10⁶·Σx² − Σt_g
    * are exact integers (clamped at 0: the per-term floors can push a
    * true-zero sum a few quanta negative); F = (SSB_q·(n−k)) /
    * (SSW_q·(k−1)) and η² = SSB_q/(SSB_q+SSW_q) are each ONE division
    * of exact integers, and the reported sums of squares divide once by
    * 10⁶. F is NULL when SSW_q = 0 or dof degenerate. Width bound: each
    * quantized term is ~n_g·mean²·10⁶ and must fit the engines' 64-bit
    * division result — fine to ~10⁹ rows/group at 3-digit means;
    * pre-aggregate daily first beyond that (the detector family's
    * standing advice).
    *
    * Scale shape: ONE map-side-combined moment aggregation to ≤k rows;
    * everything after is k-bounded arithmetic.
    */
  def anovaReport(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.anovaReport", groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val q = 1000000L
    val g = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol)).cast("long").as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("ng"), sum(col("x").cast(dec)).as("sg"),
        sum((col("x").cast(dec) * col("x"))).as("qg"))
    val agg = g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").cast(dec).as("s"), sum("qg").cast(dec).as("qq"),
        sum(call_function("div", col("sg") * col("sg") * lit(q),
          col("ng").cast(dec))).cast(dec).as("tsum"))
      .withColumn("tq", call_function("div", col("s") * col("s") * lit(q),
        col("n").cast(dec)))
      .withColumn("ssb", greatest(lit(0L).cast(dec),
        (col("tsum") - col("tq")).cast(dec)))
      .withColumn("ssw", greatest(lit(0L).cast(dec),
        (col("qq") * lit(q) - col("tsum")).cast(dec)))
    agg.select(col("k"), col("n"),
      (col("ssb").cast("double") / lit(q).cast("double")).as("ss_between"),
      (col("ssw").cast("double") / lit(q).cast("double")).as("ss_within"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
        (col("ssb") * (col("n") - col("k")).cast(dec)).cast("double") /
          (col("ssw") * (col("k") - 1).cast(dec)).cast("double"))
        .as("f_stat"),
      when(col("ssb") + col("ssw") > 0,
        col("ssb").cast("double") / (col("ssb") + col("ssw")).cast("double"))
        .as("eta2"))
  }

  /** EWMA control chart per group — the small-persistent-shift detector
    * between [[cusumReport]] (fastest on sustained shifts past k) and
    * [[anomalyReport]]'s point outliers (Roberts '59): the smoothed
    * level z_t = λ·x_t + (1−λ)·z_{t−1} forgets old data geometrically,
    * so a drift too small for the z-score screen and too slow to trip a
    * point alarm accumulates in z and crosses the ±h band. λ = 1/`el`
    * in the INTEGER-FLOOR form z_t = (x_t + (el−1)·z_{t−1}) floorDiv el
    * seeded at the floor group mean — the whole recursion is exact
    * integer arithmetic (the per-step floor loses < 1 value unit, a
    * quantization the chart's h-band dwarfs), so it is bit-identical
    * cross-engine AND cross-partitioning, the [[cusumReport]]
    * discipline. Alarm when \|n·z_t − Σx\| > n·h (cross-multiplied — no
    * division touches data). Emits per group:
    * `(grp, n, n_alarms, first_alarm_id, final_ewma, max_dev)` with
    * max_dev = max\|n·z−Σx\|/n as the ONE final division.
    *
    * Scale shape: one stats pass, then ONE group hash exchange + per-
    * partition sorted streaming fold (groups sequence in parallel, the
    * [[cusumReport]] plan — the true-recursion shape Catalyst can't
    * express as a window). Values are expected nonnegative (floor
    * division is floor in both engines for nonnegative operands; the
    * gate quantizes a nonnegative metric).
    */
  def ewmaReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String, el: Long = 4L, h: Long = 20L): DataFrame = {
    require(el >= 2 && h >= 1,
      s"AuditOps.ewmaReport: need el >= 2 and h >= 1, got el=$el h=$h")
    OpContract.requireCols(df, "AuditOps.ewmaReport",
      groupCol, orderCol, idCol, valueCol)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(orderCol).cast("long").as("ord"), col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    val stats = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val rows = base.join(broadcast(stats), Seq("grp"))
      .repartition(col("grp"))
      .sortWithinPartitions("grp", "ord", "id")
      .select(col("grp"), col("id"), col("x"), col("n"), col("s"))
      .as[(String, Long, Long, Long, Long)]
    val ll = el; val hh = h
    val folded = rows.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Option[Long], Long, Long)]
      var curGrp: String = null
      var curN = 0L; var z = 0L; var maxDev = 0L; var alarms = 0L
      var lastZ = 0L; var firstId: java.lang.Long = null
      def flush(): Unit = if (curGrp != null)
        out += ((curGrp, curN, alarms, Option(firstId).map(_.longValue),
          lastZ, maxDev))
      it.foreach { case (grp, id, x, n, s) =>
        if (grp != curGrp) {
          flush()
          curGrp = grp; curN = n
          z = Math.floorDiv(s, n); maxDev = 0L; alarms = 0L; firstId = null
        }
        z = Math.floorDiv(
          Math.addExact(x, Math.multiplyExact(ll - 1L, z)), ll)
        lastZ = z
        val dev = Math.abs(Math.subtractExact(Math.multiplyExact(n, z), s))
        maxDev = math.max(maxDev, dev)
        if (dev > Math.multiplyExact(n, hh)) {
          alarms += 1
          if (firstId == null) firstId = id
        }
      }
      flush()
      out.iterator
    }
    folded.toDF("grp", "n", "n_alarms", "first_alarm_id", "final_z", "max_d")
      .select(col("grp"), col("n"), col("n_alarms"), col("first_alarm_id"),
        col("final_z").cast("double").as("final_ewma"),
        (col("max_d").cast("double") / col("n").cast("double")).as("max_dev"))
      .orderBy("grp")
  }

  /** HOLT DOUBLE-EXPONENTIAL SMOOTHING per group — the forecasting
    * chart completing the smoother family ([[ewmaReport]] tracks a
    * LEVEL; Holt '57 adds a TREND state, so a steadily ramping metric is
    * predicted instead of lagged): ℓ_t = (x_t + 3·(ℓ_{t−1}+b_{t−1}))
    * intDiv 4, b_t = ((ℓ_t − ℓ_{t−1}) + 3·b_{t−1}) intDiv 4 — both
    * recursions α=β=1/4 in TRUNCATING integer form (Java `/`, which is
    * exactly DuckDB's `//` on negatives — measured: (−1)//4 = 0, i.e.
    * truncation toward zero, NOT floor; the trend state goes negative on
    * every cooling series, so the division convention is load-bearing;
    * the per-step truncation loses < 1 value unit, the [[ewmaReport]]
    * quantization argument), seeded ℓ₀ = floor group mean, b₀ = 0. Emits per group
    * `(grp, n, final_level, final_trend, forecast_next,
    * mean_abs_one_step_err)` — forecast_next = ℓ_n + b_n, the error the
    * exact Σ\|x_t − (ℓ_{t−1}+b_{t−1})\| over ONE division (how good a
    * one-step forecaster the smoother was on this group's history).
    *
    * Scale shape: the [[cusumReport]]/[[ewmaReport]] plan — one stats
    * pass, ONE group hash exchange + per-partition sorted streaming fold
    * (groups sequence in parallel; the true two-accumulator recursion a
    * window cannot express). Exact-integer state throughout; overflow
    * raises (addExact/multiplyExact) rather than wrapping.
    */
  def holtReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.holtReport",
      groupCol, orderCol, idCol, valueCol)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(orderCol).cast("long").as("ord"), col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    // The seed sum accumulates as DECIMAL(38,0) (the battery convention)
    // so the one pre-fold reduction can't wrap silently the way Spark's
    // non-ANSI sum(long) does — every fold step is addExact/multiplyExact
    // guarded, and the seed now matches that discipline. The seed itself
    // is ONE truncating integral divide (Spark `div` == Java `/` ==
    // DuckDB `//`: toward zero on negatives), shipped per group as a long.
    val decS = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val stats = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(decS)).as("sdec"))
      .select(col("grp"), col("n"),
        expr("CAST(sdec DIV n AS LONG)").as("seed"))
    val rows = base.join(broadcast(stats), Seq("grp"))
      .repartition(col("grp"))
      .sortWithinPartitions("grp", "ord", "id")
      .select(col("grp"), col("id"), col("x"), col("n"), col("seed"))
      .as[(String, Long, Long, Long, Long)]
    val folded = rows.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Long, Long)]
      var curGrp: String = null
      var curN = 0L; var l = 0L; var b = 0L; var absErr = 0L
      def flush(): Unit = if (curGrp != null)
        out += ((curGrp, curN, l, b, absErr))
      it.foreach { case (grp, _, x, n, seed) =>
        if (grp != curGrp) {
          flush()
          curGrp = grp; curN = n
          // seed = truncating floor-mean, computed exactly upstream in
          // DECIMAL(38,0) (sign-consistent with the truncating steps)
          l = seed; b = 0L; absErr = 0L
        }
        val fc = Math.addExact(l, b)
        absErr = Math.addExact(absErr, Math.abs(Math.subtractExact(x, fc)))
        val l1 = Math.addExact(x, Math.multiplyExact(3L, fc)) / 4L
        b = Math.addExact(Math.subtractExact(l1, l),
          Math.multiplyExact(3L, b)) / 4L
        l = l1
      }
      flush()
      out.iterator
    }
    folded.toDF("grp", "n", "fl", "fb", "ae")
      .select(col("grp"), col("n"),
        col("fl").cast("double").as("final_level"),
        col("fb").cast("double").as("final_trend"),
        (col("fl") + col("fb")).cast("double").as("forecast_next"),
        (col("ae").cast("double") / col("n").cast("double"))
          .as("mean_abs_one_step_err"))
      .orderBy("grp")
  }

  /** Wald–Wolfowitz RUNS test per group — the randomness-of-sequence
    * audit next to [[cusumReport]]'s drift detector: binarize each value
    * against its group MEAN (exact cross-multiply n·x > Σx — no
    * division touches data), count runs of consecutive same-side values
    * in (order, id) order, and compare against the null-hypothesis run
    * count. Too FEW runs = a stuck/level-shifted metric (the silent
    * sensor, the classifier pinned to one label); too MANY = oscillation
    * (a flapping upstream, alternating duplicate interleave). Output one
    * row per group:
    * `(grp, n, n1, n0, n_runs, longest_run, mu_runs, var_runs, z_runs)`.
    *
    * Exactness: side flags, run boundaries (one lag window), run ids
    * (one prefix-sum window) and all counts are exact integers; the
    * emitted statistics are the classical μ_R = (n + 2·n1·n0)/n — ONE
    * division of exact integers — and σ²_R in the SPLIT two-division
    * form [2n1n0/n²]·[(2n1n0−n)/(n−1)] (the [[abTestReport]] overflow
    * discipline: each factor one exact-integer division, one multiply —
    * three correctly-rounded IEEE ops on engine-identical inputs);
    * z = [(R·n − n − 2n1n0)/n] / √σ²_R, two more single ops. One-sided
    * groups (n1·n0 = 0) and n < 2 emit NULL var/z (the test is
    * undefined; NULL, never a fake 0 — and never IEEE −0.0 from a
    * 0·negative product).
    *
    * Scale shape: one stats pass broadcast back (the [[cusumReport]]
    * shape), then both windows PARTITION BY the group key — groups rank
    * in parallel, no unpartitioned WindowExec; run lengths collapse via
    * one (grp, run_id) aggregation. `valueCol` is floor-quantized like
    * [[cusumReport]] (pre-scale sub-integer structure).
    */
  def runsReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.runsReport",
      groupCol, orderCol, idCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(orderCol).cast("long").as("ord"), col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    val stats = base.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val sided = base.join(broadcast(stats), Seq("grp"))
      .withColumn("side",
        when(col("x").cast(dec) * col("n") > col("s").cast(dec), 1L)
          .otherwise(0L))
    import org.apache.spark.sql.expressions.{Window => Win}
    val w = Win.partitionBy("grp").orderBy("ord", "id")
    val runIds = sided
      .withColumn("chg",
        when(lag(col("side"), 1).over(w).isNull ||
          lag(col("side"), 1).over(w) =!= col("side"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("chg"))
        .over(w.rowsBetween(Win.unboundedPreceding, Win.currentRow)))
    val runAgg = runIds.groupBy("grp", "run_id")
      .agg(count(lit(1)).as("len"))
      .groupBy("grp")
      .agg(max(col("run_id")).as("n_runs"), max(col("len")).as("longest_run"))
    val ones = sided.groupBy("grp").agg(sum(col("side")).as("n1"))
    val j = stats.join(runAgg, "grp").join(ones, "grp")
      .withColumn("n0", col("n") - col("n1"))
      .withColumn("tno", lit(2).cast(dec) * col("n1") * col("n0"))
    val defined = col("n") >= 2 && col("n1") > 0 && col("n0") > 0
    val varRuns = when(defined,
      (col("tno").cast("double") /
        (col("n").cast(dec) * col("n")).cast("double")) *
        ((col("tno") - col("n")).cast("double") /
          (col("n") - 1).cast("double")))
    val zNum = (col("n_runs").cast(dec) * col("n") - col("n") - col("tno"))
      .cast("double") / col("n").cast("double")
    j.select(col("grp"), col("n"), col("n1"), col("n0"),
        col("n_runs"), col("longest_run"),
        ((col("n").cast(dec) + col("tno")).cast("double") /
          col("n").cast("double")).as("mu_runs"),
        varRuns.as("var_runs"),
        when(defined && varRuns > 0, zNum / sqrt(varRuns)).as("z_runs"))
      .orderBy("grp")
  }

  /** MANN–KENDALL trend test per group (Mann '45; Kendall's tau-b
    * machinery) over the DAILY metric series — the monotone-trend audit
    * between the point detectors ([[outlierReport]]), the change-point
    * fold ([[cusumReport]]), and the randomness screen ([[runsReport]]):
    * a metric drifting steadily up or down never trips a z-score or a
    * CUSUM threshold tuned for jumps, but its pairwise order statistics
    * give it away. S = Σ_{i<j} sgn(x_j − x_i) over the day-ordered
    * daily counts; Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) with the
    * standard tie correction; z applies the ±1 continuity correction.
    * Emits `(grp, n_days, s, var18, z, trend)` with trend =
    * increasing/decreasing at |z| ≥ 1.96 (two-sided 5%).
    *
    * FP discipline: S, the tie term, and var18 are EXACT integers
    * (sign comparisons and integer products); z is the three-op chain
    * `(S∓1) / sqrt(var18/18)` — division, IEEE sqrt, division, each
    * correctly rounded on engine-identical inputs and mirrored
    * op-for-op in the oracle, so even the 1.96 verdict comparison is
    * cross-engine stable. Undefined variance (n < 2 or all days tied)
    * emits NULL z and trend 'none'.
    *
    * Scale shape: the raw stream reduces to the bounded (grp, day)
    * count table FIRST (one map-side-combined aggregation); the
    * pairwise S join, the tie aggregation, and the closed-form variance
    * all run over that ≤groups×days model table — the [[giniReport]]
    * bounded-table argument. Nothing corpus-sized ever self-joins.
    */
  def trendReport(df: DataFrame, groupCol: String, dayCol: Column): DataFrame = {
    OpContract.requireCols(df, "AuditOps.trendReport", groupCol)
    val daily = df.select(col(groupCol).cast("string").as("grp"),
        dayCol.cast("long").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("x"))
      .localCheckpoint() // bounded model table feeding three consumers
    val n = daily.groupBy("grp").agg(count(lit(1)).as("n_days"))
    val s = daily.as("a").join(daily.as("b"),
        col("a.grp") === col("b.grp") && col("b.day") > col("a.day"))
      .groupBy(col("a.grp").as("grp"))
      .agg(sum(when(col("b.x") > col("a.x"), 1L)
        .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s"))
    val ties = daily.groupBy("grp", "x").agg(count(lit(1)).as("t"))
      .filter(col("t") > 1)
      .groupBy("grp")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tsum"))
    val j = n.join(s, Seq("grp"), "left").join(ties, Seq("grp"), "left")
      .select(col("grp"), col("n_days"),
        coalesce(col("s"), lit(0L)).as("s"),
        (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - coalesce(col("tsum"), lit(0L))).as("var18"))
    val sd = sqrt(col("var18").cast("double") / lit(18.0))
    val z = when(col("var18") > 0,
      when(col("s") > 0, (col("s") - 1).cast("double") / sd)
        .when(col("s") < 0, (col("s") + 1).cast("double") / sd)
        .otherwise(lit(0.0)))
    j.select(col("grp"), col("n_days"), col("s"), col("var18"),
        z.as("z"),
        when(z.isNotNull && z >= 1.96, "increasing")
          .when(z.isNotNull && z <= -1.96, "decreasing")
          .otherwise("none").as("trend"))
      .orderBy("grp")
  }

  /** THEIL–SEN robust slope per group (Theil '50; Sen '68) over the same
    * DAILY series as [[trendReport]] — the magnitude companion to
    * Mann–Kendall's verdict: MK says WHETHER the metric drifts
    * monotonically, the Theil–Sen estimator says HOW FAST, and unlike an
    * OLS slope it shrugs off the outlier days the point detectors flag
    * (breakdown point ~29%). slope = median over all i<j of
    * (x_j − x_i)/(day_j − day_i). Emits `(grp, n_days, n_pairs, slope)`.
    *
    * FP discipline: each pairwise slope is ONE correctly-rounded
    * division of two exact integers, so both engines materialize the
    * identical double multiset; the median picks values at sorted-rank
    * positions — well-defined on the multiset no matter how either
    * engine breaks ties — and the even-count case averages exactly two
    * doubles (one add, one exact halving), mirrored op-for-op in the
    * oracle. No FMA-contractible a*b+c anywhere. Groups with a single
    * day have no pairs and emit NULL slope.
    *
    * Scale shape: identical to [[trendReport]] — one map-side-combined
    * reduction to the bounded (grp, day) count table, then the pair
    * join, ranking window (PARTITIONED by grp), and median selection
    * all run over ≤groups×days² model rows. Nothing corpus-sized
    * self-joins, and the ranking window is never unpartitioned.
    */
  def theilSenReport(df: DataFrame, groupCol: String, dayCol: Column): DataFrame = {
    OpContract.requireCols(df, "AuditOps.theilSenReport", groupCol)
    val daily = df.select(col(groupCol).cast("string").as("grp"),
        dayCol.cast("long").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("x"))
      .localCheckpoint() // bounded model table feeding both consumers
    val n = daily.groupBy("grp").agg(count(lit(1)).as("n_days"))
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.grp") === col("b.grp") && col("b.day") > col("a.day"))
      .select(col("a.grp").as("grp"),
        ((col("b.x") - col("a.x")).cast("double") /
          (col("b.day") - col("a.day")).cast("double")).as("slope"))
    val np = pairs.groupBy("grp").agg(count(lit(1)).as("n_pairs"))
    val ranked = pairs.withColumn("rn",
      row_number().over(Window.partitionBy("grp").orderBy("slope")))
    val med = ranked.join(np, Seq("grp"))
      .filter(col("rn") === call_function("div", col("n_pairs") + 1, lit(2L)) ||
        col("rn") === call_function("div", col("n_pairs") + 2, lit(2L)))
      .groupBy("grp").agg(avg(col("slope")).as("slope"))
    n.join(np, Seq("grp"), "left").join(med, Seq("grp"), "left")
      .select(col("grp"), col("n_days"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"), col("slope"))
      .orderBy("grp")
  }

  /** SEASONALITY screen per group: Pearson chi-square uniformity test of
    * event volume across the `period` day-of-period slots (default 7 =
    * day-of-week) — the periodic-pattern audit that completes the
    * detector family (jumps: [[outlierReport]]/[[cusumReport]]; steady
    * drift: [[trendReport]]; non-randomness: [[runsReport]]): a metric
    * that swings with the week never trips any of those, but its slot
    * histogram does. chi² = Σ_s (O_s − n/p)²/(n/p) over ALL p slots
    * (absent slots contribute n²), algebraically rearranged to
    * `Σ_s (p·O_s − n)² / (p·n)` so the numerator is an EXACT integer
    * (DECIMAL(38,0) / HUGEINT — no rounded E subtractions); chi² is then
    * ONE correctly-rounded division. The 5% critical value for p−1
    * degrees of freedom comes from the Wilson–Hilferty cube
    * approximation `dof·((1 − 2/(9·dof)) + 1.645·√(2/(9·dof)))³`,
    * evaluated op-for-op identically in the oracle, so the boolean
    * verdict is cross-engine stable. Emits
    * `(grp, n, chi2, crit, seasonal)`.
    *
    * Scale shape: ONE map-side-combined reduction to the ≤groups×period
    * slot-count table; everything after runs on that bounded model
    * table. The critical value is a plan-time constant.
    */
  def seasonalityReport(df: DataFrame, groupCol: String, dayCol: Column,
      period: Int = 7): DataFrame = {
    OpContract.requireCols(df, "AuditOps.seasonalityReport", groupCol)
    require(period >= 2, s"seasonalityReport: period >= 2, got $period")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val slots = df.select(col(groupCol).cast("string").as("grp"),
        (dayCol.cast("long") % period).as("slot"))
      .groupBy("grp", "slot").agg(count(lit(1)).as("o"))
    val n = slots.groupBy("grp")
      .agg(sum(col("o")).as("n"), count(lit(1)).as("present"))
    val chi2num = slots.join(n, Seq("grp"))
      .groupBy("grp")
      .agg(sum((lit(period.toLong) * col("o") - col("n")).cast(dec) *
        (lit(period.toLong) * col("o") - col("n")).cast(dec)).as("presentSum"))
    val dof = (period - 1).toDouble
    val c = (1.0 - 2.0 / (9.0 * dof)) + 1.645 * math.sqrt(2.0 / (9.0 * dof))
    val crit = dof * (c * c * c)
    val chi2 = (col("presentSum") +
        (lit(period.toLong) - col("present")).cast(dec) *
          col("n").cast(dec) * col("n").cast(dec)).cast("double") /
      (lit(period.toLong) * col("n")).cast("double")
    n.join(chi2num, Seq("grp"))
      .select(col("grp"), col("n"), chi2.as("chi2"), lit(crit).as("crit"),
        (chi2 >= crit).as("seasonal"))
      .orderBy("grp")
  }

  /** SERIAL-CORRELATION screen per group: lag-k sample autocorrelation of
    * the quantized metric sequence — the dependence audit that closes the
    * sequential-detector family ([[cusumReport]] jumps, [[trendReport]]
    * drift, [[runsReport]] sidedness, [[seasonalityReport]] periodicity):
    * an AR(1)-sticky metric (each reading dragging the next — a caching
    * bug, a feedback loop, a stuck sensor interleaved with a live one)
    * passes all four but lights up lag-1 here. For each lag k ≤ `maxLag`,
    * over the in-group pairs (x_t, x_{t+k}) ordered by (`orderCol`,
    * `idCol`): r_k = (m·Σxy − Σx·Σy) / (√(m·Σx²−(Σx)²)·√(m·Σy²−(Σy)²))
    * — the Pearson correlation of the series against its own k-shift
    * (tapered form: moments over the m overlapping pairs, not the full
    * series). `significant` flags |r_k| > 2/√m, the white-noise band.
    * Emits `(grp, lag, n_pairs, r, significant)`; (grp, lag) cells with
    * no pairs (series shorter than k+1) emit nothing.
    *
    * FP discipline: x is floor-quantized ([[runsReport]]) so every moment
    * is an EXACT DECIMAL(38,0)/HUGEINT integer; r_k is the mirrored
    * five-op chain cast(num)→÷(√d1·√d2) — each op correctly rounded on
    * engine-identical inputs (no FMA-contractible a*b+c: the product of
    * two sqrts feeds a lone division). The decimal→double casts are exact
    * below 2⁵³ and correctly rounded past it — identical in both engines
    * either way. The 2/√m band comparison reuses the same discipline, so
    * even the boolean is cross-engine stable.
    *
    * Scale shape: ONE window pass computes all `maxLag` leads (Spark
    * evaluates sibling lead() offsets in a single per-group sort), the
    * stack unpivot is a row-local Generate, and everything reduces in one
    * map-side-combined aggregation to ≤ groups×maxLag moment rows. The
    * window is PARTITIONED by grp — per-group sequences sort in parallel,
    * never a global sort ([[runsReport]]'s shape, same 100 TB argument).
    */
  def autocorrReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String, maxLag: Int = 3): DataFrame = {
    OpContract.requireCols(df, "AuditOps.autocorrReport",
      groupCol, orderCol, idCol, valueCol)
    require(maxLag >= 1 && maxLag <= 16,
      s"autocorrReport: 1 <= maxLag <= 16, got $maxLag")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(orderCol).cast("long").as("ord"), col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    val w = Window.partitionBy("grp").orderBy("ord", "id")
    val leads = base.select(col("grp") +: col("x") +:
      (1 to maxLag).map(k => lead(col("x"), k).over(w).as(s"y$k")): _*)
    val stackArgs = (1 to maxLag).map(k => s"CAST($k AS BIGINT), y$k")
      .mkString(", ")
    val pairs = leads
      .selectExpr("grp", "x", s"stack($maxLag, $stackArgs) AS (lag, y)")
      .filter(col("y").isNotNull)
    val agg = pairs.groupBy("grp", "lag").agg(
      count(lit(1)).as("m"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"),
      sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"))
    val num = (col("m").cast(dec) * col("sxy") - col("sx") * col("sy"))
    val d1 = (col("m").cast(dec) * col("sxx") - col("sx") * col("sx"))
    val d2 = (col("m").cast(dec) * col("syy") - col("sy") * col("sy"))
    val r = when(d1 > 0 && d2 > 0, num.cast("double") /
      (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
    agg.select(col("grp"), col("lag"), col("m").as("n_pairs"),
        r.as("r"),
        when(r.isNotNull,
          abs(r) > lit(2.0) / sqrt(col("m").cast("double")))
          .otherwise(lit(false)).as("significant"))
      .orderBy("grp", "lag")
  }

  /** MANN–WHITNEY U rank-sum test per group (Mann & Whitney '47) — the
    * NONPARAMETRIC A/B readout next to [[abTestReport]]'s two-proportion
    * z: "did arm A's metric DISTRIBUTION shift vs arm B" with no
    * normality assumption and rank-level robustness to the outliers
    * [[outlierReport]] flags. Rows split into arms by `armACol`
    * (boolean); per group: U₁ = R₁ − n₁(n₁+1)/2 over average ranks of
    * the quantized metric, z from the tie-corrected normal approximation
    * Var = n₁n₂·((n+1)·n·(n−1) − Σ(t³−t)) / (12·n·(n−1)) with the ±0.5
    * continuity correction. Emits `(grp, n1, n2, u1, z, significant)`
    * (two-sided 5%); groups with an empty arm or zero variance (all
    * values tied) emit NULL z.
    *
    * FP discipline: average ranks ride the 2×-scale trick (2·avgrank =
    * 2·cum_prev + c + 1 — an EXACT integer per distinct value), so 2R₁,
    * 2U₁, the tie term and both variance factors are exact
    * DECIMAL(38,0)/HUGEINT integers; z is the mirrored four-op chain
    * VN/VD → √ → halve → ÷, and u1 one exact halving. Exactness holds
    * while n³·n₁·n₂ fits 38 digits (≈ n ≤ 10⁷ per group balanced —
    * far past any single test cohort); past that BOTH engines leave the
    * exact regime together.
    *
    * Scale shape: the corpus reduces FIRST to the (grp, value) count
    * table (map-side combined, ≤ groups×distinct-values rows); the
    * ranking window runs PARTITIONED by grp over THAT bounded table —
    * never over raw rows — and the final stats are one aggregation of
    * it. Raw events shuffle once, as (grp, x, arm) triples.
    */
  def mannWhitneyReport(df: DataFrame, groupCol: String, armACol: Column,
      valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.mannWhitneyReport",
      groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull && armACol.isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol)).cast("long").as("x"),
        armACol.cast("boolean").as("a"))
    val byVal = base.groupBy("grp", "x")
      .agg(count(lit(1)).as("c"),
        sum(when(col("a"), 1L).otherwise(0L)).as("ca"))
    val w = Window.partitionBy("grp").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byVal
      .withColumn("cum_prev", coalesce(sum(col("c")).over(w), lit(0L)))
    val agg = ranked.groupBy("grp").agg(
      sum(col("ca")).as("n1"), sum(col("c")).as("n"),
      sum(col("ca").cast(dec) *
        (lit(2L) * col("cum_prev") + col("c") + 1L).cast(dec)).as("r1x2"),
      sum((col("c").cast(dec) * col("c") * col("c") - col("c"))).as("t3t"))
    val n1 = col("n1").cast(dec)
    val n2 = (col("n") - col("n1")).cast(dec)
    val nn = col("n").cast(dec)
    val u1x2 = col("r1x2") - n1 * (n1 + 1)
    val num2 = u1x2 - n1 * n2
    val num2c = when(num2 > 0, num2 - 1).when(num2 < 0, num2 + 1)
      .otherwise(lit(0L).cast(dec))
    val vn = n1 * n2 * ((nn + 1) * nn * (nn - 1) - col("t3t"))
    val vd = lit(12L).cast(dec) * nn * (nn - 1)
    val z = when(vn > 0,
      (num2c.cast("double") / lit(2.0)) /
        sqrt(vn.cast("double") / vd.cast("double")))
    agg.select(col("grp"), col("n1"), (col("n") - col("n1")).as("n2"),
        (u1x2.cast("double") / lit(2.0)).as("u1"), z.as("z"),
        when(z.isNotNull && abs(z) >= 1.96, true).otherwise(false)
          .as("significant"))
      .orderBy("grp")
  }

  /** SPEARMAN rank correlation between two columns per group — the
    * monotone-association audit ("does the metric track time/size/load
    * at all, linearly or not"): ρ_s = Pearson correlation of the
    * tie-averaged ranks, the nonparametric companion to
    * [[autocorrReport]]'s Pearson machinery and the effect-size reading
    * next to [[trendReport]]'s Mann–Kendall verdict. Emits per group
    * `(grp, n, rho, significant)` with the \|ρ\|·√(n−1) > 1.96
    * large-sample normal band.
    *
    * FP discipline: tie-averaged ranks are EXACT integers in doubled
    * form (2·rank = 2·cum_prev + c + 1 from each column's per-group
    * count table — the [[mannWhitneyReport]] construction, applied to
    * both columns); all five moments are exact DECIMAL(38,0); ρ is the
    * mirrored cast→√·√→÷ five-op chain on engine-identical integers
    * ([[autocorrReport]]'s contract), and the band compare reuses the
    * same discipline.
    *
    * Scale shape: two per-group count tables + two group-partitioned
    * cumulative windows rank the DISTINCT values; rows join their
    * ranks back by (grp, value) hash joins, and everything reduces in
    * one map-side-combined moment aggregation to ≤\|groups\| rows.
    * Nothing global ever sorts.
    */
  def spearmanReport(df: DataFrame, groupCol: String, xCol: Column,
      yCol: Column): DataFrame = {
    OpContract.requireCols(df, "AuditOps.spearmanReport", groupCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.filter(xCol.isNotNull && yCol.isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        xCol.cast("long").as("x"), floor(yCol).cast("long").as("y"))
    def ranks(c: String) = {
      val w = Window.partitionBy("grp").orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy("grp", c).agg(count(lit(1)).as("cnt"))
        .withColumn("cum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col("grp"), col(c),
          (lit(2L) * col("cum_prev") + col("cnt") + 1L).as(s"r$c"))
    }
    val joined = base
      .join(ranks("x"), Seq("grp", "x"))
      .join(ranks("y"), Seq("grp", "y"))
    val m = joined.groupBy("grp").agg(count(lit(1)).as("n"),
      sum(col("rx").cast(dec)).as("sx"), sum(col("ry").cast(dec)).as("sy"),
      sum(col("rx").cast(dec) * col("rx")).as("sxx"),
      sum(col("ry").cast(dec) * col("ry")).as("syy"),
      sum(col("rx").cast(dec) * col("ry")).as("sxy"))
    val num = col("n").cast(dec) * col("sxy") - col("sx") * col("sy")
    val d1 = col("n").cast(dec) * col("sxx") - col("sx") * col("sx")
    val d2 = col("n").cast(dec) * col("syy") - col("sy") * col("sy")
    val rho = when(d1 > 0 && d2 > 0,
      num.cast("double") /
        (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))))
    m.select(col("grp"), col("n"), rho.as("rho"),
        coalesce(abs(rho) * sqrt((col("n") - 1).cast("double")) >= 1.96,
          lit(false)).as("significant"))
      .orderBy("grp")
  }

  /** KRUSKAL–WALLIS rank test across k samples — the nonparametric
    * k-group cell completing the test matrix ([[abTestReport]] 2-group
    * parametric, [[mannWhitneyReport]] 2-group nonparametric,
    * [[anovaReport]] k-group parametric): does the quantized metric's
    * DISTRIBUTION differ across event types at all, with no normality
    * assumption. Tie-corrected H, one row out:
    * `(k, n, h, crit, significant)` — H ~ χ²(k−1) under H0, the verdict
    * via the runtime-dof Wilson–Hilferty value ([[independenceReport]]'s
    * round(·,12) discipline).
    *
    * FP discipline: ranks come from the distinct-value count table —
    * 2×rank of a value is the INTEGER 2·cum_prev + c + 1, so each
    * sample's doubled rank sum R2_g is exact; the fraction tower
    * collapses through two integer floor divisions (per-sample
    * 3·R2_g² div n_g, then ·10⁶ div n(n+1)) — bit-identical
    * cross-engine, error < k/10⁶ rank units — and the tie-corrected H
    * is ONE division of exact integers. The floor divisions are
    * evaluated as EXACT DECIMAL(38,0) arithmetic ((a − a mod b)/b — the
    * remainder is exact, the quotient an exact multiple, so no rounding
    * anywhere), not Spark's IntegralDivide, whose LONG result overflowed
    * at ~12·n²·n_g > 2⁶³ ≈ 1.8M rows (the r14 30× failure; DuckDB's
    * HUGEINT `//` never had the bound). Width bound now: 3·R2_g² ≈
    * 12·n⁴/k² and hq·n³ ≈ 10⁶·n⁴ must fit 38 digits — fine to ~10⁸ rows
    * per test; pre-aggregate beyond (the [[anovaReport]] note). Past it
    * the DECIMAL overflow still fails LOUDLY under ANSI.
    *
    * Scale shape: one (sample, value) count aggregation; the global
    * rank window runs over the DISTINCT-VALUE table (bounded by the
    * quantized metric's range, the [[ksReport]] argument), and the
    * final arithmetic is k-bounded.
    */
  def kruskalReport(df: DataFrame, sampleCol: String, valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.kruskalReport", sampleCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val q = 1000000L
    val base = df.filter(col(valueCol).isNotNull && col(sampleCol).isNotNull)
      .select(col(sampleCol).cast("string").as("s"),
        floor(col(valueCol)).cast("long").as("x"))
    val sx = base.groupBy("s", "x").agg(count(lit(1)).as("cgx"))
    val cx = sx.groupBy("x").agg(sum(col("cgx")).as("c"))
      .withColumn("cum_prev", coalesce(sum(col("c")).over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    val perS = sx.join(cx, "x")
      .groupBy("s")
      .agg(sum(col("cgx")).as("ng"),
        sum(col("cgx").cast(dec) *
          (lit(2L) * col("cum_prev") + col("c") + 1L).cast(dec)).as("r2"))
    val ties = cx.agg(
      sum(col("c").cast(dec) * col("c") * col("c") - col("c")).cast(dec)
        .as("tt"))
    // exact decimal floor division for NONNEGATIVE operands: the decimal
    // remainder is exact and (a − a mod b) is an exact multiple of b, so
    // the division introduces no rounding — unlike IntegralDivide, the
    // quotient never passes through LONG (whose 2⁶³ bound this op's
    // 12·n²·n_g term crossed at 30× the gate corpus)
    def fdiv(a: Column, b: Column) = ((a - pmod(a, b)) / b).cast(dec)
    val agg = perS.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum(fdiv(lit(3L).cast(dec) * col("r2") * col("r2"),
          col("ng").cast(dec))).cast(dec).as("tsum"))
      .crossJoin(broadcast(ties))
      .withColumn("a", fdiv(col("tsum") * lit(q),
        (col("n").cast(dec) * (col("n") + 1L))))
      .withColumn("hq", greatest(lit(0L).cast(dec),
        (col("a").cast(dec) - lit(3L) * (col("n") + 1L).cast(dec) * lit(q))
          .cast(dec)))
      .withColumn("n3n",
        (col("n").cast(dec) * col("n") * col("n") - col("n")).cast(dec))
    val h = when(col("n3n") > col("tt"),
      (col("hq") * col("n3n")).cast("double") /
        ((col("n3n") - col("tt")) * lit(q)).cast("double"))
    val dof = (col("k") - 1).cast("long")
    val cc = round(
      (lit(1.0) - lit(2.0) / (lit(9.0) * dof)) +
        lit(1.645) * sqrt(lit(2.0) / (lit(9.0) * dof)), 12)
    val crit = when(dof > 0, dof * (cc * cc * cc))
    agg.select(col("k"), col("n"), h.as("h"), crit.as("crit"),
      coalesce(dof > 0 && h >= crit, lit(false)).as("significant"))
  }

  /** Gini concentration of a categorical column — "how unbalanced is the
    * corpus across sources/languages/shards", the single number a mixture
    * rebalance ([[graft.operators.TextOps.mixtureWeights]]) is judged by:
    * G = Σᵢ Σⱼ \|cᵢ − cⱼ\| / (2·K·Σc) over the K category counts — 0 =
    * perfectly uniform, → 1 = one category holds everything. Emits ONE
    * row `(n_categories, n_rows, gini)`.
    *
    * FP: the numerator is an exact integer (all-pairs \|Δcount\| sum in
    * DECIMAL(38,0)); gini is ONE division by the exact 2·K·N. The
    * all-pairs stage is ≤K² over the COUNT table, not the corpus —
    * categorical cardinality (sources, langs) is bounded by construction,
    * the [[benfordReport]] 9-row argument. Scale shape: one map-side-
    * combined count aggregation, then a broadcast self-join of the
    * ≤K-row count table.
    */
  def giniReport(df: DataFrame, catCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.giniReport", catCol)
    giniFromCounts(
      df.filter(col(catCol).isNotNull)
        .groupBy(col(catCol).as("cat")).agg(count(lit(1)).as("cnt")))
  }

  /** [[giniReport]]'s arithmetic over a caller-built `(cat, cnt)` count
    * table — the [[dataCard]] composition seam (see
    * [[categoricalDriftFromCounts]]): the card's volume panel already
    * aggregates the per-source counts this op pairs up.
    */
  def giniFromCounts(g: DataFrame): DataFrame = {
    OpContract.requireCols(g, "AuditOps.giniFromCounts", "cat", "cnt")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val pairs = g.select(col("cnt").as("ca"))
      .crossJoin(broadcast(g.select(col("cnt").as("cb"))))
    pairs.agg(
        sum(abs(col("ca").cast(dec) - col("cb").cast(dec))).as("num"))
      .crossJoin(broadcast(g.agg(
        count(lit(1)).as("n_categories"), sum(col("cnt")).cast(dec).as("n_rows"))))
      .select(col("n_categories"),
        col("n_rows").cast("long").as("n_rows"),
        when(col("n_categories") > 0 && col("n_rows") > 0,
          col("num").cast("double") /
            (lit(2).cast(dec) * col("n_categories") * col("n_rows"))
              .cast("double")).as("gini"))
  }

  /** Completeness trend audit: per (day, column) null counts/rates plus
    * the day-over-day rate delta — the "did an upstream extractor break
    * last night" panel ([[dataQualityReport]]'s NotNull check is the
    * point-in-time gate; this is its time series, which catches partial
    * regressions a pass/fail threshold misses).
    *
    * Scale shape: ONE scan; each row melts to \|cols\| tiny
    * (day, column, is_null) tuples that partially aggregate map-side, so
    * the shuffle carries ≤ days × \|cols\| count rows (the q35_profile
    * melt discipline). The lag window runs over that bounded table,
    * partitioned by column — never data-proportional.
    *
    * FP: counts are exact; `null_rate` and `rate_delta` are each ONE
    * double division whose numerator/denominator are exact DECIMAL(38,0)
    * integers (the rate delta is the cross-multiplied
    * (nullₜ·rowsₜ₋₁ − nullₜ₋₁·rowsₜ)/(rowsₜ·rowsₜ₋₁), never a
    * difference of two rounded doubles). First day per column emits NULL
    * deltas.
    */
  def completenessReport(df: DataFrame, cols: Seq[String], dayCol: Column): DataFrame = {
    require(cols.nonEmpty, "completenessReport needs at least one column")
    val d = OpContract.requireCols(df, "AuditOps.completenessReport", cols: _*)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val melted = d.select(dayCol.as("day"),
      explode(array(cols.toIndexedSeq.map(c =>
        struct(lit(c).as("c"), col(c).isNull.as("nul"))): _*)).as("kv"))
    val per = melted
      .groupBy(col("day"), col("kv.c").as("column_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("kv.nul"), 1L).otherwise(0L)).as("n_null"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("column_name").orderBy("day")
    per
      .withColumn("p_rows", lag(col("n_rows"), 1).over(w))
      .withColumn("p_null", lag(col("n_null"), 1).over(w))
      .select(col("day"), col("column_name"), col("n_rows"), col("n_null"),
        (col("n_null").cast("double") / col("n_rows").cast("double")).as("null_rate"),
        ((col("n_null").cast(dec) * col("p_rows") -
            col("p_null").cast(dec) * col("n_rows")).cast("double") /
          (col("n_rows").cast(dec) * col("p_rows")).cast("double")).as("rate_delta"))
  }

  /** Single-pass fused numeric audit — [[outlierReport]] (exact z-score),
    * [[robustOutlierReport]] (median/MAD) and [[winsorize]] (percentile
    * clip) over the SAME (group, value) in one report row per group,
    * column-for-column equal to running the three ops separately
    * (AuditOpsSpec pins the equality). Built because `graft.Audit` runs
    * the detectors as a suite, where the separate ops paid ~10 scans of
    * the same numeric column; the fusion pays 5:
    *
    *   pass 1 (one scan): per-(group, bin) COUNTERS AND MOMENTS together —
    *     cnt for the quantile sketch, Σfloor(v), Σfloor(v)² as
    *     DECIMAL(38,0) for the z-verdict (second-level agg over bins gives
    *     the group stats exactly: decimal sums are associative);
    *   pass 2 (pruned): ONE [[SketchOps.refineFromCounts]] ranking pass
    *     serves all three percentiles (lo, median, hi);
    *   passes 3+4: the MAD refinement over |v − median| (inherently
    *     sequential — deviations need the median);
    *   pass 5 (one scan): every verdict, clip count and the winsorized
    *     decimal sum out of ONE broadcast-model join.
    *
    * FP/overflow discipline inherited piecewise from the three parents:
    * the z-verdict is exact integer arithmetic with the loud overflow
    * guard; cutoffs are engine-exact interpolated percentiles; the
    * winsorized sum casts each clipped double to DECIMAL(28,6) before the
    * order-independent accumulation.
    */
  def numericAuditReport(df: DataFrame, valCol: Column, groupCol: String,
      z: Int = 3, kMad: Int = 3, loPermille: Int = 25, hiPermille: Int = 975,
      binWidth: Long = 1024L, bins: Int = 1024): DataFrame = {
    require(z >= 1, s"numericAuditReport needs z >= 1, got $z")
    require(kMad >= 1, s"numericAuditReport needs kMad >= 1, got $kMad")
    require(0 <= loPermille && loPermille < hiPermille && hiPermille <= 1000,
      s"need 0 <= lo < hi <= 1000 permille, got ($loPermille, $hiPermille)")
    require(binWidth >= 1 && (binWidth & (binWidth - 1)) == 0,
      s"binWidth must be a power of two, got $binWidth")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dec28 = org.apache.spark.sql.types.DataTypes.createDecimalType(28, 6)
    def binOf(c: Column) =
      least(greatest(floor(c / binWidth).cast("long"), lit(0L)), lit(bins - 1L))
    val binned = df.filter(valCol.isNotNull)
      .select(col(groupCol).as("g"), binOf(valCol).as("bin"),
        valCol.cast("double").as("v"), floor(valCol).cast(dec).as("x"))
    // pass 1: counters + moments fused
    val counts = binned.groupBy("g", "bin").agg(count(lit(1)).as("cnt"),
      sum(col("x")).as("bsx"), sum(col("x") * col("x")).as("bsx2"))
    val stats = counts.groupBy("g").agg(
      sum(col("cnt")).cast(dec).as("n"),
      sum(col("bsx")).as("s"), sum(col("bsx2")).as("s2"))
    // pass 2: one pruned ranking pass for all three percentiles
    val cuts = SketchOps.refineFromCounts(binned.select("g", "bin", "v"),
        counts.select("g", "bin", "cnt"), Seq(loPermille, 500, hiPermille))
      .groupBy("g").agg(
        min(when(col("p") === loPermille, col("exact_value"))).as("lo_cut"),
        min(when(col("p") === 500, col("exact_value"))).as("med"),
        max(when(col("p") === hiPermille, col("exact_value"))).as("hi_cut"))
    // passes 3+4: MAD — median of |v − med|
    val dev = binned.join(broadcast(cuts.select(col("g"), col("med"))), Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("ad"))
      .select(col("g"), binOf(col("ad")).as("bin"), col("ad").as("v"))
    val mad = SketchOps.refineFromCounts(dev,
        dev.groupBy("g", "bin").agg(count(lit(1)).as("cnt")), Seq(500))
      .select(col("g"), col("exact_value").as("mad"))
    // pass 5: one verdict scan against the broadcast per-group model
    val model = stats.join(cuts, Seq("g")).join(mad, Seq("g"))
    val lhs = (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))
    val rhs = lit(z * z).cast(dec) * (col("n") * col("s2") - col("s") * col("s"))
    val zflag = when(lhs.isNotNull && rhs.isNotNull, lhs > rhs)
      .otherwise(raise_error(lit("AuditOps.numericAuditReport: DECIMAL(38,0)" +
        " overflow in the z-score verdict — n*max|floor(value)| must stay" +
        " below 1e19; rescale the value column first")).cast("boolean"))
    val ad = abs(col("v") - col("med"))
    binned.join(broadcast(model), Seq("g"))
      .groupBy("g")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(zflag, 1).otherwise(0)).cast("long").as("n_outliers"),
        min(when(zflag, col("x").cast("long"))).as("min_outlier"),
        max(when(zflag, col("x").cast("long"))).as("max_outlier"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(ad > lit(kMad) * col("mad"), 1).otherwise(0))
          .cast("long").as("n_flagged"),
        min(col("lo_cut")).as("lo_cut"), min(col("hi_cut")).as("hi_cut"),
        sum(when(col("v") < col("lo_cut"), 1).otherwise(0)).cast("long").as("n_clip_lo"),
        sum(when(col("v") > col("hi_cut"), 1).otherwise(0)).cast("long").as("n_clip_hi"),
        sum(least(greatest(col("v"), col("lo_cut")), col("hi_cut")).cast(dec28))
          .cast("double").as("win_sum"))
      .withColumnRenamed("g", groupCol)
  }

  /** Per-row SEQUENTIAL (prequential) anomaly verdicts: row i is anomalous
    * iff its floor-value deviates more than `z` sigma from the statistics
    * of all PRIOR rows in its group, in `(orderCol, idCol)` order — the
    * exact decision an online monitor makes at arrival time, reproduced
    * over data at rest. Same integer rewrite as [[outlierReport]]
    * (`(n·x−S)² > z²(n·S2−S²)` on DECIMAL(38,0) cumulative sums), so the
    * verdict sequence is engine-exact AND identical to the streaming
    * stateful twin ([[graft.streaming.StreamOps.anomalyStream]]) fed in
    * event-time order — spec-pinned both ways. Rows with fewer than
    * `minPrior` predecessors are unscored (cold start).
    *
    * Scale shape: ONE window over `(grp)` ordered by `(ord, id)` — a
    * single hash exchange on the group key plus a per-group sort. The
    * sequential semantics inherently order each group; the deployment
    * shape for unbounded data is the streaming twin, whose state is three
    * numbers per group.
    */
  def anomalyVerdicts(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String, z: Int = 3, minPrior: Long = 30): DataFrame = {
    require(z >= 1, s"anomalyVerdicts needs z >= 1, got $z")
    require(minPrior >= 2, s"anomalyVerdicts needs minPrior >= 2, got $minPrior")
    OpContract.requireCols(df, "AuditOps.anomalyVerdicts",
      groupCol, orderCol, idCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), col(orderCol).as("ord"),
        col(idCol).as("id"), floor(col(valueCol)).cast(dec).as("x"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("ord"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val st = base.select(col("grp"), col("id"), col("x"),
      count(lit(1)).over(w).cast(dec).as("n"),
      sum(col("x")).over(w).as("s"),
      sum(col("x") * col("x")).over(w).as("s2"))
    val lhs = (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))
    val rhs = lit(z * z).cast(dec) * (col("n") * col("s2") - col("s") * col("s"))
    st.withColumn("scored", col("n") >= lit(minPrior))
      // first rows per group have NULL window sums: scored is false there,
      // so the verdict branch never sees them. PAST that, a NULL lhs/rhs
      // can only mean DECIMAL(38,0) overflow (precondition: (n·|x|)² and
      // z²·n·S2 under 38 digits, i.e. n·max|floor(v)| < 1e19) — fail
      // LOUDLY like DuckDB's HUGEINT instead of silently reading NULL as
      // "not an anomaly" (ADVICE r7); the streaming twin's BigInt state
      // never overflows
      .withColumn("is_anomaly", when(!col("scored"), lit(false))
        .otherwise(when(lhs.isNotNull && rhs.isNotNull, lhs > rhs)
          .otherwise(raise_error(lit("AuditOps.anomalyVerdicts: DECIMAL(38,0)" +
            " overflow in the z-score verdict — n*max|floor(value)| must stay" +
            " below 1e19; rescale the value column or use anomalyStream"))
            .cast("boolean"))))
      .select(col("grp"), col("id"), col("x").cast("long").as("x"),
        col("scored"), col("is_anomaly"))
  }

  /** Group-level rollup of [[anomalyVerdicts]]: scored/anomaly counts and
    * the first/last anomalous id per group.
    */
  def anomalyReport(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, valueCol: String, z: Int = 3, minPrior: Long = 30): DataFrame =
    anomalyVerdicts(df, groupCol, orderCol, idCol, valueCol, z, minPrior)
      .groupBy("grp")
      .agg(
        sum(when(col("scored"), 1).otherwise(0)).cast("long").as("n_scored"),
        sum(when(col("is_anomaly"), 1).otherwise(0)).cast("long").as("n_anomalies"),
        min(when(col("is_anomaly"), col("id"))).as("first_anomaly"),
        max(when(col("is_anomaly"), col("id"))).as("last_anomaly"))

  /** Exact z-score outlier report per group: a row of `df` is an outlier
    * when `|x - mean| > z * stddev` within its group, with `x = floor(v)`
    * (floor, not truncation — engines disagree on double→int rounding, no
    * engine disagrees on floor). Evaluated WITHOUT floating point: the
    * test rewrites to `(n*x - S)^2 > z^2 * (n*S2 - S^2)` over exact
    * integer sums (S = sum x, S2 = sum x^2) carried as DECIMAL(38,0), so
    * the verdict is bit-identical in any engine — no sqrt, no division,
    * no rounding to reconcile. Precondition: `(n·x − S)²` must fit 38
    * digits — `n · max|floor(v)| < 1e19` (e.g. 1e11 rows of |v| ≤ 1e8).
    * Past it, Spark's non-ANSI decimal arithmetic yields NULL where
    * DuckDB's HUGEINT errors — so the verdict raises loudly on overflow
    * instead of silently classifying NULL as "not an outlier" (ADVICE r7).
    *
    * Two passes, both scan-bound: (1) per-group (n, S, S2) — a partial-agg
    * shuffle of one row per group; (2) re-scan joined against the
    * broadcast group stats, conditional count. Group count is assumed
    * dim-sized (stats broadcast); the data never shuffles in pass 2.
    */
  def outlierReport(df: DataFrame, groupCol: String, valueCol: String, z: Int = 3): DataFrame = {
    require(z >= 1, s"outlierReport needs z >= 1, got $z")
    OpContract.requireCols(df, "AuditOps.outlierReport", groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val x = floor(col(valueCol)).cast(dec)
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("grp"), x.as("x"))
    val stats = base.groupBy("grp").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("s2"))
    val lhs = (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s"))
    val rhs = lit(z * z).cast(dec) * (col("n") * col("s2") - col("s") * col("s"))
    // x and the stats are non-null by construction, so a NULL lhs/rhs can
    // only mean decimal overflow — raise, don't count as clean (ADVICE r7)
    val verdict = when(lhs.isNotNull && rhs.isNotNull, lhs > rhs)
      .otherwise(raise_error(lit("AuditOps.outlierReport: DECIMAL(38,0)" +
        " overflow in the z-score verdict — n*max|floor(value)| must stay" +
        " below 1e19; rescale the value column first")).cast("boolean"))
    base.join(broadcast(stats), Seq("grp"))
      .groupBy("grp")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(verdict, 1).otherwise(0)).cast("long").as("n_outliers"),
        max(when(verdict, col("x").cast("long"))).as("max_outlier"),
        min(when(verdict, col("x").cast("long"))).as("min_outlier"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic of a numeric column —
    * the NUMERIC sibling of [[categoricalDrift]]: did the distribution of
    * `valCol` move between sample A (`sideCol` true) and sample B? The
    * audit a pipeline runs on a refreshed corpus's length/score/price
    * columns before swapping it in.
    *
    * D = max over observed values v of |F_A(v) − F_B(v)|. Computed exactly:
    * values collapse to DISTINCT groups carrying (cnt_a, cnt_b); the
    * inclusive cumulative pair (cum_a, cum_b) follows; and the comparison
    * runs on the cross-multiplied integer |cum_a·n_b − cum_b·n_a| in
    * DECIMAL(38,0) — no per-row division, so ties and the argmax are
    * engine-exact. Emitted: (n_a, n_b, ks_num, ks, at_value) where
    * `ks = ks_num/(n_a·n_b)` is the only floating-point op (one division
    * of two exact integers — engine-identical) and `at_value` is the
    * SMALLEST value attaining D (deterministic tiebreak).
    *
    * Scale shape: one map-side-combined aggregation to ≤|distinct values|
    * rows, then the [[aucReport]] banded-prefix discipline — ≤4097 range
    * bands via a monotone map, across-band exclusive prefix from a
    * broadcast ≤4097-row band-total table, within-band window partitioned
    * by band. No unpartitioned WindowExec anywhere (PlanSpec pins this);
    * the data itself never sorts or re-shuffles beyond the distinct-value
    * aggregation. Banding is an execution detail: any monotone bucketing
    * composes the same exact integer prefix sums.
    */
  def ksReport(df: DataFrame, valCol: Column, sideCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // the distinct-value table fans out into six consumers (range, bands,
    // band totals, prefix, cumulative, totals) — checkpoint once so the
    // corpus scans exactly once however bushy the downstream tree is
    // (on a cluster, use reliable checkpointing)
    // NULL side counts as sample B (when().otherwise(0)) — the family
    // convention (aucReport/thresholdReport treat NULL labels as
    // negatives), and what the aud_ks oracle's CASE..ELSE 0 computes
    val g = df.filter(valCol.isNotNull)
      .select(valCol.as("s"), when(sideCol, 1L).otherwise(0L).as("a"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum(col("a")).as("ca"))
      .withColumn("cb", col("cnt") - col("ca"))
      .localCheckpoint()
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val banded = g.crossJoin(broadcast(mm))
      .withColumn("band", when(col("hi") > col("lo"),
          floor((col("s") - col("lo")) /
            ((col("hi") - col("lo")) / lit(4096.0))))
        .otherwise(lit(0L)))
      .drop("lo", "hi")
    val bandTot = banded.groupBy("band")
      .agg(sum(col("ca")).as("bca"), sum(col("cb")).as("bcb"))
    val pref = bandTot.select(col("band"))
      .join(broadcast(bandTot.select(col("band").as("pb"),
          col("bca").as("pca"), col("bcb").as("pcb"))),
        col("pb") < col("band"), "left")
      .groupBy("band").agg(
        coalesce(sum(col("pca")), lit(0L)).as("prea"),
        coalesce(sum(col("pcb")), lit(0L)).as("preb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = banded.join(broadcast(pref), Seq("band"))
      .withColumn("cum_a", (col("prea") + sum(col("ca")).over(w)).cast(dec))
      .withColumn("cum_b", (col("preb") + sum(col("cb")).over(w)).cast(dec))
    val tot = cum.agg(sum(col("ca")).cast(dec).as("n_a"),
      sum(col("cb")).cast(dec).as("n_b"))
    val diffs = cum.crossJoin(broadcast(tot))
      .withColumn("d", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
    val dmax = diffs.agg(max(col("d")).as("dm"))
    diffs.crossJoin(broadcast(dmax))
      .filter(col("d") === col("dm"))
      .agg(min(col("n_a")).cast("long").as("n_a"),
        min(col("n_b")).cast("long").as("n_b"),
        min(col("dm")).cast("long").as("ks_num"),
        // an empty side means nothing to compare: ks NULL, not 0/0 = NaN
        // (IEEE double division — isNull guards downstream would miss it)
        when(min(col("n_a")) > 0 && min(col("n_b")) > 0,
          min(col("dm")).cast("double") /
            (min(col("n_a")) * min(col("n_b"))).cast("double")).as("ks"),
        min(col("s")).cast("double").as("at_value"))
  }

  /** Operating-point selection — the DECISION member of the classifier
    * audit family ([[aucReport]] grades the ranking, [[calibrationReport]]
    * the probabilities, this picks the cutoff): over every candidate
    * threshold t (the distinct score values), the confusion counts of
    * "predict positive when score ≥ t", and the single row maximizing F1
    * (smallest threshold on ties). Emits
    * `(threshold, tp, fp, fn, precision, recall, f1)`.
    *
    * Exactness: tp/fp/fn are exact integers from the distinct-score
    * prefix sums; precision/recall/f1 are each ONE division of exact
    * integers — engine-identical, so even the argmax comparison (on f1,
    * then threshold) is reproducible bit-for-bit.
    *
    * Scale shape: the [[aucReport]] banded discipline — one map-side-
    * combined aggregation to distinct scores, ≤4097 range bands, a
    * broadcast band-total prefix, within-band windows partitioned by
    * band; no unpartitioned WindowExec. The final argmax is a 1-row
    * TakeOrdered over the distinct-score table.
    */
  def thresholdReport(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // NULL labels count as negatives (when().otherwise(0)) — the same
    // convention as aucReport, so the two grade the SAME score/label pair
    val g = df.filter(scoreCol.isNotNull)
      .select(scoreCol.as("s"), when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
      .localCheckpoint()
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val banded = g.crossJoin(broadcast(mm))
      .withColumn("band", when(col("hi") > col("lo"),
          floor((col("s") - col("lo")) /
            ((col("hi") - col("lo")) / lit(4096.0))))
        .otherwise(lit(0L)))
      .drop("lo", "hi")
    val bandTot = banded.groupBy("band")
      .agg(sum(col("cnt")).as("bcnt"), sum(col("pos")).as("bpos"))
    val pref = bandTot.select(col("band"))
      .join(broadcast(bandTot.select(col("band").as("pb"),
          col("bcnt").as("pc"), col("bpos").as("pp"))),
        col("pb") < col("band"), "left")
      .groupBy("band").agg(
        coalesce(sum(col("pc")), lit(0L)).as("prec0"),
        coalesce(sum(col("pp")), lit(0L)).as("prep0"))
    // EXCLUSIVE prefix: rows strictly below the threshold value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tot = g.agg(sum(col("cnt")).cast(dec).as("n"),
      sum(col("pos")).cast(dec).as("p"))
    val conf = banded.join(broadcast(pref), Seq("band"))
      .withColumn("cumc", col("prec0") + coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("cump", col("prep0") + coalesce(sum(col("pos")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("s"),
        (col("p") - col("cump")).cast("long").as("tp"),
        (col("n") - col("p") - (col("cumc") - col("cump"))).cast("long").as("fp"),
        col("cump").cast("long").as("fn"))
      .withColumn("f1", when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2) * col("tp")).cast("double") /
          (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
        .otherwise(lit(0.0)))
    conf.orderBy(col("f1").desc, col("s")).limit(1)
      .select(col("s").cast("double").as("threshold"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0, col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        when(col("tp") + col("fn") > 0, col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double")).as("recall"),
        col("f1"))
  }

  /** Per-group [[thresholdReport]] — the data-card form (one argmax-F1
    * operating point per source/domain/shard): the global cutoff is the
    * wrong knob when score distributions differ by source, and the
    * per-group rows make that visible next to [[aucReportBy]]'s per-group
    * ranking quality. NULL group keys are dropped; NULL labels count as
    * negatives. Output per group:
    * `(grp, threshold, tp, fp, fn, precision, recall, f1)`.
    *
    * Same exactness as the global form: confusion counts are exact
    * integers from per-group exclusive prefix sums; each rate is ONE
    * division of exact integers, so the (f1 desc, threshold asc) argmax
    * is engine-reproducible bit-for-bit. Scale shape: the
    * [[aucReportBy]]/[[ksReportBy]] discipline — one map-side-combined
    * aggregation to per-group distinct scores, every window PARTITIONED
    * by group (groups rank in parallel, no banding needed, no
    * unpartitioned WindowExec), and the final argmax is a row_number
    * filter over the same partitioned ordering.
    */
  def thresholdReportBy(df: DataFrame, scoreCol: Column, labelCol: Column,
      groupCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.thresholdReportBy", groupCol)
    thresholdFromScoreCounts(
      df.filter(scoreCol.isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).as("grp"), scoreCol.as("s"),
          when(labelCol, 1L).otherwise(0L).as("y"))
        .groupBy("grp", "s")
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos")))
  }

  /** [[thresholdReportBy]]'s arithmetic over a caller-built
    * `(grp, s, cnt, pos)` per-score count table — the [[dataCard]]
    * composition seam (see [[aucFromScoreCounts]]).
    */
  def thresholdFromScoreCounts(g: DataFrame): DataFrame = {
    OpContract.requireCols(g, "AuditOps.thresholdFromScoreCounts",
      "grp", "s", "cnt", "pos")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val ew = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val gw = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val conf = g
      .withColumn("cumc", coalesce(sum(col("cnt")).over(ew), lit(0L)))
      .withColumn("cump", coalesce(sum(col("pos")).over(ew), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(gw).cast(dec))
      .withColumn("p", sum(col("pos")).over(gw).cast(dec))
      .select(col("grp"), col("s"),
        (col("p") - col("cump")).cast("long").as("tp"),
        (col("n") - col("p") - (col("cumc") - col("cump"))).cast("long").as("fp"),
        col("cump").cast("long").as("fn"))
      .withColumn("f1", when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2) * col("tp")).cast("double") /
          (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
        .otherwise(lit(0.0)))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("f1").desc, col("s"))
    conf.withColumn("rk", row_number().over(rw)).filter(col("rk") === 1)
      .select(col("grp"), col("s").cast("double").as("threshold"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0, col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double")).as("precision"),
        when(col("tp") + col("fn") > 0, col("tp").cast("double") /
          (col("tp") + col("fn")).cast("double")).as("recall"),
        col("f1"))
  }

  /** Two-proportion A/B experiment audit — per variant vs the named
    * control: exposure/conversion counts, the conversion rate, the
    * absolute lift, and the pooled two-proportion z statistic (emitted as
    * both `z2` — the 1-dof chi-square form — and `z`), the readout a
    * product-analytics pipeline runs next to [[graft.operators.EventOps]]'
    * funnels before shipping a variant.
    *
    * Exactness: every statistic is built from the four exact integers
    * (n₀, c₀, nᵥ, cᵥ). lift = (cᵥ·n₀ − c₀·nᵥ)/(nᵥ·n₀) — exact integer
    * numerator, ONE division. z² = (cᵥ·n₀ − c₀·nᵥ)²·N /
    * (nᵥ·n₀·C·(N−C)) with N = nᵥ+n₀, C = cᵥ+c₀ — numerator split as
    * [num²/(nᵥ·n₀)]·[N/(C·(N−C))]: two exact-integer divisions and one
    * multiply (a single-fraction DECIMAL(38,0) form overflows at ~2e9
    * rows/side; the split form is three correctly-rounded IEEE ops on
    * engine-identical inputs — deterministic, no FMA-contractable a·b±c
    * shape). z = sqrt(z²), one more single op. The square itself stays
    * decimal-exact below ~3e9 rows per side; overflow raises loudly
    * (the outlierReport convention), never returns a wrong number.
    *
    * Scale shape: ONE map-side-combined aggregation to ≤\|variants\|
    * rows; the control row broadcasts. The control emits NULL
    * lift/z2/z (a variant compared to itself is not a test).
    */
  def abTestReport(df: DataFrame, variantCol: Column, successCol: Column,
      control: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(variantCol.isNotNull)
      .select(variantCol.as("variant"),
        when(successCol, 1L).otherwise(0L).as("y"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
    // The control row is extracted by a GLOBAL aggregate (always exactly
    // one row, even over an empty input) so an absent/misspelled control
    // label raises loudly at execution instead of cross-joining with an
    // empty side and silently returning zero rows.
    val ctl = g.agg(
        max(when(col("variant") === control, col("n"))).as("n0m"),
        max(when(col("variant") === control, col("conv"))).as("c0m"))
      .select(
        coalesce(col("n0m"), raise_error(lit(
          s"AuditOps.abTestReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("n0"),
        coalesce(col("c0m"), raise_error(lit(
          s"AuditOps.abTestReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("c0"))
    val j = g.crossJoin(broadcast(ctl))
    val num = col("conv").cast(dec) * col("n0") - col("c0").cast(dec) * col("n")
    val bigN = (col("n") + col("n0")).cast(dec)
    val bigC = (col("conv") + col("c0")).cast(dec)
    val num2 = num * num
    val d1 = col("n").cast(dec) * col("n0")
    val d2 = bigC * (bigN - bigC)
    // decimal NULL here can only be overflow of num² (~3e9 rows/side) —
    // raise, don't emit a silently wrong statistic
    val num2Safe = when(num2.isNotNull, num2).otherwise(
      raise_error(lit("AuditOps.abTestReport: DECIMAL(38,0) overflow in" +
        " z^2 — keep variant exposures below ~3e9 rows or pre-aggregate"))
        .cast(dec))
    val z2 = when(col("variant") =!= control &&
        col("conv") + col("c0") > 0 && bigN > bigC && d1 > 0,
      (num2Safe.cast("double") / d1.cast("double")) *
        (bigN.cast("double") / d2.cast("double")))
    j.select(col("variant"),
        col("n"), col("conv"),
        (col("conv").cast("double") / col("n").cast("double")).as("rate"),
        when(col("variant") =!= control,
          num.cast("double") / d1.cast("double")).as("lift"),
        z2.as("z2"),
        sqrt(z2).as("z"))
      .orderBy("variant")
  }

  /** TOST EQUIVALENCE readout for a two-proportion experiment — the
    * question [[abTestReport]] can't answer: not "is the variant
    * different" but "is it provably NO WORSE (and no better) than the
    * control by more than `margin`" — the non-inferiority gate for a
    * cheaper model/pipeline swap, where failing to reject H0 in the
    * classic z-test is NOT evidence of equivalence. Schuirmann's two
    * one-sided tests at α=0.05 each: with d = p_v − p_0 and the
    * UNPOOLED se (the correct se under the equivalence null, unlike the
    * pooled form the difference test uses), the variant is equivalent
    * iff z_lower = (d+margin)/se ≥ 1.645 AND z_upper = (margin−d)/se ≥
    * 1.645 — i.e. the 90% CI of d sits inside ±margin. Emits per
    * variant `(variant, n, conv, rate, diff, se, z_lower, z_upper,
    * equivalent)`; the control row carries NULL diff/se/z and
    * equivalent = false.
    *
    * FP discipline: diff is ONE division of exact integers (the
    * [[abTestReport]] cross-multiplied numerator); se² is TWO single
    * divisions of exact integers (c(n−c) over n³, each side) plus ONE
    * addition in fixed variant-then-control order — no a·b+c shape
    * anywhere, so nothing can FMA-contract; se is one sqrt; each z is
    * one add/subtract then one division. Every op is individually
    * correctly rounded on engine-identical inputs, so the booleans
    * hash-match. Integer-width bound: n³ needs DECIMAL(38,0), i.e.
    * ≤ ~10¹² rows per variant (tighter than abTestReport's z² bound but
    * far past any experiment).
    *
    * Scale shape: identical to [[abTestReport]] — one map-side-combined
    * aggregate to ≤|variants| rows, a 1-row loud control extraction
    * broadcast back, then row-local arithmetic.
    */
  def tostReport(df: DataFrame, variantCol: Column, successCol: Column,
      control: String, margin: Double): DataFrame = {
    require(margin > 0 && margin < 1,
      s"AuditOps.tostReport: margin must be in (0,1), got $margin")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(variantCol.isNotNull)
      .select(variantCol.as("variant"),
        when(successCol, 1L).otherwise(0L).as("y"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
    val ctl = g.agg(
        max(when(col("variant") === control, col("n"))).as("n0m"),
        max(when(col("variant") === control, col("conv"))).as("c0m"))
      .select(
        coalesce(col("n0m"), raise_error(lit(
          s"AuditOps.tostReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("n0"),
        coalesce(col("c0m"), raise_error(lit(
          s"AuditOps.tostReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("c0"))
    val j = g.crossJoin(broadcast(ctl))
    val num = col("conv").cast(dec) * col("n0") - col("c0").cast(dec) * col("n")
    val diff = num.cast("double") /
      (col("n").cast(dec) * col("n0")).cast("double")
    val se2 =
      (col("conv").cast(dec) * (col("n") - col("conv"))).cast("double") /
        (col("n").cast(dec) * col("n") * col("n")).cast("double") +
      (col("c0").cast(dec) * (col("n0") - col("c0"))).cast("double") /
        (col("n0").cast(dec) * col("n0") * col("n0")).cast("double")
    val live = col("variant") =!= control && se2 > 0
    val se = when(live, sqrt(se2))
    val zl = when(live, (diff + lit(margin)) / sqrt(se2))
    val zu = when(live, (lit(margin) - diff) / sqrt(se2))
    j.select(col("variant"), col("n"), col("conv"),
        (col("conv").cast("double") / col("n").cast("double")).as("rate"),
        when(col("variant") =!= control, diff).as("diff"),
        se.as("se"), zl.as("z_lower"), zu.as("z_upper"),
        coalesce(zl >= 1.645 && zu >= 1.645, lit(false)).as("equivalent"))
      .orderBy("variant")
  }

  /** COHEN'S KAPPA chance-corrected agreement between two labelings —
    * the one-number companion to [[classificationReport]]: raw accuracy
    * flatters any classifier on a skewed class mix (predict-the-
    * majority scores 0.9 on a 90/10 corpus); κ = (p_o − p_e)/(1 − p_e)
    * subtracts the agreement two INDEPENDENT labelers with the same
    * marginals would reach by chance. The standard readout for
    * classifier-vs-ground-truth, annotator-vs-annotator, and
    * old-model-vs-new-model drift. Emits one row
    * `(n, n_agree, po, pe, kappa)`.
    *
    * FP discipline: p_o = agree/n is ONE division of exact integers;
    * p_e = Σ_c row_c·col_c / n² — the numerator is an exact
    * DECIMAL(38,0) sum over the bounded class set, the denominator the
    * exact integer n², one division; κ is two subtractions of
    * engine-identical doubles and one final division — no products of
    * doubles anywhere, nothing can FMA-contract. κ is NULL when
    * p_e = 1 (both sides constant — agreement is vacuous, not perfect).
    *
    * Scale shape: one map-side-combined reduction to the (a, b)
    * contingency table ([[independenceReport]]); marginals and the
    * p_e sum are |classes|-bounded.
    */
  def kappaReport(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.kappaReport", aCol, bCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val m = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val ra = m.groupBy("a").agg(sum("cnt").as("ra"))
    val cb = m.groupBy(col("b").as("a")).agg(sum("cnt").as("cb"))
    val pe = ra.join(cb, Seq("a"), "inner")
      .agg(sum(col("ra").cast(dec) * col("cb")).as("penum"))
    val tot = m.agg(sum("cnt").as("n"),
      sum(when(col("a") === col("b"), col("cnt")).otherwise(0L)).as("agree"))
    broadcast(tot).crossJoin(broadcast(pe))
      .select(col("n"), col("agree").as("n_agree"),
        (col("agree").cast("double") / col("n").cast("double")).as("po"),
        (coalesce(col("penum"), lit(0L).cast(dec)).cast("double") /
          (col("n").cast(dec) * col("n")).cast("double")).as("pe"))
      .withColumn("kappa", when(col("pe") < 1.0,
        (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
  }

  /** SAMPLE-RATIO MISMATCH test — the first check on any experiment
    * dashboard, run BEFORE reading [[abTestReport]]: do the observed
    * variant counts match the intended allocation? A mismatched split
    * (broken bucketing, bot filtering biased to one arm, a crashed
    * logger) invalidates every downstream readout, and it is invisible
    * to the outcome tests themselves. Chi-square goodness-of-fit of the
    * observed per-variant counts against integer allocation weights
    * `expected` (e.g. v0→1, v1→1, v2→2 for a 25/25/50 split); variants
    * observed but not in the design (weight 0) fail loudly — that IS an
    * SRM. Emits one row
    * `(n, n_variants, dof, chi2, crit, mismatch)`.
    *
    * FP discipline (the [[independenceReport]] pattern): with W = Σw,
    * χ² = Σ_v (W·O_v − n·w_v)²/(W·n·w_v) — each term is the quantized
    * integer floor division ((W·O−n·w)²·10⁹) div (W·n·w), bit-identical
    * cross-engine, summed exactly; χ² is ONE double division by 10⁹;
    * the runtime-dof Wilson–Hilferty critical value (α=0.001, the SRM
    * convention — splits are exact by design, so the alarm threshold is
    * strict: z₀.₉₉₉ = 3.090) is round(·,12)-pinned before cubing.
    *
    * Scale shape: one map-side-combined count aggregate to ≤|variants|
    * rows; everything after is variant-bounded arithmetic.
    */
  def srmReport(df: DataFrame, variantCol: Column,
      expected: Seq[(String, Long)]): DataFrame = {
    require(expected.nonEmpty && expected.forall(_._2 > 0),
      "AuditOps.srmReport: expected weights must be positive")
    require(expected.map(_._1).distinct.size == expected.size,
      "AuditOps.srmReport: duplicate variant in expected")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val q = 1000000000L
    val bigW = expected.map(_._2).sum
    val wCol = expected.foldLeft(when(lit(false), lit(0L))) {
      case (acc, (v, w)) => acc.when(col("variant") === v, w)
    }
    val g = df.filter(variantCol.isNotNull)
      .select(variantCol.cast("string").as("variant"))
      .groupBy("variant").agg(count(lit(1)).as("o"))
      .withColumn("w", coalesce(wCol, raise_error(concat(
        lit("AuditOps.srmReport: observed variant '"), col("variant"),
        lit("' is not in the experiment design — that IS a sample-ratio" +
          " mismatch"))).cast("long")))
    val tot = g.agg(sum(col("o")).as("n"), count(lit(1)).as("n_variants"))
    val terms = g.crossJoin(broadcast(tot))
      .select(call_function("div",
        (lit(bigW) * col("o").cast(dec) - col("n").cast(dec) * col("w")) *
          (lit(bigW) * col("o").cast(dec) - col("n").cast(dec) * col("w")) *
          lit(q),
        lit(bigW).cast(dec) * col("n") * col("w")).as("tq"))
      .agg(sum(col("tq")).cast(dec).as("tq"))
    val x = broadcast(tot).crossJoin(broadcast(terms))
      .withColumn("dof", (col("n_variants") - 1).cast("long"))
      .withColumn("chi2", col("tq").cast("double") / lit(q).cast("double"))
    val cc = round(
      (lit(1.0) - lit(2.0) / (lit(9.0) * col("dof"))) +
        lit(3.090) * sqrt(lit(2.0) / (lit(9.0) * col("dof"))), 12)
    val crit = when(col("dof") > 0, col("dof") * (cc * cc * cc))
    x.select(col("n"), col("n_variants"), col("dof"), col("chi2"),
      crit.as("crit"),
      coalesce(col("dof") > 0 && col("chi2") >= crit, lit(false))
        .as("mismatch"))
  }

  /** MINIMUM DETECTABLE EFFECT at the CURRENT sample sizes — the
    * experiment-design readout that closes the A/B family ([[
    * abTestReport]] significance, [[tostReport]] equivalence,
    * [[mannWhitneyReport]] nonparametric, [[bootstrapCiReport]]
    * resampling): per variant-vs-control comparison, the smallest true
    * rate difference the test would detect with 80% power at two-sided
    * α=0.05 — mde_abs = (z_{α/2}+z_{0.8})·se = 2.8016·se with the
    * unpooled se ([[tostReport]]'s form), and mde_rel = mde_abs/rate₀.
    * Read it BEFORE trusting a null [[abTestReport]]: "no significant
    * difference" with an MDE of 8pp means the experiment couldn't see
    * anything smaller than 8pp, not that none exists. Emits
    * `(variant, n, conv, rate, se, mde_abs, mde_rel)`; the control row
    * carries NULLs.
    *
    * FP discipline: se² is the [[tostReport]] two-divisions-plus-one-
    * fixed-order-add chain; se one sqrt; mde_abs ONE multiply by the
    * 4-dp constant; rate₀ and mde_rel single divisions — every op
    * individually correctly rounded on engine-identical inputs.
    * Scale shape: identical to [[abTestReport]].
    */
  def mdeReport(df: DataFrame, variantCol: Column, successCol: Column,
      control: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(variantCol.isNotNull)
      .select(variantCol.as("variant"),
        when(successCol, 1L).otherwise(0L).as("y"))
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("conv"))
    val ctl = g.agg(
        max(when(col("variant") === control, col("n"))).as("n0m"),
        max(when(col("variant") === control, col("conv"))).as("c0m"))
      .select(
        coalesce(col("n0m"), raise_error(lit(
          s"AuditOps.mdeReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("n0"),
        coalesce(col("c0m"), raise_error(lit(
          s"AuditOps.mdeReport: control variant '$control' matched no" +
            " rows (or the input is empty) — check the label and the input"))
          .cast("long")).as("c0"))
    val j = g.crossJoin(broadcast(ctl))
    val se2 =
      (col("conv").cast(dec) * (col("n") - col("conv"))).cast("double") /
        (col("n").cast(dec) * col("n") * col("n")).cast("double") +
      (col("c0").cast(dec) * (col("n0") - col("c0"))).cast("double") /
        (col("n0").cast(dec) * col("n0") * col("n0")).cast("double")
    val live = col("variant") =!= control && se2 > 0
    val mdeAbs = when(live, lit(2.8016) * sqrt(se2))
    val rate0 = col("c0").cast("double") / col("n0").cast("double")
    j.select(col("variant"), col("n"), col("conv"),
        (col("conv").cast("double") / col("n").cast("double")).as("rate"),
        when(live, sqrt(se2)).as("se"), mdeAbs.as("mde_abs"),
        when(live && rate0 > 0, mdeAbs / rate0).as("mde_rel"))
      .orderBy("variant")
  }

  /** Per-group [[ksReport]] — the data-card form (one KS row per source/
    * domain/shard). Same distinct-value construction, but the cumulative
    * CDF window partitions by the group key, so groups rank in parallel
    * and no banding is needed — this is also the shape to prefer at
    * extreme value cardinality (the [[aucReportBy]] pattern). Output per
    * group: `(grp, n_a, n_b, ks_num, ks, at_value)`; a group with either
    * side empty reports `ks` NULL (nothing to compare).
    */
  def ksReportBy(df: DataFrame, valCol: Column, sideCol: Column,
      groupCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.ksReportBy", groupCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // NULL group keys are dropped (a NULL group is not a data card row;
    // the oracle filters identically). NULL side counts as sample B —
    // the family convention, matching the oracle's CASE..ELSE 0.
    ksFromSideCounts(
      df.filter(valCol.isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).as("grp"), valCol.as("s"),
          when(sideCol, 1L).otherwise(0L).as("a"))
        .groupBy("grp", "s")
        .agg(count(lit(1)).as("cnt"), sum(col("a")).as("ca"))
        .withColumn("cb", col("cnt") - col("ca"))
        .select(col("grp"), col("s"), col("ca"), col("cb")))
  }

  /** [[ksReportBy]]'s arithmetic over a caller-built `(grp, s, ca, cb)`
    * per-value side-count table — the [[dataCard]] composition seam (see
    * [[aucFromScoreCounts]]): the card's side A is exactly its shared
    * score-counts table, so only the reference side aggregates anew.
    */
  def ksFromSideCounts(g0: DataFrame): DataFrame = {
    OpContract.requireCols(g0, "AuditOps.ksFromSideCounts",
      "grp", "s", "ca", "cb")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = g0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wg = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cum = g
      .withColumn("cum_a", sum(col("ca")).over(w).cast(dec))
      .withColumn("cum_b", sum(col("cb")).over(w).cast(dec))
      .withColumn("n_a", sum(col("ca")).over(wg).cast(dec))
      .withColumn("n_b", sum(col("cb")).over(wg).cast(dec))
      .withColumn("d", abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
    cum.withColumn("dm", max(col("d")).over(wg))
      .filter(col("d") === col("dm"))
      .groupBy("grp")
      .agg(min(col("n_a")).cast("long").as("n_a"),
        min(col("n_b")).cast("long").as("n_b"),
        min(col("dm")).cast("long").as("ks_num"),
        when(min(col("n_a")) > 0 && min(col("n_b")) > 0,
          min(col("dm")).cast("double") /
            (min(col("n_a")) * min(col("n_b"))).cast("double")).as("ks"),
        min(col("s")).cast("double").as("at_value"))
  }

  /** Benford first-significant-digit audit of an integer-magnitude column
    * — the classic anomaly screen for "organically grown" numeric columns
    * (prices, populations, transaction amounts): their leading digits
    * should follow P(d) = log10(1 + 1/d). A corpus whose synthetic or
    * corrupted rows cluster on a digit fails loudly.
    *
    * Exactness discipline: the digit comes from the DECIMAL STRING of
    * `floor(abs(value))` (substring, not a data-dependent `log10` — libm
    * never touches data), and the deviation is the cross-multiplied
    * integer `dev_num = |cnt·10⁹ − n·exp_ppb|` against the nine Benford
    * probabilities hardcoded as parts-per-billion integer constants
    * (constants, identical in any engine). The only floating-point ops are
    * the two single divisions emitting `frac` and `dev` from exact
    * integers. Rows with `floor(|value|) = 0` carry no leading digit and
    * are excluded (documented; the count is in `n` only via digit rows).
    *
    * Scale shape: one map-side-combined aggregation to ≤9 digit rows, then
    * a 9-row broadcast against the 1-row total — nothing else moves.
    */
  def benfordReport(df: DataFrame, valCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    // P(d)·1e9, d = 1..9 (log10(1+1/d) rounded half-even at 9 dp; the
    // rounding residue makes the column sum 1e9 + 1 — documented constant)
    val ppb = Seq(301029996L, 176091259L, 124938737L, 96910013L,
      79181246L, 66946790L, 57991947L, 51152522L, 45757491L)
    val x = floor(abs(valCol)).cast("long")
    val g = df.filter(valCol.isNotNull && x > 0)
      .select(substring(x.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = g.agg(sum(col("cnt")).as("n"))
    val exp = ppb.zipWithIndex
      .map { case (p, i) => struct(lit(i + 1L).as("digit"), lit(p).as("exp_ppb")) }
    val expDf = df.sparkSession.range(1).select(
        explode(array(exp: _*)).as("e"))
      .select(col("e.digit").as("digit"), col("e.exp_ppb").as("exp_ppb"))
    expDf.join(g, Seq("digit"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("cnt"), col("n"),
        (col("cnt").cast("double") / col("n").cast("double")).as("frac"),
        col("exp_ppb"),
        abs(col("cnt").cast(dec) * lit(1000000000L).cast(dec) -
          col("n").cast(dec) * col("exp_ppb").cast(dec)).cast("long").as("dev_num"))
      .withColumn("dev", col("dev_num").cast("double") /
        (col("n").cast(dec) * lit(1000000000L).cast(dec)).cast("double"))
  }

  /** Cumulative-gains / lift table — the TARGETING-EFFICIENCY member of
    * the classifier audit family ([[aucReport]] grades the ranking as one
    * number, [[thresholdReport]] picks one cutoff; this shows the whole
    * curve a campaign/filtering budget is planned on): rank rows by score
    * DESCENDING, cut into `buckets` equal-count buckets, and per bucket
    * report how much of the positive class the top-k cut captures
    * (`gain` = cum_pos/P) and how much better than random it is
    * (`lift` = (cum_pos/cum_n)/(P/N)). Output per non-empty bucket:
    * `(bucket, n_bucket, pos_bucket, cum_n, cum_pos, gain, lift)`.
    *
    * Determinism under ties: rows never rank individually — scores
    * collapse to DISTINCT values (the [[aucReport]] construction) and a
    * whole tie-group lands in the bucket of its FIRST row from the top,
    * `bucket = (above·B) div N + 1` with `above` = exact count of rows
    * strictly greater. Integer `div`, so bucket assignment is
    * engine-exact; a dominant tie-group can leave later buckets EMPTY
    * (they are simply absent — document-by-construction, the oracle
    * agrees). NULL labels count as negatives, NULL scores are dropped
    * (family convention).
    *
    * Exactness: every count is an exact integer; `gain` is ONE division
    * of exact integers; `lift` is one division of two DECIMAL(38,0)
    * products (cum_pos·N, cum_n·P), each cast→double correctly rounded —
    * the [[ksReport]] pattern. `gain`/`lift` are NULL when P = 0.
    *
    * Scale shape: one map-side-combined aggregation to distinct scores,
    * the ≤4097-band descending exclusive prefix ([[aucReport]]'s banded
    * discipline — no unpartitioned WindowExec), then everything collapses
    * to ≤`buckets` rows; the cross-bucket cumulative runs as a bounded
    * B×B broadcast theta-join.
    */
  /** Per-group [[gainsReport]] — the data-card form (one gains curve per
    * source/domain/shard), completing the per-group panel next to
    * [[aucReportBy]]/[[ksReportBy]]/[[calibrationReportBy]]/
    * [[thresholdReportBy]]: a global lift curve hides a source whose
    * scores don't rank at all. Same distinct-score construction and
    * integer-div bucket assignment, but every window PARTITIONS by the
    * group key (groups rank in parallel — no banding needed, no
    * unpartitioned WindowExec), per-group totals ride the same
    * aggregation, and the cross-bucket cumulative is a per-group
    * ≤B×B broadcast theta-join. NULL group keys are dropped (family
    * convention). Output: `(grp, bucket, n_bucket, pos_bucket, cum_n,
    * cum_pos, gain, lift)`.
    */
  def gainsReportBy(df: DataFrame, scoreCol: Column, labelCol: Column,
      groupCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"AuditOps.gainsReportBy: buckets must be in [2, 10000], got $buckets")
    OpContract.requireCols(df, "AuditOps.gainsReportBy", groupCol)
    gainsFromScoreCounts(
      df.filter(scoreCol.isNotNull && col(groupCol).isNotNull)
        .select(col(groupCol).as("grp"), scoreCol.as("s"),
          when(labelCol, 1L).otherwise(0L).as("y"))
        .groupBy("grp", "s")
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos")),
      buckets)
  }

  /** [[gainsReportBy]]'s arithmetic over a caller-built
    * `(grp, s, cnt, pos)` per-score count table — the [[dataCard]]
    * composition seam (see [[aucFromScoreCounts]]).
    */
  def gainsFromScoreCounts(g: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"AuditOps.gainsFromScoreCounts: buckets must be in [2, 10000], got $buckets")
    OpContract.requireCols(g, "AuditOps.gainsFromScoreCounts",
      "grp", "s", "cnt", "pos")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val dw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val gw = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val bucketed = g
      .withColumn("above", coalesce(sum(col("cnt")).over(dw), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(gw))
      .withColumn("p", sum(col("pos")).over(gw))
      .withColumn("bucket", expr(s"above * $buckets div n") + lit(1L))
      .groupBy("grp", "bucket")
      .agg(sum(col("cnt")).as("n_bucket"), sum(col("pos")).as("pos_bucket"),
        min(col("n")).as("n"), min(col("p")).as("p"))
    bucketed
      .join(bucketed.select(col("grp").as("qg"), col("bucket").as("qb"),
          col("n_bucket").as("qn"), col("pos_bucket").as("qp")),
        col("qg") === col("grp") && col("qb") <= col("bucket"))
      .groupBy(col("grp"), col("bucket"), col("n_bucket"), col("pos_bucket"),
        col("n"), col("p"))
      .agg(sum(col("qn")).as("cum_n"), sum(col("qp")).as("cum_pos"))
      .select(col("grp"), col("bucket"), col("n_bucket"), col("pos_bucket"),
        col("cum_n"), col("cum_pos"),
        when(col("p") > 0,
          col("cum_pos").cast("double") / col("p").cast("double")).as("gain"),
        when(col("p") > 0,
          (col("cum_pos").cast(dec) * col("n").cast(dec)).cast("double") /
            (col("cum_n").cast(dec) * col("p").cast(dec)).cast("double"))
          .as("lift"))
      .orderBy("grp", "bucket")
  }

  def gainsReport(df: DataFrame, scoreCol: Column, labelCol: Column,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 10000,
      s"AuditOps.gainsReport: buckets must be in [2, 10000], got $buckets")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(scoreCol.isNotNull)
      .select(scoreCol.as("s"), when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy("s")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val mm = g.agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
    val banded = g.crossJoin(broadcast(mm))
      .withColumn("band", when(col("hi") > col("lo"),
          floor((col("s") - col("lo")) /
            ((col("hi") - col("lo")) / lit(4096.0))))
        .otherwise(lit(0L)))
      .drop("lo", "hi")
    val bandTot = banded.groupBy("band").agg(sum(col("cnt")).as("bcnt"))
    // rows in strictly HIGHER bands (banding is monotone, so higher band
    // means higher score): the descending mirror of aucReport's prefix
    val pref = bandTot.select(col("band"))
      .join(broadcast(bandTot.select(col("band").as("pb"), col("bcnt").as("pcnt"))),
        col("pb") > col("band"), "left")
      .groupBy("band").agg(coalesce(sum(col("pcnt")), lit(0L)).as("babove"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val tot = g.agg(sum(col("cnt")).as("n"), sum(col("pos")).as("p"))
    val bucketed = banded.join(broadcast(pref), Seq("band"))
      .withColumn("above",
        col("babove") + coalesce(sum(col("cnt")).over(w), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("bucket", expr(s"above * $buckets div n") + lit(1L))
      .groupBy("bucket")
      .agg(sum(col("cnt")).as("n_bucket"), sum(col("pos")).as("pos_bucket"),
        min(col("n")).as("n"), min(col("p")).as("p"))
    // cross-bucket INCLUSIVE cumulative over <= `buckets` rows: bounded
    // broadcast theta-join, same reason as the band prefix
    bucketed
      .join(broadcast(bucketed.select(col("bucket").as("qb"),
          col("n_bucket").as("qn"), col("pos_bucket").as("qp"))),
        col("qb") <= col("bucket"))
      .groupBy(col("bucket"), col("n_bucket"), col("pos_bucket"),
        col("n"), col("p"))
      .agg(sum(col("qn")).as("cum_n"), sum(col("qp")).as("cum_pos"))
      .select(col("bucket"), col("n_bucket"), col("pos_bucket"),
        col("cum_n"), col("cum_pos"),
        when(col("p") > 0,
          col("cum_pos").cast("double") / col("p").cast("double")).as("gain"),
        when(col("p") > 0,
          (col("cum_pos").cast(dec) * col("n").cast(dec)).cast("double") /
            (col("cum_n").cast(dec) * col("p").cast(dec)).cast("double"))
          .as("lift"))
      .orderBy("bucket")
  }

  /** PER-CLASS PRECISION / RECALL / F1 from exact confusion counts —
    * the multiclass evaluation row ([[aucReport]]/[[thresholdReport]]
    * cover binary scorers; this covers any hard multiclass predictor:
    * language ID, the trained quality classifier, a source router).
    * Per class c over (actual, predicted) pairs: tp, fp, fn, support =
    * tp+fn, precision = tp/(tp+fp), recall = tp/support, and F1 in the
    * single-division form 2·tp/(2·tp+fp+fn) — algebraically the
    * harmonic mean but ONE division of exact integers instead of an
    * FP chain. Classes with no predictions report NULL precision
    * (undefined, not zero); classes never seen as actual report NULL
    * recall.
    *
    * Scale shape: pairs reduce to the (actual, predicted) contingency
    * table in one map-side-combined agg ([[independenceReport]]'s
    * shape); per-class tp/fp/fn are sums over that bounded table —
    * everything after the first agg is |classes|²-sized.
    */
  def classificationReport(df: DataFrame, actualCol: String,
      predictedCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.classificationReport",
      actualCol, predictedCol)
    val m = df.filter(col(actualCol).isNotNull && col(predictedCol).isNotNull)
      .select(col(actualCol).cast("string").as("a"),
        col(predictedCol).cast("string").as("p"))
      .groupBy("a", "p").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val byA = m.groupBy(col("a").as("label"))
      .agg(sum(when(col("a") === col("p"), col("cnt")).otherwise(0L)).as("tp"),
        sum(when(col("a") =!= col("p"), col("cnt")).otherwise(0L)).as("fn"))
    val byP = m.groupBy(col("p").as("label"))
      .agg(sum(when(col("a") =!= col("p"), col("cnt")).otherwise(0L)).as("fp"))
    byA.join(byP, Seq("label"), "full_outer")
      .select(col("label"),
        (coalesce(col("tp"), lit(0L)) + coalesce(col("fn"), lit(0L)))
          .as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .withColumn("precision", when(col("tp") + col("fp") > 0,
        col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall", when(col("support") > 0,
        col("tp").cast("double") / col("support").cast("double")))
      .withColumn("f1", when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
        (lit(2L) * col("tp")).cast("double") /
          (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double")))
      .orderBy("label")
  }

  /** Poisson(1) inverse-CDF thresholds at 2^60 scale: a 60-bit hash h
    * draws weight w = #{k : h ≥ T_k} (i.e. w=0 below T(0), w=k for
    * h ∈ [T(k−1), T(k)), capped at 8 above T(7); P(w>8) ≈ 1.1e-6, a
    * negligible truncation that BOUNDS any row's replicate weight).
    * Shared verbatim by [[bootstrapCiReport]] and its SQL oracle
    * ([[graft.operators.AuditQueries]]) so weight assignment is pure
    * 64-bit integer comparison in both engines — no FP anywhere in the
    * resampling. T_k = ⌊CDF_Poisson(1)(k) · 2^60⌋.
    */
  val PoissonT60: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L, 1152909688087595836L)

  /** Poisson-bootstrap confidence envelope of the per-group mean — "is the
    * day-over-day metric move inside its own sampling noise?" without any
    * distributional assumption, the resampling companion to the parametric
    * [[abTestReport]] z-test. True bootstrap resampling (draw n rows with
    * replacement, B times) is unrunnable at corpus scale — B shuffled
    * copies of the data — so this is the one-pass Poisson bootstrap
    * (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    * Google 2012): each row enters replicate b with weight
    * w ~ Poisson(1) drawn DETERMINISTICALLY from
    * hash("boot:" + b + ":" + id) via the integer thresholds
    * [[PoissonT60]], so the resample is a pure function of the row id —
    * reproducible across runs, partitionings and engines (the
    * [[graft.operators.TextOps.stratifiedSampleHash]] discipline applied
    * to resampling). Emits per group:
    * `(grp, n, mean, n_replicates, ci_lo, ci_hi)` where [ci_lo, ci_hi]
    * is the ENVELOPE (min/max) of the B replicate means — with B=20 an
    * ≈ 90% interval by the order-statistics rule E[F(min), F(max)] =
    * [1/(B+1), B/(B+1)]; callers wanting tighter coverage raise B.
    *
    * FP discipline: x is floor-quantized; per-replicate sums Σw (long)
    * and Σw·x (DECIMAL 38,0) are exact integers; each replicate mean is
    * ONE correctly-rounded double division of engine-identical integers;
    * min/max over replicate means are order-independent. The full-sample
    * mean is the same single division. Nothing else touches FP — the
    * envelope is bit-identical cross-engine.
    *
    * Scale shape: one scan of the input, exploded ×B BEFORE the partial
    * aggregate — map-side combine reduces each partition to (groups × B)
    * partial rows, so the only shuffle moves O(partitions · groups · B)
    * counter rows, never a resampled copy of the data. The replicate →
    * envelope re-agg and the full-mean join are (groups × B)-sized —
    * driver-bounded. At 100 TB this is exactly the published
    * production shape: B× CPU on the scan, zero extra data movement.
    */
  def bootstrapCiReport(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, reps: Int = 20): DataFrame = {
    OpContract.requireCols(df, "AuditOps.bootstrapCiReport",
      groupCol, idCol, valueCol)
    require(reps >= 2 && reps <= 200,
      s"AuditOps.bootstrapCiReport: reps must be in [2, 200], got $reps")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val base = df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(idCol).cast("long").as("id"),
        floor(col(valueCol)).cast("long").as("x"))
    val full = base.groupBy("grp").agg(
      count(lit(1)).as("n"), sum(col("x").cast(dec)).as("sx"))
    val h = graft.functions.CrossHash.mdint(
      concat(lit("boot:"), col("b"), lit(":"), col("id")))
    val wgt = PoissonT60.zipWithIndex
      .foldLeft(when(lit(false), lit(0L))) { case (acc, (t, k)) =>
        acc.when(h < lit(t), k.toLong)
      }.otherwise(lit(PoissonT60.length.toLong))
    val envelope = base
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("w", wgt)
      .groupBy("grp", "b")
      .agg(sum(col("w")).as("ne"),
        sum(col("w").cast(dec) * col("x")).as("wx"))
      .filter(col("ne") > 0)
      .withColumn("mean_b",
        col("wx").cast("double") / col("ne").cast("double"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_replicates"),
        min(col("mean_b")).as("ci_lo"), max(col("mean_b")).as("ci_hi"))
    full.join(envelope, Seq("grp"), "left")
      .select(col("grp"), col("n"),
        (col("sx").cast("double") / col("n").cast("double")).as("mean"),
        col("n_replicates"), col("ci_lo"), col("ci_hi"))
      .orderBy("grp")
  }

  /** Chi-square test of INDEPENDENCE between two categorical columns +
    * Cramér's V effect size — the collection-bias audit ("is language
    * independent of source?"): a source over-contributing one language
    * skews any mixture built on either margin, and the marginal screens
    * ([[driftReport]], [[psiReport]]) can't see it because each margin
    * alone looks stable. One row out:
    * `(n, n_rows, n_cols, dof, chi2, crit, cramers_v, dependent)`.
    *
    * FP discipline — the chi-square statistic is EXACT: by the standard
    * rearrangement χ² = N·(Σ_ij O_ij²/(R_i·C_j) − 1), each cell term is
    * computed as the integer FLOOR division (O²·N·10⁹) div (R·C) —
    * floor division of exact DECIMAL(38,0)/HUGEINT integers is
    * bit-identical cross-engine (all operands positive, so trunc =
    * floor in both), the quantization error is < cells/10⁹ (reported
    * χ² is a deterministic value, not an FP accident), and the scaled
    * statistic N·Σterms − N²·10⁹ stays an exact integer; χ² is then ONE
    * correctly-rounded double division by 10⁹·1. The Wilson–Hilferty 5%
    * critical value must be computed at RUNTIME dof (unlike
    * [[seasonalityReport]]'s constant period): its chain has the FMA-
    * contractible a + b·√c shape, so cc is round(·,12)-pinned in BOTH
    * engines before cubing — past that, crit = dof·cc·cc·cc is pure
    * multiplication (correctly rounded, never contracted). Cramér's V =
    * √(χ²/(N·(min(r,c)−1))): one division + one sqrt on engine-identical
    * inputs. Even the boolean verdict hash-matches.
    *
    * Scale shape: the data reduces to the (a, b) contingency table in
    * ONE map-side-combined aggregation — everything after (margins,
    * floor divisions, the 1-row stitch) is bounded by distinct(a) ×
    * distinct(b), driver-scale by assumption (categorical × categorical).
    * Integer-width bound: terms need O²·N·10⁹ ≤ 10³⁸, i.e. N ≤ ~10⁹·⁶
    * rows per tested pair — beyond that, pre-aggregate or sample the
    * contingency table (the test's power is saturated long before).
    */
  def independenceReport(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.independenceReport", aCol, bCol)
    independenceFromCounts(
      df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).cast("string").as("a"), col(bCol).cast("string").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("o")))
  }

  /** [[independenceReport]]'s arithmetic over a caller-built `(a, b, o)`
    * contingency count table — the [[dataCard]] composition seam (see
    * [[categoricalDriftFromCounts]]).
    */
  def independenceFromCounts(o: DataFrame): DataFrame = {
    OpContract.requireCols(o, "AuditOps.independenceFromCounts", "a", "b", "o")
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val q = 1000000000L
    val ra = o.groupBy("a").agg(sum("o").as("ra"))
    val cb = o.groupBy("b").agg(sum("o").as("cb"))
    val tot = o.agg(sum("o").as("n"), count_distinct(col("a")).as("r"),
      count_distinct(col("b")).as("c"))
    val terms = o.join(ra, "a").join(cb, "b").crossJoin(broadcast(tot))
      .select(call_function("div",
        col("o").cast(dec) * col("o") * col("n") * lit(q),
        col("ra").cast(dec) * col("cb")).as("tq"))
      .agg(sum("tq").cast(dec).as("tq"))
    val x = broadcast(tot).crossJoin(broadcast(terms))
      .withColumn("dof", ((col("r") - 1) * (col("c") - 1)).cast("long"))
      .withColumn("chi2",
        (col("n").cast(dec) * col("tq") -
          col("n").cast(dec) * col("n") * lit(q)).cast("double") /
          (lit(q).cast("double") * col("n").cast("double")))
    val cc = round(
      (lit(1.0) - lit(2.0) / (lit(9.0) * col("dof"))) +
        lit(1.645) * sqrt(lit(2.0) / (lit(9.0) * col("dof"))), 12)
    val crit = when(col("dof") > 0, col("dof") * (cc * cc * cc))
    val vDen = (col("n") * (least(col("r"), col("c")) - lit(1))).cast("double")
    x.select(col("n"), col("r").as("n_rows"), col("c").as("n_cols"),
        col("dof"), col("chi2"), crit.as("crit"),
        when(col("dof") > 0, sqrt(col("chi2") / vDen)).as("cramers_v"),
        coalesce(col("dof") > 0 && col("chi2") >= crit, lit(false))
          .as("dependent"))
  }

  /** WELCH'S UNEQUAL-VARIANCE t TEST per group — the continuous-metric
    * A/B readout between [[abTestReport]] (proportions) and
    * [[mannWhitneyReport]] (ranks): does the MEAN of the quantized
    * metric differ between arms when the variances may not match
    * (Welch '47 — the default over Student's t in every modern stats
    * text)? Emits per group `(grp, n_a, n_b, mean_a, mean_b, diff, se,
    * t, significant)` with the large-sample \|t\| ≥ 1.96 verdict (the
    * [[mannWhitneyReport]] convention; Welch dof adds nothing at the
    * row counts this family audits and its ν formula is the one shape
    * that can FMA-contract cross-engine, so it is deliberately not
    * emitted).
    *
    * FP discipline (the [[tostReport]] unpooled-se chain on exact
    * moments): from per-arm exact (n, Σx, Σx²) over floor-quantized
    * values, mean = Σx/n is one division; each var/n term is ONE
    * division of exact integers — (n·Σx² − (Σx)²) / (n²·(n−1)) — then
    * se² is one add of correctly-rounded doubles, se = √se², and
    * t = diff/se one subtract + one divide, every step mirrored
    * op-for-op in the oracle. t is NULL when either arm has < 2 rows or
    * se² = 0. Width bound: n·Σx² fits DECIMAL(38,0) to ~10¹⁸ row-value²
    * mass — beyond any per-group slice this family sees.
    *
    * Scale shape: ONE map-side-combined (grp, arm) moment aggregation
    * to ≤ 2·groups rows; everything after is row-local arithmetic.
    */
  def welchReport(df: DataFrame, groupCol: String, armACol: Column,
      valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.welchReport", groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        when(armACol, 1L).otherwise(0L).as("arm"),
        floor(col(valueCol)).cast("long").as("x"))
      .groupBy("grp", "arm")
      .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).as("s"),
        sum(col("x").cast(dec) * col("x")).as("q"))
    def side(a: Int, name: String) = g.filter(col("arm") === a)
      .select(col("grp"), col("n").as(s"n_$name"), col("s").as(s"s_$name"),
        col("q").as(s"q_$name"))
    val j = side(1, "a").join(side(0, "b"), Seq("grp"), "inner")
    def mean(n: Column, s: Column) = s.cast("double") / n.cast("double")
    // var/n in ONE exact-integer division: (n·Σx² − (Σx)²) / (n²·(n−1))
    def varOverN(n: Column, s: Column, q: Column) =
      (n.cast(dec) * q - s * s).cast("double") /
        (n.cast(dec) * n * (n - 1)).cast("double")
    val se2 = varOverN(col("n_a"), col("s_a"), col("q_a")) +
      varOverN(col("n_b"), col("s_b"), col("q_b"))
    val live = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    val diff = mean(col("n_a"), col("s_a")) - mean(col("n_b"), col("s_b"))
    val t = when(live, diff / sqrt(se2))
    j.select(col("grp"), col("n_a"), col("n_b"),
        mean(col("n_a"), col("s_a")).as("mean_a"),
        mean(col("n_b"), col("s_b")).as("mean_b"), diff.as("diff"),
        when(live, sqrt(se2)).as("se"), t.as("t"),
        coalesce(abs(t) >= 1.96, lit(false)).as("significant"))
      .orderBy("grp")
  }

  /** EXACT 1-WASSERSTEIN (earth mover's) DISTANCE per group between two
    * arms' empirical distributions of the quantized metric — the
    * magnitude companion to [[ksReport]]'s max-gap: KS says the worst
    * CDF gap, W₁ integrates \|F_A − F_B\| over the value axis, so it
    * sees a small shift of the whole mass that KS under-weights (the
    * metric behind distribution-shift monitors and embedding-drift
    * alarms; Ramdas et al. '17 for the 1-D closed form). Emits per
    * group `(grp, n_a, n_b, w1)`.
    *
    * FP discipline: on the sorted distinct values, W₁ = Σ_i
    * \|cumA_i·n_b − cumB_i·n_a\| · (x_{i+1} − x_i) accumulated as ONE
    * exact DECIMAL(38,0) sum (the [[ksReport]] cross-multiplication ×
    * the exact integer gap), divided ONCE by n_a·n_b. Bit-identical
    * cross-engine at any partitioning. NULL when either side is empty.
    *
    * Scale shape: one (grp, value) pre-aggregation, one group-
    * partitioned ordered window for the prefix sums + value gap, one
    * map-side-combined reduction to ≤\|groups\| rows — the exact
    * [[ksReport]] plan plus a lead().
    */
  def wassersteinReport(df: DataFrame, groupCol: String, armACol: Column,
      valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.wassersteinReport", groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val g = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol)).cast("long").as("s"),
        when(armACol, 1L).otherwise(0L).as("a"))
      .groupBy("grp", "s")
      .agg(count(lit(1)).as("cnt"), sum(col("a")).as("ca"))
    val iw = Window.partitionBy("grp").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gw = Window.partitionBy("grp")
    val c = g.select(col("grp"), col("s"),
      sum(col("ca")).over(iw).cast(dec).as("cum_a"),
      sum(col("cnt") - col("ca")).over(iw).cast(dec).as("cum_b"),
      sum(col("ca")).over(gw).cast(dec).as("n_a"),
      sum(col("cnt") - col("ca")).over(gw).cast(dec).as("n_b"),
      (lead(col("s"), 1).over(Window.partitionBy("grp").orderBy("s"))
        - col("s")).as("gap"))
    // Aggregate BEFORE dropping the last row's NULL lead-gap: a group
    // whose values collapse to one distinct quantized value has ONLY
    // that row, and filtering first would silently omit its
    // (grp, n_a, n_b, w1 = 0) output row. The gap-less terms contribute
    // nothing to the sum (guarded NULL inside), so every live group
    // emits exactly one row as documented.
    c.groupBy("grp")
      .agg(min(col("n_a")).as("na"), min(col("n_b")).as("nb"),
        sum(when(col("gap").isNotNull,
          (abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a"))
            * col("gap")).cast(dec))).as("num"))
      .select(col("grp"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"),
        when(col("na") > 0 && col("nb") > 0,
          coalesce(col("num"), lit(0L).cast(dec)).cast("double") /
            (col("na") * col("nb")).cast("double")).as("w1"))
      .orderBy("grp")
  }

  /** BROWN–FORSYTHE (median-based Levene) VARIANCE-HOMOGENEITY test
    * across groups — the question [[anovaReport]] silently assumes away
    * (its F compares means under equal variances; when spreads differ,
    * the mean readout misleads) and the robust form of Levene '60 that
    * survives heavy tails (Brown & Forsythe '74): ANOVA's F computed on
    * the absolute deviations z = \|x − median_g\| from each group's OWN
    * median. Emits one row `(k, n, f_stat, max_mean_absdev,
    * min_mean_absdev)` — F for the verdict, the extreme per-group mean
    * deviations as the effect direction.
    *
    * FP discipline: medians are the LOWER MEDIAN (rank ⌈n/2⌉ in
    * (value, arrival) order) of the floor-quantized values — an exact
    * integer both engines select identically, no interpolation; the z
    * deviations are then exact integers and the F chain is byte-for-byte
    * [[anovaReport]]'s quantized floor-division arithmetic (same 10⁶
    * quantum, same width bound). F NULL on degenerate dof or zero SSW.
    *
    * Scale shape: one (grp, value) count aggregation, one group-
    * partitioned window for the median rank (groups rank in parallel;
    * the distinct-value table is far smaller than rows), a broadcast
    * join of ≤\|groups\| medians back onto the rows, then the ANOVA
    * moment reduction.
    */
  def leveneReport(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    OpContract.requireCols(df, "AuditOps.leveneReport", groupCol, valueCol)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val q = 1000000L
    val base = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        floor(col(valueCol)).cast("long").as("x"))
    val vc = base.groupBy("grp", "x").agg(count(lit(1)).as("cnt"))
    val iw = Window.partitionBy("grp").orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gw = Window.partitionBy("grp")
    // lower median: the first value whose inclusive cumulative count
    // reaches ⌈n/2⌉ — pure integer selection, no interpolation
    val med = vc.select(col("grp"), col("x"),
        sum(col("cnt")).over(iw).as("cum"), sum(col("cnt")).over(gw).as("n"))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy("grp").agg(min(col("x")).as("med"))
    val z = base.join(broadcast(med), Seq("grp"))
      .select(col("grp"), abs(col("x") - col("med")).as("z"))
    val g = z.groupBy("grp")
      .agg(count(lit(1)).as("ng"), sum(col("z").cast(dec)).as("sg"),
        sum(col("z").cast(dec) * col("z")).as("qg"))
    val agg = g.agg(count(lit(1)).as("k"), sum("ng").as("n"),
        sum("sg").cast(dec).as("s"), sum("qg").cast(dec).as("qq"),
        sum(call_function("div", col("sg") * col("sg") * lit(q),
          col("ng").cast(dec))).cast(dec).as("tsum"),
        // per-group mean absdev = ONE exact-integer division each; the
        // max/min compare those correctly-rounded doubles (comparison,
        // not arithmetic — engine-stable)
        max(col("sg").cast("double") / col("ng").cast("double")).as("mx"),
        min(col("sg").cast("double") / col("ng").cast("double")).as("mn"))
      .withColumn("tq", call_function("div", col("s") * col("s") * lit(q),
        col("n").cast(dec)))
      .withColumn("ssb", greatest(lit(0L).cast(dec),
        (col("tsum") - col("tq")).cast(dec)))
      .withColumn("ssw", greatest(lit(0L).cast(dec),
        (col("qq") * lit(q) - col("tsum")).cast(dec)))
    agg.select(col("k"), col("n"),
      when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
        (col("ssb") * (col("n") - col("k")).cast(dec)).cast("double") /
          (col("ssw") * (col("k") - 1).cast(dec)).cast("double"))
        .as("f_stat"),
      col("mx").as("max_mean_absdev"), col("mn").as("min_mean_absdev"))
  }

  /** RELEASE DATA CARD — the full per-source audit panel composed into
    * ONE long-format table `(section, source, metric, value DOUBLE)`,
    * the shape a release pipeline publishes next to the corpus snapshot
    * (the Datasheets-for-Datasets / Model-Cards reporting idea, Gebru et
    * al. '18, expressed as a queryable table instead of prose). Every
    * row is produced by the SAME gate-pinned operator the DuckDB oracle
    * hash-checks — this function only relabels and unions:
    *
    *   - volume:          per-source row count
    *   - ranking:         [[aucReportBy]] AUC of `scoreCol` vs `labelCol`
    *   - calibration:     [[calibrationReportBy]] ECE
    *   - operating_point: [[thresholdReportBy]] argmax-F1 (f1 row)
    *   - gains:           [[gainsReportBy]] top-quintile lift
    *   - drift:           [[categoricalDriftBy]] TVD of `driftCol` vs `ref`
    *   - psi:             [[psiReportBy]] PSI of the same pair
    *   - ks:              [[ksReportBy]] numeric KS of `scoreCol`, corpus
    *                      side A vs `ref` side B
    *   - mix (r13):       [[jsdBySource]] normalized JSD of each source's
    *                      `driftCol` mix vs the corpus mix — the bounded
    *                      symmetric member completing the drift wing
    *   - privacy/concentration/independence: the corpus-global
    *     [[kAnonymityReport]] / [[giniReport]] / [[independenceReport]]
    *     verdicts under the reserved source `__corpus__` (booleans as
    *     0/1, the gate type convention)
    *
    * Scale shape: each panel is one grouped aggregate over the corpus
    * (the ops' own documented shapes — nothing here adds a shuffle);
    * the union is plan-level, so Spark runs the panels as independent
    * stages of one job. Output is ≤ sections × sources rows — a
    * driver-safe release artifact for [[graft.sources.SnapshotStore]]
    * publishing (`graft.Audit --card`).
    */
  def dataCard(docs: DataFrame, ref: DataFrame, scoreCol: Column,
      labelCol: Column, groupCol: String, driftCol: String,
      quasiCols: Seq[String], sensitiveCol: Column,
      k: Int = 5, l: Int = 3): DataFrame = {
    OpContract.requireCols(docs, "AuditOps.dataCard", groupCol, driftCol)
    OpContract.requireCols(ref, "AuditOps.dataCard ref", groupCol, driftCol)
    def shape(df: DataFrame, section: String, metric: String, v: Column) =
      df.select(lit(section).as("section"), col("grp").cast("string").as("source"),
        lit(metric).as("metric"), v.cast("double").as("value"))
    def globalRow(df: DataFrame, section: String, metric: String, v: Column) =
      df.select(lit(section).as("section"), lit("__corpus__").as("source"),
        lit(metric).as("metric"), v.cast("double").as("value"))
    // volume + concentration share one per-source count table (r14)
    val srcCounts = docs.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("grp")).agg(count(lit(1)).as("n"))
    val volume = shape(srcCounts, "volume", "n_docs", col("n"))
    // the score/label quartet's shared reduction (r14): auc /
    // calibration / operating-point / gains all consume the one
    // per-(group, score) count table — identical subplans, so exchange
    // reuse computes the corpus reduction once for the four panels.
    // NULL-group rows are dropped (the by-source family convention;
    // auc standalone keeps them, but a card panel keyed by source has
    // no NULL source row to report).
    val scoreCounts = docs
      .filter(scoreCol.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), scoreCol.as("s"),
        when(labelCol, 1L).otherwise(0L).as("y"))
      .groupBy("grp", "s")
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val auc = shape(aucFromScoreCounts(scoreCounts),
      "ranking", "auc", col("auc"))
    val ece = shape(
      calibrationFromScoreCounts(scoreCounts)
        .select("grp", "ece").distinct(),
      "calibration", "ece", col("ece"))
    val f1 = shape(thresholdFromScoreCounts(scoreCounts),
      "operating_point", "f1", col("f1"))
    val lift = shape(
      gainsFromScoreCounts(scoreCounts, 5)
        .filter(col("bucket") === 1),
      "gains", "top_quintile_lift", col("lift"))
    // the drift wing's shared reduction (r14): tvd / psi / mix /
    // independence all consume the one (grp, cat) count table per side
    // — identical subplans, so exchange reuse computes each corpus
    // reduction ONCE per side inside the card's single union job (the
    // r13 mix panel instead localCheckpointed its own copy, which
    // materialized ahead of the otherwise-parallel panel scans — the
    // 3.40 → 4.97 s card regression). Keys are cast to string, a no-op
    // for the string-typed columns the card contract documents.
    def gcCounts(df: DataFrame) =
      df.filter(col(driftCol).isNotNull && col(groupCol).isNotNull)
        .groupBy(col(groupCol).cast("string").as("grp"),
          col(driftCol).cast("string").as("cat"))
        .agg(count(lit(1)).as("cnt"))
    val docCounts = gcCounts(docs)
    val refCounts = gcCounts(ref)
    val tvd = shape(
      categoricalDriftFromCounts(docCounts, refCounts)
        .groupBy("grp").agg(min(col("tvd")).as("tvd")),
      "drift", "tvd", col("tvd"))
    val psi = shape(
      psiFromCounts(docCounts, refCounts)
        .groupBy("grp").agg(min(col("psi")).as("psi")),
      "psi", "psi", col("psi"))
    // ks (r14): side A's per-(group, value) counts ARE the shared
    // score-counts table; only the reference side aggregates anew —
    // replaces the two-scan union the panel rode through r13.
    val refScoreCounts = ref
      .filter(scoreCol.isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"), scoreCol.as("s"))
      .groupBy("grp", "s")
      .agg(count(lit(1)).as("cb"))
    val ks = shape(
      ksFromSideCounts(
        scoreCounts.select(col("grp"), col("s"), col("cnt").as("ca"))
          .join(refScoreCounts, Seq("grp", "s"), "full_outer")
          .select(col("grp"), col("s"),
            coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb"))),
      "ks", "ks", col("ks"))
    // mix: each source's category mix vs the corpus mix as the bounded
    // symmetric divergence — completes the card's drift wing (TVD/PSI/KS
    // compare release vs reference; JSD exposes the source whose mix
    // diverges from the corpus it ships in). Same gate-pinned op as
    // aud_jsd_source (r13).
    val mix = shape(
      jsdFromCounts(docCounts.select(col("grp"), col("cat"),
        col("cnt").as("o"))),
      "mix", "jsd_norm", col("jsd_norm"))
    // the single-row global reports fan out to several card rows each;
    // emitting them through ONE explode per report (instead of one union
    // branch per metric) keeps exactly one copy of each report subtree in
    // the initial plan — the 4 privacy + 2 independence branches were
    // re-analyzed/re-optimized copies of the same kAnonymity/independence
    // reduction (guide §3.3's plan-size cost; runtime was already deduped
    // by exchange reuse, planning was not)
    def globalRows(df: DataFrame, section: String,
        metrics: Seq[(String, Column)]): DataFrame =
      df.select(explode(array(metrics.map { case (m, v) =>
          struct(lit(section).as("section"),
            lit("__corpus__").as("source"), lit(m).as("metric"),
            v.cast("double").as("value"))
        }: _*)).as("r"))
        .select(col("r.section").as("section"), col("r.source").as("source"),
          col("r.metric").as("metric"), col("r.value").as("value"))
    val ka = kAnonymityReport(docs, quasiCols, sensitiveCol, k, l)
    val privacy = globalRows(ka, "privacy", Seq(
      "k_anonymous" -> when(col("k_anonymous"), 1.0).otherwise(0.0),
      "l_diverse" -> when(col("l_diverse"), 1.0).otherwise(0.0),
      "min_group_size" -> col("min_group_size"),
      "frac_below_k" -> coalesce(col("frac_below_k"), lit(0.0))))
    val gini = globalRow(
      giniFromCounts(srcCounts.select(col("grp").as("cat"),
        col("n").as("cnt"))),
      "concentration", "gini", col("gini"))
    val ind = independenceFromCounts(docCounts.select(col("cat").as("a"),
      col("grp").as("b"), col("cnt").as("o")))
    val indep = globalRows(ind, "independence", Seq(
      "cramers_v" -> col("cramers_v"),
      "dependent" -> when(col("dependent"), 1.0).otherwise(0.0)))
    volume.unionByName(auc).unionByName(ece).unionByName(f1)
      .unionByName(lift).unionByName(tvd).unionByName(psi).unionByName(ks)
      .unionByName(mix)
      .unionByName(privacy).unionByName(gini).unionByName(indep)
  }
}
