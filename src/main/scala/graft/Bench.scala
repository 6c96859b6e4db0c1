package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus, cpus)
    Measure.warm(spark, sfDir, Measure.BatteryTables)
    // Optional comma-separated filter for controlled A/B runs of a few
    // queries (BENCHNOTES discipline: same-session min-of-two pairs).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    // Tail-window stress knob (never set by the driver): append n trivial
    // synthetic queries so the <=2000-char tail capture can be dry-run at
    // FUTURE battery sizes before real queries are added. "zzz" prefix
    // sorts them last alphabetically — they land in the final chunk
    // lines, exactly where a tail-alignment regression would bite.
    val padded = selected ++ sys.env.get("SPARK_GRAFT_PAD")
      .map(_.trim.toInt).filter(_ > 0)
      .map(n => (1 to n).map(i => f"zzz_pad_$i%02d" ->
        ((s: SparkSession, _: String) => s.range(1).toDF())).toMap)
      .getOrElse(Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
    val results = padded.map { case (name, fn) =>
      // stderr progress marker (stdout stays reserved for the driver's
      // tail-parsed JSON): identifies a hung/grinding query immediately
      System.err.println(s"[bench] running $name")
      def once(): Double = Measure.seconds(Measure.noop(fn(spark, sfDir)))
      // Each query is timed TWICE and the min reported: single-run timings
      // showed 3-4x one-off spikes (GC pause / page-cache eviction lands
      // entirely on one query) that polluted round totals — see BENCHNOTES.
      // The min of two runs is the steady-state cost of the plan, which is
      // what the cross-round comparison needs. BOTH runs are kept so the
      // summary can carry the ambient story (worst-run total + the top
      // spike ratios) instead of every round re-litigating one-off spikes
      // against controlled re-runs. When the pair itself disagrees by >3x,
      // BOTH runs may be polluted differently (min-of-two let
      // tx_trigram_ppl report 10.8 s against a 1.7 s controlled cost in
      // r12) — one extra run for just those gates bounds the artifact
      // noise at negligible added battery cost.
      val t = try {
        val a = once(); val b = once()
        val lo = math.min(a, b); val hi = math.max(a, b)
        // The tie-break run must not be able to FAIL the gate: two valid
        // timings already exist, so a throw here (one-off OOM/GC artifact)
        // falls back to their min instead of reporting (-1,-1,-1)
        // (ADVICE r13).
        val mn =
          if (lo > 0.05 && hi / lo > 3.0)
            try math.min(lo, once()) catch { case _: Throwable => lo }
          else lo
        (mn, a, b)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          // failed queries report a negative timing so they can't
          // masquerade as fast successes in the totals
          (-1.0, -1.0, -1.0)
      }
      name -> t
    }
    // The driver captures only the LAST 2000 characters of stdout (measured:
    // every BENCH_r0*.json has len(tail)==2000), and sbt appends its own
    // "[success] Total time: ..." line (~78 chars) after us. A single JSON
    // line with the full per-query map is ~2.1 KB at 89 queries and GROWS
    // with every round, so its head is always truncated and the driver has
    // recorded "parsed": null for four rounds straight. Stop fighting the
    // window: emit the per-query map as SHORT standalone JSON lines
    // (<=700 chars each, every one independently parseable), bracketed by a
    // compact summary line printed FIRST and repeated as the VERY LAST line
    // of output — summary (~350 B) + final chunk (~700 B) + sbt trailer
    // always fit inside 2000 chars, so a tail capture of ANY alignment ends
    // with at least one complete JSON object.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val mins = results.map { case (k, (mn, _, _)) => k -> mn }
    val entries = mins.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
    val failed = mins.filter(_._2 < 0).keys.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = mins.values.filter(_ >= 0).sum
    // Both-runs totals + the worst per-query spike ratios travel WITH the
    // artifact: a query reading hot in one round self-documents as
    // ambient (its min was flat) without a controlled re-run session.
    // worst_run_total is the total of the SLOWER of the two full passes —
    // a total some run actually achieved, not the per-query max summed
    // (which no single run produced; ADVICE r12).
    val run1Total = results.values.collect { case (mn, a, _) if mn >= 0 => a }.sum
    val run2Total = results.values.collect { case (mn, _, b) if mn >= 0 => b }.sum
    val worstTotal = math.max(run1Total, run2Total)
    val spikes = results.toSeq
      .collect { case (k, (mn, a, b)) if mn > 0.05 && math.max(a, b) / mn > 2.0 =>
        (k, math.max(a, b) / mn) }
      .sortBy(-_._2).take(4)
      .map { case (k, r) => s"\"" + k + "\":" + fmt(r) }.mkString("{", ",", "}")
    // Keep the 8 slowest queries inline in the summary so even a
    // summary-only capture carries the hot-spot signal.
    val slowest = mins.toSeq.sortBy(-_._2).take(8)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.size},"runs":2,"worst_run_total":${fmt(worstTotal)},"spike_ratios":$spikes,"failed":$failedJson,"slowest":$slowest,"sf":"${CliJson.str(sfDir)}"}"""
    // Pack alphabetized per-query entries into chunks of <=700 chars.
    val chunks = entries.foldLeft(Vector(Vector.empty[String])) { (acc, e) =>
      if (acc.last.map(_.length + 1).sum + e.length > 700) acc :+ Vector(e)
      else acc.init :+ (acc.last :+ e)
    }.filter(_.nonEmpty)
    println(summary)
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    // Memo-miss transparency (VERDICT r14 'what's wrong #1'): gates that
    // populate a shared-training memo pay the training in run 1 and hit
    // the memo in run 2, so min-of-two drops the training cost from every
    // per-query timing. The accumulated miss seconds per training label
    // are reported as their OWN metric line — the summary/queries_part
    // contract the driver parses is unchanged, and the training cost is
    // back on the record instead of buried in worst_run_total. It is
    // printed after the chunk lines, just before the closing summary, so a
    // 2000-char tail capture holds it next to a complete summary.
    val misses = graft.operators.MemoStats.drain().toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"memo_miss","unit":"sec","misses":$misses}""")
    println(summary)
    spark.stop()
  }
}
