package graft

/** Smoke-level checks for the driver contract: every query runs at sf0.001,
  * oracle keys refer to existing queries, flagship entry returns rows.
  * (Value-level correctness is covered by the DuckDB gate —
  * tools/localverify.py locally, CORRECTNESS_r{N}.json per round.)
  */
class QueriesSpec extends SparkTestBase {

  test("entry (flagship) returns rows with sane estimates") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 2)
    val fracs = rows.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(fracs(0) - 0.5) < 0.05)
    // model 1: bias 0.7 but 5 'T' starting points dilute the H fraction
    assert(fracs(1) > 0.5 && fracs(1) < 0.7)
  }

  test("every oracleSql key has a matching query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle entries without queries: $dangling")
  }

  test("all queries execute at sf0.001 and return a schema") {
    val failures = GateBattery.runs(spark, sfDir).toSeq.sortBy(_._1).flatMap { case (name, r) =>
      r.at4.left.toOption.map(e => s"$name: ${e.getMessage}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
