package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the bucketed-layout contract: two tables written with
  * [[LayoutOps.writeBucketed]] on the same key and bucket count join with
  * ZERO exchanges — the shuffle was paid once at write time. This is the
  * claim that matters at 100 TB: the Nth join on the bucket key is
  * shuffle-free, so repeated fact-to-fact joins cost a co-partitioned scan.
  */
class BucketedJoinSpec extends SparkTestBase {

  test("bucketed tables join without any exchange; result matches plain join") {
    val li = Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables.t(spark, sfDir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderstatus")

    LayoutOps.writeBucketed(li, "b_lineitem", Seq("l_orderkey"), 8)
    LayoutOps.writeBucketed(ord.withColumnRenamed("o_orderkey", "l_orderkey"),
      "b_orders", Seq("l_orderkey"), 8)
    try {
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))

      // force SMJ (broadcast would trivially avoid the exchange)
      val plan = withNoBroadcast {
        val p = joined.queryExecution.executedPlan.toString
        // correctness: same result as the un-bucketed join
        val expected = li.join(ord.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        val got = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
        assert(got == expected, "bucketed join result diverges from plain join")
        p
      }
      // the JOIN itself is exchange-free: everything at and below the
      // SortMergeJoin reads co-partitioned buckets directly (the plan's
      // only exchange is the tiny final agg ABOVE the join)
      assert(plan.contains("SortMergeJoin"), s"expected an SMJ:\n$plan")
      val atAndBelowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!atAndBelowJoin.contains("Exchange"),
        s"bucketed join should read co-partitioned buckets without a shuffle:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"scan did not use the bucketed layout:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      spark.sql("DROP TABLE IF EXISTS b_orders")
    }
  }

  test("snapshotDiff over doc_id-bucketed snapshots: ZERO exchanges end-to-end") {
    // the dataset-versioning audit on the layout a versioned corpus store
    // would use: per-side digest aggregation AND the full-outer join all
    // inherit the buckets' hash distribution — no shuffle anywhere
    val docs = Tables.t(spark, sfDir, "documents")
    val changed = docs.withColumn("text",
      when(col("doc_id") % 10 === 0, concat(col("text"), lit(" edited")))
        .otherwise(col("text")))
      .filter(col("doc_id") % 17 =!= 0) // some removals too
    LayoutOps.writeBucketed(docs, "b_snap_old", Seq("doc_id"), 4)
    LayoutOps.writeBucketed(changed, "b_snap_new", Seq("doc_id"), 4)
    try {
      val diff = DedupOps.snapshotDiff(spark.table("b_snap_old"), spark.table("b_snap_new"))
      val plan = withNoBroadcast(diff.queryExecution.executedPlan.toString)
      assert(!plan.contains("Exchange"),
        s"bucketed snapshotDiff should plan no exchange at all:\n$plan")
      // and the verdict equals the plain-parquet run
      val want = DedupOps.snapshotDiff(docs, changed)
        .groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = diff.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"bucketed diff diverges: $got vs $want")
      assert(got.getOrElse("changed", 0L) > 0 && got.getOrElse("removed", 0L) > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_snap_old")
      spark.sql("DROP TABLE IF EXISTS b_snap_new")
    }
  }

  test("pipeline bucketed dedup: survivor semi join streams the corpus with only the id-side exchange") {
    // LayoutOps semi-join contract: a keep-id set semi-joined against a
    // doc_id-bucketed corpus (LayoutOps.writeBucketed) reads the wide
    // text rows from co-partitioned buckets directly — the ONLY exchange
    // in the join is the tiny id side aligning to the bucket layout.
    val docs = Tables.t(spark, sfDir, "documents")
    LayoutOps.writeBucketed(docs, "b_corpus", Seq("doc_id"), 4)
    try {
      val ids = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
      val semi = spark.table("b_corpus").join(ids, Seq("doc_id"), "left_semi")
      val plan = withNoBroadcast(semi.queryExecution.executedPlan.toString)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected exactly the id-side exchange, got $exchanges:\n$plan")
      assert(semi.count() == docs.filter(col("doc_id") % 3 === 0).count())
    } finally spark.sql("DROP TABLE IF EXISTS b_corpus")
  }

  private def withNoBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }
}
