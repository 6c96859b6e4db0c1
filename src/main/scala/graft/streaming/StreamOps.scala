package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout}

/** Streaming transforms over the events schema.
  *
  * Defined as plain DataFrame→DataFrame functions so the SAME code runs in
  * both modes: batch (`spark.read.parquet` — used by the oracle-checked
  * ev_* queries) and Structured Streaming (`spark.readStream` + watermark —
  * exercised in StreamingSpec via files/memory sinks). That one-definition
  * property is the point: at scale the streaming job IS the batch query with
  * an incremental execution mode, exactly Structured Streaming's model.
  *
  * `ts` arrives as int64 nanoseconds (see Tables.t); [[eventTime]] converts
  * once to a proper timestamp column for window()/watermark use.
  */
object StreamOps {

  /** ns→µs must be INTEGER division: epoch nanos (~1.7e18) exceed double's
    * 2^53 exact-integer range, so Column./ (double division) would corrupt
    * the low digits. `div` keeps it in long arithmetic.
    */
  def eventTime(ts: Column): Column =
    timestamp_micros(call_function("div", ts.cast("long"), lit(1000L)))

  /** 15-minute tumbling-window counts and value sums per event type.
    * Reuses an existing `etime` column when present so the streaming variant
    * can attach its watermark to the SAME column the aggregation groups on
    * (a watermark on a different column never reaches the window operator).
    */
  def tumblingCounts(events: DataFrame): DataFrame = {
    graft.operators.OpContract.requireCols(events, "StreamOps.tumblingCounts",
      Seq("event_type", "value") ++
        (if (events.columns.contains("etime")) Nil else Seq("ts")): _*)
    val withTime =
      if (events.columns.contains("etime")) events
      else events.withColumn("etime", eventTime(col("ts")))
    withTime
      .groupBy(window(col("etime"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Same transform with a watermark — the streaming entry point. The
    * watermark is on `etime`, the exact column the window aggregation uses,
    * so state for closed windows is evicted (and append mode works).
    */
  def tumblingCountsStream(events: DataFrame): DataFrame =
    tumblingCounts(events.withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "30 minutes"))

  /** SLIDING-window counts: 30-minute windows every 15 minutes — each event
    * lands in exactly windowDuration/slideDuration = 2 windows (Spark emits
    * the replicated window rows before the aggregation; the shuffle carries
    * 2× rows, which is the inherent cost of overlap, not a plan flaw).
    * Completes the window-family surface next to tumbling and session.
    */
  def slidingCounts(events: DataFrame): DataFrame = {
    graft.operators.OpContract.requireCols(events, "StreamOps.slidingCounts",
      Seq("event_type", "value") ++
        (if (events.columns.contains("etime")) Nil else Seq("ts")): _*)
    val withTime =
      if (events.columns.contains("etime")) events
      else events.withColumn("etime", eventTime(col("ts")))
    withTime
      .groupBy(window(col("etime"), "30 minutes", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Streaming form of [[slidingCounts]] (watermark on the window column). */
  def slidingCountsStream(events: DataFrame): DataFrame =
    slidingCounts(events.withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "45 minutes"))

  /** Per-user session windows (8h inactivity gap): session start + size. */
  def userSessions(events: DataFrame): DataFrame = {
    graft.operators.OpContract.requireCols(events, "StreamOps.userSessions",
      Seq("user_id") ++
        (if (events.columns.contains("etime")) Nil else Seq("ts")): _*)
    val withTime =
      if (events.columns.contains("etime")) events
      else events.withColumn("etime", eventTime(col("ts")))
    withTime
      .groupBy(session_window(col("etime"), "8 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n_events"))
  }

  /** Streaming form of [[userSessions]]: watermark + Spark's native
    * `session_window` state merging — a session row emits when the
    * watermark passes its close (last event + gap), so state per open
    * session is one (start, end, count) triple and GC is automatic. The
    * append-mode row is final: downstream consumers (retention, funnel
    * denominators) never see a session twice.
    */
  def userSessionsStream(events: DataFrame): DataFrame =
    userSessions(events.withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "1 hour"))

  /** Interval join: each error joined to the clicks of the same user in the
    * preceding 30 minutes. In batch this is an oracle-checked range join
    * (ev_click_error_join); under readStream the watermarks bound the join
    * state — the stream-stream join shape (asserted in StreamingSpec).
    */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    graft.operators.OpContract.requireCols(clicks, "StreamOps.clickErrorJoin clicks", "ts", "user_id", "event_id")
    graft.operators.OpContract.requireCols(errors, "StreamOps.clickErrorJoin errors", "ts", "user_id", "event_id")
    val c = clicks
      .withColumn("ctime", eventTime(col("ts")))
      .withWatermark("ctime", "1 hour")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ctime"))
    val er = errors
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "1 hour")
      .select(col("user_id").as("e_user"), col("event_id").as("error_id"), col("etime"))
    er.join(c,
        col("e_user") === col("c_user") &&
          col("ctime") >= col("etime") - expr("INTERVAL 30 MINUTES") &&
          col("ctime") < col("etime"))
      .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
        unix_micros(col("etime")).as("error_us"), unix_micros(col("ctime")).as("click_us"))
  }

  /** Funnel attribution: for every `toType` event, the LATEST preceding
    * `fromType` event of the same user within `maxGapMin` minutes — the
    * classic click→purchase last-touch attribution. Output one row per
    * CONVERTED to-event: (user_id, to_id, to_us, from_id, from_us,
    * gap_us); unconverted to-events are absent (count them upstream if a
    * conversion-rate denominator is needed).
    *
    * The interval join is the [[clickErrorJoin]] streaming-safe shape
    * (both sides watermarkable, state bounded by the gap); the
    * per-to-event argmax keeps the latest qualifying from-event,
    * µs-deterministic with an event_id tie-break. The rank window
    * partitions by to-event id — at scale each partition is the handful
    * of candidate touches for one conversion, never a corpus sort.
    */
  def funnelAttribution(events: DataFrame, fromType: String = "click",
      toType: String = "purchase", maxGapMin: Int = 10): DataFrame = {
    graft.operators.OpContract.requireCols(events,
      "StreamOps.funnelAttribution", "ts", "user_id", "event_id", "event_type")
    val from = events.filter(col("event_type") === fromType)
      .withColumn("ftime", eventTime(col("ts")))
      .select(col("user_id").as("f_user"), col("event_id").as("from_id"), col("ftime"))
    val to = events.filter(col("event_type") === toType)
      .withColumn("ttime", eventTime(col("ts")))
      .select(col("user_id"), col("event_id").as("to_id"), col("ttime"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("to_id")).orderBy(col("ftime").desc, col("from_id").desc)
    to.join(from,
        col("user_id") === col("f_user") &&
          col("ftime") < col("ttime") &&
          col("ftime") >= col("ttime") - expr(s"INTERVAL $maxGapMin MINUTES"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("to_id"),
        unix_micros(col("ttime")).as("to_us"),
        col("from_id"), unix_micros(col("ftime")).as("from_us"),
        (unix_micros(col("ttime")) - unix_micros(col("ftime"))).as("gap_us"))
  }

  /** Stream-static enrichment: every event joined to its customer row from
    * a STATIC dimension table — the classic streaming enrichment shape.
    * Under readStream the static side is joined per micro-batch with NO
    * streaming state (and a small dimension broadcasts), so this scales to
    * unbounded streams; in batch it is an ordinary broadcast-able equi-join
    * (oracle-checked through ev_enrich). Same one-definition property as
    * the rest of StreamOps.
    */
  def enrichEvents(events: DataFrame, customers: DataFrame): DataFrame = {
    graft.operators.OpContract.requireCols(events, "StreamOps.enrichEvents events", "event_id", "user_id", "event_type", "value")
    graft.operators.OpContract.requireCols(customers, "StreamOps.enrichEvents customers", "c_custkey", "c_mktsegment")
    events.join(
      customers.select(col("c_custkey"), col("c_mktsegment")),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment").as("segment"))
  }

  /** Event-id deduplication — the ingestion guard for at-least-once
    * delivery. Batch twin: plain dropDuplicates over the complete input
    * (oracle-checked as ev_dedup on a deliberately doubled feed).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    graft.operators.OpContract.requireCols(events, "StreamOps.dedupEvents", "event_id").dropDuplicates("event_id")

  /** Streaming form: dropDuplicatesWithinWatermark keeps an event_id in the
    * state store only until the watermark passes it — BOUNDED dedup state,
    * which is what makes exactly-once semantics affordable on an unbounded
    * stream (a plain streaming dropDuplicates would grow state forever).
    * Duplicates arriving within the 1-hour watermark horizon are dropped;
    * the id is then forgotten. Asserted in StreamingSpec.
    */
  def dedupEventsStream(events: DataFrame): DataFrame =
    events
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      // drop the internal watermark column so the output schema matches
      // the batch twin (callers union/sink both paths interchangeably)
      .drop("etime")

  /** Upsert compaction (the CDC merge / keep-latest pattern): one
    * surviving row per key — the greatest by the ordering columns, later
    * ordering columns breaking ties. This is the batch materialization
    * of streaming keyed state (what a `mapGroupsWithState` holds per key
    * is exactly this row), and the compaction every CDC-ingested 100 TB
    * table needs: shuffle on the key, per-key window, no global sort.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && ord.nonEmpty, "latestByKey needs keys and ordering columns")
    graft.operators.OpContract.requireCols(df, "StreamOps.latestByKey", keys: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ord.map(_.desc): _*)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** SCD2 history build (slowly-changing-dimension type 2): turn a CDC
    * change feed into validity intervals — each change row becomes a
    * version valid from its own µs timestamp until the NEXT change of
    * the same key (`valid_to_us` NULL = the current version,
    * `is_current` its flag). The dual of [[latestByKey]]: that op keeps
    * the last state, this one keeps ALL states with their lifetimes —
    * the warehouse pattern for as-of joins against dimension history
    * (compose with the q20-style as-of join to enrich facts at event
    * time).
    *
    * Deterministic: ordering is (ts, tie-break columns) exactly as
    * latestByKey; intervals are pure integer µs. Scale shape: one
    * shuffle on the key, per-key window (lead), no global sort.
    */
  def scd2History(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    require(keys.nonEmpty && ord.nonEmpty, "scd2History needs keys and ordering columns")
    graft.operators.OpContract.requireCols(df, "StreamOps.scd2History", keys :+ "ts": _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("valid_from_us", unix_micros(eventTime(col("ts"))))
      .withColumn("valid_to_us",
        lead(unix_micros(eventTime(col("ts"))), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Count–min sketch counters as a STREAMING aggregation: the same
    * (r, bucket) explode + count as [[graft.operators.SketchOps]]'
    * batch build, run incrementally. This is why sketches earn their
    * keep on streams — the full state is d×w counters forever, no
    * watermark needed (the aggregation state cannot grow with the
    * stream), and the counters are mergeable across jobs by addition.
    * Update-mode output; batch equivalence asserted in StreamingSpec.
    */
  def cmsCountersStream(events: DataFrame, d: Int = 4, w: Int = 1024): DataFrame = {
    graft.operators.OpContract.requireCols(events, "StreamOps.cmsCountersStream", "user_id")
    // the SAME counter build as the batch sketch (one shared definition in
    // SketchOps) — that is what keeps streaming- and batch-built counters
    // mergeable bucket-for-bucket
    graft.operators.SketchOps.cmsCounters(events, col("user_id"), d, w)
  }

  /** Streaming Monte Carlo: turn a stream of simulation REQUESTS
    * (model_id, sim_id, seed, points, bias) into a stream of coin traces —
    * the same counter-based generation as the batch tier, applied with
    * per-row dynamic parameters. Because the RNG is a pure counter hash,
    * the streaming output is bit-identical to batch generation with the
    * same counters (asserted in StreamingSpec), and the operator is
    * trivially parallel/stateless — the 100 TB "simulation service" shape.
    */
  def coinTraceStream(requests: DataFrame): DataFrame =
    requests.select(col("model_id"), col("sim_id"), col("seed"),
      // points <= 0 yields an EMPTY trace: sequence(0, points-1) would
      // otherwise count DOWN (Spark defaults step to -1 when start > stop)
      // and fabricate flips at bogus negative counters for invalid requests
      when(col("points") >= 1,
        transform(sequence(lit(0), col("points") - 1), step =>
          when(graft.core.DeterministicRng.uniformCol(
            col("seed"), col("model_id").cast("long"), col("sim_id"), step) < col("bias"),
            lit("H")).otherwise(lit("T"))))
        .otherwise(array().cast("array<string>")).as("trace"))

  /** Typed event row for the stateful operators. */
  final case class EvRow(event_id: Long, ts: Long, user_id: Long,
      event_type: String, value: Double)

  /** Stateful running per-user event counts via mapGroupsWithState — custom
    * state that survives across micro-batches (asserted in StreamingSpec).
    */
  def runningUserCounts(ds: Dataset[EvRow]): Dataset[(Long, Long)] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[EvRow], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + evs.size
          state.update(total)
          (uid, total)
      }
  }

  /** STREAMING funnel attribution via flatMapGroupsWithState: per-user
    * state is ONE (ts_us, event_id) pair — the latest qualifying
    * from-event — bounded regardless of stream length. Each micro-batch's
    * rows are processed in (event-time, event_id) order within the user
    * group; a to-event emits its attribution immediately against the held
    * from-event. Equals [[funnelAttribution]] on an event-time-ordered
    * feed, including attributions that span micro-batch boundaries
    * (asserted in StreamingSpec); with out-of-order arrival a from-event
    * seen after its to-event cannot attribute retroactively — the
    * bounded-state streaming trade (re-order upstream under a watermark
    * when the source can be late). Same-µs tie handling matches the batch
    * op: ascending (ts, event_id) processing keeps the larger event_id as
    * the surviving from-state, and equal timestamps never attribute
    * (strict <).
    *
    * State GC: with `stateWatermarkDelay = Some(d)` the input gets a
    * watermark and a held from-event EXPIRES once the watermark passes
    * fts + gap — a from-event that old can never attribute again (every
    * future on-time to-event is outside the gap window), so expiry is
    * output-invariant and per-user state is bounded IN TIME for idle
    * users, not just in size. With None (default) state is held forever —
    * the original NoTimeout behavior for un-watermarkable feeds.
    */
  def funnelAttributionStream(events: DataFrame, fromType: String = "click",
      toType: String = "purchase", maxGapMin: Int = 10,
      stateWatermarkDelay: Option[String] = None):
      Dataset[(Long, Long, Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    val gapUs = maxGapMin * 60L * 1000000L
    // the watermarked COLUMN must survive into the fMGWS input or Spark
    // rejects the event-time timeout — keep etime as a carried 5th field
    val base = events
      .filter(col("event_type").isin(fromType, toType))
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(eventTime(col("ts"))).as("ts_us"),
        eventTime(col("ts")).as("etime"))
    val marked = stateWatermarkDelay.fold(base)(d => base.withWatermark("etime", d))
    val typed = marked.as[(Long, Long, String, Long, java.sql.Timestamp)]
    val timeoutConf =
      if (stateWatermarkDelay.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        timeoutConf) {
        (uid: Long, rows: Iterator[(Long, Long, String, Long, java.sql.Timestamp)],
            state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // watermark passed fts + gap: this from-event can never
            // attribute again — drop the state, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._4, r._2))
            val out = Seq.newBuilder[(Long, Long, Long, Long, Long, Long)]
            var last = state.getOption
            sorted.foreach { case (_, eid, typ, ts, _) =>
              if (typ == fromType) last = Some((ts, eid))
              else last.foreach { case (fts, fid) =>
                if (fts < ts && fts >= ts - gapUs)
                  out += ((uid, eid, ts, fid, fts, ts - fts))
              }
            }
            last.foreach { s =>
              state.update(s)
              if (stateWatermarkDelay.isDefined)
                // must exceed the current watermark or Spark rejects it —
                // a from-event already older than watermark−gap gets the
                // minimum legal horizon and expires next batch
                state.setTimeoutTimestamp(
                  math.max(s._1 / 1000L + gapUs / 1000L,
                    state.getCurrentWatermarkMs()) + 1L)
            }
            out.result().iterator
          }
      }
  }

  /** STREAMING incremental ingest-dedup — the production shape of
    * [[graft.operators.DedupOps.minhashPairsAgainst]]: each micro-batch
    * of incoming docs (doc_id, text) is probed against a FIXED,
    * precomputed corpus MinHash index
    * ([[graft.operators.DedupOps.minhashIndex]], computed ONCE outside
    * the stream and typically persisted) inside foreachBatch; `sink`
    * receives (batchId, pairs). Because each new doc's pairs depend only
    * on (corpus, that doc), the union of per-batch pair sets over ANY
    * micro-batch partitioning of a feed — including one interrupted by a
    * stop/restart, since foreachBatch replays from the checkpoint offset
    * — equals the batch op on the whole feed, and the corpus never
    * re-compares against itself (old×old silent across batches and
    * restarts). Per-batch cost ∝ batch size + band collisions, not
    * corpus size. StreamingSpec pins batch-equality across a 3-batch
    * feed with a mid-feed restart.
    */
  def incrementalDedupStream(incoming: DataFrame,
      corpusIndex: (DataFrame, DataFrame))(
      sink: (Long, DataFrame) => Unit): DataStreamWriter[Row] =
    incoming.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      sink(batchId, graft.operators.DedupOps.minhashPairsAgainst(corpusIndex, batch))
    }

  /** STREAMING versioned publish — each non-empty micro-batch lands as
    * an immutable [[graft.sources.SnapshotStore]] version with an atomic
    * pointer flip: the delivery-log shape (every version is one
    * micro-batch's rows; consumers read the live version or fold the
    * version table for the full history — [[graft.sources.SnapshotStore
    * .versions]] carries counts and digests per delivery). Combined with
    * checkpointing, a replayed micro-batch publishes a NEW version
    * rather than corrupting an old one — immutability makes at-least-
    * once delivery auditable instead of silent (the manifest digests of
    * a duplicate delivery match exactly).
    */
  def snapshotPublishStream(docs: DataFrame, root: String,
      idCol: Column): DataStreamWriter[Row] =
    docs.writeStream.foreachBatch { (batch: Dataset[Row], _: Long) =>
      if (!batch.isEmpty) {
        graft.sources.SnapshotStore.publish(batch, root, idCol); ()
      }
    }

  /** STATELESS ingest-time classifier scoring — the streaming twin of
    * [[graft.operators.TextOps.scoreLinear]] for the "score documents as
    * they arrive" filter stage. The batch op explodes to (doc, feature)
    * rows and aggregates; on an unbounded stream that groupBy would hold
    * per-doc state forever. Since a document arrives WHOLE (one row), the
    * same score folds inside the row: the ≤`buckets`-row model collects
    * into a LITERAL MAP (bounded driver model state, the broadcast-twin
    * of the batch op's broadcast join) and `aggregate()` folds the
    * DECIMAL weights over the token array — decimal addition is exact so
    * fold order vs the batch op's sum order cannot matter, and the
    * emitted (n_tokens, score) are IDENTICAL to the batch op
    * (StreamingSpec pins equality across micro-batch splits). Zero
    * state, append mode, works unchanged on batch frames too.
    */
  /** Per-group running moments for [[anomalyStream]]: three numbers,
    * regardless of stream length. */
  final case class MomentState(n: Long, s: Long, s2: Long)
  /** Input row for [[anomalyStream]]: (group, event-time order key, id,
    * floor-integer value). */
  final case class AnomRow(grp: String, ord: Long, id: Long, x: Long)

  /** STREAMING sequential anomaly detection — the stateful twin of
    * [[graft.operators.AuditOps.anomalyVerdicts]]: per group, state is the
    * running `(n, Σx, Σx²)` (three longs, bounded forever); each arriving
    * row is judged against the state BEFORE it and then folded in. Rows
    * within a micro-batch are processed in `(ord, id)` order, so on an
    * event-time-ordered feed the emitted anomaly set is IDENTICAL to the
    * batch verdicts — including verdicts that straddle micro-batch
    * boundaries (StreamingSpec splits the stream mid-group and proves
    * set equality). The z² comparison runs in BigInt, immune to overflow;
    * state updates use Math.addExact/multiplyExact, failing loudly if a
    * stream's magnitude ever exceeds the long contract (pre-scale the
    * value in that regime).
    */
  def anomalyStream(rows: Dataset[AnomRow], z: Int = 3,
      minPrior: Long = 30): Dataset[(String, Long, Long)] = {
    import rows.sparkSession.implicits._
    require(z >= 1, s"anomalyStream needs z >= 1, got $z")
    require(minPrior >= 2, s"anomalyStream needs minPrior >= 2, got $minPrior")
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[MomentState, (String, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[AnomRow], state: GroupState[MomentState]) =>
          var st = state.getOption.getOrElse(MomentState(0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
          it.toSeq.sortBy(r => (r.ord, r.id)).foreach { r =>
            if (st.n >= minPrior) {
              val n = BigInt(st.n); val s = BigInt(st.s); val s2 = BigInt(st.s2)
              val x = BigInt(r.x)
              val d = n * x - s
              if (d * d > BigInt(z.toLong * z) * (n * s2 - s * s))
                out += ((grp, r.id, r.x))
            }
            st = MomentState(st.n + 1, Math.addExact(st.s, r.x),
              Math.addExact(st.s2, Math.multiplyExact(r.x, r.x)))
          }
          state.update(st)
          out.iterator
      }
  }

  /** State for [[cusumStream]]: the two CUSUM accumulators — two longs
    * per group, bounded forever. */
  final case class CusumState(tp: Long, tn: Long)

  /** STREAMING CUSUM — the stateful twin of [[graft.operators.AuditOps
    * .cusumReport]] with the ONLINE reference convention: the batch form
    * centers on the group's own (retrospective) mean; a stream cannot
    * know its final mean, so the deployment form takes an explicit
    * reference `mu` from a baseline period (how production CUSUM is
    * actually run — the reference and slack are CONTROL parameters, not
    * data estimates). State per group is the two accumulators
    * S⁺/S⁻ (two longs, bounded forever); each arriving row updates
    * `S⁺ = max(0, S⁺ + x − mu − k)` / `S⁻ = max(0, S⁻ − x + mu − k)` in
    * exact long arithmetic (loud Math.*Exact overflow) and emits
    * `(grp, id, x, statUp, statDown)` WHEN either statistic exceeds h —
    * the alarm stream. Rows within a micro-batch are processed in
    * `(ord, id)` order, so on an event-time-ordered feed the emitted
    * alarm sequence is identical across micro-batch splits (the carried
    * accumulators stitch the boundary; StreamingSpec proves equality
    * against a single-batch feed).
    */
  def cusumStream(rows: Dataset[AnomRow], mu: Long, k: Long = 1L,
      h: Long = 20L): Dataset[(String, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    require(k >= 0 && h >= 1, s"cusumStream needs k >= 0 and h >= 1, got k=$k h=$h")
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[CusumState, (String, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[AnomRow], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long)]
          it.toSeq.sortBy(r => (r.ord, r.id)).foreach { r =>
            val d = Math.subtractExact(r.x, mu)
            val tp = math.max(0L,
              Math.addExact(st.tp, Math.subtractExact(d, k)))
            val tn = math.max(0L,
              Math.subtractExact(st.tn, Math.addExact(d, k)))
            st = CusumState(tp, tn)
            if (tp > h || tn > h) out += ((grp, r.id, r.x, tp, tn))
          }
          state.update(st)
          out.iterator
      }
  }

  /** STREAMING EWMA control chart — the stateful twin of
    * [[graft.operators.AuditOps.ewmaReport]] (the [[cusumStream]]
    * pattern): per group the state is ONE long (the current smoothed
    * level z, seeded at the caller's baseline `mu` — the batch op seeds
    * at the floor group mean, which a stream cannot know up-front, so
    * the baseline is explicit model state exactly like [[cusumStream]]'s
    * mu); each arriving row advances the integer-floor recursion
    * z ← (x + (el−1)·z) floorDiv el and emits `(grp, id, x, z, dev)`
    * when \|z − mu\| > h. Rows inside a micro-batch process in
    * (ord, id) order, so on an ordered feed the alarm sequence equals
    * the batch fold run with the same seed — including recursions that
    * straddle micro-batch boundaries, which the carried z stitches (the
    * spec splits the feed mid-group and pins equality). State: one long
    * per group, bounded forever.
    */
  def ewmaStream(rows: Dataset[AnomRow], mu: Long, el: Long = 4L,
      h: Long = 20L): Dataset[(String, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    require(el >= 2 && h >= 1, s"ewmaStream needs el >= 2 and h >= 1, got el=$el h=$h")
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[Long, (String, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[AnomRow], state: GroupState[Long]) =>
          var z = state.getOption.getOrElse(mu)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long)]
          it.toSeq.sortBy(r => (r.ord, r.id)).foreach { r =>
            z = Math.floorDiv(
              Math.addExact(r.x, Math.multiplyExact(el - 1L, z)), el)
            val dev = Math.abs(Math.subtractExact(z, mu))
            if (dev > h) out += ((grp, r.id, r.x, z, dev))
          }
          state.update(z)
          out.iterator
      }
  }

  /** State for [[holtStream]]: the level and trend accumulators — two
    * longs per group, bounded forever. */
  final case class HoltState(l: Long, b: Long)

  /** STREAMING HOLT forecaster — the stateful twin of
    * [[graft.operators.AuditOps.holtReport]] (the [[ewmaStream]]
    * pattern with the second, TREND accumulator): per group the state
    * is (ℓ, b) seeded at the caller's baseline `mu` (trend 0); each
    * arriving row first scores the ONE-STEP FORECAST ℓ+b against the
    * observed x — emitting `(grp, id, x, forecast, err)` when
    * \|x − (ℓ+b)\| > h, the forecast-miss alarm stream — then advances
    * both TRUNCATING integer recursions exactly as the batch op
    * (Java `/`, the DuckDB `//` convention; negative trend states
    * divide identically everywhere). Rows inside a micro-batch process
    * in (ord, id) order, so on an ordered feed the alarm sequence
    * equals the batch fold with the same seed — recursions straddling
    * micro-batch boundaries are stitched by the carried (ℓ, b)
    * (StreamingSpec splits the feed mid-group and pins equality).
    * State: two longs per group, bounded forever.
    */
  def holtStream(rows: Dataset[AnomRow], mu: Long,
      h: Long = 20L): Dataset[(String, Long, Long, Long, Long)] = {
    import rows.sparkSession.implicits._
    require(h >= 1, s"holtStream needs h >= 1, got $h")
    rows.groupByKey(_.grp)
      .flatMapGroupsWithState[HoltState, (String, Long, Long, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[AnomRow], state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(mu, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long)]
          it.toSeq.sortBy(r => (r.ord, r.id)).foreach { r =>
            val fc = Math.addExact(st.l, st.b)
            val err = Math.abs(Math.subtractExact(r.x, fc))
            if (err > h) out += ((grp, r.id, r.x, fc, err))
            val l1 = Math.addExact(r.x, Math.multiplyExact(3L, fc)) / 4L
            val b1 = Math.addExact(Math.subtractExact(l1, st.l),
              Math.multiplyExact(3L, st.b)) / 4L
            st = HoltState(l1, b1)
          }
          state.update(st)
          out.iterator
      }
  }

  /** State for [[transitionsStream]]: the user's last-seen event — one
    * small row per user, bounded forever. */
  final case class LastEvent(ord: Long, id: Long, tpe: String)
  /** Input row for [[transitionsStream]]: (user, event-time order key,
    * id, event type). */
  final case class TransRow(user: Long, ord: Long, id: Long, tpe: String)

  /** STREAMING next-event transitions — the stateful twin of
    * [[graft.operators.EventOps.transitionCounts]]: per user, state is
    * the LAST event seen (one small row, bounded forever); each arriving
    * event emits the `(from_type, to_type)` edge linking the stored last
    * event to it, then replaces the state. Rows within a micro-batch are
    * processed in `(ord, id)` order, so on an event-time-ordered feed the
    * emitted edge MULTISET equals the batch op's pair set — including
    * edges that straddle micro-batch boundaries, which the carried state
    * stitches (StreamingSpec splits the feed mid-user and proves multiset
    * equality). Downstream, the same groupBy/normalize the batch op runs
    * turns edges into the transition matrix incrementally.
    */
  def transitionsStream(rows: Dataset[TransRow]): Dataset[(String, String)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user)
      .flatMapGroupsWithState[LastEvent, (String, String)](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[TransRow], state: GroupState[LastEvent]) =>
          var last = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
          it.toSeq.sortBy(r => (r.ord, r.id)).foreach { r =>
            last.foreach(l => out += ((l.tpe, r.tpe)))
            last = Some(LastEvent(r.ord, r.id, r.tpe))
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming twin of the data-quality constraint suite: per 15-minute
    * event-time window, the violation count and row total of each ROW-LEVEL
    * check (not-null / in-range / accepted-values), one output row per
    * (window, check). The predicates are the SAME definitions the batch
    * report compiles ([[graft.operators.AuditOps.violationOf]]), so a
    * quality regression seen on the ingest stream is the identical verdict
    * the batch audit would reach over the landed data — watermarked,
    * append-capable, state bounded by open windows × checks. The k checks
    * ride ONE windowed aggregate (the batch suite's shared-scan property,
    * carried over unchanged).
    */
  def dqViolationsStream(events: DataFrame,
      checks: Seq[graft.operators.AuditOps.Check]): DataFrame = {
    require(checks.nonEmpty, "dqViolationsStream needs at least one check")
    import graft.operators.AuditOps.Check._
    val checkCols = checks.map {
      case NotNull(_, c) => c
      case InRange(_, c, _, _) => c
      case AcceptedValues(_, c, _) => c
      case other => throw new IllegalArgumentException(
        s"check ${other.id} is not row-level (unique/FK checks need the full key space)")
    }
    graft.operators.OpContract.requireCols(events, "StreamOps.dqViolationsStream",
      (checkCols ++
        (if (events.columns.contains("etime")) Nil else Seq("ts"))).distinct: _*)
    val withTime =
      if (events.columns.contains("etime")) events
      else events.withColumn("etime", eventTime(col("ts")))
    val aggs = checks.map { c =>
      sum(when(graft.operators.AuditOps.violationOf(withTime, c), 1).otherwise(0))
        .cast("long").as(s"v_${c.id}")
    } :+ count(lit(1)).as("total")
    val perWindow = withTime
      .groupBy(window(col("etime"), "15 minutes"))
      .agg(aggs.head, aggs.tail: _*)
    perWindow.select(
      unix_micros(col("window.start")).as("window_start_us"),
      explode(array(checks.map(c =>
        struct(lit(c.id).as("check_id"), col(s"v_${c.id}").as("violations"))): _*))
        .as("c"),
      col("total"))
      .select(col("window_start_us"), col("c.check_id"), col("c.violations"), col("total"))
  }

  /** Same suite with the stream watermark attached — the streaming entry
    * point (append mode emits each closed window's report exactly once).
    */
  def dqViolationsStreamWm(events: DataFrame,
      checks: Seq[graft.operators.AuditOps.Check]): DataFrame =
    dqViolationsStream(events.withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "30 minutes"), checks)

  def scoreLinearStream(docs: DataFrame, model: DataFrame,
      buckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(buckets >= 1, s"scoreLinearStream needs buckets >= 1, got $buckets")
    val dec = DecimalType(22, 7)
    val entries = model
      .select(col("feature").cast("long"),
        round(col("weight"), 7).cast(DecimalType(12, 7)))
      .collect()
      .flatMap(r => Seq(lit(r.getLong(0)),
        lit(r.getDecimal(1)).cast(dec)))
    val wmap = if (entries.isEmpty) typedLit(Map.empty[Long, java.math.BigDecimal])
      else map(entries.toSeq: _*)
    val wordsArr = split(col("text"), " ")
    docs.select(col("doc_id"),
      size(wordsArr).cast("long").as("n_tokens"),
      aggregate(wordsArr, lit(java.math.BigDecimal.ZERO).cast(dec),
        // decimal + widens (22,7)+(22,7) -> (23,7); re-cast keeps the
        // accumulator type fixed (exact: |score| <= n_tokens * 1.0)
        (acc, w) => (acc + coalesce(
          element_at(wmap, graft.functions.CrossHash.mdint(w) % buckets),
          lit(java.math.BigDecimal.ZERO).cast(dec))).cast(dec))
        .cast("double").as("score"))
  }

  /** The corpus contract (doc_id, lang, n_chars, text) the shingle ops
    * require, derived from a parsed landing frame that only owes
    * doc_id + text.
    */
  private def corpusShape(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (if (docs.columns.contains("lang")) col("lang") else lit("und")).as("lang"),
      length(col("text")).cast("long").as("n_chars"), col("text"))

  /** The stream-history index that makes the ingest's dedup cross-batch:
    * an md5 digest table (exact dedup) and the persisted MinHash
    * (hashed, bands) tables (near-dup dedup). LAYOUT: one
    * `version=<v>/` partition subdir per snapshot version under each
    * table, written with OVERWRITE per version — so an index write is
    * idempotent (a replay or heal re-writes the same subdir; duplicate
    * rows, which would corrupt the jaccard verify counts, are
    * structurally impossible) and a version counts as indexed exactly
    * when its `digests/version=<v>` subdir committed (`_SUCCESS`).
    * Within [[appendIngestIndex]] the digests table is written LAST:
    * it is [[reconcileIngestIndex]]'s source of truth, so every crash
    * window collapses to "digests subdir absent → recompute all three".
    * The invariant the whole scheme maintains: each published DOC is
    * indexed exactly once, under the first version that published it.
    */
  private def ingestIndexDir(snapRoot: String) = s"$snapRoot/_ingest_index"

  /** Version subdirs of one index table that fully committed. */
  private def indexedVersions(tableDir: String): Seq[Long] = {
    val d = new java.io.File(tableDir)
    if (!d.isDirectory || d.listFiles() == null) Nil
    else d.listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("version=") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.stripPrefix("version=").toLong).sorted
  }

  /** Full-snapshot markers: version `v` holds the ENTIRE corpus (a
    * [[compactIngestLog]] product), not a micro-batch increment. Kept in
    * the ingest-owned index dir so [[graft.sources.SnapshotStore]]'s
    * layout stays untouched.
    */
  private def fullMarkerPath(snapRoot: String, v: Long) =
    java.nio.file.Paths.get(ingestIndexDir(snapRoot), s"full_v=$v.marker")
  private def fullVersions(snapRoot: String): Seq[Long] = {
    val d = new java.io.File(ingestIndexDir(snapRoot))
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.map(_.getName)
      .filter(n => n.startsWith("full_v=") && n.endsWith(".marker"))
      .map(_.stripPrefix("full_v=").stripSuffix(".marker").toLong).sorted
  }

  /** The CURRENT corpus of a streaming ingest log: the newest full
    * snapshot (if any compaction ran) unioned with every increment
    * published after it — the reader contract for `ingestPipeline`
    * output. `dropDuplicates(doc_id)` makes the fold exact even inside
    * the one maintenance window where a freshly-published full snapshot
    * briefly coexists with the increments it folds.
    */
  def ingestCorpus(spark: org.apache.spark.sql.SparkSession,
      snapRoot: String): DataFrame = {
    val pub = graft.sources.SnapshotStore.manifestVersions(snapRoot)
    require(pub.nonEmpty, s"StreamOps.ingestCorpus: nothing published at $snapRoot")
    val from = fullVersions(snapRoot).filter(pub.contains).lastOption
      .getOrElse(Long.MinValue)
    val dirs = pub.filter(_ >= math.max(from, pub.min)).map(v => s"$snapRoot/v=$v")
    spark.read.parquet(dirs: _*).dropDuplicates("doc_id")
  }

  /** MAINTENANCE: fold the ingest log's increments into one compacted
    * full-snapshot version, vacuum the folded increments plus full
    * snapshots beyond `keepFull` (rollback history), and rebuild the
    * history index bounded to the retained versions. Continuous ingest
    * otherwise accretes one version + a few small parquet files per
    * micro-batch — at real arrival rates the version count and FILE
    * COUNT (not bytes) dominate the read path
    * ([[graft.operators.LayoutOps.compact]]'s argument; this is that
    * rewrite expressed as a snapshot publish, so the live pointer flips
    * atomically and a reader resolving `_latest` is never broken
    * mid-maintenance). Returns the compacted version id.
    *
    * Crash discipline: publish → full marker → vacuum → index reset →
    * reconcile rebuild. A crash anywhere leaves a readable store, and
    * every index window collapses onto [[reconcileIngestIndex]]'s
    * version-ordered induction at the next start; an unmarked compacted
    * version is just a (redundant but deduplicated — [[ingestCorpus]]
    * folds by doc_id) increment until the next compaction folds it.
    * The index rebuild re-hashes the retained corpus once — the same
    * asymptotic class as the compaction's own corpus rewrite, paid
    * every `compactEvery` batches, in exchange for the exactly-once
    * index invariant holding through any crash.
    */
  def compactIngestLog(spark: org.apache.spark.sql.SparkSession,
      snapRoot: String, keepFull: Int = 2,
      targetRowsPerFile: Long = 1L << 20): Long = {
    require(keepFull >= 1, s"compactIngestLog: keepFull >= 1, got $keepFull")
    // one materialization: the union feeds a count AND the publish write
    val corpus = ingestCorpus(spark, snapRoot).localCheckpoint()
    val n = corpus.count()
    val files = math.max(1L, (n + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val vc = graft.sources.SnapshotStore.publish(
      corpus.repartition(files), snapRoot, col("doc_id"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(ingestIndexDir(snapRoot)))
    java.nio.file.Files.write(fullMarkerPath(snapRoot, vc), Array.empty[Byte])
    val keep = (fullVersions(snapRoot).filter(_ < vc).takeRight(keepFull - 1) :+ vc).toSet
    graft.sources.SnapshotStore.vacuumKeeping(snapRoot, keep)
    fullVersions(snapRoot).filterNot(keep.contains).foreach(v =>
      java.nio.file.Files.deleteIfExists(fullMarkerPath(snapRoot, v)))
    // index rebuild bounded to the retained versions: reset, then the
    // reconcile induction re-indexes oldest-full-first (each later full
    // anti-joins to its genuinely new docs, the compacted version to the
    // newest increments) — exactly-once coverage by construction
    val idx = ingestIndexDir(snapRoot)
    Seq("digests", "hashed", "bands").foreach(t =>
      graft.sources.SnapshotStore.deleteRecursively(s"$idx/$t"))
    reconcileIngestIndex(spark, snapRoot)
    vc
  }

  /** Write version `v`'s index rows — md5 digests + MinHash (hashed,
    * bands) — as the three `version=<v>/` subdirs, OVERWRITE mode,
    * digests LAST (see the layout note on [[ingestIndexDir]]). Called
    * after every publish and by the reconcile; idempotent per version.
    */
  private def appendIngestIndex(snapRoot: String, v: Long, docs: DataFrame): Unit = {
    val idx = ingestIndexDir(snapRoot)
    val (h, b) = graft.operators.DedupOps.minhashIndex(corpusShape(docs))
    h.repartition(2).write.mode("overwrite").parquet(s"$idx/hashed/version=$v")
    b.repartition(2).write.mode("overwrite").parquet(s"$idx/bands/version=$v")
    docs.select(md5(col("text")).as("digest")).repartition(1)
      .write.mode("overwrite").parquet(s"$idx/digests/version=$v")
  }

  /** Heal the stream-history index against the published versions, in
    * VERSION ORDER: any manifest-backed version whose `digests`
    * subdir never committed (a crash hit the publish→index window, a
    * compaction reset the index, or an operator lost the dirs) gets its
    * NOT-YET-COVERED docs indexed — the anti-join against the digests
    * of EARLIER versions reproduces exactly the doc set the original
    * append would have written (published versions are mutually
    * dup-free because every publish probed a complete index), so
    * overwriting the three subdirs restores exactly-once coverage; a
    * version whose docs are all covered (a retained older full
    * snapshot) gets committed EMPTY subdirs as its presence marker.
    * A second guard heals a digests-complete version whose hashed or
    * bands subdir is missing (partial manual loss): its doc set is
    * recomputed from the same earlier-versions anti-join. Runs once per
    * [[ingestPipeline]] start — bounded by the gap size, zero on a
    * clean restart.
    */
  private def reconcileIngestIndex(
      spark: org.apache.spark.sql.SparkSession, snapRoot: String): Unit = {
    val published = graft.sources.SnapshotStore.manifestVersions(snapRoot)
    if (published.isEmpty) return
    val idx = ingestIndexDir(snapRoot)
    def coveredBefore(v: Long): DataFrame => DataFrame = docs =>
      if (indexedVersions(s"$idx/digests").forall(_ >= v)) docs
      else docs.join(spark.read.parquet(s"$idx/digests")
          .filter(col("version") < v)
          .select(col("digest").as("bl_digest")).distinct(),
        md5(col("text")) === col("bl_digest"), "left_anti")
    published.filterNot(indexedVersions(s"$idx/digests").toSet).foreach { v =>
      appendIngestIndex(snapRoot, v, coveredBefore(v)(
        graft.sources.SnapshotStore.readVersion(spark, snapRoot, v)))
    }
    // partial-loss guard: digests committed but a MinHash table's subdir
    // is gone — recompute that version's doc set and overwrite the pair
    val digested = indexedVersions(s"$idx/digests").toSet
    val incomplete = digested --
      (indexedVersions(s"$idx/hashed").toSet intersect
        indexedVersions(s"$idx/bands").toSet)
    incomplete.toSeq.sorted.foreach { v =>
      appendIngestIndex(snapRoot, v, coveredBefore(v)(
        graft.sources.SnapshotStore.readVersion(spark, snapRoot, v)))
    }
  }

  /** Heal a versioned-append ANN index ([[graft.operators.SimilarityOps
    * .appendVersionToIvfIndex]]) against the published snapshot log: any
    * manifest-backed version with no committed `appends/version=<v>`
    * subdir gets its NOT-YET-INDEXED vectors appended — the anti-join
    * against the vec_ids already in the index (base lists + committed
    * appends; an 8-byte-column scan, the text/embeddings never re-read
    * on the probe side) reproduces exactly the set the original append
    * would have written, so a crash in the publish→ANN-append window, an
    * operator-deleted subdir, or a [[compactIngestLog]] product (whose
    * docs are ALL already indexed under their original increments) each
    * heal to exactly-once vector coverage; a fully-covered version gets
    * a committed EMPTY subdir as its presence marker, so the heal is
    * zero-cost on every later start. Versions published without an
    * embedding column (a pre-ANN era of the log) are marked the same
    * way. Runs once per [[ingestPipeline]] start when `annIndexDir` is
    * set, and after every in-loop compaction.
    */
  def reconcileIvfAppends(spark: org.apache.spark.sql.SparkSession,
      snapRoot: String, annDir: String): Unit = {
    val published = graft.sources.SnapshotStore.manifestVersions(snapRoot)
    // covered = live append subdirs ∪ versions compactIvfIndex folded
    // into the base (their subdirs are gone; re-appending would duplicate)
    val covered = graft.operators.SimilarityOps.annIndexedVersions(annDir).toSet
    val missing = published.filterNot(covered)
    if (missing.isEmpty) return
    val ceType = spark.read.parquet(s"$annDir/centroids.parquet")
      .schema("ce").dataType
    def emptyVectors = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding", ceType))))
    missing.foreach { v =>
      val docs = graft.sources.SnapshotStore.readVersion(spark, snapRoot, v)
      val vectors =
        if (!docs.columns.contains("embedding")) emptyVectors
        else {
          val indexed = graft.operators.SimilarityOps
            .readIvfIndexAll(spark, annDir)._2.select("vec_id")
          docs.filter(col("embedding").isNotNull)
            .select(col("doc_id").as("vec_id"), col("embedding"))
            .join(indexed, Seq("vec_id"), "left_anti")
        }
      graft.operators.SimilarityOps.appendVersionToIvfIndex(
        spark, annDir, v, vectors)
      ()
    }
  }

  /** COMPOSED streaming ingest at BATCH-PIPELINE parity — the production
    * chain assembled from the individually spec-pinned stages, running as
    * ONE continuously-restartable query over a JSONL landing directory.
    * A streaming release drops every class of document the batch
    * [[graft.Pipeline]] build drops:
    *
    * ```
    * readStream.text(landing)                 file source, checkpointed
    *   → CorpusSource.parseJsonl              quarantine split (shared
    *                                          parser with the batch reader)
    *   → exact dedup                          keep-min-doc_id per md5 digest
    *        within the batch AND vs the       (the Pipeline stage-2 policy),
    *        stream-history digest index       cross-batch via the persisted
    *                                          `_ingest_index/digests` probe
    *   → DedupOps.minhashPairsAgainst(index)  drop docs near-dup'ing the
    *                                          FIXED corpus index
    *   → minhashPairsAgainst(history index)   drop paraphrases of docs this
    *                                          stream already PUBLISHED in an
    *                                          earlier batch (first-arrival
    *                                          canonical — the streaming twin
    *                                          of Pipeline's keepCanonical)
    *   → within-batch minhashPairs →          near-dup clusters inside one
    *        nearDupClusters → keepCanonical   delivery keep min doc_id,
    *                                          exactly the Pipeline stage 3
    *   → semanticDecontaminate (optional)     when the landing schema carries
    *                                          an `embedding` column and
    *                                          `benchEmbeddings` is given: the
    *                                          fixed-hyperplane LSH eval-leakage
    *                                          guard (Pipeline's embedding-side
    *                                          stage), per batch
    *   → scoreLinearStream floor              classifier quality gate
    *   → SnapshotStore.publish                one immutable version per
    *                                          non-empty micro-batch
    *   → appendIngestIndex                    the published docs' digests +
    *                                          MinHash rows join the history
    *                                          index for every later batch
    *   → appendVersionToIvfIndex (optional)   when `annIndexDir` names a
    *                                          persisted IVF index: the
    *                                          published vectors join the ANN
    *                                          index as an idempotent
    *                                          `appends/version=<v>` subdir,
    *                                          drift report persisted per
    *                                          version ([[reconcileIvfAppends]]
    *                                          heals any crash window at start)
    * ```
    *
    * All stages run inside one `foreachBatch`, so a micro-batch commits
    * to the checkpoint only after its quarantine append, snapshot publish
    * AND index append completed — a kill anywhere mid-chain replays the
    * whole batch on restart. Replay is IDEMPOTENT for publishes: a
    * replayed batch's docs collide with their own digests in the history
    * index (appended before the checkpoint commit), so the replay
    * publishes nothing new; duplicate quarantine rows stay
    * distinguishable by `batch_id`. A crash between publish and index
    * append is healed by [[reconcileIngestIndex]] at the next start
    * (every publish is manifest-backed before the pointer flip, so the
    * reconcile sees it). The raw landing lines are persisted once per
    * batch — the parse feeds the quarantine branch and the dedup chain
    * without re-reading, and the quarantine append is UNCONDITIONAL (a
    * zero-row parquet append is one short task; the previous `isEmpty`
    * probe was an extra Spark job on every healthy batch — VERDICT r10).
    *
    * Canonical policy note: the batch Pipeline keeps min doc_id per
    * near-dup cluster over the WHOLE delivery; the stream keeps the
    * first-PUBLISHED member (its version is immutable) and min doc_id
    * within a batch. The two releases are identical whenever arrival
    * order agrees with doc_id order across batches (StreamingIngestSpec's
    * equality setup); otherwise each still releases exactly one member
    * per cluster.
    *
    * Scale shape: per-batch cost ∝ batch size + band collisions +
    * ONE columnar scan of the history index (8-byte ids/hashes/digests —
    * the text never re-reads); the landing scan is incremental
    * (file-source offsets in the checkpoint); publish cost is the batch
    * write + O(1) metadata. The fixed corpus index and the score model
    * are bounded model state computed/loaded once outside the stream.
    * StreamingIngestSpec drives the chain end-to-end with a mid-feed
    * stop/restart and pins the published union + quarantine equal to the
    * batch composition of the same stages over the same landed files.
    *
    * Returns the started [[org.apache.spark.sql.streaming.StreamingQuery]].
    */
  def ingestPipeline(
      spark: org.apache.spark.sql.SparkSession,
      landingDir: String,
      schema: org.apache.spark.sql.types.StructType,
      required: Seq[String],
      corpusIndex: (DataFrame, DataFrame),
      model: DataFrame,
      minScore: Double,
      snapRoot: String,
      quarantineDir: String,
      checkpointDir: String,
      benchEmbeddings: Option[DataFrame] = None,
      semThreshold: Double = 0.40,
      compactEvery: Int = 0,
      keepFull: Int = 2,
      annIndexDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    require(schema.fieldNames.contains("doc_id") && schema.fieldNames.contains("text"),
      "StreamOps.ingestPipeline: schema must carry doc_id and text")
    require(compactEvery >= 0, s"compactEvery >= 0, got $compactEvery")
    require(keepFull >= 1, s"keepFull >= 1, got $keepFull")
    benchEmbeddings.foreach { b =>
      require(schema.fieldNames.contains("embedding"),
        "StreamOps.ingestPipeline: benchEmbeddings given but the landing " +
          "schema has no embedding column")
      graft.operators.OpContract.requireCols(b,
        "StreamOps.ingestPipeline benchEmbeddings", "vec_id", "embedding")
    }
    annIndexDir.foreach { d =>
      require(schema.fieldNames.contains("embedding"),
        "StreamOps.ingestPipeline: annIndexDir given but the landing " +
          "schema has no embedding column")
      require(new java.io.File(s"$d/centroids.parquet").isDirectory,
        s"StreamOps.ingestPipeline: no persisted IVF index at $d " +
          "(build one with SimilarityOps.writeIvfIndex first)")
    }
    // heal the history index before any batch probes it (crash window:
    // publish succeeded, index append did not), then the ANN appends
    // against the healed log (crash window: publish + history index
    // succeeded, ANN append did not)
    reconcileIngestIndex(spark, snapRoot)
    annIndexDir.foreach(reconcileIvfAppends(spark, snapRoot, _))
    val idx = ingestIndexDir(snapRoot)
    val lines = spark.readStream.text(landingDir)
      .select(col("value"), input_file_name().as("source_file"))
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // one materialization of the raw lines; the parse projections on
        // both branches below run over the cached partitions
        val cached = batch.persist()
        try {
          val parsed = graft.sources.CorpusSource.parseJsonl(cached, schema, required)
          // 1. quarantine append — unconditional (batch_id for replay
          //    forensics); no per-batch emptiness probe
          parsed.quarantine.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(quarantineDir)
          // 2. exact dedup, Pipeline stage-2 policy: keep min doc_id per
          //    content digest within the batch…
          val keepIds = parsed.good.groupBy(md5(col("text")).as("d"))
            .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
          val exactB = parsed.good.join(keepIds, Seq("doc_id"), "left_semi")
          //    …then drop docs whose digest is already PUBLISHED (the
          //    cross-batch probe; also what makes batch replay idempotent)
          val exact = if (indexedVersions(s"$idx/digests").isEmpty) exactB
            else exactB.join(spark.read.parquet(s"$idx/digests")
                .select(col("digest").as("bl_digest")).distinct(),
              md5(col("text")) === col("bl_digest"), "left_anti")
          // 3. near-dup decontamination against the fixed corpus index
          val dedupIn = corpusShape(exact)
          val corpusDups = graft.operators.DedupOps
            .minhashPairsAgainst(corpusIndex, dedupIn)
            .select(col("doc_new").as("doc_id"))
          // 4. near-dup vs the stream's own published history: a
          //    paraphrase arriving after its original (possibly many
          //    batches later) leaves here
          val histDups = if (indexedVersions(s"$idx/bands").isEmpty)
              corpusDups.limit(0)
            else graft.operators.DedupOps.minhashPairsAgainst(
                (spark.read.parquet(s"$idx/hashed"),
                  spark.read.parquet(s"$idx/bands")), dedupIn)
              .select(col("doc_new").as("doc_id"))
          val fresh0 = exact.join(
            corpusDups.unionAll(histDups).distinct(), Seq("doc_id"), "left_anti")
          // 5. near-dup dedup WITHIN the batch (Pipeline stage 3): pairs →
          //    connected components → canonical min-doc_id survivor
          val freshIn = corpusShape(fresh0)
          val fresh = graft.operators.DedupOps.keepCanonical(fresh0,
            graft.operators.DedupOps.nearDupClusters(
              graft.operators.DedupOps.minhashPairs(freshIn)))
          // 6. semantic decontamination (Pipeline's embedding-side guard):
          //    the release's fixed hyperplanes, per-batch LSH-bucketed
          //    anti join against the broadcast bench
          val decon = benchEmbeddings match {
            case Some(bench) =>
              import graft.operators.SimilarityOps
              SimilarityOps.semanticDecontaminate(
                  fresh.withColumnRenamed("doc_id", "vec_id"), bench, semThreshold,
                  SimilarityOps.RELEASE_DECON_BITS, SimilarityOps.RELEASE_DECON_TABLES,
                  SimilarityOps.RELEASE_DECON_SEED)
                .withColumnRenamed("vec_id", "doc_id")
            case None => fresh
          }
          // 7. classifier floor: the stateless scorer works unchanged on
          //    batch frames; score rides into the published version
          val kept = decon
            .join(scoreLinearStream(decon, model).select("doc_id", "score"), "doc_id")
            .filter(col("score") >= minScore)
            .persist()
          try {
            // 8. one immutable version per non-empty batch, atomic flip;
            //    then the published docs join the history index (order
            //    matters: the index must only ever cover published docs)
            if (!kept.isEmpty) {
              val v = graft.sources.SnapshotStore.publish(kept, snapRoot, col("doc_id"))
              appendIngestIndex(snapRoot, v, kept.drop("score"))
              // 8b. ANN maintenance: the published vectors join the
              //     versioned-append IVF index (overwrite per version →
              //     idempotent under replay; a crash before this line is
              //     healed by reconcileIvfAppends at the next start);
              //     the drift report lands in drift/version=<v>
              annIndexDir.foreach { d =>
                // only docs that ARRIVED with a vector join the index (a
                // JSONL line without the optional field parses to null)
                graft.operators.SimilarityOps.appendVersionToIvfIndex(
                  spark, d, v, kept.filter(col("embedding").isNotNull)
                    .select(col("doc_id").as("vec_id"), col("embedding")))
                ()
              }
              // 9. maintenance policy: once `compactEvery` increments
              //    accrete past the newest full snapshot, fold them into
              //    one compacted version and vacuum to `keepFull` fulls —
              //    continuous ingest never grows versions/small files
              //    unboundedly (metadata-only check per batch)
              if (compactEvery > 0) {
                val pub = graft.sources.SnapshotStore.manifestVersions(snapRoot)
                val increments = fullVersions(snapRoot).filter(pub.contains)
                  .lastOption match {
                  case Some(f) => pub.count(_ > f)
                  case None => pub.size
                }
                if (increments >= compactEvery) {
                  compactIngestLog(spark, snapRoot, keepFull)
                  // the compacted full's docs are all ANN-indexed under
                  // their original increments — the heal writes its empty
                  // presence marker now instead of at the next restart;
                  // then the ANN index rides the same maintenance cycle:
                  // fold the accreted append subdirs into the base lists
                  // so probe cost stays flat in version count
                  annIndexDir.foreach { d =>
                    reconcileIvfAppends(spark, snapRoot, d)
                    graft.operators.SimilarityOps.compactIvfIndex(spark, d)
                    ()
                  }
                  ()
                }
              }
            }
          } finally { kept.unpersist(); () }
        } finally { cached.unpersist(); () }
      }
      .start()
  }

  /** Streaming twin of [[graft.operators.AuditOps.abTestReport]] — the
    * live experiment monitor: per closed event-time window, each
    * variant's exposure/conversion counts, rate, and lift + pooled z²/z
    * vs the `control` variant, computed over EXACT BigInt integers in
    * the batch op's split-fraction form, so a closed window's rows are
    * bit-identical to running the batch readout on the same landed slice
    * (StreamingSpec pins the twin equality — the driftStream contract).
    * Emits `(win, variant, n, conv, rate, lift, z2, z)`; the control row
    * (and every row of a window that never saw the control) carries NULL
    * lift/z2/z.
    *
    * State GC: event-time timeout at window end; state is one
    * (n, conv) pair per (open window, variant) — bounded by design,
    * independent of stream length.
    */
  def abTestStream(events: DataFrame, variantCol: Column, successCol: Column,
      control: String, windowUs: Long = 86400000000L)
      : Dataset[(Long, String, Long, Long, Double,
        Option[Double], Option[Double], Option[Double])] = {
    import events.sparkSession.implicits._
    require(windowUs >= 1L, s"windowUs >= 1, got $windowUs")
    val typed = events
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "0 seconds")
      .filter(variantCol.isNotNull)
      .select(call_function("div", unix_micros(col("etime")), lit(windowUs))
          .as("win"),
        variantCol.cast("string").as("variant"),
        when(successCol, true).otherwise(false).as("ok"), col("etime"))
      .as[(Long, String, Boolean, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, (Long, Long)],
        (Long, String, Long, Long, Double,
          Option[Double], Option[Double], Option[Double])](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (win: Long, rows: Iterator[(Long, String, Boolean, java.sql.Timestamp)],
            state: GroupState[Map[String, (Long, Long)]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            val (n0, c0) = counts.getOrElse(control, (0L, 0L))
            counts.toSeq.sortBy(_._1).iterator.map { case (v, (n, c)) =>
              val rate = c.toDouble / n.toDouble
              if (v == control || n0 == 0L) (win, v, n, c, rate, None, None, None)
              else {
                // exact integers; each emitted value is the batch op's
                // op-for-op division/multiply chain (BigInt→double is
                // correctly rounded, matching the decimal casts)
                val num = BigInt(c) * n0 - BigInt(c0) * n
                val d1 = BigInt(n) * n0
                val bigN = BigInt(n) + n0
                val bigC = BigInt(c) + c0
                val lift = Some(num.toDouble / d1.toDouble)
                val z2 =
                  if (bigC > 0 && bigN > bigC)
                    Some(((num * num).toDouble / d1.toDouble) *
                      (bigN.toDouble / (bigC * (bigN - bigC)).toDouble))
                  else None
                (win, v, n, c, rate, lift, z2, z2.map(math.sqrt))
              }
            }
          } else if (((win + 1L) * windowUs + 999L) / 1000L
              < state.getCurrentWatermarkMs()) {
            // Late rows for an already-closed window: flatMapGroupsWithState
            // does NOT auto-drop late data, and setTimeoutTimestamp at or
            // below the watermark throws — drop the stragglers instead of
            // failing the query (the window's report already shipped). The
            // end-of-window ms is CEILed (driftStream's form) so a windowUs
            // not divisible by 1000 never times out — or drops rows — up to
            // 1ms early; the comparison is STRICT because Spark fires
            // event-time timeouts only when timeoutTs < watermark, so at
            // exact equality the window's state has NOT emitted yet and the
            // row must still be folded in (the clamp below keeps the
            // re-registered timeout legal).
            Iterator.empty
          } else {
            val m = rows.foldLeft(
              state.getOption.getOrElse(Map.empty[String, (Long, Long)])) {
              (acc, r) =>
                val (n, c) = acc.getOrElse(r._2, (0L, 0L))
                acc.updated(r._2, (n + 1L, c + (if (r._3) 1L else 0L)))
            }
            state.update(m)
            state.setTimeoutTimestamp(math.max(((win + 1L) * windowUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** STREAMING sample-ratio-mismatch monitor — the windowed twin of
    * [[graft.operators.AuditOps.srmReport]], and the row to read BEFORE
    * [[abTestStream]]'s: a live experiment whose split breaks mid-flight
    * (a deploy that re-buckets, a bot filter biased to one arm) shows up
    * here within one window, long before the outcome metrics drift.
    * Per event-time tumbling window the per-variant exposure counts are
    * held as state (≤\|variants\| longs per open window); when the
    * watermark closes the window, ONE row ships:
    * `(win, n, n_variants, dof, chi2, crit, mismatch, off_design)` in
    * the batch op's exact arithmetic — quantized BigInt floor-division
    * χ² terms and the round(·,12)-pinned strict (α=0.001) critical
    * value — so a closed window's verdict is bit-identical to running
    * [[graft.operators.AuditOps.srmReport]] over the same landed slice
    * (the spec pins the twin equality). The batch op FAILS LOUDLY on an
    * off-design variant; a stream must not die mid-query, so here
    * off-design exposures are counted in `off_design`, excluded from
    * χ², and force `mismatch = true` (an unknown arm IS a mismatch).
    *
    * State GC: event-time timeout at window end (the [[abTestStream]]
    * discipline, same ceil/clamp boundary handling) — total state is
    * open-windows × variants, independent of stream length.
    */
  def srmStream(events: DataFrame, variantCol: Column,
      expected: Seq[(String, Long)], windowUs: Long = 86400000000L)
      : Dataset[(Long, Long, Long, Long, Double, Option[Double],
        Boolean, Long)] = {
    import events.sparkSession.implicits._
    require(expected.nonEmpty && expected.forall(_._2 > 0),
      "srmStream: expected weights must be positive")
    require(expected.map(_._1).distinct.size == expected.size,
      "srmStream: duplicate variant in expected")
    require(windowUs >= 1L, s"windowUs >= 1, got $windowUs")
    val weights = expected.toMap
    val bigW = expected.map(_._2).sum
    val q = 1000000000L
    val typed = events
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "0 seconds")
      .filter(variantCol.isNotNull)
      .select(call_function("div", unix_micros(col("etime")), lit(windowUs))
          .as("win"),
        variantCol.cast("string").as("variant"), col("etime"))
      .as[(Long, String, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long],
        (Long, Long, Long, Long, Double, Option[Double], Boolean, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (win: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            val (inDesign, off) = counts.partition(kv => weights.contains(kv._1))
            val offN = off.values.sum
            val n = inDesign.values.sum
            val nVariants = inDesign.size.toLong
            val dof = nVariants - 1L
            // the batch op's quantized floor-division terms, verbatim
            val tq = inDesign.foldLeft(BigInt(0)) { case (acc, (v, o)) =>
              val w = weights(v)
              val d = BigInt(bigW) * o - BigInt(n) * w
              acc + (d * d * q) / (BigInt(bigW) * n * w)
            }
            val chi2 = tq.toDouble / 1.0e9
            val crit = if (dof > 0) {
              val cc = BigDecimal(
                (1.0 - 2.0 / (9.0 * dof)) + 3.090 * math.sqrt(2.0 / (9.0 * dof)))
                .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
              Some(dof.toDouble * (cc * cc * cc))
            } else None
            val mismatch = offN > 0 || crit.exists(chi2 >= _)
            Iterator.single((win, n, nVariants, dof, chi2, crit, mismatch, offN))
          } else if (((win + 1L) * windowUs + 999L) / 1000L
              < state.getCurrentWatermarkMs()) {
            Iterator.empty
          } else {
            val m = rows.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
              (acc, r) => acc.updated(r._2, acc.getOrElse(r._2, 0L) + 1L)
            }
            state.update(m)
            state.setTimeoutTimestamp(math.max(((win + 1L) * windowUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }


  /** STREAMING categorical drift monitor — the windowed twin of
    * [[graft.operators.AuditOps.categoricalDrift]]: per event-time
    * tumbling window, the category histogram is held as state (bounded by
    * \|categories\| longs per open window) and compared against a
    * broadcast BASELINE histogram when the watermark closes the window.
    * Emits one row per category in the union of (window, baseline) keys:
    * `(win, cat, o_cnt, n_cnt, tvd)`, where `tvd` is the window's
    * total-variation distance in the batch op's exact arithmetic —
    * Σ\|n_c·N_o − o_c·N_n\| in BigInt with ONE final division, so a
    * window's verdict is bit-identical to running the batch audit over
    * the same landed slice (StreamingSpec pins this twin equality).
    *
    * State GC: EVENT-TIME timeout at window end — a window's state lives
    * exactly until the watermark passes it, the [[expiringSessions]]
    * discipline; total state is open-windows × categories, independent of
    * stream length. The baseline is driver-held model state
    * (≤\|categories\| entries), the same bound the batch op's broadcast
    * carries.
    */
  def driftStream(events: DataFrame, baseline: Map[String, Long],
      windowUs: Long = 86400000000L): Dataset[(Long, String, Long, Long, Double)] = {
    import events.sparkSession.implicits._
    require(baseline.nonEmpty, "driftStream needs a non-empty baseline histogram")
    require(windowUs >= 1L, s"windowUs >= 1, got $windowUs")
    val nOld = BigInt(baseline.values.map(BigInt(_)).sum.toString)
    // the watermark column must SURVIVE into the grouping input (the
    // unsupported-operation checker requires it on the child), so etime
    // rides along even though the key is the derived window index
    val typed = events
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "0 seconds")
      .select(call_function("div", unix_micros(col("etime")), lit(windowUs))
          .as("win"),
        col("event_type").as("cat"), col("etime"))
      .as[(Long, String, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Map[String, Long], (Long, String, Long, Long, Double)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (win: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            val nNew = BigInt(counts.values.map(BigInt(_)).sum.toString)
            val cats = (counts.keySet ++ baseline.keySet).toSeq.sorted
            val num = cats.map { c =>
              (BigInt(counts.getOrElse(c, 0L)) * nOld -
                BigInt(baseline.getOrElse(c, 0L)) * nNew).abs
            }.sum
            // BigInt→double is correctly rounded, so this single division
            // matches the batch op's decimal-cast division bit-for-bit
            val tvd = num.toDouble / (BigInt(2) * nOld * nNew).toDouble
            cats.iterator.map(c =>
              (win, c, baseline.getOrElse(c, 0L), counts.getOrElse(c, 0L), tvd))
          } else if (((win + 1L) * windowUs + 999L) / 1000L
              < state.getCurrentWatermarkMs()) {
            // late rows for a closed window — drop, don't recreate state
            // (setTimeoutTimestamp at/below the watermark would throw).
            // STRICT comparison: timeouts fire only when timeoutTs <
            // watermark, so at exact equality this window's state has not
            // emitted yet and the row still belongs to it.
            Iterator.empty
          } else {
            val m = rows.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
              (acc, r) => acc.updated(r._2, acc.getOrElse(r._2, 0L) + 1L)
            }
            state.update(m)
            // expire when the watermark passes the window end — CEIL to
            // ms so a window never times out before its true end (early
            // timeout would re-open the window on a late-but-in-window
            // event and emit it twice with split counts); clamp above the
            // current watermark for the equality-boundary fold (the
            // expiringSessions guard)
            state.setTimeoutTimestamp(math.max(((win + 1L) * windowUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }

  /** Watermark-expired sessions via flatMapGroupsWithState with
    * EVENT-TIME timeout: per-user event counts are held as state and
    * emitted only when the watermark passes (session end + 1h) — the
    * bounded-state session-aggregation shape for unbounded user counts.
    * Emits (user_id, n_events) once per expired session.
    */
  def expiringSessions(events: DataFrame): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    val typed = events
      .withColumn("etime", eventTime(col("ts")))
      .withWatermark("etime", "0 seconds")
      .select(col("user_id"), col("etime"))
      .as[(Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator((uid, out._2))
          } else {
            var (maxTs, n) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { r => maxTs = math.max(maxTs, r._2.getTime); n += 1 }
            state.update((maxTs, n))
            // expire once the watermark passes last event + 1 hour; a
            // >1h-late straggler re-opens the session, so clamp the
            // timeout ABOVE the current watermark (setTimeoutTimestamp
            // at/below it throws) — the sessionization guard at the
            // userSessionsStream call site, applied here too
            state.setTimeoutTimestamp(math.max(maxTs + 3600 * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
  }
}
