package graft.streaming

import graft.normalize.Drift
import graft.pipeline.CommercePulse
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming upgrade of the daily-batch ingest (SURVEY §2.8).
  *
  * The reference processes dated JSONL directories in batch; the same
  * envelope flows here as an unbounded stream: file source → event-time
  * watermark → exactly-once-style dedup on event_id → windowed aggregates
  * / upsert sink via foreachBatch.
  *
  * Scale notes: dedup state is bounded by the watermark (7 days — the
  * generator's max lateness); the daily aggregate uses a 1-day tumbling
  * window on event time, so state per key is one window row. foreachBatch
  * runs the same latest-wins upsert as batch — replays are idempotent.
  */
object EventStream {

  /** Streaming file source over envelope JSONL directories (S2, streaming).
    * `maxFilesPerTrigger` bounds micro-batch size (and lets tests force a
    * grain to span several batches).
    */
  def readLiveStream(spark: SparkSession, pathGlob: String,
                     maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(CommercePulse.EnvelopeSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.json(pathGlob).filter(col("event_id").isNotNull)
  }

  /** Event-time column + watermark + D3 dedup. Late data beyond
    * `lateness` is dropped; duplicate event_ids within the watermark
    * horizon collapse to the first arrival.
    *
    * dropDuplicatesWithinWatermark, NOT dropDuplicates: with plain
    * dropDuplicates on [event_id] the watermark never evicts dedup state
    * (eviction requires the event-time column among the keys), so every
    * event_id ever seen stays in the state store for the life of the
    * stream. The WithinWatermark variant expires each key once the
    * watermark passes its first arrival + delay — state is bounded by
    * the lateness horizon, which is exactly the dedup guarantee the
    * generator's ≤7-day duplicates need.
    */
  def dedupWithWatermark(events: DataFrame, lateness: String = "7 days"): DataFrame =
    events
      .withColumn("event_ts", Drift.parseTimestampMulti(col("event_time")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** 1-day tumbling-window per-vendor counts/amounts over the deduped
    * stream — the streaming analogue of fact_order_daily's grain.
    */
  def dailyWindowAgg(deduped: DataFrame): DataFrame =
    deduped
      .groupBy(window(col("event_ts"), "1 day").as("day"), col("vendor"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("day.start").cast("date").as("event_date"),
        col("vendor"), col("n_events"))

  /** Sliding-window per-vendor counts: windows of `size` every `slide`
    * (size > slide ⇒ overlapping windows; each event lands in
    * size/slide windows).
    */
  def slidingWindowAgg(deduped: DataFrame, size: String, slide: String): DataFrame =
    deduped
      .groupBy(window(col("event_ts"), size, slide).as("w"), col("vendor"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("vendor"), col("n_events"))

  /** Session windows: events for one vendor that arrive within `gap` of
    * each other merge into one session row (state closes `gap` past the
    * watermark).
    */
  def sessionAgg(deduped: DataFrame, gap: String): DataFrame =
    deduped
      .groupBy(session_window(col("event_ts"), gap).as("s"), col("vendor"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("s.start").as("session_start"), col("s.end").as("session_end"),
        col("vendor"), col("n_events"))

  /** `df` plus column `name`: the first non-null of the payload's drift
    * keys `paths`. Read through the generator form of the payload kernel
    * (`Drift.jsonFields`), so a caller's filter on `name` stays above it
    * and each row's payload is parsed once; a scalar `Drift.jsonCoalesce`
    * column would be copied into the filter pushed below the projection
    * and evaluated twice.
    */
  private def withPayloadKey(df: DataFrame, name: String, paths: Seq[String]): DataFrame =
    df.select(col("*"), Drift.jsonFields(col("payload"), Seq(name -> paths)))

  /** Approximate distinct order refs per 1-day window — Spark's built-in
    * HLL sketch (`hll_sketch_agg`) composed with streaming: state per
    * window is ONE ~4 KB HLL sketch instead of a distinct-ref set, so a
    * window touching 10⁸ orders holds the same state as one touching
    * 10³, and the sketch buffer merges across micro-batches like any
    * streaming aggregate. Refs are drift-normalized out of the payload
    * exactly as the batch pipeline does.
    */
  def dailyApproxOrders(deduped: DataFrame, lgK: Int = 12): DataFrame =
    withPayloadKey(deduped, "ref", Seq("orderRef", "order_id"))
      .filter(col("ref").isNotNull)
      .groupBy(window(col("event_ts"), "1 day").as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("ref"), lit(lgK)))
        .cast("long").as("approx_orders"))
      .select(col("day.start").cast("date").as("event_date"),
        col("approx_orders"))

  /** Per-day KMV state: the ≤k smallest md5 hashes of the day's distinct
    * order refs (sorted ascending) — bounded, mergeable, engine-portable.
    */
  case class KmvDaily(event_date: java.sql.Date, nk: Int, hk: Long, kmv_est: Long)

  /** Deterministic per-day KMV distinct-ref sketch over the stream — the
    * streaming twin of [[graft.queries.Approx]]'s `sk_kmv` estimator.
    *
    * Why this exists next to `dailyApproxOrders` (HLL): HLL buckets are
    * not portable, so that path can only ever be band-asserted. KMV state
    * is the k smallest md5 hashes — a value any engine computes
    * identically — so the streaming result is BIT-EQUAL to the batch
    * sketch over the same events, which is what KmvStreamSpec asserts
    * (the repo's exactness doctrine, extended to streaming state).
    *
    * State per day is ≤ k hashes (~2 KB at k=64) regardless of day
    * volume; merging a micro-batch is distinct-union + re-take-k, which
    * is associative and order-insensitive — the reason the cross-batch
    * trajectory lands on the same sketch as a one-shot batch pass.
    * Estimate: exact (= nk) below capacity, (k-1)·2⁴⁸ div θ above it,
    * integer-exact via the same 48-bit hash prefix as the batch query.
    *
    * NoTimeout is deliberate for the spec surface; a production deploy
    * would anchor an event-time TTL exactly like [[orderLifecycle]].
    */
  def dailyKmvOrders(deduped: DataFrame, k: Int = 64): Dataset[KmvDaily] = {
    val spark = deduped.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = withPayloadKey(deduped, "ref", Seq("orderRef", "order_id"))
      .filter(col("ref").isNotNull)
      .select(to_date(col("event_ts")).cast("string").as("day"),
        md5(col("ref")).as("h"))
      .as[(String, String)]

    def update(day: String, rows: Iterator[(String, String)],
               state: GroupState[Array[String]]): Iterator[KmvDaily] = {
      val merged = (state.getOption.getOrElse(Array.empty[String]).iterator
          ++ rows.map(_._2))
        .toArray.distinct.sorted.take(k)
      state.update(merged)
      val nk = merged.length
      // θ = 48-bit prefix of the kth smallest hash, same parse as batch
      val hk = java.lang.Long.parseLong(merged.last.substring(0, 12), 16)
      // hk == 0 in the estimator branch means k DISTINCT md5s all share a
      // 12-zero hex prefix — probability ~k·2⁻⁴⁸ per day, i.e. corrupt or
      // adversarial refs. /0 would kill the stream with a bare
      // ArithmeticException; fail loudly and say why (loud-guard
      // doctrine, same as a11/ts_anomaly's raise_error).
      val est =
        if (nk < k) nk.toLong
        else if (hk == 0L) throw new IllegalStateException(
          s"dailyKmvOrders: day $day kth-smallest hash has an all-zero " +
            "48-bit prefix (k distinct md5s sharing 12 leading zero hex " +
            "chars) — refs are corrupt or adversarial; KMV θ undefined")
        else ((k - 1).toLong * (1L << 48)) / hk
      Iterator.single(KmvDaily(java.sql.Date.valueOf(day), nk, hk, est))
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** Stream-static enrichment: join the live stream against a static
    * dimension snapshot (broadcast per micro-batch; no stream state).
    */
  def enrichWithDim(deduped: DataFrame, dim: DataFrame, key: String): DataFrame =
    deduped.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream inner join: order-created events to payment events of
    * the same order ref, with the payment arriving within `horizon` after
    * the order. BOTH sides are watermarked and the join condition carries
    * an event-time range, so Spark can expire buffered rows — state per
    * side is bounded by (watermark + horizon), never the whole stream.
    * The order ref is drift-normalized out of the payload (vendor_a
    * `orderRef` vs vendor_b/c `order_id`), same as the batch pipeline.
    */
  def orderPaymentJoin(orders: DataFrame, payments: DataFrame,
                       lateness: String = "1 day",
                       horizon: String = "2 hours"): DataFrame = {
    def keyed(df: DataFrame, side: String) = withPayloadKey(df
        .withColumn(s"${side}_ts", Drift.parseTimestampMulti(col("event_time")))
        .filter(col(s"${side}_ts").isNotNull),
        s"${side}_ref", Seq("orderRef", "order_id"))
      .filter(col(s"${side}_ref").isNotNull)
      .withWatermark(s"${side}_ts", lateness)
    val o = keyed(orders.filter(col("event_type") === "order_created"), "o")
      .select(col("o_ref"), col("o_ts"), col("vendor"))
    val p = keyed(payments.filter(col("event_type") === "payment_succeeded"), "p")
      .select(col("p_ref"), col("p_ts"), col("event_id").as("payment_event_id"))
    o.join(p, expr(
      s"o_ref = p_ref AND p_ts >= o_ts AND p_ts <= o_ts + interval $horizon"))
  }

  /** Streaming fact_order_daily refresh: each non-empty micro-batch
    * (1) upserts its events into a durable event store keyed by event_id
    * (`<outPath>_events`, latest `ingested_at` wins), then (2) recomputes
    * the whole table from the full store with the same library calls as
    * the batch pipeline and swaps it in over `outPath` (the paper's
    * truncate-load). The table therefore equals the batch recompute over
    * every event delivered so far after every batch, by construction:
    * an update that moves an order's date, or a re-send that moves a
    * payment or refund to another order, leaves no stale grain behind.
    * Replaying a batch is idempotent end-to-end: the store upsert
    * collapses re-delivered event_ids, and the recompute reads only the
    * store.
    *
    * Scale shape: every batch is O(history). The store upsert reads and
    * rewrites the whole store, and the recompute JSON-normalizes the
    * whole store, runs the latest-wins and first-wins windows over every
    * order, payment and refund, and rewrites the whole table. A touched-
    * grain merge does not help here: finding and recomputing the touched
    * grains needs the same full-store parse and windows, and the grain
    * replace rewrites the whole table too. O(batch) work needs normalized
    * stores keyed by order_id that a recompute can read by key. A
    * micro-batch with no rows writes nothing, so a stream that never
    * delivers an event writes no tables at all: neither the store nor
    * `outPath` exists afterwards.
    */
  def startDailyRefresh(spark: SparkSession, deduped: DataFrame, outPath: String,
                        checkpoint: String): StreamingQuery =
    deduped.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        // a batch with no rows, the watermark-only batch that closes an
        // AvailableNow run, changes nothing: skip the store rewrite and
        // the recompute
        try if (!b.isEmpty) refreshDaily(spark, b, outPath)
        finally b.unpersist()
      }
      .start()

  /** One non-empty micro-batch of [[startDailyRefresh]]: steps (1)-(2). */
  private def refreshDaily(spark: SparkSession, b: DataFrame,
                           outPath: String): Unit = {
    import CommercePulse._
    val store = s"${outPath}_events"
    Sinks.upsertParquet(spark, b, store,
      Seq("event_id"), Seq(col("ingested_at").desc_nulls_last))
    val full = spark.read.parquet(store)
    Sinks.writeSwap(factOrderDaily(normalizeOrders(full),
      normalizePayments(full), normalizeRefunds(full)), outPath)
  }

  /** Per-order lifecycle state for `orderLifecycle`. */
  case class OrderLifecycle(order_id: String, n_order_events: Long,
                            n_payments: Long, n_refunds: Long, status: String)

  /** Arbitrary stateful processing (§2.8 custom-state tier): a per-order
    * state machine over the deduped stream via flatMapGroupsWithState.
    * Each order folds its events into (event counts, lifecycle status:
    * open → paid → refunded); state carries an EVENT-TIME timeout
    * `stateTtl` past the watermark, so state size is bounded by the
    * active-order window, not stream history — the property that keeps
    * this runnable forever on an unbounded stream.
    */
  def orderLifecycle(deduped: DataFrame,
                     stateTtlMs: Long = 30L * 24 * 3600 * 1000): Dataset[OrderLifecycle] = {
    val spark = deduped.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ttlMillis = stateTtlMs
    // keep `event_ts` as the untouched watermarked timestamp column —
    // casting it would strip the watermark tag the event-time timeout
    // needs to see flowing into the stateful operator
    val typed = withPayloadKey(deduped, "__oid",
        Seq("order_id", "orderRef", "order.id", "orderId", "order"))
      .filter(col("__oid").isNotNull)
      .select(col("__oid").as("order_id"), col("event_type"), col("event_ts"))
      .as[(String, String, java.sql.Timestamp)]

    def update(orderId: String, events: Iterator[(String, String, java.sql.Timestamp)],
               state: GroupState[OrderLifecycle]): Iterator[OrderLifecycle] = {
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        var s = state.getOption.getOrElse(OrderLifecycle(orderId, 0L, 0L, 0L, "open"))
        var maxTs = 0L
        events.foreach { case (_, et, ts) =>
          if (ts != null && ts.getTime > maxTs) maxTs = ts.getTime
          s = et match {
            case t if CommercePulse.PaymentTypes.contains(t) =>
              s.copy(n_payments = s.n_payments + 1,
                status = if (s.status == "refunded") s.status else "paid")
            case t if CommercePulse.RefundTypes.contains(t) =>
              s.copy(n_refunds = s.n_refunds + 1, status = "refunded")
            case t if CommercePulse.OrderTypes.contains(t) =>
              s.copy(n_order_events = s.n_order_events + 1)
            case _ => s
          }
        }
        state.update(s)
        // expire `stateTtl` past max(live watermark, this batch's own max
        // event time). Anchoring to the watermark alone has two failure
        // modes: the FIRST micro-batch runs with watermark 0, where
        // 0+ttl (1970) evicts first-batch orders at the second trigger
        // (the round-2 bug); and skipping the set while watermark == 0
        // (round 2's fix) leaked state forever for keys whose events ALL
        // arrive before the watermark goes live — e.g. an entire
        // AvailableNow backfill. The max() anchor is always a valid
        // future timestamp AND always registered, so every key expires.
        val anchor = math.max(state.getCurrentWatermarkMs(), maxTs)
        if (anchor > 0) state.setTimeoutTimestamp(anchor + ttlMillis)
        Iterator.single(s)
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One attribution verdict: the purchase, its money, and the channel of
    * the latest touch at-or-before it ("direct" when none).
    */
  case class AttributionVerdict(purchase_id: Long, user_id: Long,
                                cents: Option[Long], channel: String)

  /** Per-user attribution state: touches as (epochMillis, nanos, channel)
    * — the two-int timestamp split survives the product encoder exactly —
    * purchases as (id, millis, nanos, cents), and the last emitted channel
    * per purchase (so re-emission happens only on verdict CHANGES).
    */
  case class AttribState(touches: Array[(Long, Int, String)],
                         purchases: Array[(Long, Long, Int, Option[Long])],
                         verdicts: Map[Long, String])

  /** Streaming twin of the batch `ev_attribution` as-of composition
    * ([[graft.operators.AsOf.joinAsOf]] over purchases × touches): a
    * per-user state machine that continuously assigns each purchase the
    * channel of the user's latest touch at-or-before it, revising the
    * verdict when a late touch lands between the previous best touch and
    * the purchase. Emission is delta-only: a purchase row appears when its
    * verdict is first computed or CHANGES — downstream keeps latest per
    * purchase_id, and the final map is bit-equal to the batch as-of join
    * over the same events (AttributionStreamSpec's assertion, per the
    * repo's streaming-exactness doctrine alongside KmvStreamSpec).
    *
    * Batch-parity semantics, replayed exactly: touches at the same
    * (user, instant) collapse to max(event_type) — the deterministic
    * tie-break both engines use — and the as-of comparison is inclusive
    * (a touch AT the purchase instant wins). Timestamps compare at full
    * parquet precision via the (millis, nanos) split, never truncated.
    *
    * State is WATERMARK-BOUNDED, which is what lets this run forever at
    * 100 TB/day: once the watermark passes a purchase's ts no touch that
    * could re-attribute it can still arrive (late rows are dropped
    * upstream), so the purchase and its verdict entry are pruned; touches
    * strictly older than the watermark are dominated — any FUTURE purchase
    * probes at ts ≥ watermark, so only the latest pre-watermark touch can
    * ever win again and only that one is kept. Per-user state is therefore
    * O(events inside the lateness horizon), not O(user history). A replay
    * of an already-pruned purchase re-emits the same final verdict —
    * idempotent downstream, same contract as the upsert sinks.
    */
  def purchaseAttribution(events: DataFrame, lateness: String = "7 days")
      : Dataset[AttributionVerdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", lateness)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, java.sql.Timestamp, String, Option[Long])]

    def key(ts: java.sql.Timestamp): (Long, Int) = (ts.getTime, ts.getNanos)

    def update(user: Long,
               rows: Iterator[(Long, Long, java.sql.Timestamp, String, Option[Long])],
               state: GroupState[AttribState]): Iterator[AttributionVerdict] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val s0 = state.getOption.getOrElse(
        AttribState(Array.empty, Array.empty, Map.empty))
      val touches = scala.collection.mutable.Map[(Long, Int), String]()
      s0.touches.foreach { case (ms, ns, ch) => touches((ms, ns)) = ch }
      val purchases =
        scala.collection.mutable.Map[Long, (Long, Int, Option[Long])]()
      s0.purchases.foreach { case (id, ms, ns, c) => purchases(id) = (ms, ns, c) }
      rows.foreach { case (_, eid, ts, et, cents) =>
        val (ms, ns) = key(ts)
        if (et == "purchase") {
          if (!purchases.contains(eid)) purchases(eid) = (ms, ns, cents)
        } else {
          val ch = touches.get((ms, ns)) match {
            case Some(prev) if prev >= et => prev
            case _ => et
          }
          touches((ms, ns)) = ch
        }
      }
      // (millis, nanos) tuples order exactly like full-precision timestamps
      val sorted = touches.toArray.sortBy(_._1)
      def channelFor(ms: Long, ns: Int): String = {
        // latest touch with (touch ms, ns) <= (ms, ns): binary search for
        // the insertion point of the key just past the probe
        var lo = 0; var hi = sorted.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val (tms, tns) = sorted(mid)._1
          if (tms < ms || (tms == ms && tns <= ns)) lo = mid + 1 else hi = mid
        }
        if (lo == 0) "direct" else sorted(lo - 1)._2
      }
      val out = scala.collection.mutable.ArrayBuffer[AttributionVerdict]()
      val verdicts = scala.collection.mutable.Map[Long, String]()
      purchases.foreach { case (id, (ms, ns, cents)) =>
        val ch = channelFor(ms, ns)
        verdicts(id) = ch
        if (!s0.verdicts.get(id).contains(ch))
          out += AttributionVerdict(id, user, cents, ch)
      }
      // watermark pruning (see scaladoc): finalized purchases leave,
      // pre-watermark touches collapse to the single dominating latest one
      val wm = state.getCurrentWatermarkMs()
      val keptP = purchases.iterator
        .filter { case (_, (ms, _, _)) => ms >= wm }
        .map { case (id, (ms, ns, c)) => (id, ms, ns, c) }.toArray
      val (oldT, liveT) = sorted.partition(_._1._1 < wm)
      val keptT = (oldT.takeRight(1) ++ liveT)
        .map { case ((ms, ns), ch) => (ms, ns, ch) }
      val keptV = verdicts.iterator
        .filter { case (id, _) => purchases(id)._1 >= wm }.toMap
      if (keptP.isEmpty && keptT.isEmpty) state.remove()
      else {
        state.update(AttribState(keptT, keptP, keptV))
        // any real future anchor works; the state's own live horizon is
        // the natural one — wm alone is 0 on the first batch (orderLifecycle
        // learned this the hard way)
        val maxTs = (keptP.map(_._2) ++ keptT.map(_._1)).max
        val anchor = math.max(wm, maxTs)
        if (anchor > 0) state.setTimeoutTimestamp(
          anchor + 8L * 24 * 3600 * 1000) // lateness horizon + a day
      }
      out.iterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** One sessionization emission. `n_events == 0` RETRACTS a previously
    * emitted (user, session_id) — downstream keeps the latest row per key
    * and drops retracted ids, same idempotent-sink contract as the rest
    * of the streaming tier.
    */
  case class SessionVerdict(user_id: Long, session_id: Long, n_events: Long,
                            session_start: java.sql.Timestamp,
                            session_end: java.sql.Timestamp)

  /** Per-user sessionize state: `finalized` = sessions already immutable
    * and dropped (keeps later ids STABLE), `live` = open sessions as
    * (startMs, startNs, endMs, endNs, n) sorted by start, `emitted` =
    * last-emitted tuple per live id (change-only re-emission),
    * `max_emitted_id` = tombstone high-water mark.
    */
  case class SessionState(finalized: Long,
                          live: Array[(Long, Int, Long, Int, Long)],
                          emitted: Map[Long, (Long, Long, Int, Long, Int)],
                          max_emitted_id: Long)

  /** Streaming twin of the batch `ev_sessionize` 30-min-gap
    * sessionization — continuous session rows per user, bit-equal to the
    * batch window query on the same corpus (SessionizeStreamSpec's
    * assertion, the KmvStreamSpec doctrine at the session tier).
    *
    * Sessions are maximal event chains with consecutive gaps ≤ `gapSec`
    * in FLOOR-SECOND space — exactly batch's `unix_timestamp(ts) -
    * unix_timestamp(prev) > 1800` test. Per-user state holds only
    * (start, end, n) summaries of open sessions, which suffices for
    * exact maintenance under out-of-order arrival: an event strictly
    * inside a session's span always chains to it, so membership and
    * merging are decided by interval distance alone. A late event
    * bridging two sessions merges them (counts add; bounds extend) and
    * the tail sessions' ids shift down — shifted ids re-emit changed
    * tuples, and ids past the new maximum emit tombstones.
    *
    * Id stability at unbounded runtime: a session whose end is more than
    * `gapSec` behind the watermark can never change or merge (late rows
    * beyond the watermark are dropped upstream), so it is FINALIZED —
    * emitted in final form, dropped from state, and counted in
    * `finalized`, which later ids are numbered from. Session ids per
    * user are therefore `finalized + position + 1` = the batch query's
    * cumulative session index, while live state stays O(events inside
    * the lateness horizon) per user regardless of history — the property
    * that keeps this runnable forever. The TTL anchor mirrors
    * [[orderLifecycle]]'s max(watermark, batch max) lesson.
    */
  def userSessionize(events: DataFrame, lateness: String = "7 days",
                     gapSec: Long = 1800L,
                     stateTtlMs: Long = 30L * 24 * 3600 * 1000)
      : Dataset[SessionVerdict] = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gap = gapSec
    val ttlMillis = stateTtlMs
    val typed = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", lateness)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]

    def sec(ms: Long): Long = Math.floorDiv(ms, 1000L)
    def tsOf(ms: Long, ns: Int): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(ms); t.setNanos(ns); t
    }
    // (ms, nanos) pairs order exactly like full-precision timestamps
    def before(aMs: Long, aNs: Int, bMs: Long, bNs: Int): Boolean =
      aMs < bMs || (aMs == bMs && aNs < bNs)

    def update(user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
               state: GroupState[SessionState]): Iterator[SessionVerdict] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val s0 = state.getOption.getOrElse(
        SessionState(0L, Array.empty, Map.empty, 0L))
      val live =
        scala.collection.mutable.ArrayBuffer.from(s0.live)
      var maxTs = 0L
      rows.foreach { case (_, ts) =>
        val tMs = ts.getTime; val tNs = ts.getNanos
        if (tMs > maxTs) maxTs = tMs
        val tSec = sec(tMs)
        val (conn, rest) = live.partition { case (sMs, _, eMs, _, _) =>
          tSec >= sec(sMs) - gap && tSec <= sec(eMs) + gap }
        var nsMs = tMs; var nsNs = tNs; var neMs = tMs; var neNs = tNs
        var nn = 1L
        conn.foreach { case (sMs, sNs, eMs, eNs, n) =>
          if (before(sMs, sNs, nsMs, nsNs)) { nsMs = sMs; nsNs = sNs }
          if (before(neMs, neNs, eMs, eNs)) { neMs = eMs; neNs = eNs }
          nn += n
        }
        live.clear(); live ++= rest; live += ((nsMs, nsNs, neMs, neNs, nn))
        live.sortInPlaceBy { case (sMs, sNs, _, _, _) => (sMs, sNs) }
        ()
      }
      val out = scala.collection.mutable.ArrayBuffer[SessionVerdict]()
      var emitted = s0.emitted
      val base = s0.finalized
      live.iterator.zipWithIndex.foreach { case ((sMs, sNs, eMs, eNs, n), i) =>
        val id = base + i + 1
        val tup = (n, sMs, sNs, eMs, eNs)
        if (!emitted.get(id).contains(tup)) {
          out += SessionVerdict(user, id, n, tsOf(sMs, sNs), tsOf(eMs, eNs))
          emitted += (id -> tup)
        }
      }
      val curMax = base + live.length
      var maxId = math.max(s0.max_emitted_id, curMax)
      if (curMax < s0.max_emitted_id) {
        ((curMax + 1) to s0.max_emitted_id).foreach { id =>
          out += SessionVerdict(user, id, 0L, tsOf(0L, 0), tsOf(0L, 0))
          emitted -= id
        }
        maxId = curMax
      }
      // finalize the immutable prefix (sessions are disjoint and sorted,
      // so immutability is always a prefix property)
      val wm = state.getCurrentWatermarkMs()
      var p = 0
      while (p < live.length && sec(live(p)._3) < sec(wm) - gap) p += 1
      if (p > 0) {
        (1 to p).foreach(i => emitted -= (base + i))
        live.remove(0, p)
      }
      state.update(SessionState(base + p, live.toArray, emitted, maxId))
      val anchor = math.max(wm, maxTs)
      if (anchor > 0) state.setTimeoutTimestamp(anchor + ttlMillis)
      out.iterator
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  case class TypeShift(event_type: String, day: String, n: Long,
                       prev_n: Long, delta: Long)
  case class TypeShiftState(counts: Map[String, Long],
                            emitted: Map[String, (Long, Long)])

  /** Day-over-day volume-shift monitor per event type — the streaming
    * sibling of the batch `qr_drift` distribution monitor. For every day
    * after a type's first, emits (n, prev_n = the CALENDAR-previous
    * day's count or 0, delta) and RE-emits only when either count
    * changes (the purchaseAttribution change-only doctrine), so the
    * downstream alert sink sees a bounded, idempotent row stream.
    *
    * State per event type is a day→count map bounded by `retainDays`
    * (oldest days pruned first — beyond the watermark they can no longer
    * change, and a day only needs its calendar predecessor alive to
    * compute its delta) plus the last-emitted pairs; with ~10 types and
    * a 45-day horizon, total state is a few KB regardless of event
    * volume — the property that lets the monitor run forever at
    * 100 TB/day. Counting is associative, so cross-batch accumulation
    * equals the one-shot batch count (spec-asserted).
    */
  def typeShiftMonitor(deduped: DataFrame, retainDays: Int = 45,
                       stateTtlMs: Long = 90L * 24 * 3600 * 1000)
      : Dataset[TypeShift] = {
    val spark = deduped.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val ttlMillis = stateTtlMs
    // event_ts stays the untouched watermarked column (same constraint
    // as orderLifecycle); the day is derived UTC-side inside the state fn
    val typed = deduped
      .filter(col("event_type").isNotNull && col("event_ts").isNotNull)
      .select(col("event_type"), col("event_ts"))
      .as[(String, java.sql.Timestamp)]

    def dayOf(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

    def update(et: String, rows: Iterator[(String, java.sql.Timestamp)],
               state: GroupState[TypeShiftState]): Iterator[TypeShift] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var s = state.getOption.getOrElse(TypeShiftState(Map.empty, Map.empty))
        var maxTs = 0L
        rows.foreach { case (_, ts) =>
          if (ts != null) {
            val ms = ts.getTime
            if (ms > maxTs) maxTs = ms
            val day = dayOf(ms)
            s = s.copy(counts = s.counts + (day -> (s.counts.getOrElse(day, 0L) + 1L)))
          }
        }
        if (s.counts.size > retainDays) {
          val keep = s.counts.keys.toSeq.sorted.takeRight(retainDays).toSet
          s = TypeShiftState(s.counts.filter(e => keep(e._1)),
            s.emitted.filter(e => keep(e._1)))
        }
        val out = scala.collection.mutable.ArrayBuffer[TypeShift]()
        if (s.counts.nonEmpty) {
          val minDay = s.counts.keys.min
          s.counts.toSeq.sortBy(_._1).foreach { case (day, n) =>
            if (day != minDay) {
              val prev = s.counts.getOrElse(
                java.time.LocalDate.parse(day).minusDays(1).toString, 0L)
              if (!s.emitted.get(day).contains((n, prev))) {
                out += TypeShift(et, day, n, prev, n - prev)
                s = s.copy(emitted = s.emitted + (day -> ((n, prev))))
              }
            }
          }
        }
        state.update(s)
        val anchor = math.max(state.getCurrentWatermarkMs(), maxTs)
        if (anchor > 0) state.setTimeoutTimestamp(anchor + ttlMillis)
        out.iterator
      }
    }

    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** foreachBatch upsert of normalized current-order state — streaming
    * writes through the same idempotent sink as batch. A micro-batch
    * with no order version (the watermark-only batch that closes an
    * AvailableNow run, a payments-only batch) writes nothing, so a
    * stream that never delivers an order creates no table.
    */
  def startOrderUpsert(spark: SparkSession, deduped: DataFrame, outPath: String,
                       checkpoint: String): StreamingQuery =
    deduped.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val orders = CommercePulse.normalizeOrders(batch).persist()
        try if (!orders.isEmpty)
          Sinks.upsertParquet(spark, orders, outPath,
            Seq("order_id"), CommercePulse.OrderLatest)
        finally orders.unpersist()
      }
      .start()
}
