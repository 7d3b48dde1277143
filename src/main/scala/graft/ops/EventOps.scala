package graft.ops

import graft.Tables._
import graft.api.GraftAPI
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-table operators (SURVEY.md §2.2 K6, §2.5 J6, §2.9 C4/C5, §2.13):
  * JSON extraction, coercing casts, tumbling-window aggregation, batch
  * sessionization, as-of join, keep-latest upsert.
  *
  * The batch window/sessionization forms are the oracle-checkable
  * equivalents of the Structured Streaming path in
  * [[graft.streaming.StreamingOps]] — same logical semantics, so the
  * streaming spec asserts stream-vs-batch equality.
  *
  * `events.ts` is nanosecond parquet; [[graft.Tables.events]] reads it via
  * the nanos-as-long legacy mode and converts to a µs timestamp, and every
  * oracle casts `ts` to µs (`CAST(ts AS TIMESTAMP)`) before
  * comparing/ordering (SURVEY.md §7.3.4).
  */
object EventOps {

  /** C4: JSON field extraction from `events.props`
    * (reference precedent: raw JSON parse, /root/reference/scripts/extract.py:46). */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        // try_cast like the oracle's TRY_CAST and ratingScale (review
        // r10): a non-numeric props.k must yield null, not an ANSI
        // CAST_INVALID_INPUT that fails the whole job — the E1/E2
        // coerce-don't-fail ingest posture.
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("k"))
      .orderBy("event_id")

  /** P7: coerce-don't-fail numeric cast + scalar arithmetic — the
    * reference's `pd.to_numeric(errors='coerce') * 100`
    * (/root/reference/scripts/transform.py:45-46), as ANSI-safe try_cast. */
  def ratingScale(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"),
        (expr("try_cast(get_json_object(props, '$.k') AS double)") * lit(100.0))
          .as("rating"))
      .orderBy("event_id")

  /** §2.13: tumbling 1-hour window aggregation — the batch equivalent of
    * `groupBy(window($"ts", "1 hour"))` under Structured Streaming. Group
    * keys are low-cardinality, so this is a cheap partial+final agg at any
    * scale. */
  def eventsTumblingAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(tsFmt(col("w.start")).as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** §2.13: batch sessionization (gaps-and-islands, 30-min inactivity gap).
    * Single shuffle on `user_id`; each user's timeline is processed inside
    * one partition — the same state-locality a streaming
    * `session_window`/`flatMapGroupsWithState` run would have. */
  /** The canonical 30-min gaps-and-islands sessionization: per-event
    * rows with a `session_id` column. ONE definition (review r10) —
    * [[eventsSession]] and [[sessionsConcurrency]] previously carried
    * verbatim copies, so a change to the gap constant or the
    * (ts, event_id) tie-break could silently desynchronize them. */
  private def sessionized(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  def eventsSession(s: SparkSession, dir: String): DataFrame =
    sessionized(s, dir).groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        tsFmt(min(col("ts"))).as("sess_start"),
        tsFmt(max(col("ts"))).as("sess_end"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("span_s"))
      .orderBy("user_id", "session_id")

  /** §2.13: session concurrency — how many user sessions are open at each
    * session boundary (capacity planning / load-curve analytics). Sessions
    * (the [[eventsSession]] gaps-and-islands definition) emit +1 at start
    * and -1 at end; concurrency is the running sum over the GLOBAL
    * boundary timeline. The global running sum uses the same two-pass
    * decomposition as `row_global_index`: hour buckets prefix-sum their
    * deltas in parallel, bucket totals (one row per hour) prefix-sum into
    * offsets, concurrency = offset + within-bucket running sum — no
    * single-task global window. Start sorts before end at equal ts
    * (delta DESC), so a back-to-back handoff counts both sessions.
    *
    * Factoring (r9, the r8 in-sweep regression's real cause): the
    * session frame feeds TWO consumers (the boundary timeline and the
    * bucket-offset aggregate), and the boundaries used to be a
    * start/end UNION — the executed plan carried FOUR copies of the
    * scan + user-shuffle + double-window sessionization subtree. Now
    * the boundaries are ONE map-side explode of each session row into
    * its (+1 start, −1 end) pair and the session frame is lazily
    * persisted, so sessionization runs once per invocation (isolated
    * sf0.1 min-of-two: 1.28 → 0.73 s). At 100 TB the persisted frame is
    * one fixed-width row per session — dim-table sized next to the
    * event log it summarizes. */
  def sessionsConcurrency(s: SparkSession, dir: String): DataFrame = {
    val sess = sessionized(s, dir)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
    // Lazy pin: the one final action materializes it once for both
    // consumers.
    val sessPinned = CacheLifecycle.pin(sess)
    val bounds = sessPinned
      .select(col("user_id"), explode(array(
          struct(col("start_ts").as("bts"), lit(1L).as("delta")),
          struct(col("end_ts").as("bts"), lit(-1L).as("delta")))).as("b"))
      .select(col("user_id"), col("b.bts").as("bts"), col("b.delta").as("delta"))
      .withColumn("bucket",
        date_format(date_trunc("hour", col("bts")), "yyyy-MM-dd HH"))
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("bts").asc, col("delta").desc, col("user_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bounds.groupBy("bucket").agg(sum(col("delta")).as("dsum"))
      .withColumn("offset", coalesce(sum(col("dsum")).over(wB), lit(0L)))
      .select(col("bucket").as("ob"), col("offset"))
    bounds.join(broadcast(offsets), col("bucket") === col("ob"))
      .withColumn("within", sum(col("delta")).over(wIn))
      .select(tsFmt(col("bts")).as("bts_s"), col("user_id"), col("delta"),
        (col("offset") + col("within")).as("concurrency"))
      .orderBy(col("bts_s").asc, col("delta").desc, col("user_id").asc)
  }

  /** C4b: Spark 4 VARIANT — the engine-native analogue of the reference's
    * Snowflake VARIANT columns (/root/reference/dags/db_to_snowflake.py:82-85):
    * `parse_json` → binary variant → typed `variant_get` extraction.
    * Variant keeps the parsed tree in a compact binary form, so repeated
    * path extraction skips re-parsing — the right ingest representation
    * for semi-structured props at scale. */
  def jsonVariant(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        // try_variant_get (review r10): the oracle TRY_CASTs, and a
        // non-numeric k must extract as null, not throw under ANSI
        expr("try_variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.tag', 'string')").as("tag"))
      .orderBy("event_id")

  /** E1/E2: PERMISSIVE semi-structured parse — per-record tolerance, the
    * reference's `ON_ERROR='CONTINUE'`
    * (/root/reference/dags/db_to_snowflake.py:110). Every 100th record is
    * deliberately truncated to malformed JSON; `from_json` in PERMISSIVE
    * mode yields a null struct + the raw line in the corrupt-record
    * column, so bad records are QUARANTINED, never dropped and never
    * fatal — the posture a 100 TB ingest needs. */
  def jsonPermissive(s: SparkSession, dir: String): DataFrame = {
    val raw = events(s, dir)
      .select(col("event_id"),
        when(col("event_id") % 100 === 0, substring(col("props"), 1, 3))
          .otherwise(col("props")).as("line"))
    raw.select(col("event_id"),
      from_json(col("line"), "k string, _corrupt string",
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
        .as("j"))
      .select(col("event_id"), col("j.k").as("k"),
        col("j._corrupt").isNotNull.as("is_corrupt"))
      .orderBy("event_id")
  }

  /** §2.13: built-in `session_window` (30-min gap) — the same operator the
    * Structured Streaming path uses, run in batch mode. Window end is
    * last-event + gap (Spark session semantics); a new session starts when
    * the gap is ≥ 30 min at FULL µs precision (the oracle mirrors with
    * epoch_us, not truncated seconds). */
  def eventsSessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), tsFmt(col("w.start")).as("sess_start"),
        tsFmt(col("w.end")).as("sess_end"), col("n_events"))
      .orderBy("user_id", "sess_start")

  /** §2.13: sliding 1-hour window, 30-min slide — every event lands in
    * exactly length/slide = 2 windows. The fan-out is a map-side explode
    * of window starts; only (window, type) partials shuffle. */
  def eventsSlidingAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(tsFmt(col("w.start")).as("window_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** K6: idempotent keep-latest upsert (the orphaned HF DAG's
    * `INSERT ... ON CONFLICT DO UPDATE`, SURVEY.md §2.11) re-expressed as
    * window dedup — `row_number() OVER (PARTITION BY key ORDER BY ts DESC)
    * = 1`. Re-running over the union of old+new state is a no-op, which is
    * what makes retries safe at scale. */
  def upsertLatestByKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), tsFmt(col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** J6: as-of join — for each purchase, the latest signup at-or-before it
    * for the same user. Implemented as union + `last(_, ignoreNulls)` over
    * a (ts, kind, id)-ordered window: one shuffle on `user_id`, no
    * nested-loop join, linear in events per user — the 100 TB-safe form.
    * Signups sort before purchases at equal ts so ties match the oracle's
    * `s.ts <= p.ts`.
    *
    * Does not bind [[graft.api.GraftAPI.asofJoinBackward]] on purpose:
    * signups and purchases are rows of ONE table, so this timeline is a
    * single scan of `events` with a conditional carry, while the
    * facade's two-frame union would scan `events` once per side. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc,
        when(col("event_type") === "signup", 0).otherwise(1).asc,
        col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("signup_ts",
        when(col("event_type") === "signup", col("ts")))
      .withColumn("last_signup", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsFmt(col("ts")).as("ts_s"),
        tsFmt(col("last_signup")).as("signup_ts_s"))
      .orderBy("event_id")
  }

  /** J6b: FORWARD as-of join — for each purchase, the user's next error
    * event at ts >= purchase ts (support/abuse triage: "what broke right
    * after they paid"). Mirror of [[joinAsof]]: one union timeline per
    * user, `first(ignoreNulls)` over a CURRENT ROW..UNBOUNDED FOLLOWING
    * frame — one shuffle on user_id, no self-join, no per-row subquery
    * (the oracle's correlated `min(ts >= …)` IS that per-row scan). Equal
    * timestamps count as "after": errors sort behind purchases at the
    * same ts and the frame starts at the current row. */
  def joinAsofForward(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc,
        when(col("event_type") === "error", 1).otherwise(0).asc,
        col("event_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    events(s, dir)
      .withColumn("error_ts",
        when(col("event_type") === "error", col("ts")))
      .withColumn("next_error", first(col("error_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsFmt(col("ts")).as("ts_s"),
        tsFmt(col("next_error")).as("next_error_s"))
      .orderBy("event_id")
  }

  /** J6d: NEAREST as-of join — for each purchase, the user's closest
    * click in EITHER time direction (attribution when the interaction may
    * log before or after the conversion; ties → the earlier side).
    * Completes the as-of family (backward [[joinAsof]], forward
    * [[joinAsofForward]], tolerance [[joinAsofTolerance]]). Same
    * union-timeline shape: ONE shuffle on user_id carries both the
    * `last(ignoreNulls)` backward frame and the `first(ignoreNulls)`
    * forward frame — no self-join, no per-row subquery (the oracle's two
    * correlated min/max scans ARE that per-row work). Equal timestamps
    * give gap 0 on both sides and resolve to the backward branch. */
  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val wb = Window.partitionBy("user_id")
      .orderBy(col("ts").asc,
        when(col("event_type") === "click", 0).otherwise(1).asc,
        col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("user_id")
      .orderBy(col("ts").asc,
        when(col("event_type") === "click", 1).otherwise(0).asc,
        col("event_id").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val clickTs = when(col("event_type") === "click", col("ts"))
    val back = col("prev_click")
    val fwd = col("next_click")
    val gapB = unix_micros(col("ts")) - unix_micros(back)
    val gapF = unix_micros(fwd) - unix_micros(col("ts"))
    val useBack = fwd.isNull || (back.isNotNull && gapB <= gapF)
    events(s, dir)
      .withColumn("click_ts", clickTs)
      .withColumn("prev_click", last(col("click_ts"), ignoreNulls = true).over(wb))
      .withColumn("next_click", first(col("click_ts"), ignoreNulls = true).over(wf))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), tsFmt(col("ts")).as("ts_s"),
        tsFmt(when(useBack, back).otherwise(fwd)).as("nearest_click_s"),
        when(back.isNull && fwd.isNull, lit(null))
          .when(useBack, lit("back")).otherwise(lit("fwd")).as("side"),
        when(useBack, gapB).otherwise(gapF).as("gap_us"))
      .orderBy("event_id")
  }

  /** Funnel conversion: per user, first signup → first subsequent
    * purchase, converted iff within 7 days. One conditional-agg pass for
    * signups, one filtered agg for purchases, broadcast-joined — no
    * per-user iteration anywhere. */
  def funnelConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("signup_ts"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .join(broadcast(signups), "user_id")
      .filter(col("ts") >= col("signup_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    signups.join(firstPurchase, Seq("user_id"), "left")
      .select(col("user_id"), tsFmt(col("signup_ts")).as("signup_s"),
        tsFmt(col("purchase_ts")).as("purchase_s"),
        (col("purchase_ts").isNotNull &&
          col("purchase_ts").cast("long") - col("signup_ts").cast("long") <= 7 * 86400)
          .as("converted"))
      .orderBy("user_id")
  }

  /** §2.13: cohort retention — users grouped by first-seen day, counted
    * distinct per (cohort day, days-since-cohort). The product-analytics
    * companion of [[funnelConversion]]. The cohort date is a window `min`
    * over the user partition (ONE shuffle on user_id — a groupBy+join-back
    * would shuffle twice), and the final agg only carries
    * (cohort, offset, partial-distinct) rows. */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val wU = Window.partitionBy("user_id")
    events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("cohort_d", min(col("d")).over(wU))
      .groupBy(col("cohort_d"),
        datediff(col("d"), col("cohort_d")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(dateFmt(col("cohort_d")).as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** §2.13: z-score anomaly flagging — each event scored against its
    * type's mean/σ, |z| > 3 flagged. The moments come from DECIMAL sums
    * (Σv, Σv², n — exact, partition-order-independent; a stock
    * `stddev_samp` merges double partials in nondeterministic order), so
    * mean/σ/z are bit-identical across re-runs and engines. The per-type
    * stats table is group-cardinality-sized → broadcasts back onto the
    * stream; the event rows themselves never shuffle. */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_id"), col("event_type"), col("value"))
    val stats = ev.groupBy("event_type")
      .agg(dsum(col("value")).as("sv"),
        dsum(col("value") * col("value")).as("svv"),
        count(lit(1)).as("n"))
      .select(col("event_type").as("et"),
        (col("sv") / col("n")).as("mean"),
        sqrt((col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - lit(1)))
          .as("sd"))
    ev.join(broadcast(stats), col("event_type") === col("et"))
      .select(col("event_id"), col("event_type"), col("value"),
        r6((col("value") - col("mean")) / col("sd")).as("z"),
        (abs((col("value") - col("mean")) / col("sd")) > lit(3.0)).as("is_outlier"))
      .orderBy("event_id")
  }

  /** §2.13: per-user running spend in exact integer cents — batch twin of
    * the `transformWithState` processor
    * ([[graft.streaming.StreamingOps.runningTotalTws]]; StreamingSpec
    * asserts stream == batch). Decimal window sum → cents stay exact;
    * one shuffle on user_id. */
  def eventsRunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        (sum(col("value").cast("decimal(12,2)")).over(w) * lit(100))
          .cast("long").as("total_cents"))
      .orderBy("event_id")
  }

  /** §2.13: DAU / MAU / stickiness — distinct actives per day and per
    * month, joined so each day carries its month's MAU and the DAU/MAU
    * ratio (the standard engagement metric). Two distinct-aggs over the
    * same scan; the month-level side is tiny → broadcast back. */
  /** E19: rolling 7-day MEDIAN of daily volume — an aggregate (exact
    * interpolated `percentile`) as a WINDOW function over a RANGE frame:
    * the robust-smoothing counterpart of the mean-based `orders_ma7`
    * family (a single spike day moves a mean, not a median). The frame
    * key is integer days-since-epoch so RANGE arithmetic is exact and
    * identical in both engines; per-type partitions keep the window
    * shuffle on event_type. */
  def eventsRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .withColumn("du", datediff(col("d"), lit("1995-01-01")))
    val w = Window.partitionBy("event_type").orderBy("du").rangeBetween(-6, 0)
    daily
      .select(col("event_type"), dateFmt(col("d")).as("day"), col("n"),
        r6(percentile(col("n"), lit(0.5)).over(w)).as("med7"))
      .orderBy("event_type", "day")
  }

  /** E20: CUSUM drift detection — per-type cumulative sum of daily-count
    * deviations from the type's own mean, flagged when |cusum| crosses a
    * Poisson-scaled band (3·√mean). The classic change-point screen a
    * pipeline runs over ingest volumes: a level shift accumulates
    * linearly in the cusum where day-to-day noise cancels. Deviations
    * 6-dp-snap BEFORE the running DECIMAL sum ([[graft.Tables.dsum]]
    * rule windowed), so the running statistic is partition-order
    * independent and oracle-exact; per-type windows keep everything on
    * one event_type shuffle. */
  def eventsCusum(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(r6(dsum(col("n").cast("double")) / count(lit(1))).as("mean"))
    val w = Window.partitionBy("event_type").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.join(broadcast(stats), "event_type")
      .withColumn("dev", r6(col("n") - col("mean")))
      .withColumn("cusum",
        r6(sum(col("dev").cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .over(w).cast("double")))
      .select(col("event_type"), dateFmt(col("d")).as("day"), col("n"),
        col("cusum"),
        (abs(col("cusum")) > r6(lit(3.0) * sqrt(col("mean")))).as("drift"))
      .orderBy("event_type", "day")
  }

  def eventsDauMau(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"),
      to_date(col("ts")).as("d"),
      date_format(col("ts"), "yyyy-MM").as("m"))
    val dau = ev.groupBy("d", "m").agg(countDistinct("user_id").as("dau"))
    val mau = ev.groupBy("m").agg(countDistinct("user_id").as("mau"))
    dau.join(broadcast(mau), "m")
      .select(dateFmt(col("d")).as("day"), col("dau"), col("mau"),
        r6(col("dau").cast("double") / col("mau")).as("stickiness"))
      .orderBy("day")
  }

  /** E10: behavioral transition matrix — counts and probabilities of
    * consecutive event-type pairs per user (the first-order Markov model
    * product analytics builds funnels from). One shuffle on user_id for
    * the `lag` window (ties broken by event_id — total order), then an
    * output-scale agg on the 5×5 type-pair space; the per-prev-type
    * normalizing sum runs over that tiny output, never the event stream. */
  def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wp = Window.partitionBy("prev_type")
    events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p", r6(col("n").cast("double") / sum(col("n")).over(wp)))
      .orderBy("prev_type", "event_type")
  }

  /** E15: 3-step path mining ([[GraftAPI.pathNgrams]] at n = 3) — the
    * most-travelled click-path trigrams with raw occurrence count and
    * distinct-user support (the sequential generalization of
    * [[eventsTransitions]]'s pair matrix). The final cut is
    * `TakeOrderedAndProject` — bounded buffers, no global sort, even when
    * the type alphabet is large. */
  def eventsPaths3(s: SparkSession, dir: String): DataFrame =
    GraftAPI.pathNgrams(
        events(s, dir).select(col("user_id"), col("ts"), col("event_id"), col("event_type")),
        "user_id", Seq("ts", "event_id"), "event_type", 3)
      .select(col("path"), col("n"), col("n_keys").as("n_users"))
      .orderBy(col("n").desc, col("n_users").desc, col("path").asc)
      .limit(20)

  /** E11: rolling 7-day active users — for each calendar day, the distinct
    * users active in [day-6, day] plus same-day DAU and the DAU/WAU ratio
    * (trailing-window engagement, the workhorse next to [[eventsDauMau]]'s
    * calendar months). The (user, day) stream first collapses to distinct
    * pairs (event-volume → user-day scale), then fans out over the TINY
    * broadcast calendar via a bounded range join (≤ 7 days match each pair)
    * — the distinct-count never sees raw events, and no COUNT(DISTINCT …)
    * OVER window (which Spark lacks and single-tasks elsewhere) is needed. */
  def eventsRollingActive(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val days = ud.select(col("d").as("day")).distinct()
    ud.join(broadcast(days),
        col("d").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(countDistinct(when(col("d") === col("day"), col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau7"))
      .select(dateFmt(col("day")).as("day"), col("dau"), col("wau7"),
        r6(col("dau").cast("double") / col("wau7")).as("stickiness7"))
      .orderBy("day")
  }

  /** E12: calendar gap-fill + forward-fill — per-type daily value sums
    * reindexed onto the full date spine (missing days materialize as
    * rows) with last-observation-carried-forward, the standard
    * time-series regularization before any rolling/diff analytics. The
    * spine is generated (`sequence` over the global min/max date — a
    * 1-row broadcast), the left join is spine-sized, and the LOCF window
    * partitions by event_type — bounded partitions (types × days), never
    * a global single-task window. */
  def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value"))
    val daily = ev.groupBy("event_type", "d").agg(dsum(col("value")).as("v"))
    val spine = ev.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(broadcast(daily.select("event_type").distinct()))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.as("s")
      .join(daily.as("g"),
        col("s.day") === col("g.d") && col("s.event_type") === col("g.event_type"),
        "left")
      .select(col("s.event_type").as("event_type"), col("s.day").as("day"),
        col("g.v").as("v"))
      .withColumn("observed", col("v").isNotNull)
      .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("event_type"), dateFmt(col("day")).as("day"), col("observed"),
        r6(coalesce(col("v"), lit(0.0))).as("v_day"),
        r6(col("v_filled")).as("v_filled"))
      .orderBy("event_type", "day")
  }

  /** J6c: tolerance-bounded as-of join — [[joinAsof]] with a max-staleness
    * bound: a purchase only attributes to a signup at most 24 h older
    * (stale matches null out, the attribution-window semantics ad/conversion
    * pipelines need). Same one-shuffle union-timeline plan; the bound is a
    * post-window column test, free. Like [[joinAsof]], a one-scan
    * self-timeline that does not bind the two-frame
    * [[graft.api.GraftAPI.asofJoinBackward]] (which would scan `events`
    * twice). */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc,
        when(col("event_type") === "signup", 0).otherwise(1).asc,
        col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("signup_ts",
        when(col("event_type") === "signup", col("ts")))
      .withColumn("last_signup", last(col("signup_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("matched",
        when(col("last_signup") >= col("ts") - expr("INTERVAL 24 HOURS"),
          col("last_signup")))
      .select(col("event_id"), col("user_id"), tsFmt(col("ts")).as("ts_s"),
        tsFmt(col("matched")).as("signup_ts_s"), col("matched").isNotNull.as("attributed"))
      .orderBy("event_id")
  }

  /** E13: inactivity churn flags — each user's event count, last active
    * day, days idle versus the corpus's observation horizon (its max
    * date, a 1-row broadcast), and a churned flag at > 7 idle days. One
    * hash-agg on user_id; the horizon join is broadcast — the standard
    * retention-risk labeling pass feeding win-back campaigns and churn
    * models. */
  def eventsChurn(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
    ev.groupBy("user_id")
      .agg(max(col("d")).as("last_d"), count(lit(1)).as("n_events"))
      .crossJoin(broadcast(ev.agg(max(col("d")).as("max_d"))))
      .select(col("user_id"), col("n_events"), dateFmt(col("last_d")).as("last_day"),
        datediff(col("max_d"), col("last_d")).cast("long").as("days_inactive"))
      .withColumn("churned", col("days_inactive") > 7)
      .orderBy("user_id")
  }

  /** §2.13b: windowed event dedup — keep the FIRST event per (user, type,
    * minute), the batch twin of streaming
    * `withWatermark(...).dropDuplicates(user, type, window)` (at-least-once
    * ingestion collapse). One shuffle on the dedup key; row_number's
    * bounded per-group state is exactly the streaming dedup's keyed state.
    * First = earliest (ts, event_id), so replays pick identical winners. */
  def eventsDedupWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type", "minute")
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, dir)
      .withColumn("minute", tsFmt(date_trunc("minute", col("ts"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"), col("minute"))
      .orderBy("event_id")
  }

  /** E14: EWMA smoothing of the per-type daily value series
    * ([[GraftAPI.ewma]]) — the exponential-decay trend line (α = 0.5,
    * "halving decay") every monitoring/forecast pass draws. The
    * recurrence ewma_t = (1-α)·ewma_{t-1} + α·v_t is re-expressed as ONE
    * running-sum window via exponent-rescaling: u_i = v_i/(1-α)^i
    * accumulates, and ewma_t = (1-α)^t·(v_0 + α·(Σu - v_0)). α = 0.5 is
    * chosen deliberately: powers of 2 are EXACT doubles, so the rescale is
    * lossless and both engines agree bit-for-bit. Daily sums are
    * DECIMAL-exact first. One shuffle to (type, day) daily aggregates;
    * the window runs over ~30 rows per type. */
  def eventsEwma(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy("event_type", "day").agg(dsum(col("value")).as("v"))
    GraftAPI.ewma(daily, Seq("event_type"), "day", "v", alpha = 0.5)
      .select(col("event_type"), dateFmt(col("day")).as("day"),
        r6(col("v")).as("v_day"), r6(col("ewma")).as("ewma"))
      .orderBy("event_type", "day")
  }

  /** E15: last-touch attribution — each purchase credited to the SAME
    * user's most recent click/view at most 24 h older (else channel
    * "none"), rolled up per channel: conversions, attributed revenue,
    * mean touch→purchase gap. The union-timeline form of the ad-tech
    * attribution join: touches and purchases share one window pass
    * (`last(..., ignoreNulls)` carries the latest touch forward), so
    * there is exactly one shuffle on user_id and no self-join — at
    * 100 TB the timeline window is the only shape that doesn't re-shuffle
    * the events table twice. Same-µs ties order touches before purchases
    * (a touch at the purchase instant attributes), then by event_id. */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val isTouch = col("event_type").isin("click", "view")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, when(isTouch, 0).otherwise(1).asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .withColumn("touch_ts", last(when(isTouch, col("ts")), ignoreNulls = true).over(w))
      .withColumn("touch_ch", last(when(isTouch, col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("touch_ts") >= col("ts") - expr("INTERVAL 24 HOURS"))
      .select(
        when(col("attributed"), col("touch_ch")).otherwise(lit("none")).as("channel"),
        col("value"),
        when(col("attributed"),
          unix_micros(col("ts")) - unix_micros(col("touch_ts"))).as("gap_us"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conv"),
        dsum(col("value")).as("conv_value"),
        sum(col("gap_us")).as("sum_gap_us"))
      .select(col("channel"), col("n_conv"), r6(col("conv_value")).as("conv_value"),
        r6(col("sum_gap_us").cast("double") / col("n_conv") / lit(6e7)).as("avg_gap_min"))
      .orderBy("channel")
  }

  /** E16: seasonal-naive forecast audit — per-type daily DECIMAL sums,
    * forecast(t) = actual(t − 7 days) by CALENDAR join (a lag over row
    * numbers would silently mis-align across missing days), per-row
    * absolute error. The standard data-quality gate before shipping any
    * fancier forecaster: if a model can't beat this column, it ships
    * nothing. Scale shape: both join sides are the same day-grain
    * aggregate (output-scale, not event-scale), hash-joined on
    * (event_type, day) — events shuffle once into the daily agg and never
    * again. */
  def eventsSeasonalNaive(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy("event_type", "day").agg(dsum(col("value")).as("v"))
    val prev = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("v").as("forecast"))
    daily.join(prev, Seq("event_type", "day"), "left")
      .select(col("event_type"), dateFmt(col("day")).as("day"),
        r6(col("v")).as("actual"), r6(col("forecast")).as("forecast"),
        r6(abs(col("v") - col("forecast"))).as("abs_err"))
      .orderBy("event_type", "day")
  }

  /** E17: cumulative distinct users per day — growth-curve analytics
    * WITHOUT a COUNT(DISTINCT) OVER window (which would re-scan every
    * prefix): each user collapses to a first-seen day (one hash-agg on
    * user_id), days aggregate new-user counts, and the running total is a
    * window over the day-cardinality spine only. At 100 TB the day spine
    * is a few thousand rows, so the partition-less window is a no-op; the
    * only event-scale shuffle is the user_id agg. */
  def eventsCumDistinct(s: SparkSession, dir: String): DataFrame = {
    val firstSeen = events(s, dir)
      .groupBy("user_id").agg(min(to_date(col("ts"))).as("day"))
    val perDay = firstSeen.groupBy("day").agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .select(dateFmt(col("day")).as("day"), col("new_users"),
        sum(col("new_users")).over(w).as("cum_users"))
      .orderBy("day")
  }

  /** §2.13 chained stateful aggregation — per-type MINUTELY counts rolled
    * into an HOURLY profile (peak/mean minutely rate) in one plan: two
    * cascaded aggregations where the second consumes the first's windowed
    * output. Batch twin of [[graft.streaming.StreamingOps.twoLevelAgg]]
    * (Spark 4 supports multiple stateful operators in append mode);
    * StreamingSpec asserts the append-mode stream equals this batch form
    * on every watermark-closed hourly window. The first agg shuffles on
    * (minute, type) — the second runs on minute-cardinality data, free at
    * any scale. */
  def eventsTwoLevelAgg(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.twoLevelAgg(events(s, dir))
      .select(tsFmt(col("hour")).as("hour"), col("event_type"),
        col("n_minutes"), col("peak_minute_n"), col("total_n"))
      .orderBy("hour", "event_type")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_seasonal_naive" -> eventsSeasonalNaive _,
    "events_cum_distinct"  -> eventsCumDistinct _,
    "events_two_level_agg" -> eventsTwoLevelAgg _,
    "events_ewma"          -> eventsEwma _,
    "events_attribution"   -> eventsAttribution _,
    "events_dedup_window"  -> eventsDedupWindow _,
    "events_churn"         -> eventsChurn _,
    "events_gap_fill"      -> eventsGapFill _,
    "join_asof_tolerance"  -> joinAsofTolerance _,
    "events_rolling_active" -> eventsRollingActive _,
    "events_transitions"   -> eventsTransitions _,
    "events_paths3"        -> eventsPaths3 _,
    "events_dau_mau"       -> eventsDauMau _,
    "events_rolling_median" -> eventsRollingMedian _,
    "events_cusum"         -> eventsCusum _,
    "join_asof_forward"    -> joinAsofForward _,
    "join_asof_nearest"    -> joinAsofNearest _,
    "sessions_concurrency" -> sessionsConcurrency _,
    "events_running_total" -> eventsRunningTotal _,
    "events_anomaly"       -> eventsAnomaly _,
    "events_retention"     -> eventsRetention _,
    "funnel_conversion"    -> funnelConversion _,
    "json_extract"         -> jsonExtract _,
    "rating_scale"         -> ratingScale _,
    "events_tumbling_agg"  -> eventsTumblingAgg _,
    "events_sliding_agg"   -> eventsSlidingAgg _,
    "events_session"       -> eventsSession _,
    "events_session_window" -> eventsSessionWindow _,
    "json_permissive"      -> jsonPermissive _,
    "json_variant"         -> jsonVariant _,
    "upsert_latest_by_key" -> upsertLatestByKey _,
    "join_asof"            -> joinAsof _,
    "events_interval_join" -> eventsIntervalJoin _,
    "events_interval_join_left" -> eventsIntervalJoinLeft _,
  )

  /** J11/§2.13: batch twin of the stream-stream interval join
    * ([[graft.streaming.StreamingOps.viewPurchaseJoin]]) — identical
    * logical plan over a static frame, which is what makes the streaming
    * operator oracle-checkable at all. */
  def eventsIntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.viewPurchaseJoin(events(s, dir))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        tsFmt(col("v_ts")).as("v_ts_s"), tsFmt(col("p_ts")).as("p_ts_s"))
      .orderBy("view_id", "purchase_id")

  /** J11b: LEFT OUTER batch twin — every view appears; unconverted ones
    * carry null purchase columns (the funnel-with-dropoff shape). */
  def eventsIntervalJoinLeft(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.viewPurchaseJoinLeft(events(s, dir))
      .select(col("user_id"), col("view_id"), col("purchase_id"),
        tsFmt(col("v_ts")).as("v_ts_s"), tsFmt(col("p_ts")).as("p_ts_s"))
      .orderBy("view_id", "purchase_id")

  val oracleSql: Map[String, String] = Map(
    "events_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
        |  floor(d.v * 1000000 + 0.5) / 1000000 AS actual,
        |  floor(p.v * 1000000 + 0.5) / 1000000 AS forecast,
        |  floor(abs(d.v - p.v) * 1000000 + 0.5) / 1000000 AS abs_err
        |FROM daily d LEFT JOIN daily p
        |  ON d.event_type = p.event_type AND d.day = p.day + INTERVAL 7 DAY
        |ORDER BY d.event_type, day""".stripMargin,
    "events_cum_distinct" ->
      """WITH fs AS (
        |  SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS day
        |  FROM events GROUP BY 1),
        |pd AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
        |  CAST(SUM(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM pd ORDER BY day""".stripMargin,
    "events_two_level_agg" ->
      """WITH m AS (
        |  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS minute,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT strftime(date_trunc('hour', minute),
        |    '%Y-%m-%d %H:%M:%S.%f') AS hour,
        |  event_type, COUNT(*) AS n_minutes, MAX(n) AS peak_minute_n,
        |  CAST(SUM(n) AS BIGINT) AS total_n
        |FROM m GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "events_ewma" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |idx AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |        FROM daily),
        |s AS (SELECT *,
        |    sum(v / power(0.5, t)) OVER w AS sacc,
        |    first_value(v) OVER w AS v0
        |  FROM idx
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  floor(v * 1000000 + 0.5) / 1000000 AS v_day,
        |  floor(power(0.5, t) * (v0 + 0.5 * (sacc - v0)) * 1000000 + 0.5) / 1000000 AS ewma
        |FROM s ORDER BY event_type, day""".stripMargin,
    "events_attribution" ->
      """WITH tl AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN ts END IGNORE NULLS)
        |      OVER w AS touch_ts,
        |    last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER w AS touch_ch
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP),
        |      CASE WHEN event_type IN ('click','view') THEN 0 ELSE 1 END, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |p AS (
        |  SELECT
        |    CASE WHEN epoch_us(CAST(touch_ts AS TIMESTAMP)) >= epoch_us(CAST(ts AS TIMESTAMP)) - 86400000000
        |         THEN touch_ch ELSE 'none' END AS channel,
        |    value,
        |    CASE WHEN epoch_us(CAST(touch_ts AS TIMESTAMP)) >= epoch_us(CAST(ts AS TIMESTAMP)) - 86400000000
        |         THEN epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(CAST(touch_ts AS TIMESTAMP)) END AS gap_us
        |  FROM tl WHERE event_type = 'purchase')
        |SELECT channel, count(*) AS n_conv,
        |  floor(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conv_value,
        |  floor(CAST(sum(gap_us) AS DOUBLE) / count(*) / 60000000.0 * 1000000 + 0.5) / 1000000 AS avg_gap_min
        |FROM p GROUP BY channel ORDER BY channel""".stripMargin,
    "events_churn" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |per AS (
        |  SELECT user_id, MAX(d) AS last_d, COUNT(*) AS n_events
        |  FROM ev GROUP BY 1),
        |h AS (SELECT MAX(d) AS max_d FROM ev)
        |SELECT user_id, n_events, strftime(last_d, '%Y-%m-%d') AS last_day,
        |  CAST(datediff('day', last_d, max_d) AS BIGINT) AS days_inactive,
        |  datediff('day', last_d, max_d) > 7 AS churned
        |FROM per CROSS JOIN h ORDER BY user_id""".stripMargin,
    "events_gap_fill" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, value
        |  FROM events),
        |daily AS (
        |  SELECT event_type, d,
        |    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS v
        |  FROM ev GROUP BY 1, 2),
        |b AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev),
        |days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |    AS DATE) AS day FROM b),
        |spine AS (SELECT day, event_type
        |  FROM days CROSS JOIN (SELECT DISTINCT event_type FROM daily)),
        |j AS (SELECT spine.event_type, spine.day, daily.v
        |  FROM spine LEFT JOIN daily
        |    ON daily.d = spine.day AND daily.event_type = spine.event_type)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
        |  v IS NOT NULL AS observed,
        |  floor(coalesce(v, 0.0) * 1000000 + 0.5) / 1000000 AS v_day,
        |  floor((last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |    * 1000000 + 0.5) / 1000000 AS v_filled
        |FROM j ORDER BY event_type, day""".stripMargin,
    "join_asof_tolerance" ->
      """WITH m AS (
        |  SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS pts,
        |    (SELECT max(CAST(s.ts AS TIMESTAMP)) FROM events s
        |     WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |       AND CAST(s.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |       AND CAST(s.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)
        |         - INTERVAL 24 HOUR) AS matched
        |  FROM events p WHERE p.event_type = 'purchase')
        |SELECT event_id, user_id,
        |  strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  strftime(matched, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts_s,
        |  matched IS NOT NULL AS attributed
        |FROM m ORDER BY event_id""".stripMargin,
    "events_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |j AS (SELECT days.day, ud.user_id, ud.d
        |  FROM days JOIN ud ON ud.d BETWEEN days.day - 6 AND days.day)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT CASE WHEN d = day THEN user_id END) AS dau,
        |  COUNT(DISTINCT user_id) AS wau7,
        |  floor((COUNT(DISTINCT CASE WHEN d = day THEN user_id END)::DOUBLE
        |    / COUNT(DISTINCT user_id)) * 1000000 + 0.5) / 1000000 AS stickiness7
        |FROM j GROUP BY day ORDER BY day""".stripMargin,
    "events_transitions" ->
      """WITH e AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
        |  FROM events),
        |g AS (
        |  SELECT prev_type, event_type, COUNT(*) AS n
        |  FROM e WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, event_type, n,
        |  floor((n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type))
        |    * 1000000 + 0.5) / 1000000 AS p
        |FROM g ORDER BY prev_type, event_type""".stripMargin,
    "events_paths3" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT event_type || '>' || t2 || '>' || t3 AS path,
        |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM e WHERE t3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, n_users DESC, path LIMIT 20""".stripMargin,
    "events_rolling_median" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |du AS (SELECT *, d - DATE '1995-01-01' AS du FROM daily)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
        |  floor(quantile_cont(n, 0.5) OVER (PARTITION BY event_type ORDER BY du
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) * 1000000 + 0.5) / 1000000
        |    AS med7
        |FROM du ORDER BY event_type, day""".stripMargin,
    "events_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |    floor((CAST(SUM(CAST(n AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
        |      * 1000000 + 0.5) / 1000000 AS mean
        |  FROM daily GROUP BY 1),
        |dev AS (SELECT daily.*, st.mean,
        |    floor((n - mean) * 1000000 + 0.5) / 1000000 AS dev
        |  FROM daily JOIN st USING (event_type)),
        |cs AS (SELECT *, floor(CAST(SUM(CAST(dev AS DECIMAL(25,6))) OVER (
        |    PARTITION BY event_type ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      * 1000000 + 0.5) / 1000000 AS cusum
        |  FROM dev)
        |SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n, cusum,
        |  abs(cusum) > floor(3.0 * sqrt(mean) * 1000000 + 0.5) / 1000000 AS drift
        |FROM cs ORDER BY event_type, day""".stripMargin,
    "events_dau_mau" ->
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS m
        |  FROM events),
        |dau AS (SELECT d, m, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY d, m),
        |mau AS (SELECT m, COUNT(DISTINCT user_id) AS mau FROM e GROUP BY m)
        |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
        |  floor((dau.dau::DOUBLE / mau.mau) * 1000000 + 0.5) / 1000000
        |    AS stickiness
        |FROM dau JOIN mau USING (m) ORDER BY day""".stripMargin,
    "sessions_concurrency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch(date_trunc('second', ts)) - epoch(date_trunc('second', prev_ts)) > 1800
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s),
        |sess AS (
        |  SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
        |  FROM g GROUP BY user_id, session_id),
        |b AS (
        |  SELECT user_id, start_ts AS bts, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT user_id, end_ts, CAST(-1 AS BIGINT) FROM sess)
        |SELECT strftime(bts, '%Y-%m-%d %H:%M:%S.%f') AS bts_s, user_id, delta,
        |  CAST(SUM(delta) OVER (ORDER BY bts ASC, delta DESC, user_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS concurrency
        |FROM b ORDER BY bts_s ASC, delta DESC, user_id ASC""".stripMargin,
    "join_asof_forward" ->
      """SELECT p.event_id, p.user_id,
        |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  strftime((SELECT min(CAST(e.ts AS TIMESTAMP)) FROM events e
        |     WHERE e.user_id = p.user_id AND e.event_type = 'error'
        |       AND CAST(e.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS next_error_s
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    "events_running_total" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |    OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) * 100 AS BIGINT)
        |    AS total_cents
        |FROM events ORDER BY event_id""".stripMargin,
    "events_anomaly" ->
      """WITH st AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(value * value AS DECIMAL(25,6))) AS DOUBLE) AS svv,
        |    COUNT(*) AS n
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, sv / n AS mean,
        |    sqrt((svv - sv * sv / n) / (n - 1)) AS sd
        |  FROM st)
        |SELECT e.event_id, e.event_type, e.value,
        |  floor(((e.value - m.mean) / m.sd) * 1000000 + 0.5) / 1000000 AS z,
        |  abs((e.value - m.mean) / m.sd) > 3.0 AS is_outlier
        |FROM events e JOIN m USING (event_type)
        |ORDER BY e.event_id""".stripMargin,
    "events_retention" ->
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |c AS (
        |  SELECT user_id, d, MIN(d) OVER (PARTITION BY user_id) AS cohort_d FROM e)
        |SELECT strftime(cohort_d, '%Y-%m-%d') AS cohort_day,
        |  CAST(datediff('day', cohort_d, d) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM c GROUP BY 1, 2
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "funnel_conversion" ->
      """WITH su AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS signup_ts
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) >= su.signup_ts
        |  GROUP BY e.user_id)
        |SELECT su.user_id,
        |  strftime(signup_ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_s,
        |  strftime(purchase_ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_s,
        |  purchase_ts IS NOT NULL AND
        |    epoch(date_trunc('second', purchase_ts)) - epoch(date_trunc('second', signup_ts))
        |      <= 7 * 86400 AS converted
        |FROM su LEFT JOIN pu ON su.user_id = pu.user_id
        |ORDER BY su.user_id""".stripMargin,
    "json_extract" ->
      """SELECT event_id, user_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "rating_scale" ->
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) * 100.0 AS rating
        |FROM events ORDER BY event_id""".stripMargin,
    "events_dedup_window" ->
      """WITH m AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    strftime(date_trunc('minute', CAST(ts AS TIMESTAMP)),
        |      '%Y-%m-%d %H:%M:%S.%f') AS minute
        |  FROM events),
        |r AS (SELECT event_id, user_id, event_type, minute,
        |    row_number() OVER (PARTITION BY user_id, event_type, minute
        |      ORDER BY ts, event_id) AS rn
        |  FROM m)
        |SELECT event_id, user_id, event_type, minute
        |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "events_tumbling_agg" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "events_sliding_agg" ->
      """WITH b AS (
        |  SELECT event_type, value,
        |    make_timestamp(epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000 * 1800000000) AS w0
        |  FROM events),
        |x AS (
        |  SELECT event_type, value, unnest([w0, w0 - INTERVAL 30 MINUTE]) AS ws
        |  FROM b)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY ws, event_type ORDER BY window_start, event_type""".stripMargin,
    "events_session" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch(date_trunc('second', ts)) - epoch(date_trunc('second', prev_ts)) > 1800
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM s)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_end,
        |  CAST(max(epoch(date_trunc('second', ts)))
        |    - min(epoch(date_trunc('second', ts))) AS BIGINT) AS span_s
        |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "json_variant" ->
      """SELECT event_id,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.tag') AS tag
        |FROM events ORDER BY event_id""".stripMargin,
    "json_permissive" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 100 = 0 THEN NULL
        |       ELSE json_extract_string(props, '$.k') END AS k,
        |  event_id % 100 = 0 AS is_corrupt
        |FROM events ORDER BY event_id""".stripMargin,
    "events_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    lag(CAST(ts AS TIMESTAMP)) OVER
        |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) ASC, event_id ASC) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |g AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS sess_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS sess_end,
        |  COUNT(*) AS n_events
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,
    "upsert_latest_by_key" ->
      """SELECT user_id, event_id,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) q
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "events_interval_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS v_ts_s,
        |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS p_ts_s
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,
    "events_interval_join_left" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS v_ts_s,
        |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS p_ts_s
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        | AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id NULLS FIRST""".stripMargin,
    "join_asof" ->
      """SELECT p.event_id, p.user_id,
        |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  strftime((SELECT max(CAST(s.ts AS TIMESTAMP)) FROM events s
        |     WHERE s.user_id = p.user_id AND s.event_type = 'signup'
        |       AND CAST(s.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S.%f') AS signup_ts_s
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,
    "join_asof_nearest" ->
      """WITH g AS (
        |  SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS pts,
        |    (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
        |      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |        AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS back,
        |    (SELECT min(CAST(c.ts AS TIMESTAMP)) FROM events c
        |      WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |        AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)) AS fwd
        |  FROM events p WHERE p.event_type = 'purchase'),
        |d AS (
        |  SELECT *, epoch_us(pts) - epoch_us(back) AS gap_b,
        |    epoch_us(fwd) - epoch_us(pts) AS gap_f,
        |    (fwd IS NULL OR (back IS NOT NULL AND
        |      epoch_us(pts) - epoch_us(back) <= epoch_us(fwd) - epoch_us(pts)))
        |      AS use_back
        |  FROM g)
        |SELECT event_id, user_id,
        |  strftime(pts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |  strftime(CASE WHEN use_back THEN back ELSE fwd END,
        |    '%Y-%m-%d %H:%M:%S.%f') AS nearest_click_s,
        |  CASE WHEN back IS NULL AND fwd IS NULL THEN NULL
        |       WHEN use_back THEN 'back' ELSE 'fwd' END AS side,
        |  CASE WHEN use_back THEN gap_b ELSE gap_f END AS gap_us
        |FROM d ORDER BY event_id""".stripMargin,
  )
}
