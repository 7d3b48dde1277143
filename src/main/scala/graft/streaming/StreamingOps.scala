package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Typed event row for the streaming surface (schema = the `events` table
  * after [[graft.Tables.events]] µs normalization). */
final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Typed document row for the streaming-dedup surface (the `documents`
  * table's (id, text) core). */
final case class DocRow(doc_id: Long, text: String)

/** Document row with the length column the curation quality rules read. */
final case class CurDocRow(doc_id: Long, text: String, n_chars: Long)

/** Structured Streaming surface (SURVEY.md §2.13): the incremental form of
  * the reference's append-only ingest + idempotent upsert
  * (/root/reference/dags/bigbookapi.py:51 daily batch;
  * /root/reference/dags/__pycache__/huggingface_extract.cpython-312.pyc
  * ON CONFLICT upsert).
  *
  * Every transform here takes a DataFrame/Dataset that may be EITHER a
  * `readStream` source or a static frame — the logical plan is identical,
  * which is what lets StreamingSpec assert stream-vs-batch equality
  * against the oracle-checked batch forms in [[graft.ops.EventOps]].
  *
  * Scale notes: state size is the whole game at 100 TB/day.
  *  - Watermarks bound every stateful operator (2 h here) so state is
  *    evicted, not accumulated;
  *  - tumbling windows keep one row per (window × type) — trivially small;
  *  - session windows and keep-latest keep one row per active user — the
  *    state store is hash-partitioned on the group key, the same shuffle
  *    the batch window form pays;
  *  - dedup-within-watermark holds only ids seen inside the watermark
  *    horizon, the streaming analogue of the band-bucket dedup.
  *
  * One contract per stateful operator, stated in its scaladoc as one of:
  * EXACT for any arrival order the watermark admits (rows later than the
  * watermark are dropped), or BOUNDED state per key that is exact for an
  * event-time-ordered feed — and ORDER-FREE where that answer does not
  * depend on arrival order at all. The `foreachBatch` bodies for the
  * stored indexes are adapters: each runs the batch core from
  * [[graft.ops]] (geometry guard, encode, candidate pool, verdict) on
  * one micro-batch and lands it through [[idempotentBatchWriter]].
  */
object StreamingOps {

  /** File landing-zone ingest — the STREAMING form of the reference's
    * raw-JSONL drop directory (`scripts/extract.py:76-78` writes the
    * feed as JSON files; the batch twin re-reads the whole dir each run):
    * Spark's file source discovers new files via the CHECKPOINT's seen-
    * files log, so each dropped file is processed exactly once across
    * restarts — the incremental-ingest contract a landing zone needs.
    * Schema is DECLARED (no inference on the hot path — inference would
    * re-list and sample the dir), and `maxFilesPerTrigger` bounds how
    * fast a backlog drains so a week of piled-up files can't produce one
    * giant micro-batch. At 100 TB the same source shape ingests from an
    * object-store prefix; file listing cost is the knob to watch
    * (partitioned drop dirs + `latestFirst` for catch-up). */
  def rawFeedStream(s: SparkSession, dir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    maxFilesPerTrigger: Int = 4): DataFrame =
    s.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Tumbling 1-hour counts/sums per event type — streaming twin of
    * [[graft.ops.EventOps.eventsTumblingAgg]]. Contract: exact inside
    * the 2 h watermark; a window emits in append mode once the
    * watermark passes its end. */
  def tumblingAgg(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,6)")).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Chained stateful aggregation (Spark 4: multiple stateful operators in
    * one append-mode plan): per-type MINUTELY counts, then an HOURLY
    * rollup of those minutely rows (minutes observed, peak minutely count,
    * total). Batch twin [[graft.ops.EventOps.eventsTwoLevelAgg]] is the
    * oracle-checked form. In streaming, the hourly agg windows over
    * `window_time(mw)` — NOT `mw.start`: projecting the raw start field
    * drops the event-time attribute, the hourly agg then has no watermark,
    * and append mode throws STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION.
    * `window_time` (= mw.end − 1 µs) keeps the attribute, so both levels'
    * state is watermark-bounded and closed hourly windows emit in append
    * mode; the containing hour is identical to windowing the minute start.
    * The second level's input is minute-cardinality, so its state is
    * trivially small at any event rate. Contract: exact inside the 2 h
    * watermark; an hourly row emits once the watermark closes it. */
  def twoLevelAgg(ev: DataFrame): DataFrame = {
    val minutely = ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 minute").as("mw"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    minutely
      .groupBy(window(window_time(col("mw")), "1 hour").as("hw"), col("event_type"))
      .agg(count(lit(1)).as("n_minutes"), max(col("n")).as("peak_minute_n"),
        sum(col("n")).as("total_n"))
      .select(col("hw.start").as("hour"), col("event_type"),
        col("n_minutes"), col("peak_minute_n"), col("total_n"))
  }

  /** 30-min-gap session windows per user — streaming twin of
    * [[graft.ops.EventOps.eventsSessionWindow]], and the one sessionizer:
    * Spark's native `session_window` merges sessions in state, so it
    * needs no hand-written reorder buffer. Contract: exact for any
    * arrival order inside the 2 h watermark — a late event inside a
    * session's gap lands in that session, and one that bridges two
    * sessions merges them. A session is (user_id, first event, last
    * event + 30 min, n_events); in append mode it emits once, when the
    * watermark passes its end. */
  def sessionAgg(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"))

  /** Exactly-once-ish ingest dedup: drop event_id duplicates arriving
    * within the watermark horizon. Contract: exact inside the 2 h
    * watermark — the first delivery of an event_id passes, every
    * re-delivery within the horizon is dropped. */
  def dedupWithinWatermark(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream INTERVAL join: purchases landing within 30 minutes
    * after a view by the same user. Works on static frames too (same
    * logical plan — that is what the batch twin `events_interval_join`
    * oracle-checks). In streaming, BOTH sides carry watermarks and the
    * join condition bounds event-time distance, which is exactly what
    * lets the state store evict: a buffered view can only ever match
    * purchases ≤ 30 min after it, so once the purchase-side watermark
    * passes v_ts + 30 min the row is dropped. Unbounded stream-stream
    * joins (no time bound) accumulate state forever — at 100 TB/day the
    * interval bound IS the operator. Contract: exact for any arrival
    * order the 2 h watermarks admit. */
  def viewPurchaseJoin(ev: DataFrame): DataFrame =
    viewPurchaseJoinOfType(ev, "inner")

  /** LEFT OUTER form: views with no purchase within the interval emit a
    * null-padded row — in streaming, only once the purchase-side
    * watermark passes v_ts + 30 min (the state-closure point at which
    * "no match" becomes definitive). StreamingSpec asserts exactly that:
    * matched rows match the batch twin immediately, null rows appear
    * precisely for watermark-closed views. */
  def viewPurchaseJoinLeft(ev: DataFrame): DataFrame =
    viewPurchaseJoinOfType(ev, "leftOuter")

  private def viewPurchaseJoinOfType(ev: DataFrame, joinType: String): DataFrame = {
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        col("v_ts"), col("p_ts"))
  }

  /** Stream-STATIC enrichment join: each micro-batch of events joins a
    * static dimension (user tier derived from user_id here; in production
    * a slowly-changing dim table). No state, no watermark needed — the
    * static side is planned once per batch and broadcast when small,
    * which is the 100 TB shape too: the stream never shuffles, the dim
    * ships to it. */
  def enrichWithTier(ev: DataFrame, tiers: DataFrame): DataFrame =
    ev.join(org.apache.spark.sql.functions.broadcast(tiers), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("tier"), col("value"))

  /** Idempotent `foreachBatch` parquet sink: every micro-batch overwrites
    * ITS OWN batch_id partition (dynamic partition overwrite), so a
    * replayed batch — Structured Streaming re-runs a batch after any
    * failure between sink write and checkpoint commit — replaces its
    * previous output instead of appending duplicates. This is the
    * batch-level exactly-once recipe for non-transactional sinks, and at
    * 100 TB/day it is also the layout you want anyway: one partition per
    * batch makes retention drops and backfills partition-granular.
    * StreamingSpec replays a batch explicitly and asserts no dupes. */
  def idempotentBatchWriter(path: String)(batch: DataFrame, batchId: Long): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** Streaming incremental dedup against the STORED MinHash postings —
    * the streaming face of `dedup_incremental` (and the consumer of
    * [[graft.api.GraftAPI.writeMinhashIndex]]'s artifact), shipped as a
    * `foreachBatch` body: `stream.writeStream.foreachBatch(
    * dedupBatchAgainstIndex(ix, out, "id", "text") _)`. Each micro-batch
    * of (id, text) documents is the batch probe run on one arrival: the
    * geometry guard, the micro-batch's own band rows, and the one probe
    * core ([[graft.ops.DedupOps.fineProbeHits]] — `bands` ∪ the committed
    * delta generations under the fine-union rule); (id, is_dup) lands
    * through the idempotent partition-per-batch sink, with `is_dup =
    * false` for a document too short to shingle. Per-batch cost is
    * O(batch) against an on-disk index the corpus wrote once; combined
    * with the checkpoint this is the full streaming-ingest dedup recipe —
    * at-least-once source replay × [[idempotentBatchWriter]] =
    * exactly-once flags. The index is read per batch, so an
    * append/compact is picked up at the next batch boundary, not
    * mid-query. Banding parameters must match the ones the index was
    * built with — [[graft.api.GraftAPI.minhashBands]] defaults on both
    * sides. */
  def dedupBatchAgainstIndex(indexBandsPath: String, outPath: String,
                             id: String, text: String,
                             numHashes: Int = 128, bands: Int = 16)
                            (batch: DataFrame, batchId: Long): Unit = {
    requireBanding(indexBandsPath, numHashes, bands)
    val hits = probeHits(indexBandsPath, batch, id, text, numHashes, bands)
    val flags = batch.select(id).distinct()
      .join(hits, Seq(id), "left")
      .select(col(id), coalesce(col("hit"), lit(false)).as("is_dup"))
    idempotentBatchWriter(outPath)(flags, batchId)
  }

  /** Geometry guard: a probe banded differently from the stored index
    * would return silently wrong flags; the index manifest makes it loud.
    * The root resolves through [[graft.ops.IndexFs]], so object-store
    * paths keep their scheme. */
  private def requireBanding(indexBandsPath: String, numHashes: Int, bands: Int): Unit =
    graft.ops.Artifacts.requireGeometry(graft.ops.IndexFs.parent(indexBandsPath),
      "numHashes" -> numHashes.toString, "bands" -> bands.toString)

  /** (id, hit) per micro-batch document with a band row:
    * [[graft.ops.DedupOps.fineProbeHits]] over the batch's own bands. */
  private def probeHits(indexBandsPath: String, batch: DataFrame, id: String,
                        text: String, numHashes: Int, bands: Int): DataFrame =
    graft.ops.DedupOps.fineProbeHits(graft.ops.IndexFs.parent(indexBandsPath),
        graft.api.GraftAPI.minhashBandsWithSub(batch, id, text, numHashes, bands)
          .withColumnRenamed(id, "doc_id"))
      .withColumnRenamed("doc_id", id)

  /** Streaming incremental-curation verdict against the STORED base
    * artifacts — the `foreachBatch` twin of the registry's
    * `curation_incremental` (L18d): each micro-batch gets the quality /
    * exact-dup / near-dup / decontamination signals and the
    * first-failing-stage verdict, probing `baseFpsPath` (the base
    * corpus's distinct text fingerprints, one `fp` column), the
    * geometry-guarded postings under `indexBandsPath` (the table
    * [[dedupBatchAgainstIndex]] probes) and `evalShinglesPath` (the eval
    * slice's shingle set, one `x` column). The quality rule, the
    * decontamination ratio and the verdict are the registry's own
    * ([[graft.ops.PipelineOps.curationVerdicts]]), so the two cannot
    * disagree. Only the micro-batch is tokenized; per-batch cost is
    * O(batch). Exactly-once verdicts through [[idempotentBatchWriter]];
    * StreamingSpec pins stream == the one-shot registry op. */
  def curationVerdictBatch(indexBandsPath: String, baseFpsPath: String,
                           evalShinglesPath: String, outPath: String,
                           id: String, text: String, nChars: String,
                           numHashes: Int = 128, bands: Int = 16)
                          (batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.PipelineOps.{contaminatedIds, curationVerdicts, qualityOk}
    val s = batch.sparkSession
    requireBanding(indexBandsPath, numHashes, bands)
    val baseFps = Tables.read(s, baseFpsPath)
      .select("fp").distinct().withColumn("seen", lit(true))
    val nearHits = probeHits(indexBandsPath, batch, id, text, numHashes, bands)
      .withColumnRenamed("hit", "near")
    val contam = contaminatedIds(graft.api.GraftAPI.shingleRows(batch, id, text),
      id, Tables.read(s, evalShinglesPath).select("x").distinct())
    idempotentBatchWriter(outPath)(curationVerdicts(
      batch.select(col(id), qualityOk(text, nChars).as("q_ok"), md5(col(text)).as("fp")),
      id, baseFps, nearHits, contam), batchId)
  }

  /** Streaming ANN probe against the STORED IVF index, shipped as a
    * `foreachBatch` body: `queries.writeStream.foreachBatch(
    * annProbeBatch(corpusPath, ixRoot, out, "qid", "qvec") _)`. Each
    * micro-batch of (id, vector) queries is the batch probe run on one
    * arrival: the dim guard ([[graft.ops.VectorOps.checkedDim]]), the
    * coarse assignment, and `knn_ivf_split`'s candidate pool
    * ([[graft.ops.VectorOps.splitAwarePool]]; its matched sub-cell
    * members are localCheckpointed, so `cells_split` is read once per
    * batch). Exact snapped-cosine top-k per query lands exactly-once
    * through [[idempotentBatchWriter]]. Index and corpus frames are read
    * per batch, so a re-trained/compacted/re-split index is picked up at
    * the next batch boundary, not mid-query. */
  def annProbeBatch(corpusPath: String, indexRoot: String, outPath: String,
                    qId: String, qVec: String,
                    cId: String = "vec_id", cVec: String = "embedding",
                    k: Int = 10)(batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.{IndexFs, VectorOps}
    val s = batch.sparkSession
    val q = batch.select(col(qId).as("query_id"),
      col(qVec).cast("array<double>").as("qx"))
    VectorOps.checkedDim(q.select(col("qx").as("x")), "the query batch",
      Some((indexRoot, graft.ops.IvfPqIndex.geometry(indexRoot)._2)))
    val coarse = Tables.read(s, s"$indexRoot/coarse")
    val qc = broadcast(VectorOps.queryCells(q, coarse))
    val pool = VectorOps.splitAwarePool(qc, resolvedCells(s, indexRoot), coarse,
      Some(indexRoot).filter(IndexFs.committed(_, IndexFs.Split)), k, _.localCheckpoint())
    val scored = Tables.read(s, corpusPath)
      .select(col(cId).as("corpus_id"), col(cVec).cast("array<double>").as("cx"))
      .join(pool.join(qc.select("query_id", "qx"), "query_id"),
        col("corpus_id") === col("vec_id"))
      .select(col("query_id"), col("corpus_id"),
        VectorOps.cosine(col("cx"), col("qx")).as("cosine"))
    idempotentBatchWriter(outPath)(graft.api.GraftAPI
      .topKPerGroup(scored, Seq("query_id"), "cosine", "corpus_id", k), batchId)
  }

  /** Pool membership (r13): `cells` ∪ the committed codes delta (rows at
    * m = 0), so an appended vector is servable from the next micro-batch
    * (in a SPLIT cell, after the next split refresh); a compact folds the
    * delta into `cells` in place. The delta reads through the declared
    * codes schema: a data-file-less delta must not fail inference on
    * every micro-batch. */
  private def resolvedCells(s: SparkSession,
                            indexRoot: String): DataFrame = {
    val ix = graft.ops.IvfPqIndex.Ix(indexRoot)
    val cells = Tables.read(s, ix.cells)
    if (!graft.ops.IndexFs.committed(ix.ivfCodesDelta)) cells
    else cells.unionByName(Tables.read(s, ix.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
      .filter(col("m") === 0).select("vec_id", "cell"))
  }

  /** Streaming ANN index APPEND against the STORED codebooks — the
    * `foreachBatch` twin of the registry's `ann_index_append` (L3j): the
    * dim guard ([[graft.ops.VectorOps.checkedDim]]), then the one
    * stored-codebook encode ([[graft.ops.VectorOps.encodeAgainstStored]],
    * no retraining) at the index's recorded (m, dim), then exactly-once
    * (vec_id, m, code, cell) rows through [[idempotentBatchWriter]],
    * partitioned by batch_id for a compaction job to fold in like
    * `ann_index_compact`. Codebooks are read per batch, so a re-trained
    * index is picked up at the next batch boundary. */
  def annAppendBatch(indexRoot: String, outPath: String,
                     id: String, vec: String)
                    (batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val (m, dim) = graft.ops.IvfPqIndex.geometry(indexRoot)
    val e = batch.select(col(id).as("vec_id"),
      col(vec).cast("array<double>").as("x"))
    graft.ops.VectorOps.checkedDim(e, "the batch", Some((indexRoot, dim)))
    idempotentBatchWriter(outPath)(graft.ops.VectorOps.encodeAgainstStored(e,
      Tables.read(s, s"$indexRoot/coarse"),
      Tables.read(s, s"$indexRoot/ivfpq_codebooks"), m, dim / m), batchId)
  }

  /** Query-vector row for the streaming ANN probe spec. */
  final case class VecRow(vec_id: Long, embedding: Seq[Double])

  private def micros(ts: java.sql.Timestamp): Long =
    (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L

  /** Output row of [[runningTotalTws]]: cumulative spend per user in
    * exact integer cents (no FP accumulation drift in state). */
  final case class RunningTotal(event_id: Long, user_id: Long, total_cents: Long)

  /** Per-user running total on the `transformWithState` arbitrary-state
    * API (Spark 4's successor to `mapGroupsWithState`: typed state
    * handles, TTL, timers, RocksDB-backed). State = ONE long per user —
    * cents, not doubles, so replay/re-run accumulate bit-identically.
    * Rows within a micro-batch are processed in (ts, event_id) order;
    * with an event-time-ordered feed the stream output equals the batch
    * cumulative-sum window ([[graft.ops.EventOps.eventsRunningTotal]],
    * the oracle-checked twin). Batch execution runs the same processor
    * with each group arriving complete. Contract: bounded state, exact
    * for an event-time-ordered feed; a row arriving after a later row of
    * its user is summed in arrival order, so the total stays right but
    * the cumulative rows in between do not. */
  class RunningTotalProcessor extends StatefulProcessor[Long, Ev, RunningTotal] {
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[RunningTotal] = {
      var acc = if (total.exists()) total.get() else 0L
      val out = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).map { e =>
        // HALF_UP like the batch twin's decimal(12,2) cast (review r10):
        // math.round is half-toward-+inf, so a negative half-cent amount
        // (a -0.125 refund) rounded -12.5 -> -12 while the batch gives
        // -13 — the pinned stream==batch invariant drifted by a cent.
        acc += java.math.BigDecimal.valueOf(e.value)
          .setScale(2, java.math.RoundingMode.HALF_UP)
          .unscaledValue().longValueExact()
        RunningTotal(e.event_id, uid, acc)
      }
      total.update(acc)
      out.iterator
    }
  }

  def runningTotalTws(ev: Dataset[Ev]): Dataset[RunningTotal] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** One behavioral transition emitted by [[transitionsTwsOrdered]]. */
  final case class Transition(user_id: Long, prev_type: String, event_type: String)

  /** EXACT out-of-order transitions — E10's streaming form: per-user
    * events are buffered in LIST state
    * until the event-time watermark passes them, then flushed in (ts,
    * event_id) order with the last-flushed event carried in VALUE state,
    * so the emitted pair sequence equals the batch matrix's full-ordered
    * adjacent pairs for ANY arrival order the watermark admits. This is
    * the standard reorder-buffer construction: state per user is O(events
    * inside the watermark delay), not O(history), because every flush
    * drains the ≤-watermark prefix. Input-driven flushes handle active
    * keys; an event-time TIMER (re-armed at the oldest still-buffered
    * event) drains the tail of keys that stop receiving input — the same
    * watermark-driven-output discipline as [[AbandonedSessionProcessor]].
    * StreamingSpec feeds deliberately shuffled micro-batches and asserts
    * exact pair-multiset equality with the in-order model. */
  class OrderedTransitionsProcessor extends StatefulProcessor[Long, Ev, Transition] {
    private type BufEv = (Long, Long, String) // (event µs, event_id, event_type)
    @transient private var buf: ListState[BufEv] = _
    @transient private var last: ValueState[BufEv] = _
    private def tupleEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.STRING)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[BufEv]("buf", tupleEnc, TTLConfig.NONE)
      last = getHandle.getValueState[BufEv]("last", tupleEnc, TTLConfig.NONE)
    }
    /** Drains buffered events whose event time is STRICTLY below the
      * watermark millisecond, in event-time order; re-arms the flush
      * timer if anything remains. Strict, not ≤ (review r10): Spark's
      * late-row admission is evaluated at millisecond granularity, so an
      * event AT the watermark ms may still gain an admissible same-ms
      * sibling with a smaller (ts, event_id) key in a later batch —
      * flushing it early would emit that sibling as a reversed pair. An
      * event drains only once the watermark strictly passes its ms (the
      * re-arm at head+1 guarantees the timer lands there). */
    private def flush(uid: Long, wmMs: Long): Iterator[Transition] = {
      val all = buf.get().toSeq.sortBy(e => (e._1, e._2))
      val (ripe, rest) = all.partition(_._1 / 1000 < wmMs)
      def rearm(): Unit =
        if (rest.nonEmpty) getHandle.registerTimer(rest.head._1 / 1000 + 1)
      if (ripe.isEmpty) { rearm(); return Iterator.empty }
      val out = Seq.newBuilder[Transition]
      var p: Option[BufEv] = if (last.exists()) Some(last.get()) else None
      ripe.foreach { e =>
        p.foreach(pp => out += Transition(uid, pp._3, e._3))
        p = Some(e)
      }
      p.foreach(last.update)
      if (rest.isEmpty) buf.clear()
      else { buf.put(rest.toArray); rearm() }
      out.result().iterator
    }
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[Transition] = {
      rows.foreach(e => buf.appendValue((micros(e.ts), e.event_id, e.event_type)))
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      flush(uid, tv.getCurrentWatermarkInMs())
    }
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[Transition] =
      flush(uid, tv.getCurrentWatermarkInMs())
  }

  /** (prev_type, event_type) pairs per user, aggregating to the batch
    * matrix [[graft.ops.EventOps.eventsTransitions]]. Contract: exact
    * for any arrival order inside the 10-min watermark (the reorder
    * buffer of [[OrderedTransitionsProcessor]]); a pair emits once the
    * watermark passes both of its events, so a feed's last events need a
    * later event of any user to drain. */
  def transitionsTwsOrdered(ev: Dataset[Ev]): Dataset[Transition] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new OrderedTransitionsProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  private val byRecency: Ordering[Ev] =
    Ordering.by(e => (e.ts.getTime, e.ts.getNanos, e.event_id))

  /** K6 keep-latest upsert as explicit streaming state: one Ev of state
    * per user, replaced whenever a later event arrives — the
    * `mapGroupsWithState` form of the batch window-dedup
    * [[graft.ops.EventOps.upsertLatestByKey]]. Runs in batch too (state
    * starts empty, each group folds once). Contract: bounded state (one
    * event per user) and order-free — the latest by (ts, event_id) does
    * not depend on arrival order; with no watermark a user's state is
    * kept for the life of the query. */
  def latestByUser(ev: Dataset[Ev]): Dataset[Ev] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.groupByKey(_.user_id)
      .mapGroupsWithState[Ev, Ev](GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Ev], state: GroupState[Ev]) =>
          val latest = (state.getOption.iterator ++ it).max(byRecency)
          state.update(latest)
          latest
      }
  }

  /** Versioned top-k snapshot emitted by [[topPurchasesTws]]. */
  final case class TopPurchases(user_id: Long, version: Long, top: Seq[Double])

  /** Per-user top-3 purchase values on `transformWithState` with LIST
    * state — the bounded-buffer leaderboard shape (alerting on "new
    * personal best", serving per-key top-N features). State per user is
    * the k-element value list plus a version counter (two typed state
    * variables on one handle); each micro-batch that contains purchases
    * re-emits the merged top-k with a bumped version, so the LAST version
    * per user is the complete answer and earlier ones are the audit
    * trail. State stays O(k) per user forever — the streaming analogue
    * of the native TopKPerGroup partial buffer. Contract: bounded state
    * and order-free — the top 3 of a multiset does not depend on arrival
    * order. */
  class TopPurchasesProcessor extends StatefulProcessor[Long, Ev, TopPurchases] {
    @transient private var top: ListState[Double] = _
    @transient private var ver: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[Double]("top",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
      ver = getHandle.getValueState[Long]("ver",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[TopPurchases] = {
      val incoming = rows.filter(_.event_type == "purchase").map(_.value).toSeq
      if (incoming.isEmpty) Iterator.empty
      else {
        val merged = (top.get().toSeq ++ incoming)
          .sorted(Ordering[Double].reverse).take(3)
        top.put(merged.toArray)
        val v = (if (ver.exists()) ver.get() else 0L) + 1
        ver.update(v)
        Iterator.single(TopPurchases(uid, v, merged))
      }
    }
  }

  def topPurchasesTws(ev: Dataset[Ev]): Dataset[TopPurchases] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.groupByKey(_.user_id)
      .transformWithState(new TopPurchasesProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Abandoned-session alert emitted by [[abandonedSessionsTws]] when the
    * event-time watermark passes a user's last activity + 30 min. */
  final case class SessionAlert(user_id: Long, last_seen_us: Long, n_events: Long)

  /** EVENT-TIME TIMERS on `transformWithState` — the remaining piece of the
    * arbitrary-state API after value/list/map state: emit an alert when a
    * key goes QUIET, i.e. output triggered by the ABSENCE of input (cart
    * abandonment, heartbeat loss, SLA breach). No input-driven operator
    * can express this — only a watermark-driven timer can, because nothing
    * else runs for the key.
    *
    * Mechanics: every batch of input re-arms a timer at last_seen + 30 min
    * (the previous timer is deleted — one live timer per key); when the
    * event-time watermark passes the armed expiry, `handleExpiredTimer`
    * fires, emits the alert, and CLEARS the state — so state is bounded by
    * ACTIVE keys only, the property that matters at 100 TB/day (an
    * inactive user costs nothing after their alert fires). A stale timer
    * that survives a delete race is ignored by re-checking expiry against
    * current state. */
  class AbandonedSessionProcessor extends StatefulProcessor[Long, Ev, SessionAlert] {
    private val GapMs = 30L * 60 * 1000
    @transient private var last: ValueState[(Long, Long)] = _ // (last_us, n_events)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[(Long, Long)]("last",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[SessionAlert] = {
      var (lastUs, n) = if (last.exists()) last.get() else (0L, 0L)
      val hadState = n > 0
      rows.foreach { e =>
        val t = micros(e.ts)
        if (t > lastUs) lastUs = t
        n += 1
      }
      if (hadState) getHandle.listTimers().foreach(ts =>
        getHandle.deleteTimer(ts.asInstanceOf[Long]))
      last.update((lastUs, n))
      getHandle.registerTimer(lastUs / 1000 + GapMs)
      Iterator.empty
    }
    override def handleExpiredTimer(uid: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionAlert] = {
      if (!last.exists()) Iterator.empty
      else {
        val (lastUs, n) = last.get()
        if (info.getExpiryTimeInMs() >= lastUs / 1000 + GapMs) {
          last.clear()
          Iterator.single(SessionAlert(uid, lastUs, n))
        } else Iterator.empty // stale timer from a pre-update arm
      }
    }
  }

  /** Alert stream of users whose sessions went quiet for ≥ 30 min of
    * EVENT time; the 10-min watermark on `ts` is the timer clock.
    * Contract: exact for any arrival order inside the watermark —
    * last_seen is a max — and an alert fires once the watermark passes
    * last_seen + 30 min; a later event of the user starts new state. */
  def abandonedSessionsTws(ev: Dataset[Ev]): Dataset[SessionAlert] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new AbandonedSessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Running per-(user, event_type) count emitted by [[typeCountsTws]]. */
  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user event-type counters on `transformWithState` with MAP
    * state — the per-key feature-counter shape (per-user action
    * histograms for feature stores). State is a (type → count) map per
    * user; each batch emits the UPDATED counters only, so counts are
    * monotone per (user, type) and the max observed emission equals the
    * final count. MapState keeps per-entry storage (RocksDB key = user ×
    * map key), so one hot user with many types never rewrites a whole
    * blob — the reason to prefer MapState over ValueState[Map].
    * Contract: bounded state (one count per (user, type)) and
    * order-free — counting commutes. */
  class TypeCountsProcessor extends StatefulProcessor[Long, Ev, TypeCount] {
    @transient private var counts: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[TypeCount] = {
      rows.toSeq.groupBy(_.event_type).toSeq.sortBy(_._1).map { case (t, es) =>
        val n = (if (counts.containsKey(t)) counts.getValue(t) else 0L) + es.size
        counts.updateValue(t, n)
        TypeCount(uid, t, n)
      }.iterator
    }
  }

  def typeCountsTws(ev: Dataset[Ev]): Dataset[TypeCount] = {
    val sq = ev.sparkSession; import sq.implicits._
    ev.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
