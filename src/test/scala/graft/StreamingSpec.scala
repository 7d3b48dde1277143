package graft

import graft.streaming.{Ev, StreamingOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stream-vs-batch equality (SURVEY.md §2.13/§5): the same StreamingOps
  * transform, fed incrementally through a MemoryStream, must reproduce the
  * batch result on the full sf0.001 events table. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def eventsDs = {
    val sq = spark; import sq.implicits._
    Tables.events(spark, sf).as[Ev]
  }

  /** Run `transform` over the events fed in `chunks` micro-batches,
    * complete output mode, and return the final memory-sink table. */
  private def runStream(name: String, chunks: Int)
                       (transform: DataFrame => DataFrame): DataFrame = {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = transform(ms.toDF())
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    try {
      eventsDs.collect().sortBy(_.event_id).grouped(
        math.max(1, eventsDs.count().toInt / chunks)).foreach { chunk =>
        ms.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("streaming tumbling agg == batch tumbling agg") {
    val streamed = runStream("s_tumbling", 4)(StreamingOps.tumblingAgg)
    val batch = StreamingOps.tumblingAgg(Tables.events(spark, sf))
    assert(rows(streamed) == rows(batch))
  }

  test("streaming session windows == batch session windows") {
    val streamed = runStream("s_session", 4)(StreamingOps.sessionAgg)
    val batch = StreamingOps.sessionAgg(Tables.events(spark, sf))
    assert(rows(streamed) == rows(batch))
  }

  test("streaming two-level agg (append mode): closed hourly windows == batch") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    // Chained stateful aggregations only run in APPEND mode (complete mode is
    // unsupported for multiple stateful operators), and append only emits a
    // window once the watermark (max ts − 2 h) passes its end — so compare
    // against the batch twin on the definitely-closed prefix and require the
    // streamed rows to be a subset of batch everywhere.
    val ms = MemoryStream[Ev]
    val q = StreamingOps.twoLevelAgg(ms.toDF())
      .writeStream.format("memory").queryName("s_twolevel").outputMode("append").start()
    try {
      eventsDs.collect().sortBy(_.event_id).grouped(
        math.max(1, eventsDs.count().toInt / 4)).foreach { chunk =>
        ms.addData(chunk.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("s_twolevel")
    val batch = StreamingOps.twoLevelAgg(Tables.events(spark, sf))
    assert(rows(streamed).nonEmpty, "append-mode stream emitted no closed windows")
    assert(rows(streamed).subsetOf(rows(batch)),
      "streamed rows disagree with the batch twin")
    import org.apache.spark.sql.functions._
    val maxTs = Tables.events(spark, sf).agg(max(col("ts"))).head().getTimestamp(0)
    // hour window [h, h+1h) is closed once watermark = maxTs − 2 h ≥ h+1h.
    val cut = new java.sql.Timestamp(maxTs.getTime - (2L + 1L) * 3600 * 1000)
    val mustEmit = batch.filter(col("hour") <= lit(cut))
    assert(rows(mustEmit).subsetOf(rows(streamed)),
      "a watermark-closed hourly window never emitted")
  }

  test("dedup-within-watermark drops re-delivered events") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val all = eventsDs.collect().sortBy(_.event_id).toSeq
    val ms = MemoryStream[Ev]
    val q = StreamingOps.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("s_dedup").outputMode("append").start()
    try {
      // re-deliver the first 50 events alongside the full feed
      ms.addData(all.take(50))
      q.processAllAvailable()
      ms.addData(all)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("s_dedup").count() == all.size)
  }

  test("stateful streaming transitions aggregate to the batch transition matrix") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    // feed in global event-time order so per-user order holds across batches
    val all = eventsDs.collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    // two single-event sentinel users a day and two days past the feed:
    // the first lifts the 10-min watermark past every real event, the
    // second runs a batch under that watermark so every reorder buffer
    // drains (a pair emits only once the watermark passes both events)
    val day = 24L * 3600 * 1000
    val last = all.map(_.ts.getTime).max
    val sentinels = Seq(1L, 2L).map(n =>
      Ev(-n, new java.sql.Timestamp(last + n * day), -n, "z", 0.0, "{}"))
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.transitionsTwsOrdered(ms.toDS())
        .writeStream.format("memory").queryName("s_transitions")
        .outputMode("append").start()
      try {
        (all.grouped(math.max(1, all.size / 4)) ++ sentinels.map(Seq(_))).foreach { chunk =>
          ms.addData(chunk)
          q.processAllAvailable()
        }
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val streamed = spark.table("s_transitions").filter("user_id >= 0")
      .groupBy("prev_type", "event_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = ops.EventOps.eventsTransitions(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch,
      "aggregated streaming pairs must equal the batch matrix counts")
  }

  test("mapGroupsWithState keep-latest is correct INCREMENTALLY (update-mode stream)") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val all = eventsDs.collect().sortBy(_.event_id).toSeq
    val ms = MemoryStream[Ev]
    val q = StreamingOps.latestByUser(ms.toDS())
      .writeStream.format("memory").queryName("s_latest").outputMode("update").start()
    try {
      all.grouped(math.max(1, all.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    // update-mode memory sink appends one row per (user, batch) update;
    // the LAST update per user must equal the batch keep-latest result
    val sink = spark.table("s_latest").as[Ev].collect()
    val lastUpdate = sink.zipWithIndex
      .groupBy(_._1.user_id).map { case (u, rows) => u -> rows.maxBy(_._2)._1.event_id }
    val want = graft.ops.EventOps.upsertLatestByKey(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    assert(lastUpdate == want)
  }

  test("mapGroupsWithState keep-latest == batch window-dedup upsert") {
    val sq = spark; import sq.implicits._
    val got = StreamingOps.latestByUser(eventsDs).collect()
      .map(e => e.user_id -> e.event_id).toMap
    val want = graft.ops.EventOps.upsertLatestByKey(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    assert(got == want)
  }

  test("stream-stream interval join (append mode) == batch interval join") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    // feed in event-time order: the 2 h watermarks tolerate bounded
    // disorder, not arbitrary replay
    val all = eventsDs.collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    val ms = MemoryStream[Ev]
    val q = StreamingOps.viewPurchaseJoin(ms.toDF())
      .writeStream.format("memory").queryName("s_ssjoin").outputMode("append").start()
    try {
      all.grouped(math.max(1, all.size / 4)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = StreamingOps.viewPurchaseJoin(Tables.events(spark, sf))
    assert(rows(spark.table("s_ssjoin")) == rows(batch))
    assert(spark.table("s_ssjoin").count() > 0)
  }

  test("stream-stream LEFT OUTER interval join: null rows emit once the watermark closes state") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val all = eventsDs.collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
    // Far-future sentinel pair (user -1): drives the watermark past every
    // real view's v_ts + 30 min so ALL real outer state is closed by the
    // end — making the stream result exactly comparable to batch.
    val far = all.map(_.ts.getTime).max + 24L * 3600 * 1000
    val sentinels = Seq(
      Ev(-1L, new java.sql.Timestamp(far), -1L, "view", 0.0, "{}"),
      Ev(-2L, new java.sql.Timestamp(far + 60000), -1L, "purchase", 0.0, "{}"))
    val ms = MemoryStream[Ev]
    val q = StreamingOps.viewPurchaseJoinLeft(ms.toDF())
      .writeStream.format("memory").queryName("s_ssjoin_left").outputMode("append").start()
    try {
      all.grouped(math.max(1, all.size / 4)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
      ms.addData(sentinels); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_ssjoin_left").filter("user_id != -1")
    val batch = StreamingOps.viewPurchaseJoinLeft(Tables.events(spark, sf))
    assert(rows(streamed) == rows(batch))
    // the outer shape actually exercised: some views matched, some didn't
    assert(streamed.filter("purchase_id IS NULL").count() > 0)
    assert(streamed.filter("purchase_id IS NOT NULL").count() > 0)
  }

  test("foreachBatch idempotent sink: a replayed batch does not duplicate rows") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val path = "/tmp/graft_feb_sink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val all = eventsDs.collect().sortBy(_.event_id).toSeq
    var lastBatch: Option[(Seq[Ev], Long)] = None
    val ms = MemoryStream[Ev]
    val writer = StreamingOps.idempotentBatchWriter(path) _
    val q = ms.toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        writer(b, id)
        lastBatch = Some((b.as[Ev].collect().toSeq, id))
      }
      .start()
    try {
      all.grouped(math.max(1, all.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    assert(spark.read.parquet(path).count() == all.size)
    // replay the last batch exactly as the engine would after a failure
    // between sink write and checkpoint commit
    val (rows, id) = lastBatch.get
    writer(rows.toDF(), id)
    assert(spark.read.parquet(path).count() == all.size,
      "replaying a batch must overwrite its partition, not append")
  }

  test("file-source ingest resumes from checkpoint: restart processes only new files") {
    val sq = spark; import sq.implicits._
    val (src, out, ck) = ("/tmp/graft_ck_src", "/tmp/graft_ck_out", "/tmp/graft_ck_chk")
    Seq(src, out, ck).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val all = eventsDs.collect().toSeq
    val (a, b) = all.partition(_.event_id % 2 == 0)
    def run(): Unit = {
      // the landing-zone ingest op: declared schema, bounded files/trigger
      val q = StreamingOps.rawFeedStream(spark, src, eventsDs.schema,
          maxFilesPerTrigger = 2)
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          StreamingOps.idempotentBatchWriter(out)(batch.toDF(), id)
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    a.toDS().write.mode("append").json(src)
    run()
    assert(spark.read.parquet(out).count() == a.size)
    // second epoch: new files land, the query restarts from the SAME
    // checkpoint — committed files must not be reprocessed
    b.toDS().write.mode("append").json(src)
    run()
    val result = spark.read.parquet(out)
    assert(result.count() == all.size, "restart must process exactly the new files")
    assert(result.select("event_id").distinct().count() == all.size)
  }

  test("stream-static enrichment join == batch join, per micro-batch") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val tiers = Tables.events(spark, sf).select("user_id").distinct()
      .withColumn("tier",
        org.apache.spark.sql.functions.when(org.apache.spark.sql.functions.col("user_id") % 3 === 0, "gold").otherwise("std"))
      .cache()
    val all = eventsDs.collect().sortBy(_.event_id).toSeq
    val ms = MemoryStream[Ev]
    val q = StreamingOps.enrichWithTier(ms.toDF(), tiers)
      .writeStream.format("memory").queryName("s_enrich").outputMode("append").start()
    try {
      all.grouped(math.max(1, all.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val batch = StreamingOps.enrichWithTier(Tables.events(spark, sf), tiers)
    assert(rows(spark.table("s_enrich")) == rows(batch))
    assert(spark.table("s_enrich").count() == all.size)
    tiers.unpersist(); ()
  }

  test("transformWithState event-time timers: abandoned-session alerts fire on watermark, state clears") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    def ev(id: Long, iso: String, uid: Long): Ev = evAt(id, iso, uid, "view")
    // transformWithState (and its timer column family) requires the
    // RocksDB state store; scope the provider to this query.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Ev]
    val q = StreamingOps.abandonedSessionsTws(ms.toDS())
      .writeStream.format("memory").queryName("s_abandoned").outputMode("append").start()
    try {
      // u1: two events then silence; u2: event, long gap, event (its FIRST
      // quiet period must NOT alert — the 12:00 event re-arms before the
      // watermark passes 10:30); u91/u92/u93/u94: single-event sentinels
      // that advance the watermark one hour per batch.
      ms.addData(ev(1, "2025-06-01T10:00:00Z", 1), ev(2, "2025-06-01T10:10:00Z", 1),
                 ev(3, "2025-06-01T10:00:00Z", 2))
      q.processAllAvailable()
      ms.addData(ev(4, "2025-06-01T12:00:00Z", 2)); q.processAllAvailable()
      ms.addData(ev(5, "2025-06-01T13:00:00Z", 91)); q.processAllAvailable()
      ms.addData(ev(6, "2025-06-01T14:00:00Z", 92)); q.processAllAvailable()
      ms.addData(ev(7, "2025-06-01T15:00:00Z", 93)); q.processAllAvailable()
      ms.addData(ev(8, "2025-06-01T16:00:00Z", 94)); q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val got = spark.table("s_abandoned").as[StreamingOps.SessionAlert]
      .collect().map(a => (a.user_id, a.last_seen_us, a.n_events)).toSet
    def us(iso: String): Long = usOf(iso)
    val required = Set(
      (1L, us("2025-06-01T10:10:00Z"), 2L),  // quiet after 10:10, 2 events
      (2L, us("2025-06-01T12:00:00Z"), 2L),  // SECOND quiet period only
      (91L, us("2025-06-01T13:00:00Z"), 1L),
      (92L, us("2025-06-01T14:00:00Z"), 1L))
    // u93 may or may not have fired depending on whether timers are
    // evaluated against the batch-start or batch-end watermark; u94's
    // timer (16:30) is beyond any reachable watermark and must be absent.
    val optional = Set((93L, us("2025-06-01T15:00:00Z"), 1L))
    assert(required.subsetOf(got), s"missing alerts: ${required -- got}")
    assert((got -- required -- optional).isEmpty, s"spurious alerts: ${got -- required -- optional}")
  }

  test("transformWithState running total == oracle-checked batch window twin") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB state store; scope the
    // provider override to this query and restore the default after.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.runningTotalTws(ms.toDS()).toDF()
        .writeStream.format("memory").queryName("s_tws")
        .outputMode("append").start()
      try {
        // event-TIME-ordered feed: each user's events cross micro-batch
        // boundaries in ts order, the running-total contract
        val all = eventsDs.collect()
          .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id)).toSeq
        all.grouped(math.max(1, all.size / 4)).foreach { chunk =>
          ms.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val batch = ops.EventOps.eventsRunningTotal(spark, sf)
      assert(rows(spark.table("s_tws")
        .select("event_id", "user_id", "total_cents")) == rows(batch))
      // review r10: negative half-cent amounts must round HALF_UP like
      // the batch twin's decimal(12,2) cast — math.round would give
      // -12.5 -> -12 where the batch gives -13, drifting totals by a
      // cent per refund at a half-cent boundary.
      val ms2 = MemoryStream[Ev]
      val q2 = StreamingOps.runningTotalTws(ms2.toDS()).toDF()
        .writeStream.format("memory").queryName("s_tws_neg")
        .outputMode("append").start()
      try {
        ms2.addData(Seq(
          Ev(1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), 9L,
            "purchase", -0.125, "{}"),
          Ev(2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:02"), 9L,
            "purchase", 0.125, "{}")))
        q2.processAllAvailable()
      } finally q2.stop()
      val cents = spark.table("s_tws_neg")
        .orderBy("event_id").collect().map(_.getAs[Long]("total_cents")).toSeq
      assert(cents == Seq(-13L, 0L),
        s"HALF_UP cents contract (batch decimal(12,2) twin): got $cents")
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState ListState top-3: last version per user == batch top-3") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.topPurchasesTws(ms.toDS()).toDF()
        .writeStream.format("memory").queryName("s_topk")
        .outputMode("append").start()
      try {
        val all = eventsDs.collect().sortBy(_.event_id).toSeq
        all.grouped(math.max(1, all.size / 4)).foreach { chunk =>
          ms.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val last = spark.table("s_topk").as[streaming.StreamingOps.TopPurchases]
        .collect().groupBy(_.user_id)
        .map { case (u, vs) => u -> vs.maxBy(_.version).top }
      val batch = Tables.events(spark, sf)
        .filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .as[Ev].collect().groupBy(_.user_id)
        .map { case (u, es) =>
          u -> es.map(_.value).sorted(Ordering[Double].reverse).take(3).toSeq }
      assert(last == batch)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState MapState counters: max emission per (user,type) == batch count") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.typeCountsTws(ms.toDS()).toDF()
        .writeStream.format("memory").queryName("s_typecounts")
        .outputMode("append").start()
      try {
        val all = eventsDs.collect().sortBy(_.event_id).toSeq
        all.grouped(math.max(1, all.size / 4)).foreach { chunk =>
          ms.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val last = spark.table("s_typecounts").as[streaming.StreamingOps.TypeCount]
        .collect().groupBy(t => (t.user_id, t.event_type))
        .map { case (k, vs) => k -> vs.map(_.n).max }
      val batch = eventsDs.collect().groupBy(e => (e.user_id, e.event_type))
        .map { case (k, es) => k -> es.size.toLong }
      assert(last == batch)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming dedup against the stored MinHash index (base + APPENDED delta) == batch incremental dedup") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // three-slice protocol (r13): base index = docs < 400; yesterday's
    // batch [400, 450) lands via the facade APPEND (its own committed
    // delta generation); the stream probes docs >= 450 — so this twin
    // exercises the probe-root resolver end-to-end and must equal the
    // registry probe, which resolves base ∪ delta the same way.
    val ixRoot = "/tmp/graft_stream_mhix"
    val out = "/tmp/graft_stream_dedup_out"
    Seq(ixRoot, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    graft.api.GraftAPI.writeMinhashIndex(
      docs.filter($"doc_id" < 400), "doc_id", "text", ixRoot,
      numHashes = 8, bands = 2)
    graft.api.GraftAPI.minhashIndexAppend(spark, s"$ixRoot/bands",
      docs.filter($"doc_id" >= 400 && $"doc_id" < 450), "doc_id", "text",
      batchId = 0L, numHashes = 8, bands = 2)
    // stream the probe side (docs >= 450) in 3 micro-batches
    val batchDocs = docs.filter($"doc_id" >= 450)
      .select("doc_id", "text").as[streaming.DocRow]
      .collect().sortBy(_.doc_id).toSeq
    val ms = MemoryStream[streaming.DocRow]
    val q = ms.toDF().writeStream
      .foreachBatch(StreamingOps.dedupBatchAgainstIndex(
        s"$ixRoot/bands", out, "doc_id", "text", numHashes = 8, bands = 2) _)
      .start()
    try {
      batchDocs.grouped(math.max(1, batchDocs.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val batch = graft.ops.DedupOps.dedupIncremental(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed == batch,
      "per-batch probe flags must equal the one-shot incremental dedup")
    assert(streamed.values.exists(identity) && streamed.values.exists(!_))
    // the delta is load-bearing: the delta-only flip the registry probe
    // flags (a doc whose only near-dup is an APPENDED doc) must flag in
    // the stream too — on the sf0.01 fixture that is doc 452
    val vs = graft.ops.DedupOps.dedupIncrementalVsdelta(spark, sf).collect()
      .filter(r => r.getBoolean(2)).map(_.getLong(0))
    vs.foreach(d => assert(streamed(d),
      s"doc $d flags only via the appended delta and must flag in the stream"))
  }

  test("streaming curation verdict against stored base artifacts == curation_incremental") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // "corpus so far" = docs < 450 in the r13 three-slice model (base +
    // yesterday's absorbed delta — a monolithic facade build of that
    // slice equals what the registry resolver serves)
    val base = docs.filter($"doc_id" < 450)
    val ixRoot = "/tmp/graft_stream_cur_mhix"
    val fpsPath = "/tmp/graft_stream_cur_fps"
    val evPath = "/tmp/graft_stream_cur_eval"
    val out = "/tmp/graft_stream_cur_out"
    Seq(ixRoot, fpsPath, evPath, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    // stage the three base artifacts the production job would own
    graft.api.GraftAPI.writeMinhashIndex(base, "doc_id", "text", ixRoot,
      numHashes = 8, bands = 2)
    base.select(md5($"text").as("fp")).distinct()
      .write.parquet(fpsPath)
    graft.api.GraftAPI.shingleRows(base.filter($"doc_id" % 50 === 0),
        "doc_id", "text")
      .select("x").distinct().write.parquet(evPath)
    // stream the batch side (docs >= 450) in 3 micro-batches
    val batchDocs = docs.filter($"doc_id" >= 450)
      .select("doc_id", "text", "n_chars").as[streaming.CurDocRow]
      .collect().sortBy(_.doc_id).toSeq
    val ms = MemoryStream[streaming.CurDocRow]
    val q = ms.toDF().writeStream
      .foreachBatch(StreamingOps.curationVerdictBatch(
        s"$ixRoot/bands", fpsPath, evPath, out,
        "doc_id", "text", "n_chars", numHashes = 8, bands = 2) _)
      .start()
    try {
      batchDocs.grouped(math.max(1, batchDocs.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getString(5))
    val streamed = spark.read.parquet(out)
      .select("doc_id", "q_ok", "exact_dup", "near_dup", "contaminated", "verdict")
      .collect().map(key).toMap
    val batch = graft.ops.PipelineOps.curationIncremental(spark, sf)
      .collect().map(key).toMap
    assert(streamed == batch,
      "per-micro-batch verdicts must equal the one-shot incremental curation")
    assert(streamed.values.map(_._5).toSet.size >= 2, "fixture lost verdict diversity")
  }

  test("streaming ANN probe against the stored IVF index == local cell-pruned top-k") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val corpusPath = s"$sf/embeddings.parquet"
    val ixRoot = "/tmp/graft_stream_annix"
    val out = "/tmp/graft_stream_ann_out"
    Seq(ixRoot, out).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    val emb = spark.read.parquet(corpusPath)
    graft.api.GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", ixRoot,
      cells = 8, m = 4, k = 8).collect()
    // query side: 6 corpus vectors replayed as 3 micro-batches
    val queries = emb.filter($"vec_id" % 97 === 3)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[streaming.StreamingOps.VecRow].collect().sortBy(_.vec_id).toSeq
    assert(queries.size >= 3)
    val ms = MemoryStream[streaming.StreamingOps.VecRow]
    val q = ms.toDF().writeStream
      .foreachBatch(StreamingOps.annProbeBatch(
        corpusPath, ixRoot, out, "vec_id", "embedding", k = 5) _)
      .start()
    try {
      queries.grouped(math.max(1, queries.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("query_id", "corpus_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(p => (-p._2, p._1)).toSeq).toMap
    // independent local model: nearest stored centroid → same-cell
    // candidates → exact snapped cosine top-5
    val cellsT = spark.read.parquet(s"$ixRoot/cells").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val coarseT = spark.read.parquet(s"$ixRoot/coarse").collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Seq[Double]]("cv").toArray)
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val model = queries.map { qr =>
      val qx = qr.embedding.toArray
      val qcell = coarseT.map { case (cid, cv) =>
        (snap(dot(qx, qx) - 2 * dot(qx, cv) + dot(cv, cv)), cid) }.min._2
      val top = vecs.toSeq.filter(v => cellsT(v._1) == qcell)
        .map { case (id, cx) =>
          (id, snap(dot(cx, qx) / (math.sqrt(dot(cx, cx)) * math.sqrt(dot(qx, qx))))) }
        .sortBy(p => (-p._2, p._1)).take(5)
      qr.vec_id -> top
    }.toMap
    assert(streamed == model,
      "streamed per-query top-k must equal the local cell-pruned model")
  }

  test("streaming ANN append against stored codebooks == ann_index_append delta codes") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    // land the batch delta with the registry op (also ensures the base
    // index artifact exists); its code rows are the oracle-checked truth
    graft.ops.VectorOps.annIndexAppend(spark, sf).count()
    val ix = graft.ops.IvfPqIndex.ensureBase(spark, sf)
    def codeKey(r: org.apache.spark.sql.Row) =
      (r.getAs[Number]("vec_id").longValue, r.getAs[Number]("m").intValue,
        r.getAs[Number]("code").longValue, r.getAs[Number]("cell").longValue)
    val want = spark.read.parquet(s"${ix.root}/ivfpq_codes_delta")
      .select("vec_id", "m", "code", "cell").collect().map(codeKey).toSet
    assert(want.nonEmpty)
    // stream the SAME held-out batch (vec_id % 10 == 7) in 3 micro-batches
    val out = "/tmp/graft_stream_annapp_out"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    val batchVecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" % 10 === 7)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .as[StreamingOps.VecRow].collect().sortBy(_.vec_id).toSeq
    val ms = MemoryStream[StreamingOps.VecRow]
    val q = ms.toDF().writeStream
      .foreachBatch(StreamingOps.annAppendBatch(
        ix.root, out, "vec_id", "embedding") _)
      .start()
    try {
      batchVecs.grouped(math.max(1, batchVecs.size / 3)).foreach { chunk =>
        ms.addData(chunk); q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("vec_id", "m", "code", "cell").collect().map(codeKey).toSet
    assert(streamed == want,
      "per-micro-batch encodes must equal the one-shot append's delta codes")
    // replay idempotency: re-running a batch id replaces, never duplicates
    StreamingOps.annAppendBatch(ix.root, out, "vec_id", "embedding")(
      batchVecs.take(math.max(1, batchVecs.size / 3)).toDF(), 0L)
    val afterReplay = spark.read.parquet(out)
      .select("vec_id", "m", "code", "cell").collect().map(codeKey).toSet
    assert(afterReplay == want, "batch replay must be idempotent")
  }

  test("index geometry guards: mismatched banding or dim fails loudly, matched passes") {
    val sq = spark; import sq.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val mhRoot = "/tmp/graft_geom_mhix"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mhRoot))
    graft.api.GraftAPI.writeMinhashIndex(docs, "doc_id", "text", mhRoot,
      numHashes = 8, bands = 2).collect()
    // probe at the (different) production default banding → loud mismatch
    val batch = docs.select("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      StreamingOps.dedupBatchAgainstIndex(s"$mhRoot/bands",
        "/tmp/graft_geom_out", "doc_id", "text")(batch, 0L)
    }
    assert(e.getMessage.contains("numHashes=8"), e.getMessage)
    // the curation verdict guards the same index root; the guard runs
    // before any side table is read, so their paths are never opened
    val eCur = intercept[IllegalArgumentException] {
      StreamingOps.curationVerdictBatch(s"$mhRoot/bands", "/tmp/graft_geom_fps",
        "/tmp/graft_geom_eval", "/tmp/graft_geom_cur_out", "doc_id", "text",
        "n_chars")(batch, 0L)
    }
    assert(eCur.getMessage.contains("numHashes=8"), eCur.getMessage)
    // matched geometry goes through
    StreamingOps.dedupBatchAgainstIndex(s"$mhRoot/bands",
      "/tmp/graft_geom_out", "doc_id", "text",
      numHashes = 8, bands = 2)(batch, 0L)
    assert(spark.read.parquet("/tmp/graft_geom_out").count() > 0)
    // ANN dim guard: 64-dim index refuses a 32-dim query batch
    val annRoot = "/tmp/graft_geom_annix"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(annRoot))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    graft.api.GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", annRoot,
      cells = 8, m = 4, k = 8).collect()
    val short = emb.limit(2).select($"vec_id",
      org.apache.spark.sql.functions.slice(
        $"embedding".cast("array<double>"), 1, 32).as("embedding"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingOps.annProbeBatch(s"$sf/embeddings.parquet", annRoot,
        "/tmp/graft_geom_ann_out", "vec_id", "embedding")(short, 0L)
    }
    assert(e2.getMessage.contains("dim=64"), e2.getMessage)
    // ADVICE r8: a batch MIXING correct- and wrong-width query vectors
    // must fail too — the guard validates the whole batch, not row one.
    val mixed = emb.limit(1).select($"vec_id", $"embedding".cast("array<double>"))
      .unionByName(short)
    val e3 = intercept[IllegalArgumentException] {
      StreamingOps.annProbeBatch(s"$sf/embeddings.parquet", annRoot,
        "/tmp/graft_geom_ann_out", "vec_id", "embedding")(mixed, 1L)
    }
    assert(e3.getMessage.contains("dims in [32, 64]"), e3.getMessage)
    // the facade append runs the same guard, before it retires the root
    // marker: both refusals leave the index committed
    val e2f = intercept[IllegalArgumentException] {
      graft.api.GraftAPI.annIndexAppend(short, "vec_id", "embedding", annRoot)
    }
    assert(e2f.getMessage.contains("dim=64"), e2f.getMessage)
    val e3f = intercept[IllegalArgumentException] {
      graft.api.GraftAPI.annIndexAppend(mixed, "vec_id", "embedding", annRoot)
    }
    assert(e3f.getMessage.contains("dims in [32, 64]"), e3f.getMessage)
    assert(graft.ops.IndexFs.committed(annRoot),
      "a refused append must leave the index committed")
    // review r10: a NULL vector must fail the guard too — min/max over
    // size() skip null rows, so without the explicit null count a null
    // query/append row would argmin to an arbitrary cell and encode or
    // score garbage silently.
    val withNull = emb.limit(1)
      .select($"vec_id", $"embedding".cast("array<double>").as("embedding"))
      .unionByName(emb.limit(2).filter($"vec_id" =!= emb.limit(1).head().getLong(0))
        .select($"vec_id",
          org.apache.spark.sql.functions.lit(null)
            .cast("array<double>").as("embedding")))
    val e4 = intercept[IllegalArgumentException] {
      StreamingOps.annProbeBatch(s"$sf/embeddings.parquet", annRoot,
        "/tmp/graft_geom_ann_out", "vec_id", "embedding")(withNull, 2L)
    }
    assert(e4.getMessage.contains("null"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException] {
      StreamingOps.annAppendBatch(annRoot,
        "/tmp/graft_geom_annapp_out", "vec_id", "embedding")(withNull, 0L)
    }
    assert(e5.getMessage.contains("null"), e5.getMessage)
  }

  private def evAt(id: Long, iso: String, uid: Long, tpe: String): Ev =
    Ev(id, java.sql.Timestamp.from(java.time.Instant.parse(iso)), uid, tpe, 1.0, "{}")
  private def usOf(iso: String): Long =
    java.time.Instant.parse(iso).toEpochMilli * 1000

  test("transitionsTwsOrdered: shuffled micro-batches emit the exact in-order pair sequence") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.transitionsTwsOrdered(ms.toDS())
        .writeStream.format("memory").queryName("s_ordered_transitions")
        .outputMode("append").start()
      try {
        // two users, every batch deliberately out of per-user order, all
        // events inside the 10-min watermark tolerance of their batch
        ms.addData(evAt(13, "2025-06-01T10:04:00Z", 1, "c"),
                   evAt(22, "2025-06-01T10:03:00Z", 2, "q"),
                   evAt(11, "2025-06-01T10:00:00Z", 1, "a"))
        q.processAllAvailable()
        ms.addData(evAt(12, "2025-06-01T10:02:00Z", 1, "b"),
                   evAt(23, "2025-06-01T10:05:00Z", 2, "r"),
                   evAt(21, "2025-06-01T10:01:00Z", 2, "p"))
        q.processAllAvailable()
        ms.addData(evAt(14, "2025-06-01T10:06:00Z", 1, "d"))
        q.processAllAvailable()
        // watermark-advancing sentinels (single events — no pairs of their
        // own) so the reorder buffers drain through the event-time timers
        ms.addData(evAt(91, "2025-06-01T10:20:00Z", 91, "z")); q.processAllAvailable()
        ms.addData(evAt(92, "2025-06-01T10:30:00Z", 92, "z")); q.processAllAvailable()
        ms.addData(evAt(93, "2025-06-01T10:40:00Z", 93, "z")); q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val got = spark.table("s_ordered_transitions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    // EXACT multiset: each true adjacent pair exactly once, nothing else
    assert(got.sorted == Seq(
      (1L, "a", "b"), (1L, "b", "c"), (1L, "c", "d"),
      (2L, "p", "q"), (2L, "q", "r")).sorted, got.toString)
  }

  test("transitionsTwsOrdered: an event in the watermark's ms waits for admissible sub-ms siblings") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ms = MemoryStream[Ev]
      val q = StreamingOps.transitionsTwsOrdered(ms.toDS())
        .writeStream.format("memory").queryName("s_boundary_transitions")
        .outputMode("append").start()
      try {
        // Batch 1 lands "b" at T+900µs (T = the ms the watermark will
        // land on: 10:20 − 10 min) plus the sentinel that pins the
        // watermark to exactly T. Spark's admission rule drops rows with
        // ts ≤ watermark, so events ABOVE T but inside T's millisecond
        // stay admissible — a ≤-ms flush would drain "b" when the timer
        // fires at wm == T, and the sub-ms-OLDER sibling "a" (T+100µs,
        // smaller id) arriving later would pair REVERSED. The strict-<
        // flush holds everything in T's ms until the watermark passes it.
        ms.addData(evAt(5, "2025-06-01T10:10:00.000900Z", 1, "b"),
                   evAt(81, "2025-06-01T10:20:00Z", 81, "z"))
        q.processAllAvailable()
        // sentinel-only batch: user 1 gets NO input here, so only its
        // TIMER can flush — this is where the ≤-flush drained "b"
        ms.addData(evAt(84, "2025-06-01T10:20:00Z", 84, "z"))
        q.processAllAvailable()
        // sub-ms sibling: same ms T, 100µs, id 3 — (ts, id)-OLDER than
        // "b", still above the watermark, so it is admitted
        ms.addData(evAt(3, "2025-06-01T10:10:00.000100Z", 1, "a"))
        q.processAllAvailable()
        // advance the watermark past T's ms so the buffer drains
        ms.addData(evAt(82, "2025-06-01T10:30:00Z", 82, "z")); q.processAllAvailable()
        ms.addData(evAt(83, "2025-06-01T10:45:00Z", 83, "z")); q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    val got = spark.table("s_boundary_transitions")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    // exact pair in (ts, id) order — the reversed ("b", "a") is the bug
    assert(got == Seq((1L, "a", "b")), got.toString)
  }

  test("transitionsTwsOrdered: kill + checkpoint-restart mid-stream keeps the pair multiset exact") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_restart").toString
    val out = java.nio.file.Files.createTempDirectory("graft_tws_restart_out").toString
    try {
      val ms = MemoryStream[Ev]
      // Durable FILE sink (the memory sink refuses checkpoint recovery):
      // exactly-once across the kill/restart is part of what's pinned.
      // ---- run 1: two shuffled micro-batches, then KILL the query ----
      val q1 = StreamingOps.transitionsTwsOrdered(ms.toDS())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        ms.addData(evAt(13, "2025-06-01T10:04:00Z", 1, "c"),
                   evAt(22, "2025-06-01T10:03:00Z", 2, "q"),
                   evAt(11, "2025-06-01T10:00:00Z", 1, "a"))
        q1.processAllAvailable()
        ms.addData(evAt(12, "2025-06-01T10:02:00Z", 1, "b"),
                   evAt(23, "2025-06-01T10:05:00Z", 2, "r"),
                   evAt(21, "2025-06-01T10:01:00Z", 2, "p"))
        q1.processAllAvailable()
      } finally q1.stop()
      // ---- run 2: RESUME from the checkpoint (reorder-buffer state,
      // timers and watermark all come back from RocksDB) and finish ----
      val q2 = StreamingOps.transitionsTwsOrdered(ms.toDS())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        ms.addData(evAt(14, "2025-06-01T10:06:00Z", 1, "d"))
        q2.processAllAvailable()
        ms.addData(evAt(91, "2025-06-01T10:20:00Z", 91, "z")); q2.processAllAvailable()
        ms.addData(evAt(92, "2025-06-01T10:30:00Z", 92, "z")); q2.processAllAvailable()
        ms.addData(evAt(93, "2025-06-01T10:40:00Z", 93, "z")); q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.read.parquet(out)
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[String]("prev_type"), r.getAs[String]("event_type"))).toSeq
      // EXACT multiset across the kill/restart boundary: nothing lost
      // from buffered state, nothing double-emitted on replay
      assert(got.sorted == Seq(
        (1L, "a", "b"), (1L, "b", "c"), (1L, "c", "d"),
        (2L, "p", "q"), (2L, "q", "r")).sorted, got.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** (user_id, sess_start µs, sess_end µs, n_events) rows of user 1. */
  private def user1Sessions(df: DataFrame): Seq[(Long, Long, Long, Long)] = {
    def us(t: java.sql.Timestamp): Long = t.getTime * 1000 + t.getNanos / 1000 % 1000
    df.filter("user_id = 1").collect()
      .map(r => (r.getAs[Long]("user_id"), us(r.getAs[java.sql.Timestamp]("sess_start")),
        us(r.getAs[java.sql.Timestamp]("sess_end")), r.getAs[Long]("n_events")))
      .toSeq.sorted
  }

  /** Six single-event sentinel users, 11:45 to 16:30: they lift the 2 h
    * watermark past 11:30, the end of user 1's last session. */
  private val sessionSentinels = Seq("11:45", "12:30", "13:30", "14:30", "15:30", "16:30")
    .zipWithIndex.map { case (t, i) => evAt(91L + i, s"2025-06-01T$t:00Z", 91L + i, "z") }

  // user 1's true ordered feed is 10:00, 10:08 (one session) and 11:00
  // (a second one); a session ends at its last event + the 30-min gap
  private val expectedUser1Sessions = Seq(
    (1L, usOf("2025-06-01T10:00:00Z"), usOf("2025-06-01T10:38:00Z"), 2L),
    (1L, usOf("2025-06-01T11:00:00Z"), usOf("2025-06-01T11:30:00Z"), 1L))

  test("sessionAgg: kill + checkpoint-restart mid-stream keeps the session multiset exact") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sess_restart").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sess_restart_out").toString
    try {
      val ms = MemoryStream[Ev]
      def start() = StreamingOps.sessionAgg(ms.toDF())
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      val q1 = start()
      try {
        // the reversed pair of the first session arrives BEFORE the kill;
        // the session itself can only close after the restart
        ms.addData(evAt(2, "2025-06-01T10:08:00Z", 1, "view"))
        q1.processAllAvailable()
        ms.addData(evAt(1, "2025-06-01T10:00:00Z", 1, "view")) // late
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        ms.addData(evAt(3, "2025-06-01T11:00:00Z", 1, "view"))
        q2.processAllAvailable()
        sessionSentinels.foreach { e => ms.addData(e); q2.processAllAvailable() }
      } finally q2.stop()
      // the late 10:00 event held in state BEFORE the kill must land
      // inside the first closed session AFTER the restart, exactly once
      val got = user1Sessions(spark.read.parquet(out))
      assert(got == expectedUser1Sessions, got.toString)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("sessionAgg: out-of-order feed yields the exact batch session machine output") {
    val sq = spark; import sq.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingOps.sessionAgg(ms.toDF())
      .writeStream.format("memory").queryName("s_ordered_sessions")
      .outputMode("append").start()
    try {
      // the first two events arrive REVERSED across batches, each inside
      // the 2 h watermark tolerance
      ms.addData(evAt(2, "2025-06-01T10:08:00Z", 1, "view"))
      q.processAllAvailable()
      ms.addData(evAt(1, "2025-06-01T10:00:00Z", 1, "view")) // late
      q.processAllAvailable()
      ms.addData(evAt(3, "2025-06-01T11:00:00Z", 1, "view"))
      q.processAllAvailable()
      sessionSentinels.foreach { e => ms.addData(e); q.processAllAvailable() }
    } finally q.stop()
    // exact multiset: the late 10:00 event lands INSIDE the first closed
    // session, and no session emits twice
    val got = user1Sessions(spark.table("s_ordered_sessions"))
    assert(got == expectedUser1Sessions, got.toString)
  }
}
