package graft

/** Benchmark main: times every `SparkEntry.queries` entry at the target SF.
  *
  * Output contract: the LAST stdout line is ONE JSON object small enough to
  * survive the driver's bounded tail capture (~2000 chars, which also has to
  * fit sbt's trailing "[success] …" line). Rounds 1–3 shipped a full
  * 132-entry per-query map on that line (~3 KB) and the driver recorded
  * `parsed: null` every time — so the compact line carries the grand total,
  * counts, failures, and a fixed HEADLINE subset of per-query seconds, and
  * the complete per-query map is printed on an earlier line (`metric:
  * "total_full"`) for humans reading the log.
  */
object Bench {

  /** Representative per-query timings for the compact line — one or two per
    * operator family; the grand total still covers every query. */
  private val headline: Seq[String] = Seq(
    "sql_pricing_summary", "sql_shipping_priority", "sql_local_supplier_volume",
    "agg_group", "agg_skew_salted", "agg_hll_sketch_merge",
    "join_broadcast", "join_sortmerge", "join_dpp", "join_asof",
    "join_range_binned", "window_rank", "topk_native",
    "dedup_exact", "dedup_minhash", "dedup_clusters", "simjoin_lsh",
    "dedup_ngram_jaccard", "decontam_ngram", "dedup_incremental",
    "build_minhash_index", "text_token_entropy", "corpus_dedup_funnel",
    "dedup_index_append", "dedup_index_compact", "dedup_index_delete",
    "embed_mrl_recall",
    "knn_cosine", "knn_ivf", "knn_ivf_kmeans", "knn_batch", "embed_neardup",
    "build_ivfpq_index", "ann_index_append", "ann_index_compact",
    "ann_index_split", "knn_ivf_split", "scan_jdbc_partitioned",
    "knn_ivf_pq", "semantic_dedup_scaled",
    "embed_centroids", "agg_kll_quantiles", "corpus_temperature_mix",
    "text_tfidf", "text_bm25", "text_logprob", "lang_id_ngram", "token_count",
    "docs_quality_filter", "curation_pipeline", "curation_pipeline_staged",
    "shard_pack_tokens",
    "corpus_mix_epochs", "events_session", "events_retention",
    "events_running_total", "sessions_concurrency",
    "media_features", "media_dedup", "cdc_apply_changes",
    "upsert_latest_by_key", "row_global_index", "sample_per_group",
    "orders_rfm", "scan_parquet")

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Plan-shape telemetry (VERDICT r11 #6): every box-noise adjudication
    * so far burned a session on isolated re-runs because wall seconds
    * alone can't distinguish "the plan changed" from "the box is hot".
    * Shuffle bytes read/written are a plan-shape fingerprint — identical
    * bytes + slower seconds reads as box noise in one line; different
    * bytes means the plan actually changed. Peak execution memory is the
    * spill-pressure early warning. Task-end counters are ASYNC (the
    * listener bus drains behind the query); the snapshot happens after
    * the post-query clearCache + GC, so attribution error is bounded by
    * stragglers of the just-finished query — fine for the fingerprint
    * use, not an accounting ledger. */
  private final class MetricListener extends org.apache.spark.scheduler.SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong
    private val written = new java.util.concurrent.atomic.AtomicLong
    private val peak = new java.util.concurrent.atomic.AtomicLong
    private val memSp = new java.util.concurrent.atomic.AtomicLong
    private val diskSp = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
        // Spill counters (r13, VERDICT r12 #6/#7): at memory-constrained
        // geometry (the 1 GiB-executor spill proof) non-zero spill with a
        // completed run is the SUCCESS signal — the aggregation paths
        // degrade to disk instead of OOMing — and at comfortable geometry
        // a spill regression is a memory-blowup early warning the
        // wall-seconds noise band can hide.
        memSp.addAndGet(m.memoryBytesSpilled)
        diskSp.addAndGet(m.diskBytesSpilled)
      }
    }
    def bytes: (Long, Long) = (read.get, written.get)
    def spills: (Long, Long) = (memSp.get, diskSp.get)
    def peakAndReset(): Long = peak.getAndSet(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Debug aid: SPARK_GRAFT_ONLY=q1,q2 restricts BOTH warm-up and the
    // timed set (the driver never sets it — full map by default).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    // Warm-up at the smallest SF: exercises every selected query's
    // codegen/JIT path once so measured sf timings reflect steady-state
    // execution, not first-call compilation. Skipped if the SF is absent.
    val warmDir = "/root/testdata/sf0.001"
    val warmT0 = System.nanoTime()
    // canonical-path compare (review r11): a trailing slash or symlink
    // alias of the warm SF would pass a raw string inequality and run
    // the whole suite a THIRD time at the target scale as "warm-up"
    def canon(p: String) =
      try new java.io.File(p).getCanonicalPath catch { case _: java.io.IOException => p }
    if (new java.io.File(warmDir).isDirectory && canon(warmDir) != canon(sfDir)) {
      selected.foreach { case (name, fn) =>
        // NonFatal (review r11): an Error (OOM, linkage) must abort the
        // run, not leave a corrupted JVM poisoning every later timing
        try fn(spark, warmDir).count() catch {
          case scala.util.control.NonFatal(t) =>
            System.err.println(s"[bench] warm-up $name failed: ${t.getClass.getSimpleName}")
        }
      }
      // Same hygiene as after each timed query: the ~200-query warm-up
      // pass otherwise leaves its persisted generations/broadcasts
      // resident under the FIRST timed queries (cleared only after their
      // runs), biasing early sweep positions.
      spark.catalog.clearCache()
      System.gc()
    }
    val warmSec = (System.nanoTime() - warmT0) / 1e9
    val sweepT0 = System.nanoTime()
    // Execution-order (name, minSec, maxSec, err) — persisted to
    // BENCH_TIMELINE.json below so the round artifact carries the full
    // per-query min/max timeline, not just the stderr log (VERDICT r5 #2:
    // driver-vs-builder sweep gaps must be attributable from the artifact
    // alone — a broad min≈max inflation reads as box noise, isolated
    // min≪max spikes as per-query first-run cost).
    val metrics = new MetricListener
    spark.sparkContext.addSparkListener(metrics)
    metrics.peakAndReset() // discard warm-up pressure
    final case class Tl(name: String, minSec: Double, maxSec: Double,
                        shr: Long, shw: Long, peak: Long,
                        memSp: Long, diskSp: Long, err: Option[String])
    val timeline = scala.collection.mutable.ArrayBuffer.empty[Tl]
    // Per query: full execution at the target SF, twice; report the min —
    // standard noise control against transient GC/compilation/IO spikes
    // (a single-shot run once showed a 6× outlier on one query). A query
    // that throws is recorded as FAILED, never as a (fast) time.
    val results: Map[String, Either[String, Double]] = selected.map { case (name, fn) =>
      val bytes0 = metrics.bytes
      val spills0 = metrics.spills
      val runs = (1 to 2).map { i =>
        // Measurement-hygiene fix (optimization r14, guide §1; declared
        // in OPTIMIZATION_r14.md): the between-queries clearCache+GC
        // left NO barrier between a query's two timed runs, so a heavy
        // first run's garbage (a 60+ GB heap of retired shuffle/cache
        // state) got collected INSIDE the second run's window — measured
        // as curation_pipeline's memo-hit run drawing 0.5 s in one sweep
        // and 6.9 s in the next on identical plans. A driver GC before
        // run 2, outside both windows, makes min-of-two measure the
        // query, not the collector's timing. (GC only — deliberately NOT
        // clearCache: the cache/artifact state run 2 sees is unchanged.)
        if (i == 2) System.gc()
        val t0 = System.nanoTime()
        val r = try { fn(spark, sfDir).count(); None }
                catch { case scala.util.control.NonFatal(t) => Some(t.getClass.getSimpleName) }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val firstErr = runs.flatMap(_._1).headOption
      // Post-query hygiene, OUTSIDE the timed window: drop any persisted
      // intermediates the query left behind (dedup/curation cache
      // generations are only retired lazily at the next dedup entry —
      // until then their blocks sit in the block manager inflating every
      // query in between). Driver-GC nudge lets ContextCleaner release
      // finished broadcasts/task binaries promptly instead of waiting for
      // the 90 s periodic tick — the r4 sweep showed 10-70× inflation on
      // late queries from exactly this accumulation.
      spark.catalog.clearCache()
      System.gc()
      // stderr progress line (stdout carries only the JSON contract):
      // execution-order timeline makes cross-query interference (cache /
      // codegen / cleaner pressure building up over ~190 queries) visible
      // in one run instead of needing bisection.
      // Snapshot AFTER the hygiene barrier above (clearCache + GC give
      // the async listener bus time to drain the query's task events).
      val bytes1 = metrics.bytes
      val spills1 = metrics.spills
      val (shr, shw) = (bytes1._1 - bytes0._1, bytes1._2 - bytes0._2)
      val (memSp, diskSp) = (spills1._1 - spills0._1, spills1._2 - spills0._2)
      val peak = metrics.peakAndReset()
      System.err.println(
        f"[bench] $name%-24s ${runs.map(_._2).min}%8.3f min  ${runs.map(_._2).max}%8.3f max" +
          f"  shr=${shr / 1048576.0}%.1fMB shw=${shw / 1048576.0}%.1fMB" +
          (if (memSp > 0) f" spill=${memSp / 1048576.0}%.1fMB" else "") +
          firstErr.fold("")(e => s"  FAILED:$e"))
      timeline += Tl(name, runs.map(_._2).min, runs.map(_._2).max,
        shr, shw, peak, memSp, diskSp, firstErr)
      name -> firstErr.toLeft(runs.map(_._2).min)
    }
    val wallSec = (System.nanoTime() - sweepT0) / 1e9
    val ok = results.collect { case (k, Right(v)) => k -> v }
    val failed = results.collect { case (k, Left(e)) => k -> e }.toSeq.sortBy(_._1)
    val total = ok.values.sum
    def qmap(entries: Iterable[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val failedJson = failed.take(8)
      .map { case (k, e) => "\"" + k + ":" + e + "\"" }.mkString("[", ",", "]")
    // Full per-query min/max timeline in EXECUTION ORDER → a file the
    // end-of-round commit picks up (the stdout tail budget can't fit it).
    // min-of-two is what the totals report; min-vs-max tells inflation
    // stories apart after the fact.
    val tlJson = timeline.map { t =>
      s"""{"q":"${t.name}","min":${f3(t.minSec)},"max":${f3(t.maxSec)}""" +
        s""","shuffle_read":${t.shr},"shuffle_write":${t.shw}""" +
        s""","peak_mem":${t.peak}""" +
        s""","mem_spilled":${t.memSp},"disk_spilled":${t.diskSp}""" +
        t.err.fold("")(err => s""","err":"$err"""") + "}"
    }.mkString("[\n  ", ",\n  ", "\n]")
    // The file write must NOT be able to discard the sweep (review r6):
    // an unwritable path after a multi-minute run would otherwise throw
    // before the stdout contract lines print. Best-effort, loud on
    // stderr either way.
    try {
      val tlPath = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_TIMELINE", "BENCH_TIMELINE.json"))
      java.nio.file.Files.write(tlPath,
        s"""{"sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"total_min_of_two":${f3(total)},"sweep_wall":${f3(wallSec)},"warmup_wall":${f3(warmSec)},"timeline":$tlJson}\n"""
          .getBytes("UTF-8"))
      System.err.println(s"[bench] timeline written to ${tlPath.toAbsolutePath}")
    } catch {
      // NonFatal, not just IOException (ADVICE r6): Paths.get on a
      // malformed SPARK_GRAFT_TIMELINE throws InvalidPathException (a
      // RuntimeException) — it must not discard the sweep either.
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] timeline write FAILED (results below unaffected): $e")
    }
    // Per-module subtotals (VERDICT r10 #8): a 251-query single number
    // makes sweep regressions unattributable; the family line localizes a
    // +17% to "dedup grew 4 s" without manual per-query diffing.
    val families: Seq[(String, Set[String])] = Seq(
      "relational" -> ops.Relational.queries.keySet,
      "events"     -> ops.EventOps.queries.keySet,
      "text"       -> ops.TextOps.queries.keySet,
      "dedup"      -> ops.DedupOps.queries.keySet,
      "vector"     -> ops.VectorOps.queries.keySet,
      "books"      -> ops.BooksOps.queries.keySet,
      "multimodal" -> ops.MultimodalOps.queries.keySet,
      "pipeline"   -> ops.PipelineOps.queries.keySet)
    val famJson = families.map { case (fam, keys) =>
      val secs = ok.collect { case (k, v) if keys(k) => v }
      s""""$fam":{"sec":${f3(secs.sum)},"n":${secs.size}}"""
    }.mkString("{", ",", "}")
    // Sweep-level plan-shape fingerprint: grand shuffle bytes + worst
    // per-query peak memory. Bytes stable across boxes ⇒ any seconds
    // drift is environmental.
    val shrTot = timeline.map(_.shr).sum
    val shwTot = timeline.map(_.shw).sum
    val peakMax = if (timeline.isEmpty) 0L else timeline.map(_.peak).max
    val memSpTot = timeline.map(_.memSp).sum
    val diskSpTot = timeline.map(_.diskSp).sum
    // Full per-query map — earlier line, human/log consumption only.
    println(s"""{"metric":"total_full","value":${f3(total)},"unit":"sec","shuffle_read":$shrTot,"shuffle_write":$shwTot,"peak_mem_max":$peakMax,"mem_spilled":$memSpTot,"disk_spilled":$diskSpTot,"subtotals":$famJson,"queries":${qmap(ok.toSeq.sortBy(_._1))},"failed":$failedJson,"sf":"$sfDir"}""")
    // Compact line LAST: grand total + counts + headline subset. `wall` /
    // `warm` carry the sweep + warm-up wall seconds so the artifact shows
    // how much of the driver's observed runtime was measured queries vs
    // harness overhead. When queries FAILED, the headline map yields its
    // budget to the failure list (review r11): the ~1650-char healthy
    // line plus up-to-8 ~55-char failure entries could overflow the
    // driver's ~2000-char tail capture and null the artifact in exactly
    // the regression rounds it exists for — failures outrank headline
    // seconds, and the full map is on the total_full line + timeline.
    val head =
      if (failed.isEmpty) headline.flatMap(k => ok.get(k).map(k -> _))
      else Seq.empty
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","wall":${f3(wallSec)},"warm":${f3(warmSec)},"shuffle_read":$shrTot,"shuffle_write":$shwTot,"n_queries":${results.size},"n_failed":${failed.size},"failed":$failedJson,"queries":${qmap(head)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
