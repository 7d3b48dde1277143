package graft.jobs

import graft.Tables
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** spark-submit entry point for the STEADY-STATE DAILY RUN — the job that
  * absorbs a day's document batch into an already-curated corpus using
  * only the stored base artifacts (r9: the operable composition of
  * `curation_incremental`, `shard_pack_incremental`'s continuation
  * packing, and `dedup_index_append`). The corpus follows the three-slice
  * incremental model (r13): docs < IncrementalCutoff are the ingest-time
  * base, [IncrementalCutoff, AppendCutoff) is YESTERDAY's batch (the
  * delta generation stages 3-4 land), docs ≥ AppendCutoff are TODAY's:
  *
  *   1. VERDICTS: every batch doc gets the quality / exact-dup /
  *      near-dup / decontamination verdict against the corpus-so-far
  *      fingerprints, the RESOLVED MinHash postings, and eval shingles
  *      ([[graft.ops.PipelineOps.curationIncremental]]) →
  *      `<outDir>/verdicts`. The near-dup leg probes the base root's
  *      `bands` ∪ its committed delta generations
  *      ([[graft.ops.MinhashIndex.probeHits]]), so TODAY'S probe sees
  *      YESTERDAY'S appended documents, compacted or not (DedupSpec pins
  *      a batch doc flagging via an appended doc without any compact);
  *   2. SHARDS: the day's KEEPERS pack into training shards continuing
  *      the global shard numbering — the packer's whole state is one
  *      scalar (tokens already packed), passed as the optional third
  *      argument: the PREVIOUS run's reported `packed_tokens_total`
  *      (cumulative — the report emits it precisely so it can be fed
  *      back verbatim), or derived from the corpus-so-far slice for the
  *      demo corpus → `<outDir>/shards`;
  *   3. INDEX: yesterday's band postings land as delta generation 1 of
  *      the base MinHash index, which refreshes its `bands_fine` table
  *      at the resolved bucket sizes ([[graft.ops.DedupOps.dedupIndexAppend]],
  *      bound to [[graft.ops.MinhashIndex.append]] — the same
  *      append the probes' ensured delta runs, so stage 1's probe sees
  *      exactly these postings; tomorrow's run appends today the same
  *      way); the per-band manifest → `<outDir>/postings_manifest`;
  *   4. ANN: the appended embedding batch is encoded against the base
  *      index's STORED codebooks (coarse-assign + residual-PQ, no
  *      retraining — `ann_index_append`, bound to
  *      [[graft.ops.IvfPqIndex.append]], the same append the
  *      probes' ensured delta runs) and folds into the cell-partitioned
  *      delta next to the base codes, which the ANN probes resolve the
  *      same way ([[graft.ops.IvfPqIndex.resolvedCodes]] →
  *      `knn_ivf_pq_delta`, the streaming probe's pool); the merged
  *      per-cell manifest →
  *      `<outDir>/ann_delta_manifest`. One spark-submit absorbs a day
  *      for BOTH indexes (VERDICT r9 #4);
  *   5. MAINTENANCE AUDIT (r12, shared with the remedy executor since
  *      r13 — [[graft.jobs.Maintenance.audit]]): hot-shard posture of
  *      both index families over the DELTA-TOUCHED shards of base ∪
  *      delta — (family, hot_shards, max_shard, unremedied, remedy_job)
  *      rows → `<outDir>/maintenance`, with the counts on the report
  *      line. `unremedied` (hot shards this root's committed fine/split
  *      side-table does not cover) is the scheduler's trigger:
  *      [[graft.jobs.MaintenanceRun]] executes the named remedy and
  *      re-audits to 0 (JobsSpec pins the convergence), while
  *      `hot_shards` stays the raw posture. Cost class: one
  *      scalar-column pass over the stored postings (the stats-ops
  *      shape), aggregated only over shards the day touched — the
  *      corpus text is still never re-read.
  *
  * Every stage re-runs idempotently (all writes are overwrites keyed by
  * the batch), and at 100 TB the job costs one pass over the DAY plus
  * one scalar-column pass over the stored postings for the maintenance
  * audit (stage 5 — the same ~12-bytes-per-posting class as the stats
  * ops): the base corpus TEXT is never re-read — that is the point of
  * the stored-artifact architecture.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.jobs.DailyIncrement graft-engine.jar \
  *   /data/corpus/sfdir /data/corpus/increments/2026-08-15 [packedTokens]
  * }}}
  */
object DailyIncrement {

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: DailyIncrement <sfDir> <outDir> [packedTokens]")
    val sfDir = args(0)
    val outDir = args(1)
    val spark = JobSession.get("graft-daily-increment")
    try {
      // The report's counts ride the writes as `Dataset.observe` metrics
      // (the BooksPipeline.run pattern): no action runs for the report.
      val verdictObs, shardObs, annObs = Observation()
      graft.ops.PipelineOps.curationIncremental(spark, sfDir)
        .observe(verdictObs, count(lit(1)).as("batch"),
          count(when(col("verdict") === "keep", lit(1))).as("keep"))
        .write.mode("overwrite").parquet(s"$outDir/verdicts")
      val verdicts = Tables.read(spark, s"$outDir/verdicts")
      val keep = verdicts.filter(col("verdict") === "keep").select("doc_id")
      // TODAY's batch boundary (r13): docs >= AppendCutoff; everything
      // below it — base AND yesterday's delta — is already packed.
      val cut = graft.ops.MinhashIndex.AppendCutoff
      // shared tokenization (review r10): one definition with the
      // registry packer, so the base/batch token formula cannot drift
      val toks = graft.ops.PipelineOps.tokenCounts(spark, sfDir)
      // BATCH rows only feed the packer — keep ⊆ batch, so the result is
      // identical, but the doc_id filter pushes to the parquet scan: the
      // steady-state day never re-tokenizes the base corpus text (review
      // r10 — pre-filter, the join evaluated split(text) for every base
      // document and discarded it).
      val batchToks = toks.filter(col("doc_id") >= cut)
      // The packer's whole state is one scalar: tokens already packed
      // BEFORE this batch (args(2) = yesterday's reported
      // packed_tokens_total; derived from the corpus-so-far slice for the
      // demo corpus when absent). Resolved to a concrete long here because
      // the report line must carry the CUMULATIVE total back out —
      // emitting only the day's sum would make a caller who feeds it back
      // restart shard numbering near zero (ADVICE r9).
      val baseTokens = args.lift(2).map(_.toLong).getOrElse(
        toks.filter(col("doc_id") < cut)
          .agg(coalesce(sum(col("n_tokens")), lit(0L)))
          .head().getLong(0))
      val state = spark.range(1).select(lit(baseTokens).as("base_tokens"))
      graft.ops.PipelineOps.packByBudget(
          batchToks.join(keep, "doc_id"),
          budget = graft.ops.PipelineOps.IncrementalShardBudget,
          startTokens = Some(state))
        .observe(shardObs, coalesce(sum("n_tokens"), lit(0L)).as("day_tokens"),
          coalesce(max("shard"), lit(-1L)).as("last_shard"))
        .write.mode("overwrite").parquet(s"$outDir/shards")
      graft.ops.DedupOps.dedupIndexAppend(spark, sfDir)
        .write.mode("overwrite").parquet(s"$outDir/postings_manifest")
      graft.ops.VectorOps.annIndexAppend(spark, sfDir)
        .observe(annObs, coalesce(sum("n_new"), lit(0L)).as("ann_new"))
        .write.mode("overwrite").parquet(s"$outDir/ann_delta_manifest")
      // 5. MAINTENANCE AUDIT — the shared detect step (see scaladoc).
      val posture = Maintenance.audit(spark, sfDir)
      Maintenance.auditDF(spark, posture)
        .write.mode("overwrite").parquet(s"$outDir/maintenance")
      def p(f: String) = posture.find(_.family == f).get
      def observed(o: Observation, name: String) = o.get(name).asInstanceOf[Long]
      val dayTokens = observed(shardObs, "day_tokens")
      // packed_tokens_total is THE feedback value: pass it verbatim as the
      // next run's third argument. packed_tokens_day is informational.
      val report =
        s"[daily-increment] batch=${observed(verdictObs, "batch")} " +
          s"keep=${observed(verdictObs, "keep")} " +
          s"packed_tokens_day=$dayTokens " +
          s"packed_tokens_total=${baseTokens + dayTokens} " +
          s"last_shard=${observed(shardObs, "last_shard")} " +
          s"ann_new=${observed(annObs, "ann_new")} " +
          s"hot_buckets=${p("minhash").hotShards} hot_cells=${p("ann").hotShards} " +
          s"unremedied_buckets=${p("minhash").unremedied} " +
          s"unremedied_cells=${p("ann").unremedied}"
      println(report)
    } finally JobSession.release(spark)
  }
}
