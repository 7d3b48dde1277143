package graft.jobs

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The detect → remedy → re-audit MAINTENANCE loop over both index
  * families' base roots — the execution half VERDICT r12 asked for
  * (round-12 built the audit; nothing ran the remedy it named).
  *
  * [[Maintenance.audit]] is the shared detect step (extracted from
  * [[DailyIncrement]] stage 5, which now calls it): hot-shard posture of
  * both families over the DELTA-TOUCHED shards of base ∪ delta, with
  * `unremedied` = hot shards this root's COMMITTED fine/split side-table
  * does not cover — the scheduler's trigger, converging to 0 once the
  * remedy runs while `hot_shards` stays the raw posture. One action
  * per audit: a scalar-column pass over stored postings that returns
  * both families' counts as one two-row collect, with nothing persisted;
  * the corpus text is never read.
  *
  * [[MaintenanceRun]] is the remedy executor: for each family the audit
  * reports unremedied > 0 it performs the documented remedy against the
  * SAME root —
  *
  *   - minhash: fold the delta in (`dedup_index_compact`'s layout — the
  *     probe resolver serves it from then on) and REBUILD `bands_fine`
  *     from the resolved postings ([[graft.ops.MinhashIndex.rewriteFine]]
  *     — deterministic, so a re-run byte-matches);
  *   - ann: fold the codes delta into the base root in place
  *     ([[graft.api.GraftAPI.annIndexCompact]], after which `cells` holds
  *     the appended vectors) and rebuild the cell-split side-tables over
  *     that membership ([[graft.api.GraftAPI.annIndexSplit]]), so a cell
  *     pushed over the hot threshold by appends splits with ALL its
  *     members; the next ensured delta is empty;
  *
  * then re-audits and writes the post-remedy posture. Probe outputs are
  * unchanged by construction (every side-table is a deterministic
  * function of the corpus — the fine/split purity the specs pin), so the
  * remedy is always safe to run; JobsSpec pins the full convergence:
  * planted hot shards → daily run reports unremedied > 0 → maintenance
  * run → re-audit reports 0, probes byte-identical.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.jobs.MaintenanceRun graft-engine.jar \
  *   /data/corpus/sfdir /data/corpus/increments/2026-08-15
  * }}}
  * (second arg = the daily run's outDir; `maintenance` inside it is
  * overwritten with the post-remedy posture.)
  */
object Maintenance {

  /** One family's audited posture. */
  final case class Posture(family: String, hotShards: Long, maxShard: Long,
                           unremedied: Long, remedyJob: String)

  /** One family's posture as a one-row frame (family, hot_shards,
    * max_shard, unremedied) over `postings` restricted to `touched`
    * shards. Semantics chosen so the loop CONVERGES and stays O(day + one
    * scalar-column pass) (review r12): only shards the delta touched are
    * audited (nothing else can newly cross a threshold today); sizes still
    * count base ∪ delta rows, so a slow multi-day drift is caught the day
    * it crosses.
    *
    * One aggregate answers all three counts: the `covered` keys ride the
    * postings' union with weight 0, so a shard's size is the sum of the
    * weights and it is covered when its smallest weight is 0. The touched
    * keys are a broadcast semi-join build side, which duplicates cannot
    * change, so they are not de-duplicated first. */
  private def posture(family: String, postings: DataFrame, touched: DataFrame,
                      keys: Seq[String], threshold: Long,
                      covered: DataFrame): DataFrame =
    postings.withColumn("w", lit(1L))
      .unionByName(covered.withColumn("w", lit(0L)))
      .join(broadcast(touched), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(sum("w").as("sz"), min("w").as("uncovered"))
      .filter(col("sz") >= threshold)
      .agg(count(lit(1)).as("hot_shards"),
        coalesce(max("sz"), lit(0L)).as("max_shard"),
        count(when(col("uncovered") === 1L, lit(1))).as("unremedied"))
      .select(lit(family).as("family"), col("hot_shards"), col("max_shard"),
        col("unremedied"))

  private val remedyJobs = Map(
    "minhash" -> "graft.jobs.MaintenanceRun (dedup_index_compact + bands_fine rebuild on this root)",
    "ann" -> "graft.jobs.MaintenanceRun (in-place codes compact + cell split on this root)")

  /** The two-family audit over the base roots' resolved state, in ONE
    * action: both families' one-row postures are unioned and collected
    * together. Reads stored fixed-width tables only (~12 bytes/posting —
    * the stats-ops cost class); deltas are ensured, so the posture is a
    * pure function of the corpus. */
  def audit(spark: SparkSession, sfDir: String): Seq[Posture] = {
    val mhIx = graft.ops.MinhashIndex.ensureBase(spark, sfDir)
    graft.ops.MinhashIndex.ensureDelta(spark, sfDir, mhIx)
    val mhDelta = Tables.read(spark, mhIx.delta, Some(graft.ops.DedupOps.bandsSchema))
      .select("band", "band_key")
    val mhFineCovered =
      if (graft.ops.IndexFs.committed(mhIx.root, graft.ops.IndexFs.Fine))
        Tables.read(spark, mhIx.fine, Some(graft.ops.DedupOps.fineSchema))
          .select("band", "band_key")
      else spark.emptyDataFrame
        .withColumn("band", lit(0)).withColumn("band_key", lit(""))
        .limit(0)
    val mh = posture("minhash",
      Tables.read(spark, mhIx.bands).select("band", "band_key")
        .unionByName(mhDelta),
      mhDelta, Seq("band", "band_key"),
      graft.ops.DedupOps.RebandHotSize, mhFineCovered)
    val annIx = graft.ops.IvfPqIndex.ensureBase(spark, sfDir)
    graft.ops.IvfPqIndex.ensureDelta(spark, sfDir, annIx)
    val annDelta = Tables.read(spark, annIx.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
      .filter(col("m") === 0).select("cell")
    val annSplitCovered =
      if (graft.ops.IndexFs.committed(annIx.root, graft.ops.IndexFs.Split))
        Tables.read(spark, s"${annIx.root}/coarse_split",
          Some(graft.ops.VectorOps.splitCentsSchema)).select("cell")
      else spark.emptyDataFrame.withColumn("cell", lit(0L)).limit(0)
    val ann = posture("ann",
      Tables.read(spark, annIx.cells).select("cell")
        .unionByName(annDelta),
      annDelta, Seq("cell"),
      graft.ops.VectorOps.SplitHotSize, annSplitCovered)
    val rows = mh.unionByName(ann).collect()
      .map(r => r.getString(0) -> r).toMap
    Seq("minhash", "ann").map { f =>
      val r = rows(f)
      Posture(f, r.getLong(1), r.getLong(2), r.getLong(3), remedyJobs(f))
    }
  }

  /** A computed audit as the (family, hot_shards, max_shard, unremedied,
    * remedy_job) frame both jobs persist. */
  def auditDF(spark: SparkSession, postures: Seq[Posture]): DataFrame = {
    val sq = spark; import sq.implicits._
    postures
      .map(p => (p.family, p.hotShards, p.maxShard, p.unremedied, p.remedyJob))
      .toDF("family", "hot_shards", "max_shard", "unremedied", "remedy_job")
  }

  /** Execute one family's remedy against the registry base root. */
  private[jobs] def remedy(spark: SparkSession, sfDir: String,
                           family: String): Unit = family match {
    case "minhash" =>
      graft.ops.DedupOps.dedupIndexCompact(spark, sfDir).count()
      val ix = graft.ops.MinhashIndex.ensureBase(spark, sfDir)
      graft.ops.MinhashIndex.rewriteFine(
        graft.ops.DedupOps.fineRowsFor(spark, sfDir,
          graft.ops.MinhashIndex.resolvedPostings(spark, sfDir, ix)), ix)
    case "ann" =>
      val ix = graft.ops.IvfPqIndex.ensureBase(spark, sfDir)
      graft.api.GraftAPI.annIndexCompact(spark, ix.root)
      graft.api.GraftAPI.annIndexSplit(graft.Tables.embeddings(spark, sfDir),
        "vec_id", "embedding", ix.root,
        graft.ops.VectorOps.SplitHotSize, graft.ops.VectorOps.SplitSubK)
    case other =>
      throw new IllegalArgumentException(s"unknown index family '$other'")
  }
}

/** spark-submit entry point for the remedy executor — see [[Maintenance]]. */
object MaintenanceRun {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: MaintenanceRun <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = JobSession.get("graft-maintenance-run")
    try {
      val pre = Maintenance.audit(spark, sfDir)
      val toRemedy = pre.filter(_.unremedied > 0).map(_.family)
      toRemedy.foreach(Maintenance.remedy(spark, sfDir, _))
      val post = Maintenance.audit(spark, sfDir)
      Maintenance.auditDF(spark, post)
        .write.mode("overwrite").parquet(s"$outDir/maintenance")
      def of(ps: Seq[Maintenance.Posture], f: String) =
        ps.find(_.family == f).map(_.unremedied).getOrElse(-1L)
      val report =
        s"[maintenance-run] remedied=${
          if (toRemedy.isEmpty) "none" else toRemedy.mkString("+")} " +
          s"unremedied_buckets_pre=${of(pre, "minhash")} " +
          s"unremedied_cells_pre=${of(pre, "ann")} " +
          s"unremedied_buckets=${of(post, "minhash")} " +
          s"unremedied_cells=${of(post, "ann")}"
      println(report)
    } finally JobSession.release(spark)
  }
}
