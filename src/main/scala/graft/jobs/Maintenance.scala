package graft.jobs

import graft.ops.{Artifacts, IvfPqIndex, MinhashIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The detect → remedy → re-audit MAINTENANCE loop over both index
  * families' base roots — the execution half VERDICT r12 asked for
  * (round-12 built the audit; nothing ran the remedy it named).
  *
  * [[Maintenance.audit]] is the shared detect step (extracted from
  * [[DailyIncrement]] stage 5, which now calls it): hot-shard posture of
  * both families over the DELTA-TOUCHED shards of base ∪ delta, with
  * `unremedied` = hot shards this root's fine/split side-table does not
  * cover — the scheduler's trigger, converging to 0 once the remedy runs
  * while `hot_shards` stays the raw posture. The MinHash append keeps
  * `bands_fine` current at the resolved bucket sizes, so a committed
  * MinHash root reports 0; an IVF-PQ cell pushed over the threshold by
  * appends stays unremedied until the next split. One action per audit:
  * a scalar-column pass over stored postings that returns both families'
  * counts as one two-row collect, with nothing persisted; the corpus
  * text is never read.
  *
  * [[MaintenanceRun]] is the remedy executor: for each family the audit
  * reports unremedied > 0 it performs the documented remedy against the
  * SAME root —
  *
  *   - minhash: fold the delta generations into the base root in place
  *     ([[graft.ops.MinhashIndex.compact]], which rewrites
  *     `bands_fine` at the compacted sizes); the next ensured delta is
  *     empty;
  *   - ann: fold the codes delta into the base root in place
  *     ([[graft.ops.IvfPqIndex.compact]], after which `cells` holds
  *     the appended vectors) and rebuild the cell-split side-tables over
  *     that membership ([[graft.ops.IvfPqIndex.split]]), so a cell
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
    * max_shard, unremedied) over its [[graft.ops.Artifacts.AuditInputs]]:
    * the shard rows restricted to the delta-touched shards. Semantics
    * chosen so the loop CONVERGES and stays O(day + one scalar-column
    * pass) (review r12): only shards the delta touched are audited
    * (nothing else can newly cross a threshold today); sizes still count
    * base ∪ delta rows, so a slow multi-day drift is caught the day it
    * crosses.
    *
    * One aggregate answers all three counts: the `covered` keys ride the
    * shards' union with weight 0, so a shard's size is the sum of the
    * weights and it is covered when its smallest weight is 0. The touched
    * keys are a broadcast semi-join build side, which duplicates cannot
    * change, so they are not de-duplicated first. */
  private def posture(family: String, in: Artifacts.AuditInputs): DataFrame = {
    val keys = in.touched.columns.toSeq
    in.shards.withColumn("w", lit(1L))
      .unionByName(in.covered.withColumn("w", lit(0L)))
      .join(broadcast(in.touched), keys, "left_semi")
      .groupBy(keys.map(col): _*)
      .agg(sum("w").as("sz"), min("w").as("uncovered"))
      .filter(col("sz") >= in.hotSize)
      .agg(count(lit(1)).as("hot_shards"),
        coalesce(max("sz"), lit(0L)).as("max_shard"),
        count(when(col("uncovered") === 1L, lit(1))).as("unremedied"))
      .select(lit(family).as("family"), col("hot_shards"), col("max_shard"),
        col("unremedied"))
  }

  private val remedyJobs = Map(
    "minhash" -> "graft.jobs.MaintenanceRun (in-place postings compact on this root)",
    "ann" -> "graft.jobs.MaintenanceRun (in-place codes compact + cell split on this root)")

  /** The two-family audit over the base roots' resolved state, in ONE
    * action: both families' one-row postures are unioned and collected
    * together. Reads stored fixed-width tables only (~12 bytes/posting —
    * the stats-ops cost class); deltas are ensured, so the posture is a
    * pure function of the corpus. */
  def audit(spark: SparkSession, sfDir: String): Seq[Posture] = {
    val mh = posture("minhash", MinhashIndex.auditInputs(spark, sfDir))
    val ann = posture("ann", IvfPqIndex.auditInputs(spark, sfDir))
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
      MinhashIndex.compact(spark, MinhashIndex.ensureBase(spark, sfDir).bands)
    case "ann" =>
      val ix = IvfPqIndex.ensureBase(spark, sfDir)
      IvfPqIndex.compact(spark, ix.root)
      IvfPqIndex.split(graft.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        ix.root, IvfPqIndex.SplitHotSize, IvfPqIndex.SplitSubK)
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
