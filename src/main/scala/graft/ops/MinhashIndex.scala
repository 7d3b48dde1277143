package graft.ops

import graft.Tables
import graft.api.GraftAPI
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The stored MinHash-LSH index — the dedup counterpart of [[IvfPqIndex]]
  * and the one home of its layout, lifecycle, probe core and stats:
  * shingling + signatures + banding run ONCE at ingest time and write
  * parquet tables; dedup probes read the stored postings and never
  * re-shingle the corpus. The facade's `writeMinhashIndex` and
  * `minhashIndex*` methods ([[graft.api.GraftAPI]]) forward here.
  *
  * Stored layout, written by [[write]] (deterministic — md5 shingles +
  * Kirsch–Mitzenmacher integer minhash, so any builder writes
  * byte-identical postings and the probe oracles can mirror the full
  * build+probe chain):
  *
  *   <root>/bands       (doc_id, band, band_key), hive-partitioned by
  *                      pband (= band) and, with a batch width, pbatch
  *                      (= doc_id div width) — a probe prunes to its band
  *                      directories, a takedown to its batch directories;
  *   <root>/bands_fine  (doc_id, band, band_key, sub_key): the postings of
  *                      hot buckets (≥ the manifest's `hotSize`) re-keyed
  *                      on the full-signature sub_key;
  *   <root>/sub_keys    (doc_id, sub_key), one row per indexed document;
  *   <root>/bands_delta/batch=<k>  one committed generation per
  *                      [[append]], the `bands` layout plus each row's
  *                      sub_key.
  *
  * Lifecycle: [[append]] lands a generation and keeps `bands_fine`
  * current at the resolved bucket sizes, [[compact]] folds the
  * generations into `bands` in place, [[delete]] rewrites the affected
  * partitions. Probes ([[probeHits]]) read `bands` ∪ the committed
  * generations ([[resolvedPostings]]), so an appended document is visible
  * to the very next probe. All of it commits under the root marker
  * ([[IndexFs]]); a root whose marker is down, or that an older build
  * wrote, is refused by [[checkedMeta]].
  *
  * The registry's fixture roots live here too: the full-corpus and
  * base-slice builds at the harness geometry, the ensured delta (docs in
  * [[IncrementalCutoff]], [[AppendCutoff]]) appended as generation 1),
  * and the private copies the in-place lifecycle keys mutate
  * ([[ensureCopy]]).
  *
  * At 100 TB the postings table is additionally bucketed by `band_key` so
  * the per-batch semi-join probe co-partitions without a shuffle of the
  * stored side; rows are fixed-width (id, int, 32-char key) — the corpus
  * text never lives in the index.
  */
object MinhashIndex {

  final case class Ix(root: String) {
    def bands: String = s"$root/bands"
    def delta: String = s"$root/bands_delta"
    def fine: String = s"$root/bands_fine"
    def subKeys: String = s"$root/sub_keys"
    /** The delta generation append batch `k` commits. */
    def generation(k: Long): String = s"$delta/batch=$k"
  }

  /** The layout the manifest of a current build records; [[checkedMeta]]
    * refuses any other. Bump it with the root version keys. */
  private[graft] val Layout = "3"

  /** Buckets at or above this size are hot: their postings are re-keyed
    * into `bands_fine`, and probes and candidate scans match them only on
    * the full-signature sub_key. Fixture-scale constant (sf0.01's largest
    * bucket is 5 docs); a production deployment sets it from [[skew]]'s
    * `max_bucket`/`cand_pairs` audit — the point where sz² candidate
    * enumeration starts to hurt (hundreds+). */
  private[graft] val RebandHotSize = 4L

  /** Ingest-batch width of the fixture postings: documents land in
    * id-ranges of 250 ids per ingest batch, and takedown requests arrive
    * per source/batch — so the postings are hive-partitioned by (band,
    * ingest batch) and a delete prunes to the batch directories that
    * actually contain its documents. (Unlike the ANN codes, where a
    * vector lives in ONE cell, a document posts to EVERY band — the batch
    * axis is what makes deletes partition-pruned.) */
  private[graft] val IngestBatch = 250L

  /** The three-slice incremental model of the fixture corpus: docs <
    * IncrementalCutoff are the ingest-time BASE corpus ([[ensureBase]]),
    * docs in [IncrementalCutoff, [[AppendCutoff]]) are "yesterday's"
    * appended batch (delta generation 1, [[ensureDelta]]), and docs ≥
    * AppendCutoff are "today's" probe batch — so the lifecycle's core
    * promise (an appended document is probe-visible the next day, compact
    * or not) is oracle-checkable instead of a two-slice model where the
    * delta IS the probe batch and self-hits would mask it. */
  private[graft] val IncrementalCutoff = 400
  private[graft] val AppendCutoff = 450

  // ------------------------------------------------------------ lifecycle

  /** Persist [[GraftAPI.minhashBands]] as a stored dedup index — the one
    * MinHash index build. One signature pass writes, under the root
    * marker ([[IndexFs.build]]: a crashed build reads as uncommitted):
    *   - `bands`: (doc_id, band, band_key) postings, the caller's `id`
    *     stored as `doc_id`, hive-partitioned by band (`band` duplicated
    *     as `pband` so the data column keeps its type), one file per band
    *     — and, with `batchWidth > 0`, by the ingest batch `pbatch = id
    *     div batchWidth`, the axis that makes [[delete]]'s takedowns
    *     partition-pruned (a document posts to EVERY band, so band
    *     partitioning alone cannot prune a delete);
    *   - `bands_fine`: the postings of buckets of at least
    *     [[RebandHotSize]] documents, re-keyed on the full-signature
    *     sub_key, so incremental probes match a template-family bucket
    *     only on a full-signature hit; O(hot postings), not O(corpus);
    *   - `sub_keys`: one (doc_id, sub_key) row per document (~40
    *     bytes/doc), so an append can refresh `bands_fine` for buckets it
    *     pushes over the threshold without re-signing any stored text;
    *   - the manifest (`index.properties`): geometry, batch width, hot
    *     size and [[Layout]].
    * A rebuild drops every delta generation an earlier append left.
    * Returns the per-band [[manifest]] read back FROM the stored table.
    * At 100 TB, bucket the table by band_key as well so incremental batch
    * probes co-partition against it without shuffling the stored side. */
  def write(df: DataFrame, id: String, text: String, path: String,
            numHashes: Int, bands: Int, batchWidth: Long): DataFrame = {
    val s = df.sparkSession
    val ix = Ix(path)
    IndexFs.build(path) {
      require(IndexFs.deleteRecursive(ix.delta),
        s"could not drop the delta generations under $path")
      // One signature pass feeds the postings (sub_key dropped — a 32-char
      // key per posting would bloat the main table for nothing), the fine
      // table and the per-doc sub keys; persisted so neither re-shingles.
      val bandedSub = GraftAPI.minhashBandsWithSub(df, id, text, numHashes, bands)
        .withColumnRenamed(id, "doc_id")
        .withColumn("pband", col("band"))
        .persist()
      try {
        val banded = bandedSub.drop("sub_key")
        writePostings(banded, batchWidth, ix.bands)
        val subKeys = bandedSub.select("doc_id", "sub_key").distinct()
        writeFine(fineOf(banded, subKeys, RebandHotSize), ix)
        subKeys.write.mode("overwrite").parquet(ix.subKeys)
      } finally bandedSub.unpersist()
      Artifacts.writeMeta(path,
        "numHashes" -> numHashes.toString, "bands" -> bands.toString,
        "batchWidth" -> batchWidth.toString,
        "hotSize" -> RebandHotSize.toString,
        "layout" -> Layout)
    }
    manifest(Tables.read(s, ix.bands))
  }

  /** Write `post` (doc_id, band, band_key, pband) as a postings table at
    * `path`: partitioned by band and, when `batchWidth > 0`, by the
    * ingest batch `pbatch = doc_id div batchWidth`; one file per
    * partition. */
  private def writePostings(post: DataFrame, batchWidth: Long, path: String): Unit = {
    val (laid, partCols) =
      if (batchWidth > 0)
        (post.withColumn("pbatch", expr(s"doc_id div $batchWidth")), Seq("pband", "pbatch"))
      else (post, Seq("pband"))
    laid.repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(path)
  }

  /** The `bands_fine` rows over `post` (doc_id, band, band_key, pband):
    * the postings of buckets of at least `hotSize` rows, each keyed by
    * its document's sub_key from `subKeys` (doc_id, sub_key). The one fine
    * rule of the build, the append and the compact. */
  private def fineOf(post: DataFrame, subKeys: DataFrame, hotSize: Long): DataFrame = {
    val hot = bucketSizes(post).filter(col("sz") >= hotSize).select("band", "band_key")
    post.join(hot, Seq("band", "band_key"), "left_semi")
      .join(subKeys, "doc_id")
      .select("doc_id", "band", "band_key", "sub_key", "pband")
  }

  /** APPEND a day's batch — the one append behind the registry's
    * `dedup_index_append`, the ensured delta and the daily job: the batch
    * shingles + signs ONLY itself and lands as its own committed delta
    * generation `batch=<batchId>`, so a replay of the same `batchId` is
    * an idempotent overwrite (the foreachBatch replay contract).
    * Documents whose id `bands` or another committed generation already
    * holds are SKIPPED (already indexed — this is what makes a replay
    * after [[compact]], or under a second batch id, a clean no-op instead
    * of counting the document twice in every bucket size).
    *
    * Generation rows keep the full-signature `sub_key`, so the append
    * refreshes `bands_fine` from the stored tables without re-reading any
    * text: the postings of buckets hot at the RESOLVED sizes, sub-keyed
    * from `sub_keys` and the generation rows — buckets this very append
    * pushes over the threshold included. That refresh reads the whole
    * postings table once per append. The whole append runs under the
    * retired root marker ([[IndexFs.mutate]]): a crash mid-append reads
    * as an uncommitted index. Returns the per-band manifest (band,
    * n_base, n_new): n_new counts this batch's generation, n_base the
    * postings indexed before it (`bands` and every other committed
    * generation). */
  def append(spark: SparkSession, bandsPath: String, batch: DataFrame,
             id: String, text: String, batchId: Long, numHashes: Int,
             bands: Int): DataFrame = {
    val ix = Ix(IndexFs.parent(bandsPath))
    // Refusals BEFORE the marker retirement: a rejected call leaves a
    // valid index valid.
    Artifacts.requireGeometry(ix.root,
      "numHashes" -> numHashes.toString, "bands" -> bands.toString)
    val hotSize = checkedMeta(ix.root, "before appending")("hotSize").toLong
    // The postings indexed before this batch: `bands` and every OTHER
    // committed generation (a replay of `batchId` overwrites its own).
    val others = IndexFs.committedGenerations(ix.delta)
      .filterNot(_.endsWith(s"/batch=$batchId"))
    val prior = Tables.read(spark, ix.bands).select("doc_id", "band")
    val held = if (others.isEmpty) prior
      else prior.unionByName(generationRows(spark, ix, others).select("doc_id", "band"))
    val banded = GraftAPI.minhashBandsWithSub(
        batch.join(held.select(col("doc_id").as(id)), Seq(id), "left_anti"),
        id, text, numHashes, bands)
      .withColumnRenamed(id, "doc_id")
      .withColumn("pband", col("band"))
    val fresh = IndexFs.mutate(ix.root) {
      banded.repartition(col("pband"))
        .write.mode("overwrite").partitionBy("pband").parquet(ix.generation(batchId))
      val delta = deltaRows(spark, ix)
      writeFine(fineOf(resolvedPostings(spark, ix),
        Tables.read(spark, ix.subKeys).unionByName(delta.select("doc_id", "sub_key")), hotSize), ix)
      if (others.isEmpty) delta
      else generationRows(spark, ix, Seq(ix.generation(batchId)))
    }
    // One aggregate over both sides' rows: every band of either side gets
    // a row.
    held.select(col("band"), lit(true).as("in_base"))
      .unionByName(fresh.select(col("band"), lit(false).as("in_base")))
      .groupBy("band")
      .agg(count_if(col("in_base")).as("n_base"), count_if(!col("in_base")).as("n_new"))
      .orderBy("band")
  }

  /** COMPACT in place — the one compact behind the registry's
    * `dedup_index_compact` and the maintenance remedy: folds every
    * committed delta generation into `bands` (appended rows gain the
    * `pbatch` ingest-batch axis from the recorded `batchWidth`, so the
    * partition-pruned takedown is legal for them again), extends
    * `sub_keys` with the appended documents' keys, rewrites `bands_fine`
    * at the compacted bucket sizes, and REMOVES the folded generations.
    * Afterwards the index is single-layout, exactly as [[write]] leaves
    * it, and probes return what they returned before (ApiSpec pins it).
    * The append's skip keeps every generation's ids out of `bands`, so
    * only the generations themselves are de-duplicated. Runs under the
    * retired root marker; a crash mid-compact reads as an uncommitted
    * index. No-op (beyond the manifest) when no committed generation
    * exists. Returns the compacted table's [[manifest]], ordered by
    * band. */
  def compact(spark: SparkSession, bandsPath: String): DataFrame = {
    val ix = Ix(IndexFs.parent(bandsPath))
    // The fold overwrites the base table from a localCheckpoint whose
    // blocks die with the JVM; on a crashed op's half-rewritten base, the
    // fold and the generation removal would destroy the only intact copy
    // of the appended rows.
    val meta = checkedMeta(ix.root, "instead of compacting")
    if (IndexFs.committedGenerations(ix.delta).nonEmpty) {
      val cols = Seq("doc_id", "band", "band_key", "pband").map(col)
      val delta = deltaRows(spark, ix)
      // localCheckpoint severs each read from the overwrite of its source
      val merged = Tables.read(spark, ix.bands).select(cols: _*)
        .unionByName(delta.select(cols: _*).distinct())
        .localCheckpoint()
      val subKeys = Tables.read(spark, ix.subKeys)
        .unionByName(delta.select("doc_id", "sub_key").distinct())
        .localCheckpoint()
      IndexFs.mutate(ix.root) {
        writePostings(merged, meta("batchWidth").toLong, ix.bands)
        subKeys.write.mode("overwrite").parquet(ix.subKeys)
        writeFine(fineOf(merged, subKeys, meta("hotSize").toLong), ix)
        // The folded generations retire with the marker still down: the
        // remedy for a crashed in-place fold is a rebuild, not a re-run
        // over a possibly partial base.
        require(IndexFs.deleteRecursive(ix.delta),
          s"could not remove the folded delta generations under ${ix.root}")
      }
    }
    manifest(Tables.read(spark, ix.bands)).orderBy("band")
  }

  /** Partition-pruned takedown on an index written WITH a `batchWidth` —
    * the one delete behind the registry's `dedup_index_delete`:
    * anti-joins `deleteIds` (one column, the document id) out of ONLY the
    * (band, ingest-batch) partitions of `bands` containing them
    * ([[deleteFromBands]]), and out of `bands_fine` and `sub_keys`, all
    * under one retired root marker. A takedown listing a document that a
    * committed delta generation holds is refused: [[compact]] first.
    * Mutates in place; copy first if the original must stay pristine. */
  def delete(spark: SparkSession, bandsPath: String, deleteIds: DataFrame,
             id: String): Unit = {
    val ix = Ix(IndexFs.parent(bandsPath))
    // Refusals BEFORE the marker retirement: a rejected mis-call must
    // leave a valid index valid.
    val batchWidth = checkedMeta(ix.root, "before the takedown")("batchWidth")
    require(batchWidth.toLong > 0,
      s"index at ${ix.root} was written without a batchWidth (ingest-batch " +
        "partition axis) — partition-pruned deletes need it; rebuild " +
        "with writeMinhashIndex(batchWidth = <ids per ingest batch>)")
    val ids = deleteIds.select(col(id).as("doc_id"))
    // A takedown that rewrote only `bands` would keep serving deleted
    // documents out of the generations the probes read.
    require(deltaRows(spark, ix).join(ids, Seq("doc_id"), "left_semi")
        .limit(1).count() == 0L,
      s"index at ${ix.root} has committed delta generations containing " +
        "documents in the deletion list — run minhashIndexCompact to " +
        "fold the deltas into the base (O(index), no corpus re-read), " +
        "then re-run the takedown against the single layout")
    IndexFs.mutate(ix.root) {
      deleteFromBands(spark, ix.bands, ids)
      // `bands_fine` and `sub_keys` hold the same documents: a stale fine
      // row would flag new text as a dup of a document the index no
      // longer holds, and a later append's refresh would resurrect it.
      // localCheckpoint severs each read from the overwrite of its own
      // source; both tables are small enough for a full rewrite.
      writeFine(fineRows(spark, ix)
        .join(ids, Seq("doc_id"), "left_anti").localCheckpoint(), ix)
      Tables.read(spark, ix.subKeys).join(ids, Seq("doc_id"), "left_anti")
        .localCheckpoint()
        .write.mode("overwrite").parquet(ix.subKeys)
    }
  }

  /** The partition-pruned postings rewrite of [[delete]] — the dedup
    * mirror of [[IvfPqIndex.deleteFromCodes]]: anti-join the deletion list
    * (one `doc_id` column) out of ONLY the (band, ingest-batch)
    * partitions of `live` that contain deleted documents, and
    * dynamic-partition-overwrite exactly those directories; every other
    * partition's files are untouched (byte-identical — DedupSpec proves
    * it). Guards loudly against a partition emptying out entirely:
    * dynamic overwrite only replaces partitions PRESENT in the written
    * data, so a fully-deleted batch would leave stale files behind — at
    * 100 TB that case is a catalog DROP PARTITION, here it throws with
    * instructions. */
  private[graft] def deleteFromBands(s: SparkSession, live: String, del: DataFrame): Unit = {
    val liveT = Tables.read(s, live)
    val affected = liveT.join(del, "doc_id")
      .select(col("band").as("aband"), col("pbatch").as("abatch")).distinct()
    val survivors = liveT.drop("pband")
      .join(broadcast(affected),
        col("band") === col("aband") && col("pbatch") === col("abatch"))
      .join(del, Seq("doc_id"), "left_anti")
      .drop("aband", "abatch")
    val emptied = affected.join(
        survivors.select(col("band").as("sband"), col("pbatch").as("sbatch"))
          .distinct(),
        col("aband") === col("sband") && col("abatch") === col("sbatch"),
        "left_anti")
      .collect().map(r => s"(band=${r.get(0)}, batch=${r.get(1)})")
    require(emptied.isEmpty,
      s"partitions ${emptied.mkString(",")} would be emptied by this delete; " +
        "drop those partitions via the catalog instead of a data rewrite")
    // writer-scoped option, NOT the session conf (review r10): a global
    // flip leaks dynamic-overwrite semantics to concurrent writes and
    // the restore races user conf changes (same fix as deleteFromCodes).
    survivors.withColumn("pband", col("band"))
      .repartition(col("pband"), col("pbatch"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("pband", "pbatch").parquet(live)
  }

  // ------------------------------------------------------- probe and stats

  /** (band, band_key, sz): the size of every bucket of `postings` — the
    * one bucket-size rule of the fine table, the probe and the skew
    * audit. A full-postings aggregate: pre-pruning the postings to a
    * probe batch's band keys (broadcast semi-join) was A/B'd and
    * REVERTED (optimization r14) — it saves only the bucket-cardinality
    * exchange (the postings SCAN is the O(corpus) term either way, and
    * partial aggregation already shrinks the exchange to one fixed-width
    * row per bucket) while paying a broadcast-build job per probe. The
    * 100 TB fix is a STORED per-bucket size stat maintained by the
    * lifecycle, which replaces this function. */
  private[ops] def bucketSizes(postings: DataFrame): DataFrame =
    postings.groupBy("band", "band_key").agg(count(lit(1)).as("sz"))

  /** The fine-union PROBE core — the one MinHash probe, shared by
    * `dedup_incremental`, `dedup_incremental_vsdelta`,
    * `curation_incremental` and the streaming adapters
    * (`dedupBatchAgainstIndex`, `curationVerdictBatch`), so no two
    * callers can disagree about what counts as a near-dup: one (doc_id,
    * hit) row per batch doc, `hit` = some band row of the doc hits the
    * stored index at `root` — [[resolvedPostings]] — under the fine-union
    * rule: buckets below the root's recorded `hotSize` hit on (band,
    * band_key), hot buckets only on a full-signature sub_key match in
    * `bands_fine`, which the append keeps current at the resolved sizes.
    * `batch` must carry (doc_id, band, band_key, sub_key) —
    * [[DedupOps.bandsOf]]'s shape. It is read once: both key legs flag
    * its rows and one per-doc aggregate folds the flags, so a caller
    * needs no cache, no union and no distinct over it. A root that is not
    * committed, or that an older build wrote, is refused
    * ([[checkedMeta]]). */
  private[graft] def probeHits(root: String, batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    val ix = Ix(root)
    val hotSize = checkedMeta(root, "before probing")("hotSize").toLong
    val coldKeys = bucketSizes(resolvedPostings(s, ix))
      .filter(col("sz") < hotSize)
      .select(col("band"), col("band_key"), lit(true).as("cold"))
    // No distinct on the fine keys (optimization r14): a duplicate key
    // only repeats a batch row, which the per-doc aggregate folds back,
    // and a distinct would pay a shuffle of the stored fine table per
    // probe for nothing.
    val fineKeys = fineRows(s, ix)
      .select(col("band"), col("band_key"), col("sub_key"), lit(true).as("fine"))
    batch.join(coldKeys, Seq("band", "band_key"), "left")
      .join(fineKeys, Seq("band", "band_key", "sub_key"), "left")
      .groupBy("doc_id")
      .agg(coalesce(max(coalesce(col("cold"), lit(false)) ||
        coalesce(col("fine"), lit(false))), lit(false)).as("hit"))
  }

  /** The per-band manifest (band, n_keys, n_postings, n_docs) of a
    * stored postings table. Every doc with ≥1 shingle posts exactly ONE
    * key per band, so n_postings = n_docs by construction — a lost or
    * doubled posting shows in the manifest. */
  private[graft] def manifest(postings: DataFrame): DataFrame =
    postings.groupBy("band")
      .agg(countDistinct(col("band_key")).as("n_keys"),
        count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(col("band").cast("int").as("band"), col("n_keys"),
        col("n_postings"), col("n_docs"))

  /** Bucket-size skew audit over a stored postings table (the `bands`
    * layout, or [[GraftAPI.minhashBands]] output): per band, the bucket
    * count, max bucket, hot (≥2) vs singleton split, and the exact LSH
    * candidate-pair volume Σ sz·(sz−1)/2 that band will feed a pair join
    * — the quadratic-blowup early warning that decides a re-band (more
    * bands / more rows per band) before a hot bucket stalls candidate
    * generation. Two fixed-width aggregations over the stored scalar
    * columns; document text is never touched. */
  def skew(bands: DataFrame): DataFrame =
    bucketSizes(bands).groupBy("band")
      .agg(count(lit(1)).as("n_buckets"),
        max(col("sz")).as("max_bucket"),
        sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("hot_buckets"),
        sum(when(col("sz") === 1, 1L).otherwise(0L)).as("singletons"),
        // sz·(sz−1) is always even → the halved sum is exact in longs —
        // via INTEGER div (review r10): `/` coerces to Double, which loses
        // exactness past 2^53 (sz ≳ 9.5e7, exactly the hot-bucket blowup
        // this audit measures).
        sum(expr("CAST(sz * (sz - 1) AS BIGINT) div 2")).as("cand_pairs"))
      .select(col("band").cast("int").as("band"), col("n_buckets"),
        col("max_bucket"), col("hot_buckets"), col("singletons"),
        col("cand_pairs"))

  /** The maintenance audit's MinHash inputs over the base fixture root
    * with its delta ensured: the resolved (band, band_key) postings, the
    * buckets the delta touched, the hot size and the buckets
    * `bands_fine` covers. */
  private[graft] def auditInputs(s: SparkSession, dir: String): Artifacts.AuditInputs = {
    val ix = probed(s, dir)
    val touched = deltaRows(s, ix).select("band", "band_key")
    Artifacts.AuditInputs(
      Tables.read(s, ix.bands).select("band", "band_key").unionByName(touched),
      touched, RebandHotSize, fineRows(s, ix).select("band", "band_key"))
  }

  // ---------------------------------------------------------------- reads

  /** The manifest of a committed root that this layout's build wrote —
    * the one refusal every lifecycle op and probe runs first. A root
    * whose marker is down (a crashed op) may hold half-rewritten tables;
    * a root an older build wrote keys its postings differently and may
    * lack the fine or sub-key tables. Both must be rebuilt. */
  private[graft] def checkedMeta(root: String, when: String): Map[String, String] = {
    val remedy = s"rebuild via writeMinhashIndex $when"
    IndexFs.requireCommitted(root, remedy)
    val meta = Artifacts.readMeta(root)
    require(meta.get("layout").contains(Layout),
      s"index at $root was written by an older build (layout " +
        s"${meta.getOrElse("layout", "none")}, this build writes $Layout) — $remedy")
    meta
  }

  /** Declared schema of the `bands_fine` table and of the delta
    * generations, derived from the postings schema so the id type is
    * preserved: (doc_id, band, band_key, sub_key, pband). Declared
    * because a table with no rows is written without data files, and
    * inference on it throws. */
  def facadeFineSchema(postings: StructType): StructType =
    StructType(Seq(postings("doc_id"), postings("band"), postings("band_key"),
      StructField("sub_key", StringType), postings("pband")))

  private def storedSchema(s: SparkSession, ix: Ix): StructType =
    facadeFineSchema(Tables.read(s, ix.bands).schema)

  /** The `bands_fine` rows of `ix`. */
  private[graft] def fineRows(s: SparkSession, ix: Ix): DataFrame =
    Tables.read(s, ix.fine, Some(storedSchema(s, ix)))

  /** The rows of every committed delta generation of `ix` (an empty frame
    * when there are none), in the [[facadeFineSchema]] layout. */
  private[graft] def deltaRows(s: SparkSession, ix: Ix): DataFrame =
    generationRows(s, ix, IndexFs.committedGenerations(ix.delta))

  /** [[deltaRows]] of the generation directories `gens` only. */
  private[graft] def generationRows(s: SparkSession, ix: Ix, gens: Seq[String]): DataFrame = {
    val schema = storedSchema(s, ix)
    gens match {
      case Seq() => s.createDataFrame(s.sparkContext.emptyRDD[Row], schema)
      // basePath: generation directories read as one table's partitions
      case _ => Tables.readAll(s, gens, Some(schema), Map("basePath" -> ix.delta))
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    }
  }

  /** The probed postings (doc_id, band, band_key, pband): `bands` ∪ every
    * committed delta generation. */
  private[graft] def resolvedPostings(s: SparkSession, ix: Ix): DataFrame = {
    val cols = Seq("doc_id", "band", "band_key", "pband").map(col)
    Tables.read(s, ix.bands).select(cols: _*).unionByName(deltaRows(s, ix).select(cols: _*))
  }

  /** Write `fine` (the [[facadeFineSchema]] layout) as the `bands_fine`
    * table, one file per band. Callers run it under the root marker. */
  private def writeFine(fine: DataFrame, ix: Ix): Unit =
    fine.repartition(col("pband"))
      .write.mode("overwrite").partitionBy("pband").parquet(ix.fine)

  // ------------------------------------------------ registry fixture roots

  /** Full-corpus index, built once under the root marker. Synchronized:
    * parallel suites in one JVM must not race the build. */
  def ensure(s: SparkSession, dir: String): Ix = synchronized {
    val ix = Ix(Artifacts.root("mhix_v3", dir, "documents.parquet"))
    build(Tables.documents(s, dir), ix)
    ix
  }

  /** Corpus-slice index (docs below [[IncrementalCutoff]]) for the
    * incremental probes: the stored side of "new batch vs existing
    * corpus". Same build-once contract, separate root; the variant lives
    * in the version key. */
  def ensureBase(s: SparkSession, dir: String): Ix = synchronized {
    val ix = Ix(Artifacts.root("mhix_v3_base", dir, "documents.parquet"))
    build(Tables.documents(s, dir).filter(col("doc_id") < IncrementalCutoff), ix)
    ix
  }

  /** [[write]] at the harness geometry when `ix` is not committed. */
  private def build(docs: DataFrame, ix: Ix): Unit =
    if (!IndexFs.committed(ix.root))
      write(docs, "doc_id", "text", ix.root,
        DedupOps.NumHashes, DedupOps.NumBands, IngestBatch)

  /** Build-if-absent delta generation 1 — the ensure face of
    * [[appendDay]], used by every probe so the resolved postings are a
    * pure function of the corpus whether or not the append job ran
    * first. After a compact has folded the batch into `bands`, the
    * re-ensured generation is empty: the append skips ids `bands` already
    * holds. */
  def ensureDelta(s: SparkSession, dir: String, ix: Ix): String = synchronized {
    if (!IndexFs.committed(ix.generation(1))) appendDay(s, dir, ix)
    ix.delta
  }

  /** [[append]] of yesterday's batch (docs in [[IncrementalCutoff]],
    * [[AppendCutoff]])) to `ix` as generation 1. Returns the append's
    * (band, n_base, n_new) manifest. */
  private[ops] def appendDay(s: SparkSession, dir: String, ix: Ix): DataFrame =
    append(s, ix.bands,
      Tables.documents(s, dir).filter(col("doc_id") >= IncrementalCutoff &&
        col("doc_id") < AppendCutoff),
      "doc_id", "text", batchId = 1, DedupOps.NumHashes, DedupOps.NumBands)

  /** The `bands_fine` table of the base root with its delta ensured: the
    * append keeps it current, so nothing else is built here. */
  def ensureFine(s: SparkSession, dir: String, ix: Ix): String = synchronized {
    ensureDelta(s, dir, ix)
    ix.fine
  }

  /** The base root with its delta ensured — the index every registry
    * probe and the maintenance audit read. */
  private[graft] def probed(s: SparkSession, dir: String): Ix = {
    val ix = ensureBase(s, dir)
    ensureDelta(s, dir, ix)
    ix
  }

  /** A private copy of the committed index `src` for a registry key that
    * mutates its index in place (`dedup_index_compact`,
    * `dedup_index_delete`), so the shared roots every other key reads
    * stay as built ([[Artifacts.ensureCopy]]). */
  private[ops] def ensureCopy(src: Ix, tag: String, dir: String): Ix = synchronized {
    Ix(Artifacts.ensureCopy(src.root, Seq(src.bands, src.delta, src.fine, src.subKeys),
      tag, dir, "documents.parquet"))
  }
}
