package graft.ops

import graft.Tables
import graft.api.GraftAPI
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Persisted MinHash-LSH band-table artifact — the dedup counterpart of
  * [[IvfPqIndex]]: shingling + signatures + banding run ONCE at ingest
  * time and write parquet tables; dedup probes read the stored postings
  * and never re-shingle the corpus.
  *
  * Stored layout, written by [[graft.api.GraftAPI.writeMinhashIndex]]
  * (deterministic — md5 shingles + Kirsch–Mitzenmacher integer minhash,
  * so any builder writes byte-identical postings and the probe oracles
  * can mirror the full build+probe chain):
  *
  *   <root>/bands       (doc_id, band, band_key), hive-partitioned by
  *                      pband (= band) and, with a batch width, pbatch
  *                      (= doc_id div width) — a probe prunes to its band
  *                      directories, a takedown to its batch directories;
  *   <root>/bands_fine  (doc_id, band, band_key, sub_key): the postings of
  *                      hot buckets (≥ the manifest's `hotSize`) re-keyed
  *                      on the full-signature sub_key;
  *   <root>/sub_keys    (doc_id, sub_key), one row per indexed document;
  *   <root>/bands_delta/batch=<k>  one committed generation per append
  *                      ([[graft.api.GraftAPI.minhashIndexAppend]]), the
  *                      `bands` layout plus each row's sub_key.
  *
  * Every lifecycle op is the facade's: append lands a generation and
  * keeps `bands_fine` current at the resolved bucket sizes, compact folds
  * the generations into `bands` in place, delete rewrites the affected
  * partitions. Probes read `bands` ∪ the committed generations
  * ([[resolvedPostings]]), so an appended document is visible to the
  * very next probe. All of it commits under the root marker
  * ([[IndexFs]]); a root whose marker is down, or that an older build
  * wrote, is refused by [[checkedMeta]].
  *
  * This object keeps the registry's fixture roots only: the full-corpus
  * and base-slice builds at the harness geometry, the ensured delta
  * (docs in [[DedupOps.IncrementalCutoff]], [[DedupOps.AppendCutoff]])
  * appended as generation 1), and the private copies the in-place
  * lifecycle keys mutate ([[ensureCopy]]).
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

  /** Full-corpus index, built once under the root marker. Synchronized:
    * parallel suites in one JVM must not race the build. */
  def ensure(s: SparkSession, dir: String): Ix = synchronized {
    val ix = Ix(Artifacts.root("mhix_v3", dir, "documents.parquet"))
    build(Tables.documents(s, dir), ix)
    ix
  }

  /** Corpus-slice index (docs below [[DedupOps.IncrementalCutoff]]) for
    * the incremental probes: the stored side of "new batch vs existing
    * corpus". Same build-once contract, separate root; the variant lives
    * in the version key. */
  def ensureBase(s: SparkSession, dir: String): Ix = synchronized {
    val ix = Ix(Artifacts.root("mhix_v3_base", dir, "documents.parquet"))
    build(Tables.documents(s, dir).filter(col("doc_id") < DedupOps.IncrementalCutoff), ix)
    ix
  }

  /** [[graft.api.GraftAPI.writeMinhashIndex]] at the harness geometry
    * when `ix` is not committed. */
  private def build(docs: DataFrame, ix: Ix): Unit =
    if (!IndexFs.committed(ix.root))
      GraftAPI.writeMinhashIndex(docs, "doc_id", "text", ix.root,
        DedupOps.NumHashes, DedupOps.NumBands, DedupOps.IngestBatch)

  /** Build-if-absent delta generation 1 — the ensure face of [[append]],
    * used by every probe so the resolved postings are a pure function of
    * the corpus whether or not the append job ran first. After a compact
    * has folded the batch into `bands`, the re-ensured generation is
    * empty: the append skips ids `bands` already holds. */
  def ensureDelta(s: SparkSession, dir: String, ix: Ix): String = synchronized {
    if (!IndexFs.committed(ix.generation(1))) append(s, dir, ix)
    ix.delta
  }

  /** [[graft.api.GraftAPI.minhashIndexAppend]] of yesterday's batch (docs
    * in [[DedupOps.IncrementalCutoff]], [[DedupOps.AppendCutoff]])) to
    * `ix` as generation 1. Returns the append's (band, n_base, n_new)
    * manifest. */
  private[ops] def append(s: SparkSession, dir: String, ix: Ix): DataFrame =
    GraftAPI.minhashIndexAppend(s, ix.bands,
      Tables.documents(s, dir).filter(col("doc_id") >= DedupOps.IncrementalCutoff &&
        col("doc_id") < DedupOps.AppendCutoff),
      "doc_id", "text", batchId = 1, DedupOps.NumHashes, DedupOps.NumBands)

  /** The `bands_fine` table of the base root with its delta ensured: the
    * append keeps it current, so nothing else is built here. */
  def ensureFine(s: SparkSession, dir: String, ix: Ix): String = synchronized {
    ensureDelta(s, dir, ix)
    ix.fine
  }

  /** A private copy of the committed index `src` for a registry key that
    * mutates its index in place (`dedup_index_compact`,
    * `dedup_index_delete`), so the shared roots every other key reads
    * stay as built ([[Artifacts.ensureCopy]]). */
  private[ops] def ensureCopy(src: Ix, tag: String, dir: String): Ix = synchronized {
    Ix(Artifacts.ensureCopy(src.root, Seq(src.bands, src.delta, src.fine, src.subKeys),
      tag, dir, "documents.parquet"))
  }

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
  private[graft] def writeFine(fine: DataFrame, ix: Ix): Unit =
    fine.repartition(col("pband"))
      .write.mode("overwrite").partitionBy("pband").parquet(ix.fine)
}
