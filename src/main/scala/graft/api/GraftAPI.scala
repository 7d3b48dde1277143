package graft.api

import graft.Tables
import graft.ops.CacheLifecycle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, column-parameterized entry points — the surface a USER of this
  * library calls on their own DataFrames.
  *
  * The dedup, text, pipeline, events, graph and vector methods here ARE
  * the registry's implementation: the `graft.ops` registry keys bind them
  * to the test tables (`doc_id`/`text`, `vec_id`/`embedding`, the harness
  * MinHash geometry) plus renames and a presentation sort, so the DuckDB
  * oracle gate checks these very plans. Each bound method names its key
  * in a "Registry binding" line. Four keys keep their own plan on
  * purpose, each saying why in its scaladoc: `join_asof` and
  * `join_asof_tolerance` (one-scan self-timelines, where
  * [[asofJoinBackward]] would scan `events` twice), `cdc_diff_snapshots`
  * (a single-pass conditional aggregate, where [[snapshotDiff]] would
  * scan and shuffle `orders` twice) and `dedup_exact` (which hash is the
  * contract, raw text or [[exactDedupGroups]]' `to_json`, is still open).
  *
  * Everything is a pure DataFrame→DataFrame transform: no SparkSession
  * parameter, no paths, no side effects — the caller owns I/O. All
  * shuffle-shape and determinism guarantees of the harness ops carry over
  * unchanged (DECIMAL-routed sums, md5 hashing, explicit tie-breaks), and
  * every method documents its 100 TB behavior.
  */
object GraftAPI {

  import graft.Tables.{dsum, r6}

  /** Partition-order-independent double sum via exact decimal addition,
    * like [[graft.Tables.dsum]] but with finer quantization — for API
    * paths (e.g. [[temperatureMix]]) whose outputs must still normalize
    * at full double precision. `scale` picks the range/precision trade:
    * 12 ⇒ ±1e26 range at 1e-12 granularity (mass-like sums — any real
    * corpus's token/char mass fits; values beyond the range would cast
    * to NULL and silently drop, so don't shrink the range further), 18 ⇒
    * ±1e20 at 1e-18 (sums of (0,1]-bounded terms like p^alpha). */
  private def dsumHi(c: Column, scale: Int): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, scale))).cast("double")

  // ---------------------------------------------------------------- dedup

  /** Exact dedup groups: content hash over `cols` → (fp, keep_id, n_dups).
    * One map-side-combined hash aggregate; `keep` must be a stable id so
    * replays pick identical winners. */
  def exactDedupGroups(df: DataFrame, cols: Seq[String], keep: String): DataFrame =
    // Rows serialize through to_json(struct(cols)) (review r10): the
    // earlier NUL-separated concat_ws SKIPPED null columns, so
    // (null, "x") and ("x", null) collided -- a genuinely different
    // record was silently deleted -- and a value containing the
    // separator could alias a column boundary. JSON keeps field names
    // (null fields omit BY NAME, so distinct null patterns stay
    // distinct strings) and escapes everything, at the same
    // one-hash-aggregate plan shape.
    df.groupBy(md5(to_json(struct(cols.map(col): _*))).as("fp"))
      .agg(min(col(keep)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Survivors of exact dedup: the input rows whose `keep` id won their
    * content group (left-semi against the group table — no row explosion,
    * textless shuffle if `keep` is small). */
  def exactDedup(df: DataFrame, cols: Seq[String], keep: String): DataFrame =
    df.join(exactDedupGroups(df, cols, keep)
      .select(col("keep_id").as(keep)), Seq(keep), "left_semi")

  /** Per-row word-n-gram rows (id, gram-md5) — the shared shingle layout
    * for every similarity op: posexplode + window `lead`s, fully codegen,
    * fixed-width output, one shuffle on `id`. */
  def ngramRows(df: DataFrame, id: String, text: String, n: Int): DataFrame = {
    // n = 1 would reference a lead column that never exists and n ≤ 0 is
    // meaningless — fail with the parameter, not an unresolved-column
    // AnalysisException from deep inside the plan (review r10)
    require(n >= 2, s"ngramRows needs n >= 2 (unigrams have no span), got $n")
    val w = Window.partitionBy(id).orderBy("pos")
    val leads = (1 until n).map(i => lead(col("w"), i).over(w).as(s"w$i"))
    df.select(col(id), posexplode(split(lower(col(text)), " ")))
      .withColumnRenamed("col", "w")
      .select(col(id) +: col("w") +: leads: _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col(id),
        md5(concat_ws(" ", col("w") +: (1 until n).map(i => col(s"w$i")): _*)).as("g"))
  }

  /** Cross-corpus duplicated-span coverage per document (the
    * exact-substring-dedup signal): fraction of n-gram positions whose
    * gram occurs in ≥ `minDocs` distinct documents. Dup-gram set is
    * duplication-sized → broadcasts on clean corpora, AQE-hash-joins on
    * dirty ones. */
  def crossdocDupRatio(df: DataFrame, id: String, text: String,
                       n: Int = 8, minDocs: Int = 2): DataFrame =
    dupGramCoverage(ngramRows(df, id, text, n), id, minDocs)

  /** The coverage step of [[crossdocDupRatio]] over [[ngramRows]]-shaped
    * (id, g) rows — split out so a caller that pins its gram rows (the
    * registry's generation cache) reuses them across the three consumers. */
  private[graft] def dupGramCoverage(grams: DataFrame, id: String,
                                     minDocs: Int): DataFrame = {
    val dupG = grams.groupBy("g").agg(countDistinct(col(id)).as("nd"))
      .filter(col("nd") >= minDocs).select("g")
    val tot = grams.groupBy(id).agg(count(lit(1)).as("n_grams"))
    val hit = grams.join(dupG, "g").groupBy(id).agg(count(lit(1)).as("n_dup"))
    tot.join(hit, Seq(id), "left")
      .select(col(id), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        r6(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"))
          .as("dup_ratio"))
  }

  /** Paragraph-level exact dedup (the Dolma/FineWeb intra-corpus
    * paragraph pass) over any (id, text) frame: text splits on
    * `separator` into ordered units (default: whitespace-chunking is NOT
    * applied here — pass "\n\n" for real paragraphs, or pre-chunk and
    * pass "\n"), each distinct unit survives only at its first (id, idx)
    * occurrence, and survivors reassemble per row in original order.
    * Returns (id, n_chunks, n_kept, text_kept); a fully-deduplicated row
    * still reports (n_kept = 0). Keeper choice is an associative
    * integer-key min through one map-side-combined groupBy — no
    * corpus-scale window; `id` must be an integral column (the keeper
    * key is integer-encoded) and unit index must stay below 2^20 (loud
    * in-expression failure otherwise). */
  def paragraphDedup(df: DataFrame, id: String, text: String,
                     separator: String = "\n\n"): DataFrame = {
    // `split` takes a REGEX but the reassembly below uses the separator
    // as a LITERAL — quote it (review r10), or a separator with regex
    // metacharacters ("||", ".", "++") mis-splits (per-character
    // explosion for "||") and text_kept reassembles garbage silently.
    val sepRe = java.util.regex.Pattern.quote(separator)
    val chunks = df
      .select(col(id).as("_id"), posexplode(split(col(text), sepRe)))
      .select(col("_id"), col("pos").cast("long").as("cidx"), col("col").as("chunk"))
    keepFirstChunks(chunks, "_id", separator).withColumnRenamed("_id", id)
  }

  /** The keeper-and-reassembly core of [[paragraphDedup]] over (id,
    * cidx, chunk) rows, whatever chunker produced them: each distinct
    * chunk survives at its lowest (id, cidx), survivors rejoin per id in
    * cidx order with `separator`, and every id keeps its row (n_kept = 0
    * when emptied). Returns (id, n_chunks, n_kept, text_kept). */
  private[graft] def keepFirstChunks(chunks: DataFrame, id: String,
                                     separator: String): DataFrame = {
    // Both factors are guarded: cidx ≥ 2^20 would collide with the next
    // id's block, and an id outside [0, 2^43) overflows id·2^20 + cidx —
    // silently, to a key that can alias ANOTHER document's chunk (a
    // snowflake-style 10^18 id is far past 2^43 ≈ 8.8e12). Loud
    // in-expression failure on both, not a wrong keeper.
    val enc = when(col("cidx") >= (1L << 20),
        expr("raise_error('paragraphDedup: >=2^20 units in one row — key would alias')")
          .cast("long"))
      .when(col(id) < 0 || col(id) >= (1L << 43),
        expr("raise_error('paragraphDedup: id outside [0, 2^43) — keeper key would overflow')")
          .cast("long"))
      .otherwise(col(id) * (1L << 20) + col("cidx"))
    val keep = chunks.groupBy("chunk").agg(min(enc).as("kkey"))
    val kept = chunks.join(keep, "chunk").filter(enc === col("kkey"))
    val perDoc = kept.groupBy(id)
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("cidx"), col("chunk")))).as("p"))
      .select(col(id), col("n_kept"),
        concat_ws(separator, transform(col("p"), x => x.getField("chunk"))).as("text_kept"))
    chunks.groupBy(id).agg(count(lit(1)).as("n_chunks"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Distinct word-3-gram shingles, one row per (id, shingle `x`) — the
    * shared tokenize+shingle front of the dedup family (the registry's
    * MinHash, verify and decontamination ops all start here), public so
    * downstream verdict jobs (e.g. the streaming incremental-curation
    * twin) can probe stored shingle-set artifacts without re-deriving
    * the recipe.
    *
    * Deliberately NOT a higher-order-function array build: HOF lambdas
    * (`transform`/`aggregate`) evaluate interpreted and measured ~2.6 ms
    * per document — they were the entire minhash hot path. posexplode +
    * window `lead` + distinct stays inside whole-stage codegen; the
    * window and distinct both shuffle on the id, which is also the right
    * layout at 100 TB (each doc's token stream is processed in one
    * partition, shingle sets never exist as per-row array objects). */
  def shingleRows(df: DataFrame, id: String, text: String): DataFrame = {
    val w = Window.partitionBy(id).orderBy("pos")
    df.select(col(id), posexplode(split(lower(col(text)), " ")))
      .withColumnRenamed("col", "w")
      .withColumn("w1", lead("w", 1).over(w))
      .withColumn("w2", lead("w", 2).over(w))
      .filter(col("w2").isNotNull)
      .select(col(id), concat_ws(" ", col("w"), col("w1"), col("w2")).as("x"))
      .distinct()
  }

  /** MinHash-LSH banding table for any (id, text) frame: `numHashes`
    * Kirsch–Mitzenmacher seed hashes from ONE md5 per shingle, min'd
    * inside a hash aggregate, banded `rowsPerBand` at a time. The 100 TB
    * dedup artifact — write it partitioned by band_key prefix and
    * self-join bucket-locally. Shuffle rows are (id, longs), never text.
    *
    * Defaults are the production operating point (128 hashes / 16 bands
    * of 8 rows — the S-curve knee sits at s ≈ (1/16)^(1/8) ≈ 0.71
    * Jaccard, the usual near-dup bar); the harness queries use a smaller
    * 8/2 configuration so their DuckDB oracles stay tractable — the
    * banding algebra is identical at any (numHashes, bands). */
  def minhashBands(df: DataFrame, id: String, text: String,
                   numHashes: Int = 128, bands: Int = 16): DataFrame =
    minhashBandsWithSub(df, id, text, numHashes, bands)
      .drop("sub_key")

  /** [[minhashBands]] plus the full-signature `sub_key` (md5 over ALL
    * numHashes slots) — the fine re-band key hot-bucket probes and the
    * `bands_fine` side-table share. One signature pass serves both. */
  private[graft] def minhashBandsWithSub(df: DataFrame, id: String,
                                         text: String, numHashes: Int,
                                         bands: Int): DataFrame =
    minhashBandRows(minhashSignatures(shingleRows(df, id, text), id, numHashes),
      id, numHashes, bands)
      .select(col(id), col("band"), col("band_key"), col("sub_key"))

  /** MinHash signatures over [[shingleRows]]-shaped (id, x) rows, in the
    * scale-friendly explode + partial-agg shape: ONE md5 per shingle
    * split into two 32-bit integer halves (a, b), then the k seed hashes
    * derived by Kirsch–Mitzenmacher mixing `a + s·b` inside a hash
    * aggregate with k `min` accumulators — codegen'd scalar work and one
    * map-side-combined groupBy whose shuffle rows are (id, k longs); no
    * interpreted higher-order functions, no per-seed rehash of the text.
    * (a + s·b < 2³² + k·2³² — no overflow, and identical integer
    * arithmetic in DuckDB.) Emits (id, mh1..mhk, n_sh): the shingle-set
    * size rides the same aggregate for free (callers that do not read it
    * have it pruned). */
  private[graft] def minhashSignatures(shRows: DataFrame, id: String,
                                       numHashes: Int): DataFrame = {
    val ex = shRows
      .select(col(id), md5(col("x")).as("h"))
      .select(col(id),
        conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"))
    val mins = (1 to numHashes).map(sd => min(col("a") + lit(sd.toLong) * col("b")).as(s"mh$sd"))
    ex.groupBy(id).agg(mins.head, (mins.tail :+ count(lit(1)).as("n_sh")): _*)
  }

  /** The full-signature sub-key over a [[minhashSignatures]] row — md5
    * over ALL `numHashes` slots, the fine re-band key (collision
    * probability J^numHashes instead of a band's J^rowsPerBand). */
  private[graft] def minhashSubKey(numHashes: Int): Column =
    md5(concat_ws("|", (1 to numHashes).map(i => col(s"mh$i").cast("string")): _*))

  /** LSH banding of [[minhashSignatures]]: one row per (id, band) with
    * `band_key` = md5 over that band's `numHashes / bands` slots, the
    * doc's `n_sh` and its [[minhashSubKey]] — the candidate-stage length
    * filter and the hot-bucket fine scheme read both straight off the
    * bucket rows. Emits (id, n_sh, sub_key, band, band_key). */
  private[graft] def minhashBandRows(sig: DataFrame, id: String,
                                     numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val bandArr = array((1 to bands).map { bnd =>
      val slots = ((bnd - 1) * rowsPerBand + 1 to bnd * rowsPerBand)
        .map(i => col(s"mh$i").cast("string"))
      struct(lit(bnd).as("band"), md5(concat_ws("|", slots: _*)).as("band_key"))
    }: _*)
    sig.select(col(id), col("n_sh"), minhashSubKey(numHashes).as("sub_key"),
        explode(bandArr).as("bk"))
      .select(col(id), col("n_sh"), col("sub_key"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** i<j pairs within each sorted `ids` array, one exploded row per pair
    * built by `pair(x, y)` — bucket-local enumeration, fan-out bounded by
    * bucket size, never n². */
  private[graft] def bucketPairs(ids: Column)(pair: (Column, Column) => Column): Column =
    explode(flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)), y => pair(x, y)))))

  /** Distinct (a, b) pairs, narrowed to the two ids BEFORE the distinct
    * (optimization r14, guide §2.3): the explicit repartition on `a`
    * makes ONE exchange serve both the distinct (HashPartitioning(a)
    * co-locates equal tuples) and any downstream join on `a`, which
    * reuses the partitioning instead of adding its own exchange+sort. */
  private[graft] def distinctPairs(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(a, b).repartition(col(a)).distinct()

  /** The per-band manifest (band, n_keys, n_postings, n_docs) of a
    * stored postings table whose document id is `id`. Every doc with ≥1
    * shingle posts exactly ONE key per band, so n_postings = n_docs by
    * construction — a lost or doubled posting shows in the manifest. */
  private[graft] def bandManifest(postings: DataFrame, id: String): DataFrame =
    postings.groupBy("band")
      .agg(countDistinct(col("band_key")).as("n_keys"),
        count(lit(1)).as("n_postings"),
        countDistinct(col(id)).as("n_docs"))
      .select(col("band").cast("int").as("band"), col("n_keys"),
        col("n_postings"), col("n_docs"))

  /** Persist [[minhashBands]] as a stored dedup index — the one MinHash
    * index build ([[graft.ops.MinhashIndex]]'s fixture roots call it at
    * the harness geometry). One signature pass writes, under the root
    * marker ([[graft.ops.IndexFs.build]]: a crashed build reads as
    * uncommitted):
    *   - `bands`: (doc_id, band, band_key) postings, the caller's `id`
    *     stored as `doc_id`, hive-partitioned by band (`band` duplicated
    *     as `pband` so the data column keeps its type), one file per band
    *     — and, with `batchWidth > 0`, by the ingest batch `pbatch = id
    *     div batchWidth`, the axis that makes [[minhashIndexDelete]]'s
    *     takedowns partition-pruned (a document posts to EVERY band, so
    *     band partitioning alone cannot prune a delete);
    *   - `bands_fine`: the postings of buckets of at least
    *     `DedupOps.RebandHotSize` documents, re-keyed on the
    *     full-signature sub_key, so incremental probes match a
    *     template-family bucket only on a full-signature hit; O(hot
    *     postings), not O(corpus);
    *   - `sub_keys`: one (doc_id, sub_key) row per document (~40
    *     bytes/doc), so an append can refresh `bands_fine` for buckets it
    *     pushes over the threshold without re-signing any stored text;
    *   - the manifest (`index.properties`): geometry, batch width, hot
    *     size and [[graft.ops.MinhashIndex.Layout]].
    * A rebuild drops every delta generation an earlier append left.
    * Returns the per-band manifest (band, n_keys, n_postings, n_docs)
    * read back FROM the stored table; n_postings == n_docs by the
    * one-key-per-(doc, band) construction, so a lost/doubled posting is
    * visible in the manifest. At 100 TB, bucket the table by band_key as
    * well so incremental batch probes co-partition against it without
    * shuffling the stored side. */
  def writeMinhashIndex(df: DataFrame, id: String, text: String, path: String,
                        numHashes: Int = 128, bands: Int = 16,
                        batchWidth: Long = 0): DataFrame = {
    import graft.ops.{Artifacts, DedupOps, IndexFs, MinhashIndex}
    val s = df.sparkSession
    val ix = MinhashIndex.Ix(path)
    IndexFs.build(path) {
      require(IndexFs.deleteRecursive(ix.delta),
        s"could not drop the delta generations under $path")
      // One signature pass feeds the postings (sub_key dropped — a 32-char
      // key per posting would bloat the main table for nothing), the fine
      // table and the per-doc sub keys; persisted so neither re-shingles.
      val bandedSub = minhashBandsWithSub(df, id, text, numHashes, bands)
        .withColumnRenamed(id, "doc_id")
        .withColumn("pband", col("band"))
        .persist()
      try {
        val banded = bandedSub.drop("sub_key")
        writePostings(banded, batchWidth, ix.bands)
        val subKeys = bandedSub.select("doc_id", "sub_key").distinct()
        MinhashIndex.writeFine(fineOf(banded, subKeys, DedupOps.RebandHotSize), ix)
        subKeys.write.mode("overwrite").parquet(ix.subKeys)
      } finally bandedSub.unpersist()
      Artifacts.writeMeta(path,
        "numHashes" -> numHashes.toString, "bands" -> bands.toString,
        "batchWidth" -> batchWidth.toString,
        "hotSize" -> DedupOps.RebandHotSize.toString,
        "layout" -> MinhashIndex.Layout)
    }
    bandManifest(Tables.read(s, ix.bands), "doc_id")
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
    val hot = post.groupBy("band", "band_key").agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= hotSize).select("band", "band_key")
    post.join(hot, Seq("band", "band_key"), "left_semi")
      .join(subKeys, "doc_id")
      .select("doc_id", "band", "band_key", "sub_key", "pband")
  }

  /** APPEND a day's batch to a stored MinHash index — the one append
    * behind the registry's `dedup_index_append`, its ensured delta and
    * the daily job: the batch shingles + signs ONLY itself and lands as
    * its own committed delta generation `batch=<batchId>` of the index's
    * delta table, so a replay of the same `batchId` is an idempotent
    * overwrite (the foreachBatch replay contract). Documents whose id
    * `bands` or another committed generation already holds are SKIPPED
    * (already indexed — this is what makes a replay after
    * [[minhashIndexCompact]], or under a second batch id, a clean no-op
    * instead of counting the document twice in every bucket size). The probes
    * ([[graft.ops.DedupOps.fineProbeHits]]) read `bands` ∪ the committed
    * generations, so a document appended today flags the very next
    * probe's dups of it — no compact required.
    *
    * Generation rows keep the full-signature `sub_key`, so the append
    * refreshes `bands_fine` from the stored tables without re-reading
    * any text: the postings of buckets hot at the RESOLVED sizes (`bands`
    * ∪ every committed generation), sub-keyed from `sub_keys` and the
    * generation rows — buckets this very append pushes over the threshold
    * included. That refresh reads the whole postings table once per
    * append. The whole append runs under the retired root marker
    * ([[graft.ops.IndexFs.mutate]]): a crash mid-append reads as an
    * uncommitted index. Returns the per-band manifest (band, n_base,
    * n_new): n_new counts this batch's generation, n_base the postings
    * indexed before it (`bands` and every other committed generation). */
  def minhashIndexAppend(spark: SparkSession, bandsPath: String,
                         batch: DataFrame, id: String, text: String,
                         batchId: Long, numHashes: Int = 128,
                         bands: Int = 16): DataFrame = {
    import graft.ops.{Artifacts, IndexFs, MinhashIndex}
    val ix = MinhashIndex.Ix(IndexFs.parent(bandsPath))
    // Refusals BEFORE the marker retirement: a rejected call leaves a
    // valid index valid.
    Artifacts.requireGeometry(ix.root,
      "numHashes" -> numHashes.toString, "bands" -> bands.toString)
    val hotSize = MinhashIndex.checkedMeta(ix.root, "before appending")("hotSize").toLong
    // The postings indexed before this batch: `bands` and every OTHER
    // committed generation (a replay of `batchId` overwrites its own).
    val others = IndexFs.committedGenerations(ix.delta)
      .filterNot(_.endsWith(s"/batch=$batchId"))
    val prior = Tables.read(spark, ix.bands).select("doc_id", "band")
    val held = if (others.isEmpty) prior
      else prior.unionByName(
        MinhashIndex.generationRows(spark, ix, others).select("doc_id", "band"))
    val banded = minhashBandsWithSub(
        batch.join(held.select(col("doc_id").as(id)), Seq(id), "left_anti"),
        id, text, numHashes, bands)
      .withColumnRenamed(id, "doc_id")
      .withColumn("pband", col("band"))
    val fresh = IndexFs.mutate(ix.root) {
      banded.repartition(col("pband"))
        .write.mode("overwrite").partitionBy("pband").parquet(ix.generation(batchId))
      val delta = MinhashIndex.deltaRows(spark, ix)
      MinhashIndex.writeFine(fineOf(MinhashIndex.resolvedPostings(spark, ix),
        Tables.read(spark, ix.subKeys).unionByName(delta.select("doc_id", "sub_key")), hotSize), ix)
      if (others.isEmpty) delta
      else MinhashIndex.generationRows(spark, ix, Seq(ix.generation(batchId)))
    }
    // One aggregate over both sides' rows: every band of either side gets
    // a row.
    held.select(col("band"), lit(true).as("in_base"))
      .unionByName(fresh.select(col("band"), lit(false).as("in_base")))
      .groupBy("band")
      .agg(count_if(col("in_base")).as("n_base"), count_if(!col("in_base")).as("n_new"))
      .orderBy("band")
  }

  /** COMPACT a stored MinHash index in place — the one compact behind
    * the registry's `dedup_index_compact` and the maintenance remedy:
    * folds every committed delta generation into `bands` (appended rows
    * gain the `pbatch` ingest-batch axis from the recorded `batchWidth`,
    * so the partition-pruned takedown is legal for them again), extends
    * `sub_keys` with the appended documents' keys, rewrites `bands_fine`
    * at the compacted bucket sizes, and REMOVES the folded generations.
    * Afterwards the index is single-layout, exactly as
    * [[writeMinhashIndex]] leaves it, and probes return what they
    * returned before (ApiSpec pins it). The append's skip keeps every
    * generation's ids out of `bands`, so only the generations themselves
    * are de-duplicated. Runs under the retired root marker; a crash
    * mid-compact reads as an uncommitted index. No-op (beyond the
    * manifest) when no committed generation exists. Returns the per-band
    * manifest of the compacted table with the build's n_postings =
    * n_docs invariant. */
  def minhashIndexCompact(spark: SparkSession, bandsPath: String): DataFrame = {
    import graft.ops.{IndexFs, MinhashIndex}
    val ix = MinhashIndex.Ix(IndexFs.parent(bandsPath))
    // The fold overwrites the base table from a localCheckpoint whose
    // blocks die with the JVM; on a crashed op's half-rewritten base, the
    // fold and the generation removal would destroy the only intact copy
    // of the appended rows.
    val meta = MinhashIndex.checkedMeta(ix.root, "instead of compacting")
    if (IndexFs.committedGenerations(ix.delta).nonEmpty) {
      val cols = Seq("doc_id", "band", "band_key", "pband").map(col)
      val delta = MinhashIndex.deltaRows(spark, ix)
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
        MinhashIndex.writeFine(fineOf(merged, subKeys, meta("hotSize").toLong), ix)
        // The folded generations retire with the marker still down: the
        // remedy for a crashed in-place fold is a rebuild, not a re-run
        // over a possibly partial base.
        require(IndexFs.deleteRecursive(ix.delta),
          s"could not remove the folded delta generations under ${ix.root}")
      }
    }
    bandManifest(Tables.read(spark, ix.bands), "doc_id").orderBy("band")
  }

  /** Partition-pruned takedown on a stored MinHash index written by
    * [[writeMinhashIndex]] WITH a `batchWidth` — the one delete behind
    * the registry's `dedup_index_delete`: anti-joins `deleteIds` (one
    * column, the document id) out of ONLY the (band, ingest-batch)
    * partitions of `bands` containing them via dynamic partition
    * overwrite — untouched batch directories stay byte-identical, and a
    * fully-emptied partition throws toward a catalog DROP PARTITION —
    * and out of `bands_fine` and `sub_keys`, all under one retired root
    * marker. A takedown listing a document that a committed delta
    * generation holds is refused: [[minhashIndexCompact]] first. Mutates
    * in place; copy first if the original must stay pristine. */
  def minhashIndexDelete(spark: SparkSession, bandsPath: String,
                         deleteIds: DataFrame, id: String): Unit = {
    import graft.ops.{DedupOps, IndexFs, MinhashIndex}
    val ix = MinhashIndex.Ix(IndexFs.parent(bandsPath))
    // Refusals BEFORE the marker retirement: a rejected mis-call must
    // leave a valid index valid.
    val batchWidth = MinhashIndex.checkedMeta(ix.root, "before the takedown")("batchWidth")
    require(batchWidth.toLong > 0,
      s"index at ${ix.root} was written without a batchWidth (ingest-batch " +
        "partition axis) — partition-pruned deletes need it; rebuild " +
        "with writeMinhashIndex(batchWidth = <ids per ingest batch>)")
    val ids = deleteIds.select(col(id).as("doc_id"))
    // A takedown that rewrote only `bands` would keep serving deleted
    // documents out of the generations the probes read.
    require(MinhashIndex.deltaRows(spark, ix).join(ids, Seq("doc_id"), "left_semi")
        .limit(1).count() == 0L,
      s"index at ${ix.root} has committed delta generations containing " +
        "documents in the deletion list — run minhashIndexCompact to " +
        "fold the deltas into the base (O(index), no corpus re-read), " +
        "then re-run the takedown against the single layout")
    IndexFs.mutate(ix.root) {
      DedupOps.deleteFromBands(spark, ix.bands, ids)
      // `bands_fine` and `sub_keys` hold the same documents: a stale fine
      // row would flag new text as a dup of a document the index no
      // longer holds, and a later append's refresh would resurrect it.
      // localCheckpoint severs each read from the overwrite of its own
      // source; both tables are small enough for a full rewrite.
      MinhashIndex.writeFine(MinhashIndex.fineRows(spark, ix)
        .join(ids, Seq("doc_id"), "left_anti").localCheckpoint(), ix)
      Tables.read(spark, ix.subKeys).join(ids, Seq("doc_id"), "left_anti")
        .localCheckpoint()
        .write.mode("overwrite").parquet(ix.subKeys)
    }
  }

  /** Partition-pruned takedown on a stored ANN code table
    * ([[buildAnnIndex]]'s `<path>/ivfpq_codes` layout; the registry's
    * `ann_index_delete` binds it): rewrites only the cell partitions
    * containing deleted vectors — in the base, in the committed
    * `ivfpq_codes_delta` (a delta-only vector must not survive its own
    * takedown), AND in the `cells` membership table (the streaming pool
    * resolves membership from cells ∪ delta, so a stale row would keep
    * serving the id whenever the caller's corpus purge lags) — all under
    * one retired root marker, with the split marker retired (split
    * side-tables reflect pre-delete membership). A delete that would
    * fully EMPTY a base cell is REFUSED before the marker retirement
    * (toward a catalog DROP PARTITION — and so a rejected call leaves a
    * committed index committed), and so is a delete on an uncommitted
    * index; an emptied DELTA cell is fine — the day-scale delta is
    * library-managed and simply loses the partition. Mutates in place;
    * the corpus float column remains the caller's own table to purge. */
  def annIndexDelete(spark: SparkSession, codesPath: String,
                     deleteIds: DataFrame, id: String): Unit = {
    // Refusals BEFORE the marker retirement (review r10, the
    // minhashIndexDelete discipline): a crashed index, or a mis-call — a
    // table that is not a cell-partitioned code layout — must leave a
    // valid index valid, not retired-and-never-recommitted. The commit
    // check comes first: a crash can leave the code table unreadable.
    val ix = graft.ops.IvfPqIndex.Ix(graft.ops.IndexFs.parent(codesPath))
    graft.ops.IndexFs.requireCommitted(ix.root,
      "rebuild via buildAnnIndex before deleting")
    val liveCols = Tables.read(spark, codesPath).columns.toSet
    Seq("vec_id", "cell").foreach(c => require(liveCols.contains(c),
      s"table at $codesPath has no '$c' column — not a cell-partitioned " +
        "ANN code table (buildAnnIndex's ivfpq_codes layout)"))
    val del = deleteIds.select(col(id).as("vec_id")).localCheckpoint()
    // The emptied-cell REFUSAL runs before the marker retirement (review
    // r13: deleteFromCodes' internal guard throwing mid-lifecycle left
    // the base rewritten and the index permanently uncommitted).
    val emptied = graft.ops.VectorOps.emptiedCells(Tables.read(spark, codesPath), del)
    require(emptied.isEmpty,
      s"cells ${emptied.mkString(",")} of $codesPath would be emptied by " +
        "this delete; drop those partitions via the catalog instead of " +
        "a data rewrite")
    val hasDelta = graft.ops.IndexFs.committed(ix.ivfCodesDelta)
    graft.ops.IndexFs.mutate(ix.root) {
      graft.ops.VectorOps.deleteFromCodes(spark, codesPath, del)
      // The delta (review r13): the probe resolvers union it with the
      // base, so a vector that exists ONLY in the delta would survive a
      // base-only takedown. It takes a guard-FREE full rewrite: it is
      // day-scale and library-managed, so an emptied cell has no catalog
      // partition to drop — the directory just goes. Declared schema: a
      // data-file-less delta must read as empty, not crash inference.
      if (hasDelta) {
        val survivors = Tables.read(spark, ix.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
          .select("vec_id", "m", "code", "cell")
          .join(del, Seq("vec_id"), "left_anti")
          .localCheckpoint()
        survivors.withColumn("pcell", col("cell"))
          .repartition(col("pcell"))
          .write.mode("overwrite").partitionBy("pcell").parquet(ix.ivfCodesDelta)
      }
      // cells purge (review r13): the split-aware streaming probe builds
      // its pool from cells ∪ delta, so a stale membership row serves a
      // deleted id whenever the caller's corpus purge lags — and the
      // compact would fold the stale row forward. One scalar-column
      // rewrite; deletes are rare.
      if (graft.ops.IndexFs.committed(ix.cells)) {
        val kept = Tables.read(spark, ix.cells)
          .join(del, Seq("vec_id"), "left_anti")
          .localCheckpoint()
        kept.write.mode("overwrite").parquet(ix.cells)
      }
      // A committed cell split reflects the PRE-delete membership
      // (ADVICE r12): the split-aware probe computes its pool >= k floor
      // from cells_split rows before joining the live corpus, so stale
      // split rows inflate the pool with deleted vec_ids; probes fall
      // back to whole-cell scans until the next annIndexSplit.
      graft.ops.IndexFs.retire(ix.root, graft.ops.IndexFs.Split)
    }
  }

  /** LSH candidate pairs (id_a < id_b, distinct): bucket-local i<j
    * enumeration over each (band, band_key) group — pair fan-out bounded
    * by bucket size, never n². Feed the pairs to an exact verify
    * (Jaccard on shingle sets) before acting on them. */
  def lshCandidatePairs(df: DataFrame, id: String, text: String,
                        numHashes: Int = 128, bands: Int = 16): DataFrame =
    distinctPairs(minhashBands(df, id, text, numHashes, bands)
      .groupBy("band", "band_key")
      .agg(sort_array(collect_list(col(id))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(bucketPairs(col("ids"))((x, y) => struct(x.as("id_a"), y.as("id_b"))).as("p"))
      .select(col("p.id_a"), col("p.id_b")), "id_a", "id_b")

  /** 16-bit SimHash fingerprint per row: per-token md5, bit j = sign of
    * Σ(±1) over hex-digit parity. Near-dup test = `bit_count(a XOR b)`
    * ≤ threshold; at scale, bucket by 4-bit chunks (pigeonhole) and
    * compare bucket-mates only. Explode is map-side; one
    * map-side-combined groupBy shuffles 16 small ints per row. */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val bits = 16
    val tok = df.select(col(id), explode(split(lower(col(text)), " ")).as("w"))
      .select(col(id), md5(col("w")).as("h"))
    val sums = (1 to bits).map { j =>
      sum(when(ascii(substring(col("h"), j, 1)) % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val fp = (1 to bits)
      .map(j => when(col(s"b$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(id).agg(sums.head, sums.tail: _*)
      .select(col(id), fp.cast("long").as("simhash"))
  }

  /** Default marker tokens of [[langId]], in preference order. */
  private[graft] val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "les", "des"))

  /** Marker-token language ID: first language (in declared order) whose
    * marker hit-count is positive and maximal; "und" otherwise.
    * Zero-shuffle codegen'd scoring. Registry binding: `lang_id_ngram`
    * (through [[langScores]], which keeps the per-language scores). */
  def langId(df: DataFrame, text: String,
             markers: Seq[(String, Seq[String])] = LangMarkers): DataFrame =
    langScores(df, text, markers, "_s_")
      .drop(markers.map(m => s"_s_${m._1}"): _*)

  /** The scoring step of [[langId]]: adds one marker hit-count column
    * `<prefix><lang>` per language (over the lowercase whitespace
    * tokens) and the `lang_pred` argmax. */
  private[graft] def langScores(df: DataFrame, text: String,
                                markers: Seq[(String, Seq[String])],
                                prefix: String): DataFrame = {
    val toks = split(lower(col(text)), " ")
    def score(ms: Seq[String]): Column =
      size(filter(toks, t => array_contains(array(ms.map(lit): _*), t))).cast("long")
    val scored = df.withColumns(
      markers.map { case (l, ms) => s"$prefix$l" -> score(ms) }.toMap)
    val best = markers.map(_._1).foldRight(lit("und")) { (l, acc) =>
      when(col(s"$prefix$l") > 0 &&
        markers.map(m => col(s"$prefix$l") >= col(s"$prefix${m._1}")).reduce(_ && _), lit(l))
        .otherwise(acc)
    }
    scored.withColumn("lang_pred", best)
  }

  // ------------------------------------------------------------- ranking

  /** Top-k rows per group by `order` (desc), ties broken by `tie` asc.
    * Written as the portable row_number idiom on purpose: with
    * `GraftExtensions` installed, `RewriteRankFilterToTopK` upgrades it
    * to the native partial/final TopKPerGroup operator (≤ k rows per
    * group per partition cross the exchange, no full sort). */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], order: String,
                   tie: String, k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(order).desc, col(tie).asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  // --------------------------------------------------------- time series

  /** Per-key EWMA of `value` over `order` via the exponent-rescaled
    * running-sum window (one shuffle on `keys`, no recurrence). `alpha`
    * defaults to 0.5 because powers of two are exact doubles — the
    * backfill-determinism choice; other alphas are computed identically
    * but carry last-ulp pow() variance across platforms. Horizon ~1000
    * steps (v·2^t range) — re-normalize per segment beyond. Registry
    * binding: `events_ewma` (over the per-type daily DECIMAL sums). */
  def ewma(df: DataFrame, keys: Seq[String], order: String, value: String,
           alpha: Double = 0.5): DataFrame = {
    // alpha = 1 makes decay = 0 and the v/decay^t rescaling 0·∞ = NaN
    // from the second row on (alpha = 0 divides out to a constant) —
    // reject the degenerate smoothing factors loudly (review r10)
    require(alpha > 0.0 && alpha < 1.0,
      s"ewma alpha must be in (0, 1) exclusive, got $alpha")
    val wOrd = Window.partitionBy(keys.map(col): _*).orderBy(order)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val decay = 1.0 - alpha
    df.withColumn("t", row_number().over(wOrd) - lit(1))
      .withColumn("sacc", sum(col(value) / pow(lit(decay), col("t"))).over(wRun))
      .withColumn("v0", first(col(value)).over(wRun))
      .withColumn("ewma",
        pow(lit(decay), col("t")) *
          (col("v0") + lit(alpha) * (col("sacc") - col("v0"))))
      .drop("t", "sacc", "v0")
  }

  /** Backward as-of join: for each left row, the latest right row with
    * the same `keys` and `rightTs` ≤ `leftTs` (within `toleranceUs` if
    * ≥ 0). Union-timeline + `last(ignoreNulls)` — ONE shuffle on the
    * keys, linear state per key, never a per-row rescan. Right columns
    * come back prefixed `asof_`. */
  def asofJoinBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                       leftTs: String, rightTs: String, tie: String,
                       payload: Seq[String], toleranceUs: Long = -1L): DataFrame = {
    val l = left.withColumn("_side", lit(1))
      .withColumn("_ts", col(leftTs)).withColumn("_tie", col(tie))
    val r = right.withColumn("_side", lit(0))
      .withColumn("_ts", col(rightTs)).withColumn("_tie", col(tie))
    val lCols = left.columns.toSeq
    val union = l.select(
      (keys :+ "_side" :+ "_ts" :+ "_tie").map(col) ++
        lCols.filterNot(keys.contains).map(c => col(c).as(s"_l_$c")) ++
        payload.map(p => lit(null).cast(right.schema(p).dataType).as(s"_r_$p")): _*)
      .unionByName(r.select(
        (keys :+ "_side" :+ "_ts" :+ "_tie").map(col) ++
          lCols.filterNot(keys.contains).map(c =>
            lit(null).cast(left.schema(c).dataType).as(s"_l_$c")) ++
          payload.map(p => col(p).as(s"_r_$p")): _*))
    // right rows sort BEFORE left rows at equal ts → an exactly-simultaneous
    // right row matches (standard as-of semantics); `tie` (a stable id
    // present in both frames) pins within-side order so replays match
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The matched right ROW carries as ONE struct through a single
    // last(ignoreNulls) (review r10): carrying _m_ts and each payload in
    // SEPARATE ignoreNulls windows let a matched row's null payload fall
    // back to an OLDER right row's value — pairing r2's timestamp with
    // r1's price, a row that never existed (and, under a tolerance,
    // judging freshness on r2 while serving r1). The struct is null for
    // left rows, so last picks the latest right row as a unit and null
    // payloads stay null.
    val rRow = when(col("_side") === 0,
      struct(col("_ts").as("_asof_ts") +:
        payload.map(p => col(s"_r_$p").as(p)): _*))
    val carried = union.withColumn("_m", last(rRow, ignoreNulls = true).over(w))
    val mTs = col("_m").getField("_asof_ts")
    val fresh = if (toleranceUs < 0) mTs.isNotNull
    else mTs.isNotNull &&
      unix_micros(col("_ts")) - unix_micros(mTs) <= toleranceUs
    carried.filter(col("_side") === 1)
      .select(keys.map(col) ++
        lCols.filterNot(keys.contains).map(c => col(s"_l_$c").as(c)) ++
        Seq(when(fresh, mTs).as(s"asof_$rightTs")) ++
        payload.map(p =>
          when(fresh, col("_m").getField(p)).as(s"asof_$p")): _*)
  }

  /** Gaps-and-islands sessionization: session id per (key) with a new
    * session when the gap to the previous event exceeds `gapSeconds`.
    * One shuffle on `key`; prefix-sum of boundary flags. */
  def sessionize(df: DataFrame, key: String, ts: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts)
    df.withColumn("_prev", lag(col(ts), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_micros(col(ts)) - unix_micros(col("_prev")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev", "_new")
  }

  // ---------------------------------------------------------------- text

  /** Whitespace/BPE-ish token counts for a text column: `ws_tokens`
    * (single-space split) and `re_tokens` (alpha runs, single digits and
    * punctuation singles over the lowercased text — the shape of a
    * byte-pair pretokenizer). Zero-shuffle, codegen'd. Registry binding:
    * `token_count`. */
  def tokenCounts(df: DataFrame, text: String): DataFrame =
    df.withColumn("ws_tokens", size(split(col(text), " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(lower(col(text)),
          lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long"))

  /** Quality heuristics: length, token count, mean word length, stopword
    * ratio — the cheap pre-filter every curation pipeline runs first.
    * Zero-shuffle. (Punctuation-class token counts live in the tokenizer
    * surface — see `re_tokens` above — not here.) */
  def qualityScore(df: DataFrame, text: String,
                   stopwords: Seq[String] = graft.ops.TextOps.Stopwords): DataFrame = {
    val toks = split(lower(col(text)), " ")
    val stopArr = array(stopwords.map(lit): _*)
    df.withColumn("n_chars", length(col(text)).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_word_len",
        r6(length(regexp_replace(col(text), " ", "")).cast("double") / size(toks)))
      .withColumn("stopword_ratio",
        r6(size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks)))
  }

  /** Per-vector L2 normalization of an array<float|double> column (HOF
    * arithmetic, zero shuffle): adds `l2_norm` and replaces `vec` with
    * the unit vector. Zero-norm contract: a zero vector passes through
    * unchanged (no division by its zero norm). Registry binding:
    * `embed_normalize`. */
  def l2Normalize(df: DataFrame, vec: String): DataFrame = {
    val v = col(vec).cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    df.withColumn("l2_norm", norm)
      .withColumn(vec,
        when(norm > 0.0, transform(v, x => x / norm)).otherwise(v))
  }

  /** Embedding outlier audit — per-group centroid-distance z-score over
    * an array<float|double> column: (id, group, d2, z, is_outlier) with
    * `is_outlier` = z > `zThreshold`. The corrupt/mis-embedded-row
    * filter a pipeline runs before any semantic op trusts the vectors
    * (truncated downloads, preprocessing-version drift, and mislabels
    * all land far from their group's centroid). One long-form explode,
    * two fixed-width shuffles ((group, dim) and id), centroids broadcast
    * back; every stage 6-dp-snaps before its DECIMAL sum so flags are
    * partition-order independent and backfills byte-match. At 100 TB,
    * persist the centroid table like an IVF coarse table and recompute
    * it on the sample cadence. Registry binding: `embed_outliers`. */
  def embeddingOutliers(df: DataFrame, id: String, group: String,
                        vec: String, zThreshold: Double = 2.0): DataFrame = {
    val el = df
      .select(col(id).as("_id"), col(group).as("_grp"),
        posexplode(col(vec).cast("array<double>")))
      .select(col("_id"), col("_grp"),
        col("pos").cast("long").as("dim"), r6(col("col")).as("v"))
    val cent = el.groupBy("_grp", "dim")
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("sv"))
      .select(col("_grp").as("cg"), col("dim").as("cd"),
        r6(col("sv") / col("n")).as("c"))
    val d2 = el.join(broadcast(cent),
        col("_grp") === col("cg") && col("dim") === col("cd"))
      .select(col("_id"), col("_grp"),
        r6((col("v") - col("c")) * (col("v") - col("c"))).as("sq"))
      .groupBy("_id", "_grp")
      .agg(r6(dsum(col("sq"))).as("d2"))
    val stats = d2
      .select(col("_grp"), col("d2"), r6(col("d2") * col("d2")).as("d2sq"))
      .groupBy("_grp")
      .agg(count(lit(1)).as("n"), dsum(col("d2")).as("sd"),
        dsum(col("d2sq")).as("sd2"))
      .select(col("_grp").as("sg"), r6(col("sd") / col("n")).as("mu"),
        r6(sqrt(greatest(
          r6((col("sd2") - col("sd") * col("sd") / col("n")) / col("n")),
          lit(0.0)))).as("sigma"))
    d2.join(broadcast(stats), col("_grp") === col("sg"))
      .select(col("_id").as(id), col("_grp").as(group), col("d2"),
        when(col("sigma") > 0, r6((col("d2") - col("mu")) / col("sigma")))
          .otherwise(lit(0.0)).as("z"))
      .withColumn("is_outlier", col("z") > zThreshold)
  }

  /** Per-source quota rebalancing: cap any single `source`'s share at
    * `quota` rows (C4/Pile-style domain balancing). Selection within a
    * source is by md5-hash rank of the stable `id` — re-runs and
    * repartitions never change the cut, and the kept subset is an
    * unbiased uniform sample of the source. The window partitions BY
    * SOURCE, so the ranking is per-source parallel work, never a global
    * sort. Output keeps every row with `src_rank` + `kept` (the audit
    * artifact; filter `kept` for the corpus). Registry binding:
    * `corpus_source_quota` (quota 15). */
  def sourceQuota(df: DataFrame, id: String, source: String, quota: Long): DataFrame = {
    val w = Window.partitionBy(source)
      .orderBy(md5(col(id).cast("string")), col(id))
    df.withColumn("src_rank", row_number().over(w).cast("long"))
      .withColumn("kept", col("src_rank") <= quota)
  }

  /** Token-budget selection: keep the rows with the highest integer
    * `quality` until the global sum of `weight` reaches
    * `budgetFrac × total`, truncating the boundary-quality group at its
    * `id`-ordered prefix. Scale shape: the quality spine cumulates on a
    * broadcast-sized table (the only unpartitioned window) and the doc
    * side only needs a per-quality-bucket prefix window — no global sort,
    * no partition-less window over the data. `quality` MUST be integral
    * (bucket your score first): that keeps the keep-decision arithmetic
    * exact and the spine small. Registry binding: `corpus_budget_select`
    * (quality = length capped at 4000, weight = whitespace tokens). */
  def budgetSelect(df: DataFrame, id: String, quality: String, weight: String,
                   budgetFrac: Double = 0.5): DataFrame = {
    val wSpine = Window.orderBy(col(quality).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spine = df.groupBy(quality).agg(sum(weight).as("_btok"))
      .withColumn("_cum_before", coalesce(sum("_btok").over(wSpine), lit(0L)))
      .select(col(quality), col("_cum_before"))
    val budget = df.agg((sum(col(weight)) * lit(budgetFrac)).as("_budget"))
    val wIn = Window.partitionBy(quality).orderBy(id)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_within", coalesce(sum(weight).over(wIn), lit(0L)))
      .join(broadcast(spine), quality)
      .crossJoin(broadcast(budget))
      .filter(col("_cum_before") + col("_within") + col(weight) <= col("_budget"))
      .drop("_within", "_cum_before", "_budget")
  }

  /** Deterministic split assignment: adds a `split` column from an
    * md5-hash unit deviate over `id` against cumulative `fractions`
    * (label → fraction, applied in the given order; remainder falls to
    * the last label). Hash-not-rand: reprocessing or repartitioning
    * never moves a row between splits — the property that keeps
    * train/eval separation valid across backfills. u is an exact
    * multiple of 2⁻³² (hex prefix / 2³²), so the cut compares are
    * FP-exact. Zero shuffle. Registry binding: `corpus_split_assign`
    * (plus its per-split × lang rollup). */
  def splitAssign(df: DataFrame, id: String,
                  fractions: Seq[(String, Double)] =
                    Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): DataFrame = {
    require(fractions.nonEmpty && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      "fractions must sum to 1")
    val u = conv(substring(md5(col(id).cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val cuts = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val expr0 = fractions.init.zip(cuts).foldLeft(when(lit(false), "")) {
      case (acc, ((label, _), cut)) => acc.when(u < cut, label)
    }
    df.withColumn("split", expr0.otherwise(fractions.last._1))
  }

  /** Per-vertex triangle participation counts over an UNDIRECTED edge
    * list (`src`/`dst` any orderable type; duplicate and reversed edges
    * are normalized away). Two-path + closing-edge join with low→high
    * orientation finds each triangle exactly once; output is
    * (vertex, n_tri). At real scale orient by degree instead of raw id
    * for the O(m^1.5) candidate bound. The normalized edge set feeds
    * three join branches, so it is pinned once, eagerly (one job at
    * call time; the registry pins its co-occurrence pairs the same way),
    * and the caller's edge lineage is planned and run once, not per
    * branch. Registry binding: `graph_triangles` (through
    * [[orientedTriangleCounts]]: its pinned pairs are already oriented
    * and distinct, so normalizing them again would add one aggregate and
    * exchange per join branch). */
  def triangleCounts(edges: DataFrame, src: String, dst: String): DataFrame =
    orientedTriangleCounts(graft.ops.DedupOps.truncate(edges
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter(col("a") =!= col("b")).distinct()))

  /** The counting core of [[triangleCounts]] over an edge set that is
    * already normalized: distinct (a, b) rows with a < b. */
  private[graft] def orientedTriangleCounts(e: DataFrame): DataFrame = {
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_tri"))
  }

  /** Per-row lexical diversity for a text column: whitespace token count,
    * distinct-type count, type-token ratio, hapax share — the signals that
    * catch template spam (few distinct words repeated). Tokens are
    * lowercased like [[tokenEntropy]]'s, so 'The' and 'the' are one type
    * and the two signals stay comparable. Two hash-aggs both keyed on
    * `id` (the second reuses the first's partitioning). Registry binding:
    * `text_lexical_diversity`. */
  def lexicalDiversity(df: DataFrame, id: String, text: String): DataFrame = {
    val tf = df.select(col(id), explode(split(lower(col(text)), " ")).as("_w"))
      .groupBy(id, "_w").agg(count(lit(1)).as("_c"))
    tf.groupBy(id).agg(
        sum("_c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(id), col("n_tokens"), col("n_types"),
        r6(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        r6(col("n_hapax").cast("double") / col("n_types")).as("hapax_ratio"))
  }

  /** Per-row unigram Shannon entropy (nats) + norm_entropy = H/ln(n_types)
    * clamped to [0,1] — the distribution-shape quality signal
    * [[lexicalDiversity]]'s TTR misses ({a:99,b:1} and {a:50,b:50} share a
    * TTR but have entropies 0.056 vs 0.693). Same one-shuffle dataflow:
    * both aggs and the join key on `id`, so the token stream shuffles
    * once; per-type terms 6-dp-snap before the DECIMAL sum so re-runs
    * byte-match. Registry binding: `text_token_entropy`. */
  def tokenEntropy(df: DataFrame, id: String, text: String): DataFrame = {
    // window-over-tf form: one corpus explode serves counts AND totals
    // (a tf⋈perDoc join would plan the tf subtree twice, two corpus
    // explodes)
    val wd = Window.partitionBy(id)
    df.select(col(id), explode(split(lower(col(text)), " ")).as("_w"))
      .groupBy(id, "_w").agg(count(lit(1)).as("_c"))
      .withColumn("n_tokens", sum(col("_c")).over(wd))
      .withColumn("n_types", count(lit(1)).over(wd))
      .select(col(id), col("n_tokens"), col("n_types"),
        r6(col("_c").cast("double") / col("n_tokens") *
          log(col("n_tokens").cast("double") / col("_c"))).as("_term"))
      .groupBy(id, "n_tokens", "n_types")
      .agg(dsum(col("_term")).as("_hs"))
      .select(col(id), col("n_tokens"), col("n_types"),
        r6(col("_hs").cast("double")).as("entropy"),
        // least(1, ·): the 6-dp term snap can push the sum a few µnats
        // past the theoretical max ln(n_types); clamp rather than leak
        // snap noise into a quantity that is ≤ 1 by definition
        when(col("n_types") === 1, lit(0.0))
          .otherwise(least(lit(1.0), r6(col("_hs").cast("double") /
            log(col("n_types").cast("double"))))).as("norm_entropy"))
  }

  /** Truncated-dimension (Matryoshka) recall audit: recall@k of exact
    * cosine search over each prefix length in `dims` against the search
    * at `dims.max` (the full-width control — its rows report recall 1.0
    * by construction). One corpus scan scores every prefix (queries
    * broadcast, |dims| fixed-width rows per pair, window-bounded top-k);
    * run it before committing to dimension-truncated serving. Query rows
    * present in `df` under the same id are excluded from their own
    * ranking. Registry binding: `embed_mrl_recall` (queries vec_id < 3,
    * dims 8/16/32/64, k = 10). */
  def truncatedDimRecall(df: DataFrame, id: String, vec: String,
                         queries: DataFrame, qId: String, qVec: String,
                         dims: Seq[Int], k: Int = 10): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ > 0), "dims must be positive")
    val q = queries.select(col(qId).as("_qid"), col(qVec).cast("array<double>").as("_qv"))
    val w = Window.partitionBy("_dim", "_qid")
      .orderBy(col("_cos").desc, col(id).asc)
    val topk = df.select(col(id), col(vec).cast("array<double>").as("_x"))
      .crossJoin(broadcast(q))
      .filter(col(id) =!= col("_qid"))
      .select(col(id), col("_qid"),
        explode(array(dims.map { d =>
          val dnum = graft.functions.VectorFunctions.graftDot(
            slice(col("_x"), 1, d), slice(col("_qv"), 1, d))
          val den = sqrt(graft.functions.VectorFunctions.graftDot(
              slice(col("_x"), 1, d), slice(col("_x"), 1, d))) *
            sqrt(graft.functions.VectorFunctions.graftDot(
              slice(col("_qv"), 1, d), slice(col("_qv"), 1, d)))
          // zero-norm prefix → null cosine, which the desc ordering puts
          // LAST — 0/0 = NaN would sort above every real score and rank
          // a corrupt all-zero vector first (review r10)
          struct(lit(d).as("dim"),
            r6(when(den =!= 0.0, dnum / den)).as("cos"))
        }: _*)).as("_s"))
      .select(col(id), col("_qid"),
        col("_s.dim").as("_dim"), col("_s.cos").as("_cos"))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select(col("_dim"), col("_qid"), col(id))
    // single-pass hit count: a (query, id) surviving at the full width
    // contributes one hit to every dim it survived in — no filtered
    // "truth" branch, which would push below the top-k and duplicate
    // the corpus subtree
    val hits = topk.groupBy("_qid", id)
      .agg(collect_set(col("_dim")).as("_ds"))
      .filter(array_contains(col("_ds"), lit(dims.max)))
      .select(col("_qid"), explode(col("_ds")).as("_dim"))
      .groupBy("_dim", "_qid").agg(count(lit(1)).as("_h"))
    val spine = df.sparkSession.range(1)
      .select(explode(array(dims.map(lit): _*)).as("_dim"))
      .crossJoin(q.select("_qid"))
    spine.join(hits, Seq("_dim", "_qid"), "left")
      .select(col("_dim").as("dim"), col("_qid").as(qId),
        coalesce(col("_h"), lit(0L)).as("n_hit"),
        r6(coalesce(col("_h"), lit(0L)).cast("double") / lit(k)).as("recall"))
  }

  /** Recall@k of an approximate ranking against an exact one: both inputs
    * are (query, candidate) rankings already cut to k (or cut here via
    * [[topKPerGroup]] upstream); output is per-query hit count and
    * recall. Left-semi + spine left-join — neither ranking is collected,
    * and queries the approximate side missed entirely still report 0. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                query: String, candidate: String, k: Int): DataFrame = {
    val hits = exact.join(approx, Seq(query, candidate), "leftsemi")
      .groupBy(query).agg(count(lit(1)).as("_h"))
    exact.select(query).distinct().join(hits, Seq(query), "left")
      .select(col(query), coalesce(col("_h"), lit(0L)).as("n_hit"),
        r6(coalesce(col("_h"), lit(0L)).cast("double") / lit(k)).as("recall"))
  }

  /** Snapshot differencing: the I/U/D changelog between two versions of
    * a keyed table. Every non-key column the two sides share is compared
    * null-safely; unchanged keys are dropped. Output: the key columns
    * (coalesced across sides), `op` ∈ {I, U, D}, and both payloads as
    * `old_*` / `new_*`. Each side shuffles once on the key and the
    * full-outer sort-merge join reuses that partitioning (Sort only —
    * no third exchange); output is changed-keys scale. Works on raw
    * rows or on pre-aggregated snapshots; route float payloads through
    * exact [[dsum]]-style aggregation first so the U-test cannot flap on
    * FP noise. Two snapshots aggregated from OVERLAPPING windows of one
    * table are cheaper as one conditional aggregate (one scan, one
    * exchange): that is why the registry's `cdc_diff_snapshots` does not
    * bind this method. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = oldDf.columns.filterNot(keys.contains)
      .intersect(newDf.columns.filterNot(keys.contains)).toSeq
    // explicit presence markers, NOT key-column nullability (review r10):
    // an old-side row with a null first key column matches nothing in the
    // join, and testing `_ok_<key> isNull` would misread that vanished
    // old row as an Insert — the markers are non-null by construction, so
    // side detection survives null keys
    val o = oldDf.select(keys.map(k => col(k).as(s"_ok_$k")) ++
      payload.map(c => col(c).as(s"old_$c")): _*)
      .withColumn("_o_present", lit(true))
    val n = newDf.select(keys.map(k => col(k).as(s"_nk_$k")) ++
      payload.map(c => col(c).as(s"new_$c")): _*)
      .withColumn("_n_present", lit(true))
    val cond = keys.map(k => col(s"_ok_$k") === col(s"_nk_$k")).reduce(_ && _)
    val same = payload.map(c => col(s"old_$c") <=> col(s"new_$c"))
      .foldLeft(lit(true))(_ && _)
    o.join(n, cond, "full_outer")
      .withColumn("op",
        when(col("_o_present").isNull, "I")
          .when(col("_n_present").isNull, "D")
          .when(same, "N").otherwise("U"))
      .filter(col("op") =!= "N")
      .select(keys.map(k => coalesce(col(s"_ok_$k"), col(s"_nk_$k")).as(k)) ++
        (col("op") +: payload.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c")))): _*)
  }

  /** Per-key symbol-sequence n-grams ("paths"): orders each key's rows by
    * `order`, slides an n-length window over the `symbol` column via
    * n−1 `lead`s (ONE shuffle on the key — every lead shares the same
    * window spec, hence the same exchange + sort), and returns
    * (path, n, n_keys) with occurrence count and distinct-key support.
    * Counts map-side combine to ≤ |alphabet|ⁿ rows; cut with
    * [[topKPerGroup]] or orderBy/limit downstream (which plans as
    * `TakeOrderedAndProject`, not a global sort). Registry binding:
    * `events_paths3` (n = 3 over (ts, event_id), plus the top-20 cut). */
  def pathNgrams(df: DataFrame, key: String, order: Seq[String],
                 symbol: String, n: Int): DataFrame = {
    require(n >= 2, "path length must be at least 2")
    val w = Window.partitionBy(key).orderBy(order.map(col): _*)
    val withSteps = (1 until n).foldLeft(df) {
      case (acc, i) => acc.withColumn(s"_s$i", lead(col(symbol), i).over(w))
    }
    withSteps.filter(col(s"_s${n - 1}").isNotNull)
      .select(col(key),
        concat_ws(">", col(symbol) +: (1 until n).map(i => col(s"_s$i")): _*).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"), countDistinct(col(key)).as("n_keys"))
  }

  /** Temperature-scaled source mixing (the multilingual-corpus
    * rebalancing rule): per-source token share p, smoothed share
    * q ∝ p^alpha, and rep_factor = q/p — the expected per-source
    * duplication under the smoothed draw (> 1 ⇒ upsample). One
    * map-side-combined groupBy over the corpus; everything after is
    * source-cardinality math. `weight` is the per-row mass column
    * (token count, char count, …). */
  def temperatureMix(df: DataFrame, source: String, weight: String,
                     alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    // Determinism discipline (ADVICE r6): every cross-partition sum
    // routes through exact DECIMAL addition ([[dsumHi]] — the
    // high-precision form of Tables.dsum, because the shares here must
    // normalize to 1 at full double precision, which (25,6)
    // quantization would visibly break), so the weights are byte-stable
    // across partitionings/reruns — the discipline the oracle-checked
    // `corpus_temperature_mix` follows. The default alpha=0.5 path uses
    // sqrt (exactly-rounded IEEE op), not pow (implementation-defined
    // last-ulp). Everything after the two sums is per-source
    // deterministic IEEE scalar math.
    val src = df.groupBy(col(source).as("source"))
      .agg(count(lit(1)).as("n_rows"),
        dsumHi(col(weight).cast("double"), scale = 12).as("mass"))
    val tot = src.agg(dsumHi(col("mass"), scale = 12).as("total"))
    val withP = src.crossJoin(broadcast(tot))
      .withColumn("p", col("mass") / col("total"))
      .withColumn("pa", if (alpha == 0.5) sqrt(col("p")) else pow(col("p"), alpha))
    val z = withP.agg(dsumHi(col("pa"), scale = 18).as("z"))
    withP.crossJoin(broadcast(z))
      .withColumn("q", col("pa") / col("z"))
      .select(col("source"), col("n_rows"), col("mass"), col("p"), col("q"),
        (col("q") / col("p")).as("rep_factor"))
  }

  /** k-means IVF cell assignment (VERDICT r5 #3): `iters` Lloyd rounds
    * (seeds = the `k` lowest-id vectors, broadcast-argmin assignment,
    * 6-dp-snapped distances and centroid means so re-runs byte-match on
    * any partitioning), returning one (id, cell) row per vector. At
    * 100 TB: train on a sample, persist the centroid table as the index
    * artifact, write the corpus partitioned by cell so probes prune to
    * one partition. Cells follow the data distribution, so
    * recall-per-probe beats a hash/sign-grid bucketing at equal probe
    * count (measured: 0.2 → 0.7 recall@10 on the sf0.01 fixture). */
  def kmeansAssign(df: DataFrame, id: String, vec: String,
                   k: Int = 16, iters: Int = 2): DataFrame = {
    require(k > 0 && iters > 0, s"k and iters must be positive: k=$k iters=$iters")
    val e = df.select(col(id).as("vec_id"), col(vec).cast("array<double>").as("x"))
    // same loud null/ragged validation as the PQ encoders (review r10):
    // a null vector would otherwise argmin to the lowest cell id and a
    // ragged one would silently poison the centroid means
    validatedDim(e, vec, 1)
    graft.ops.VectorOps.assignCells(e,
      graft.ops.VectorOps.kmeansCentroids(e, iters, k))
      .select(col("vec_id").as(id), col("cell"))
  }

  /** Product-quantization encoder: split `vec` into `m` equal subvectors,
    * Lloyd-train `k` centroids per subspace ([[kmeansAssign]] machinery)
    * and emit one (id, code) row with the m-element cell-id array — the
    * 4-bytes-per-vector storage form ANN serves from at corpus scale
    * (floats stay out of the probe path; see `knn_pq` for the ADC
    * shortlist + exact rerank read side). Codebooks are deterministic
    * (lowest-id seeds, snapped arithmetic), so re-encoding is
    * backfill-stable. The recipe is the index build's raw-vector PQ
    * ([[graft.ops.VectorOps.trainPq]]). */
  def pqEncode(df: DataFrame, id: String, vec: String,
               m: Int = 8, k: Int = 16, iters: Int = 2): DataFrame = {
    require(m > 0 && k > 0 && iters > 0, s"m/k/iters must be positive: $m/$k/$iters")
    CacheLifecycle.generation {
      val e = df.select(col(id).as("vec_id"), col(vec).cast("array<double>").as("x"))
      // The one PQ recipe, every stage pinned eagerly: the Lloyd fold's
      // and the assignment's many plan references read cached blocks
      // instead of re-running the upstream subtree per reference.
      graft.ops.VectorOps.codeArrays(graft.ops.VectorOps.trainPq(e, m,
          validatedDim(e, vec, m) / m, k, iters, (_, st) => CacheLifecycle.pinEager(st)))
        .select(col("vec_id").as(id), col("code"))
    }
  }

  /** [[graft.ops.VectorOps.checkedDim]] for the encoders, which infer
    * their geometry from the data: an empty frame has none to infer, and
    * the width must split into `m` subspaces. Returns the width. */
  private def validatedDim(e: DataFrame, vec: String, m: Int): Int = {
    val n = graft.ops.VectorOps.checkedDim(e, s"'$vec'").getOrElse(
      throw new IllegalArgumentException(
        s"no rows — cannot infer vector dimensionality from '$vec'"))
    require(n % m == 0, s"vector length $n not divisible by m=$m subspaces")
    n
  }

  /** IVF + residual-PQ index encoder — the artifact producer for the
    * `knn_ivf_pq` read path: each vector coarse-assigns to a learned
    * cell, and its RESIDUAL (vector − coarse centroid, 6-dp-snapped)
    * PQ-encodes against codebooks trained long-form across all `m`
    * subspaces (one Lloyd pass regardless of m). Emits
    * (id, cell, code[m]) — the complete ANN index row: write it
    * partitioned by `cell` and a probe reads ONE cell's m-byte codes
    * plus the small codebooks, never the float vectors (those are
    * fetched only for the shortlist rerank). Deterministic (lowest-id
    * seeds, snapped arithmetic), so re-encoding is backfill-stable. The
    * recipe is the index build's ([[graft.ops.VectorOps.trainIvfPq]]):
    * [[buildAnnIndex]] writes each stage as a table where this pins it,
    * so its stored codes are these rows. */
  def ivfPqEncode(df: DataFrame, id: String, vec: String,
                  cells: Int = 16, m: Int = 8, k: Int = 16,
                  iters: Int = 2): DataFrame = {
    require(cells > 0 && m > 0 && k > 0 && iters > 0,
      s"cells/m/k/iters must be positive: $cells/$m/$k/$iters")
    CacheLifecycle.generation {
      val e = df.select(col(id).as("vec_id"), col(vec).cast("array<double>").as("x"))
      // The one IVF-PQ recipe, every stage pinned eagerly (review r7):
      // coarse feeds the assignment AND the residual broadcast, the
      // assignment feeds the residual build, the residual long form feeds
      // the Lloyd fold and the code assignment — unpinned, each plan
      // reference would re-run the full coarse training subtree.
      graft.ops.VectorOps.codeArrays(graft.ops.VectorOps.trainIvfPq(e, cells, m,
          validatedDim(e, vec, m) / m, k, iters, (_, st) => CacheLifecycle.pinEager(st)),
          "cell")
        .select(col("vec_id").as(id), col("cell"), col("code"))
    }
  }

  /** Persist a complete IVF + residual-PQ ANN index for `df` under
    * `path` — the production "build once at ingest, probe forever" job
    * (the registry twin is `build_ivfpq_index` over the harness corpus):
    * trains the coarse quantizer and both PQ codebooks, encodes the
    * corpus, and writes the parquet artifact set (`coarse`, `cells`,
    * `pq_codebooks`, `pq_codes`, `ivfpq_codebooks`, `ivfpq_codes`
    * hive-partitioned by coarse cell, committed last under the root
    * marker). A probe reads ONE cell directory + two broadcast codebook
    * tables; float vectors stay out of the read path until the shortlist
    * rerank. Training is deterministic (lowest-id seeds, 6-dp-snapped
    * DECIMAL arithmetic), so a rebuild byte-matches — backfill-stable.
    * Returns the per-cell manifest (cell, n_vecs, n_codes), the fan-out a
    * capacity planner reads. */
  def buildAnnIndex(df: DataFrame, id: String, vec: String, path: String,
                    cells: Int = 16, m: Int = 8, k: Int = 16,
                    iters: Int = 2): DataFrame = {
    require(cells > 0 && m > 0 && k > 0 && iters > 0,
      s"cells/m/k/iters must be positive: $cells/$m/$k/$iters")
    val e = df.select(col(id).as("vec_id"), col(vec).cast("array<double>").as("x"))
    validatedDim(e, vec, m)
    val s = df.sparkSession
    val ix = graft.ops.IvfPqIndex.Ix(path)
    graft.ops.IvfPqIndex.buildAt(s, e, ix, cells, m, k, iters)
    val nv = Tables.read(s, ix.cells)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val nc = Tables.read(s, ix.ivfCodes)
      .groupBy("cell").agg(count(lit(1)).as("n_codes"))
    nv.join(nc, "cell").select(col("cell"), col("n_vecs"), col("n_codes"))
  }

  /** Hot-cell SPLIT maintenance on a stored [[buildAnnIndex]] layout —
    * the remedy for what [[annIndexStats]]'s `imbalance`/`max_cell`
    * detect (the facade form of the registry's `ann_index_split`, and
    * the ANN mirror of the MinHash hot-bucket reband): cells holding ≥
    * `hotSize` vectors train `subK` sub-centroids on their RESIDUALS
    * against the stored coarse centroids (one grouped Lloyd pass trains
    * every hot cell in the same jobs, same 6-dp-snapped deterministic
    * math as the codebooks) and re-assign into `coarse_split` /
    * `cells_split` side-tables next to the index, guarded by their own
    * commit marker (a crash mid-write reads as "no split"). Probes narrow a split cell to the sub-cells nearest the
    * query's residual instead of scanning `max_cell` vectors. `df` must
    * be the SAME corpus the index was built from — only the hot cells'
    * vectors are read. Returns the per-hot-cell manifest
    * (cell, n_vecs, n_sub, max_sub); empty when no cell is hot.
    * Harness twin: `ann_index_split` / `knn_ivf_split`. */
  def annIndexSplit(df: DataFrame, id: String, vec: String, path: String,
                    hotSize: Long = 32L, subK: Int = 4): DataFrame = {
    require(hotSize > 1 && subK > 1,
      s"hotSize/subK must exceed 1: $hotSize/$subK")
    val s = df.sparkSession
    val ix = graft.ops.IvfPqIndex.Ix(path)
    val e = df.select(col(id).as("vec_id"),
      col(vec).cast("array<double>").as("x"))
    graft.ops.IvfPqIndex.rewriteSplitFrom(
      graft.ops.VectorOps.splitRowsOf(s, e, ix, hotSize, subK), ix)
    graft.ops.VectorOps.splitManifest(s, ix)
  }

  /** APPEND a batch of vectors to a stored [[buildAnnIndex]] layout —
    * the ANN mirror of [[minhashIndexAppend]], and the one append behind
    * the registry's `ann_index_append`, its ensured delta and the daily
    * job: the batch coarse-assigns against the STORED centroids and
    * residual-encodes against the STORED codebooks — NO retraining, so a
    * re-encode of the same batch is byte-identical — and folds into the
    * single committed `ivfpq_codes_delta` sibling (distinct per
    * (vec_id, m): a replayed batch folds to the same rows, the
    * foreachBatch replay contract). The probe resolvers
    * ([[graft.ops.IvfPqIndex.resolvedCodes]], the split-aware
    * [[graft.streaming.StreamingOps.annProbeBatch]] pool) serve base ∪
    * committed delta, so an appended vector is servable the very next
    * probe with no compact. Rows whose `vec_id` the base `cells` table
    * already holds are SKIPPED (already indexed — this is what makes a
    * replay AFTER [[annIndexCompact]] a clean no-op instead of
    * double-serving the id through base and delta). The delta rewrite
    * runs under the retired root marker: overwrite drops the old
    * generation first, so a crash mid-write must read as an uncommitted
    * index, not a valid index silently missing its appended vectors.
    * Returns the merged per-cell manifest (cell, n_base, n_new). At
    * 100 TB this is the daily vector arrival job: two broadcast-argmin
    * map passes over the batch plus one delta-sized write — the corpus
    * and the stored codes are never rescanned. */
  def annIndexAppend(batch: DataFrame, id: String, vec: String,
                     path: String): DataFrame = {
    val s = batch.sparkSession
    val ix = graft.ops.IvfPqIndex.Ix(path)
    // Geometry refusals BEFORE the marker retirement (the lifecycle
    // discipline): a rejected call leaves a valid index valid.
    val (mM, dim) = graft.ops.IvfPqIndex.geometry(path)
    graft.ops.IndexFs.requireCommitted(path,
      "rebuild via buildAnnIndex before appending")
    val e = batch.select(col(id).as("vec_id"),
      col(vec).cast("array<double>").as("x"))
    // An EMPTY day commits a no-op cleanly (the minhashIndexAppend
    // contract): the guard finds no width to check and nothing is
    // encoded — the fold below just rewrites the prior delta (or lands a
    // data-file-less one).
    val newCodes = graft.ops.VectorOps.checkedDim(e, s"'$vec'", Some((path, dim))) match {
      case None =>
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(
            graft.ops.VectorOps.codesSchema.fields.filter(_.name != "pcell")))
      case Some(_) =>
        val fresh = e.join(Tables.read(s, ix.cells).select("vec_id"),
          Seq("vec_id"), "left_anti")
        // The ONE stored-codebook encode path, shared with the streaming
        // append (review r13): byte-stable replay must not drift.
        graft.ops.VectorOps.encodeAgainstStored(fresh,
          Tables.read(s, ix.coarse), Tables.read(s, ix.ivfCodebooks),
          mM, dim / mM)
    }
    // Fold into the single delta generation. Declared schema on the
    // prior read: a previous empty append commits a data-file-less
    // table. One shuffle by cell serves both the distinct (cell is one
    // of its keys) and the one-file-per-cell write; localCheckpoint
    // severs the read from the overwrite.
    val merged = (if (graft.ops.IndexFs.committed(ix.ivfCodesDelta))
      Tables.read(s, ix.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
        .select("vec_id", "m", "code", "cell")
        .unionByName(newCodes)
    else newCodes).repartition(col("cell")).distinct().localCheckpoint()
    graft.ops.IndexFs.mutate(path) {
      merged.withColumn("pcell", col("cell"))
        .write.mode("overwrite").partitionBy("pcell")
        .parquet(ix.ivfCodesDelta)
    }
    // One aggregate over both sides' rows: every cell of either side
    // gets a row (review r10), so a coarse cell empty in the base but
    // receiving appended vectors does not drop out of the count.
    Tables.read(s, ix.cells).select(col("cell"), lit(true).as("in_base"))
      .unionByName(Tables.read(s, ix.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
        .filter(col("m") === 0).select(col("cell"), lit(false).as("in_base")))
      .groupBy("cell")
      .agg(count_if(col("in_base")).as("n_base"), count_if(!col("in_base")).as("n_new"))
      .orderBy("cell")
  }

  /** COMPACT a stored [[buildAnnIndex]] layout in place (the ANN mirror
    * of [[minhashIndexCompact]], and the one compact behind the
    * registry's `ann_index_compact` and the maintenance remedy): folds
    * the committed `ivfpq_codes_delta` into the `ivfpq_codes` table and
    * the appended (vec_id, cell) memberships into `cells`, removes the
    * folded delta, and retires the split marker (the split side-tables
    * reflect PRE-compact cell membership — probes fall back to
    * whole-cell pools until the next [[annIndexSplit]], the same rule
    * the takedown applies). Single layout afterwards; probes resolve the
    * base (and an empty re-appended delta) and return exactly what
    * base ∪ delta returned (the fold is a set union, distinct per
    * (vec_id, m) row — replay-idempotent). Runs under the retired root
    * marker. Returns the per-cell manifest (cell, n_vecs, n_codes) of
    * the compacted table. */
  def annIndexCompact(spark: SparkSession, path: String): DataFrame = {
    val ix = graft.ops.IvfPqIndex.Ix(path)
    // Same rationale as minhashIndexCompact (review r13): the in-place
    // fold must not run on top of a crashed lifecycle op's partial base.
    graft.ops.IndexFs.requireCommitted(path,
      "rebuild via buildAnnIndex instead of compacting")
    if (graft.ops.IndexFs.committed(ix.ivfCodesDelta)) {
      val delta = Tables.read(spark, ix.ivfCodesDelta, Some(graft.ops.VectorOps.codesSchema))
        .select("vec_id", "m", "code", "cell")
      val merged = Tables.read(spark, ix.ivfCodes)
        .select("vec_id", "m", "code", "cell")
        .unionByName(delta)
        .distinct()
        .localCheckpoint()
      val newCells = Tables.read(spark, ix.cells)
        .unionByName(delta.filter(col("m") === 0).select("vec_id", "cell"))
        .distinct()
        .localCheckpoint()
      graft.ops.IndexFs.mutate(path) {
        merged.withColumn("pcell", col("cell"))
          .repartition(col("pcell"))
          .write.mode("overwrite").partitionBy("pcell")
          .parquet(ix.ivfCodes)
        newCells.write.mode("overwrite").parquet(ix.cells)
        require(graft.ops.IndexFs.deleteRecursive(ix.ivfCodesDelta),
          s"could not remove the folded delta under $path")
        graft.ops.IndexFs.retire(path, graft.ops.IndexFs.Split)
      }
    }
    Tables.read(spark, ix.ivfCodes)
      .groupBy("cell")
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        count(lit(1)).as("n_codes"))
      .orderBy("cell")
  }

  /** Health audit of a stored ANN index ([[buildAnnIndex]] layout) — the
    * one-row dashboard an operator reads before deciding to re-train:
    * cell coverage vs the quantizer's `quantizerCells` capacity, size
    * skew (`imbalance` = 6-dp max-over-mean cell size, the re-train
    * trigger; `max_cell` bounds worst-case probe I/O), and the raw code
    * count for the m-codes-per-vector encode cross-check. Caller passes
    * the STORED tables (`cells` = (vec_id, cell), `codes` = the code
    * manifest) — reads touch only scalar columns, never floats, so the
    * audit costs one pass over ~12 bytes/vector at any corpus size.
    * Registry binding: `ann_index_stats` (16 quantizer cells). */
  def annIndexStats(cells: DataFrame, codes: DataFrame,
                    quantizerCells: Int): DataFrame = {
    require(quantizerCells > 0, "quantizerCells must be positive")
    val per = cells.groupBy("cell").agg(count(lit(1)).as("n"))
    per.agg(
        count(lit(1)).as("n_cells"),
        sum(col("n")).as("n_vecs"),
        min(col("n")).as("min_cell"),
        max(col("n")).as("max_cell"),
        r6(max(col("n")) * count(lit(1)) / sum(col("n")).cast("double"))
          .as("imbalance"))
      .withColumn("empty_cells", lit(quantizerCells.toLong) - col("n_cells"))
      .crossJoin(broadcast(codes.agg(count(lit(1)).as("n_codes"))))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"),
        col("max_cell"), col("imbalance"), col("empty_cells"), col("n_codes"))
  }

  /** Bucket-size skew audit over a stored MinHash postings table
    * ([[writeMinhashIndex]] layout / [[minhashBands]] output): per band,
    * the bucket count, max bucket, hot (≥2) vs singleton split, and the
    * exact LSH candidate-pair volume Σ sz·(sz−1)/2 that band will feed a
    * pair join — the quadratic-blowup early warning that decides a
    * re-band (more bands / more rows per band) before a hot bucket
    * stalls candidate generation. Two fixed-width aggregations over the
    * stored scalar columns; document text is never touched. The
    * registry's `minhash_index_stats` is this audit over its stored
    * postings. */
  def minhashIndexSkew(bands: DataFrame): DataFrame = {
    val buckets = bands.groupBy("band", "band_key").agg(count(lit(1)).as("sz"))
    buckets.groupBy("band")
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
  }

  /** Metadata-FILTERED ANN against a stored index: top-`k` by cosine
    * among rows of `df` satisfying `pred`, scanning only the `probes`
    * coarse cells nearest the `query` vector. `coarse`/`cells` are the
    * stored quantizer tables ([[buildAnnIndex]] layout: (cid, cv) and
    * (vec_id, cell)). Pre-filtering inside the probe, not post-filtering
    * an unfiltered top-k: `pred` should reference scalar metadata
    * columns of `df` so Catalyst pushes it to the candidate scan, and
    * the probe fans wider than an unfiltered query's single cell because
    * a filter thins each cell's pool. Exact cosine runs only on the
    * filter-surviving candidates of the probed cells — at 100 TB with a
    * cell-partitioned layout the probe touches ~k/selectivity vectors,
    * never the corpus. Registry binding: `knn_filtered` (through
    * [[annFilteredProbe]], with the vec_id = 0 row as the query). */
  def annFilteredTopK(df: DataFrame, id: String, vec: String,
                      coarse: DataFrame, cells: DataFrame,
                      query: Seq[Double], pred: Column,
                      probes: Int = 4, k: Int = 10): DataFrame =
    annFilteredProbe(df, id, vec, coarse, cells,
      df.sparkSession.range(1).select(typedLit(query).as("_q")), "_q",
      pred, probes, k)

  /** The probe core of [[annFilteredTopK]], with the query as the
    * `qVec` column of a ONE-row frame (so a query vector stored in a
    * table never passes through the driver). The row rides the probed
    * cells' broadcast to the candidate side. `keep` names extra columns
    * of `df` carried to the output: (id, keep…, cosine). */
  private[graft] def annFilteredProbe(df: DataFrame, id: String, vec: String,
                                      coarse: DataFrame, cells: DataFrame,
                                      query: DataFrame, qVec: String,
                                      pred: Column, probes: Int, k: Int,
                                      keep: Seq[String] = Nil): DataFrame = {
    require(probes > 0 && k > 0, s"probes/k must be positive: $probes/$k")
    def dot2(a: Column, b: Column) = graft.functions.VectorFunctions.graftDot(a, b)
    val qv = col("_qv")
    val probeCells = coarse
      .crossJoin(broadcast(query.select(col(qVec).cast("array<double>").as("_qv"))))
      .select(col("cid"), qv, r6(dot2(qv, qv) - lit(2) * dot2(qv, col("cv")) +
        dot2(col("cv"), col("cv"))).as("_d"))
      .orderBy(col("_d").asc, col("cid").asc).limit(probes)
      .select(col("cid"), qv)
    val x = col(vec).cast("array<double>")
    df.filter(pred)
      .withColumnRenamed(id, "_gid")
      .join(cells, col("_gid") === col("vec_id"))
      .join(broadcast(probeCells), col("cell") === col("cid"))
      .select((col("_gid").as(id) +: keep.map(col)) :+ {
        // zero-norm guard as in truncatedDimRecall: NaN sorts above
        // every real cosine under desc, null sorts last (review r10)
        val den = sqrt(dot2(x, x)) * sqrt(dot2(qv, qv))
        r6(when(den =!= 0.0, dot2(x, qv) / den)).as("cosine")
      }: _*)
      .orderBy(col("cosine").desc, col(id).asc)
      .limit(k)
  }

  /** Corpus-scaled sign-bit bucketing for near-dup candidate generation:
    * the bit width grows with the row count (least B with 2^B ≥
    * n/targetBucketSize), so the same call that yields 32 buckets on a
    * 500-row fixture yields ~n/T buckets on a 100 TB corpus and
    * same-bucket pair volume stays ~linear in n. Returns `df` plus a
    * `bucket` column. True near-dups (cosine → 1) share every sign bit
    * and always co-bucket; for recall beyond sign agreement, gate with
    * [[kmeansAssign]] cells instead. Harness twin: `embed_neardup`. */
  def scaledSignBuckets(df: DataFrame, vec: String,
                        targetBucketSize: Int = 16): DataFrame = {
    require(targetBucketSize > 0, s"targetBucketSize must be positive")
    graft.ops.VectorOps.scaledCells(df,
        j => targetBucketSize.toLong * (1L << (j - 1)), vec)
      .withColumnRenamed("cell", "bucket")
  }

  /** SemDeDup cell rule: √n sign-bit cells (least B with 4^B ≥ n) — the
    * cluster column to hand [[semanticDedup]] when no learned clustering
    * is available. Registry binding: `semantic_dedup_scaled`
    * ([[semanticDedup]] over these cells). */
  def sqrtNSignCells(df: DataFrame, vec: String): DataFrame =
    graft.ops.VectorOps.scaledCells(df, j => 1L << (2 * (j - 1)), vec)

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows by the codegen'd `graft_dot` product over L2-normalized
    * vectors. Corpus-side scoring is map-side (queries broadcast); the
    * per-query top-k is the row_number idiom → native TopKPerGroup under
    * GraftExtensions. At IVF scale, pre-bucket the corpus instead. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame,
                 qId: String, cId: String, vec: String, k: Int): DataFrame = {
    val q = l2Normalize(queries.select(col(qId).as("query_id"), col(vec)), vec)
      .withColumnRenamed(vec, "_qv")
    val c = l2Normalize(corpus.select(col(cId).as("corpus_id"), col(vec)), vec)
      .withColumnRenamed(vec, "_cv")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine",
        graft.functions.VectorFunctions.graftDot(col("_qv"), col("_cv")))
      .select("query_id", "corpus_id", "cosine")
    topKPerGroup(scored, Seq("query_id"), "cosine", "corpus_id", k)
  }

  /** SemDeDup-style semantic dedup over a caller-supplied CLUSTER column
    * (k-means cell id, LSH bucket, shard key — whatever bounds the
    * candidate space): within each cluster, drop a row iff a LOWER-`id`
    * row sits within cosine ≥ `tau`; survivors keep `keep = true`,
    * dropped rows carry their lowest-id near-dup as `rep_id`. Greedy by
    * id — local, deterministic, no transitive closure (pair volume is
    * Σ|cluster|², the quantity the caller's clustering controls).
    * Registry bindings: `semantic_dedup` (16 sign-grid cells) and
    * `semantic_dedup_scaled` ([[sqrtNSignCells]]), both at τ = 0.35. */
  def semanticDedup(df: DataFrame, id: String, cluster: String, vec: String,
                    tau: Double): DataFrame = {
    // cosine as graftDot / (norm·norm), then the 6-dp snap the DuckDB
    // oracle mirrors, so the τ test cannot straddle an engine edge
    def d(a: Column, b: Column): Column = graft.functions.VectorFunctions.graftDot(a, b)
    val av = col("a._v").cast("array<double>")
    val bv = col("b._v").cast("array<double>")
    val cos = r6(d(av, bv) / (sqrt(d(av, av)) * sqrt(d(bv, bv))))
    val slim = df.select(col(id), col(cluster), col(vec).as("_v"))
    val reps = slim.as("a")
      .join(slim.as("b"),
        col(s"a.$cluster") === col(s"b.$cluster") && col(s"a.$id") > col(s"b.$id"))
      .select(col(s"a.$id").as(id), col(s"b.$id").as("_bid"), cos.as("_cos"))
      .filter(col("_cos") >= tau)
      .groupBy(id).agg(min(col("_bid")).as("_rep"))
    df.select(col(id), col(cluster))
      .join(reps, Seq(id), "left")
      .select(col(id), col(cluster),
        col("_rep").isNull.as("keep"),
        coalesce(col("_rep"), col(id)).as("rep_id"))
  }
}
