package graft.ops

import graft.Tables
import graft.Tables._
import graft.api.GraftAPI
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-pipeline patterns the reference implies but never needed at its
  * 157-row scale (full-refresh daily batch, `/root/reference/dags/bigbookapi.py:51`;
  * idempotent upsert precedent in the orphaned HF DAG, SURVEY.md §2.11):
  * runtime-filtered joins, changelog application, stratified corpus
  * sampling, token-budget shard packing, and rule-based quality
  * filtering. Each is written in the shape that survives 100 TB — the
  * scaladoc on every operator names the scale mechanism it demonstrates.
  */
object PipelineOps {

  /** J10: bloom-runtime-filter join — the build side's join keys are
    * sketched into a Bloom filter (driver-side, like Spark's own
    * `InjectRuntimeFilter`), and the probe side is pre-filtered by
    * membership BEFORE the shuffle. At 100 TB this is the difference
    * between shuffling the whole fact table and shuffling only the ~20%
    * that can possibly match; false positives cost nothing because the
    * exact join still runs after. The membership udf is the sanctioned
    * exception to the no-black-box-UDF policy: it wraps a broadcast
    * sketch, exactly what Catalyst's internal BloomFilterMightContain
    * does.
    *
    * Oracle = the plain exact join (the bloom is transparent to
    * semantics — that is the point being verified). */
  def joinBloomPrefilter(s: SparkSession, dir: String): DataFrame = {
    val dim = customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
    // Fixed capacity, not dim.count(): an exact pre-count would cost a
    // second full scan of the build side per invocation; oversizing a
    // bloom only wastes a few bits per absent slot, and undersizing only
    // raises the FP rate (correctness unaffected — the join is exact).
    val bf = dim.stat.bloomFilter("c_custkey", 1000000L, 0.01)
    // Sanctioned UDF (VERDICT r5 #7, evaluated r6): Spark 4.1 keeps
    // BloomFilterAggregate/BloomFilterMightContain OUT of the public
    // function registry (`might_contain` is unresolvable from SQL — it
    // exists only for the optimizer's runtime-filter rewrite), so a
    // broadcast-sketch probe has no codegen'd public equivalent; this
    // 1-arg closure over the broadcast sketch mirrors exactly what the
    // internal expression does.
    val mightContain = udf((k: Long) => bf.mightContain(k))
    orders(s, dir)
      .filter(col("o_custkey").isNotNull && mightContain(col("o_custkey")))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** K7: CDC changelog application — the batch form of the reference's
    * `INSERT ... ON CONFLICT DO UPDATE` (SURVEY.md §2.11/K6) generalized
    * to I/U/D ops: snapshot ∪ changelog → keep the highest-seq row per
    * key → drop deletes. One shuffle on the key, no driver-side state;
    * at 100 TB the union sides are co-partitioned on the key so the
    * window is the only exchange. The changelog here is derived
    * deterministically from the snapshot so DuckDB can replay it. */
  def cdcApplyChanges(s: SparkSession, dir: String): DataFrame = {
    val base = customer(s, dir)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit(1).as("seq"), lit("I").as("op"))
    val upd = customer(s, dir).filter(col("c_custkey") % 10 === 3)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        (col("c_acctbal") + 100.0).as("acctbal"), lit(2).as("seq"), lit("U").as("op"))
    val del = customer(s, dir).filter(col("c_custkey") % 10 === 7)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), lit(2).as("seq"), lit("D").as("op"))
    val ins = customer(s, dir).filter(col("c_custkey") % 10 === 1)
      .select((col("c_custkey") + 1000000L).as("k"), col("c_name").as("name"),
        lit(0.0).as("acctbal"), lit(2).as("seq"), lit("I").as("op"))
    val w = Window.partitionBy("k").orderBy(col("seq").desc)
    base.unionAll(upd).unionAll(del).unionAll(ins)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("k").as("c_custkey"), col("name").as("c_name"),
        col("acctbal").as("c_acctbal"), col("op"))
      .orderBy("c_custkey")
  }

  /** K7b: snapshot differencing — GENERATES the changelog that
    * [[cdcApplyChanges]] consumes: two per-customer aggregate snapshots
    * over shifted order windows, full-outer-joined on the key and
    * classified I/U/D (unchanged keys dropped). This is the
    * incremental-refresh primitive for feeding delta-only sinks. At
    * 100 TB each snapshot aggregate shuffles once on the key, the
    * full-outer sort-merge join rides the same hash partitioning, and
    * the output is changed-keys-only scale. Revenue compares exactly
    * because both sides aggregate through DECIMAL ([[graft.Tables.dsum]]).
    *
    * Does not bind [[GraftAPI.snapshotDiff]] on purpose: the two
    * snapshot windows overlap, so one conditional aggregate yields both
    * in a single scan and exchange, where the facade's generic
    * full-outer diff of two aggregates would scan and shuffle `orders`
    * twice. */
  def cdcDiffSnapshots(s: SparkSession, dir: String): DataFrame = {
    // Single-pass conditional aggregation (optimization r14, guide §2.4):
    // the two snapshot windows OVERLAP ([95,97) and [96,98) — their union
    // is one contiguous range), so the old two-aggregate + full-outer-join
    // form scanned and shuffled orders twice and sort-merged the results
    // for nothing: one custkey aggregate with per-window conditional
    // partials yields both snapshots' (n, rev) in one scan and one
    // exchange, and the join's NULL-side semantics are recovered by the
    // n = 0 → NULL projection (a key absent from a window has zero rows
    // under its condition, exactly the rows the old join saw as NULL).
    // 2 scans → 1, 2 exchanges + SortMergeJoin(full_outer) → 1 exchange.
    val d = to_date(col("o_orderdate"))
    val inA = d >= lit("1995-01-01") && d < lit("1997-01-01")
    val inB = d >= lit("1996-01-01") && d < lit("1998-01-01")
    orders(s, dir)
      .filter(d >= lit("1995-01-01") && d < lit("1998-01-01"))
      .groupBy(col("o_custkey"))
      .agg(count(when(inA, lit(1))).as("a_n"),
        dsum(when(inA, col("o_totalprice"))).as("a_rev"),
        count(when(inB, lit(1))).as("b_n"),
        dsum(when(inB, col("o_totalprice"))).as("b_rev"))
      .withColumn("op",
        when(col("a_n") === 0, "I")
          .when(col("b_n") === 0, "D")
          .when(col("a_n") === col("b_n") && col("a_rev") === col("b_rev"), "N")
          .otherwise("U"))
      .filter(col("op") =!= "N")
      .select(col("o_custkey").as("custkey"), col("op"),
        when(col("a_n") > 0, col("a_n")).as("old_n"),
        when(col("b_n") > 0, col("b_n")).as("new_n"),
        when(col("a_n") > 0, col("a_rev")).as("old_rev"),
        when(col("b_n") > 0, col("b_rev")).as("new_rev"))
      .orderBy("custkey")
  }

  /** A24: incremental aggregate maintenance — refresh a materialized
    * per-priority revenue rollup by merging the stored MV state (history
    * partitions, NOT rescanned at refresh time) with a delta-only
    * aggregate. Partial sums stay DECIMAL until after the merge, so
    * incremental == full recompute bit-for-bit — the reconciliation
    * invariant the oracle checks (it recomputes from scratch). At 100 TB
    * the refresh cost is the delta scan plus an MV-cardinality merge;
    * the date predicate prunes history partitions off the scan. */
  def aggIncrementalMerge(s: SparkSession, dir: String): DataFrame = {
    def partial(pred: org.apache.spark.sql.Column) =
      orders(s, dir).filter(pred)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("pn"),
          sum(col("o_totalprice").cast("decimal(25,6)")).as("prev"))
    // coalesce(pred, false): a NULL/unparseable order date made BOTH
    // branch filters reject the row (review r11 — the two-sided split
    // must partition, or incremental != full-recompute on dirty data)
    val isDelta = coalesce(
      to_date(col("o_orderdate")) >= lit("1997-01-01"), lit(false))
    partial(!isDelta).unionByName(partial(isDelta))
      .groupBy("o_orderpriority")
      .agg(sum(col("pn")).as("n_orders"),
        sum(col("prev")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** L10: stratified corpus sampling — per-language keep rates (downsample
    * the dominant language, keep low-resource ones) decided by a
    * DETERMINISTIC hash of the stable doc_id, never `rand()`: a backfill
    * re-run at 100 TB must select the same rows, and the hash-mod form
    * pushes to a map-side filter with zero shuffle (same mechanism as
    * `sample_hash`, SURVEY.md §2.9). */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val rate = when(col("lang") === "en", 10).otherwise(40)
    documents(s, dir)
      .filter(h < rate)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Fixed spine cardinality for the two-pass prefix sums below — the
    * engine-wide shared bound ([[graft.Tables.SpineBuckets]]). */
  private val SpineBuckets = graft.Tables.SpineBuckets

  /** Fixed-cardinality ORDERED range bucket (VERDICT r6 #3):
    * `id·K div (max_id+1)` — monotone in id (so bucket offset +
    * within-bucket position == the global prefix sum) and bounded at
    * [[SpineBuckets]] buckets at ANY corpus size, unlike the old
    * `doc_id/100` spine whose single-task window and offsets broadcast
    * grew O(n). Costs one column-pruned max() scan; exact integer
    * arithmetic (`div`) so both engines bucket identically.
    * [[rowGlobalIndex]]'s month spine is the calendar-keyed form of the
    * same rule. */
  private def withRangeBucket(df: DataFrame, id: String,
                              maxSource: DataFrame): DataFrame = {
    // max() over `maxSource` — pass the cheapest frame that bounds the id
    // domain (a column-pruned base-table scan), NOT an expensive derived
    // frame: the broadcast subtree re-executes once per consumer of the
    // result. Any upper bound preserves monotonicity + fixed cardinality.
    val nmax = maxSource.agg((max(col(id)) + lit(1L)).as("nmax1"))
    df.crossJoin(broadcast(nmax))
      .withColumn("bucket", expr(s"$id * $SpineBuckets div nmax1"))
      .drop("nmax1")
  }

  /** L11: token-budget shard packing — assign documents to training
    * shards by cumulative token count. A naive global running sum is a
    * single-task window; this is the SCALABLE two-pass prefix sum:
    * (1) partition docs into ordered fixed-cardinality range buckets
    * ([[withRangeBucket]]) and take a parallel per-bucket running sum,
    * (2) prefix-sum the per-bucket totals (≤ [[SpineBuckets]] rows —
    * driver-scale even at 100 TB), (3) global offset = bucket offset +
    * within-bucket position. Every heavy window is partitioned; the only
    * global window runs over a FIXED number of rows. The oracle is the
    * naive single-task global running sum — proving the decomposition
    * exact. */
  def shardPackTokens(s: SparkSession, dir: String): DataFrame =
    // tokenCounts IS the formula (review r11): this key and the
    // incremental packer / daily job must derive token state from the
    // same definition or floor(cum/budget) shard boundaries drift.
    packByBudget(tokenCounts(s, dir), budget = 10000L)

  /** Core of [[shardPackTokens]], callable on ANY (doc_id, n_tokens)
    * frame — exposed for the property spec, which drives it with
    * generated sparse/duplicate-free id spaces and checks it against an
    * independent local cumulative sum. */
  private[graft] def packByBudget(toks0: DataFrame, budget: Long,
                                  startTokens: Option[DataFrame] = None): DataFrame = {
    // Deliberately NOT pinned, unlike [[packShards]] (scan-audit r9,
    // measured): here the re-derived lineage is ONE pruned scan +
    // map-side split, and an A/B with `.persist()` measured 0.41 s vs
    // 0.28 s unpinned at sf0.1 — the materialization barrier costs more
    // than the rescan. packShards pins because its survivor lineage
    // carries three joins over the text-bearing quality frame.
    val toks = withRangeBucket(toks0, "doc_id", toks0.select("doc_id"))
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withBucketPos = toks
      .withColumn("within", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("bucket").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("offset", coalesce(sum(col("btot")).over(wB), lit(0L)))
      .select(col("bucket").as("ob"), col("offset"))
    // startTokens: optional 1-row frame carrying the token total already
    // packed upstream — the whole packing STATE of an incremental
    // continuation ([[shardPackIncremental]]); stays in-plan (broadcast
    // cross join), no driver-side collect.
    val joined = withBucketPos
      .join(broadcast(offsets), col("bucket") === col("ob"))
    val based = startTokens.fold(joined.withColumn("_start", lit(0L)))(st =>
      joined.crossJoin(broadcast(
        st.select(col(st.columns.head).cast("long").as("_start")))))
    based
      .select(col("doc_id"), col("n_tokens"),
        ((col("_start") + col("offset") + col("within")) / budget)
          .cast("long").as("shard"))
      .orderBy("doc_id")
  }

  /** L11c (r9): INCREMENTAL shard packing — the day's batch continues
    * the base corpus's shard numbering. The key design point: the
    * packing STATE of the deterministic greedy packer is a single
    * number (the base corpus's token total — shard = floor(cum/budget)
    * of the global running sum), so the daily run aggregates that one
    * scalar from the base (or reads it from the prior run's manifest)
    * and packs ONLY the batch with the two-pass bucket prefix sum,
    * offset in-plan via a broadcast 1-row frame. No re-pack, no
    * re-read of already-packed shards, and shard ids stay globally
    * consistent — exactly how a 100 TB corpus absorbs a daily delta.
    * Batch = docs ≥ [[DedupOps.AppendCutoff]] ("today" in the
    * three-slice model), mirroring the other incremental legs: the
    * base-so-far = base + yesterday's already-packed delta. */
  def shardPackIncremental(s: SparkSession, dir: String): DataFrame = {
    val cut = DedupOps.AppendCutoff
    val toks = tokenCounts(s, dir)
    val baseTot = toks.filter(col("doc_id") < cut)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("base_tokens"))
    packByBudget(toks.filter(col("doc_id") >= cut),
      budget = IncrementalShardBudget, startTokens = Some(baseTot))
  }

  /** The incremental shard token budget — ONE definition (review r10):
    * [[graft.jobs.DailyIncrement]] packs with the same constant, and a
    * drift between the two would silently break cross-day
    * shard-numbering continuity (floor(cum/budget) boundaries move). */
  private[graft] val IncrementalShardBudget = 10000L

  /** (doc_id, n_tokens) over the corpus — the one tokenization the
    * incremental packer and the daily job both derive base/batch token
    * state from, so the formula cannot drift between them. */
  private[graft] def tokenCounts(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))

  /** L11b: shard manifest — the per-shard summary written alongside packed
    * training shards (doc count, token total, language spread, id range)
    * so loaders size reads and mixing audits run without opening a single
    * data file. Builds on [[shardPackTokens]]'s assignment; the lang
    * lookup is a co-keyed join on doc_id and the manifest itself is one
    * output-scale hash-agg (rows = number of shards). */
  def shardManifest(s: SparkSession, dir: String): DataFrame =
    shardPackTokens(s, dir)
      .join(documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tot_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("shard")

  /** L12: rule-based quality filter — the curation decision step: each
    * document gets keep/drop with the FIRST failing rule as the reason
    * (too short / too long / too repetitive — the token-repetition rule
    * from the Gopher-style quality heuristics: total/distinct token
    * ratio). Pure map-side scalar work over pruned columns; at 100 TB
    * this is a zero-shuffle pass whose output feeds the sampling and
    * dedup stages. Thresholds are corpus-calibrated so every outcome is
    * represented in the fixtures. */
  /** The ONE quality rule (review r11 — was restated at four sites):
    * chars in [[QualityMinChars]]..[[QualityMaxChars]] and
    * total/distinct token ratio <= [[QualityMaxRep]] (the Gopher-style
    * repetition heuristic). Every consumer — the filter op, the stage
    * producer, the funnel and the incremental verdict — must share it
    * or their memberships silently disagree. */
  private[graft] val QualityMinChars = 150
  private[graft] val QualityMaxChars = 450
  private[graft] val QualityMaxRep = 2.5

  private[graft] def qualityOk(text: String = "text",
                               nChars: String = "n_chars"): org.apache.spark.sql.Column = {
    val toks = split(col(text), " ")
    col(nChars) >= QualityMinChars && col(nChars) <= QualityMaxChars &&
      size(toks).cast("double") / size(array_distinct(toks)) <= QualityMaxRep
  }

  /** The decontamination threshold: a document whose r6-snapped share of
    * shingles found in the eval slice reaches it is contaminated. */
  private[graft] val ContamMinRatio = 0.3

  def docsQualityFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val repRatio = size(toks).cast("double") / size(array_distinct(toks))
    documents(s, dir)
      .withColumn("rep_ratio", repRatio)
      .withColumn("reason",
        when(col("n_chars") < QualityMinChars, "too_short")
          .when(col("n_chars") > QualityMaxChars, "too_long")
          .when(col("rep_ratio") > QualityMaxRep, "too_repetitive")
          .otherwise("keep"))
      .select(col("doc_id"), col("reason"))
      .orderBy("doc_id")
  }

  /** L15: corpus mixing with fractional epoch repeat — each language gets
    * a target epoch factor (how many times its docs are seen in training);
    * a factor of 2.5 repeats every doc twice and a deterministic
    * hash-chosen half a third time, 0.5 downsamples to half. The standard
    * "data mixture" step that rebalances web-heavy corpora before
    * training.
    *
    * Scale shape: pure map-side — the repeat decision is a hash of the
    * doc id (a backfill re-run emits identical copies; no RNG state), and
    * the explode fans out ≤ ceil(factor) fixed-width rows per doc with no
    * shuffle anywhere. */
  def corpusMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val factor = element_at(
      map(lit("en"), lit(2.5), lit("zh"), lit(3.0), lit("de"), lit(1.25),
        lit("es"), lit(1.0), lit("fr"), lit(0.5)),
      col("lang"))
    val u = conv(substring(md5(concat(lit("mix|"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long").cast("double") / lit(4294967296.0)
    val copies = (floor(factor) + when(u < factor - floor(factor), 1).otherwise(0)).cast("long")
    documents(s, dir)
      .select(col("doc_id"), col("lang"), copies.as("n_copies"))
      .select(col("doc_id"), col("lang"),
        explode(when(col("n_copies") >= 1L, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<long>"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** Stage 1 of the curation composite (rule-based quality filter) as a
    * reusable frame: length bounds + Gopher-style token-repetition, plus
    * the columns every later stage needs (token count for packing, text
    * fingerprint for exact dedup). Pure map-side; stays in-plan in every
    * factoring — a filter is not worth a stage table. */
  private def qualityKept(s: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    documents(s, dir)
      .filter(qualityOk())
      .select(col("doc_id"), col("lang"), size(toks).cast("long").as("n_tokens"),
        md5(col("text")).as("fp"))
  }

  // Root carries the SOURCE fingerprint (review r11, the joinBucketed /
  // Artifacts.root rule): keyed on the dir's digits alone, two corpora
  // with the same sf digits — or one regenerated mid-session — mapped to
  // the SAME stage root, and the stagesBuilt memo then served corpus A's
  // drop-lists to corpus B's assembly.
  private[graft] def curationStageRoot(dir: String): String =
    Artifacts.root("curation_stages", dir, "documents.parquet")

  /** Stage tables built this JVM session, by root. Memo only — the tables
    * themselves live on disk; a fresh JVM always rebuilds on first touch
    * (so stale artifacts from an older code version can never leak in),
    * and every later consumer in the same session reads the tables. */
  private val stagesBuilt = scala.collection.mutable.Set.empty[String]

  /** Builds the corpus-level curation stage tables (VERDICT r8 #1/#2 —
    * the producer half of the staged factoring): exact-dedup keepers,
    * near-dup cluster drop-list, contamination drop-list, one parquet
    * table each. This is the expensive corpus pass (LSH + propagation +
    * decontam); everything downstream ([[curationPipeline]],
    * [[corpusDedupFunnel]]) reads the tables and never re-derives the
    * DAG. Always overwrites — the caller decides whether to reuse
    * ([[ensureCurationStages]]) or force a rebuild
    * ([[curationPipelineStaged]], whose write IS the product). */
  private def buildCurationStages(s: SparkSession, dir: String): String = synchronized {
    // one cache generation for the WHOLE build: dedupClusters' and
    // decontamNgram's pins must all stay alive until their stage writes
    // complete
    CacheLifecycle.generation {
      val root = curationStageRoot(dir)
      // The producer was only ~1.35x core-scalable at 30x (VERDICT r10 #2):
      // three SEQUENTIAL stage jobs each leave cores idle through their
      // low-parallelism phases (driver planning, skewed verify tails, the
      // small drop-list writes). Fix shape: materialize the SHARED shingle
      // root once (both dedup stages read it; pre-pinning also removes the
      // concurrent first-use race on the memo), then submit the three
      // stage writes as CONCURRENT Spark jobs — the scheduler interleaves
      // their tasks, filling each other's stragglers. The writes land in
      // three disjoint directories; the sort the registry keys carry for
      // presentation is dropped here (the stage tables are join SETS).
      DedupOps.pinnedShingles(s, dir).count()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = Seq(
        Future {
          qualityKept(s, dir).groupBy("fp").agg(min("doc_id").as("doc_id"))
            .select("doc_id")
            .write.mode("overwrite").parquet(s"$root/exact_keep")
        },
        Future {
          DedupOps.dedupClustersUnsorted(s, dir)
            .filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
            .write.mode("overwrite").parquet(s"$root/cluster_drops")
        },
        Future {
          DedupOps.decontamNgramUnsorted(s, dir)
            .filter(col("contam_ratio") >= ContamMinRatio).select("doc_id")
            .write.mode("overwrite").parquet(s"$root/contaminated")
        })
      // Settle ALL three before rethrowing (review r11): a fail-fast Await
      // would abandon still-running writes, and a retried build would then
      // race the orphans into the same output directories (_temporary/
      // commit collisions or a silently mixed stage table).
      val settled = Await.result(
        Future.sequence(writes.map(_.transform(scala.util.Success(_)))),
        Duration.Inf)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      stagesBuilt += root
      root
    }
  }

  /** Build-once-per-session accessor for the stage tables: first caller
    * pays the corpus pass, everyone after reads parquet. Exactly the
    * production contract — the curation stages run once per corpus
    * snapshot and their artifacts serve every downstream job (final
    * assembly, funnel report, audits). */
  private[ops] def ensureCurationStages(s: SparkSession, dir: String): String =
    synchronized {
      val root = curationStageRoot(dir)
      if (!stagesBuilt.contains(root)) buildCurationStages(s, dir)
      root
    }

  /** Stage-5 assembly shared by every curation factoring: quality-kept
    * docs (in-plan map-side filter) semi/anti-joined against the three
    * STORED stage tables, eval holdout dropped, then token-budget shard
    * packing. The explained plan is three tiny parquet scans feeding
    * broadcast joins — no LSH / propagation / decontam subtree. */
  private def assembleCuration(s: SparkSession, dir: String, root: String): DataFrame = {
    val Budget = 2000L
    val survivors = withRangeBucket(
      qualityKept(s, dir)
        .join(Tables.read(s, s"$root/exact_keep"), Seq("doc_id"), "left_semi")
        .join(Tables.read(s, s"$root/cluster_drops"), Seq("doc_id"), "left_anti")
        .join(Tables.read(s, s"$root/contaminated"), Seq("doc_id"), "left_anti")
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_tokens")),
      "doc_id", documents(s, dir).select("doc_id"))
    packShards(survivors, Budget)
  }

  /** L18: the FLAGSHIP curation job — the full training-data pipeline
    * (quality filter → exact dedup → near-dup collapse → test-set
    * decontamination → token-budget shard packing), in its PRODUCTION
    * factoring (VERDICT r8 #2 — the action-chained in-plan flagship is
    * retired; [[curationPipelineInPlan]] keeps the single-query twin for
    * the spec): the corpus-level stage artifacts are parquet stage
    * tables built once per corpus snapshot ([[ensureCurationStages]]),
    * and the flagship is the stage-5 assembly over them. Dedup/decontam
    * verdicts are computed on the FULL corpus during the stage build (a
    * doc's near-dup is a dup even if the quality filter would drop it),
    * then applied to the quality-kept set here. Scale shape: the
    * assembly is one map-side filter + three broadcast semi/anti joins +
    * the ≤4096-bucket packing spine; the corpus-pass cost lives in the
    * stage build and amortizes across every consumer. The oracle chains
    * the same five stages as one DuckDB WITH (including the
    * recursive-CTE reachability for stage 3). */
  def curationPipeline(s: SparkSession, dir: String): DataFrame =
    assembleCuration(s, dir, ensureCurationStages(s, dir))

  /** The retired in-plan factoring of [[curationPipeline]] — the whole
    * five-stage job as ONE DataFrame composition (stage subtrees
    * lineage-truncated but still derived per run). Kept as the spec twin
    * pinning that stage materialization does not change the output
    * (PipelineSpec), and as the honest record of why the staged form
    * won: at sf1 this form is 3× slower and its driver-action chain
    * re-pays the corpus pass on every invocation. */
  private[graft] def curationPipelineInPlan(s: SparkSession, dir: String): DataFrame =
    CacheLifecycle.generation {
      val Budget = 2000L
      val quality = qualityKept(s, dir)
      val exactKeep = quality.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      val clusterDrops = DedupOps.truncate(DedupOps.dedupClusters(s, dir)
        .filter(col("cluster_id") =!= col("doc_id")).select("doc_id"))
      val contaminated = DedupOps.truncate(DedupOps.decontamNgram(s, dir)
        .filter(col("contam_ratio") >= ContamMinRatio).select("doc_id"))
      val survivors = withRangeBucket(
        quality
          .join(exactKeep, Seq("doc_id"), "left_semi")
          .join(clusterDrops, Seq("doc_id"), "left_anti")
          .join(contaminated, Seq("doc_id"), "left_anti")
          .filter(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), col("lang"), col("n_tokens")),
        "doc_id", documents(s, dir).select("doc_id"))
      packShards(survivors, Budget)
    }

  /** Stage 5 of the curation composite: two-pass prefix sum over the
    * FIXED-cardinality range-bucket spine ([[withRangeBucket]]) → shard
    * ids. Shared by the in-plan and stage-materialized forms. */
  private def packShards(survivorsIn: DataFrame, budget: Long): DataFrame = {
    // Pinned (scan-audit r9): the two prefix-sum consumers (per-bucket
    // running sums + the bucket-offset aggregate) otherwise re-derive
    // the survivor frame — and its lineage re-reads the TEXT column
    // (n_tokens comes from split(text)), the one column that dominates
    // scan bytes at corpus scale. The pinned frame is survivor-
    // cardinality × 4 scalar columns; lazy persist per the r6 A/B.
    val survivors = CacheLifecycle.pin(survivorsIn)
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withPos = survivors
      .withColumn("within", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = survivors.groupBy("bucket").agg(sum(col("n_tokens")).as("btot"))
      .withColumn("offset", coalesce(sum(col("btot")).over(wB), lit(0L)))
      .select(col("bucket").as("ob"), col("offset"))
    withPos.join(broadcast(offsets), col("bucket") === col("ob"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        ((col("offset") + col("within")) / budget).cast("long").as("shard"))
      .orderBy("doc_id")
  }

  /** L18b: the curation stage PRODUCER job (VERDICT r7 #5 / r8 #2) — the
    * corpus-level stage artifacts (exact-dedup keepers, near-dup cluster
    * drop-list, contamination drop-list) each WRITE a parquet stage table
    * and the final assembly READS the tables back. That is what a real
    * pipeline does between stages (each one restartable, inspectable,
    * reusable), and it hard-truncates lineage: the final plan sees three
    * tiny parquet scans instead of the whole LSH + propagation + decontam
    * DAG. Unlike [[curationPipeline]] (which reuses a session's existing
    * stage tables) this key ALWAYS rebuilds them — the write is the
    * product; benchmarking this key measures the corpus pass. Output is
    * IDENTICAL to [[curationPipeline]] (same oracle; PipelineSpec pins
    * frame equality against the in-plan twin). */
  def curationPipelineStaged(s: SparkSession, dir: String): DataFrame =
    assembleCuration(s, dir, buildCurationStages(s, dir))

  /** L18c: the curation funnel report — per-stage survivor/dropped counts
    * for the [[curationPipeline]] stage chain (corpus → quality → exact
    * dedup → near-dup clusters → decontamination → eval holdout), the
    * one-table dashboard every curation pipeline publishes next to its
    * output.
    *
    * Computed in ONE corpus pass: each doc is tagged with the furthest
    * stage it survives (quality is a pure expression; the exact-keeper /
    * cluster-drop / contamination memberships are left-join markers
    * against the same lineage-truncated drop-list artifacts the pipeline
    * itself uses), the per-stage-reached counts aggregate once, and the
    * 6-row funnel is reverse-cumulated on a broadcast spine.
    *
    * Factoring (VERDICT r8 #1): the stage memberships come from the SAME
    * stored stage tables the pipeline assembles from
    * ([[ensureCurationStages]]) — the funnel is a CONSUMER of the
    * curation artifacts, never a re-derivation of the LSH + propagation
    * + decontam DAG. At 100 TB this is one pruned corpus pass (doc_id +
    * the quality scalar columns) joined against three tiny id tables;
    * the explained plan carries no dedup subtree (PipelineSpec pins
    * that). By construction its numbers match the staged tables exactly.
    * Every stage row is always emitted, n_docs = 0 included (left join
    * from the 6-row spine — a corpus where a stage drops everything
    * still reports all 6 rows, matching the oracle). */
  def corpusDedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCurationStages(s, dir)
    val docs = documents(s, dir)
    val qOk = qualityOk()
    val exactKeep = Tables.read(s, s"$root/exact_keep")
      .withColumn("ek", lit(true))
    val clusterDrops = Tables.read(s, s"$root/cluster_drops")
      .withColumn("cd", lit(true))
    val contaminated = Tables.read(s, s"$root/contaminated")
      .withColumn("ct", lit(true))
    val reached = docs.select(col("doc_id"), qOk.as("q_ok"))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(clusterDrops, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(when(!col("q_ok"), 0)
        .when(col("ek").isNull, 1)
        .when(col("cd"), 2)
        .when(col("ct"), 3)
        .when(col("doc_id") % 50 === 0, 4)
        .otherwise(5).as("r"))
      .groupBy("r").agg(count(lit(1)).as("cnt"))
    val names = Seq("corpus", "quality", "exact_dedup", "near_dup",
      "decontam", "eval_holdout")
    val spine = s.range(1).select(posexplode(array(names.map(lit): _*)))
      .select(col("pos").cast("int").as("stage"), col("col").as("stage_name"))
    // left join from the spine (ADVICE r8): a stage reached by zero docs
    // must still emit its row with n_docs = 0, as the oracle always does.
    val funnel = spine.join(reached, col("r") >= col("stage"), "left")
      .groupBy("stage", "stage_name")
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_docs"))
    val w = Window.orderBy("stage")
    funnel
      .select(col("stage"), col("stage_name"), col("n_docs"),
        (coalesce(lag(col("n_docs"), 1).over(w), col("n_docs")) - col("n_docs"))
          .as("n_dropped"))
      .orderBy("stage")
  }

  /** L18d (r9): INCREMENTAL curation — the steady-state daily run. A
    * new batch (docs ≥ [[DedupOps.AppendCutoff]] — "today", in the
    * three-slice model where [IncrementalCutoff, AppendCutoff) is
    * "yesterday's" already-absorbed batch) gets the full curation
    * verdict against the STORED corpus-so-far artifacts, without
    * re-reading the base text:
    *
    *   - quality: the same rule-based filter, pure map-side on the batch;
    *   - exact dup: batch fingerprints probe the corpus-so-far
    *     fingerprint set (tiny distinct-md5 table, broadcast);
    *   - near dup: batch band keys probe the PERSISTED MinHash
    *     postings — the base root's `bands` ∪ its ensured delta, through
    *     [[DedupOps.fineProbeHits]], the same probe `dedup_incremental`
    *     runs, under the same fine-union scheme: hot buckets match only
    *     on a stored full-signature sub_key; only the batch shingles +
    *     signs. A document appended yesterday flags today's near-dups of
    *     it (r13 — the loop VERDICT r12 #1 demanded);
    *   - decontamination: batch shingles vs the corpus-so-far eval
    *     slice's shingle set (broadcast), same r6-snapped ≥ 0.3 ratio
    *     rule as [[DedupOps.decontamNgram]].
    *
    * Output is one row per batch doc with the per-stage signals and the
    * first-failing-stage verdict (quality → exact_dup → near_dup →
    * contaminated → keep), mirroring the full pipeline's precedence. At
    * 100 TB this is the whole point of the stored artifacts: a day's
    * batch costs one map-side pass over the DAY plus probes of
    * fixed-width index tables — the corpus is never re-read. The one
    * corpus-side term left is the eval slice (`doc_id % 50 == 0` below
    * the cutoff, 2% of the base): its shingles are derived per run,
    * not stored. Both shingle frames filter `documents` on `doc_id`
    * before the tokenizer, so the scan under each `posexplode` carries
    * the filter (PipelineSpec pins it): 59 of 500 documents shingle at
    * sf0.01. Banding and decontamination read the same batch shingle
    * plan, whose exchanges AQE reuses, so nothing is pinned. */
  def curationIncremental(s: SparkSession, dir: String): DataFrame =
    CacheLifecycle.generation {
      val cut = DedupOps.AppendCutoff
      val docs = documents(s, dir)
      val qOk = qualityOk()
      val baseFps = docs.filter(col("doc_id") < cut)
        .select(md5(col("text")).as("fp")).distinct()
        .withColumn("seen", lit(true))
      val batchSh = GraftAPI.shingleRows(docs.filter(col("doc_id") >= cut),
        "doc_id", "text")
      // Fine-union probe (r12): the SHARED core with dedup_incremental
      // (DedupOps.fineProbeHits), so the curation verdict and the
      // standalone dedup probe can never disagree about what counts as a
      // near-dup.
      val nearHits = DedupOps.fineProbeHits(DedupOps.probedBase(s, dir).root,
          DedupOps.bandsOf(batchSh))
        .select(col("doc_id"), col("hit").as("near"))
      val evalSet = GraftAPI.shingleRows(
          docs.filter(col("doc_id") < cut && col("doc_id") % 50 === 0),
          "doc_id", "text")
        .select("x").distinct()
      curationVerdicts(
          docs.filter(col("doc_id") >= cut)
            .select(col("doc_id"), qOk.as("q_ok"), md5(col("text")).as("fp")),
          "doc_id", baseFps, nearHits, contaminatedIds(batchSh, "doc_id", evalSet))
        .orderBy("doc_id")
    }

  /** Ids whose r6-snapped share of shingles in `evalSet` (a distinct `x`
    * column) reaches [[ContamMinRatio]], tagged `cont`. One aggregate
    * counts shingles and eval hits (the left join adds no rows); an id
    * with no hit has ratio 0 and fails the filter. */
  private[graft] def contaminatedIds(sh: DataFrame, id: String,
                                     evalSet: DataFrame): DataFrame =
    sh.join(broadcast(evalSet.withColumn("hit", lit(1))), Seq("x"), "left")
      .groupBy(id)
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      .filter(graft.Tables.r6(
        col("n_overlap").cast("double") / col("n_shingles")) >= ContamMinRatio)
      .select(id).withColumn("cont", lit(true))

  /** The ONE incremental-curation verdict ([[curationIncremental]] and
    * [[graft.streaming.StreamingOps.curationVerdictBatch]]): `batch`
    * (id, q_ok, fp) left-joins `seenFps` (fp, seen), `nearHits`
    * (id, near) and `contam` (id, cont), and the first failing stage
    * names the verdict (quality → exact_dup → near_dup → contaminated →
    * keep), the full pipeline's precedence. */
  private[graft] def curationVerdicts(batch: DataFrame, id: String,
                                      seenFps: DataFrame, nearHits: DataFrame,
                                      contam: DataFrame): DataFrame =
    batch
      .join(broadcast(seenFps), Seq("fp"), "left")
      .join(nearHits, Seq(id), "left")
      .join(contam, Seq(id), "left")
      .select(col(id), col("q_ok"),
        coalesce(col("seen"), lit(false)).as("exact_dup"),
        coalesce(col("near"), lit(false)).as("near_dup"),
        coalesce(col("cont"), lit(false)).as("contaminated"))
      .select(col(id), col("q_ok"), col("exact_dup"), col("near_dup"),
        col("contaminated"),
        when(!col("q_ok"), "quality")
          .when(col("exact_dup"), "exact_dup")
          .when(col("near_dup"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .otherwise("keep").as("verdict"))

  /** L10b: deterministic fixed-size per-group sample — at most 20 docs per
    * language, chosen by md5-of-id order. The "inspect a stable handful
    * from every slice" primitive (eval panels, annotation batches,
    * debugging spot-checks): hash order makes the draw uniform-ish yet a
    * backfill re-run selects IDENTICAL rows, unlike `TABLESAMPLE`/`rand`.
    * Written as the rank-filter idiom with the rank column dropped, which
    * is exactly the shape [[graft.plans.TopKRewrite]] rewrites to the
    * native bounded-buffer top-k operator — each map task forwards ≤ 20
    * rows per language, so the shuffle carries O(groups × 20), not the
    * corpus (PipelineSpec asserts the native node planned). */
  def samplePerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
    documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .select(col("doc_id"), col("lang"))
      .orderBy("lang", "doc_id")
  }

  /** L20: global stable row index — every order numbered by
    * (o_orderdate, o_orderkey) across the WHOLE table, the "assign
    * sample ids once, stable under re-runs" step before sharding.
    * A naive `row_number() OVER (ORDER BY …)` funnels 100 TB through a
    * single task; this is the two-pass form (same pattern as
    * [[shardPackTokens]]): per-month partitions number themselves in
    * parallel, a month-count scan (tiny: one row per month) prefix-sums
    * into offsets, and index = offset + within. The oracle IS the naive
    * global window — proving the decomposition exact. */
  def rowGlobalIndex(s: SparkSession, dir: String): DataFrame = {
    val ords = orders(s, dir).select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("bucket", date_format(col("o_orderdate"), "yyyy-MM"))
    val wIn = Window.partitionBy("bucket")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val wB = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ords.groupBy("bucket").agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(sum(col("n")).over(wB), lit(0L)))
      .select(col("bucket").as("ob"), col("offset"))
    ords
      .withColumn("within", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), col("bucket") === col("ob"))
      .select(col("o_orderkey"), (col("offset") + col("within")).as("global_idx"))
      .orderBy("o_orderkey")
  }

  /** L10c: deterministic WEIGHTED sampling — each document keeps with
    * probability proportional to its length (capped at 1): u(doc) is a
    * uniform md5-derived deviate, w(doc) = min(1, n_chars/4000), keep iff
    * u < w. Pure map pass, zero shuffle; the hash-not-rand rule from
    * [[sampleStratified]] means a backfill re-selects the identical rows,
    * and the (u, w) columns ship so downstream can audit/re-threshold
    * without recomputation — the length-proportional mix pass of a
    * training-data pipeline. Both sides compare the SNAPPED u and w so
    * the boolean can't straddle a rounding edge between engines. */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    val w = least(lit(1.0), col("n_chars") / lit(4000.0))
    documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        r6(u).as("u"), r6(w).as("w"))
      .withColumn("kept", col("u") < col("w"))
      .orderBy("doc_id")
  }

  /** P12: token-budget corpus selection ([[GraftAPI.budgetSelect]]) —
    * keep the highest-quality documents until a global token budget
    * (here: half the corpus's tokens, so the query is meaningful at every
    * SF) is exhausted; the "best N tokens" selection step of a
    * pretraining-data curation run. Quality is an integer bucket key
    * (length capped at 4000 — the [[sampleWeighted]] quality proxy kept
    * integer-exact), so the ≤4001-row bucket spine is broadcast-sized and
    * the keep decision can't straddle an FP rounding edge between
    * engines. */
  def corpusBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir).select(
      col("doc_id"),
      least(lit(4000L), col("n_chars")).as("q"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    GraftAPI.budgetSelect(toks, "doc_id", "q", "n_tokens", budgetFrac = 0.5)
      .select(col("doc_id"), col("q"), col("n_tokens"))
      .orderBy("doc_id")
  }

  /** P13: deterministic train/val/test split ([[GraftAPI.splitAssign]],
    * 90/5/5 on an md5 unit deviate of doc_id — the [[sampleStratified]]
    * hash-not-rand rule: a re-run, a backfill, or a repartition never
    * moves a doc between splits, the property that keeps eval
    * decontamination valid), reported as per-split × lang doc/token
    * counts. Pure map + one agg shuffle. */
  def corpusSplitAssign(s: SparkSession, dir: String): DataFrame =
    GraftAPI.splitAssign(documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")), "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tot_tokens"),
        r6(dsum(col("n_chars")) / count(lit(1))).as("avg_chars"))
      .orderBy("split", "lang")

  /** P14: in-pass data-quality metrics via `Dataset.observe` — the
    * production observability idiom: a pipeline's quality counters
    * (row counts, null/violation tallies, value bounds) ride the SAME
    * pass as the real work instead of a second scan, collected on the
    * driver through `Observation` accumulators. At 100 TB a separate
    * metrics scan doubles the job; `observe` makes metrics free.
    *
    * Here the observed pass is a `noop`-format write (the sink every
    * metrics-only validation run uses); the returned one-row frame IS
    * the metrics record, which is what a DQ gate persists per run.
    * Metrics stick to observe's contract (deterministic aggregates, no
    * distinct), and the decimal-routed char sum keeps the record
    * byte-stable across partition orders — same discipline as
    * [[graft.Tables.dsum]]. */
  def pipelineObserve(s: SparkSession, dir: String): DataFrame =
    observeDocs(s, documents(s, dir))

  /** Observe-metrics core over any (doc_id, text) frame — split out so the
    * empty-input degenerate case is spec-testable. */
  private[graft] def observeDocs(s: SparkSession, docs: DataFrame): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    docs
      .observe(obs,
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull || length(col("text")) < 10, 1L)
          .otherwise(0L)).as("n_degenerate"),
        sum(length(col("text")).cast(org.apache.spark.sql.types.DecimalType(25, 6)))
          .as("sum_chars_dec"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    import s.implicits._
    // Null-safe extraction (ADVICE r5): on an EMPTY input sum/min/max
    // observe as null — the degenerate case a DQ record exists to report
    // must yield a row (0 docs, 0 chars, null id bounds), not an NPE.
    def asLong(k: String): Long =
      Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    def idBound(k: String): Option[Long] = Option(m(k)).map(_.asInstanceOf[Long])
    Seq((asLong("n_docs"), asLong("n_degenerate"),
         Option(m("sum_chars_dec"))
           .map(_.asInstanceOf[java.math.BigDecimal].doubleValue).getOrElse(0.0),
         idBound("min_id"), idBound("max_id")))
      .toDF("n_docs", "n_degenerate", "sum_chars", "min_id", "max_id")
  }

  /** P15: DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): per-doc
    * log-likelihood RATIO between a target-distribution unigram LM (here
    * the `lang='en'` slice standing in for the high-quality target set)
    * and the full-corpus LM — the score importance resampling draws
    * against to tilt a raw corpus toward a target domain. Add-one
    * smoothing over the corpus vocab keeps target-OOV terms finite.
    *
    * Scale shape: identical to [[graft.ops.TextOps.textLogprob]] — both
    * LMs are vocab-cardinality aggregates that BROADCAST; the token
    * stream is scored map-side and shuffles once, on doc_id, for the
    * per-doc sum. Re-runs are bit-identical (per-token ratios 6-dp-snapped
    * before the DECIMAL sum), so a resampling pass built on these weights
    * is backfill-stable. Downstream, [[corpusBudgetSelect]]-style
    * selection or [[sampleWeighted]] consumes the weights. */
  def corpusDsirWeights(s: SparkSession, dir: String): DataFrame = {
    val tok = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("w"))
    val corpusLM = tok.groupBy("w").agg(count(lit(1)).as("c_cnt"))
    val targetLM = tok.filter(col("lang") === "en")
      .groupBy("w").agg(count(lit(1)).as("t_cnt"))
    val cTot = corpusLM.agg(sum(col("c_cnt")).as("c_tot"),
      count(lit(1)).as("v"))
    val tTot = targetLM.agg(sum(col("t_cnt")).as("t_tot"))
    tok.join(broadcast(corpusLM), "w")
      .join(broadcast(targetLM), Seq("w"), "left")
      .crossJoin(broadcast(cTot)).crossJoin(broadcast(tTot))
      .select(col("doc_id"),
        r6(log((coalesce(col("t_cnt"), lit(0L)) + lit(1)).cast("double")
             / (col("t_tot") + col("v")).cast("double"))
         - log((col("c_cnt") + lit(1)).cast("double")
             / (col("c_tot") + col("v")).cast("double"))).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), r6(dsum(col("lr"))).as("dsir_logw"))
      .orderBy("doc_id")
  }

  /** K8: small-file COMPACTION — the table-maintenance pass every
    * long-lived 100 TB layout needs: streaming ingest / per-batch writes
    * fragment a table into thousands of small files, and scan cost then
    * pays per-file open + footer overheads (plus metadata pressure).
    * Compaction = read → `repartition(target)` → rewrite with
    * `maxRecordsPerFile` as the size governor. Content must be
    * BYTE-IDENTICAL before/after — that is what the oracle checks (the
    * read-back aggregate equals the source-table aggregate); the file
    * count drop is asserted in PipelineSpec (64 fragments → ≤ 4 files).
    * On a real lake this is Iceberg/Delta `rewriteDataFiles`; the
    * Spark-core mechanics are the same. */
  def sinkCompact(s: SparkSession, dir: String): DataFrame = {
    val frag = Artifacts.scratch("compact_frag", dir)
    val tidy = Artifacts.scratch("compact_tidy", dir)
    val cols = lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"))
    // deliberately fragmented layout (the "after a week of micro-batches"
    // state), then the compaction rewrite
    cols.repartition(64).write.mode("overwrite").parquet(frag)
    // coalesce, not repartition (optimization r14, guide §2.4/§2.5): a
    // compaction that only merges small files needs NO re-clustering, so
    // the keyless repartition paid a full shuffle of the table PLUS the
    // sort-before-repartition pass for nothing. coalesce folds the 64
    // fragments into 4 writers shuffle-free — the standard
    // rewriteDataFiles bin-pack shape.
    Tables.read(s, frag).coalesce(4)
      .write.mode("overwrite").option("maxRecordsPerFile", 500000)
      .parquet(tidy)
    Tables.read(s, tidy)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** P17: temperature-scaled source mixing — the multilingual-corpus
    * rebalancing rule (α-smoothed sampling, the XLM/mT5 family's
    * `p^α / Σp^α` with α = 0.5): big sources are down-weighted, rare
    * sources up-weighted, and `rep_factor` = q/p is the expected
    * duplication each source needs under the smoothed draw (> 1 ⇒
    * upsample). Complements [[corpusMixEpochs]] (fixed target shares)
    * and [[corpusSourceQuota]] (hard caps) with the smooth-exponent
    * policy.
    *
    * Scale shape: one map-side-combined groupBy(source) over the corpus;
    * everything after runs on the source-cardinality table (broadcast
    * totals, no window, no second corpus pass). Determinism: α = 0.5 is
    * applied as `sqrt` (correctly-rounded IEEE op, bit-identical in
    * DuckDB, unlike `pow`); ratios 6-dp-snap and the normalizer is a
    * [[graft.Tables.dsum]] DECIMAL sum, so the weights are
    * partition-order independent. */
  def corpusTemperatureMix(s: SparkSession, dir: String): DataFrame = {
    val src = documents(s, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = src.agg(sum(col("n_tokens")).as("nt"))
    val withP = src.crossJoin(broadcast(tot))
      .withColumn("p", r6(col("n_tokens").cast("double") / col("nt")))
      .withColumn("sq", r6(sqrt(col("p"))))
    val z = withP.agg(dsum(col("sq")).as("z"))
    withP.crossJoin(broadcast(z))
      .withColumn("q", r6(col("sq") / col("z")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("p"), col("q"),
        r6(col("q") / col("p")).as("rep_factor"))
      .orderBy("source")
  }

  /** P16: per-source QUOTA rebalancing ([[GraftAPI.sourceQuota]]) — cap
    * any single source's share of the curated corpus at 15 docs (the "no
    * domain may dominate" rule every pretrain mix applies; C4/Pile-style
    * source balancing), by md5-hash rank within the source. Output: every
    * doc with its rank + kept flag (the audit artifact; filter `kept` for
    * the corpus). */
  def corpusSourceQuota(s: SparkSession, dir: String): DataFrame =
    GraftAPI.sourceQuota(documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", quota = 15L)
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_observe"     -> pipelineObserve _,
    "corpus_dsir_weights"  -> corpusDsirWeights _,
    "sink_compact"         -> sinkCompact _,
    "corpus_source_quota"  -> corpusSourceQuota _,
    "corpus_temperature_mix" -> corpusTemperatureMix _,
    "sample_weighted"      -> sampleWeighted _,
    "sample_per_group"     -> samplePerGroup _,
    "row_global_index"     -> rowGlobalIndex _,
    "join_bloom_prefilter" -> joinBloomPrefilter _,
    "curation_pipeline"    -> curationPipeline _,
    "corpus_dedup_funnel"  -> corpusDedupFunnel _,
    "curation_pipeline_staged" -> curationPipelineStaged _,
    "curation_incremental" -> curationIncremental _,
    "shard_pack_incremental" -> shardPackIncremental _,
    "cdc_apply_changes"    -> cdcApplyChanges _,
    "cdc_diff_snapshots"   -> cdcDiffSnapshots _,
    "agg_incremental_merge" -> aggIncrementalMerge _,
    "sample_stratified"    -> sampleStratified _,
    "shard_pack_tokens"    -> shardPackTokens _,
    "shard_manifest"       -> shardManifest _,
    "docs_quality_filter"  -> docsQualityFilter _,
    "corpus_mix_epochs"    -> corpusMixEpochs _,
    "corpus_budget_select" -> corpusBudgetSelect _,
    "corpus_split_assign"  -> corpusSplitAssign _,
  )

  val oracleSql: Map[String, String] = Map(
    "corpus_temperature_mix" ->
      """WITH src AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS nt FROM src),
        |p AS (SELECT src.*, floor((n_tokens::DOUBLE / nt) * 1000000 + 0.5) / 1000000 AS p
        |  FROM src CROSS JOIN t),
        |sq AS (SELECT *, floor(sqrt(p) * 1000000 + 0.5) / 1000000 AS sq FROM p),
        |z AS (SELECT CAST(SUM(CAST(sq AS DECIMAL(25,6))) AS DOUBLE) AS z FROM sq),
        |q AS (SELECT sq.*, floor((sq / z) * 1000000 + 0.5) / 1000000 AS q
        |  FROM sq CROSS JOIN z)
        |SELECT source, n_docs, n_tokens, p, q,
        |  floor((q / p) * 1000000 + 0.5) / 1000000 AS rep_factor
        |FROM q ORDER BY source""".stripMargin,
    "corpus_source_quota" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS src_rank,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 15 AS kept
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT w, count(*) AS c_cnt FROM tok GROUP BY w),
        |t AS (SELECT w, count(*) AS t_cnt FROM tok WHERE lang = 'en' GROUP BY w),
        |ct AS (SELECT sum(c_cnt) AS c_tot, count(*) AS v FROM c),
        |tt AS (SELECT sum(t_cnt) AS t_tot FROM t),
        |sc AS (
        |  SELECT doc_id,
        |    floor((ln((COALESCE(t_cnt, 0) + 1)::DOUBLE / (t_tot + v))
        |         - ln((c_cnt + 1)::DOUBLE / (c_tot + v)))
        |      * 1000000 + 0.5) / 1000000 AS lr
        |  FROM tok JOIN c USING (w) LEFT JOIN t USING (w)
        |    CROSS JOIN ct CROSS JOIN tt)
        |SELECT doc_id, count(*) AS n_tokens,
        |  floor(CAST(SUM(CAST(lr AS DECIMAL(25,6))) AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS dsir_logw
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "sink_compact" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "pipeline_observe" ->
      """SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN text IS NULL OR length(text) < 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
        |  CAST(SUM(CAST(length(text) AS DECIMAL(25,6))) AS DOUBLE) AS sum_chars,
        |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents""".stripMargin,
    "sample_weighted" ->
      """WITH m AS (
        |  SELECT doc_id, lang, n_chars,
        |    floor((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |        AS BIGINT) AS DOUBLE) / 4294967296.0) * 1000000 + 0.5) / 1000000 AS u,
        |    floor(least(1.0, n_chars / 4000.0) * 1000000 + 0.5) / 1000000 AS w
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, u, w, u < w AS kept
        |FROM m ORDER BY doc_id""".stripMargin,
    "sample_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) q
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    // The oracle is the single-task global window the two-pass form replaces.
    "row_global_index" ->
      """SELECT o_orderkey,
        |  row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS global_idx
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // staged form produces the identical final frame — same oracle text
    "curation_pipeline_staged" -> curationOracle,
    "curation_pipeline" -> curationOracle,
    "corpus_dedup_funnel" -> funnelOracle,
    // incremental: batch (>= AppendCutoff) judged against the corpus so far
    // (< AppendCutoff = base + the appended delta, the resolver content)
    "curation_incremental" ->
      s"""WITH ${DedupOps.shinglesCte},
         |${DedupOps.bandsCte},
         |basefp AS (SELECT DISTINCT md5(text) AS fp FROM documents
         |           WHERE doc_id < ${DedupOps.AppendCutoff}),
         |idxsz AS (SELECT band, band_key, count(*) AS sz FROM bands
         |        WHERE doc_id < ${DedupOps.AppendCutoff} GROUP BY band, band_key),
         |subk AS (SELECT doc_id, ${DedupOps.subKeySql} AS sub_key FROM sig),
         |bt AS (SELECT b.doc_id, b.band, b.band_key, k.sub_key FROM bands b
         |       JOIN subk k USING (doc_id)
         |       WHERE b.doc_id >= ${DedupOps.AppendCutoff}),
         |finek AS (SELECT DISTINCT b.band, b.band_key, k.sub_key FROM bands b
         |       JOIN idxsz ON b.band = idxsz.band AND b.band_key = idxsz.band_key
         |       JOIN subk k ON b.doc_id = k.doc_id
         |       WHERE b.doc_id < ${DedupOps.AppendCutoff}
         |         AND idxsz.sz >= ${DedupOps.RebandHotSize}),
         |near AS (SELECT DISTINCT bt.doc_id FROM bt
         |           JOIN idxsz USING (band, band_key)
         |           WHERE idxsz.sz < ${DedupOps.RebandHotSize}
         |         UNION
         |         SELECT DISTINCT bt.doc_id FROM bt
         |           JOIN finek USING (band, band_key, sub_key)),
         |shr AS (SELECT doc_id, unnest(shingles) AS x FROM shf),
         |ev AS (SELECT DISTINCT x FROM shr
         |       WHERE doc_id % 50 = 0 AND doc_id < ${DedupOps.AppendCutoff}),
         |tot AS (SELECT doc_id, count(*) AS n FROM shr
         |        WHERE doc_id >= ${DedupOps.AppendCutoff} GROUP BY doc_id),
         |hit AS (SELECT doc_id, count(*) AS o FROM shr JOIN ev USING (x)
         |        WHERE doc_id >= ${DedupOps.AppendCutoff} GROUP BY doc_id),
         |cont AS (SELECT t.doc_id FROM tot t JOIN hit h USING (doc_id)
         |         WHERE floor(o::DOUBLE / n * 1000000 + 0.5) / 1000000 >= 0.3),
         |b AS (SELECT doc_id,
         |        n_chars BETWEEN 150 AND 450 AND
         |        len(string_split(text, ' '))::DOUBLE /
         |          len(list_distinct(string_split(text, ' '))) <= 2.5 AS q_ok,
         |        md5(text) AS fp
         |      FROM documents WHERE doc_id >= ${DedupOps.AppendCutoff})
         |SELECT b.doc_id, q_ok,
         |  (fp IN (SELECT fp FROM basefp)) AS exact_dup,
         |  (b.doc_id IN (SELECT doc_id FROM near)) AS near_dup,
         |  (b.doc_id IN (SELECT doc_id FROM cont)) AS contaminated,
         |  CASE WHEN NOT q_ok THEN 'quality'
         |       WHEN fp IN (SELECT fp FROM basefp) THEN 'exact_dup'
         |       WHEN b.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
         |       WHEN b.doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
         |       ELSE 'keep' END AS verdict
         |FROM b ORDER BY b.doc_id""".stripMargin,
  ) ++ oracleSqlRest

  /** Stage-count funnel over the same CTE chain as [[curationOracle]]. */
  private lazy val funnelOracle: String =
      s"""WITH RECURSIVE ${DedupOps.shinglesCte},
         |${DedupOps.bandsCte},
         |${DedupOps.pairsCte},
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(n, m) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT e.a, reach.m FROM e JOIN reach ON e.b = reach.n),
         |cluster_drops AS (
         |  SELECT n AS doc_id FROM reach GROUP BY n HAVING min(m) <> n),
         |shr AS (SELECT doc_id, unnest(shingles) AS x FROM shf),
         |ev AS (SELECT DISTINCT x FROM shr WHERE doc_id % 50 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM shr
         |        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
         |hit AS (SELECT doc_id, count(*) AS n_overlap
         |        FROM shr JOIN ev USING (x)
         |        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
         |contaminated AS (
         |  SELECT t.doc_id FROM tot t JOIN hit h ON t.doc_id = h.doc_id
         |  WHERE floor(n_overlap::DOUBLE / n_shingles * 1000000 + 0.5)
         |        / 1000000 >= 0.3),
         |q AS (
         |  SELECT doc_id, md5(text) AS fp
         |  FROM documents
         |  WHERE n_chars BETWEEN 150 AND 450
         |    AND len(string_split(text, ' '))::DOUBLE
         |        / len(list_distinct(string_split(text, ' '))) <= 2.5),
         |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY fp),
         |s3 AS (SELECT doc_id FROM ek
         |       WHERE doc_id NOT IN (SELECT doc_id FROM cluster_drops)),
         |s4 AS (SELECT doc_id FROM s3
         |       WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |counts AS (
         |  SELECT 0 AS stage, 'corpus' AS stage_name,
         |    (SELECT count(*) FROM documents) AS n_docs
         |  UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM q)
         |  UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM ek)
         |  UNION ALL SELECT 3, 'near_dup', (SELECT count(*) FROM s3)
         |  UNION ALL SELECT 4, 'decontam', (SELECT count(*) FROM s4)
         |  UNION ALL SELECT 5, 'eval_holdout',
         |    (SELECT count(*) FROM s4 WHERE doc_id % 50 <> 0))
         |SELECT stage, stage_name, n_docs,
         |  COALESCE(lag(n_docs) OVER (ORDER BY stage) - n_docs, 0) AS n_dropped
         |FROM counts ORDER BY stage""".stripMargin

  private lazy val curationOracle: String =
      s"""WITH RECURSIVE ${DedupOps.shinglesCte},
         |${DedupOps.bandsCte},
         |${DedupOps.pairsCte},
         |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach(n, m) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
         |  UNION
         |  SELECT e.a, reach.m FROM e JOIN reach ON e.b = reach.n),
         |cluster_drops AS (
         |  SELECT n AS doc_id FROM reach GROUP BY n HAVING min(m) <> n),
         |shr AS (SELECT doc_id, unnest(shingles) AS x FROM shf),
         |ev AS (SELECT DISTINCT x FROM shr WHERE doc_id % 50 = 0),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM shr
         |        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
         |hit AS (SELECT doc_id, count(*) AS n_overlap
         |        FROM shr JOIN ev USING (x)
         |        WHERE doc_id % 50 <> 0 GROUP BY doc_id),
         |contaminated AS (
         |  SELECT t.doc_id FROM tot t JOIN hit h ON t.doc_id = h.doc_id
         |  WHERE floor(n_overlap::DOUBLE / n_shingles * 1000000 + 0.5)
         |        / 1000000 >= 0.3),
         |q AS (
         |  SELECT doc_id, lang,
         |    len(string_split(text, ' '))::BIGINT AS n_tokens, md5(text) AS fp
         |  FROM documents
         |  WHERE n_chars BETWEEN 150 AND 450
         |    AND len(string_split(text, ' '))::DOUBLE
         |        / len(list_distinct(string_split(text, ' '))) <= 2.5),
         |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY fp),
         |surv AS (
         |  SELECT q.doc_id, lang, n_tokens FROM q
         |  JOIN ek ON q.doc_id = ek.doc_id
         |  WHERE q.doc_id NOT IN (SELECT doc_id FROM cluster_drops)
         |    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |    AND q.doc_id % 50 <> 0),
         |c AS (
         |  SELECT doc_id, lang, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM surv)
         |SELECT doc_id, lang, n_tokens, CAST(cum // 2000 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin

  private lazy val oracleSqlRest: Map[String, String] = Map(
    "join_bloom_prefilter" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "cdc_diff_snapshots" ->
      """WITH a AS (
        |  SELECT o_custkey AS k, COUNT(*) AS old_n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS old_rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
        |  GROUP BY 1),
        |b AS (
        |  SELECT o_custkey AS k, COUNT(*) AS new_n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS new_rev
        |  FROM orders
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1)
        |SELECT COALESCE(a.k, b.k) AS custkey,
        |  CASE WHEN a.k IS NULL THEN 'I' WHEN b.k IS NULL THEN 'D'
        |       ELSE 'U' END AS op,
        |  a.old_n AS old_n, b.new_n AS new_n,
        |  a.old_rev AS old_rev, b.new_rev AS new_rev
        |FROM a FULL JOIN b ON a.k = b.k
        |WHERE a.k IS NULL OR b.k IS NULL
        |   OR a.old_n <> b.new_n OR a.old_rev <> b.new_rev
        |ORDER BY custkey""".stripMargin,
    "agg_incremental_merge" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "cdc_apply_changes" ->
      """WITH chg AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS acctbal,
        |         1 AS seq, 'I' AS op FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 100.0, 2, 'U'
        |  FROM customer WHERE c_custkey % 10 = 3
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, 2, 'D'
        |  FROM customer WHERE c_custkey % 10 = 7
        |  UNION ALL
        |  SELECT c_custkey + 1000000, c_name, 0.0, 2, 'I'
        |  FROM customer WHERE c_custkey % 10 = 1),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |  FROM chg)
        |SELECT k AS c_custkey, name AS c_name, acctbal AS c_acctbal, op
        |FROM ranked WHERE rn = 1 AND op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |WHERE CAST('0x' || substring(md5(doc_id::VARCHAR), 1, 4) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
        |ORDER BY doc_id""".stripMargin,
    // The oracle IS the naive single-task global running sum the two-pass
    // range-bucket decomposition replaces — bucket-independent by design.
    // incremental continuation: base token total is the packing state
    "shard_pack_incremental" ->
      s"""WITH toks AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
         |  FROM documents),
         |base AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS tot
         |         FROM toks WHERE doc_id < ${DedupOps.AppendCutoff}),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM toks WHERE doc_id >= ${DedupOps.AppendCutoff})
         |SELECT doc_id, n_tokens,
         |  CAST(((SELECT tot FROM base) + cum) // 10000 AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,
    "shard_pack_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM toks)
        |SELECT doc_id, n_tokens, CAST(cum // 10000 AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "shard_manifest" ->
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |asg AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 10000
        |      AS BIGINT) AS shard
        |  FROM toks)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(SUM(a.n_tokens) AS BIGINT) AS tot_tokens,
        |  CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
        |  MIN(a.doc_id) AS min_doc, MAX(a.doc_id) AS max_doc
        |FROM asg a JOIN documents d USING (doc_id)
        |GROUP BY shard ORDER BY shard""".stripMargin,
    "docs_quality_filter" ->
      """SELECT doc_id,
        |  CASE WHEN n_chars < 150 THEN 'too_short'
        |       WHEN n_chars > 450 THEN 'too_long'
        |       WHEN len(string_split(text, ' '))::DOUBLE
        |            / len(list_distinct(string_split(text, ' '))) > 2.5
        |         THEN 'too_repetitive'
        |       ELSE 'keep' END AS reason
        |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_mix_epochs" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 2.5 WHEN 'zh' THEN 3.0
        |      WHEN 'de' THEN 1.25 WHEN 'es' THEN 1.0 WHEN 'fr' THEN 0.5
        |      END AS DOUBLE) AS factor,
        |    CAST('0x' || substring(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) / 4294967296.0 AS u
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(floor(factor) +
        |      (CASE WHEN u < factor - floor(factor) THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM f)
        |SELECT doc_id, lang, unnest(range(1, n + 1)) AS epoch
        |FROM c WHERE n >= 1
        |ORDER BY doc_id, epoch""".stripMargin,
    "corpus_budget_select" ->
      """WITH toks AS (
        |  SELECT doc_id, least(4000, n_chars) AS q,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |spine AS (
        |  SELECT q, COALESCE(SUM(SUM(n_tokens)) OVER (ORDER BY q DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM toks GROUP BY q),
        |bud AS (SELECT SUM(n_tokens) // 2 AS budget FROM toks),
        |w AS (
        |  SELECT t.doc_id, t.q, t.n_tokens, s.cum_before,
        |    COALESCE(SUM(t.n_tokens) OVER (PARTITION BY t.q ORDER BY t.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS within
        |  FROM toks t JOIN spine s USING (q))
        |SELECT doc_id, CAST(q AS BIGINT) AS q, n_tokens
        |FROM w CROSS JOIN bud
        |WHERE cum_before + within + n_tokens <= budget
        |ORDER BY doc_id""".stripMargin,
    "corpus_split_assign" ->
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'val'
        |    ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |  floor((CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
        |    * 1000000 + 0.5) / 1000000 AS avg_chars
        |FROM d GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
  )
}
