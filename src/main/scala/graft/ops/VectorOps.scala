package graft.ops

import graft.Tables
import graft.Tables._
import graft.api.GraftAPI
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over `embeddings` (SURVEY.md §2.12 L3/L4): brute-force
  * cosine top-k as the correctness baseline, an IVF-style cell-pruned
  * variant as the scale path, and a bounded near-duplicate join.
  *
  * All vector math is built-in higher-order functions (`zip_with` +
  * `aggregate`) over the float array cast to double — fully codegen'd, no
  * UDF, no linear-algebra dependency. Float→double widening is exact and
  * both engines then fold left-to-right in IEEE doubles, so scores are
  * bit-identical to the DuckDB oracle before the defensive round(…, 6).
  *
  * Scale shape:
  *  - brute-force kNN is a map-side scan + `TakeOrderedAndProject` (each
  *    partition keeps its local top-k; only k×P candidate rows move);
  *  - the IVF variant prunes to one cell BEFORE scoring — the cell id is a
  *    cheap sign-bit signature, the physical analogue of a centroid
  *    assignment, and at 100 TB the table would be written partitioned by
  *    cell so probe queries touch one partition;
  *  - the near-dup join buckets by `label` (stand-in for a coarse cluster
  *    id), so pair blowup is bounded per bucket, never global n².
  */
object VectorOps {

  /** Double-cast view of the embedding column. */
  private def asD(c: Column): Column = c.cast("array<double>")

  /** IEEE-double dot product — the custom codegen'd
    * [[graft.functions.DotProduct]] expression (same left-to-right fold as
    * the HOF form it replaces, ~7× faster on wide pair joins). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.graftDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Half-up 6-dp cosine ([[graft.Tables.r6]]) — defensive symmetry with
    * the oracle, identical formula both engines. */
  private[graft] def cosine(a: Column, b: Column): Column =
    r6(dot(a, b) / (norm(a) * norm(b)))

  /** 4-bit IVF cell id: sign bits of dims 1–4. A real IVF would k-means
    * its centroids; the sign-grid keeps the partition-pruning physics while
    * staying deterministic enough for a SQL oracle. */
  private def cellOf(e: Column): Column =
    (1 to 4).map(j => when(element_at(e, j) > 0f, lit(1 << (j - 1))).otherwise(lit(0)))
      .reduce(_ + _)

  private val K = 10

  /** L3 baseline: brute-force cosine top-k against the vec_id=0 query
    * vector. Plans as scan → map-side score → TakeOrderedAndProject. */
  def knnCosine(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(asD(col("embedding")).as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** L3 scale path: IVF-style probe — score ONLY the query's cell. The
    * pruning is the point: the scored row count drops by the cell fan-out
    * (16× here) before any arithmetic runs. */
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .withColumn("cell", cellOf(col("embedding")))
    val q = e.filter(col("vec_id") === 0)
      .select(asD(col("embedding")).as("qv"), col("cell").as("qcell"))
    e.join(broadcast(q), col("cell") === col("qcell"))
      .select(col("vec_id"), col("cell"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** L3c: multi-probe IVF — probe the query cell plus its 4 Hamming-1
    * neighbours (the standard recall fix for boundary vectors: a vector
    * whose dim-j sign is near zero sits on a cell edge). 5/16 of the
    * table is scored instead of 1/16, still a 3× prune. */
  def knnIvfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
      .withColumn("cell", cellOf(col("embedding")))
    val probes = (0 to 4).map { j =>
      if (j == 0) col("qcell0") else expr(s"int(qcell0 ^ ${1 << (j - 1)})")
    }
    val q = e.filter(col("vec_id") === 0)
      .select(asD(col("embedding")).as("qv"), col("cell").as("qcell0"))
      .select(col("qv"), explode(array(probes: _*)).as("qcell"))
    e.join(broadcast(q), col("cell") === col("qcell"))
      .select(col("vec_id"), col("cell"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** Number of k-means cells — matches the sign-grid's 16 so the recall
    * comparison runs at EQUAL probe count (1 cell of 16 either way). */
  private val KmeansCells = 16

  /** Broadcast-argmin assignment of (key…, vec_id, x) rows against
    * (key…, cid, cv) centroids, within each `key` group (no key: every
    * centroid): (key…, vec_id, cell, carry…). Map-side scoring against
    * the broadcast centroid table; the per-vector min is a partial-agg'd
    * struct (distance, cid), so ties break on cid. `carry` columns are
    * functions of the vector and ride the grouping key through
    * unchanged, so a caller needs no join back. */
  private def argmin(e: DataFrame, cents: DataFrame, key: Seq[String],
                     carry: Seq[String]): DataFrame =
    (if (key.isEmpty) e.crossJoin(broadcast(cents)) else e.join(broadcast(cents), key))
      .groupBy((key ++ ("vec_id" +: carry)).map(col): _*)
      .agg(min(struct(sqDist(col("x"), col("cv")).as("d"), col("cid"))).as("mm"))
      .select(key.map(col) ++ Seq(col("vec_id"), col("mm.cid").as("cell")) ++ carry.map(col): _*)

  /** The ONE Lloyd loop: `iters` rounds from the `init` (key…, cid, cv)
    * seeds, one independent k-means per `key` group, every group trained
    * in the SAME Spark jobs. Each round is the [[argmin]] (map-side; the
    * only shuffle is the fixed-width (key, cid, dim, partial-sum) reduce,
    * exactly the [[embedCentroids]] shape) plus the long-form mean →
    * array rebuild. Determinism for the oracle: distances are
    * 6-dp-snapped with a cid tie-break, and centroid elements 6-dp-snap
    * BEFORE the decimal sum ([[graft.Tables.dsum]] rule), so re-runs on
    * any partitioning byte-match and the DuckDB chains mirror each
    * group slot for slot. */
  private def lloyd(e: DataFrame, init: DataFrame, key: Seq[String],
                    iters: Int): DataFrame = {
    val k = key.map(col)
    (1 to iters).foldLeft(init) { (cents, _) =>
      argmin(e, cents, key, Nil)
        .join(e, key :+ "vec_id")
        .select(k ++ Seq(col("cell").as("cid"), posexplode(col("x"))): _*)
        .select(k ++ Seq(col("cid"), col("pos").cast("long").as("dim"),
          r6(col("col")).as("v")): _*)
        .groupBy(k ++ Seq(col("cid"), col("dim")): _*)
        .agg(count(lit(1)).as("n"), dsum(col("v")).as("sv"))
        .select(k ++ Seq(col("cid"), col("dim"), r6(col("sv") / col("n")).as("c")): _*)
        .groupBy(k :+ col("cid"): _*)
        .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("p"))
        .select(k ++ Seq(col("cid"), transform(col("p"), x => x.getField("c")).as("cv")): _*)
    }
  }

  /** (cid, cv) centroid table for IVF: [[lloyd]] seeded with the `k`
    * lowest-id vectors (TakeOrdered — distributed, bounded; works for
    * sparse id spaces too; cid = the seed's own id: stable,
    * deterministic tie-break, no dense-0..k assumption). At 100 TB this
    * table is an INDEX ARTIFACT: train on a sample, persist, and every
    * probe reads the stored centroids — the in-plan recompute here is
    * the demo form. */
  private[graft] def kmeansCentroids(e: DataFrame, iters: Int,
                                     k: Int = KmeansCells): DataFrame =
    lloyd(e, e.orderBy("vec_id").limit(k).select(col("vec_id").as("cid"), col("x").as("cv")),
      Nil, iters)

  /** Squared L2 distance via three codegen'd dot products, 6-dp-snapped
    * so argmin ties resolve identically in both engines. */
  private def sqDist(x: Column, cv: Column): Column =
    r6(dot(x, x) - lit(2) * dot(x, cv) + dot(cv, cv))

  /** Cell assignment against (cid, cv) centroids: (vec_id, cell, carry…). */
  private[graft] def assignCells(e: DataFrame, cents: DataFrame,
                                 carry: Seq[String] = Nil): DataFrame =
    argmin(e, cents, Nil, carry)

  /** LONG-FORM multi-subspace Lloyd training (VERDICT r6 #1): the input is
    * ONE frame (m, vec_id, x) holding every subspace's subvectors with the
    * subspace index `m` as the [[lloyd]] key — so training 8 PQ
    * codebooks costs the SAME number of Spark jobs as training one, with
    * byte-for-byte the per-subspace result the DuckDB oracle chains
    * compute. Seeds are the k lowest vec_ids, found once: every vec_id
    * carries all subspaces. Returns (m, cid, cv). */
  private[graft] def kmeansCentroidsLong(emLong: DataFrame, iters: Int,
                                         k: Int = KmeansCells): DataFrame = {
    val seedIds = emLong.filter(col("m") === 0)
      .orderBy("vec_id").limit(k).select("vec_id")
    lloyd(emLong, emLong.join(broadcast(seedIds), "vec_id")
      .select(col("m"), col("vec_id").as("cid"), col("x").as("cv")), Seq("m"), iters)
  }

  /** Long-form assignment against (m, cid, cv) codebooks:
    * (m, vec_id, cell, carry…) — all subspaces in one broadcast join + one
    * agg. */
  private[graft] def assignCellsLong(emLong: DataFrame, cents: DataFrame,
                                     carry: Seq[String] = Nil): DataFrame =
    argmin(emLong, cents, Seq("m"), carry)

  /** A vector column cut into its `m` subvectors of width `sub`, one
    * (pos, col) row each: the long form every PQ stage trains and
    * encodes over. */
  private def subspaces(v: Column, m: Int, sub: Int): Column =
    posexplode(array((0 until m).map(i => slice(v, i * sub + 1, sub)): _*))

  /** (vec_id, coarse, m, x): the residual of each vector of `asg`
    * (vec_id, cell, x) against its cell's centroid, r6-snapped and cut
    * into subspaces. The centroid is a broadcast lookup. */
  private def residualLong(asg: DataFrame, coarse: DataFrame, m: Int, sub: Int): DataFrame =
    asg.join(broadcast(coarse), col("cell") === col("cid"))
      .select(col("vec_id"), col("cell").as("coarse"),
        subspaces(zip_with(col("x"), col("cv"), (a, b) => r6(a - b)), m, sub))
      .select(col("vec_id"), col("coarse"), col("pos").cast("int").as("m"),
        col("col").as("x"))

  /** (vec_id, m, code, cell): the residual long form argmin-encoded
    * against (m, cid, cv) codebooks; the coarse cell rides the argmin's
    * grouping key, so nothing joins back. */
  private def residualCodes(rem: DataFrame, codebooks: DataFrame): DataFrame =
    assignCellsLong(rem, codebooks, carry = Seq("coarse"))
      .select(col("vec_id"), col("m"), col("cell").as("code"), col("coarse").as("cell"))

  /** The ONE PQ training recipe, over a (vec_id, x) frame of uniform width
    * `m`·`sub`. Seeds, Lloyd and argmin are the 6-dp-snapped long-form
    * ones above, so every trainer writes what the oracle's
    * `sqlKmeansChain` mirrors. Each stage goes through `keep(name,
    * frame)`, which returns the frame downstream stages read: the
    * index build ([[IvfPqIndex]]) writes the table `name` names and reads
    * it back, the facade encoders pin the frame in memory. Stages:
    * `pq_long` (the subvectors) and `pq_codebooks`. Returns the
    * (vec_id, m, code) codes. */
  private[graft] def trainPq(e: DataFrame, m: Int, sub: Int, k: Int, iters: Int,
                             keep: (String, DataFrame) => DataFrame): DataFrame = {
    val long = keep("pq_long", e.select(col("vec_id"), subspaces(col("x"), m, sub))
      .select(col("vec_id"), col("pos").cast("int").as("m"), col("col").as("x")))
    assignCellsLong(long, keep("pq_codebooks", kmeansCentroidsLong(long, iters, k)))
      .select(col("vec_id"), col("m"), col("cell").as("code"))
  }

  /** The ONE IVF + residual-PQ training recipe ([[trainPq]]'s contract):
    * coarse Lloyd over `cells` seeds, the coarse argmin, the residual
    * long form, long-form Lloyd over the residuals and their argmin.
    * Stages: `coarse`, `cells`, `ivfpq_long` and `ivfpq_codebooks`.
    * Returns the (vec_id, m, code, cell) codes. */
  private[graft] def trainIvfPq(e: DataFrame, cells: Int, m: Int, sub: Int, k: Int,
                                iters: Int,
                                keep: (String, DataFrame) => DataFrame): DataFrame = {
    val coarse = keep("coarse", kmeansCentroids(e, iters, cells))
    val asg = keep("cells", assignCells(e, coarse))
    val rem = keep("ivfpq_long", residualLong(e.join(asg, "vec_id"), coarse, m, sub))
    residualCodes(rem, keep("ivfpq_codebooks",
      kmeansCentroidsLong(rem.select("m", "vec_id", "x"), iters, k)))
  }

  /** (vec_id, carry…, code): long-form (vec_id, m, code) rows folded to
    * one m-ordered code array per vector. */
  private[graft] def codeArrays(codes: DataFrame, carry: String*): DataFrame =
    codes.groupBy(("vec_id" +: carry).map(col): _*)
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("p"))
      .select(Seq(col("vec_id")) ++ carry.map(col) :+
        transform(col("p"), x => x.getField("code")).as("code"): _*)

  /** GROUPED Lloyd training over (g, vec_id, x) — here g = a hot coarse
    * cell: rows belong to ONE group each, so the seeds are the per-group
    * k lowest vec_ids (a row_number window partitioned by g — the sort
    * is per-hot-cell, and a split job re-encodes those cells wholesale
    * anyway). Returns (g, cid, cv). */
  private[graft] def kmeansCentroidsGrouped(ge: DataFrame, iters: Int,
                                            k: Int): DataFrame = {
    val w = Window.partitionBy("g").orderBy("vec_id")
    lloyd(ge, ge.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("g"), col("vec_id").as("cid"), col("x").as("cv")), Seq("g"), iters)
  }

  /** Grouped assignment against (g, cid, cv) sub-centroids:
    * (g, vec_id, cid). */
  private[graft] def assignCellsGrouped(ge: DataFrame, cents: DataFrame): DataFrame =
    argmin(ge, cents, Seq("g"), Nil).withColumnRenamed("cell", "cid")

  /** L3f: IVF probe over LEARNED centroids (VERDICT r5 #3) — the same
    * one-cell prune as [[knnIvf]] but with 2-Lloyd-iteration k-means
    * cells instead of the sign grid, so cell boundaries follow the data
    * distribution and recall-per-probe improves (measured by
    * [[knnRecallKmeans]] vs [[knnRecall]] at equal probe count). The
    * sign-grid variant stays as the centroid-free fallback. */
  def knnIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    // PROBE-only since r8: the 2-Lloyd training + assignment live in the
    // persisted index artifact ([[IvfPqIndex]]) — a probe reads the stored
    // (vec_id, cell) table, exactly like a production query against a
    // trained index. The oracle still mirrors the full deterministic
    // build+probe chain (stored values == in-plan values by construction).
    val ix = IvfPqIndex.ensure(s, dir)
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("x"))
    val cells = Tables.read(s, ix.cells)
    val ex = e.join(cells, "vec_id")
    val q = ex.filter(col("vec_id") === 0)
      .select(col("x").as("qv"), col("cell").as("qcell"))
    ex.join(broadcast(q), col("cell") === col("qcell"))
      .select(col("vec_id"), col("cell"), cosine(col("x"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** PQ geometry: 8 subspaces × 8 dims over the 64-dim embeddings, 16
    * centroids each → a 4-bit code per subspace, 4 bytes per vector
    * (64× compression). */
  private[graft] val PqM = 8
  private[graft] val PqSub = 8

  /** L3g: product quantization with asymmetric-distance scoring (the
    * IVF's natural partner at corpus scale — Jégou et al.'s PQ): each
    * 8-dim subvector is Lloyd-trained and assigned independently, so a
    * vector compresses to 8 small cell ids, and a query scores the WHOLE
    * corpus from a broadcast lookup table of query-to-centroid
    * distances — no float vectors touched at scan time. ADC distance =
    * Σ_m d(q_m, centroid(code_m)); top-K by that estimate, vec_id
    * tie-break (identical codes share a distance). At 100 TB the code
    * table is 4 bytes/vector + the tiny codebook: the scan that serves
    * ANN probes never reads the embedding column at all. Every stage is
    * 6-dp-snapped, so the full train→encode→score path hash-matches the
    * DuckDB mirror.
    *
    * Execution structure (VERDICT r6 #1): ALL 8 codebooks train in ONE
    * long-form frame keyed by the subspace column `m`
    * ([[kmeansCentroidsLong]]) — exactly TWO driver actions total (one
    * eager codebook materialization + the final query), where the r6
    * per-subspace form ran ≥ 16 sequential actions (8 trainings + 8
    * cache counts) and was scheduler-bound with 4× run-to-run variance.
    * The ADC sum routes through [[graft.Tables.dsum]] (DECIMAL over the
    * 6-dp-snapped per-subspace distances) so the long-form groupBy is
    * partition-order independent; the oracle mirrors with the same
    * decimal addition. */
  def knnPq(s: SparkSession, dir: String): DataFrame = {
    val (e, scored) = pqProbe(s, dir)
    // Production read path: the 4-byte codes produce an ADC SHORTLIST
    // (PqShortlist ≫ K — only these rows' float vectors are ever
    // fetched), then exact L2 reranks the shortlist to the final top-K.
    // Recall of the answer = recall of the shortlist, which is the knob
    // the shortlist size buys.
    val shortlist = scored.filter(col("vec_id") =!= 0)
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(PqShortlist)
    val q = e.filter(col("vec_id") === 0).select(col("x").as("qv"))
    e.join(shortlist.select("vec_id", "adc"), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("adc"),
        sqDist(col("x"), col("qv")).as("sd"))
      .orderBy(col("sd").asc, col("vec_id").asc)
      .limit(K)
  }

  /** Shared PQ ADC-scoring PROBE for [[knnPq]] and [[knnRecallPq]]
    * (r8 factoring, VERDICT r7 #1): codebooks and codes come from the
    * persisted index ([[IvfPqIndex]]) — no training runs in the query.
    * Returns (e, scored) where e = (vec_id, label, x) and scored =
    * (vec_id, adc) against the vec_id=0 query. The probe's work is: one
    * 8-row query slice, one broadcast 128-row distance table, one scan of
    * the 4-byte code table into a vec_id hash-agg. */
  private def pqProbe(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ix = IvfPqIndex.ensure(s, dir)
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("x"))
    // query subvectors (m, qv) — 8 rows, from the raw table
    val qm = e.filter(col("vec_id") === 0)
      .select(subspaces(col("x"), PqM, PqSub))
      .select(col("pos").cast("int").as("m"), col("col").as("qv"))
    // query→centroid distance table: (m, code, d), 8×16 rows, broadcast
    val dt = Tables.read(s, ix.pqCodebooks).join(broadcast(qm), "m")
      .select(col("m"), col("cid").as("code"), sqDist(col("qv"), col("cv")).as("d"))
    val scored = Tables.read(s, ix.pqCodes)
      .join(broadcast(dt), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(r6(dsum(col("d"))).as("adc"))
    (e, scored)
  }

  /** ADC shortlist size before the exact rerank (10% of the sf0.01
    * corpus; at scale this is the "candidates fetched" budget). */
  private val PqShortlist = 50

  /** Shortlist sizes swept by [[knnRecallPq]]. */
  private val PqRecallShortlists = Seq(20, 50)

  /** L5d: recall harness for the PQ read path (VERDICT r6 #10 / #8): for
    * each ADC-shortlist size, recall@10 of the shortlist-then-exact-rerank
    * answer against the true exact top-10 — the oracle-visible contract
    * of the shortlist knob ([[PqShortlist]]): a bigger shortlist buys
    * recall with more float fetches. Protocol mirrors [[knnRecall]]
    * (one query, exact vs approx top-K, semi-join hit count); the swept
    * candidate set is computed ONCE at the largest size and re-cut by
    * rank, so the sweep costs one ADC pass regardless of how many
    * operating points it reports. */
  def knnRecallPq(s: SparkSession, dir: String): DataFrame = {
    val (e, scored) = pqProbe(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("x").as("qv"))
    // Top-maxS candidates by ADC, ranked — tiny (≤ 50 rows), eagerly
    // cached: each swept size consumes it for the rerank.
    val wr = Window.orderBy(col("adc").asc, col("vec_id").asc)
    val cand = CacheLifecycle.pinEager(scored.filter(col("vec_id") =!= 0)
      .orderBy(col("adc").asc, col("vec_id").asc).limit(PqRecallShortlists.max)
      .withColumn("r", row_number().over(wr)))
    // Exact top-10 (brute force, one corpus pass) — K rows, cached once.
    val exact10 = CacheLifecycle.pinEager(e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), sqDist(col("x"), col("qv")).as("sd"))
      .orderBy(col("sd").asc, col("vec_id").asc).limit(K)
      .select("vec_id"))
    PqRecallShortlists.map { sz =>
      val top10 = cand.filter(col("r") <= sz)
        .join(e, "vec_id").crossJoin(broadcast(q))
        .select(col("vec_id"), sqDist(col("x"), col("qv")).as("sd"))
        .orderBy(col("sd").asc, col("vec_id").asc).limit(K)
      top10.join(exact10, Seq("vec_id"), "leftsemi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(sz).as("shortlist"), col("n_hit"),
          r6(col("n_hit").cast("double") / lit(K)).as("recall"))
    }.reduce(_.unionAll(_)).orderBy("shortlist")
  }

  /** L3h: IVF + residual PQ (the full FAISS-IVFADC composition — Jégou
    * et al. §IV): a learned coarse quantizer prunes the corpus to the
    * query's cell, and PQ codebooks trained on RESIDUALS (x − coarse
    * centroid) score the survivors by ADC — residual magnitudes are far
    * smaller than raw vectors, so the same 4-byte code budget quantizes
    * much finer than [[knnPq]]'s raw-vector PQ. At 100 TB this is THE
    * production ANN layout: corpus partitioned by coarse cell, 4-byte
    * residual codes per vector, probes read one cell's codes + one
    * broadcast distance table and touch float vectors only for the
    * shortlist rerank.
    *
    * PROBE-only since r8 (VERDICT r7 #1): the coarse training, residual
    * computation, codebook training and corpus encoding all live in the
    * persisted index ([[IvfPqIndex]]); the query reads the stored coarse
    * centroids + codebooks (broadcast) and ONE cell's code partition
    * (hive partition pruning on `pcell`), then fetches floats only for
    * the shortlist rerank. Every stored stage 6-dp-snaps, so the whole
    * coarse→residual→train→encode→score→rerank chain still hash-matches
    * the DuckDB mirror, which reproduces the build deterministically. */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    ivfPqProbe(s, dir, ix, Tables.read(s, ix.ivfCodes))
  }

  /** L3h-delta (r13, VERDICT r12 #1's ANN consumer): the IVFADC probe of
    * the BASE-FAMILY index over base codes ∪ the ensured delta
    * ([[IvfPqIndex.resolvedCodes]]), so the held-out `vec_id % 10 == 7`
    * batch that `ann_index_append` encodes is FINDABLE: an appended
    * vector near the query ranks in the shortlist and the top-k, without
    * waiting for a compact (and byte-identically after one — VectorSpec
    * pins both). The oracle reproduces the base-subset training and the
    * full-corpus encode deterministically. */
  def knnIvfPqDelta(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensureBase(s, dir)
    ivfPqProbe(s, dir, ix, IvfPqIndex.resolvedCodes(s, dir, ix))
  }

  /** The IVFADC probe of vec 0 against index `ix`, scoring `codes`
    * (vec_id, m, code, pcell; every branch hive-partitioned by `pcell`):
    * the query's stored cell, one broadcast ADC distance table from the
    * stored codebooks, the cell's code partition pruned out of each
    * branch, floats only for the shortlist rerank. */
  private def ivfPqProbe(s: SparkSession, dir: String, ix: IvfPqIndex.Ix,
                         codes: DataFrame): DataFrame = {
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("x"))
    val coarse = Tables.read(s, ix.coarse)
    // Probe cell = the query's own stored coarse assignment.
    val qcell = Tables.read(s, ix.cells).filter(col("vec_id") === 0)
      .select(col("cell").as("qcell"))
    // Query residual against its probe cell's centroid, sliced into the
    // long PQ form → the broadcast ADC distance table (8×16 rows).
    val qm = e.filter(col("vec_id") === 0).crossJoin(broadcast(qcell))
      .join(broadcast(coarse), col("qcell") === col("cid"))
      .select(zip_with(col("x"), col("cv"), (a, b) => r6(a - b)).as("rq"))
      .select(subspaces(col("rq"), PqM, PqSub))
      .select(col("pos").cast("int").as("m"), col("col").as("qv"))
    val dt = Tables.read(s, ix.ivfCodebooks).join(broadcast(qm), "m")
      .select(col("m"), col("cid").as("code"), sqDist(col("qv"), col("cv")).as("d"))
    // One cell's codes: the join on the hive-partition column `pcell`
    // against the broadcast 1-row probe prunes every other cell directory
    // (dynamic partition pruning — the inverted-list fetch).
    val scored = codes
      .join(broadcast(qcell), col("pcell") === col("qcell"))
      .filter(col("vec_id") =!= 0)
      .join(broadcast(dt), Seq("m", "code"))
      .groupBy("vec_id")
      .agg(r6(dsum(col("d"))).as("adc"))
    // ADC shortlist → exact rerank on the ORIGINAL vectors (same read
    // path as knnPq: floats fetched only for the shortlist).
    val q = e.filter(col("vec_id") === 0).select(col("x").as("qv"))
    e.join(scored.orderBy(col("adc").asc, col("vec_id").asc).limit(PqShortlist),
        "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"), col("adc"),
        sqDist(col("x"), col("qv")).as("sd"))
      .orderBy(col("sd").asc, col("vec_id").asc)
      .limit(K)
  }

  /** Probe counts swept by [[knnRecallIvfPq]]. */
  private val IvfPqProbes = Seq(1, 2)

  /** L5e: multiprobe recall harness for the IVF+PQ read path — recall@10
    * of the shortlist+rerank answer at nprobe = 1 and 2. This exercises
    * the REAL IVFADC multiprobe mechanics: the ADC base differs per
    * probed cell (query residual = q − centroid(c)), so each probe
    * carries its own broadcast distance table, and a candidate vector is
    * scored against ITS OWN cell's table. Encoding happens once across
    * all probed cells; the sweep re-cuts one scored frame by probe rank,
    * so extra operating points cost no extra corpus passes. The
    * recall-vs-probes curve is the IVF knob's oracle-visible contract
    * (more probes ⇒ recall monotonically non-decreasing — spec-pinned). */
  def knnRecallIvfPq(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    val e = embeddings(s, dir)
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("x"))
    val coarse = Tables.read(s, ix.coarse)
    val q = e.filter(col("vec_id") === 0).select(col("x").as("qx"))
    // Probe ranking: nearest coarse centroids to the RAW query vector.
    // Tiny (IvfPqProbes.max rows incl. centroid payload) but its lineage
    // is the coarse training — pin it once for the consumers below.
    val wp = Window.orderBy(col("pd").asc, col("cid").asc)
    val probes = CacheLifecycle.pinEager(coarse.crossJoin(broadcast(q))
      .select(col("cid"), col("cv"), col("qx"),
        sqDist(col("qx"), col("cv")).as("pd"))
      .orderBy(col("pd").asc, col("cid").asc).limit(IvfPqProbes.max)
      .withColumn("np", row_number().over(wp).cast("int")))
    // Per-probe query residual, sliced into the long PQ form, then the
    // per-probe distance tables: (pcell, m, code, d) — 2×8×16 rows.
    val qrLong = probes
      .select(col("np"), col("cid").as("pcell"),
        zip_with(col("qx"), col("cv"), (a, b) => r6(a - b)).as("rq"))
      .select(col("pcell"), subspaces(col("rq"), PqM, PqSub))
      .select(col("pcell"), col("pos").cast("int").as("m"), col("col").as("qv"))
    val dt = Tables.read(s, ix.ivfCodebooks).join(broadcast(qrLong), "m")
      .select(col("pcell").as("dtcell"), col("m"), col("cid").as("code"),
        sqDist(col("qv"), col("cv")).as("d"))
    // Candidates: STORED codes of the probed cells (np tags ride the
    // broadcast probe list; the join on the hive-partition column `pcell`
    // prunes every unprobed cell directory), each scored against the
    // distance table of its OWN cell.
    val scored = CacheLifecycle.pinEager(Tables.read(s, ix.ivfCodes)
      .join(broadcast(probes.select(col("cid").as("pcell"), col("np"))), "pcell")
      .filter(col("vec_id") =!= 0)
      .join(broadcast(dt), Seq("m", "code"))
      .filter(col("dtcell") === col("cell"))
      .groupBy("vec_id", "np")
      .agg(r6(dsum(col("d"))).as("adc")))
    val exact10 = CacheLifecycle.pinEager(e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), sqDist(col("x"), col("qx")).as("sd"))
      .orderBy(col("sd").asc, col("vec_id").asc).limit(K)
      .select("vec_id"))
    // Per-CELL shortlist budget (review r7): each probed cell contributes
    // its own top-[[PqShortlist]] by ADC, so the nprobe=k candidate set
    // is a SUPERSET of nprobe=k−1's by construction — which makes
    // recall monotone in nprobe a theorem, not a fixture accident: any
    // candidate that displaces a true-top-10 member from the reranked
    // top-10 must have smaller exact distance, hence be a true-top-10
    // member itself. (A shared budget cut across cells loses this:
    // probe-2 candidates can evict probe-1 hits from the shortlist
    // before the rerank sees them.) This is also the FAISS scan-budget
    // shape — fetch work grows linearly with nprobe. The tagged UNION
    // keeps the float-fetching rerank and hit count to ONE pass however
    // many probe counts are swept.
    val wCell = Window.partitionBy("np")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val ranked = scored.withColumn("r", row_number().over(wCell))
      .filter(col("r") <= PqShortlist)
    val cand = IvfPqProbes.map { np =>
      ranked.filter(col("np") <= np).select(col("vec_id"), lit(np).as("nprobe"))
    }.reduce(_.unionAll(_))
    val wnp = Window.partitionBy("nprobe")
      .orderBy(col("sd").asc, col("vec_id").asc)
    val top10 = cand.join(e, "vec_id").crossJoin(broadcast(q))
      .select(col("nprobe"), col("vec_id"), sqDist(col("x"), col("qx")).as("sd"))
      .withColumn("rn", row_number().over(wnp))
      .filter(col("rn") <= K)
    val hits = top10.join(exact10, Seq("vec_id"), "leftsemi")
      .groupBy("nprobe").agg(count(lit(1)).as("n_hit"))
    // literal probe spine so an all-miss probe count still reports 0
    val sq = s; import sq.implicits._
    IvfPqProbes.toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        r6(coalesce(col("n_hit"), lit(0L)).cast("double") / lit(K)).as("recall"))
      .orderBy("nprobe")
  }

  /** Corpus-SCALED sign-bit bucket id (VERDICT r7 #1/#2): B = |{j : n >
    * cut(j)}| sign bits, i.e. the bucket count GROWS with the corpus so the
    * candidate-pair volume Σ|bucket|² stays ~linear in n instead of
    * collapsing to all-pairs-over-a-constant. Two scaling rules are used:
    *  - constant expected bucket size T: cut(j) = T·2^(j-1) (least B with
    *    2^B ≥ n/T) — near-dup candidate generation;
    *  - SemDeDup's k ≈ √n: cut(j) = 4^(j-1) (least B with 4^B ≥ n, so
    *    2^B ∈ [√n, 2√n)) — semantic dedup cells.
    * The threshold-count form is INTEGER-only: Spark and the DuckDB oracle
    * compute the identical B with no float-log2 boundary cases, and the
    * count rides the plan as a broadcast 1-row frame (no driver action).
    * At 100 TB the same rule sizes a LEARNED quantizer (kmeansAssign with
    * k = n/T cells, GraftAPI.kmeansAssign); the sign grid keeps the
    * registry op oracle-reproducible. Bit j is dim j's sign, and the
    * synthetic embeddings' dims are sign-balanced, so buckets stay near
    * the target size (measured: 4× corpus → 3.9× pairs at T=16). */
  private[graft] val MaxScaledBits = 30

  private[graft] def scaledCells(e: DataFrame, cut: Int => Long,
                                 vec: String = "embedding"): DataFrame = {
    val nB = e.agg(count(lit(1)).as("n"))
      .select((1 to MaxScaledBits).map(j =>
        when(col("n") > cut(j), 1).otherwise(0)).reduce(_ + _).as("nbits"))
    e.crossJoin(broadcast(nB))
      .withColumn("cell",
        (1 to MaxScaledBits).map(j =>
          when(lit(j) <= col("nbits") && element_at(col(vec), j) > 0f,
            lit(1L << (j - 1))).otherwise(lit(0L))).reduce(_ + _))
      .drop("nbits")
  }

  /** Constant-bucket rule: expected ~16 vectors per bucket. */
  private[graft] def neardupCells(e: DataFrame): DataFrame =
    scaledCells(e, j => 16L * (1L << (j - 1)))

  /** L4: embedding near-dup — each vector's nearest CANDIDATE neighbour,
    * flagged at cosine ≥ 0.35. Candidates are bucket-local (corpus-scaled
    * sign-bit buckets, [[scaledCells]] at target size 16), so pair volume
    * grows ~linearly in n — the same bucket-not-all-pairs physics as the
    * MinHash banding path, but in embedding space (r7 fix: the old
    * same-LABEL join was Θ(Σ per-label n²) — all-pairs over a constant
    * divisor at corpus scale). Vectors alone in their bucket surface with
    * a NULL neighbour and is_dup=false — at near-dup recall what matters
    * is that TRUE duplicates (cos→1) share every sign bit and always
    * co-bucket. Window top-1 per vector, ties broken on neighbour id so
    * the result is deterministic. */
  def embedNeardup(s: SparkSession, dir: String): DataFrame = {
    val e = neardupCells(embeddings(s, dir))
    val pairs = e.as("a")
      .join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn_id"),
        cosine(asD(col("a.embedding")), asD(col("b.embedding"))).as("cos"))
    val w = Window.partitionBy("vec_id").orderBy(col("cos").desc, col("nn_id").asc)
    val nn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nn_id"), col("cos"))
    e.select(col("vec_id"), col("label"))
      .join(nn, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("nn_id"), col("cos"),
        coalesce(col("cos") >= 0.35, lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** Vector hygiene: L2 norm + normalized-first-component check — the
    * pre-index normalization pass (and a norm-distribution sanity probe)
    * every embedding pipeline runs before similarity search. Binds
    * [[GraftAPI.l2Normalize]], so a zero vector passes through (l2_norm
    * 0, e1_normed 0) where the oracle divides by the zero norm; the
    * fixtures hold no zero vector. */
  def embedNormalize(s: SparkSession, dir: String): DataFrame =
    GraftAPI.l2Normalize(embeddings(s, dir).select("vec_id", "label", "embedding"), "embedding")
      .select(col("vec_id"), col("label"), r6(col("l2_norm")).as("l2_norm"),
        r6(element_at(col("embedding"), 1)).as("e1_normed"))
      .orderBy("vec_id")

  /** Int8 scalar quantization — the 4× storage-compression pass an
    * embedding store runs before indexing 100 TB of vectors: per-vector
    * symmetric scale (maxabs/127), elementwise `floor(x/scale + 0.5)` via
    * the codegen'd [[graft.functions.QuantizeI8]] expression. maxabs uses
    * `greatest(array_max, -array_min)` — built-ins, so the whole operator
    * stays inside whole-stage codegen with zero shuffles. */
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = asD(col("embedding"))
    val maxabs = greatest(array_max(e), -array_min(e))
    // q ships as a comma-joined string: the oracle harness hashes scalar
    // cells only (array cells are unhashable pandas-side), so arrays are
    // always emitted joined — same convention as aggCollectList.
    embeddings(s, dir)
      .select(col("vec_id"),
        r6(maxabs).as("maxabs"),
        array_join(
          graft.functions.VectorFunctions.graftQuantizeI8(e, maxabs / lit(127.0))
            .cast("array<string>"), ",").as("q"))
      .orderBy("vec_id")
  }

  /** Per-label centroid vectors in LONG form (label, dim, c) — the
    * reduce half of a distributed k-means step (assignment is
    * [[knnIvf]]'s cell math). posexplode → one partial+final hash-agg
    * keyed (label, dim): shuffle rows are fixed-width triples, the mean
    * never materializes per-executor vectors. Elements are 6-dp-snapped
    * BEFORE the decimal sum ([[graft.Tables.dsum]] rule) so the centroid
    * is partition-order independent — a re-run on different partitioning
    * byte-matches, which is also what makes it oracle-checkable. Long
    * form IS the scale layout (a 1M-cluster × 4k-dim centroid table is
    * a DataFrame, not driver memory). */
  def embedCentroids(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("label"), posexplode(asD(col("embedding"))))
      .select(col("label"), col("pos").cast("long").as("dim"), r6(col("col")).as("v"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("sv"))
      .select(col("label"), col("dim"), col("n"),
        r6(col("sv") / col("n")).as("centroid"))
      .orderBy("label", "dim")

  /** L19d: embedding OUTLIER audit ([[GraftAPI.embeddingOutliers]]) —
    * per-label centroid-distance z-score, the corrupt/mis-embedded-row
    * filter a curation pipeline runs before any semantic op trusts the
    * vectors; flagged at z > 2. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame =
    GraftAPI.embeddingOutliers(embeddings(s, dir), "vec_id", "label", "embedding",
        zThreshold = 2.0)
      .orderBy("vec_id")

  /** L19c: per-dimension corpus moments (mean + variance) — the whitening
    * / normalization statistics an embedding store computes before PCA or
    * scalar quantization. Same long-form posexplode + one partial+final
    * hash-agg shape as [[embedCentroids]]: shuffle rows are fixed-width
    * (dim, partial) triples, output is dim-cardinality-sized. Elements
    * (and their squares) 6-dp-snap before the DECIMAL sums so both
    * moments are partition-order independent and re-runs byte-match. */
  def embedDimStats(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(posexplode(asD(col("embedding"))))
      .select(col("pos").cast("long").as("dim"), r6(col("col")).as("v"))
      .select(col("dim"), col("v"), r6(col("v") * col("v")).as("v2"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), dsum(col("v")).as("sv"), dsum(col("v2")).as("sv2"))
      .select(col("dim"), col("n"),
        r6(col("sv") / col("n")).as("mean"),
        r6((col("sv2") - col("sv") * col("sv") / col("n")) / (col("n") - lit(1)))
          .as("variance"))
      .orderBy("dim")

  /** L3d: BATCHED kNN — top-5 neighbours for a whole query SET in one
    * pass (the production retrieval shape: nightly "nearest corpus items
    * for every eval prompt" jobs, not one query at a time). The query set
    * broadcasts; every (query, vector) pair is scored map-side with the
    * codegen'd dot product; the rank-filter (rank dropped) plans as the
    * native bounded-buffer top-k, so the exchange carries ≤ 5 rows per
    * (query × map task) — scoring N queries costs one corpus scan, not N. */
  def knnBatch(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), asD(col("embedding")).as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"), col("cos"))
      .orderBy(col("query_id").asc, col("cos").desc, col("vec_id").asc)
  }

  /** L5: ANN recall harness — recall@10 of the IVF cell probe ([[knnIvf]])
    * against the exact top-10 ([[knnBatch]] shape) for each of 3 query
    * vectors. Every ANN deployment needs this evaluation loop next to the
    * index itself: the pruned index is only as good as its measured recall
    * on live queries. Both rankings cost one corpus pass each (broadcast
    * query set, per-query window top-k bounded at k rows per partition);
    * the hit check is a left-semi join on (query, id); queries whose probe
    * found nothing still report (left join onto the query spine, recall 0).
    * At 100 TB the exact side runs on a fixed sample of queries — the
    * recall estimate needs hundreds of queries, never the full corpus. */
  def knnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).withColumn("cell", cellOf(col("embedding")))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), asD(col("embedding")).as("qv"),
        col("cell").as("qcell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("query_id", "vec_id")
    val approx = e.join(broadcast(q), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("query_id", "vec_id")
    val hits = exact.join(approx, Seq("query_id", "vec_id"), "leftsemi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    q.select("query_id").join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("n_hit"),
        r6(coalesce(col("h"), lit(0L)).cast("double") / lit(K)).as("recall"))
      .orderBy("query_id")
  }

  /** L5c: recall harness over the LEARNED-centroid IVF ([[knnIvfKmeans]])
    * — identical protocol to [[knnRecall]] (3 queries, exact top-10 vs
    * one probed cell of 16) so the two artifacts are directly comparable
    * at equal probe count; VectorSpec asserts the k-means cells don't
    * lose to the sign grid on total recall. */
  def knnRecallKmeans(s: SparkSession, dir: String): DataFrame = {
    // PROBE-only since r8: the stored (vec_id, cell) assignment replaces
    // in-query training ([[IvfPqIndex]]); the three consumers below read
    // the tiny parquet table instead of re-running 2-Lloyd each.
    val ix = IvfPqIndex.ensure(s, dir)
    val ed = embeddings(s, dir)
      .select(col("vec_id"), col("label"), asD(col("embedding")).as("x"))
    val e = ed.join(Tables.read(s, ix.cells), "vec_id")
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("x").as("qv"),
        col("cell").as("qcell"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("x"), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("query_id", "vec_id")
    val approx = e.join(broadcast(q), col("cell") === col("qcell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("x"), col("qv")).as("cos"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select("query_id", "vec_id")
    val hits = exact.join(approx, Seq("query_id", "vec_id"), "leftsemi")
      .groupBy("query_id").agg(count(lit(1)).as("h"))
    q.select("query_id").join(hits, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("h"), lit(0L)).as("n_hit"),
        r6(coalesce(col("h"), lit(0L)).cast("double") / lit(K)).as("recall"))
      .orderBy("query_id")
  }

  /** L5f: truncated-dimension (Matryoshka-style) recall audit
    * ([[GraftAPI.truncatedDimRecall]]) — recall@10 of exact cosine search
    * over PREFIX dims d ∈ {8, 16, 32, 64} against the full-width (d = 64)
    * exact top-10, per query (vec_id < 3). This is the evaluation an
    * embedding store runs before committing to dimension-truncated
    * serving: can the ANN tier run on 8 floats instead of 64? The d = 64
    * rows are the protocol's built-in control — recall 1.0 by
    * construction, which the oracle also pins. At 100 TB the per-dim
    * rankings are a persisted eval artifact and queries are a fixed
    * sample, exactly like [[knnRecall]]. */
  def embedMrlRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir)
    GraftAPI.truncatedDimRecall(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        dims = Seq(8, 16, 32, 64), k = K)
      .withColumnRenamed("vec_id", "query_id")
      .orderBy("dim", "query_id")
  }

  /** 60-bit sign-bit signature of the embedding column — the ONE
    * definition [[knnHamming]] ranks by and [[knnRerank]] prefilters
    * with (review r11: was duplicated verbatim; the oracle side already
    * shares its sqlSig). */
  private def sigOf: org.apache.spark.sql.Column = (1 to 60)
    .map(j => when(element_at(col("embedding"), j) > 0f, lit(1L << (j - 1)))
      .otherwise(lit(0L)))
    .reduce(_ + _)

  /** L3e: binary-hash ANN — each vector collapses to a 60-bit sign
    * signature (one bit per leading dimension: the degenerate form of
    * signed-random-projection LSH, kept deterministic so a SQL oracle can
    * reproduce it), and search ranks by Hamming distance `bit_count(sig ^
    * qsig)`. This is the integer-only search modality: after the one-time
    * signature pass the float-vector table is out of the loop entirely —
    * 8 bytes/vector, XOR+popcount per candidate (both single codegen'd
    * instructions), and at 100 TB the signature column is what ships to
    * the index while full vectors stay at rest for the rerank stage.
    * Top-10 by (hamming, vec_id) — the tie space is large by design at
    * 60 bits; vec_id makes the cut deterministic. */
  def knnHamming(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).withColumn("sig", sigOf)
    val q = e.filter(col("vec_id") === 0).select(col("sig").as("qsig"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long").as("hamming"))
      .orderBy(col("hamming").asc, col("vec_id").asc)
      .limit(K)
  }

  /** L3f: two-stage retrieval — the production ANN pattern [[knnHamming]]
    * and [[knnCosine]] are halves of: a cheap integer Hamming prefilter
    * (signature distance ≤ 20 of 60 bits ≈ keeps candidates within ~60°)
    * prunes the corpus FIRST, then exact cosine reranks only the
    * survivors and keeps the top-10. At 100 TB the float vectors are
    * fetched only for rows passing the signature gate — the expensive
    * dot product runs on a fraction of the table, and both stages stay
    * map-side against the broadcast query. */
  def knnRerank(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).withColumn("sig", sigOf)
    val q = e.filter(col("vec_id") === 0)
      .select(col("sig").as("qsig"), asD(col("embedding")).as("qv"))
    e.crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("long"))
      .filter(col("hamming") <= 20)
      .select(col("vec_id"), col("label"), col("hamming"),
        cosine(asD(col("embedding")), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** L19b: one distributed power-iteration step toward the corpus's top
    * principal direction — w = Σᵢ xᵢ·(xᵢ·v₀) (i.e. (XᵀX)v₀) then
    * normalize, with v₀ = 1⃗ (deterministic start). The per-row inner
    * product runs through the codegen'd [[graft.functions.DotProduct]];
    * per-(row, dim) contributions are 6-dp-snapped BEFORE the DECIMAL
    * per-dim sum (the [[embedCentroids]] determinism rule), so the step
    * is partition-order independent and oracle-checkable. Scale shape:
    * ONE pass over the vectors, fixed-width (dim, contribution) pairs
    * into a 64-key hash-agg — the matmul never materializes; iterating
    * k steps is k passes (driver loop is control-plane only), exactly
    * how distributed PCA/ALS implementations schedule. */
  def embedPowerIter(s: SparkSession, dir: String): DataFrame = {
    val e = asD(col("embedding"))
    val ones = array_repeat(lit(1.0), 64)
    val w = embeddings(s, dir)
      .select(posexplode(e).as(Seq("pos", "x")),
        dot(e, ones).as("s"))
      .select(col("pos").cast("long").as("dim"), r6(col("x") * col("s")).as("c"))
      .groupBy("dim")
      .agg(dsum(col("c")).as("w"))
    val norm2 = w.agg(dsum(r6(col("w") * col("w"))).as("n2"))
    w.crossJoin(broadcast(norm2))
      .select(col("dim"), r6(col("w")).as("w"),
        r6(col("w") / sqrt(col("n2"))).as("v1"))
      .orderBy("dim")
  }

  /** L26: SemDeDup-style SEMANTIC dedup ([[GraftAPI.semanticDedup]]) —
    * cluster the embedding space, then keep-one-per-near-dup-set WITHIN
    * each cluster only (Abbas et al. 2023: ε-dedup inside k-means
    * clusters). The cluster assignment (sign-grid [[cellOf]] standing in
    * for k-means centroids, same determinism trade as [[knnIvf]]) bounds
    * candidate generation to same-cell pairs — the n² cross-corpus
    * comparison never exists. Embedding geometry catches DIFFERENT
    * duplicates than the lexical MinHash path: paraphrases share no
    * shingles. Keep policy is greedy-by-id (no transitive closure;
    * [[graft.ops.DedupOps]] `dedup_clusters` provides the
    * label-propagation form when full connected components are wanted). */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    // this registry form pins 16 demo cells — fine as the semantics
    // fixture, but n²/16 pairs at corpus scale; the corpus-scale form is
    // [[semanticDedupScaled]] (cells ≈ √n, SemDeDup's rule)
    GraftAPI.semanticDedup(embeddings(s, dir).withColumn("cell", cellOf(col("embedding"))),
        "vec_id", "cell", "embedding", SemDedupTau)
      .orderBy("vec_id")

  /** Near-dup cosine threshold of the semantic dedup keys — the same
    * gate as [[embedNeardup]]'s is_dup. */
  private val SemDedupTau = 0.35

  /** L19b: [[semanticDedup]] at SemDeDup's production geometry — cell
    * count ≈ √n via the corpus-scaled sign grid ([[scaledCells]] with
    * cut(j)=4^(j-1), i.e. least B with 2^B ∈ [√n, 2√n)), keep policy
    * UNCHANGED (drop iff a lower-id same-cell vector sits at cos ≥ τ).
    * Same-cell pair volume is Σ|cell|² ≈ n^1.5/√n-ish instead of n²/16:
    * the k ≈ √n rule makes per-cell size ≈ √n, so total work scales as
    * n·√n worst-case and ~linearly when buckets stay near target — the
    * registry-visible closure of r7's fixed-bucket caveat. */
  def semanticDedupScaled(s: SparkSession, dir: String): DataFrame =
    GraftAPI.semanticDedup(GraftAPI.sqrtNSignCells(embeddings(s, dir), "embedding"),
        "vec_id", "cell", "embedding", SemDedupTau)
      .orderBy("vec_id")

  /** L3i: the ANN index BUILD as a first-class sink-style job (VERDICT r7
    * #1) — trains the coarse quantizer and both PQ codebooks, encodes the
    * corpus, and persists the whole artifact as parquet tables (see
    * [[IvfPqIndex]] for the layout). Idempotent: a present, committed
    * artifact is NOT rebuilt (the write-once contract every layout sink in
    * the engine follows), so running this op in front of a probe workload
    * is exactly the production "build index, then serve" sequence. Output
    * is the index's per-cell manifest — vector and code counts per coarse
    * cell, the fan-out a capacity planner reads (codes-per-cell is the
    * probe's I/O budget). The oracle reproduces the deterministic coarse
    * training and checks both counts (n_codes = PqM × n_vecs by
    * construction — verifying the encode pass produced exactly one code
    * per (vector, subspace)); the code VALUES are verified end-to-end by
    * every probe oracle (knn_pq / knn_ivf_pq / knn_recall_*). */
  def buildIvfpqIndex(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    val vecs = Tables.read(s, ix.cells)
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val codes = Tables.read(s, ix.ivfCodes)
      .groupBy("cell").agg(count(lit(1)).as("n_codes"))
    vecs.join(codes, "cell")
      .select(col("cell"), col("n_vecs"), col("n_codes"))
      .orderBy("cell")
  }

  /** The partition-pruned delete core of
    * [[graft.api.GraftAPI.annIndexDelete]]: anti-join the deletion list
    * out of ONLY the cell partitions that contain deleted vectors, and
    * dynamic-partition-overwrite exactly those directories — every other
    * partition's files are untouched (byte-identical; VectorSpec proves
    * it). Guards loudly against a cell emptying out entirely
    * ([[emptiedCells]]): dynamic overwrite only replaces partitions
    * PRESENT in the written data, so a fully-deleted cell would leave
    * stale files behind — at 100 TB that case is a catalog DROP
    * PARTITION, here it throws with instructions. */
  private[graft] def deleteFromCodes(s: SparkSession, live: String,
                                     del: DataFrame): Unit = {
    val liveT = Tables.read(s, live)
    val emptied = emptiedCells(liveT, del)
    require(emptied.isEmpty,
      s"cells ${emptied.mkString(",")} would be emptied by this delete; " +
        "drop those partitions via the catalog instead of a data rewrite")
    val affected = liveT.join(del, "vec_id")
      .select(col("cell").as("acell")).distinct()
    // writer-scoped option, NOT the session conf (review r10): flipping
    // spark.sql.sources.partitionOverwriteMode globally leaks dynamic
    // semantics to any concurrent write in the session, and the restore
    // races a user's own conf change.
    liveT.drop("pcell")
      .join(broadcast(affected), col("cell") === col("acell"))
      .join(del, Seq("vec_id"), "left_anti")
      .drop("acell")
      .withColumn("pcell", col("cell"))
      .repartition(col("pcell"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("pcell").parquet(live)
  }

  /** L3m: ANN index DELETE — the removal leg of the lifecycle (takedown
    * requests, right-to-be-forgotten, poisoned-sample removal), bound to
    * [[graft.api.GraftAPI.annIndexDelete]]: the deletion list (the
    * deterministic `vec_id % 29 == 0` slice) leaves the code table by a
    * rewrite of ONLY the cell partitions that contain it
    * ([[deleteFromCodes]]; the cell-partitioned layout is what makes
    * deletes cheap — a 100 TB index with a thousand-row takedown rewrites
    * a handful of cell directories, never the corpus), and leaves the
    * `cells` membership. The takedown runs on a full-corpus root of its
    * own ([[IvfPqIndex.ensureCopy]]), because it rewrites the `cells`
    * table every other full-corpus key reads; from the second call on
    * the ids are gone and the rewrite is a no-op. Output is the
    * post-delete per-cell manifest, which the oracle reproduces from the
    * coarse chain minus the deleted ids. */
  def annIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensureCopy(IvfPqIndex.ensure(s, dir), "annix_v1_delete", dir)
    GraftAPI.annIndexDelete(s, ix.ivfCodes,
      embeddings(s, dir).filter(col("vec_id") % 29 === 0), "vec_id")
    Tables.read(s, ix.ivfCodes)
      .groupBy("cell")
      .agg(countDistinct(col("vec_id")).as("n_vecs"), count(lit(1)).as("n_codes"))
      .orderBy("cell")
  }

  /** L3k: ANN index HEALTH audit over the STORED artifact
    * ([[GraftAPI.annIndexStats]]) — the one-row dashboard an index
    * operator reads before deciding to re-train or re-balance: cell
    * coverage, size skew (`imbalance`, the re-train trigger; `max_cell`,
    * the worst-case probe I/O) and the code count, which must be exactly
    * PqM per vector. Reads ONLY the persisted index tables. The oracle
    * reproduces the deterministic coarse training and derives the same
    * summary from first principles. */
  def annIndexStats(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    GraftAPI.annIndexStats(Tables.read(s, ix.cells), Tables.read(s, ix.ivfCodes),
      quantizerCells = KmeansCells)
  }

  /** Filtered-ANN probe count: candidate pool = the 4 coarse cells nearest
    * the query (filters thin each cell, so a filtered probe widens its
    * cell fan-out to keep the pool ≥ K). */
  private val FilteredProbes = 4

  /** L3l: metadata-FILTERED ANN ([[GraftAPI.annFilteredTopK]]'s probe
    * core, with the vec_id = 0 row as the query) — top-K nearest
    * neighbors AMONG rows matching a scalar predicate (here
    * `label % 2 = 1`), the shape every production vector store serves
    * ("nearest English docs", "nearest in this tenant"). Pre-filtering
    * inside the IVF probe, not post-filtering the unfiltered top-K, over
    * the STORED coarse centroids + cell assignment ([[IvfPqIndex]]); the
    * probe fans out to [[FilteredProbes]] of 16 cells because a filter
    * thins each cell's pool. */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    val e = embeddings(s, dir).select("vec_id", "label", "embedding")
    GraftAPI.annFilteredProbe(e, "vec_id", "embedding",
        Tables.read(s, ix.coarse), Tables.read(s, ix.cells),
        e.filter(col("vec_id") === 0), "embedding",
        col("label") % 2 === 1 && col("vec_id") =!= 0,
        FilteredProbes, K, keep = Seq("label"))
      .withColumnRenamed("cosine", "cos")
  }

  /** The ONE stored-codebook encode path (review r13): coarse-assign a
    * (vec_id, x) batch against the stored centroids, residual-encode
    * against the stored long-form codebooks — no retraining. The append
    * ([[graft.api.GraftAPI.annIndexAppend]], behind every registry and
    * library caller) and the streaming append share it, and it reuses
    * [[trainIvfPq]]'s residual and argmin steps, so the byte-stable-replay
    * contract cannot drift: same r6 residual snap, same slice bounds,
    * same argmin tie-breaks. Returns (vec_id, m, code, cell).
    *
    * The batch is shuffled once per argmin and never joined back to
    * itself: the vector rides the coarse argmin's grouping key to its
    * residual. */
  private[graft] def encodeAgainstStored(e: DataFrame, coarse: DataFrame,
                                         codebooks: DataFrame, m: Int,
                                         sub: Int): DataFrame =
    residualCodes(residualLong(assignCells(e, coarse, carry = Seq("x")), coarse, m, sub),
      codebooks)

  /** Cells a `del` id-list would fully empty in `live` — the catalog-
    * DROP-PARTITION precheck [[deleteFromCodes]] enforces, exposed so
    * lifecycle callers can run the REFUSAL before retiring their root
    * marker (review r13: a rejection must leave a committed index
    * committed, not half-rewritten-and-uncommitted). */
  private[graft] def emptiedCells(live: DataFrame, del: DataFrame): Array[Long] = {
    val affected = live.join(del, "vec_id")
      .select(col("cell").as("acell")).distinct()
    val survivors = live
      .join(broadcast(affected), col("cell") === col("acell"))
      .join(del, Seq("vec_id"), "left_anti")
    affected.join(survivors.select(col("cell").as("scell")).distinct(),
        col("acell") === col("scell"), "left_anti")
      .collect().map(_.getLong(0))
  }

  /** L3j: ANN index APPEND — the third leg of the index lifecycle
    * (build → probe → append), bound to
    * [[graft.api.GraftAPI.annIndexAppend]]: a later-arriving batch (the
    * held-out `vec_id % 10 == 7` slice) is encoded against the STORED
    * codebooks of the base index ([[IvfPqIndex.ensureBase]], trained only
    * on the other 90%) — coarse-assign via the persisted centroids,
    * residual-encode via the persisted residual codebooks, NO retraining
    * — and folds into the delta table, hive-partitioned by coarse cell
    * next to the base codes. This is what daily vector arrivals do at
    * 100 TB: training is an ingest-time event, appends are
    * broadcast-argmin map jobs (the corpus is never rescanned). The
    * deterministic codebooks make the append backfill-stable: re-encoding
    * the same batch byte-matches. Output is the merged per-cell manifest
    * (cell, n_base, n_new); the oracle reproduces the base-subset coarse
    * training and both assignments, and VectorSpec verifies the delta
    * CODE VALUES against an independent local re-encode. */
  def annIndexAppend(s: SparkSession, dir: String): DataFrame =
    IvfPqIndex.append(s, dir, IvfPqIndex.ensureBase(s, dir))

  /** L3k: ANN index COMPACT — the lakehouse OPTIMIZE step that closes the
    * lifecycle (build → append → compact → probe), bound to
    * [[graft.api.GraftAPI.annIndexCompact]]: the appended delta folds
    * into the cell-partitioned codes and the `cells` membership in
    * place, so probes stop paying a two-table union and small delta
    * files fold away. The fold runs on a copy of the base root and its
    * delta ([[IvfPqIndex.ensureCopy]]): folding the shared base root
    * would leave `ann_index_append` nothing new to report. From the
    * second call on there is no delta left to fold. Output is the
    * per-cell manifest of the folded codes — (cell, n_vecs, n_codes) with
    * n_codes = PqM·n_vecs — which the oracle cross-checks against
    * base-slice training + batch assignment counts (so a lost or
    * duplicated row in the fold fails the gate). */
  def annIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val base = IvfPqIndex.ensureBase(s, dir)
    IvfPqIndex.ensureDelta(s, dir, base)
    GraftAPI.annIndexCompact(s, IvfPqIndex.ensureCopy(base, "annix_v1_compact", dir).root)
  }

  /** Cells at/above this size get sub-split by [[annIndexSplit]].
    * Fixture-scale constant (sf0.01's cells run 21–38 vectors; the mean
    * is ~31, so the oversized half splits and the rest probe raw); a
    * production deployment sets this from [[annIndexStats]]'s
    * `max_cell`/`imbalance` audit — the point where one cell's scan
    * dominates probe latency. */
  private[graft] val SplitHotSize = 32L

  /** Sub-centroids trained per hot cell (k of the inner Lloyd). */
  private[graft] val SplitSubK = 4

  /** Sub-cells a split probe fans out to — like [[FilteredProbes]], the
    * pool should cover K after the split narrows each scan; when it
    * can't (degenerate sub-cells), [[splitAwarePool]] ENFORCES the
    * floor by falling back to the whole-cell scan. */
  private[graft] val SplitProbes = 2

  /** Declared schema of the stored residual-code tables (base and
    * delta) — DELTA read-backs must not rely on inference: a corpus
    * with an empty held-out slice (no `vec_id % 10 == 7` rows) writes a
    * data-file-less partitioned delta, and inference on it throws; the
    * resolver must serve "base alone", not crash the probe. */
  private[graft] val codesSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("m",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("code",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pcell",
      org.apache.spark.sql.types.LongType)))

  /** Declared schemas for the split side-table read-backs — a corpus
    * with no hot cell writes data-file-less tables, and inference on
    * them throws; a healthy index must read as EMPTY, not crash. */
  private[graft] val splitCentsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("scid",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("scv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))))
  private[graft] val splitCellsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("vec_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cell",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("scid",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("pcell",
      org.apache.spark.sql.types.LongType)))

  /** The split side-tables' frames: hot cells' vectors as RESIDUALS
    * against the stored coarse centroids, sub-trained ([[SplitSubK]]
    * grouped Lloyd) and re-assigned. Returns (pinned residual frame —
    * caller unpersists after both writes —, sub-centroids (g, cid, cv),
    * assignments (g, vec_id, cid)). Reads only STORED tables plus the
    * hot cells' float vectors; cold cells' floats are never touched. */
  private[ops] def splitRowsFor(s: SparkSession, dir: String,
                                ix: IvfPqIndex.Ix): (DataFrame, DataFrame, DataFrame) =
    splitRowsOf(s,
      embeddings(s, dir).select(col("vec_id"), asD(col("embedding")).as("x")),
      ix, SplitHotSize, SplitSubK)

  /** [[splitRowsFor]] over an arbitrary (vec_id, x) frame at caller
    * geometry — the core of [[graft.api.GraftAPI.annIndexSplit]]. */
  private[graft] def splitRowsOf(s: SparkSession, e: DataFrame,
                                 ix: IvfPqIndex.Ix, hotSize: Long,
                                 subK: Int): (DataFrame, DataFrame, DataFrame) = {
    // The stored membership: after a compact it holds the appended
    // vectors too, so a cell pushed over the hot threshold by appends
    // splits with all its members.
    val cells = Tables.read(s, ix.cells)
    val hot = cells.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") >= hotSize).select("cell")
    val coarse = Tables.read(s, ix.coarse)
    val he = e
      .join(cells.join(broadcast(hot), Seq("cell"), "left_semi"), "vec_id")
      .join(broadcast(coarse), col("cell") === col("cid"))
      .select(col("cell").as("g"), col("vec_id"),
        zip_with(col("x"), col("cv"), (a, b) => r6(a - b)).as("x"))
      .persist()
    // cents persisted too (review r12): the assignment (and therefore
    // the cells_split write) would otherwise re-run the whole grouped
    // Lloyd chain the coarse_split write already executed — 2x training
    // cost for a deterministic recompute.
    val cents = kmeansCentroidsGrouped(he, iters = 2, k = subK).persist()
    (he, cents, assignCellsGrouped(he, cents))
  }

  /** Per-hot-cell manifest read back FROM the written `cells_split`
    * side-table — shared by the registry op and the facade. */
  private[graft] def splitManifest(s: SparkSession, ix: IvfPqIndex.Ix): DataFrame = {
    val sub = Tables.read(s, s"${ix.root}/cells_split", Some(splitCellsSchema))
      .groupBy("cell", "scid").agg(count(lit(1)).as("ssz"))
    sub.groupBy("cell")
      .agg(sum("ssz").as("n_vecs"), count(lit(1)).as("n_sub"),
        max("ssz").as("max_sub"))
      .select(col("cell"), col("n_vecs"), col("n_sub"), col("max_sub"))
      .orderBy("cell")
  }

  /** L3n: hot-cell SPLIT maintenance (VERDICT r11 #3) — the remedy for
    * what [[annIndexStats]] detects: a coarse cell glued together by a
    * dense embedding region makes every probe of it scan `max_cell`
    * vectors, and nothing in the lifecycle reduced one once it formed
    * (stats' scaladoc calls max-over-mean "the re-train trigger"; this
    * is the trigger's target). Cells ≥ [[SplitHotSize]] train
    * [[SplitSubK]] sub-centroids on their RESIDUALS (reusing the stored
    * coarse centroids and the same 6-dp-snapped Lloyd the codebooks
    * use, grouped so all hot cells train in the same jobs) and their
    * vectors re-assign into sub-cells, persisted as `coarse_split` /
    * `cells_split` side-tables next to the index (commit-marker guarded)
    * — the IVF mirror of the dedup family's L2o reband. Bound to
    * [[graft.api.GraftAPI.annIndexSplit]] on the full-corpus root;
    * [[knnIvfSplit]] is the consuming probe.
    *
    * Scale shape: hot-cell membership comes from the STORED assignment
    * table (one groupBy, no floats); only hot cells' vectors are read
    * and re-encoded; the rewrite writes only the side-tables. Output is
    * the per-hot-cell manifest (vectors, sub-cell fan-out, worst
    * sub-cell) — the numbers an operator reads to confirm the probe
    * blowup is gone. */
  def annIndexSplit(s: SparkSession, dir: String): DataFrame =
    GraftAPI.annIndexSplit(embeddings(s, dir), "vec_id", "embedding",
      IvfPqIndex.ensure(s, dir).root, SplitHotSize, SplitSubK)

  /** L3o: IVF probe THROUGH the cell split — [[knnIvfKmeans]]'s shape,
    * but when the query's coarse cell has been split, the scan narrows
    * to the [[SplitProbes]] sub-cells nearest the query's residual
    * instead of the whole cell (an unsplit cell probes raw, unchanged).
    * The side-tables are build-once ([[IvfPqIndex.ensureSplit]]) and
    * deterministic, so the probe is a pure function of the corpus
    * whether or not the maintenance job ran first. At 100 TB the
    * `cells_split` table is cell-partitioned like the codes, so the
    * sub-probe is a partition-pruned scan of max_sub·probes vectors
    * instead of max_cell. The pool is [[splitAwarePool]], the core the
    * streaming ANN probe shares. */
  def knnIvfSplit(s: SparkSession, dir: String): DataFrame = {
    val ix = IvfPqIndex.ensure(s, dir)
    IvfPqIndex.ensureSplit(s, dir, ix)
    val e = embeddings(s, dir)
      .select(col("vec_id"), asD(col("embedding")).as("x"))
    val cells = Tables.read(s, ix.cells)
    val q = e.join(cells, "vec_id").filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("x").as("qx"),
        col("cell").as("qcell"))
    splitAwarePool(q, cells, Tables.read(s, ix.coarse), Some(ix.root), K)
      .join(e, "vec_id")
      .crossJoin(broadcast(q.select("qx")))
      .select(col("vec_id"), cosine(col("x"), col("qx")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(K)
  }

  /** (query_id, qx) queries with `qcell`, each query's nearest stored
    * coarse centroid — the assignment an unindexed query needs before
    * [[splitAwarePool]]. */
  private[graft] def queryCells(q: DataFrame, coarse: DataFrame): DataFrame =
    assignCells(q.select(col("query_id").as("vec_id"), col("qx").as("x")),
        coarse, carry = Seq("x"))
      .select(col("vec_id").as("query_id"), col("x").as("qx"),
        col("cell").as("qcell"))

  /** The ONE split-aware IVF candidate pool, for any number of queries:
    * [[knnIvfSplit]] runs it for one query, the streaming ANN probe per
    * micro-batch. `q` is (query_id, qx, qcell), `cells` the (vec_id,
    * cell) membership the caller resolved, `splitRoot` the index root
    * when it carries a committed split. Returns (query_id, vec_id): the
    * whole cell for a query in an unsplit cell; else the [[SplitProbes]]
    * sub-cells nearest its residual, ranked by (distance, scid), unless
    * they hold fewer than `k` vectors — then the whole cell (review r12:
    * the floor is enforced, not assumed). The matched sub-cell members
    * feed three branches; `pin` lets a per-batch caller materialize them
    * once. */
  private[graft] def splitAwarePool(q: DataFrame, cells: DataFrame,
                                    coarse: DataFrame, splitRoot: Option[String],
                                    k: Int,
                                    pin: DataFrame => DataFrame = identity): DataFrame = {
    val s = q.sparkSession
    val whole = cells
      .join(broadcast(q.select("query_id", "qcell")), col("cell") === col("qcell"))
    splitRoot match {
      case None => whole.select("query_id", "vec_id")
      case Some(root) =>
        val splitCents = Tables.read(s, s"$root/coarse_split", Some(splitCentsSchema))
        val splitCells = Tables.read(s, s"$root/cells_split", Some(splitCellsSchema))
        val splitGs = broadcast(splitCents.select(col("cell").as("scell")).distinct())
        val qres = q.join(broadcast(coarse), col("qcell") === col("cid"))
          .select(col("query_id"), col("qcell"),
            zip_with(col("qx"), col("cv"), (a, b) => r6(a - b)).as("qr"))
        val w = Window.partitionBy("query_id").orderBy(col("d").asc, col("scid").asc)
        val top = splitCents.join(broadcast(qres), col("cell") === col("qcell"))
          .select(col("query_id"), col("cell"), col("scid"),
            sqDist(col("qr"), col("scv")).as("d"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= SplitProbes)
          .select("query_id", "cell", "scid")
        val matched = pin(splitCells.join(broadcast(top), Seq("cell", "scid"))
          .select("query_id", "vec_id"))
        val full = broadcast(matched.groupBy("query_id").agg(count(lit(1)).as("pool"))
          .filter(col("pool") >= k).select("query_id"))
        whole.join(splitGs, col("qcell") === col("scell"), "left_anti")
          .select("query_id", "vec_id")
          .union(matched.join(full, Seq("query_id"), "left_semi"))
          .union(whole.join(splitGs, col("qcell") === col("scell"), "left_semi")
            .join(full, Seq("query_id"), "left_anti")
            .select("query_id", "vec_id"))
    }
  }

  /** The ONE whole-batch vector guard (the facade encoders and append,
    * the streaming ANN adapters): one aggregate over `x` fails on a null
    * vector (counted explicitly — min/max over size() skip nulls, review
    * r10), on mixed widths (not just a wrong first row) and, when
    * `index` gives a stored (root, dim), on any other width. Returns the
    * uniform width, or None for an empty frame, whose meaning is the
    * caller's decision. */
  private[graft] def checkedDim(e: DataFrame, what: String,
                                index: Option[(String, Int)] = None): Option[Int] = {
    val st = e.agg(count(lit(1)), count_if(col("x").isNull),
      min(size(col("x"))), max(size(col("x")))).head()
    require(st.getLong(1) == 0L,
      s"${st.getLong(1)} null vectors in $what — drop or impute upstream")
    if (st.getLong(0) == 0L) None
    else {
      val (lo, hi) = (st.getInt(2), st.getInt(3))
      require(lo == hi,
        s"ragged vector lengths in $what: dims in [$lo, $hi] — uniform length required")
      index.foreach { case (root, d) => require(lo == d,
        s"$what holds dim=$lo vectors; the index at $root serves dim=$d") }
      Some(lo)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_index_split"   -> annIndexSplit _,
    "knn_ivf_split"     -> knnIvfSplit _,
    "ann_index_compact" -> annIndexCompact _,
    "ann_index_append"  -> annIndexAppend _,
    "ann_index_delete"  -> annIndexDelete _,
    "ann_index_stats"   -> annIndexStats _,
    "build_ivfpq_index" -> buildIvfpqIndex _,
    "knn_filtered"      -> knnFiltered _,
    "semantic_dedup"  -> semanticDedup _,
    "semantic_dedup_scaled" -> semanticDedupScaled _,
    "embed_power_iter" -> embedPowerIter _,
    "knn_rerank"      -> knnRerank _,
    "knn_hamming"     -> knnHamming _,
    "knn_batch"       -> knnBatch _,
    "knn_recall"      -> knnRecall _,
    "embed_mrl_recall" -> embedMrlRecall _,
    "knn_recall_kmeans" -> knnRecallKmeans _,
    "knn_recall_pq"   -> knnRecallPq _,
    "knn_ivf_kmeans"  -> knnIvfKmeans _,
    "knn_ivf_pq"      -> knnIvfPq _,
    "knn_ivf_pq_delta" -> knnIvfPqDelta _,
    "knn_recall_ivf_pq" -> knnRecallIvfPq _,
    "knn_pq"          -> knnPq _,
    "embed_normalize" -> embedNormalize _,
    "embed_quantize"  -> embedQuantize _,
    "embed_centroids" -> embedCentroids _,
    "embed_dim_stats" -> embedDimStats _,
    "embed_outliers"  -> embedOutliers _,
    "knn_cosine"    -> knnCosine _,
    "knn_ivf"       -> knnIvf _,
    "knn_ivf_multiprobe" -> knnIvfMultiprobe _,
    "embed_neardup" -> embedNeardup _,
  )

  /** DuckDB cosine: double-cast dot product over the same fold order,
    * half-up 6-dp round matching [[graft.Tables.r6]]. */
  private def sqlCos(a: String, b: String): String =
    s"""floor((list_dot_product($a::DOUBLE[], $b::DOUBLE[]) /
       |    (sqrt(list_dot_product($a::DOUBLE[], $a::DOUBLE[])) *
       |     sqrt(list_dot_product($b::DOUBLE[], $b::DOUBLE[])))) * 1000000 + 0.5) / 1000000""".stripMargin

  private val sqlCell =
    "(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END + " +
      "CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)"

  /** DuckDB mirror of [[scaledCells]]: `nb` counts the same integer
    * thresholds to get the bit width B, `sc` assembles the per-row
    * corpus-scaled cell id. Integer-only both sides — no float-log2. */
  private def sqlScaledCte(cut: Int => Long): String = {
    val nbits = (1 to MaxScaledBits)
      .map(j => s"CASE WHEN count(*) > ${cut(j)} THEN 1 ELSE 0 END")
      .mkString(" + ")
    val cell = (1 to MaxScaledBits)
      .map(j => s"CASE WHEN $j <= nbits AND embedding[$j] > 0 THEN ${1L << (j - 1)} ELSE 0 END")
      .mkString(" + ")
    s"""nb AS (SELECT ($nbits) AS nbits FROM embeddings),
       |sc AS (SELECT vec_id, label, embedding, CAST($cell AS BIGINT) AS cell
       |       FROM embeddings, nb)""".stripMargin
  }

  /** 60-bit sign signature, mirrored from [[knnHamming]]. */
  private val sqlSig: String = (1 to 60)
    .map(j => s"CASE WHEN embedding[$j] > 0 THEN ${1L << (j - 1)} ELSE 0 END")
    .mkString("(", " + ", ")")

  /** DuckDB mirror of [[sqDist]] — same operand order, same 6-dp snap. */
  private def sqlDist(x: String, cv: String): String =
    s"""floor((list_dot_product($x, $x) - 2 * list_dot_product($x, $cv) +
       |      list_dot_product($cv, $cv)) * 1000000 + 0.5) / 1000000""".stripMargin

  /** One Lloyd round in DuckDB: argmin-assign against centroid CTE `$c`,
    * then 6-dp-snapped long-form mean → ordered-list rebuild (mirrors
    * [[kmeansCentroids]] exactly, incl. the dsum DECIMAL(25,6) rule).
    * `p` prefixes every CTE name (and the source table `${p}e`) so
    * several independent trainings — one per PQ subspace — compose in a
    * single WITH chain. */
  private def sqlLloydRound(i: Int, c: String, p: String = ""): String =
    s"""${p}a$i AS (SELECT vec_id, cid FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${sqlDist("e.x", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM ${p}e e CROSS JOIN $c c) t WHERE rn = 1),
       |${p}u$i AS (SELECT a.cid,
       |    CAST(generate_subscripts(e.x, 1) - 1 AS BIGINT) AS dim,
       |    floor(unnest(e.x) * 1000000 + 0.5) / 1000000 AS v
       |  FROM ${p}e e JOIN ${p}a$i a USING (vec_id)),
       |${p}m$i AS (SELECT cid, dim,
       |    floor((CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) / count(*))
       |      * 1000000 + 0.5) / 1000000 AS c
       |  FROM ${p}u$i GROUP BY cid, dim),
       |${p}c${i + 1} AS (SELECT cid, list(c ORDER BY dim) AS cv FROM ${p}m$i GROUP BY cid)""".stripMargin

  /** Prefixed 2-round training + assignment: `${p}e` (vec_id, x) →
    * `${p}cells` (vec_id, cell). */
  private def sqlKmeansChain(p: String): String =
    s"""${p}c0 AS (SELECT vec_id AS cid, x AS cv FROM ${p}e
       |  ORDER BY vec_id LIMIT $KmeansCells),
       |${sqlLloydRound(0, s"${p}c0", p)},
       |${sqlLloydRound(1, s"${p}c1", p)},
       |${p}cells AS (SELECT vec_id, cid AS cell FROM (
       |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${sqlDist("e.x", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM ${p}e e CROSS JOIN ${p}c2 c) t WHERE rn = 1)""".stripMargin

  /** Shared CTE chain: embeddings → 2 Lloyd rounds → final `cells`
    * (vec_id, cell) assignment, mirroring kmeansCentroids + assignCells. */
  private val sqlKmeansCte: String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
       |${sqlKmeansChain("")}""".stripMargin

  /** Per-subspace PQ CTE chain (slice → train → query distance table)
    * over any (vec_id, x) source table — `e` for the raw-vector PQ
    * oracles, the residual table for the IVF+PQ oracle. */
  private def pqSubsCteFrom(src: String): String = (0 until PqM).map { m =>
    s"""s${m}e AS (SELECT vec_id, list_slice(x, ${m * PqSub + 1}, ${(m + 1) * PqSub}) AS x FROM $src),
       |${sqlKmeansChain(s"s$m")},
       |s${m}q AS (SELECT x AS qv FROM s${m}e WHERE vec_id = 0),
       |s${m}dt AS (SELECT c.cid, ${sqlDist("q.qv", "c.cv")} AS d
       |  FROM s${m}c2 c CROSS JOIN s${m}q q)""".stripMargin
  }.mkString(",\n")

  /** Shared by the knn_pq and knn_recall_pq oracles. */
  private lazy val pqSubsCte: String = pqSubsCteFrom("e")

  /** Rewrite every CTE of a DuckDB oracle to `AS MATERIALIZED`.
    *
    * DuckDB 1.0 INLINES each CTE reference (no automatic materialization
    * of multiply-referenced CTEs), so in the IVF+PQ oracles the residual
    * table `re` — referenced by all $PqM per-subspace k-means chains, each
    * of which reads its source ~6 times across the Lloyd rounds — gets its
    * whole derivation (coarse k-means included) re-evaluated ~50×, and the
    * expansion compounds through the nested rounds. Measured on the
    * sf0.01 fixture (500 vectors): `knn_ivf_pq` 252 s inlined → 2.8 s
    * materialized, identical result rows; at the sf1 fixture (20k
    * vectors) the inlined form spilled >80 GB of temp and never finished
    * (the one gap in the r10 sf1 oracle pass) while the materialized form
    * completes in seconds. Pure execution hint — the relational semantics
    * are unchanged, as is every other oracle string (scoped to the two
    * IVF+PQ keys so the 249 driver-verified oracles stay byte-identical).
    * The regex only matches CTE heads: derived-table aliases sit AFTER
    * the closing paren (`(...) t`) and never look like `name AS (SELECT`.
    */
  private def matCtes(sql: String): String =
    sql.replaceAll("\\b([A-Za-z_][A-Za-z0-9_]*\\s+AS)\\s+\\(SELECT",
      "$1 MATERIALIZED (SELECT")

  /** Coarse k-means chain + long-form residual rebuild (`re` =
    * (vec_id, cell, x=residual)) shared by the IVF+PQ oracles. */
  private lazy val sqlResidCte: String =
    s"""$sqlKmeansCte,
       |el AS (SELECT e.vec_id, CAST(generate_subscripts(e.x, 1) - 1 AS BIGINT) AS dim,
       |    unnest(e.x) AS v FROM e),
       |cvl AS (SELECT c.cid, CAST(generate_subscripts(c.cv, 1) - 1 AS BIGINT) AS dim,
       |    unnest(c.cv) AS cv FROM c2 c),
       |re AS (SELECT el.vec_id, cl.cell,
       |    list(floor((el.v - cvl.cv) * 1000000 + 0.5) / 1000000 ORDER BY el.dim) AS x
       |  FROM el JOIN cells cl USING (vec_id)
       |    JOIN cvl ON cvl.cid = cl.cell AND cvl.dim = el.dim
       |  GROUP BY el.vec_id, cl.cell)""".stripMargin

  /** One GROUPED Lloyd round in DuckDB (g = the hot coarse cell): the
    * [[sqlLloydRound]] math with g carried through every key, mirroring
    * [[kmeansCentroidsGrouped]] slot for slot. Source CTEs: `ge`
    * (g, vec_id, x residual) and `gc$i` (g, cid, cv). */
  private def sqlGroupedLloydRound(i: Int): String =
    s"""ga$i AS (SELECT g, vec_id, cid FROM (
       |  SELECT e.g, e.vec_id, c.cid, row_number() OVER (PARTITION BY e.g, e.vec_id
       |    ORDER BY ${sqlDist("e.x", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM ge e JOIN gc$i c ON e.g = c.g) t WHERE rn = 1),
       |gu$i AS (SELECT a.g, a.cid,
       |    CAST(generate_subscripts(e.x, 1) - 1 AS BIGINT) AS dim,
       |    floor(unnest(e.x) * 1000000 + 0.5) / 1000000 AS v
       |  FROM ge e JOIN ga$i a ON e.g = a.g AND e.vec_id = a.vec_id),
       |gm$i AS (SELECT g, cid, dim,
       |    floor((CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) / count(*))
       |      * 1000000 + 0.5) / 1000000 AS c
       |  FROM gu$i GROUP BY g, cid, dim),
       |gc${i + 1} AS (SELECT g, cid, list(c ORDER BY dim) AS cv FROM gm$i GROUP BY g, cid)""".stripMargin

  /** Residual chain + hot-cell grouped sub-training + final sub-cell
    * assignment `gcells` (g, vec_id, cid) — the DuckDB mirror of
    * [[splitRowsFor]]. */
  private lazy val sqlSplitCte: String =
    s"""$sqlResidCte,
       |hot AS (SELECT cell FROM (SELECT cell, count(*) AS n FROM cells
       |  GROUP BY cell) h WHERE n >= $SplitHotSize),
       |ge AS (SELECT re.cell AS g, re.vec_id, re.x FROM re
       |  JOIN hot ON re.cell = hot.cell),
       |gc0 AS (SELECT g, vec_id AS cid, x AS cv FROM (
       |  SELECT g, vec_id, x, row_number() OVER (PARTITION BY g ORDER BY vec_id) AS rn
       |  FROM ge) t WHERE rn <= $SplitSubK),
       |${sqlGroupedLloydRound(0)},
       |${sqlGroupedLloydRound(1)},
       |gcells AS (SELECT g, vec_id, cid FROM (
       |  SELECT e.g, e.vec_id, c.cid, row_number() OVER (PARTITION BY e.g, e.vec_id
       |    ORDER BY ${sqlDist("e.x", "c.cv")} ASC, c.cid ASC) AS rn
       |  FROM ge e JOIN gc2 c ON e.g = c.g) t WHERE rn = 1)""".stripMargin

  private lazy val pqJoins: String = (0 until PqM).map(m =>
    s"JOIN s${m}cells cl$m USING (vec_id) JOIN s${m}dt dt$m ON dt$m.cid = cl$m.cell")
    .mkString("\n  ")

  /** Exact DECIMAL addition of the 6-dp-snapped per-subspace distances
    * (order-independent), mirroring the Spark side's dsum — a plain
    * double fold would be order-dependent and could diverge in the last
    * ulp from the long-form groupBy sum. */
  private lazy val pqAdcSum: String = "CAST((" + (0 until PqM)
    .map(m => s"CAST(dt$m.d AS DECIMAL(25,6))").mkString(" + ") +
    ") AS DOUBLE)"

  val oracleSql: Map[String, String] = Map(
    // Split manifest: reproduce the deterministic coarse chain, the hot
    // set, and the grouped residual sub-training; the read-back counts
    // must match the recomputed assignment exactly.
    "ann_index_split" -> matCtes(
      s"""WITH $sqlSplitCte,
         |sub AS (SELECT g, cid, count(*) AS ssz FROM gcells GROUP BY g, cid)
         |SELECT CAST(g AS BIGINT) AS cell, CAST(sum(ssz) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS BIGINT) AS n_sub, CAST(max(ssz) AS BIGINT) AS max_sub
         |FROM sub GROUP BY g ORDER BY cell""".stripMargin),
    // Split probe: whole-cell scan when the query's cell is unsplit;
    // otherwise the SplitProbes sub-cells nearest the query's residual.
    "knn_ivf_split" -> matCtes(
      s"""WITH $sqlSplitCte,
         |q0 AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
         |qres AS (SELECT re.x AS qx FROM re WHERE re.vec_id = 0),
         |topsc AS (SELECT cid FROM (
         |  SELECT c.cid, row_number() OVER (
         |    ORDER BY ${sqlDist("q.qx", "c.cv")} ASC, c.cid ASC) AS rn
         |  FROM gc2 c JOIN q0 ON c.g = q0.qcell CROSS JOIN qres q) t
         |  WHERE rn <= $SplitProbes),
         |candsplit AS (
         |  SELECT gc.vec_id FROM gcells gc JOIN q0 ON gc.g = q0.qcell
         |    JOIN topsc ON gc.cid = topsc.cid),
         |poolc AS (SELECT count(*) AS pool FROM candsplit),
         |cand AS (
         |  SELECT cl.vec_id FROM cells cl JOIN q0 ON cl.cell = q0.qcell
         |  WHERE q0.qcell NOT IN (SELECT cell FROM hot)
         |  UNION ALL
         |  SELECT vec_id FROM candsplit
         |  WHERE (SELECT pool FROM poolc) >= $K
         |  UNION ALL
         |  SELECT cl.vec_id FROM cells cl JOIN q0 ON cl.cell = q0.qcell
         |  WHERE q0.qcell IN (SELECT cell FROM hot)
         |    AND (SELECT pool FROM poolc) < $K),
         |qv AS (SELECT x AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, ${sqlCos("e.x", "q.qv")} AS cos
         |FROM cand JOIN e USING (vec_id) CROSS JOIN qv q
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin),
    // The index manifest: reproduce the deterministic coarse training and
    // count vectors per cell; the encode pass emits exactly PqM code rows
    // per vector.
    "build_ivfpq_index" ->
      s"""WITH $sqlKmeansCte
         |SELECT cell, count(*) AS n_vecs,
         |  CAST(count(*) * $PqM AS BIGINT) AS n_codes
         |FROM cells GROUP BY cell ORDER BY cell""".stripMargin,
    // Delete: post-delete manifest = the coarse chain minus the deleted
    // slice; n_codes stays PqM per surviving vector (a partition rewrite
    // that loses or duplicates a surviving row breaks either count).
    "ann_index_delete" ->
      s"""WITH $sqlKmeansCte
         |SELECT cell, count(*) AS n_vecs,
         |  CAST(count(*) * $PqM AS BIGINT) AS n_codes
         |FROM cells WHERE vec_id % 29 <> 0
         |GROUP BY cell ORDER BY cell""".stripMargin,
    // Index health: the same deterministic coarse chain, summarized.
    // n_codes = PqM × n_vecs by the encode contract (one code per
    // (vector, subspace)); imbalance snapped 6-dp on both sides.
    "ann_index_stats" ->
      s"""WITH $sqlKmeansCte,
         |per AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(n) AS BIGINT) AS n_vecs,
         |  CAST(min(n) AS BIGINT) AS min_cell,
         |  CAST(max(n) AS BIGINT) AS max_cell,
         |  floor((max(n) * count(*) / CAST(sum(n) AS DOUBLE))
         |    * 1000000 + 0.5) / 1000000 AS imbalance,
         |  CAST($KmeansCells - count(*) AS BIGINT) AS empty_cells,
         |  CAST(sum(n) * $PqM AS BIGINT) AS n_codes
         |FROM per""".stripMargin,
    // Filtered ANN: 4 nearest trained cells, predicate applied INSIDE the
    // candidate pool, exact cosine on the survivors.
    "knn_filtered" ->
      s"""WITH $sqlKmeansCte,
         |q AS (SELECT x AS qv FROM e WHERE vec_id = 0),
         |probes AS (SELECT cid FROM (
         |  SELECT c.cid, ${sqlDist("q.qv", "c.cv")} AS d
         |  FROM c2 c CROSS JOIN q
         |  ORDER BY d ASC, c.cid ASC LIMIT $FilteredProbes))
         |SELECT e.vec_id, e.label, ${sqlCos("e.x", "q.qv")} AS cos
         |FROM e JOIN cells cl USING (vec_id)
         |  JOIN probes p ON p.cid = cl.cell
         |  CROSS JOIN q
         |WHERE e.label % 2 = 1 AND e.vec_id <> 0
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    // Compact: the merged read-back must carry exactly base+batch vectors
    // per cell and PqM codes per vector — a lost or doubled row in the
    // merge breaks either count.
    "ann_index_compact" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |${sqlKmeansChain("")},
         |b AS (SELECT vec_id, embedding::DOUBLE[] AS x
         |  FROM embeddings WHERE vec_id % 10 = 7),
         |bcells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY ${sqlDist("b.x", "c.cv")} ASC, c.cid ASC) AS rn
         |  FROM b CROSS JOIN c2 c) t WHERE rn = 1)
         |SELECT cell,
         |  CAST(COALESCE(a.n_base, 0) + COALESCE(nb.n_new, 0) AS BIGINT) AS n_vecs,
         |  CAST($PqM * (COALESCE(a.n_base, 0) + COALESCE(nb.n_new, 0)) AS BIGINT)
         |    AS n_codes
         |FROM (SELECT cell, count(*) AS n_base FROM cells GROUP BY cell) a
         |FULL JOIN (SELECT cell, count(*) AS n_new FROM bcells GROUP BY cell) nb
         |  USING (cell)
         |ORDER BY cell""".stripMargin,
    // Append: coarse training reproduced over the BASE slice only, the
    // held-out batch assigned against those centroids; the delta code
    // VALUES are spec-verified (VectorSpec local re-encode).
    "ann_index_append" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |${sqlKmeansChain("")},
         |b AS (SELECT vec_id, embedding::DOUBLE[] AS x
         |  FROM embeddings WHERE vec_id % 10 = 7),
         |bcells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY ${sqlDist("b.x", "c.cv")} ASC, c.cid ASC) AS rn
         |  FROM b CROSS JOIN c2 c) t WHERE rn = 1)
         |SELECT cell, COALESCE(a.n_base, 0) AS n_base,
         |  COALESCE(nb.n_new, 0) AS n_new
         |FROM (SELECT cell, count(*) AS n_base FROM cells GROUP BY cell) a
         |FULL JOIN (SELECT cell, count(*) AS n_new FROM bcells GROUP BY cell) nb
         |  USING (cell)
         |ORDER BY cell""".stripMargin,
    "knn_pq" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
         |$pqSubsCte,
         |short AS (
         |  SELECT e.vec_id, e.label, e.x,
         |    floor(($pqAdcSum) * 1000000 + 0.5) / 1000000 AS adc
         |  FROM e
         |    $pqJoins
         |  WHERE e.vec_id <> 0
         |  ORDER BY adc ASC, vec_id ASC LIMIT $PqShortlist),
         |q AS (SELECT x AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, adc, ${sqlDist("short.x", "q.qv")} AS sd
         |FROM short CROSS JOIN q
         |ORDER BY sd ASC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_recall_pq" -> {
      val hits = PqRecallShortlists.map { sz =>
        s"""h$sz AS (SELECT count(*) AS n_hit FROM (
           |  SELECT e.vec_id, ${sqlDist("e.x", "q.qv")} AS sd
           |  FROM cand c JOIN e USING (vec_id) CROSS JOIN q
           |  WHERE c.r <= $sz ORDER BY sd ASC, e.vec_id ASC LIMIT $K) t
           |  WHERE t.vec_id IN (SELECT vec_id FROM ex10))""".stripMargin
      }.mkString(",\n")
      val rows = PqRecallShortlists.map { sz =>
        s"""SELECT $sz AS shortlist, n_hit,
           |  floor((n_hit::DOUBLE / $K) * 1000000 + 0.5) / 1000000 AS recall
           |FROM h$sz""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
         |$pqSubsCte,
         |adc AS (
         |  SELECT e.vec_id,
         |    floor(($pqAdcSum) * 1000000 + 0.5) / 1000000 AS adc
         |  FROM e
         |    $pqJoins
         |  WHERE e.vec_id <> 0),
         |q AS (SELECT x AS qv FROM e WHERE vec_id = 0),
         |cand AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS r
         |  FROM adc QUALIFY r <= ${PqRecallShortlists.max}),
         |ex10 AS (SELECT vec_id FROM (
         |  SELECT e.vec_id, ${sqlDist("e.x", "q.qv")} AS sd
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sd ASC, e.vec_id ASC LIMIT $K)),
         |$hits
         |$rows
         |ORDER BY shortlist""".stripMargin
    },
    // IVF + residual PQ: the coarse chain (shared with knn_ivf_kmeans)
    // feeds a long-form residual rebuild (unnest + per-dim subtraction +
    // ordered re-list — the same idiom the Lloyd rounds use), then the
    // standard per-subspace PQ chain trains on the residual table and
    // scores ONLY the query's coarse cell.
    "knn_ivf_pq" -> matCtes(
      s"""WITH $sqlResidCte,
         |${pqSubsCteFrom("re")},
         |qc AS (SELECT cell AS qcell FROM re WHERE vec_id = 0),
         |short AS (
         |  SELECT e.vec_id, e.label, e.x,
         |    floor(($pqAdcSum) * 1000000 + 0.5) / 1000000 AS adc
         |  FROM e
         |    JOIN cells cl USING (vec_id)
         |    $pqJoins
         |  CROSS JOIN qc
         |  WHERE e.vec_id <> 0 AND cl.cell = qc.qcell
         |  ORDER BY adc ASC, vec_id ASC LIMIT $PqShortlist),
         |q AS (SELECT x AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, adc, ${sqlDist("short.x", "q.qv")} AS sd
         |FROM short CROSS JOIN q
         |ORDER BY sd ASC, vec_id ASC LIMIT $K""".stripMargin),
    // Delta-visibility IVFADC probe (r13): coarse + residual codebooks
    // trained on the BASE slice only (vec_id % 10 <> 7), the held-out
    // batch assigned/encoded against those stored artifacts, and the
    // probe scored over the UNION of base and delta codes — the exact
    // content the engine's probe-root resolver serves before (base ∪
    // ensured delta) and after (compact) an OPTIMIZE.
    "knn_ivf_pq_delta" -> matCtes {
      val subs = (0 until PqM).map { m =>
        s"""s${m}e AS (SELECT vec_id, list_slice(x, ${m * PqSub + 1}, ${(m + 1) * PqSub}) AS x FROM re),
           |${sqlKmeansChain(s"s$m")},
           |s${m}ae AS (SELECT vec_id, list_slice(x, ${m * PqSub + 1}, ${(m + 1) * PqSub}) AS x FROM reall),
           |s${m}acells AS (SELECT vec_id, cid AS cell FROM (
           |  SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
           |    ORDER BY ${sqlDist("e.x", "c.cv")} ASC, c.cid ASC) AS rn
           |  FROM s${m}ae e CROSS JOIN s${m}c2 c) t WHERE rn = 1),
           |s${m}q AS (SELECT x AS qv FROM s${m}e WHERE vec_id = 0),
           |s${m}dt AS (SELECT c.cid, ${sqlDist("q.qv", "c.cv")} AS d
           |  FROM s${m}c2 c CROSS JOIN s${m}q q)""".stripMargin
      }.mkString(",\n")
      val joins = (0 until PqM).map(m =>
        s"JOIN s${m}acells cl$m USING (vec_id) JOIN s${m}dt dt$m ON dt$m.cid = cl$m.cell")
        .mkString("\n  ")
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS x
         |  FROM embeddings WHERE vec_id % 10 <> 7),
         |${sqlKmeansChain("")},
         |ae AS (SELECT vec_id, label, embedding::DOUBLE[] AS x FROM embeddings),
         |b AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
         |  WHERE vec_id % 10 = 7),
         |bcells AS (SELECT vec_id, cid AS cell FROM (
         |  SELECT b.vec_id, c.cid, row_number() OVER (PARTITION BY b.vec_id
         |    ORDER BY ${sqlDist("b.x", "c.cv")} ASC, c.cid ASC) AS rn
         |  FROM b CROSS JOIN c2 c) t WHERE rn = 1),
         |allcells AS (SELECT vec_id, cell FROM cells
         |  UNION ALL SELECT vec_id, cell FROM bcells),
         |ael AS (SELECT ae.vec_id, CAST(generate_subscripts(ae.x, 1) - 1 AS BIGINT) AS dim,
         |    unnest(ae.x) AS v FROM ae),
         |cvl AS (SELECT c.cid, CAST(generate_subscripts(c.cv, 1) - 1 AS BIGINT) AS dim,
         |    unnest(c.cv) AS cv FROM c2 c),
         |reall AS (SELECT ael.vec_id, cl.cell,
         |    list(floor((ael.v - cvl.cv) * 1000000 + 0.5) / 1000000 ORDER BY ael.dim) AS x
         |  FROM ael JOIN allcells cl USING (vec_id)
         |    JOIN cvl ON cvl.cid = cl.cell AND cvl.dim = ael.dim
         |  GROUP BY ael.vec_id, cl.cell),
         |re AS (SELECT vec_id, x FROM reall WHERE vec_id % 10 <> 7),
         |$subs,
         |qc AS (SELECT cell AS qcell FROM cells WHERE vec_id = 0),
         |short AS (
         |  SELECT ae.vec_id, ae.label, ae.x,
         |    floor(($pqAdcSum) * 1000000 + 0.5) / 1000000 AS adc
         |  FROM ae
         |    JOIN allcells cl USING (vec_id)
         |    $joins
         |  CROSS JOIN qc
         |  WHERE ae.vec_id <> 0 AND cl.cell = qc.qcell
         |  ORDER BY adc ASC, vec_id ASC LIMIT $PqShortlist),
         |q AS (SELECT x AS qv FROM ae WHERE vec_id = 0)
         |SELECT vec_id, label, adc, ${sqlDist("short.x", "q.qv")} AS sd
         |FROM short CROSS JOIN q
         |ORDER BY sd ASC, vec_id ASC LIMIT $K""".stripMargin
    },
    // Multiprobe IVF+PQ recall sweep: per-probe distance tables (the ADC
    // base is the query residual AGAINST THAT PROBE'S centroid), each
    // candidate scored against its own cell's table, shortlist+rerank at
    // each probe count vs the exact top-10.
    "knn_recall_ivf_pq" -> {
      val joins = (0 until PqM).map(m =>
        s"JOIN s${m}cells cl$m USING (vec_id) JOIN p${m}dt dt$m ON dt$m.cid = cl$m.cell AND dt$m.pcell = cl.cell")
        .mkString("\n  ")
      val pdts = (0 until PqM).map { m =>
        s"""p${m}dt AS (SELECT r.pcell, c.cid,
           |  ${sqlDist(s"list_slice(r.x, ${m * PqSub + 1}, ${(m + 1) * PqSub})", "c.cv")} AS d
           |  FROM rq r CROSS JOIN s${m}c2 c)""".stripMargin
      }.mkString(",\n")
      val sweeps = IvfPqProbes.map { np =>
        s"""sh$np AS (SELECT vec_id FROM (
           |  SELECT vec_id, np, row_number() OVER (
           |    PARTITION BY np ORDER BY adc ASC, vec_id ASC) AS r
           |  FROM adc) t WHERE r <= $PqShortlist AND np <= $np),
           |h$np AS (SELECT count(*) AS n_hit FROM (
           |  SELECT e.vec_id, ${sqlDist("e.x", "q.qv")} AS sd
           |  FROM sh$np JOIN e USING (vec_id) CROSS JOIN q
           |  ORDER BY sd ASC, e.vec_id ASC LIMIT $K) t
           |  WHERE t.vec_id IN (SELECT vec_id FROM ex10))""".stripMargin
      }.mkString(",\n")
      val rows = IvfPqProbes.map { np =>
        s"""SELECT $np AS nprobe, n_hit,
           |  floor((n_hit::DOUBLE / $K) * 1000000 + 0.5) / 1000000 AS recall
           |FROM h$np""".stripMargin
      }.mkString("\nUNION ALL\n")
      matCtes(s"""WITH $sqlResidCte,
         |${pqSubsCteFrom("re")},
         |q AS (SELECT x AS qv FROM e WHERE vec_id = 0),
         |pr AS (SELECT cid, cv, np FROM (
         |  SELECT c.cid, c.cv, row_number() OVER (
         |      ORDER BY ${sqlDist("q.qv", "c.cv")} ASC, c.cid ASC) AS np
         |  FROM c2 c CROSS JOIN q) t WHERE np <= ${IvfPqProbes.max}),
         |prl AS (SELECT p.np, p.cid AS pcell,
         |    CAST(generate_subscripts(p.cv, 1) - 1 AS BIGINT) AS dim,
         |    unnest(p.cv) AS cv FROM pr p),
         |qvl AS (SELECT CAST(generate_subscripts(qv, 1) - 1 AS BIGINT) AS dim,
         |    unnest(qv) AS v FROM q),
         |rq AS (SELECT prl.pcell,
         |    list(floor((qvl.v - prl.cv) * 1000000 + 0.5) / 1000000 ORDER BY prl.dim) AS x
         |  FROM prl JOIN qvl ON qvl.dim = prl.dim
         |  GROUP BY prl.pcell),
         |$pdts,
         |adc AS (
         |  SELECT e.vec_id, p.np,
         |    floor(($pqAdcSum) * 1000000 + 0.5) / 1000000 AS adc
         |  FROM e
         |    JOIN cells cl USING (vec_id)
         |    JOIN pr p ON p.cid = cl.cell
         |    $joins
         |  WHERE e.vec_id <> 0),
         |ex10 AS (SELECT vec_id FROM (
         |  SELECT e.vec_id, ${sqlDist("e.x", "q.qv")} AS sd
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY sd ASC, e.vec_id ASC LIMIT $K)),
         |$sweeps
         |$rows
         |ORDER BY nprobe""".stripMargin)
    },
    "knn_ivf_kmeans" ->
      s"""WITH $sqlKmeansCte,
         |ex AS (SELECT e.vec_id, e.x, cl.cell FROM e JOIN cells cl USING (vec_id)),
         |q AS (SELECT x AS qv, cell AS qcell FROM ex WHERE vec_id = 0)
         |SELECT ex.vec_id, ex.cell, ${sqlCos("ex.x", "q.qv")} AS cos
         |FROM ex JOIN q ON ex.cell = q.qcell
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_recall_kmeans" ->
      s"""WITH $sqlKmeansCte,
         |exx AS (SELECT e.vec_id, e.x, cl.cell FROM e JOIN cells cl USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, x AS qv, cell AS qcell FROM exx
         |  WHERE vec_id < 3),
         |ex2 AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, s.vec_id, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${sqlCos("s.x", "q.qv")} DESC, s.vec_id ASC) AS rn
         |  FROM exx s CROSS JOIN q WHERE s.vec_id <> q.query_id) t WHERE rn <= $K),
         |ap AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, s.vec_id, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${sqlCos("s.x", "q.qv")} DESC, s.vec_id ASC) AS rn
         |  FROM exx s JOIN q ON s.cell = q.qcell WHERE s.vec_id <> q.query_id) t
         |  WHERE rn <= $K)
         |SELECT ex2.query_id, CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hit,
         |  floor((CAST(COUNT(ap.vec_id) AS DOUBLE) / $K) * 1000000 + 0.5)
         |    / 1000000 AS recall
         |FROM ex2 LEFT JOIN ap ON ex2.query_id = ap.query_id AND ex2.vec_id = ap.vec_id
         |GROUP BY ex2.query_id ORDER BY ex2.query_id""".stripMargin,
    "embed_power_iter" ->
      """WITH ex AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    unnest(embedding)::DOUBLE AS x,
        |    list_dot_product(embedding::DOUBLE[],
        |      list_transform(range(1, 65), i -> 1.0)) AS s
        |  FROM embeddings),
        |w AS (
        |  SELECT dim, CAST(SUM(CAST(
        |      floor(x * s * 1000000 + 0.5) / 1000000
        |    AS DECIMAL(25,6))) AS DOUBLE) AS w
        |  FROM ex GROUP BY dim),
        |n AS (
        |  SELECT CAST(SUM(CAST(floor(w * w * 1000000 + 0.5) / 1000000
        |    AS DECIMAL(25,6))) AS DOUBLE) AS n2 FROM w)
        |SELECT dim, floor(w * 1000000 + 0.5) / 1000000 AS w,
        |  floor((w / sqrt(n2)) * 1000000 + 0.5) / 1000000 AS v1
        |FROM w CROSS JOIN n ORDER BY dim""".stripMargin,
    "knn_rerank" ->
      s"""WITH s AS (
         |  SELECT vec_id, label, embedding,
         |    CAST($sqlSig AS BIGINT) AS sig FROM embeddings),
         |q AS (SELECT sig AS qsig, embedding AS qv FROM s WHERE vec_id = 0),
         |c AS (
         |  SELECT s.vec_id, s.label,
         |    CAST(bit_count(xor(s.sig, q.qsig)) AS BIGINT) AS hamming,
         |    ${sqlCos("s.embedding", "q.qv")} AS cos
         |  FROM s CROSS JOIN q
         |  WHERE bit_count(xor(s.sig, q.qsig)) <= 20)
         |SELECT vec_id, label, hamming, cos FROM c
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_hamming" ->
      s"""WITH s AS (
         |  SELECT vec_id, label, CAST($sqlSig AS BIGINT) AS sig FROM embeddings),
         |q AS (SELECT sig AS qsig FROM s WHERE vec_id = 0)
         |SELECT vec_id, label,
         |  CAST(bit_count(xor(sig, qsig)) AS BIGINT) AS hamming
         |FROM s CROSS JOIN q
         |ORDER BY hamming ASC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_batch" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |  WHERE vec_id < 3),
         |sc AS (
         |  SELECT q.query_id, e.vec_id, ${sqlCos("e.embedding", "q.qv")} AS cos
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |SELECT query_id, vec_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS rn FROM sc) t
         |WHERE rn <= 5
         |ORDER BY query_id ASC, cos DESC, vec_id ASC""".stripMargin,
    "embed_mrl_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < 3),
         |d(dim) AS (VALUES (8), (16), (32), (64)),
         |tk AS (SELECT dim, query_id, vec_id FROM (
         |  SELECT d.dim, q.query_id, e.vec_id,
         |    row_number() OVER (PARTITION BY d.dim, q.query_id
         |      ORDER BY ${sqlCos("list_slice(e.embedding, 1, d.dim)",
                                  "list_slice(q.qv, 1, d.dim)")} DESC,
         |        e.vec_id ASC) AS rn
         |  FROM embeddings e CROSS JOIN q CROSS JOIN d
         |  WHERE e.vec_id <> q.query_id) t WHERE rn <= $K),
         |tr AS (SELECT query_id, vec_id FROM tk WHERE dim = 64),
         |h AS (SELECT tk.dim, tk.query_id, count(*) AS h
         |  FROM tk JOIN tr USING (query_id, vec_id)
         |  GROUP BY tk.dim, tk.query_id)
         |SELECT d.dim, q.query_id,
         |  CAST(COALESCE(h.h, 0) AS BIGINT) AS n_hit,
         |  floor((CAST(COALESCE(h.h, 0) AS DOUBLE) / $K) * 1000000 + 0.5)
         |    / 1000000 AS recall
         |FROM d CROSS JOIN q
         |LEFT JOIN h ON h.dim = d.dim AND h.query_id = q.query_id
         |ORDER BY d.dim, q.query_id""".stripMargin,
    "knn_recall" ->
      s"""WITH c AS (SELECT vec_id, embedding, $sqlCell AS cell FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, cell AS qcell
         |  FROM c WHERE vec_id < 3),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, c.vec_id, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${sqlCos("c.embedding", "q.qv")} DESC, c.vec_id ASC) AS rn
         |  FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id) t WHERE rn <= $K),
         |ap AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, c.vec_id, row_number() OVER (PARTITION BY q.query_id
         |    ORDER BY ${sqlCos("c.embedding", "q.qv")} DESC, c.vec_id ASC) AS rn
         |  FROM c JOIN q ON c.cell = q.qcell WHERE c.vec_id <> q.query_id) t
         |  WHERE rn <= $K)
         |SELECT ex.query_id, CAST(COUNT(ap.vec_id) AS BIGINT) AS n_hit,
         |  floor((CAST(COUNT(ap.vec_id) AS DOUBLE) / $K) * 1000000 + 0.5)
         |    / 1000000 AS recall
         |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin,
    "embed_dim_stats" ->
      """WITH ex AS (
        |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) / 1000000 AS v
        |  FROM embeddings),
        |m AS (SELECT dim, count(*) AS n,
        |    CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(floor(v * v * 1000000 + 0.5) / 1000000
        |      AS DECIMAL(25,6))) AS DOUBLE) AS sv2
        |  FROM ex GROUP BY dim)
        |SELECT dim, n, floor((sv / n) * 1000000 + 0.5) / 1000000 AS mean,
        |  floor(((sv2 - sv * sv / n) / (n - 1)) * 1000000 + 0.5) / 1000000
        |    AS variance
        |FROM m ORDER BY dim""".stripMargin,
    "embed_centroids" ->
      """WITH ex AS (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) / 1000000 AS v
        |  FROM embeddings)
        |SELECT label, dim, count(*) AS n,
        |  floor((CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) / count(*))
        |    * 1000000 + 0.5) / 1000000 AS centroid
        |FROM ex GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    // Outlier audit: long-form centroids → per-vector snapped squared
    // distance → per-label population moments → snapped z. Every sum is
    // DECIMAL(25,6) over 6-dp-snapped terms, mirroring dsum/r6 exactly.
    "embed_outliers" ->
      """WITH el AS (
        |  SELECT vec_id, label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
        |    floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) / 1000000 AS v
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, dim,
        |    floor((CAST(SUM(CAST(v AS DECIMAL(25,6))) AS DOUBLE) / count(*))
        |      * 1000000 + 0.5) / 1000000 AS c
        |  FROM el GROUP BY label, dim),
        |d2 AS (
        |  SELECT el.vec_id, el.label,
        |    floor(CAST(SUM(CAST(
        |      floor((el.v - cent.c) * (el.v - cent.c) * 1000000 + 0.5) / 1000000
        |      AS DECIMAL(25,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS d2
        |  FROM el JOIN cent USING (label, dim)
        |  GROUP BY el.vec_id, el.label),
        |stats AS (
        |  SELECT label,
        |    floor((CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE) / count(*))
        |      * 1000000 + 0.5) / 1000000 AS mu,
        |    floor(sqrt(greatest(
        |      floor(((CAST(SUM(CAST(floor(d2 * d2 * 1000000 + 0.5) / 1000000
        |                AS DECIMAL(25,6))) AS DOUBLE)
        |        - CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE)
        |          * CAST(SUM(CAST(d2 AS DECIMAL(25,6))) AS DOUBLE) / count(*))
        |        / count(*)) * 1000000 + 0.5) / 1000000,
        |      0.0)) * 1000000 + 0.5) / 1000000 AS sigma
        |  FROM d2 GROUP BY label)
        |SELECT d2.vec_id, d2.label, d2.d2,
        |  CASE WHEN s.sigma > 0
        |    THEN floor((d2.d2 - s.mu) / s.sigma * 1000000 + 0.5) / 1000000
        |    ELSE 0.0 END AS z,
        |  CASE WHEN s.sigma > 0
        |    THEN floor((d2.d2 - s.mu) / s.sigma * 1000000 + 0.5) / 1000000 > 2.0
        |    ELSE FALSE END AS is_outlier
        |FROM d2 JOIN stats s USING (label)
        |ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    greatest(list_aggregate(embedding::DOUBLE[], 'max'),
        |             -list_aggregate(embedding::DOUBLE[], 'min')) AS ma
        |  FROM embeddings)
        |SELECT vec_id,
        |  floor(ma * 1000000 + 0.5) / 1000000 AS maxabs,
        |  array_to_string(list_transform(e, x -> CASE WHEN ma = 0 THEN 0
        |    ELSE CAST(floor(x / (ma / 127.0) + 0.5) AS INTEGER) END), ',') AS q
        |FROM m ORDER BY vec_id""".stripMargin,
    "embed_normalize" ->
      """SELECT vec_id, label,
        |  floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |    * 1000000 + 0.5) / 1000000 AS l2_norm,
        |  floor((embedding[1]::DOUBLE /
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))
        |    * 1000000 + 0.5) / 1000000 AS e1_normed
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "knn_cosine" ->
      s"""SELECT vec_id, label, ${sqlCos("embedding", "qv")} AS cos
         |FROM embeddings,
         |  (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_ivf" ->
      s"""WITH c AS (SELECT vec_id, embedding, $sqlCell AS cell FROM embeddings),
         |q AS (SELECT embedding AS qv, cell AS qcell FROM c WHERE vec_id = 0)
         |SELECT vec_id, CAST(cell AS INT) AS cell, ${sqlCos("embedding", "qv")} AS cos
         |FROM c JOIN q ON cell = qcell
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    "knn_ivf_multiprobe" ->
      s"""WITH c AS (SELECT vec_id, embedding, $sqlCell AS cell FROM embeddings),
         |q0 AS (SELECT embedding AS qv, cell AS qcell0 FROM c WHERE vec_id = 0),
         |q AS (SELECT qv, unnest([qcell0, xor(qcell0, 1), xor(qcell0, 2),
         |                         xor(qcell0, 4), xor(qcell0, 8)]) AS qcell FROM q0)
         |SELECT vec_id, CAST(cell AS INT) AS cell, ${sqlCos("embedding", "qv")} AS cos
         |FROM c JOIN q ON cell = qcell
         |ORDER BY cos DESC, vec_id ASC LIMIT $K""".stripMargin,
    "semantic_dedup" ->
      s"""WITH c AS (SELECT vec_id, embedding, $sqlCell AS cell FROM embeddings),
         |d AS (
         |  SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS rep
         |  FROM c a JOIN c b ON a.cell = b.cell AND a.vec_id > b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.35
         |  GROUP BY a.vec_id)
         |SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
         |  d.rep IS NULL AS keep, COALESCE(d.rep, c.vec_id) AS rep_id
         |FROM c LEFT JOIN d ON c.vec_id = d.vec_id
         |ORDER BY c.vec_id""".stripMargin,
    "embed_neardup" ->
      s"""WITH ${sqlScaledCte(j => 16L * (1L << (j - 1)))},
         |pairs AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${sqlCos("a.embedding", "b.embedding")} AS cos
         |  FROM sc a JOIN sc b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cos DESC, nn_id ASC) AS rn
         |  FROM pairs)
         |SELECT e.vec_id, e.label, r.nn_id, r.cos,
         |  COALESCE(r.cos >= 0.35, false) AS is_dup
         |FROM sc e LEFT JOIN (SELECT * FROM r WHERE rn = 1) r
         |  ON e.vec_id = r.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    "semantic_dedup_scaled" ->
      s"""WITH ${sqlScaledCte(j => 1L << (2 * (j - 1)))},
         |d AS (
         |  SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS rep
         |  FROM sc a JOIN sc b ON a.cell = b.cell AND a.vec_id > b.vec_id
         |  WHERE ${sqlCos("a.embedding", "b.embedding")} >= 0.35
         |  GROUP BY a.vec_id)
         |SELECT sc.vec_id, sc.cell,
         |  d.rep IS NULL AS keep, COALESCE(d.rep, sc.vec_id) AS rep_id
         |FROM sc LEFT JOIN d ON sc.vec_id = d.vec_id
         |ORDER BY sc.vec_id""".stripMargin,
  )
}
