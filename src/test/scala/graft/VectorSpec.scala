package graft

import graft.ops.{Relational, VectorOps}
import org.scalatest.funsuite.AnyFunSuite

/** Vector-search invariants on sf0.001 (SURVEY.md §5.2.5): brute-force
  * ground truth for kNN, IVF result containment, HLL tolerance. */
class VectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  /** Ground-truth cosine top-k computed independently in Scala doubles. */
  private def localTopK(k: Int): Seq[(Long, Double)] = {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[Seq[Float]](1).map(_.toDouble).toArray).toMap
    val q = vecs(0L)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val qn = math.sqrt(dot(q, q))
    vecs.toSeq.map { case (id, v) =>
      // same half-up formula as Tables.r6
      val c = math.floor(dot(v, q) / (math.sqrt(dot(v, v)) * qn) * 1e6 + 0.5) / 1e6
      (id, c)
    }.sortBy { case (id, c) => (-c, id) }.take(k)
  }

  test("knn_cosine matches brute-force ground truth exactly") {
    val got = VectorOps.knnCosine(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toSeq
    assert(got == localTopK(10))
  }

  test("knn_ivf results all lie in the query cell and score identically to brute force") {
    val full = localTopK(Int.MaxValue).toMap
    VectorOps.knnIvf(spark, sf).collect().foreach { r =>
      val (id, c) = (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))
      assert(math.abs(full(id) - c) < 1e-9, s"vec $id score drift")
    }
  }

  test("multi-probe IVF result contains the single-probe result (recall monotonicity)") {
    val single = VectorOps.knnIvf(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    val multi = VectorOps.knnIvfMultiprobe(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).toMap
    // every single-probe hit scoring >= the multi-probe cutoff must appear
    val cutoff = multi.values.min
    single.filter(_._2 > cutoff).foreach { case (id, c) =>
      assert(multi.get(id).contains(c), s"vec $id lost by widening the probe set")
    }
  }

  test("embed_quantize: int8 range and dequantization error bounded by scale/2") {
    val src = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val rows = VectorOps.embedQuantize(spark, sf).collect()
    assert(rows.length == src.size)
    rows.foreach { r =>
      val x = src(r.getLong(0))
      val q = r.getString(2).split(",").map(_.toInt).toSeq
      assert(q.length == x.length)
      val scale = x.map(math.abs).max / 127.0
      q.foreach(v => assert(math.abs(v) <= 127, s"|$v| > 127"))
      q.zip(x).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-12,
          s"dequant error for $xi at scale $scale")
      }
    }
  }

  test("percentile_approx stays within 2% of exact interpolated percentiles") {
    // calibration-audit form: the ±2% check runs inside the query as
    // `approx_ok`; the exact columns must agree with aggPercentile.
    val audited = Relational.aggApproxPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)), r.getBoolean(3))).toMap
    val exact = Relational.aggPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (p50, p95)) =>
      assert(audited(k)._1 == ((p50, p95)), s"$k exact drift: ${audited(k)._1} vs ($p50,$p95)")
      assert(audited(k)._2, s"$k approx_ok=false")
    }
  }

  test("semantic_dedup invariants: rep ids point down, kept are self-reps, drops exist") {
    import org.apache.spark.sql.functions.col
    val out = VectorOps.semanticDedup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, keep, rep) = (r.getAs[Number]("vec_id").longValue,
        r.getBoolean(2), r.getAs[Number]("rep_id").longValue)
      if (keep) assert(rep == id, s"kept $id has foreign rep $rep")
      else assert(rep < id, s"dropped $id must point to a LOWER-id rep, got $rep")
    }
    // the fixture threshold must exercise both branches (a 0-drop pass
    // would be the '0 rows hash-matches 0-row oracle' trap)
    assert(out.count(!_.getBoolean(2)) > 0, "no drops — threshold inert on fixture")
  }

  test("semantic_dedup_scaled: same keep invariants, cell count tracks √n (L19b)") {
    import org.apache.spark.sql.functions.col
    val out = VectorOps.semanticDedupScaled(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, keep, rep) = (r.getAs[Number]("vec_id").longValue,
        r.getBoolean(2), r.getAs[Number]("rep_id").longValue)
      if (keep) assert(rep == id, s"kept $id has foreign rep $rep")
      else assert(rep < id, s"dropped $id must point to a LOWER-id rep, got $rep")
    }
    assert(out.count(!_.getBoolean(2)) > 0, "no drops — threshold inert on fixture")
    // cells ≈ √n: bit width B is the least with 4^B ≥ n, so 2^B ∈ [√n, 2√n)
    val n = out.length
    val nBitsUsed = out.map(_.getAs[Number]("cell").longValue).max
    val b = 64 - java.lang.Long.numberOfLeadingZeros(nBitsUsed) // highest set bit + 1
    assert((1L << b) >= math.sqrt(n).toLong && (1L << b) < 4 * math.sqrt(n),
      s"cell-id bit width $b off the √n rule for n=$n")
  }

  test("scaled near-dup candidate pairs grow ~linearly in n (4× corpus ⇒ ≤8× pairs)") {
    import org.apache.spark.sql.functions.col
    def pairs(dir: String): (Long, Long) = {
      val e = VectorOps.neardupCells(Tables.embeddings(spark, dir))
      val n = e.count()
      val p = e.as("a").join(e.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .count()
      (n, p)
    }
    val (nSmall, pSmall) = pairs(TestSpark.Sf0001)       // 500 vectors
    val (nBig, pBig) = pairs("/root/testdata/sf0.1")     // 2000 vectors
    assert(nBig >= 4 * nSmall, s"fixture drift: $nSmall vs $nBig")
    // quadratic (fixed buckets) would give (nBig/nSmall)² = 16×; the
    // corpus-scaled buckets must hold the growth near-linear
    assert(pBig.toDouble / pSmall <= 2.0 * nBig / nSmall,
      s"pair volume superlinear: $pSmall → $pBig for $nSmall → $nBig vectors")
  }

  test("embed_neardup covers every vector and finds fixture duplicates") {
    val out = VectorOps.embedNeardup(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(out.length == n, "near-dup report must cover the whole corpus")
    assert(out.exists(_.getAs[Boolean]("is_dup")), "no dups — gate inert on fixture")
    // true near-dups (cos ≥ τ) share every sign bit, so the bucket gate
    // can't lose them; flagged rows must carry a real neighbour
    out.filter(_.getAs[Boolean]("is_dup")).foreach { r =>
      assert(!r.isNullAt(r.fieldIndex("nn_id")) && r.getAs[Double]("cos") >= 0.35)
    }
  }

  test("ann_index_append: delta codes equal an independent local re-encode (L3j)") {
    import org.apache.spark.sql.functions.col
    VectorOps.annIndexAppend(spark, sf).collect() // runs the append write
    val ix = ops.IvfPqIndex.ensureBase(spark, sf)
    def r6l(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def dotl(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def sq(a: Array[Double], b: Array[Double]) =
      r6l(dotl(a, a) - 2 * dotl(a, b) + dotl(b, b))
    val coarse = spark.read.parquet(ix.coarse).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Seq[Double]]("cv").toArray).toMap
    val books = spark.read.parquet(ix.ivfCodebooks).collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Long]("cid")) ->
        r.getAs[Seq[Double]]("cv").toArray).toMap
    val batch = Tables.embeddings(spark, sf).filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getAs[Seq[Double]](1).toArray)
    val delta = spark.read.parquet(s"${ix.root}/ivfpq_codes_delta").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) ->
        ((r.getAs[Long]("cell"), r.getAs[Long]("code")))).toMap
    assert(batch.nonEmpty && delta.size == batch.length * VectorOps.PqM)
    batch.foreach { case (id, x) =>
      val cell = coarse.minBy { case (cid, cv) => (sq(x, cv), cid) }._1
      val cv = coarse(cell)
      val resid = x.indices.map(i => r6l(x(i) - cv(i))).toArray
      (0 until VectorOps.PqM).foreach { m =>
        val sub = resid.slice(m * VectorOps.PqSub, (m + 1) * VectorOps.PqSub)
        val code = books.toSeq.collect { case ((mm, cid), bcv) if mm == m => cid -> bcv }
          .minBy { case (cid, bcv) => (sq(sub, bcv), cid) }._1
        assert(delta((id, m)) == ((cell, code)), s"vec $id subspace $m drifted")
      }
    }
    // and the held-out batch is absent from the BASE artifact by construction
    val baseIds = spark.read.parquet(ix.cells).collect().map(_.getLong(0)).toSet
    assert(batch.forall { case (id, _) => !baseIds.contains(id) })
  }

  test("ann_index_compact: content == base+delta exactly, one file per cell (L3k)") {
    import org.apache.spark.sql.functions.col
    VectorOps.annIndexCompact(spark, sf).collect()
    // the in-place fold ran on the key's own copy of the base root; the
    // shared base root keeps its codes and delta as built
    val base = ops.IvfPqIndex.ensureBase(spark, sf)
    val own = ops.IvfPqIndex.Ix(ops.Artifacts.root("annix_v1_compact", sf, "embeddings.parquet"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val delta = spark.read.parquet(base.ivfCodesDelta).select("vec_id", "m", "code", "cell")
    assert(delta.count() > 0)
    assert(rows(spark.read.parquet(own.ivfCodes).select("vec_id", "m", "code", "cell")) ==
      rows(spark.read.parquet(base.ivfCodes).select("vec_id", "m", "code", "cell")
        .unionByName(delta)),
      "folded codes must be the exact base+delta multiset")
    assert(rows(spark.read.parquet(own.cells).select("vec_id", "cell")) ==
      rows(spark.read.parquet(base.cells).select("vec_id", "cell")
        .unionByName(delta.filter(col("m") === 0).select("vec_id", "cell"))),
      "folded cells must hold the appended memberships")
    assert(!new java.io.File(own.ivfCodesDelta).exists(), "the folded delta must be gone")
    assert(new java.io.File(own.root, "_SUCCESS").isFile, "the fold must recommit the root")
    // compaction folded each cell to ONE data file
    new java.io.File(own.ivfCodes).listFiles()
      .filter(_.getName.startsWith("pcell=")).foreach { d =>
        val n = d.listFiles().count(f => f.getName.endsWith(".parquet") && f.length > 0)
        assert(n == 1, s"${d.getName}: $n files after compaction")
      }
  }

  test("ann_index_compact and ann_index_delete leave the shared fixture roots pristine; ann_index_append still reports its batch") {
    /** One family: its in-place keys leave every table stamp under the
      * shared `roots` unchanged, and its append key still returns the
      * rows it returned before them. */
    def pristine(roots: Seq[String], tables: Seq[String],
                 mutating: Seq[() => org.apache.spark.sql.DataFrame],
                 append: () => org.apache.spark.sql.DataFrame): Unit = {
      val reference = append().collect().map(_.toString).sorted.toSeq
      assert(reference.nonEmpty)
      def stamps(): Map[String, Option[Long]] = roots.flatMap(root =>
        new java.io.File(root).listFiles().map(f => f.getPath -> ops.IndexFs.shallowStamp(f.getPath))).toMap
      val before = stamps()
      tables.foreach(t => assert(before.contains(t), s"$t missing from the stamped set"))
      mutating.foreach(_().collect())
      assert(stamps() == before, "a mutating key touched a shared fixture root")
      assert(append().collect().map(_.toString).sorted.toSeq == reference,
        "the append key must still report its batch as new")
    }
    val full = ops.IvfPqIndex.ensure(spark, sf)
    val base = ops.IvfPqIndex.ensureBase(spark, sf)
    ops.IvfPqIndex.ensureDelta(spark, sf, base)
    pristine(Seq(full.root, base.root),
      Seq(base.ivfCodes, base.cells, base.ivfCodesDelta, full.ivfCodes, full.cells),
      Seq(() => VectorOps.annIndexCompact(spark, sf), () => VectorOps.annIndexDelete(spark, sf)),
      () => VectorOps.annIndexAppend(spark, sf))
    val mhFull = ops.MinhashIndex.ensure(spark, sf)
    val mhBase = ops.MinhashIndex.ensureBase(spark, sf)
    ops.MinhashIndex.ensureDelta(spark, sf, mhBase)
    pristine(Seq(mhFull.root, mhBase.root),
      Seq(mhBase.bands, mhBase.delta, mhBase.fine, mhBase.subKeys,
        mhFull.bands, mhFull.fine, mhFull.subKeys),
      Seq(() => ops.DedupOps.dedupIndexCompact(spark, sf),
        () => ops.DedupOps.dedupIndexDelete(spark, sf)),
      () => ops.DedupOps.dedupIndexAppend(spark, sf))
  }

  test("PQ shortlist+rerank recalls the exact-L2 top-10 well above chance (L3g)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val q = e.filter(col("vec_id") === 0).select(col("x").as("qv"))
    val d = graft.functions.VectorFunctions.graftDot _
    val exact = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (d(col("x"), col("x")) - lit(2) * d(col("x"), col("qv")) +
          d(col("qv"), col("qv"))).as("sd"))
      .orderBy(col("sd").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    val pq = VectorOps.knnPq(spark, sf).collect()
    assert(pq.length == 10)
    // rerank output is sorted by exact shortlist distance
    val sds = pq.map(_.getDouble(3))
    assert(sds.zip(sds.tail).forall { case (a, b) => a <= b })
    // chance overlap of a 50-of-499 shortlist is ~1/10; require >= 4
    val hits = pq.map(_.getLong(0)).toSet.intersect(exact).size
    assert(hits >= 4, s"PQ recall@10 collapsed: $hits/10")
  }

  test("IVF+PQ: all answers come from the query's coarse cell and reranks sort exactly (L3h)") {
    import org.apache.spark.sql.functions._
    val rows = VectorOps.knnIvfPq(spark, sf).collect()
    assert(rows.length == 10)
    assert(!rows.map(_.getLong(0)).contains(0L)) // query never answers itself
    // rerank output sorted by exact distance, vec_id tie-break
    val sds = rows.map(_.getDouble(3))
    assert(sds.zip(sds.tail).forall { case (a, b) => a <= b })
    // IVF contract: every answer sits in the SAME learned coarse cell as
    // the query — recompute the coarse assignment independently and check
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("x"))
    val cells = VectorOps.assignCells(e, VectorOps.kmeansCentroids(e, 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qcell = cells(0L)
    rows.foreach(r => assert(cells(r.getLong(0)) == qcell,
      s"vec ${r.getLong(0)} from cell ${cells(r.getLong(0))}, probe cell $qcell"))
  }

  test("multiprobe IVF+PQ recall is monotone in nprobe (L5e)") {
    val rows = VectorOps.knnRecallIvfPq(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2))
    rows.foreach { case (np, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 10, s"nprobe $np: n_hit $nHit out of range")
      assert(math.abs(recall - nHit / 10.0) < 1e-9)
    }
    // a second probe can only widen the candidate set
    assert(rows(1)._2 >= rows(0)._2, s"recall fell as probes grew: $rows")
  }

  test("PQ recall harness: recall grows (weakly) with shortlist size and brackets knn_pq (L5d)") {
    val rows = VectorOps.knnRecallPq(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(20, 50))
    rows.foreach { case (sz, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 10, s"shortlist $sz: n_hit $nHit out of range")
      assert(math.abs(recall - nHit / 10.0) < 1e-9)
    }
    // a larger shortlist can only add candidates before the exact rerank
    assert(rows(1)._2 >= rows(0)._2,
      s"recall fell as the shortlist grew: $rows")
  }

  test("k-means IVF recall@10 beats the sign grid at equal probe count (L3f)") {
    val grid = VectorOps.knnRecall(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val km = VectorOps.knnRecallKmeans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(km.keySet == grid.keySet)
    assert(km.values.sum > grid.values.sum,
      s"learned centroids did not improve total hits: $km vs $grid")
  }

  test("ann_index_delete: content == anti-join; untouched cell partitions byte-identical (L3m)") {
    import org.apache.spark.sql.functions._
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    val live = s"${ix.root}/ivfpq_codes_live_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(live))
    spark.read.parquet(ix.ivfCodes).drop("pcell")
      .withColumn("pcell", col("cell"))
      .repartition(col("pcell"))
      .write.mode("overwrite").partitionBy("pcell").parquet(live)
    def listing(): Map[String, Map[String, Long]] =
      new java.io.File(live).listFiles().filter(_.getName.startsWith("pcell="))
        .map(d => d.getName -> d.listFiles()
          .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
          .map(f => f.getName -> f.length).toMap).toMap
    val before = listing()
    val del = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 29 === 0).select("vec_id")
    val delIds = del.collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    val affectedCells = spark.read.parquet(live)
      .filter(col("vec_id").isin(delIds.toSeq: _*))
      .select("cell").distinct().collect().map(r => s"pcell=${r.getLong(0)}").toSet
    assert(affectedCells.nonEmpty && affectedCells.size < before.size,
      "fixture must leave some cells untouched for the pruning claim")
    ops.IvfPqIndex.deleteFromCodes(spark, live, del)
    val after = listing()
    // untouched partitions: identical file name→length maps (no rewrite)
    (before.keySet -- affectedCells).foreach { p =>
      assert(after(p) == before(p), s"$p was rewritten but contains no deleted vector")
    }
    // affected partitions were rewritten (fresh part files)
    affectedCells.foreach(p =>
      assert(after(p).keySet.intersect(before(p).keySet).isEmpty, s"$p kept stale files"))
    // content: exactly the anti-join survivors, nothing lost or duplicated
    val got = spark.read.parquet(live).drop("pcell")
    val want = spark.read.parquet(ix.ivfCodes).drop("pcell")
      .filter(!col("vec_id").isin(delIds.toSeq: _*))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "post-delete content must be the exact survivor multiset")
  }

  test("deleteFromCodes: emptying a whole cell throws toward a catalog DROP PARTITION (L3m)") {
    import org.apache.spark.sql.functions._
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    val live = s"${ix.root}/ivfpq_codes_live_guard"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(live))
    spark.read.parquet(ix.ivfCodes).drop("pcell")
      .withColumn("pcell", col("cell"))
      .repartition(col("pcell"))
      .write.mode("overwrite").partitionBy("pcell").parquet(live)
    // deletion list = EVERY vector of one cell — dynamic overwrite could
    // never drop that directory, so the rewrite must refuse loudly
    val cell0 = spark.read.parquet(live).select("cell").head().getLong(0)
    val del = spark.read.parquet(live)
      .filter(col("cell") === cell0).select("vec_id").distinct()
    assert(del.count() > 0)
    val e = intercept[IllegalArgumentException](
      ops.IvfPqIndex.deleteFromCodes(spark, live, del))
    assert(e.getMessage.contains("catalog"), e.getMessage)
  }

  test("ann_index_stats: summary derives exactly from the stored tables (L3k)") {
    val row = VectorOps.annIndexStats(spark, sf).collect().head
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    val sizes = spark.read.parquet(ix.cells).groupBy("cell").count()
      .collect().map(_.getLong(1))
    assert(row.getAs[Long]("n_cells") == sizes.length)
    assert(row.getAs[Long]("n_vecs") == sizes.sum)
    assert(row.getAs[Long]("min_cell") == sizes.min)
    assert(row.getAs[Long]("max_cell") == sizes.max)
    assert(row.getAs[Long]("empty_cells") == 16 - sizes.length)
    assert(row.getAs[Long]("n_codes") == sizes.sum * VectorOps.PqM,
      "encode contract: exactly PqM codes per stored vector")
    val imb = row.getAs[Double]("imbalance")
    assert(imb >= 1.0 - 1e-9 && // max/mean is ≥ 1 by definition
      math.abs(imb - math.floor(sizes.max.toDouble * sizes.length / sizes.sum * 1e6 + 0.5) / 1e6) < 1e-9)
  }

  test("embed_outliers: z-scores match a local snapped model; flags = z > 2 (L19d)") {
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // exact 6-dp decimal, mirroring the DECIMAL(25,6) cast in Tables.dsum
    def dec(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Seq[Float]](2).map(f => snap(f.toDouble)).toArray))
    val byLabel = rows.groupBy(_._2)
    val model = byLabel.flatMap { case (_, vs) =>
      val dim = vs.head._3.length
      val cent = (0 until dim).map(d =>
        snap(vs.map(v => dec(v._3(d))).sum.toDouble / vs.size)).toArray
      val d2s = vs.map { case (id, _, x) =>
        id -> snap(x.indices.map(i => dec(snap((x(i) - cent(i)) * (x(i) - cent(i)))))
          .sum.toDouble) }
      val mu = snap(d2s.map(p => dec(p._2)).sum.toDouble / d2s.size)
      val ex2 = d2s.map(p => dec(snap(p._2 * p._2))).sum.toDouble
      val sumd = d2s.map(p => dec(p._2)).sum.toDouble
      val sigma = snap(math.sqrt(math.max(0.0,
        snap((ex2 - sumd * sumd / d2s.size) / d2s.size))))
      d2s.toSeq.map { case (id, d2) =>
        id -> ((d2, if (sigma > 0) snap((d2 - mu) / sigma) else 0.0)) }
    }.toMap
    val got = ops.VectorOps.embedOutliers(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("d2"), r.getAs[Double]("z"), r.getAs[Boolean]("is_outlier")))
    assert(got.length == rows.length)
    got.foreach { case (id, (d2, z, flag)) =>
      val (md2, mz) = model(id)
      assert(math.abs(d2 - md2) < 1e-9, s"vec $id d2 drift: $d2 vs $md2")
      assert(math.abs(z - mz) < 1e-9, s"vec $id z drift: $z vs $mz")
      assert(flag == (z > 2.0))
    }
    assert(got.exists(_._2._3) || got.forall(!_._2._3), "flags well-defined")
  }

  test("knn_filtered: predicate holds, scores exact, recalls the filtered truth (L3l)") {
    val got = VectorOps.knnFiltered(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"), r.getAs[Double]("cos")))
    assert(got.length == 10)
    assert(got.forall(_._2 % 2 == 1), "every hit must satisfy the label predicate")
    assert(!got.exists(_._1 == 0L), "the query vector must be excluded")
    assert(got.map(-_._3).toSeq == got.map(-_._3).sorted.toSeq, "descending by cosine")
    // scores are exact cosines (probe never approximates the metric) ...
    val full = localTopK(Int.MaxValue).toMap
    got.foreach { case (id, _, c) => assert(math.abs(full(id) - c) < 1e-9) }
    // ... and the 4/16-cell probe recalls most of the global filtered top-10
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val truth = localTopK(Int.MaxValue)
      .filter { case (id, _) => id != 0L && labels(id) % 2 == 1 }
      .take(10).map(_._1).toSet
    val recall = got.count(g => truth(g._1)) / 10.0
    assert(recall >= 0.5, s"filtered recall@10 $recall below the 4-probe floor")
  }

  test("approx_count_distinct stays within 5% of exact (A3 tolerance)") {
    // calibration-audit form: the ±5% check runs inside the query as
    // `approx_ok`; the exact column must agree with aggCountDistinct.
    val audited = Relational.aggApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val exact = Relational.aggCountDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(audited(k)._1 == n, s"group $k: exact drift ${audited(k)._1} vs $n")
      assert(audited(k)._2, s"group $k: approx_ok=false")
    }
  }

  test("ann_index_split + knn_ivf_split: planted hot cell's probe pool shrinks, top-10 unchanged (L3n/L3o, VERDICT r11 #3)") {
    import org.apache.spark.sql.functions._
    // Planted corpus (dim 16, divisible by the PqM=8 build constraint):
    // vec 0 = the query at a base point; vecs 1-15 scattered FAR apart so
    // the 16 lowest-id k-means seeds spread (one inside the cluster, 15
    // out); vecs 16-25 "twins" (query + tiny noise — the true top-10);
    // vecs 26-215 cluster mates (moderate noise); vecs 216-315 scattered.
    // The 201-vector cluster lands in ONE learned cell >= SplitHotSize.
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = Array.fill(dim)(rnd.nextGaussian() * 0.1 + 0.5)
    def jitter(s: Double) = base.map(v => (v + rnd.nextGaussian() * s).toFloat)
    def scattered() = Array.fill(dim)((rnd.nextGaussian() * 2.0).toFloat)
    val rows =
      Seq((0L, base.map(_.toFloat))) ++
      (1L to 15L).map(id => (id, scattered())) ++
      (16L to 25L).map(id => (id, jitter(0.001))) ++
      (26L to 215L).map(id => (id, jitter(0.05))) ++
      (216L to 315L).map(id => (id, scattered()))
    val dir = java.nio.file.Files.createTempDirectory("graft_annsplit").toString
    val sq = spark; import sq.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("label", (col("vec_id") % 7).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // manifest: some hot cell exists and carries the cluster
    val manifest = VectorOps.annIndexSplit(spark, dir).collect()
    assert(manifest.nonEmpty, "planted corpus must surface a hot cell")
    manifest.foreach { r =>
      assert(r.getAs[Long]("n_sub") >= 1L &&
        r.getAs[Long]("n_sub") <= ops.IvfPqIndex.SplitSubK.toLong)
      assert(r.getAs[Long]("max_sub") <= r.getAs[Long]("n_vecs"))
    }
    assert(manifest.exists(_.getAs[Long]("n_vecs") >= 200L),
      "the planted cluster must sit in one hot cell")

    // probe pool: the query's cell is hot, and the stored sub-cell scan
    // (SplitProbes sub-cells — what knnIvfSplit's partition-pruned scan
    // reads) is strictly smaller than the whole-cell scan.
    val ixRoot = graft.ops.Artifacts.root("annix_v1", dir, "embeddings.parquet")
    val cells = spark.read.parquet(s"$ixRoot/cells")
    val qcell = cells.filter(col("vec_id") === 0).collect()(0).getLong(1)
    val cellSize = cells.filter(col("cell") === qcell).count()
    assert(cellSize >= ops.IvfPqIndex.SplitHotSize, "query's cell must be hot")
    val splitCells = spark.read.parquet(s"$ixRoot/cells_split")
      .filter(col("cell") === qcell)
    val bySub = splitCells.groupBy("scid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val worstPool = bySub.values.toSeq.sorted.reverse
      .take(ops.IvfPqIndex.SplitProbes).sum
    assert(worstPool < cellSize,
      s"split probe pool ($worstPool) must shrink below the cell scan ($cellSize)")

    // recall@10 unchanged: the split probe returns exactly the top-10 an
    // exact whole-cell scan returns (which here contains the true
    // brute-force top-10 — the twins).
    val cellIds = cells.filter(col("cell") === qcell)
      .collect().map(_.getLong(0)).toSet
    val vecs = rows.toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6 + 0.5) / 1e6
    }
    val q = vecs(0L)
    val fullCellTop = cellIds.toSeq.map(id => (id, cos(vecs(id), q)))
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val probed = VectorOps.knnIvfSplit(spark, dir).collect().map(_.getLong(0)).toSeq
    assert(probed == fullCellTop,
      "the split probe's top-10 must equal the exact whole-cell top-10")
    val bruteTop = rows.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    assert(probed.toSet == bruteTop.toSet,
      "recall@10 must be unchanged by the split (true neighbors recovered)")

    // crash window BETWEEN split-marker retire and recommit (the r11
    // marker-seam pattern applied to the new side-tables): marker gone +
    // one cells_split partition missing must read as "no split" and the
    // next probe must REBUILD to pristine content, never serve the
    // partial table.
    val pristine = spark.read.parquet(s"$ixRoot/cells_split")
      .collect().map(_.toString).sorted
    assert(new java.io.File(ixRoot, "_split_SUCCESS").isFile)
    assert(new java.io.File(ixRoot, "_split_SUCCESS").delete())
    val parts = new java.io.File(s"$ixRoot/cells_split").listFiles()
      .filter(_.getName.startsWith("pcell="))
    assert(parts.nonEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(parts.head)
    val reprobed = VectorOps.knnIvfSplit(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(reprobed == probed,
      "a post-crash probe must rebuild the split, not serve the partial table")
    assert(new java.io.File(ixRoot, "_split_SUCCESS").isFile,
      "the rebuild must recommit the split marker")
    val rebuilt = spark.read.parquet(s"$ixRoot/cells_split")
      .collect().map(_.toString).sorted
    assert(rebuilt.sameElements(pristine),
      "deterministic Lloyd: the rebuilt split must equal the pristine one")
  }

  test("knn_ivf_pq_delta: an APPENDED vector is findable without a compact; compact serves byte-identical results (VERDICT r12 #1)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // planted corpus (dim 64 = PqM*PqSub): vec 0 = the query; vec 7
    // (7 % 10 == 7 → the held-out APPEND slice) = a near-duplicate of
    // the query; the rest scattered. Before the resolver existed, 7 was
    // in no stored code table a base-family probe read.
    val rnd = new scala.util.Random(19)
    val q = Array.fill(64)(rnd.nextGaussian() * 0.2 + 1.0)
    val rows =
      Seq((0L, 0L, q.map(_.toFloat))) ++
      Seq((7L, 7L, q.map(v => (v + rnd.nextGaussian() * 0.01).toFloat))) ++
      (1L to 60L).filter(i => i != 7L).map(id =>
        (id, id % 10, Array.fill(64)((rnd.nextGaussian() * 2.0).toFloat)))
    val dir = java.nio.file.Files.createTempDirectory("graft_annvsdelta").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // 1. NO maintenance op has run: the probe resolves base ∪ ensured
    // delta, so the appended near-duplicate must rank first.
    val got1 = VectorOps.knnIvfPqDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got1.nonEmpty && got1.head._1 == 7L,
      s"the appended near-duplicate must top the rerank: ${got1.toSeq}")

    // 2. compact the base root in place through the facade → the delta
    // is gone and the folded base serves byte-identical results; the
    // probe's re-ensured delta is EMPTY (the append skips ids the folded
    // cells hold), not a duplicate of the folded batch.
    val ix = ops.IvfPqIndex.ensureBase(spark, dir)
    graft.api.GraftAPI.annIndexCompact(spark, ix.root).count()
    assert(!new java.io.File(ix.ivfCodesDelta).exists(), "the fold must remove the delta")
    assert(spark.read.parquet(ix.cells).filter(col("vec_id") === 7L).count() == 1L,
      "the fold must move the appended vector into cells")
    val got2 = VectorOps.knnIvfPqDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got2.sameElements(got1),
      "probe results must be byte-identical before/after compact")
    assert(spark.read.schema(ops.IvfPqIndex.codesSchema).parquet(ix.ivfCodesDelta).count() == 0L,
      "the re-ensured delta must be empty, not a duplicate of the folded batch")
    val got3 = VectorOps.knnIvfPqDelta(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(got3.sameElements(got1),
      "the folded base must keep serving the probe on its own")
  }
}
