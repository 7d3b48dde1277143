package graft

import graft.ops.{DedupOps, MinhashIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-8 additions: the persisted MinHash index lifecycle and the
  * token-entropy quality signal. */
class Round8OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("build_minhash_index: stored postings multiset-equal the in-memory band table") {
    val ix = MinhashIndex.ensure(spark, sf)
    val stored = spark.read.parquet(ix.bands)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val mem = DedupOps.dedupMinhash(spark, sf)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(stored.nonEmpty && stored.sameElements(mem),
      s"stored index (${stored.length} rows) != in-memory band table (${mem.length})")
  }

  test("build_minhash_index manifest: one key per (doc, band) => n_postings == n_docs") {
    val rows = DedupOps.buildMinhashIndex(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (postings, docs, keys) = (r.getLong(2), r.getLong(3), r.getLong(1))
      assert(postings == docs, s"band ${r.getInt(0)}: $postings postings != $docs docs")
      assert(keys <= docs && keys > 0)
    }
  }

  test("minhash index build is idempotent: a second ensure does not rewrite") {
    val ix = MinhashIndex.ensure(spark, sf)
    val marker = new java.io.File(ix.root, "_SUCCESS")
    val t0 = marker.lastModified
    val files0 = new java.io.File(ix.bands).listFiles().map(_.getName).toSet
    val ix2 = MinhashIndex.ensure(spark, sf)
    assert(ix2.root == ix.root)
    assert(marker.lastModified == t0, "second ensure must not touch the marker")
    assert(new java.io.File(ix.bands).listFiles().map(_.getName).toSet == files0)
  }

  test("dedup_index_append: delta postings == in-memory batch bands; manifest splits at the cutoffs") {
    val manifest = DedupOps.dedupIndexAppend(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val mem = DedupOps.dedupMinhash(spark, sf)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // three-slice model (r13): base < 400, delta = [400, 450)
    manifest.foreach { case (b, nBase, nNew) =>
      assert(nBase == mem.count(r => r._2 == b && r._1 < 400))
      assert(nNew == mem.count(r => r._2 == b && r._1 >= 400 && r._1 < 450))
      assert(nBase > 0 && nNew > 0)
    }
    val ix = graft.ops.MinhashIndex.ensureBase(spark, sf)
    val delta = spark.read.parquet(ix.delta)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(delta.sameElements(mem.filter(r => r._1 >= 400 && r._1 < 450).sorted))
  }

  test("dedup_index_compact: compacted manifest == recomputed banding of docs < AppendCutoff, one file per band") {
    val got = DedupOps.dedupIndexCompact(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val mem = DedupOps.dedupMinhash(spark, sf)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .filter(_._1 < 450)
    val want = mem.groupBy(_._2).map { case (b, rows) =>
      (b, rows.map(_._3).distinct.length.toLong, rows.length.toLong,
        rows.map(_._1).distinct.length.toLong)
    }.toSeq.sortBy(_._1)
    assert(got.nonEmpty && got.toSeq == want,
      "base ∪ delta must reproduce the banding of docs < AppendCutoff exactly")
    // the fold ran in place on the key's own copy of the base root, one
    // file per (band, ingest batch) directory
    val copy = graft.ops.MinhashIndex.Ix(
      graft.ops.Artifacts.root("mhix_v3_compact", sf, "documents.parquet"))
    assert(!new java.io.File(copy.delta).exists(), "the fold must remove the folded generations")
    val dirs = new java.io.File(copy.bands).listFiles().filter(_.getName.startsWith("pband="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("pbatch=")))
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getParentFile.getName}/${d.getName}: expected exactly one file after compaction")
    }
  }

  test("dedup_incremental (stored index) == the in-memory formulation") {
    // The raw-hit in-memory form, recomputed from the public band table.
    // (At this fixture the raw and fine-union rules agree — every batch
    // doc that raw-hits a hot bucket also matches on sub_key or hits a
    // cold bucket, verified externally; the planted-corpus DedupSpec
    // test is where the two rules diverge and the fine rule is pinned.)
    // Three-slice model (r13): index = docs < 450 (base ∪ delta — the
    // resolver content), batch = docs >= 450.
    val bands = DedupOps.dedupMinhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val idx = bands.collect { case (d, b, k) if d < 450 => (b, k) }.toSet
    val batch = bands.filter(_._1 >= 450)
    val expected = batch.map(_._1).distinct.sorted
      .map(d => d -> batch.exists(r => r._1 == d && idx((r._2, r._3)))).toMap
    val got = DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == expected)
    assert(got.values.exists(identity), "fixture should flag at least one dup")
    assert(got.values.exists(!_), "fixture should keep at least one non-dup")
    // the vsdelta probe agrees on is_dup and its base-only leg is sound:
    // via_delta rows are exactly those whose every hit lies in [400, 450)
    val idx0 = bands.collect { case (d, b, k) if d < 400 => (b, k) }.toSet
    val expected0 = batch.map(_._1).distinct.sorted
      .map(d => d -> batch.exists(r => r._1 == d && idx0((r._2, r._3)))).toMap
    val vs = DedupOps.dedupIncrementalVsdelta(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(vs.view.mapValues(_._1).toMap == got,
      "vsdelta must agree with dedup_incremental on is_dup")
    vs.foreach { case (d, (dup, via)) =>
      assert(via == (dup && !expected0(d)),
        s"doc $d: via_delta $via vs dup=$dup baseOnly=${expected0(d)}")
    }
  }

  test("text_token_entropy matches a local snapped recompute; bounds hold") {
    val local = Tables.documents(spark, sf).select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).toLowerCase.split(" ").toSeq
      val n = toks.size.toDouble
      val counts = toks.groupBy(identity).map(_._2.size)
      def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val h = counts.map(c => snap(c / n * math.log(n / c))).sum
      r.getLong(0) -> (toks.size.toLong, counts.size.toLong, snap(h))
    }.toMap
    val rows = TextOps.textTokenEntropy(spark, sf).collect()
    assert(rows.length == local.size)
    rows.foreach { r =>
      val (nTok, nTyp, h, hn) =
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
      val (eTok, eTyp, eH) = local(r.getLong(0))
      assert(nTok == eTok && nTyp == eTyp)
      assert(math.abs(h - eH) < 2e-6, s"doc ${r.getLong(0)}: $h vs $eH")
      assert(h >= 0 && hn >= 0 && hn <= 1 + 1e-9)
      if (nTyp > 1) // hn is snapped+clamped from the UNsnapped decimal sum,
        // h is the snapped sum — allow both snap quanta of drift
        assert(math.abs(hn - math.min(1.0, h / math.log(nTyp.toDouble))) < 5e-6)
    }
  }

  test("embed_mrl_recall matches a local brute-force recompute; dim=64 is the control") {
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      snap(dp / (math.sqrt(na) * math.sqrt(nb)))
    }
    val dims = Seq(8, 16, 32, 64)
    val queries = vecs.keys.filter(_ < 3).toSeq.sorted
    val topk: Map[(Int, Long), Set[Long]] = (for { d <- dims; q <- queries } yield {
      val ranked = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(v, vecs(q), d)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
      (d, q) -> ranked
    }).toMap
    val got = graft.ops.VectorOps.embedMrlRecall(spark, sf).collect()
    assert(got.length == dims.size * queries.size)
    got.foreach { r =>
      val (d, q, nHit, rec) = (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val expect = (topk((d, q)) & topk((64, q))).size.toLong
      assert(nHit == expect, s"dim=$d query=$q: $nHit vs $expect")
      assert(rec == snap(expect / 10.0))
      if (d == 64) assert(nHit == 10 && rec == 1.0)
    }
    // the audit has signal on the fixture: SOME prefix loses recall
    assert(got.exists(r => r.getLong(2) < 10))
  }

  test("corpus_dedup_funnel: monotone, self-consistent, final stage == pipeline output") {
    val rows = graft.ops.PipelineOps.corpusDedupFunnel(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (0 to 5))
    assert(rows.head._3 == Tables.documents(spark, sf).count())
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"funnel must be nonincreasing: $a -> $b")
      assert(b._4 == a._3 - b._3, s"n_dropped inconsistent at stage ${b._1}")
    }
    assert(rows.head._4 == 0)
    val finalCount = graft.ops.PipelineOps.curationPipeline(spark, sf).count()
    assert(rows.last._3 == finalCount,
      "eval_holdout stage must count exactly the pipeline's survivors")
  }

  test("curation_incremental agrees with its single-purpose siblings (L18d)") {
    import org.apache.spark.sql.functions._
    val rows = graft.ops.PipelineOps.curationIncremental(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
         r.getString(5))).toMap
    assert(rows.nonEmpty)
    // near_dup must equal dedup_incremental's is_dup on the SAME batch —
    // both probe the same stored base postings
    val isDup = graft.ops.DedupOps.dedupIncremental(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    isDup.foreach { case (id, dup) =>
      assert(rows(id)._3 == dup, s"doc $id: near_dup ${rows(id)._3} != is_dup $dup")
    }
    // docs dedup_incremental skips (no shingles) must be near_dup = false
    (rows.keySet -- isDup.keySet).foreach(id => assert(!rows(id)._3))
    // verdict = first failing stage, exactly
    rows.foreach { case (id, (q, e, n, c, v)) =>
      val expect = if (!q) "quality" else if (e) "exact_dup"
        else if (n) "near_dup" else if (c) "contaminated" else "keep"
      assert(v == expect, s"doc $id: verdict $v != $expect ($q,$e,$n,$c)")
    }
    // every verdict class is represented on the fixture (signal check)
    val verdicts = rows.values.map(_._5).toSet
    assert(verdicts.contains("keep") && verdicts.contains("quality"),
      s"fixture lost verdict diversity: $verdicts")
  }

  test("token entropy separates skewed from uniform at equal TTR") {
    // {a:99,b:1} vs {a:50,b:50}: same n_types/n_tokens, different entropy —
    // the signal's whole point. Computed with the op's own snapping rule.
    def h(counts: Seq[Int]): Double = {
      val n = counts.sum.toDouble
      counts.map(c => math.floor((c / n * math.log(n / c)) * 1e6 + 0.5) / 1e6).sum
    }
    assert(h(Seq(99, 1)) < 0.1 && h(Seq(50, 50)) > 0.69)
  }
}
