package graft

import graft.api.GraftAPI
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public column-parameterized facade must agree with the harness
  * registry on the test tables. The dedup, text, pipeline, events, graph
  * and vector methods ARE the registry's implementation, so their
  * registry-key tests run the facade on RENAMED columns (`doc_id` → `k`,
  * `text` → `body`, `vec_id` → `vid`, `embedding` → `emb`, the events
  * columns likewise) to test the column parameterization rather than a
  * function against itself. The four keys that keep their own plan
  * (`join_asof`, `join_asof_tolerance`, `cdc_diff_snapshots`,
  * `dedup_exact`) are checked against the facade method that does the
  * same job; the rest are checked against an independent local model. */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001
  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  /** The documents under caller-chosen column names. */
  private def renamedDocs = docs.select(col("doc_id").as("k"), col("text").as("body"))
  private def events = graft.Tables.events(spark, sf)
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
  /** The embeddings under caller-chosen column names. */
  private def renamedEmb = emb.select(col("vec_id").as("vid"),
    col("label").as("lbl"), col("embedding").as("emb"))

  test("exactDedupGroups == DedupOps.dedupExact") {
    val got = GraftAPI.exactDedupGroups(docs, Seq("text"), "doc_id")
      .orderBy("keep_id").collect()
    val want = ops.DedupOps.dedupExact(spark, sf).collect()
    // harness hashes raw text; facade concat_ws over one column = raw text
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(1) == w.getLong(1) && g.getLong(2) == w.getLong(2))
    }
    val survivors = GraftAPI.exactDedup(docs, Seq("text"), "doc_id")
    assert(survivors.count() == want.length)
  }

  test("crossdocDupRatio == DedupOps.dedupCrossdocNgrams") {
    val got = GraftAPI.crossdocDupRatio(renamedDocs, "k", "body")
      .orderBy("k").collect()
    val want = ops.DedupOps.dedupCrossdocNgrams(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1) &&
        g.getLong(2) == w.getLong(2) && g.getDouble(3) == w.getDouble(3))
    }
  }

  test("ewma == EventOps.eventsEwma on the daily aggregate") {
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("event_type").as("kind"), col("day").as("dt"))
      .agg(graft.Tables.dsum(col("value")).as("amount"))
    val got = GraftAPI.ewma(daily, Seq("kind"), "dt", "amount")
      .select(col("kind"), graft.Tables.dateFmt(col("dt")).as("dt"),
        graft.Tables.r6(col("ewma")).as("ewma"))
      .orderBy("kind", "dt").collect()
    val want = ops.EventOps.eventsEwma(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getString(1) == w.getString(1))
      assert(g.getDouble(2) == w.getDouble(3), s"ewma ${g.getString(0)} ${g.getString(1)}")
    }
  }

  test("asofJoinBackward == EventOps.joinAsof (purchase -> last signup)") {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = events.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts")
    val got = GraftAPI.asofJoinBackward(purchases, signups, Seq("user_id"),
        "ts", "ts", "event_id", payload = Seq.empty)
      .select(col("event_id"), graft.Tables.tsFmt(col("asof_ts")).as("m"))
      .orderBy("event_id").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val want = ops.EventOps.joinAsof(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, ts) => assert(got(id) == ts, s"purchase $id") }
  }

  test("asofJoinBackward tolerance == EventOps.joinAsofTolerance (24h window)") {
    val purchases = events.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = events.filter(col("event_type") === "signup")
      .select("event_id", "user_id", "ts")
    val got = GraftAPI.asofJoinBackward(purchases, signups, Seq("user_id"),
        "ts", "ts", "event_id", payload = Seq.empty,
        toleranceUs = 24L * 3600 * 1000000)
      .select(col("event_id"), graft.Tables.tsFmt(col("asof_ts")).as("m"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val want = ops.EventOps.joinAsofTolerance(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(got.size == want.size)
    want.foreach { case (id, ts) => assert(got(id) == ts, s"purchase $id") }
  }

  test("asofJoinBackward: matched row's NULL payload stays null (no stale fallback); null-pattern fingerprints distinct") {
    import spark.implicits._
    // review r10: the payloads used to carry through SEPARATE
    // last(ignoreNulls) windows, so a matched right row's null price fell
    // back to an OLDER right row's value — pairing r2's timestamp with
    // r1's payload, a row that never existed.
    val right = Seq(
      (10L, java.sql.Timestamp.valueOf("2026-01-01 00:00:01"), Some(9.0)),
      (11L, java.sql.Timestamp.valueOf("2026-01-01 00:00:02"), None))
      .toDF("event_id", "ts", "price")
      .select(lit(1L).as("user_id"), col("event_id"), col("ts"),
        col("price").cast("double").as("price"))
    val left = Seq((20L, java.sql.Timestamp.valueOf("2026-01-01 00:00:03")))
      .toDF("event_id", "ts").select(lit(1L).as("user_id"), col("*"))
    val row = GraftAPI.asofJoinBackward(left, right, Seq("user_id"),
        "ts", "ts", "event_id", payload = Seq("price"))
      .select("asof_ts", "asof_price").collect().head
    assert(row.getTimestamp(0).toString.contains("00:00:02"),
      s"must match the LATEST right row: $row")
    assert(row.isNullAt(1),
      s"matched row's null payload must stay null, got $row")
    // exactDedupGroups (review r10): (null, x) and (x, null) are
    // DIFFERENT records — the old null-skipping concat collided them and
    // exactDedup silently deleted one.
    val nd = Seq((1L, Option.empty[String], Option("x")),
                 (2L, Option("x"), Option.empty[String]))
      .toDF("id", "a", "b")
    assert(GraftAPI.exactDedupGroups(nd, Seq("a", "b"), "id").count() == 2,
      "distinct null patterns must land in distinct groups")
    assert(GraftAPI.exactDedup(nd, Seq("a", "b"), "id").count() == 2)
    // paragraphDedup (review r10): a separator made of regex
    // metacharacters is treated as a LITERAL — no per-character explosion
    val pd = Seq((1L, "aa||bb||aa"), (2L, "bb||cc"))
      .toDF("doc_id", "text")
    val rows = GraftAPI.paragraphDedup(pd, "doc_id", "text", separator = "||")
      .orderBy("doc_id").collect()
    assert(rows(0).getLong(1) == 3 && rows(0).getLong(2) == 2 &&
      rows(0).getString(3) == "aa||bb", rows.mkString(";"))
    assert(rows(1).getLong(1) == 2 && rows(1).getLong(2) == 1 &&
      rows(1).getString(3) == "cc", rows.mkString(";"))
    // paragraphDedup id-range guard: an id ≥ 2^43 (snowflake-scale)
    // would overflow the keeper key id·2^20 + cidx and could alias
    // another document's chunk — must fail loudly, not pick a wrong
    // keeper.
    val big = Seq((1L << 43, "aa bb"), (7L, "aa bb")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      GraftAPI.paragraphDedup(big, "doc_id", "text", separator = " ").collect()
    }
    val msgs = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("2^43"), s"expected the id-range guard, got: $msgs")
  }

  test("sessionize: ids contiguous from 1, gaps respected") {
    val s = GraftAPI.sessionize(events, "user_id", "ts", 1800L)
    val byUser = s.groupBy("user_id")
      .agg(max(col("session_id")).as("mx"), countDistinct(col("session_id")).as("nd"))
      .collect()
    byUser.foreach(r => assert(r.getLong(1) == r.getLong(2), s"user ${r.get(0)}"))
    // within a session, consecutive gaps never exceed the threshold
    val bad = s.withColumn("prev",
        lag(col("ts"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "session_id").orderBy("ts")))
      .filter(col("prev").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prev")) > 1800L * 1000000L)
    assert(bad.count() == 0)
  }

  test("topKPerGroup uses the native operator and returns k rows per group") {
    val orders = graft.Tables.orders(spark, sf)
    val top = GraftAPI.topKPerGroup(orders, Seq("o_custkey"), "o_totalprice",
      "o_orderkey", 2)
    val physical = top.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerGroup"), "rewrite should fire through the facade")
    val counts = top.groupBy("o_custkey").count().agg(max("count")).collect()
    assert(counts.head.getLong(0) <= 2)
  }

  test("simhash == DedupOps.dedupSimhash fingerprints") {
    val got = GraftAPI.simhash(renamedDocs, "k", "body")
      .orderBy("k").collect()
    val want = ops.DedupOps.dedupSimhash(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
    }
  }

  test("langId == TextOps.langIdNgram predictions") {
    val got = GraftAPI.langId(renamedDocs, "body")
      .select("k", "lang_pred").orderBy("k").collect()
    val want = ops.TextOps.langIdNgram(spark, sf)
      .orderBy("doc_id").collect()
    assert(got.length == want.length)
    // harness emits (doc_id, actual_lang, s_en..s_fr, pred_lang): pred last
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getString(1) == w.getString(6),
        s"doc ${g.getLong(0)}")
    }
  }

  test("minhashBands == DedupOps.dedupMinhash band table") {
    val got = GraftAPI.minhashBands(renamedDocs, "k", "body", numHashes = 8, bands = 2)
      .orderBy("k", "band").collect()
    val want = ops.DedupOps.dedupMinhash(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getInt(1) == w.getInt(1) &&
        g.getString(2) == w.getString(2))
    }
  }

  test("lshCandidatePairs superset of verified simjoin pairs") {
    val cand = GraftAPI.lshCandidatePairs(docs, "doc_id", "text", numHashes = 8, bands = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = ops.DedupOps.simjoinLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.subsetOf(cand),
      s"missing: ${verified -- cand}")
    cand.foreach { case (a, b) => assert(a < b) }
  }

  test("cosineTopK: k per query, scores sorted, agrees with brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3).select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") >= 3).select(col("vec_id"), col("embedding"))
    val got = GraftAPI.cosineTopK(queries, corpus, "vec_id", "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("cosine").desc).collect()
    assert(got.length == 15)
    // agree with a driver-side brute force on one query
    val qv = queries.filter(col("vec_id") === 0).collect()(0)
      .getSeq[Float](1).map(_.toDouble).toArray
    def norm(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val qn = norm(qv)
    val best = corpus.collect().map { r =>
      val cn = norm(r.getSeq[Float](1).map(_.toDouble).toArray)
      r.getLong(0) -> qn.zip(cn).map { case (a, b) => a * b }.sum
    }.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    val gotIds = got.filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
    assert(gotIds == best)
  }

  test("budgetSelect == PipelineOps.corpusBudgetSelect at frac 0.5") {
    val toks = docs.select(col("doc_id").as("k"),
      least(lit(4000L), col("n_chars")).as("quality"),
      size(split(col("text"), " ")).cast("long").as("w"))
    val got = GraftAPI.budgetSelect(toks, "k", "quality", "w")
      .select("k").orderBy("k").collect().map(_.getLong(0))
    val want = ops.PipelineOps.corpusBudgetSelect(spark, sf)
      .collect().map(_.getLong(0))
    assert(got.sameElements(want))
  }

  test("splitAssign == PipelineOps.corpusSplitAssign on the rollup") {
    val got = GraftAPI.splitAssign(
        docs.select(col("doc_id").as("k"), col("text").as("body"), col("lang")), "k")
      .withColumn("n_tokens", size(split(col("body"), " ")).cast("long"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tot_tokens"))
      .orderBy("split", "lang").collect()
    val want = ops.PipelineOps.corpusSplitAssign(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getString(1) == w.getString(1) &&
        g.getLong(2) == w.getLong(2) && g.getLong(3) == w.getLong(3))
    }
  }

  test("triangleCounts == Relational.graphTriangles on the basket edges") {
    val items = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct()
    val edges = items.as("x").join(items.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("u"), col("y.l_partkey").as("v"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 2)
    val got = GraftAPI.triangleCounts(edges, "u", "v")
      .orderBy(col("n_tri").desc, col("vertex")).limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = ops.Relational.graphTriangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(want))
  }

  test("triangleCounts plans one scan of a parquet edge table: the normalized edges are derived once, not per join branch") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sq = spark; import sq.implicits._
    // the 1-2-3 triangle with a duplicate, a reversed copy and a self loop,
    // plus the 3-4 tail that closes nothing
    val dir = java.nio.file.Files.createTempDirectory("graft_tri_edges").toString
    val path = s"$dir/edges.parquet"
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (1L, 2L), (3L, 3L), (3L, 4L))
      .toDF("u", "v").write.parquet(path)
    val (got, runs) = QueryRecorder.record(spark) {
      GraftAPI.triangleCounts(spark.read.parquet(path), "u", "v")
        .orderBy("vertex").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(got.sameElements(Seq((1L, 1L), (2L, 1L), (3L, 1L))), got.toSeq)
    // Scans of `path` in a run's physical plan as planned, before AQE
    // reuses identical exchange stages (graft.ScanAudit's count): three
    // join branches that each re-derive the edges plan three scans, three
    // normalizing aggregates and three exchanges.
    val perRun = runs.map(r => r.funcName -> QueryRecorder.nodes(r.qe.executedPlan).count {
      case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(dir))
      case _ => false
    })
    assert(perRun.exists(_._1 == "collect"), s"no collect event: $perRun")
    assert(perRun.map(_._2).sum == 1, s"edge table scans per query run: $perRun")
  }

  test("lexicalDiversity == TextOps.textLexicalDiversity") {
    val got = GraftAPI.lexicalDiversity(renamedDocs, "k", "body")
      .orderBy("k").collect()
    val want = ops.TextOps.textLexicalDiversity(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert((0 to 2).forall(i => g.getLong(i) == w.getLong(i)) &&
        g.getDouble(3) == w.getDouble(3) && g.getDouble(4) == w.getDouble(4))
    }
  }

  test("lexicalDiversity lowercases its tokens: 'The the cat' has 2 types, 'a A' has 1") {
    import spark.implicits._
    val got = GraftAPI.lexicalDiversity(
        Seq((1L, "The the cat"), (2L, "a A")).toDF("k", "body"), "k", "body")
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types")))
    assert(got.toSeq == Seq((1L, 3L, 2L), (2L, 2L, 1L)), got.mkString(","))
  }

  test("snapshotDiff == PipelineOps.cdcDiffSnapshots on the same snapshots") {
    import graft.Tables._
    def snap(lo: String, hi: String) = orders(spark, sf)
      .filter(to_date(col("o_orderdate")) >= lit(lo) &&
        to_date(col("o_orderdate")) < lit(hi))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("rev"))
    val got = GraftAPI.snapshotDiff(
        snap("1995-01-01", "1997-01-01"), snap("1996-01-01", "1998-01-01"),
        Seq("custkey"))
      .orderBy("custkey").collect()
    val want = ops.PipelineOps.cdcDiffSnapshots(spark, sf).collect()
    assert(got.length == want.length)
    // facade columns: custkey, op, old_n, new_n(?) — payload order is
    // old_n,new_n,old_rev,new_rev in the harness; facade interleaves
    // old_/new_ per column: custkey, op, old_n, new_n, old_rev, new_rev
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getString(1) == w.getString(1))
      def nl(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
        if (r.isNullAt(i)) None else Some(r.getLong(i))
      def nd(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      assert(nl(g, 2) == nl(w, 2) && nl(g, 3) == nl(w, 3))
      assert(nd(g, 4) == nd(w, 4) && nd(g, 5) == nd(w, 5))
    }
  }

  test("pathNgrams(3) == EventOps.eventsPaths3 before the top-20 cut") {
    val renamed = events.select(col("user_id").as("u"), col("ts").as("t"),
      col("event_id").as("eid"), col("event_type").as("sym"))
    val got = GraftAPI.pathNgrams(renamed, "u", Seq("t", "eid"), "sym", 3)
      .orderBy(col("n").desc, col("n_keys").desc, col("path").asc)
      .limit(20).collect()
    val want = ops.EventOps.eventsPaths3(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getString(0) == w.getString(0) && g.getLong(1) == w.getLong(1) &&
        g.getLong(2) == w.getLong(2))
    }
  }

  test("recallAtK: hand-built rankings give exact per-query recall incl. zero") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (2L, 22L))
      .toDF("query_id", "cand")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L)).toDF("query_id", "cand")
    val got = GraftAPI.recallAtK(exact, approx, "query_id", "cand", 3)
      .orderBy("query_id").collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 2L && math.abs(got(0).getDouble(2) - 0.666667) < 1e-6)
    assert(got(1).getLong(1) == 0L && got(1).getDouble(2) == 0.0)
  }
  test("temperatureMix: alpha=1 is identity, alpha<1 flattens toward uniform") {
    import spark.implicits._
    val rows = Seq(("big", 900L), ("mid", 90L), ("tiny", 10L))
      .flatMap { case (s, n) => (1L to n).map(i => (s, 1L)) }.toDF("src", "w")
    val id = GraftAPI.temperatureMix(rows, "src", "w", alpha = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    id.values.foreach(v => assert(math.abs(v - 1.0) < 1e-9, s"alpha=1 not identity: $id"))
    val sm = GraftAPI.temperatureMix(rows, "src", "w", alpha = 0.5)
      .collect().map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    assert(math.abs(sm.values.map(_._1).sum - 1.0) < 1e-9)
    assert(sm("tiny")._2 > 1.0 && sm("big")._2 < 1.0, s"no tilt: $sm")
    assert(sm("tiny")._2 > sm("mid")._2 && sm("mid")._2 > sm("big")._2)
  }

  test("pqEncode: m-element codes over the fixture embeddings, stable re-run") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run() = GraftAPI.pqEncode(emb, "vec_id", "embedding", m = 4, k = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1).toSeq
    val a = run()
    assert(a.length == emb.count())
    assert(a.forall(_._2.length == 4))
    // codes draw from the 8 lowest ids (the subspace seeds)
    val seeds = a.map(_._1).sorted.take(8).toSet
    assert(a.forall(_._2.forall(seeds.contains)))
    assert(run() == a)
    // vectors must not all collapse to one code
    assert(a.map(_._2).distinct.length > 1)
  }

  test("paragraphDedup: first occurrence survives, order kept, emptied rows still report") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\n\nshared one\n\ngamma"),
      (2L, "shared one\n\ndelta"),      // loses its copy of "shared one"
      (3L, "shared one")                // fully deduplicated
    ).toDF("doc_id", "text")
    val got = GraftAPI.paragraphDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((3L, 3L, "alpha beta\n\nshared one\n\ngamma")))
    assert(got(2L) == ((2L, 1L, "delta")))
    assert(got(3L) == ((1L, 0L, "")))
  }

  test("ivfPqEncode: (id, cell, code) index rows consistent with kmeansAssign, stable re-run") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def run() = GraftAPI.ivfPqEncode(emb, "vec_id", "embedding",
        cells = 8, m = 4, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1).toSeq
    val a = run()
    assert(a.length == emb.count())
    assert(a.forall(_._3.length == 4))
    // the cell column IS the coarse assignment kmeansAssign computes
    val cells = GraftAPI.kmeansAssign(emb, "vec_id", "embedding", k = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach { case (id, cell, _) => assert(cells(id) == cell) }
    assert(run() == a) // backfill-stable
    // a null vector must fail loudly, not encode garbage
    import org.apache.spark.sql.functions._
    val withNull = emb.withColumn("embedding",
      when(col("vec_id") === 5, lit(null)).otherwise(col("embedding")))
    val e = intercept[IllegalArgumentException](
      GraftAPI.ivfPqEncode(withNull, "vec_id", "embedding"))
    assert(e.getMessage.contains("null vectors"))
  }

  test("buildAnnIndex persists the artifact set; stored codes == ivfPqEncode rows") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_annix_api").toString
    val manifest = GraftAPI.buildAnnIndex(emb, "vec_id", "embedding",
        root, cells = 8, m = 4, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(manifest.map(_._2).sum == emb.count())
    manifest.foreach { case (_, nVecs, nCodes) => assert(nCodes == 4 * nVecs) }
    assert(new java.io.File(root, "_SUCCESS").isFile)
    Seq("coarse", "cells", "pq_codebooks", "pq_codes",
        "ivfpq_codebooks", "ivfpq_codes").foreach(t =>
      assert(new java.io.File(s"$root/$t").isDirectory, s"missing table $t"))
    // the stored residual codes are EXACTLY what the in-memory encoder
    // emits at the same geometry (same training, same determinism)
    val stored = spark.read.parquet(s"$root/ivfpq_codes")
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("m")) ->
        (r.getAs[Long]("cell"), r.getAs[Long]("code"))).toMap
    val encoded = GraftAPI.ivfPqEncode(emb, "vec_id", "embedding",
        cells = 8, m = 4, k = 8)
      .collect().flatMap(r => r.getSeq[Long](2).zipWithIndex.map {
        case (code, m) => (r.getLong(0), m) -> (r.getLong(1), code) })
    assert(encoded.nonEmpty && encoded.forall { case (k, v) => stored(k) == v })
    // hive partition dirs exist per coarse cell (the inverted-list layout)
    val pdirs = new java.io.File(s"$root/ivfpq_codes").listFiles()
      .filter(_.getName.startsWith("pcell=")).map(_.getName).toSet
    assert(pdirs == manifest.map(c => s"pcell=${c._1}").toSet)
  }

  test("annIndexSplit(facade) + split-aware annProbeBatch: hot cell narrows, per-query top-k exact (r12)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // planted corpus (dim 16): a 201-vector cluster that lands in ONE
    // coarse cell (seeds: vec 0 inside it, 1-15 scattered far) + more
    // scattered mass — the VectorSpec L3n shape, here through the API.
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian() * 0.1 + 0.5)
    def jitter(s: Double) = base.map(v => (v + rnd.nextGaussian() * s).toFloat)
    def scattered() = Array.fill(16)((rnd.nextGaussian() * 2.0).toFloat)
    val rows =
      Seq((0L, base.map(_.toFloat))) ++
      (1L to 15L).map(id => (id, scattered())) ++
      (16L to 215L).map(id => (id, jitter(0.05))) ++
      (216L to 315L).map(id => (id, scattered()))
    val dir = java.nio.file.Files.createTempDirectory("graft_split_api").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_split_ix").toString
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 16, m = 4, k = 8).collect()

    val manifest = GraftAPI.annIndexSplit(emb, "vec_id", "embedding", root,
      hotSize = 32L, subK = 4).collect()
    assert(manifest.nonEmpty && manifest.exists(_.getAs[Long]("n_vecs") >= 200L),
      "the planted cluster must split")
    assert(new java.io.File(root, "_split_SUCCESS").isFile)
    // re-running the maintenance job is idempotent (deterministic Lloyd)
    val manifest2 = GraftAPI.annIndexSplit(emb, "vec_id", "embedding", root,
      hotSize = 32L, subK = 4).collect()
    assert(manifest2.map(_.toString).sorted.sameElements(
      manifest.map(_.toString).sorted))

    // split-aware streaming probe (direct foreachBatch-body call): one
    // query inside the hot cell, one scattered — each must return the
    // EXACT whole-cell top-k (the narrowed scan loses nothing here: the
    // cluster's neighbors share the query's sub-cell or the pool floor
    // falls back).
    val out = java.nio.file.Files
      .createTempDirectory("graft_split_probe").toString + "/out"
    val batch = Seq((0L, rows(0)._2.map(_.toDouble)),
        (220L, rows.find(_._1 == 220L).get._2.map(_.toDouble)))
      .toDF("vec_id", "embedding")
    graft.streaming.StreamingOps.annProbeBatch(s"$dir/embeddings.parquet",
      root, out, "vec_id", "embedding", k = 10)(batch, 0L)
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("corpus_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val cellsT = spark.read.parquet(s"$root/cells").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6 + 0.5) / 1e6
    }
    val vecs = rows.toMap
    for (qid <- Seq(0L, 220L)) {
      val cellIds = cellsT.collect { case (v, c) if c == cellsT(qid) => v }
      val want = cellIds.toSeq.map(v => (v, cos(vecs(v), vecs(qid))))
        .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1).toSet
      assert(got(qid) == want,
        s"query $qid: split probe must return the exact whole-cell top-10")
    }
    // and the split actually narrowed the hot query's scan: its top-2
    // sub-cells hold fewer vectors than the whole cell
    val splitCells = spark.read.parquet(s"$root/cells_split")
      .filter(col("cell") === cellsT(0L))
    val bySub = splitCells.groupBy("scid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySub.values.toSeq.sorted.reverse.take(2).sum <
      cellsT.values.count(_ == cellsT(0L)),
      "the narrowed pool must be smaller than the hot cell")
  }

  test("scaledSignBuckets: bucket width follows n/T; sqrtNSignCells matches the registry op") {
    val n = emb.count() // 500 on the fixture
    val buckets = GraftAPI.scaledSignBuckets(emb, "embedding", 16)
      .select("vec_id", "bucket").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(buckets.length == n)
    // least B with 2^B >= 500/16 = 31.25 -> B = 5 -> ids within [0, 32)
    assert(buckets.forall { case (_, b) => b >= 0 && b < 32 })
    assert(buckets.map(_._2).distinct.length > 16, "bit width collapsed")
    val cells = GraftAPI.sqrtNSignCells(renamedEmb, "emb")
      .select("vid", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ops.VectorOps.semanticDedupScaled(spark, sf)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells == want)
  }

  test("kmeansAssign: hand-built 1-D clusters converge to the obvious split") {
    import spark.implicits._
    // two tight 2-D blobs around (0,0) and (10,10); ids are SPARSE (seeds
    // must be the k lowest ids, not ids < k)
    val pts = Seq(
      (5L, Array(0.1f, 0.2f)), (7L, Array(-0.1f, 0.0f)), (9L, Array(0.2f, -0.1f)),
      (11L, Array(10.1f, 9.9f)), (13L, Array(9.8f, 10.2f)), (15L, Array(10.0f, 10.0f))
    ).toDF("id", "v")
    val cells = GraftAPI.kmeansAssign(pts, "id", "v", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeds are ids 5 and 7 (both in blob A); after the first update one
    // centroid captures blob B, so the final assignment separates blobs
    assert(cells.keySet == Set(5L, 7L, 9L, 11L, 13L, 15L))
    assert(Set(cells(5L), cells(7L), cells(9L)).size == 1, s"blob A split: $cells")
    assert(Set(cells(11L), cells(13L), cells(15L)).size == 1, s"blob B split: $cells")
    assert(cells(5L) != cells(11L), s"blobs merged: $cells")
  }

  test("semanticDedup(facade) == VectorOps.semanticDedup on sign-grid clusters") {
    // the harness derives the cluster internally (sign-grid cell); hand the
    // facade the same cell so the two must agree row-for-row
    val cell = (1 to 4).map(j =>
      when(element_at(col("emb"), j) > 0f, lit(1 << (j - 1))).otherwise(lit(0)))
      .reduce(_ + _)
    val got = GraftAPI.semanticDedup(
        renamedEmb.withColumn("grp", cell), "vid", "grp", "emb", 0.35)
      .orderBy("vid")
      .select(col("vid"), col("keep"), col("rep_id")).collect()
    val want = ops.VectorOps.semanticDedup(spark, sf)
      .select(col("vec_id"), col("keep"), col("rep_id")).collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getAs[Number](0).longValue == w.getAs[Number](0).longValue)
      assert(g.getBoolean(1) == w.getBoolean(1), s"keep mismatch at ${g.get(0)}")
      assert(g.getAs[Number](2).longValue == w.getAs[Number](2).longValue)
    }
  }

  test("sourceQuota == PipelineOps.corpusSourceQuota at quota 15") {
    val got = GraftAPI.sourceQuota(
        docs.select(col("doc_id").as("k"), col("source").as("src")), "k", "src", 15L)
      .select("k", "src", "src_rank", "kept")
      .orderBy("k").collect()
    val want = ops.PipelineOps.corpusSourceQuota(spark, sf).collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) =>
      assert(g.toSeq == w.toSeq, s"mismatch: $g vs $w")
    }
    // the cap actually binds on the fixture
    assert(got.exists(!_.getBoolean(3)))
  }

  test("truncatedDimRecall == VectorOps.embedMrlRecall at the registry protocol") {
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val got = GraftAPI.truncatedDimRecall(
        renamedEmb, "vid", "emb", queries, "qid", "qv",
        dims = Seq(8, 16, 32, 64), k = 10)
      .orderBy("dim", "qid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = ops.VectorOps.embedMrlRecall(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("tokenEntropy == TextOps.textTokenEntropy") {
    val got = GraftAPI.tokenEntropy(renamedDocs, "k", "body")
      .orderBy("k").collect()
    val want = ops.TextOps.textTokenEntropy(spark, sf).collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert((0 to 2).forall(i => g.getAs[Number](i).longValue ==
        w.getAs[Number](i).longValue))
      assert(g.getDouble(3) == w.getDouble(3) && g.getDouble(4) == w.getDouble(4))
    }
  }

  test("writeMinhashIndex at the harness 8/2 point == DedupOps band table; marker committed") {
    val root = java.nio.file.Files.createTempDirectory("graft_mhix_api").toString
    val manifest = GraftAPI.writeMinhashIndex(docs, "doc_id", "text", root,
        numHashes = 8, bands = 2)
      .orderBy("band").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest.map(_._1).toSeq == Seq(1, 2))
    manifest.foreach { case (_, keys, postings, ndocs) =>
      assert(postings == ndocs && keys <= ndocs && keys > 0)
    }
    assert(new java.io.File(root, "_SUCCESS").isFile)
    val stored = spark.read.parquet(s"$root/bands")
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val want = ops.DedupOps.dedupMinhash(spark, sf)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(stored.nonEmpty && stored.sameElements(want))
    // ADVICE r8: a REBUILD over an existing index must retire the prior
    // _SUCCESS before the overwrite starts (marker genuinely commits
    // last) and still land the identical manifest.
    val manifest2 = GraftAPI.writeMinhashIndex(docs, "doc_id", "text", root,
        numHashes = 8, bands = 2)
      .orderBy("band").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest2.sameElements(manifest), "rebuild changed the manifest")
    assert(new java.io.File(root, "_SUCCESS").isFile)
  }

  test("minhashIndexDelete(facade): batchWidth layout, pruned takedown == anti-join") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_mhdel_api").toString
    GraftAPI.writeMinhashIndex(docs, "doc_id", "text", root,
      numHashes = 8, bands = 2, batchWidth = 100).collect()
    val bands = s"$root/bands"
    val before = spark.read.parquet(bands)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // batchWidth must not change the CONTENT vs the default layout
    val want = ops.DedupOps.dedupMinhash(spark, sf)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(before.sorted.sameElements(want.sorted), "batch axis changed content")
    val sq = spark
    import sq.implicits._
    val delIds = before.map(_._1).distinct.filter(i => i >= 100 && i < 200 && i % 3 == 0)
    assert(delIds.nonEmpty)
    GraftAPI.minhashIndexDelete(spark, bands, delIds.toSeq.toDF("doc_id"), "doc_id")
    val after = spark.read.parquet(bands)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(after.sorted.sameElements(
      before.filterNot(r => delIds.contains(r._1)).sorted),
      "post-delete content must be the exact survivor set")
  }

  test("takedown purges bands_fine: deleted hot-family text stops flagging in the fine probe (review r12)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // two exact-dup families (both hot at RebandHotSize=4) + uniques,
    // all in ingest batch 0 so no (band, batch) partition empties
    val famA = (0L to 4L).map(id => (id, (1 to 40).map(i => s"atok$i").mkString(" ")))
    val famB = (10L to 15L).map(id => (id, (1 to 40).map(i => s"btok$i").mkString(" ")))
    val uniq = (20L to 60L).map(id => (id, (1 to 40).map(i => s"u${id}w$i").mkString(" ")))
    val corpus = (famA ++ famB ++ uniq).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_mhdel_fine").toString
    GraftAPI.writeMinhashIndex(corpus, "doc_id", "text", root,
      numHashes = 8, bands = 2, batchWidth = 250).collect()
    val bands = s"$root/bands"
    def probe(out: String): Map[Long, Boolean] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val batch = Seq((400L, famA.head._2), (401L, famB.head._2),
        (402L, (1 to 40).map(i => s"fresh$i").mkString(" "))).toDF("doc_id", "text")
      graft.streaming.StreamingOps.dedupBatchAgainstIndex(
        bands, out, "doc_id", "text", numHashes = 8, bands = 2)(batch, 0L)
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    }
    val pre = probe("/tmp/graft_mhdel_fine_pre")
    assert(pre(400L) && pre(401L) && !pre(402L),
      "both hot families must flag through the fine probe pre-delete")
    // take down family A entirely
    GraftAPI.minhashIndexDelete(spark, bands,
      famA.map(_._1).toDF("doc_id"), "doc_id")
    val fineLeft = spark.read.schema(ops.MinhashIndex.facadeFineSchema(
        spark.read.parquet(bands).schema))
      .parquet(s"$root/bands_fine").select("doc_id").collect().map(_.getLong(0))
    assert(!fineLeft.exists(famA.map(_._1).contains(_)),
      "bands_fine must not retain deleted documents' postings")
    assert(fineLeft.nonEmpty && famB.map(_._1).forall(fineLeft.contains),
      "the surviving hot family's fine rows must remain")
    val post = probe("/tmp/graft_mhdel_fine_post")
    assert(!post(400L),
      "text of a fully-taken-down family must stop flagging as a dup")
    assert(post(401L), "the surviving family must keep flagging")
    assert(!post(402L))
  }

  test("minhashIndexAppend(facade): appended docs flag the next probe, newly-hot buckets go fine via stored sub_keys, replay is idempotent (r13)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // base: a 3-doc family (one below the hot threshold of 4) + uniques;
    // the appended batch pushes the family bucket OVER the threshold
    // (the case that needs the stored per-doc sub_keys — no base text
    // re-read) and adds one brand-new doc.
    val fam = (1 to 40).map(i => s"ftok$i").mkString(" ")
    val base = (0L to 2L).map(id => (id, fam)) ++
      (10L to 40L).map(id => (id, (1 to 40).map(i => s"u${id}w$i").mkString(" ")))
    val newDoc = (1 to 40).map(i => s"n99w$i").mkString(" ")
    val appended = Seq((100L, fam), (101L, newDoc))
    val root = java.nio.file.Files.createTempDirectory("graft_mh_append").toString
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    assert(new java.io.File(root, "sub_keys").isDirectory,
      "the build must persist the per-doc sub_keys table")
    val manifest = GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      appended.toDF("doc_id", "text"), "doc_id", "text",
      batchId = 0L, numHashes = 8, bands = 2).collect()
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "a successful append must recommit the root marker")
    assert(manifest.map(_.getAs[Long]("n_new")).sum ==
      appended.size.toLong * 2, "2 bands per appended doc")
    // the family bucket is now hot (5 members) and must be fine-covered
    // for ALL members — including the base docs, via stored sub_keys
    val fine = spark.read.parquet(s"$root/bands_fine")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(Set(0L, 1L, 2L, 100L).subsetOf(fine),
      s"newly-hot bucket must be fine-covered for base AND delta members: $fine")
    // probe: an exact copy of the family must flag (full-signature match
    // through the fine leg); a copy of the APPENDED new doc must flag
    // (cold bucket, delta postings — the resolver at work); fresh text
    // must not.
    def probe(out: String): Map[Long, Boolean] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val batch = Seq((400L, fam), (401L, newDoc),
        (402L, (1 to 40).map(i => s"z9x$i").mkString(" "))).toDF("doc_id", "text")
      graft.streaming.StreamingOps.dedupBatchAgainstIndex(
        s"$root/bands", out, "doc_id", "text", numHashes = 8, bands = 2)(batch, 0L)
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    }
    val flags = probe("/tmp/graft_mh_append_probe")
    assert(flags(400L), "hot-family copy must flag through the fine keys")
    assert(flags(401L), "a dup of an APPENDED doc must flag without a compact")
    assert(!flags(402L), "fresh text must stay clean")
    // replay of the same batchId is an idempotent overwrite: manifest,
    // fine table and probe flags unchanged
    val manifest2 = GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      appended.toDF("doc_id", "text"), "doc_id", "text",
      batchId = 0L, numHashes = 8, bands = 2).collect()
    assert(manifest2.map(_.toString).sorted.sameElements(
      manifest.map(_.toString).sorted), "replayed append must byte-match")
    val flags2 = probe("/tmp/graft_mh_append_probe2")
    assert(flags2 == flags)
    // a takedown listing a delta-resident doc is refused loudly (compact
    // first), and the refusal leaves the index committed
    val e = intercept[IllegalArgumentException](
      GraftAPI.minhashIndexDelete(spark, s"$root/bands",
        Seq(100L).toDF("doc_id"), "doc_id"))
    assert(e.getMessage.contains("delta"), e.getMessage)
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "a refused takedown must leave the index committed")
  }

  test("minhashIndexAppend: a refused append leaves the index committed; an empty batch commits cleanly and probes keep resolving (review r13)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val fam = (1 to 40).map(i => s"rtok$i").mkString(" ")
    val base = (0L to 2L).map(id => (id, fam)) ++
      (10L to 30L).map(id => (id, (1 to 40).map(i => s"r${id}w$i").mkString(" ")))
    val root = java.nio.file.Files.createTempDirectory("graft_mh_refuse").toString
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    // Simulate a root an older build wrote: its manifest records no
    // layout. The append must refuse with the rebuild remedy BEFORE the
    // root marker retirement — a rejected call leaves a valid index
    // valid (the delete legs' discipline).
    val meta = ops.Artifacts.readMeta(root)
    ops.Artifacts.writeMeta(root, (meta - "layout").toSeq: _*)
    val e = intercept[IllegalArgumentException](
      GraftAPI.minhashIndexAppend(spark, s"$root/bands",
        Seq((500L, "some text here")).toDF("doc_id", "text"),
        "doc_id", "text", batchId = 0L, numHashes = 8, bands = 2))
    assert(e.getMessage.contains("rebuild via writeMinhashIndex"), e.getMessage)
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "a refused append must leave the index committed")
    ops.Artifacts.writeMeta(root, meta.toSeq: _*)
    // An EMPTY batch commits a data-file-less delta generation; the
    // append itself, its manifest, and every later probe read the delta
    // set through declared schemas — no inference crash, no stuck index.
    val manifest = GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", batchId = 1L, numHashes = 8, bands = 2).collect()
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "an empty append must recommit the root marker")
    assert(manifest.map(_.getAs[Long]("n_new")).sum == 0L)
    // probe with ONLY the data-file-less generation committed (the
    // streaming resolver's empty-delta seam): base dups still flag
    def probe(out: String): Map[Long, Boolean] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val batch = Seq((400L, fam),
        (402L, (1 to 40).map(i => s"q8y$i").mkString(" "))).toDF("doc_id", "text")
      graft.streaming.StreamingOps.dedupBatchAgainstIndex(
        s"$root/bands", out, "doc_id", "text", numHashes = 8, bands = 2)(batch, 0L)
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    }
    val flags = probe("/tmp/graft_mh_refuse_probe")
    assert(flags(400L) && !flags(402L),
      "the probe must serve base postings across an empty delta generation")
    // an uncommitted (crashed) index refuses both append and compact
    assert(new java.io.File(root, "_SUCCESS").delete())
    val eCrash = intercept[IllegalArgumentException](
      GraftAPI.minhashIndexAppend(spark, s"$root/bands",
        Seq((701L, "post crash")).toDF("doc_id", "text"),
        "doc_id", "text", batchId = 10L, numHashes = 8, bands = 2))
    assert(eCrash.getMessage.contains("not committed"), eCrash.getMessage)
    val eCrash2 = intercept[IllegalArgumentException](
      GraftAPI.minhashIndexCompact(spark, s"$root/bands"))
    assert(eCrash2.getMessage.contains("not committed"), eCrash2.getMessage)
    assert(new java.io.File(root, "_SUCCESS").createNewFile())
    // and a real append AFTER the empty generation still flags next-probe
    val newDoc = (1 to 40).map(i => s"nn7w$i").mkString(" ")
    GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      Seq((600L, newDoc)).toDF("doc_id", "text"),
      "doc_id", "text", batchId = 2L, numHashes = 8, bands = 2).collect()
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File("/tmp/graft_mh_refuse_probe2"))
    val batch2 = Seq((700L, newDoc)).toDF("doc_id", "text")
    graft.streaming.StreamingOps.dedupBatchAgainstIndex(
      s"$root/bands", "/tmp/graft_mh_refuse_probe2", "doc_id", "text",
      numHashes = 8, bands = 2)(batch2, 0L)
    assert(spark.read.parquet("/tmp/graft_mh_refuse_probe2").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup"))
      .toMap.apply(700L),
      "a dup of a doc appended after an empty generation must flag")
  }

  test("minhashIndexCompact: in-place fold closes the facade lifecycle — flags byte-identical, takedown of appended docs legal, replay idempotent (r13)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val fam = (1 to 40).map(i => s"ctok$i").mkString(" ")
    val base = (0L to 2L).map(id => (id, fam)) ++
      (10L to 40L).map(id => (id, (1 to 40).map(i => s"c${id}w$i").mkString(" ")))
    val newDoc = (1 to 40).map(i => s"cd9w$i").mkString(" ")
    // appended ids land in ingest batch 2 (batchWidth 250) so the fold's
    // derived pbatch is exercised on a non-zero batch
    val appended = Seq((500L, fam), (501L, newDoc))
    val root = java.nio.file.Files.createTempDirectory("graft_mh_cpt").toString
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      appended.toDF("doc_id", "text"), "doc_id", "text",
      batchId = 0L, numHashes = 8, bands = 2).collect()
    def probe(out: String): Map[Long, Boolean] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val batch = Seq((800L, fam), (801L, newDoc),
        (802L, (1 to 40).map(i => s"f2q$i").mkString(" "))).toDF("doc_id", "text")
      graft.streaming.StreamingOps.dedupBatchAgainstIndex(
        s"$root/bands", out, "doc_id", "text", numHashes = 8, bands = 2)(batch, 0L)
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    }
    val pre = probe("/tmp/graft_mh_cpt_pre")
    assert(pre(800L) && pre(801L) && !pre(802L))
    val manifest = GraftAPI.minhashIndexCompact(spark, s"$root/bands").collect()
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "compact must recommit the root marker")
    assert(!new java.io.File(root, "bands_delta").exists(),
      "folded delta generations must be removed")
    manifest.foreach { r =>
      assert(r.getAs[Long]("n_postings") == r.getAs[Long]("n_docs"),
        "the build's one-posting-per-(doc,band) invariant must survive the fold")
    }
    // appended rows carry the DERIVED ingest-batch axis: the takedown's
    // partition pruning works on them like build-time rows
    val pb = spark.read.parquet(s"$root/bands")
      .filter(col("doc_id") === 500L).select("pbatch").distinct().collect()
    assert(pb.length == 1 && pb.head.get(0).toString == "2",
      s"appended doc must gain pbatch = id div batchWidth, got ${pb.toSeq}")
    val post = probe("/tmp/graft_mh_cpt_post")
    assert(post == pre, "probe flags must be byte-identical across the compact")
    // the takedown that REFUSED while the doc was delta-resident now runs
    GraftAPI.minhashIndexDelete(spark, s"$root/bands",
      Seq(501L).toDF("doc_id"), "doc_id")
    val afterDel = probe("/tmp/graft_mh_cpt_del")
    assert(!afterDel(801L), "takedown of a formerly-appended doc must stop its dups flagging")
    assert(afterDel(800L), "the surviving hot family must keep flagging")
    // replay of the same append AFTER a compact, then a second compact:
    // the append skips the already-indexed id — no doubled postings
    GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      Seq((500L, fam)).toDF("doc_id", "text"), "doc_id", "text",
      batchId = 0L, numHashes = 8, bands = 2).collect()
    val manifest2 = GraftAPI.minhashIndexCompact(spark, s"$root/bands").collect()
    manifest2.foreach { r =>
      assert(r.getAs[Long]("n_postings") == r.getAs[Long]("n_docs"),
        "a replayed-then-compacted batch must not double postings")
    }
    assert(spark.read.parquet(s"$root/bands")
      .filter(col("doc_id") === 500L).count() == 2L,
      "the replayed doc folds back to one posting per band")
    // compact with no deltas = manifest only, marker untouched
    val manifest3 = GraftAPI.minhashIndexCompact(spark, s"$root/bands").collect()
    assert(manifest3.map(_.toString).sorted.sameElements(
      manifest2.map(_.toString).sorted))
  }

  test("minhashIndexAppend skips ids the base already holds: a batch replayed after a compact adds no rows and changes no flag or bucket size") {
    val sq = spark; import sq.implicits._
    val fam = (1 to 40).map(i => s"rptok$i").mkString(" ")
    val base = (0L to 2L).map(id => (id, fam)) ++
      (10L to 30L).map(id => (id, (1 to 40).map(i => s"rp${id}w$i").mkString(" ")))
    val batch = Seq((300L, fam), (301L, (1 to 40).map(i => s"rpnew$i").mkString(" ")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_mh_replay").toString
    val bands = s"$root/bands"
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    def append() = GraftAPI.minhashIndexAppend(spark, bands, batch, "doc_id", "text",
      batchId = 1L, numHashes = 8, bands = 2).collect()
    assert(append().map(_.getAs[Long]("n_new")).sum == 4L, "2 bands per appended doc")
    GraftAPI.minhashIndexCompact(spark, bands).collect()
    def probe(out: String): Map[Long, Boolean] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      graft.streaming.StreamingOps.dedupBatchAgainstIndex(bands, out, "doc_id", "text",
        numHashes = 8, bands = 2)(Seq((900L, fam), (901L, "rp fresh words only here"),
        (902L, (1 to 40).map(i => s"rpnew$i").mkString(" "))).toDF("doc_id", "text"), 0L)
      spark.read.parquet(out).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    }
    def skew() = GraftAPI.minhashIndexSkew(
        ops.MinhashIndex.resolvedPostings(spark, ops.MinhashIndex.Ix(root)))
      .orderBy("band").collect().map(_.toString).toSeq
    val (flags, sizes) = (probe("/tmp/graft_mh_replay_pre"), skew())
    assert(flags(900L) && flags(902L) && !flags(901L))
    val replay = append()
    assert(replay.map(_.getAs[Long]("n_new")).sum == 0L,
      s"a replay after the compact must add no rows: ${replay.toSeq}")
    assert(probe("/tmp/graft_mh_replay_post") == flags, "the replay changed a probe flag")
    assert(skew() == sizes, "the replay changed a bucket size")
  }

  test("minhashIndexAppend skips ids another committed generation holds: a document appended under batch 1 and again under batch 2 is counted once") {
    val sq = spark; import sq.implicits._
    val fam = (1 to 40).map(i => s"gstok$i").mkString(" ")
    val base = (0L to 2L).map(id => (id, fam)) ++
      (10L to 30L).map(id => (id, (1 to 40).map(i => s"gs${id}w$i").mkString(" ")))
    val batch = Seq((300L, fam), (301L, (1 to 40).map(i => s"gsnew$i").mkString(" ")))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_mh_twogen").toString
    val bands = s"$root/bands"
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    def append(batchId: Long) = GraftAPI.minhashIndexAppend(spark, bands, batch,
      "doc_id", "text", batchId, numHashes = 8, bands = 2).collect()
    def newRows(m: Array[org.apache.spark.sql.Row]) = m.map(_.getAs[Long]("n_new")).sum
    def skew() = GraftAPI.minhashIndexSkew(
        ops.MinhashIndex.resolvedPostings(spark, ops.MinhashIndex.Ix(root)))
      .orderBy("band").collect().map(_.toString).toSeq
    assert(newRows(append(1L)) == 4L, "2 bands per appended doc")
    val sizes = skew()
    val again = append(2L)
    assert(newRows(again) == 0L, s"batch 2 re-appended batch 1's documents: ${again.toSeq}")
    assert(skew() == sizes, "the second generation changed a bucket size")
    // the skip excludes the generation being written: a replay of batch 1
    // stays an idempotent overwrite, not an empty generation
    assert(newRows(append(1L)) == 4L, "a replay of batch 1 must rewrite its own rows")
    assert(skew() == sizes, "the replay changed a bucket size")
  }

  test("an append generation without its commit marker is invisible: the probe skips it and the compact folds only committed batches") {
    val sq = spark; import sq.implicits._
    def text(tag: String) = (1 to 40).map(i => s"$tag$i").mkString(" ")
    val base = (0L to 20L).map(id => (id, text(s"g${id}w")))
    val root = java.nio.file.Files.createTempDirectory("graft_mh_gen").toString
    GraftAPI.writeMinhashIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      root, numHashes = 8, bands = 2, batchWidth = 250).collect()
    val batch1 = Seq((300L, text("b1x")), (301L, text("b1y")))
    GraftAPI.minhashIndexAppend(spark, s"$root/bands", batch1.toDF("doc_id", "text"),
      "doc_id", "text", batchId = 1L, numHashes = 8, bands = 2).collect()
    // a crashed append of batch 2: its rows landed, its marker did not
    GraftAPI.minhashIndexAppend(spark, s"$root/bands",
      Seq((302L, text("b2z"))).toDF("doc_id", "text"),
      "doc_id", "text", batchId = 2L, numHashes = 8, bands = 2).collect()
    assert(new java.io.File(s"$root/bands_delta/batch=2", "_SUCCESS").delete())
    val out = "/tmp/graft_mh_gen_probe"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    graft.streaming.StreamingOps.dedupBatchAgainstIndex(s"$root/bands", out,
      "doc_id", "text", numHashes = 8, bands = 2)(
      Seq((900L, text("b1x")), (901L, text("b2z"))).toDF("doc_id", "text"), 0L)
    val flags = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_dup")).toMap
    assert(flags(900L), "a dup of a committed batch-1 doc must flag")
    assert(!flags(901L), "a dup of the uncommitted batch-2 doc must not flag")
    val manifest = GraftAPI.minhashIndexCompact(spark, s"$root/bands").collect()
    assert(manifest.length == 2)
    manifest.foreach { r =>
      assert(r.getAs[Long]("n_postings") == base.size + batch1.size,
        s"the compact must fold base + batch 1 only: $r")
    }
    assert(spark.read.parquet(s"$root/bands").filter($"doc_id" === 302L).isEmpty,
      "the uncommitted generation must not be folded")
  }

  test("annIndexDelete rewrites the committed delta sibling and cells so probes stop serving deleted vectors (review r13)") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_anndel_sib").toString
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 8, m = 4, k = 8).collect()
    val codes = s"$root/ivfpq_codes"
    // Plant the delta sibling in the codes layout: remapped vectors
    // (vec_id + 100000 — delta-ONLY ids), cell-partitioned with its own
    // _SUCCESS.
    val baseCodes = spark.read.parquet(codes)
      .select("vec_id", "m", "code", "cell")
    baseCodes.withColumn("vec_id", col("vec_id") + 100000L)
      .withColumn("pcell", col("cell"))
      .repartition(col("pcell"))
      .write.mode("overwrite").partitionBy("pcell")
      .parquet(s"$root/ivfpq_codes_delta")
    val baseId = baseCodes.select("vec_id").distinct()
      .limit(1).collect().head.getLong(0)
    val deltaId = baseId + 100000L
    val sq = spark; import sq.implicits._
    GraftAPI.annIndexDelete(spark, codes,
      Seq(baseId, deltaId).toDF("vec_id"), "vec_id")
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "the takedown must recommit the root marker")
    def ids(path: String): Set[Long] = spark.read
      .schema(ops.VectorOps.codesSchema).parquet(path)
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids(codes).contains(baseId), "base codes must drop the base id")
    val dIds = ids(s"$root/ivfpq_codes_delta")
    assert(!dIds.contains(deltaId),
      "the delta sibling must drop the delta-only id — it is the ONLY " +
        "table serving that vector")
    assert(dIds.nonEmpty, "surviving delta vectors must remain")
    // the cells membership table is purged too (review r13): the
    // streaming pool resolves membership from cells ∪ delta, so a stale
    // row would keep serving the deleted id through the corpus join
    val cellIds = spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!cellIds.contains(baseId),
      "the cells table must not retain deleted memberships")
  }

  test("ANN lifecycle refusals leave the index committed; emptying a delta cell is legal (review r13 round 2)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_annref").toString
    GraftAPI.buildAnnIndex(emb.filter(col("vec_id") % 10 =!= 7),
      "vec_id", "embedding", root, cells = 8, m = 4, k = 8).collect()
    val marker = new java.io.File(root, "_SUCCESS")
    // (a) a base-cell-emptying delete REFUSES before the marker
    // retirement: the index stays committed and NOTHING is rewritten
    // (the old behavior rewrote the base, then threw on the sibling,
    // stranding the index uncommitted)
    val smallCell = spark.read.parquet(s"$root/cells")
      .groupBy("cell").agg(count(lit(1)).as("n"), collect_list("vec_id").as("ids"))
      .orderBy("n").limit(1).collect().head
    val cellIds = smallCell.getSeq[Long](2)
    val before = spark.read.parquet(s"$root/ivfpq_codes")
      .collect().map(_.toString).sorted
    val e1 = intercept[IllegalArgumentException](
      GraftAPI.annIndexDelete(spark, s"$root/ivfpq_codes",
        cellIds.toDF("vec_id"), "vec_id"))
    assert(e1.getMessage.contains("emptied"), e1.getMessage)
    assert(marker.isFile, "a refused takedown must leave the index committed")
    assert(spark.read.parquet(s"$root/ivfpq_codes")
      .collect().map(_.toString).sorted.sameElements(before),
      "a refused takedown must not have touched the base codes")
    // (b) deleting the ONLY delta resident of a cell succeeds — the
    // day-scale delta is library-managed, the emptied cell just goes
    val held = emb.filter(col("vec_id") % 10 === 7)
    GraftAPI.annIndexAppend(held, "vec_id", "embedding", root).collect()
    val loneId = spark.read.parquet(s"$root/ivfpq_codes_delta")
      .filter(col("m") === 0)
      .groupBy("cell").agg(count(lit(1)).as("n"), min("vec_id").as("v"))
      .orderBy("n").limit(1).collect().head
    // make the chosen cell single-resident by deleting down to one, or
    // use it directly when it already is
    val delTarget = loneId.getLong(2)
    val cellOfTarget = loneId.getLong(0)
    val residents = spark.read.parquet(s"$root/ivfpq_codes_delta")
      .filter(col("m") === 0 && col("cell") === cellOfTarget)
      .select("vec_id").collect().map(_.getLong(0))
    GraftAPI.annIndexDelete(spark, s"$root/ivfpq_codes",
      residents.toSeq.toDF("vec_id"), "vec_id")
    assert(marker.isFile, "emptying a delta cell must recommit the marker")
    assert(spark.read.schema(ops.VectorOps.codesSchema)
      .parquet(s"$root/ivfpq_codes_delta")
      .filter(col("cell") === cellOfTarget).count() == 0L,
      s"the emptied delta cell $cellOfTarget must be gone")
    // (c) every lifecycle op refuses on an uncommitted (crashed) index
    // and leaves it exactly as found
    assert(marker.delete()) // simulate a crashed lifecycle op
    val e3 = intercept[IllegalArgumentException](
      GraftAPI.annIndexAppend(held, "vec_id", "embedding", root))
    assert(e3.getMessage.contains("not committed"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      GraftAPI.annIndexCompact(spark, root))
    assert(e4.getMessage.contains("not committed"), e4.getMessage)
    val e5 = intercept[IllegalArgumentException](
      GraftAPI.annIndexDelete(spark, s"$root/ivfpq_codes", Seq(residents.head).toDF("vec_id"), "vec_id"))
    assert(e5.getMessage.contains("not committed"), e5.getMessage)
    assert(!marker.isFile)
    assert(marker.createNewFile())
    // (d) an EMPTY batch commits a clean no-op (the minhash contract)
    val n0 = spark.read.schema(ops.VectorOps.codesSchema)
      .parquet(s"$root/ivfpq_codes_delta").count()
    val mEmpty = GraftAPI.annIndexAppend(
      held.filter(col("vec_id") < 0), "vec_id", "embedding", root).collect()
    assert(marker.isFile, "an empty append must recommit the marker")
    assert(spark.read.schema(ops.VectorOps.codesSchema)
      .parquet(s"$root/ivfpq_codes_delta").count() == n0,
      "an empty append must leave the delta content unchanged")
    assert(mEmpty.map(_.getAs[Long]("n_new")).sum == n0 / 4,
      "the manifest keeps counting the prior delta residents")
  }

  test("annIndexAppend/annIndexCompact: facade ANN lifecycle — appended vectors servable next probe, fold idempotent, replay-after-compact a no-op (r13)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter(col("vec_id") % 10 =!= 7)
    val heldOut = emb.filter(col("vec_id") % 10 === 7)
    val nHeld = heldOut.count()
    assert(nHeld > 0)
    val root = java.nio.file.Files.createTempDirectory("graft_annlc").toString
    GraftAPI.buildAnnIndex(base, "vec_id", "embedding", root,
      cells = 8, m = 4, k = 8).collect()
    // dim refusal BEFORE any marker/write churn: a rejected call leaves
    // the index committed
    val bad = Seq((9999L, Array.fill(8)(0.1))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](
      GraftAPI.annIndexAppend(bad, "vec_id", "embedding", root))
    assert(e1.getMessage.contains("dim"), e1.getMessage)
    assert(new java.io.File(root, "_SUCCESS").isFile)
    // the append: encodes ONLY against stored codebooks, lands the delta
    val manifest = GraftAPI.annIndexAppend(heldOut, "vec_id", "embedding", root)
      .collect()
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "a successful append must recommit the root marker")
    assert(manifest.map(_.getAs[Long]("n_new")).sum == nHeld,
      "every held-out vector must land in the delta manifest")
    val deltaRows = spark.read.parquet(s"$root/ivfpq_codes_delta")
      .select("vec_id", "m", "code", "cell").collect().map(_.toString).sorted
    assert(deltaRows.length == 4 * nHeld, "m=4 code rows per appended vector")
    // replay is byte-identical (deterministic encode + distinct fold)
    val manifest2 = GraftAPI.annIndexAppend(heldOut, "vec_id", "embedding", root)
      .collect()
    assert(manifest2.map(_.toString).sorted.sameElements(
      manifest.map(_.toString).sorted))
    assert(spark.read.parquet(s"$root/ivfpq_codes_delta")
      .select("vec_id", "m", "code", "cell").collect().map(_.toString).sorted
      .sameElements(deltaRows), "replayed append must byte-match the delta")
    // an appended vector is servable the very next probe, no compact:
    // its own embedding as the query returns itself at cosine 1.0
    val qid = heldOut.select("vec_id").orderBy("vec_id")
      .limit(1).collect().head.getLong(0)
    def probe(out: String): Map[Long, Set[Long]] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val q = emb.filter(col("vec_id") === qid).select(
        col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      graft.streaming.StreamingOps.annProbeBatch(s"$sf/embeddings.parquet",
        root, out, "vec_id", "embedding", k = 5)(q.toDF(), 0L)
      spark.read.parquet(out).collect()
        .groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.map(_.getAs[Long]("corpus_id")).toSet).toMap
    }
    val served = probe("/tmp/graft_annlc_p1")
    assert(served(qid).contains(qid),
      "an appended vector must be served from the delta pool pre-compact")
    // compact: single layout, delta gone, probe results identical
    val cManifest = GraftAPI.annIndexCompact(spark, root).collect()
    assert(new java.io.File(root, "_SUCCESS").isFile)
    assert(!new java.io.File(root, "ivfpq_codes_delta").exists(),
      "the folded delta must be removed")
    assert(cManifest.map(_.getAs[Long]("n_vecs")).sum == emb.count(),
      "compacted codes must cover base + appended vectors")
    cManifest.foreach(r => assert(
      r.getAs[Long]("n_codes") == 4 * r.getAs[Long]("n_vecs")))
    val cellsIds = spark.read.parquet(s"$root/cells")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(cellsIds.contains(qid),
      "compaction must fold appended memberships into the cells table")
    assert(probe("/tmp/graft_annlc_p2") == served,
      "probe results must be identical across the compact")
    // replay AFTER the compact: ids are base-resident now, the append
    // skips them — a clean no-op, nothing double-served
    val manifest3 = GraftAPI.annIndexAppend(heldOut, "vec_id", "embedding", root)
      .collect()
    assert(manifest3.map(_.getAs[Long]("n_new")).sum == 0L,
      "replay after compact must skip already-indexed vectors")
    assert(probe("/tmp/graft_annlc_p3") == served)
  }

  test("annProbeBatch serves across a committed data-file-less codes delta (review r13)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_annix_mt").toString
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 8, m = 4, k = 8).collect()
    val q = emb.limit(1).select(
      col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    def probe(out: String): Array[String] = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      graft.streaming.StreamingOps.annProbeBatch(s"$sf/embeddings.parquet",
        root, out, "vec_id", "embedding", k = 5)(q.toDF(), 0L)
      spark.read.parquet(out).select("query_id", "corpus_id", "cosine")
        .collect().map(_.toString).sorted
    }
    val clean = probe("/tmp/graft_annix_mt_p1")
    // a corpus with an empty held-out slice commits a delta with Spark's
    // _SUCCESS and zero data files; the pool resolver must serve the
    // cells table alone — identical results, no inference crash
    val deltaDir = new java.io.File(root, "ivfpq_codes_delta")
    assert(deltaDir.mkdirs())
    assert(new java.io.File(deltaDir, "_SUCCESS").createNewFile())
    val withEmptyDelta = probe("/tmp/graft_annix_mt_p2")
    assert(withEmptyDelta.sameElements(clean),
      "an empty committed delta must not change or crash the probe")
  }

  test("delete-leg marker semantics: success recommits _SUCCESS; a failed delete leaves the index uncommitted") {
    import org.apache.spark.sql.functions._
    val sq = spark
    import sq.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mhdel_marker").toString
    GraftAPI.writeMinhashIndex(docs, "doc_id", "text", root,
      numHashes = 8, bands = 2, batchWidth = 100).collect()
    val bands = s"$root/bands"
    val marker = new java.io.File(root, "_SUCCESS")
    // successful delete: the marker is retired during the rewrite and
    // recommitted after it (ADVICE r9 — 'marker commits last' holds for
    // in-place deletes too)
    val ids = spark.read.parquet(bands).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted
    GraftAPI.minhashIndexDelete(spark, bands,
      Seq(ids.find(i => i >= 100 && i < 200).get).toDF("doc_id"), "doc_id")
    assert(marker.isFile, "successful delete must recommit the root marker")
    // failed delete (emptying a whole ingest batch trips the guard BEFORE
    // any write): the marker stays retired — pessimistic crash semantics,
    // a reader/rebuilder sees an uncommitted index rather than trusting a
    // table a failed mutation may have touched
    val batch0 = spark.read.parquet(bands)
      .filter(col("pbatch") === 0).select(col("doc_id")).distinct()
      .collect().map(_.getLong(0))
    assert(batch0.nonEmpty)
    intercept[IllegalArgumentException](
      GraftAPI.minhashIndexDelete(spark, bands,
        batch0.toSeq.toDF("doc_id"), "doc_id"))
    assert(!marker.isFile,
      "failed delete must leave the index marked uncommitted")
    // an index written WITHOUT a batch axis refuses the delete with the
    // geometry message (batchWidth recorded as 0 in the meta) — and the
    // rejection must NOT touch the root marker (review r10: a rejected
    // mis-call leaves a valid index valid; only the rewrite window
    // retires the marker)
    val root2 = java.nio.file.Files.createTempDirectory("graft_mhdel_nobatch").toString
    GraftAPI.writeMinhashIndex(docs, "doc_id", "text", root2,
      numHashes = 8, bands = 2).collect()
    val e = intercept[IllegalArgumentException](
      GraftAPI.minhashIndexDelete(spark, s"$root2/bands",
        Seq(0L).toDF("doc_id"), "doc_id"))
    assert(e.getMessage.contains("batchWidth"), e.getMessage)
    assert(new java.io.File(root2, "_SUCCESS").isFile,
      "a rejected delete must leave the index committed")
  }

  test("crash window mid-delete: a restarted minhash ensure rebuilds, never serves the half-rewritten table") {
    // The withRetiredMarker discipline (retire _SUCCESS -> rewrite ->
    // recommit) exists for exactly one failure: a crash BETWEEN retire
    // and recommit. Simulate that window on the registry index — marker
    // gone, table half-rewritten (one band partition missing) — and
    // assert the restart path (ensure) detects the uncommitted root and
    // rebuilds to pristine content instead of trusting what is on disk.
    val ix = ops.MinhashIndex.ensure(spark, sf)
    def content() = spark.read.parquet(ix.bands)
      .select("doc_id", "band", "band_key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val pristine = content()
    // crash window: marker retired, rewrite half-done
    assert(new java.io.File(ix.root, "_SUCCESS").delete())
    val part = new java.io.File(ix.bands).listFiles()
      .filter(_.getName.startsWith("pband=")).head
    ops.Artifacts.rmrf(part)
    assert(content() != pristine, "the half-rewritten table must differ")
    val ix2 = ops.MinhashIndex.ensure(spark, sf)
    assert(new java.io.File(ix2.root, "_SUCCESS").isFile,
      "restarted ensure must recommit the marker")
    assert(content() == pristine,
      "restarted ensure must rebuild the postings, not serve the partial table")
  }

  test("crash window mid-delete: a restarted ANN ensure rebuilds, never serves the half-rewritten codes") {
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    def codes() = spark.read.parquet(ix.ivfCodes)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val pristine = codes()
    assert(new java.io.File(ix.root, "_SUCCESS").delete())
    val part = new java.io.File(ix.ivfCodes).listFiles()
      .filter(_.getName.startsWith("pcell=")).head
    ops.Artifacts.rmrf(part)
    assert(codes() != pristine, "the half-rewritten code table must differ")
    val ix2 = ops.IvfPqIndex.ensure(spark, sf)
    assert(new java.io.File(ix2.root, "_SUCCESS").isFile,
      "restarted ensure must recommit the marker")
    assert(codes() == pristine,
      "restarted ensure must rebuild the codes, not serve the partial table")
  }

  test("annIndexDelete(facade): in-place pruned takedown on buildAnnIndex's codes") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft_anndel_api").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 8, m = 4, k = 8).collect()
    val codes = s"$root/ivfpq_codes"
    def rowKey(r: org.apache.spark.sql.Row): String =
      r.toSeq.map(String.valueOf).mkString("|")
    val beforeRows = spark.read.parquet(codes).drop("pcell").collect()
    val before = beforeRows.map(rowKey).sorted
    val sq = spark
    import sq.implicits._
    val delIds = beforeRows.map(_.getAs[Number]("vec_id").longValue)
      .distinct.filter(_ % 37 == 0)
    assert(delIds.nonEmpty)
    GraftAPI.annIndexDelete(spark, codes, delIds.toSeq.toDF("vec_id"), "vec_id")
    val after = spark.read.parquet(codes).drop("pcell")
      .collect().map(rowKey).sorted
    val survivors = beforeRows
      .filterNot(r => delIds.contains(r.getAs[Number]("vec_id").longValue))
      .map(rowKey).sorted
    assert(after.sameElements(survivors),
      "post-delete codes must be the exact survivor multiset")
  }

  test("annIndexDelete retires the cell split: the probe falls back to whole-cell pools instead of serving a stale split (ADVICE r12)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // the r12 split test's planted corpus: a 201-vector cluster in one
    // coarse cell + scattered mass
    val rnd = new scala.util.Random(11)
    val base = Array.fill(16)(rnd.nextGaussian() * 0.1 + 0.5)
    def jitter(s: Double) = base.map(v => (v + rnd.nextGaussian() * s).toFloat)
    def scattered() = Array.fill(16)((rnd.nextGaussian() * 2.0).toFloat)
    val rows =
      Seq((0L, base.map(_.toFloat))) ++
      (1L to 15L).map(id => (id, scattered())) ++
      (16L to 215L).map(id => (id, jitter(0.05))) ++
      (216L to 315L).map(id => (id, scattered()))
    val dir = java.nio.file.Files.createTempDirectory("graft_anndel_split").toString
    rows.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("graft_anndel_split_ix").toString
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 16, m = 4, k = 8).collect()
    GraftAPI.annIndexSplit(emb, "vec_id", "embedding", root,
      hotSize = 32L, subK = 4).collect()
    assert(new java.io.File(root, "_split_SUCCESS").isFile)
    // take down most of the hot cluster (leave a handful), and purge the
    // caller-side corpus floats the same way a real takedown must
    val delIds = (26L to 215L).toSet
    GraftAPI.annIndexDelete(spark, s"$root/ivfpq_codes",
      delIds.toSeq.toDF("vec_id"), "vec_id")
    assert(!new java.io.File(root, "_split_SUCCESS").isFile,
      "takedown must retire the stale split marker (its rows reflect pre-delete membership)")
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "successful delete must recommit the root marker")
    val survivors = rows.filterNot { case (id, _) => delIds.contains(id) }
    survivors.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/survivors.parquet")
    // probe a query inside the (ex-)hot cell: with the split retired the
    // pool is the whole cell, so the result is the exact top-10 over the
    // SURVIVING cell members — a stale split would count deleted vec_ids
    // toward the pool >= k floor and come back short
    val out = java.nio.file.Files
      .createTempDirectory("graft_anndel_split_probe").toString + "/out"
    val batch = Seq((0L, rows(0)._2.map(_.toDouble))).toDF("vec_id", "embedding")
    graft.streaming.StreamingOps.annProbeBatch(s"$dir/survivors.parquet",
      root, out, "vec_id", "embedding", k = 10)(batch, 0L)
    val got = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("corpus_id")).toSet
    val cellsT = spark.read.parquet(s"$root/cells").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      math.floor(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))) * 1e6 + 0.5) / 1e6
    }
    val vecs = rows.toMap
    val want = cellsT.collect {
        case (v, c) if c == cellsT(0L) && !delIds.contains(v) => v }
      .toSeq.map(v => (v, cos(vecs(v), vecs(0L))))
      .sortBy { case (v, c) => (-c, v) }.take(10).map(_._1).toSet
    assert(got == want,
      s"post-takedown probe must be the exact whole-cell top-10 over survivors (got $got, want $want)")
    assert(got.intersect(delIds).isEmpty, "no deleted vector may be served")
  }

  test("annIndexStats(facade) == VectorOps.annIndexStats on the stored registry index") {
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    val got = GraftAPI.annIndexStats(
      spark.read.parquet(ix.cells), spark.read.parquet(ix.ivfCodes),
      quantizerCells = 16).collect().head
    val want = ops.VectorOps.annIndexStats(spark, sf).collect().head
    (0 until want.length).foreach(i => assert(got.get(i) == want.get(i),
      s"column ${want.schema(i).name} drift"))
  }

  test("minhashIndexSkew(facade) == DedupOps.minhashIndexStats on the stored postings") {
    val ix = ops.MinhashIndex.ensure(spark, sf)
    val got = GraftAPI.minhashIndexSkew(spark.read.parquet(ix.bands))
      .orderBy("band").collect().map(_.toSeq)
    val want = ops.DedupOps.minhashIndexStats(spark, sf)
      .collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("minhashIndexSkew: hand-computed manifest on bucket sizes 1, 2 and 5 (cand_pairs 0, 1, 10)") {
    import spark.implicits._
    // band 1: buckets of 1, 2 and 5 docs; band 2: three pairs + two singletons
    val sizes = Seq(1 -> Seq(1, 2, 5), 2 -> Seq(2, 2, 2, 1, 1))
    val bands = sizes.flatMap { case (band, szs) =>
      szs.zipWithIndex.flatMap { case (sz, b) =>
        (0 until sz).map(d => (d.toLong, band, s"key$b")) }
    }.toDF("doc_id", "band", "band_key")
    val got = GraftAPI.minhashIndexSkew(bands).orderBy("band").collect().map(_.toSeq)
    // (band, n_buckets, max_bucket, hot_buckets, singletons, cand_pairs)
    assert(got.toSeq == Seq(Seq(1, 3L, 5L, 2L, 1L, 0L + 1L + 10L),
                            Seq(2, 5L, 2L, 3L, 2L, 3L)))
  }

  test("embeddingOutliers(facade) == VectorOps.embedOutliers at the registry protocol") {
    val got = GraftAPI.embeddingOutliers(renamedEmb, "vid", "lbl", "emb")
      .orderBy("vid").collect().map(_.toSeq)
    val want = ops.VectorOps.embedOutliers(spark, sf).collect().map(_.toSeq)
    assert(got.nonEmpty && got.toSeq == want.toSeq)
  }

  test("annFilteredTopK(facade) == VectorOps.knnFiltered at the registry protocol") {
    val ix = ops.IvfPqIndex.ensure(spark, sf)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val got = GraftAPI.annFilteredTopK(renamedEmb, "vid", "emb",
        spark.read.parquet(ix.coarse), spark.read.parquet(ix.cells),
        q, col("lbl") % 2 === 1 && col("vid") =!= 0)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = ops.VectorOps.knnFiltered(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(got.toSeq == want.toSeq)
  }

  test("parameter guards fail loudly: ngramRows n<2, ewma alpha out of (0,1), kmeansAssign null vector") {
    import spark.implicits._
    val e1 = intercept[IllegalArgumentException](
      GraftAPI.ngramRows(docs, "doc_id", "text", 1))
    assert(e1.getMessage.contains("n >= 2"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      GraftAPI.ewma(docs, Seq("lang"), "doc_id", "n_chars", alpha = 1.0))
    assert(e2.getMessage.contains("alpha"), e2.getMessage)
    val withNull = Seq((1L, Some(Seq(1.0, 2.0))), (2L, None))
      .toDF("id", "v")
    val e3 = intercept[IllegalArgumentException](
      GraftAPI.kmeansAssign(withNull, "id", "v", k = 1, iters = 1))
    assert(e3.getMessage.contains("null"), e3.getMessage)
  }

  test("snapshotDiff classifies null-keyed rows by SIDE, not key nullability") {
    import spark.implicits._
    // a null-keyed old row vanishes in `new` -> must be a DELETE; the
    // old key-nullability test misread it as an Insert (review r10)
    val o = Seq((Option(1L), 10.0), (Option.empty[Long], 99.0)).toDF("k", "v")
    val n = Seq((Option(1L), 10.0)).toDF("k", "v")
    val diff = GraftAPI.snapshotDiff(o, n, Seq("k")).collect()
    assert(diff.length == 1, diff.mkString(","))
    val r = diff.head
    assert(r.getAs[String]("op") == "D", r.toString)
    assert(r.isNullAt(r.fieldIndex("k")), r.toString)
    assert(r.getAs[Double]("old_v") == 99.0, r.toString)
  }

  test("annFilteredTopK: a zero-norm vector scores null cosine and ranks LAST, never first") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.0, 0.0)), (3L, Seq(-1.0, 0.05)))
      .toDF("vec_id", "embedding")
    val coarse = Seq((0L, Seq(0.0, 0.0))).toDF("cid", "cv")
    val cells = Seq((1L, 0L), (2L, 0L), (3L, 0L)).toDF("vec_id", "cell")
    val top = GraftAPI.annFilteredTopK(df, "vec_id", "embedding", coarse, cells,
      query = Seq(1.0, 0.0), pred = lit(true), probes = 1, k = 3).collect()
    // 0/0 = NaN would sort ABOVE every real cosine and put the corrupt
    // vector first; the null-cosine guard puts it last (review r10)
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L),
      top.map(r => (r.getLong(0), r.get(1))).mkString(","))
    assert(top.last.isNullAt(1), "zero-norm cosine must be null, not NaN")
  }

  test("a failed ANN REBUILD leaves the index uncommitted (stale marker retired first)") {
    val root = java.nio.file.Files.createTempDirectory("graft_annix_rebuild").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    GraftAPI.buildAnnIndex(emb, "vec_id", "embedding", root,
      cells = 2, m = 8, k = 2, iters = 1)
    assert(new java.io.File(root, "_SUCCESS").isFile, "initial build must commit")
    // a rebuild whose evaluation throws AFTER the marker retirement: the
    // index must read as UNCOMMITTED, not valid-marker-over-mixed-tables
    val boom = udf { () =>
      if (System.nanoTime() > 0) throw new RuntimeException("boom"); Seq(0.0)
    }
    val bad = spark.range(2).select(col("id").as("vec_id"), boom().as("x"))
    intercept[Exception] {
      ops.IvfPqIndex.buildAt(spark, bad, ops.IvfPqIndex.Ix(root), 2, 8, 2, 1)
    }
    assert(!new java.io.File(root, "_SUCCESS").isFile,
      "failed rebuild must leave the index uncommitted")
  }

  test("annIndexDelete rejects a non-code-table path BEFORE retiring the marker") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_annix_reject").toString
    val tablePath = s"$root/ivfpq_codes"
    // a parquet table that is NOT a cell-partitioned code layout
    Seq((1L, "x")).toDF("some_id", "payload")
      .write.mode("overwrite").parquet(tablePath)
    assert(new java.io.File(root, "_SUCCESS").createNewFile())
    val e = intercept[IllegalArgumentException] {
      GraftAPI.annIndexDelete(spark, tablePath,
        Seq(1L).toDF("vec_id"), "vec_id")
    }
    assert(e.getMessage.contains("vec_id"), e.getMessage)
    assert(new java.io.File(root, "_SUCCESS").isFile,
      "a rejected mis-call must leave a valid index VALID (marker intact)")
  }
}
