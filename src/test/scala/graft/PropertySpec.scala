package graft

import graft.ops.BooksOps
import graft.streaming.{Ev, StreamingOps}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY.md §5.2.3): cast null-safety of the
  * coercing flatten over generator-produced ragged input, and idempotence
  * of the keep-latest upsert. Generated cases run as ONE batch per
  * property — the per-row invariant is checked against an independent
  * local model, not against Spark itself. */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val idGen: Gen[String] = Gen.oneOf(
    Gen.choose(1L, 1000000L).map(_.toString),          // plain int
    Gen.choose(1L, 1000000L).map(v => s"$v.0"),        // float-formatted (P5)
    Gen.alphaStr.suchThat(_.nonEmpty),                 // garbage -> null
    Gen.const(""))                                     // empty -> null

  private val ratingGen: Gen[String] = Gen.oneOf(
    Gen.choose(0, 100).map(v => (v / 100.0).toString), // parseable double
    Gen.const("N/A"), Gen.const(""), Gen.alphaStr.suchThat(_.nonEmpty))

  /** The reference's coercion semantics, modelled independently:
    * int(float(x)) if parseable else None. */
  private def modelId(s: String): Option[Long] =
    s.toDoubleOption.map(_.toLong)
  private def modelRating(s: String): Option[Double] =
    s.toDoubleOption.map(_ * 100.0)

  test("flatten coercing casts never throw; null exactly when unparseable (P5/P7)") {
    val recGen = for { i <- idGen; r <- ratingGen } yield (i, r)
    val prop = Prop.forAll(Gen.listOfN(60, recGen)) { recs =>
      val lines = recs.zipWithIndex.map { case ((i, r), k) =>
        // title carries the row key so results can be matched back
        s"""[{"id": "$i", "title": "t$k", "authors": [], "genres": [], "rating": {"average": "$r"}}]"""
      }
      val sq = spark; import sq.implicits._
      val flat = BooksOps.flattenRawBooks(
        BooksOps.parseRawJsonLines(lines.toDF("value"))).collect()
      val byTitle = flat.map(row => row.getAs[String]("title") -> row).toMap
      recs.zipWithIndex.forall { case ((i, r), k) =>
        val row = byTitle(s"t$k")
        val gotId = if (row.isNullAt(row.fieldIndex("id"))) None
                    else Some(row.getAs[Long]("id"))
        val gotRating = if (row.isNullAt(row.fieldIndex("rating"))) None
                        else Some(row.getAs[Double]("rating"))
        gotId == modelId(i) && gotRating == modelRating(r)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("keep-latest upsert is idempotent: f(f(x)) == f(x)") {
    val sq = spark; import sq.implicits._
    val ds = Tables.events(spark, TestSpark.Sf0001).as[Ev]
    val once = StreamingOps.latestByUser(ds).collect().sortBy(_.user_id).toSeq
    val twice = StreamingOps.latestByUser(StreamingOps.latestByUser(ds))
      .collect().sortBy(_.user_id).toSeq
    assert(once == twice)
  }

  test("exact dedup is idempotent over its survivors") {
    val sq = spark; import sq.implicits._
    val docs = Tables.documents(spark, TestSpark.Sf0001)
    val survivors = docs.join(
      ops.DedupOps.dedupExact(spark, TestSpark.Sf0001)
        .select(org.apache.spark.sql.functions.col("keep_id").as("doc_id")),
      "doc_id")
    // dedup of the deduped corpus keeps every row
    assert(survivors.dropDuplicates("text").count() == survivors.count())
  }

  test("kmeansAssign: total assignment, cells drawn from seed ids, re-run stable") {
    val sq = spark; import sq.implicits._
    // deterministic pseudo-random points over SPARSE ids
    val pts = (0 until 200).map { i =>
      val id = i * 3 + 7L
      (id, Array.tabulate(8)(d => (((id * 2654435761L + d * 97) % 1000) / 500.0f) - 1.0f))
    }.toDF("id", "v")
    val k = 16
    def run() = graft.api.GraftAPI.kmeansAssign(pts, "id", "v", k = k, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val a = run()
    // every input id assigned exactly once
    assert(a.map(_._1) == pts.collect().map(_.getLong(0)).sorted.toSeq)
    // every cell is one of the k lowest ids (seeds label clusters)
    val seeds = (0 until k).map(i => i * 3 + 7L).toSet
    assert(a.forall(p => seeds(p._2)), s"foreign cell id: ${a.filterNot(p => seeds(p._2)).take(3)}")
    // byte-stable across re-runs (different partition order, same result)
    assert(run() == a)
  }

  test("HLL sketch rollup-merge estimates within 3% of exact distinct counts") {
    // calibration-audit form: (month, exact_customers, hll_ok) — the ±3%
    // comparison runs inside the query; every row's bit must hold, and
    // the ALL row's exact count must equal the global distinct.
    val rows = ops.Relational.aggHllSketchMerge(spark, TestSpark.Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    val exact = Tables.orders(spark, TestSpark.Sf0001)
      .select(org.apache.spark.sql.functions.countDistinct("o_custkey"))
      .head().getLong(0)
    val all = rows.find(_._1 == "ALL").get
    assert(all._2 == exact, s"ALL exact ${all._2} vs global $exact")
    rows.foreach { case (m, n, ok) => assert(ok, s"HLL bound blown for $m (exact $n)") }
    // monthly exacts sum to >= the merged distinct (overlap across months)
    assert(rows.filter(_._1 != "ALL").map(_._2).sum >= exact)
  }

  test("native TopKPerGroup == window idiom on generated data (any groups, any k)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val rowGen = for {
      g <- org.scalacheck.Gen.choose(0, 6)
      v <- org.scalacheck.Gen.choose(-1000, 1000)
    } yield (g, v)
    val caseGen = for {
      rows <- org.scalacheck.Gen.listOfN(120, rowGen)
      k <- org.scalacheck.Gen.choose(1, 8)
    } yield (rows, k)
    val prop = Prop.forAll(caseGen) { case (rows, k) =>
      // unique tiebreak via zipWithIndex -> total order, exactness applies
      val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
        .toDF("g", "v", "uid")
      val native = plans.TopKPerGroup(df, k,
        Seq(col("g")), Seq(col("v").desc, col("uid").asc))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("uid").asc)
      val idiom = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select("g", "v", "uid")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
      native == idiom
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("QuantizeI8: |dequant - x| <= scale/2 and |q| <= 127 on generated vectors") {
    val sq = spark; import sq.implicits._
    import org.apache.spark.sql.functions.{col, greatest, array_max, array_min, lit}
    val vecGen = org.scalacheck.Gen.choose(1, 16).flatMap(n =>
      org.scalacheck.Gen.listOfN(n,
        org.scalacheck.Gen.choose(-1e6, 1e6).map(x => math.round(x * 1e3) / 1e3)))
    val prop = Prop.forAll(org.scalacheck.Gen.listOfN(30, vecGen)) { vecs =>
      val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      val e = col("v").cast("array<double>")
      val scale = greatest(array_max(e), -array_min(e)) / lit(127.0)
      val out = df.select(col("id"),
          functions.VectorFunctions.graftQuantizeI8(e, scale).as("q"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      vecs.zipWithIndex.forall { case (v, i) =>
        val s = v.map(math.abs).max / 127.0
        val q = out(i.toLong)
        q.size == v.size && q.forall(x => math.abs(x) <= 127) &&
          (s == 0.0 || q.zip(v).forall { case (qi, xi) =>
            math.abs(qi * s - xi) <= s / 2 + 1e-9 })
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("EWMA exponent-rescaling algebra equals the sequential recurrence (pure math)") {
    // mirrors GraftAPI.ewma's window formula (events_ewma) token-for-token:
    // ewma_t = 0.5^t * (v0 + 0.5 * (Σ_{i<=t} v_i/0.5^i − v0)); the property
    // pins the FP claim the operator rests on — power-of-two rescaling is
    // exact, so the data-parallel form tracks the recurrence to roundoff
    // across magnitudes and series lengths (the documented ~1000-step
    // horizon: v·2^t hits double's ~1.8e308 ceiling near t ≈ 1000 for
    // daily-sum magnitudes — lengths here stress to 300).
    val seriesGen = Gen.choose(1, 300).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0.0, 1e6)))
    val prop = Prop.forAll(seriesGen) { vs =>
      val v0 = vs.head
      var sacc = 0.0
      var prev = 0.0
      vs.zipWithIndex.forall { case (v, t) =>
        sacc += v / math.pow(0.5, t)
        val windowed = math.pow(0.5, t) * (v0 + 0.5 * (sacc - v0))
        val recur = if (t == 0) v else 0.5 * prev + 0.5 * v
        prev = recur
        math.abs(windowed - recur) <= math.max(1e-9, math.abs(recur) * 1e-9)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
    assert(res.passed, res.status.toString)
  }

  test("semanticDedup == brute-force greedy model on random clustered vectors") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(4, Gen.choose(-1.0f, 1.0f)).map(_.toSeq)
    val rowGen: Gen[(Long, Int, Seq[Float])] = for {
      id <- Gen.choose(0L, 10000L); cell <- Gen.choose(0, 3); v <- vecGen
    } yield (id, cell, v)
    val prop = Prop.forAll(Gen.listOfN(40, rowGen)) { rows0 =>
      val rows = rows0.distinctBy(_._1).filter(_._3.exists(_ != 0f))
      val tau = 0.6
      def rawCos(a: Seq[Float], b: Seq[Float]): Double = {
        def d(x: Seq[Float], y: Seq[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
      }
      // Discard τ-adjacent cases: within ~1e-4 of the threshold, a 1-ulp
      // difference between the local fold and Spark's codegen'd fold can
      // flip the 6-dp snap and the keep decision — that boundary is not
      // the property under test (determinism AT the boundary is the
      // oracle's job on fixed fixtures).
      val boundary = rows.exists { a => rows.exists { b =>
        a._2 == b._2 && a._1 < b._1 && math.abs(rawCos(a._3, b._3) - tau) < 1e-4 } }
      if (rows.isEmpty || boundary) Prop.passed
      else {
        def cos(a: Seq[Float], b: Seq[Float]): Double = {
          val c = rawCos(a, b)
          math.floor(c * 1e6 + 0.5) / 1e6 // the r6 snap both sides apply
        }
        // independent local model: greedy by id within each cell
        val model = rows.map { case (id, cell, v) =>
          val lower = rows.filter(o => o._2 == cell && o._1 < id &&
            cos(o._3, v) >= tau).map(_._1)
          id -> (lower.isEmpty, if (lower.isEmpty) id else lower.min)
        }.toMap
        val df = rows.toDF("vec_id", "cell", "embedding")
        val got = graft.api.GraftAPI
          .semanticDedup(df, "vec_id", "cell", "embedding", tau)
          .collect().map(r => r.getAs[Number](0).longValue ->
            (r.getBoolean(2), r.getAs[Number](3).longValue)).toMap
        Prop(got == model) :| s"got=$got model=$model"
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("two-pass range-bucket prefix sum == local cumulative sum on arbitrary sparse id spaces") {
    // The fixed-cardinality spine decomposition (VERDICT r6 #3) must be
    // EXACT for any id distribution — sparse, clustered, adversarially
    // skewed — not just the fixture's dense ids. Model: plain local
    // cumsum in id order, shard = cum_before / budget.
    val sq = spark; import sq.implicits._
    val rowGen = for {
      id <- Gen.oneOf(
        Gen.choose(0L, 50L),                    // dense/clustered low ids
        Gen.choose(0L, 1000000000L),            // sparse huge ids
        Gen.choose(999999000L, 1000000000L))    // clustered near the max
      n <- Gen.choose(1L, 500L)
    } yield (id, n)
    val prop = Prop.forAll(Gen.listOfN(80, rowGen)) { raw =>
      // duplicate ids collapse (doc_id is a key) — keep first occurrence
      val rows = raw.groupBy(_._1).map { case (id, vs) => (id, vs.head._2) }.toSeq
      val budget = 1000L
      val model = rows.sortBy(_._1)
        .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (id, n)) => (id, n, cum + n) }
        .drop(1)
        .map { case (id, n, cumIncl) => (id, n, (cumIncl - n) / budget) }
      val got = ops.PipelineOps.packByBudget(rows.toDF("doc_id", "n_tokens"), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Prop(got == model) :| s"got=${got.take(5)}… model=${model.take(5)}…"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("packByBudget with a start offset == prefix sum shifted by exactly that many tokens") {
    // the continuation invariant behind shard_pack_incremental, on
    // arbitrary id spaces AND arbitrary already-packed token totals
    val sq = spark; import sq.implicits._
    val rowGen = for {
      id <- Gen.oneOf(Gen.choose(0L, 50L), Gen.choose(0L, 1000000000L))
      n <- Gen.choose(1L, 500L)
    } yield (id, n)
    val caseGen = for {
      raw <- Gen.listOfN(40, rowGen)
      start <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, 100000L))
    } yield (raw, start)
    val prop = Prop.forAll(caseGen) { case (raw, start) =>
      val rows = raw.groupBy(_._1).map { case (id, vs) => (id, vs.head._2) }.toSeq
      val budget = 1000L
      val model = rows.sortBy(_._1)
        .scanLeft((0L, 0L, start)) { case ((_, _, cum), (id, n)) => (id, n, cum + n) }
        .drop(1)
        .map { case (id, n, cumIncl) => (id, n, (cumIncl - n) / budget) }
      val st = Seq(start).toDF("base_tokens")
      val got = ops.PipelineOps.packByBudget(
          rows.toDF("doc_id", "n_tokens"), budget, startTokens = Some(st))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      Prop(got == model) :| s"start=$start got=${got.take(5)}… model=${model.take(5)}…"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("tokenEntropy == local snapped model on generated word-salad docs") {
    val sq = spark; import sq.implicits._
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x")
    val docGen: Gen[(Long, String)] = for {
      id <- Gen.choose(0L, 100000L)
      n <- Gen.choose(1, 30)
      ws <- Gen.listOfN(n, wordGen)
    } yield (id, ws.mkString(" "))
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val prop = Prop.forAll(Gen.listOfN(12, docGen)) { docs0 =>
      val docs = docs0.distinctBy(_._1)
      if (docs.isEmpty) Prop.passed
      else {
        val model = docs.map { case (id, text) =>
          val toks = text.toLowerCase.split(" ").toSeq
          val n = toks.size.toDouble
          val counts = toks.groupBy(identity).map(_._2.size)
          val h = counts.map(c => snap(c / n * math.log(n / c))).sum
          val hn = if (counts.size == 1) 0.0
            else math.min(1.0, snap(h / math.log(counts.size.toDouble)))
          id -> (toks.size.toLong, counts.size.toLong, snap(h), hn)
        }.toMap
        val got = graft.api.GraftAPI
          .tokenEntropy(docs.toDF("doc_id", "text"), "doc_id", "text")
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
        val ok = got.keySet == model.keySet && got.forall { case (id, (nt, ny, h, hn)) =>
          val (mnt, mny, mh, mhn) = model(id)
          nt == mnt && ny == mny && math.abs(h - mh) < 2e-6 && math.abs(hn - mhn) < 5e-6
        }
        Prop(ok) :| s"got=$got model=$model"
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("minhashBands shape invariant: every doc with >= 3 tokens emits exactly one key per band") {
    val sq = spark; import sq.implicits._
    val wordGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
    val docGen: Gen[(Long, String)] = for {
      id <- Gen.choose(0L, 100000L)
      n <- Gen.choose(0, 12) // includes docs too short to shingle
      ws <- Gen.listOfN(n, wordGen)
    } yield (id, ws.mkString(" "))
    val prop = Prop.forAll(Gen.listOfN(10, docGen)) { docs0 =>
      val docs = docs0.distinctBy(_._1)
      if (docs.isEmpty) Prop.passed
      else {
        val bands = graft.api.GraftAPI
          .minhashBands(docs.toDF("doc_id", "text"), "doc_id", "text",
            numHashes = 8, bands = 2)
          .collect().map(r => (r.getLong(0), r.getInt(1)))
        val byDoc = bands.groupBy(_._1)
        val shingleable = docs.filter(_._2.split(" ").count(_.nonEmpty) >= 3).map(_._1).toSet
        val ok = byDoc.keySet == shingleable &&
          byDoc.values.forall(rs => rs.map(_._2).sorted.toSeq == Seq(1, 2))
        Prop(ok) :| s"docs=${docs.map(_._1)} shingleable=$shingleable byDoc=${byDoc.view.mapValues(_.length).toMap}"
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("asofJoinBackward == brute-force model on generated series (null payloads, ties, tolerance)") {
    import org.apache.spark.sql.functions._
    val sq = spark; import sq.implicits._
    // Generalizes the hand-built r10 null-payload case: for EVERY left row
    // the matched right row must be the max by (ts, tie) among rts <= lts,
    // carried AS A UNIT — a matched row's null payload stays null (never an
    // older row's value), and a tolerance-stale match nulls ts and payload
    // together. The model is an independent per-row scan.
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val leftGen = for {
      u <- Gen.choose(0, 2); t <- Gen.choose(0L, 50L)
    } yield (u.toLong, t * 1000L) // ms grid so ties across rows are common
    val rightGen = for {
      u <- Gen.choose(0, 2); t <- Gen.choose(0L, 50L)
      p <- Gen.option(Gen.choose(1, 999).map(_.toDouble))
    } yield (u.toLong, t * 1000L, p)
    val caseGen = for {
      ls <- Gen.listOfN(25, leftGen)
      rs <- Gen.listOfN(25, rightGen)
      tol <- Gen.oneOf(-1L, 5000L * 1000L) // none | 5 s in µs
    } yield (ls, rs, tol)
    val prop = Prop.forAll(caseGen) { case (ls, rs, tol) =>
      // unique tie ids; rights ride 1000+i so ties vs lefts never collide
      val left = ls.zipWithIndex.map { case ((u, t), i) => (u, i.toLong, ts(t)) }
      val right = rs.zipWithIndex.map { case ((u, t, p), i) =>
        (u, 1000L + i, ts(t), p) }
      val model = left.map { case (u, lid, lts) =>
        val cand = right.filter(r => r._1 == u && !r._3.after(lts))
        val m = cand.sortBy(r => (r._3.getTime, r._2)).lastOption
        val fresh = m.exists(r =>
          tol < 0 || (lts.getTime - r._3.getTime) * 1000L <= tol)
        lid -> (if (fresh) (m.map(_._3), m.get._4) else (None, None))
      }.toMap
      val got = graft.api.GraftAPI.asofJoinBackward(
          left.toDF("user_id", "eid", "ts"),
          right.toDF("user_id", "eid", "ts", "price"),
          Seq("user_id"), "ts", "ts", "eid", payload = Seq("price"),
          toleranceUs = tol)
        .select(col("eid"), col("asof_ts"), col("asof_price"))
        .collect().map(r => r.getLong(0) ->
          ((Option(r.getTimestamp(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      Prop(got == model) :| s"tol=$tol got=${got.toSeq.sortBy(_._1).take(6)} model=${model.toSeq.sortBy(_._1).take(6)}"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(res.passed, res.status.toString)
  }

  test("exactDedup on generated nullable tuples == distinct-tuple model (null patterns, JSON specials)") {
    val sq = spark; import sq.implicits._
    // Generalizes the r10 (null,x)/(x,null) case: survivors of the
    // to_json-fingerprinted dedup are exactly the min-id representative of
    // every DISTINCT (a, b) tuple — null patterns distinct, JSON-special
    // values ("quotes", separators, braces) never alias a field boundary.
    val valGen: Gen[Option[String]] = Gen.oneOf(
      Gen.const(None), Gen.const(Some("x")), Gen.const(Some("\"x\"")),
      Gen.const(Some("a,b")), Gen.const(Some("{\"a\":1}")),
      Gen.const(Some("x y")), Gen.alphaStr.map(s => Some(s.take(4))))
    val rowGen = for { a <- valGen; b <- valGen } yield (a, b)
    val prop = Prop.forAll(Gen.listOfN(30, rowGen)) { pairs =>
      val rows = pairs.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }
      val model = rows.groupBy(r => (r._2, r._3))
        .map { case (_, vs) => (vs.map(_._1).min, vs.size.toLong) }.toSet
      val df = rows.toDF("id", "a", "b")
      val groups = graft.api.GraftAPI.exactDedupGroups(df, Seq("a", "b"), "id")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
      val survivors = graft.api.GraftAPI.exactDedup(df, Seq("a", "b"), "id")
        .collect().map(_.getLong(0)).toSet
      Prop(groups == model && survivors == model.map(_._1)) :|
        s"groups=$groups model=$model survivors=$survivors"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("paragraphDedup == first-occurrence model on generated docs and regex-metachar separators") {
    val sq = spark; import sq.implicits._
    // Generalizes the r10 "||" case: for ANY separator (regex metachars
    // included) the survivors are the global first occurrence of each
    // chunk by (id, position), reassembled in position order; wholly-dup
    // docs report n_kept=0 with empty text_kept.
    val chunkGen = Gen.oneOf("aa", "bb", "cc", "dd", "")
    val docGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, chunkGen))
    val caseGen = for {
      docs <- Gen.listOfN(8, docGen)
      sep <- Gen.oneOf("\n\n", "||", ".", "++", " ", "|.|")
    } yield (docs, sep)
    val prop = Prop.forAll(caseGen) { case (docs, sep) =>
      val rows = docs.zipWithIndex.map { case (cs, i) =>
        (i.toLong, cs.mkString(sep)) }
      // model: literal split with trailing empties kept (Spark split
      // semantics), keeper key = global min of id*2^20 + cidx per chunk
      val chunks = rows.flatMap { case (id, text) =>
        text.split(java.util.regex.Pattern.quote(sep), -1)
          .zipWithIndex.map { case (c, p) => (id, p.toLong, c) } }
      val keeper = chunks.groupBy(_._3)
        .map { case (c, vs) => c -> vs.map(v => (v._1 << 20) + v._2).min }
      val model = rows.map { case (id, text) =>
        val mine = chunks.filter(_._1 == id)
        val kept = mine.filter(v => keeper(v._3) == ((v._1 << 20) + v._2))
          .sortBy(_._2)
        id -> ((mine.size.toLong, kept.size.toLong,
          kept.map(_._3).mkString(sep)))
      }.toMap
      val got = graft.api.GraftAPI
        .paragraphDedup(rows.toDF("doc_id", "text"), "doc_id", "text", sep)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      Prop(got == model) :| s"sep='$sep' got=$got model=$model"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("embeddingOutliers == local snapped model on generated vectors (incl. degenerate groups)") {
    val sq = spark; import sq.implicits._
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def dec(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val rowGen: Gen[(Long, Int, Seq[Double])] = for {
      id <- Gen.choose(0L, 100000L)
      grp <- Gen.choose(0, 2)
      // constant vectors (σ=0 inside a group) and tiny magnitudes included
      vec <- Gen.oneOf(
        Gen.listOfN(4, Gen.choose(-1.0, 1.0)),
        Gen.const(List(0.5, -0.25, 0.125, 0.0)))
    } yield (id, grp, vec)
    val prop = Prop.forAll(Gen.chooseNum(1, 14).flatMap(n => Gen.listOfN(n, rowGen))) { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val snapped = rows.map { case (id, g, v) => (id, g, v.map(snap).toArray) }
      val model = snapped.groupBy(_._2).flatMap { case (_, vs) =>
        val cent = (0 until 4).map(d =>
          snap(vs.map(v => dec(v._3(d))).sum.toDouble / vs.size)).toArray
        val d2s = vs.map { case (id, _, x) =>
          id -> snap(x.indices.map(i => dec(snap((x(i) - cent(i)) * (x(i) - cent(i)))))
            .sum.toDouble) }
        val mu = snap(d2s.map(p => dec(p._2)).sum.toDouble / d2s.size)
        val ex2 = d2s.map(p => dec(snap(p._2 * p._2))).sum.toDouble
        val sumd = d2s.map(p => dec(p._2)).sum.toDouble
        val sigma = snap(math.sqrt(math.max(0.0,
          snap((ex2 - sumd * sumd / d2s.size) / d2s.size))))
        d2s.map { case (id, d2) =>
          id -> ((d2, if (sigma > 0) snap((d2 - mu) / sigma) else 0.0)) }
      }
      val got = graft.api.GraftAPI.embeddingOutliers(
          rows.toDF("vec_id", "label", "embedding"), "vec_id", "label", "embedding")
        .collect().map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Double]("d2"), r.getAs[Double]("z"), r.getAs[Boolean]("is_outlier"))).toMap
      val ok = got.keySet == model.keySet && got.forall { case (id, (d2, z, f)) =>
        val (md2, mz) = model(id)
        math.abs(d2 - md2) < 1e-9 && math.abs(z - mz) < 1e-9 && f == (z > 2.0)
      }
      Prop(ok) :| s"got=$got model=$model"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("length filter soundness: 4e6*min >= 3199998*max never drops a pair the rounded jaccard emits (r11)") {
    // The candidate-stage predicate must be a NECESSARY condition for
    // the verify stage's r6(J) >= 0.8 — over ALL set geometries, not
    // just the fixture's. Model: |A| = na, |B| = nb, |A n B| = i with
    // i <= min(na, nb); J = i / (na + nb - i); emitted iff
    // floor(J*1e6 + 0.5)/1e6 >= 0.8. Soundness: emitted => filter keeps.
    val geom = for {
      na <- Gen.choose(1L, 2000000L)
      nb <- Gen.choose(1L, 2000000L)
      i  <- Gen.choose(0L, math.min(na, nb))
    } yield (na, nb, i)
    // bias toward the boundary: intersections near the 0.8 crossing
    val boundary = for {
      na <- Gen.choose(1L, 2000000L)
      nb <- Gen.choose(math.max(1L, na * 4 / 5 - 3), na)
      d  <- Gen.choose(-3L, 3L)
      i0 = ((na + nb) * 4L + 4) / 9L + d // i s.t. J ~ 0.8 (J=0.8 <=> 9i=4(na+nb))
      i  = math.max(0L, math.min(math.min(na, nb), i0))
    } yield (na, nb, i)
    val prop = Prop.forAll(Gen.oneOf(geom, boundary)) { case (na, nb, i) =>
      val j = i.toDouble / (na + nb - i).toDouble
      val emitted = math.floor(j * 1e6 + 0.5) / 1e6 >= 0.8
      val kept = 4000000L * math.min(na, nb) >= 3199998L * math.max(na, nb)
      Prop(!emitted || kept) :| s"na=$na nb=$nb i=$i J=$j emitted=$emitted kept=$kept"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(5000), prop)
    assert(res.passed, res.status.toString)
  }
}
