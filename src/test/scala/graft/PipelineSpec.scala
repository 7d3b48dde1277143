package graft

import graft.pipeline.BooksPipeline
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ETL of the reference DAG pair, on the golden fixture:
  * counts at every hop, 7-column warehouse schema, and idempotent re-run
  * (K6 posture — the reference's append-duplicates bug must NOT be
  * reproduced). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val out = "/tmp/graft_books_warehouse_test"

  test("extract -> transform -> load -> validate, then idempotent re-run") {
    val raw = getClass.getResource("/books/raw_books.jsonl").getPath
    val r1 = BooksPipeline.run(spark, raw, out)
    assert(r1 == BooksPipeline.EtlReport(9, 9, 9))
    val back = spark.read.parquet(out)
    assert(back.columns.sorted.toSeq ==
      Seq("author_id", "author_name", "genres", "id", "image", "rating", "title"))
    val r2 = BooksPipeline.run(spark, raw, out)
    assert(r2.loadedReadBack == r1.loadedReadBack, "re-run must not duplicate rows")
  }

  test("curation_pipeline_staged produces the identical frame to the in-plan twin") {
    val sf = TestSpark.Sf0001
    val inPlan = ops.PipelineOps.curationPipelineInPlan(spark, sf).collect().toSeq
    val staged = ops.PipelineOps.curationPipelineStaged(spark, sf).collect().toSeq
    assert(staged == inPlan, "stage materialization must not change the output")
    // the stage tables really exist on disk (the production factoring)
    val root = ops.PipelineOps.curationStageRoot(sf)
    Seq("exact_keep", "cluster_drops", "contaminated").foreach { t =>
      assert(new java.io.File(s"$root/$t/_SUCCESS").isFile, s"stage table $t missing")
    }
    // the registry FLAGSHIP (stage-table assembly, VERDICT r8 #2) agrees too
    val flagship = ops.PipelineOps.curationPipeline(spark, sf).collect().toSeq
    assert(flagship == inPlan, "flagship assembly must match the in-plan twin")
  }

  test("flagship + funnel consume stage tables: no dedup subtree in either plan") {
    // VERDICT r8 #1: the funnel (and the flagship assembly) must read the
    // stored stage tables, not re-derive the LSH/propagation/decontam DAG.
    // The dedup subtree always carries the band_key postings column; the
    // stage tables are bare doc_id lists — its presence in the optimized
    // plan means a re-derivation crept back in.
    val sf = TestSpark.Sf0001
    Seq(
      "corpus_dedup_funnel" -> ops.PipelineOps.corpusDedupFunnel(spark, sf),
      "curation_pipeline" -> ops.PipelineOps.curationPipeline(spark, sf)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("band_key"), s"$name re-derives the LSH subtree")
      assert(!plan.contains("contam_ratio"), s"$name re-derives the decontam subtree")
      assert(plan.contains("exact_keep") || plan.contains("Relation"),
        s"$name does not scan the stage tables")
    }
    // and the funnel's counts agree with the stage tables themselves
    val root = ops.PipelineOps.curationStageRoot(sf)
    val funnel = ops.PipelineOps.corpusDedupFunnel(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val nExact = spark.read.parquet(s"$root/exact_keep").count()
    assert(funnel("exact_dedup") == nExact,
      s"funnel exact_dedup ${funnel("exact_dedup")} != stage table $nExact")
    assert(funnel.size == 6 && funnel("corpus") >= funnel("quality"))
  }

  test("sink_compact: 64 fragments collapse to <= 4 files, content preserved") {
    val sf = TestSpark.Sf0001
    val tag = sf.replaceAll("[^0-9.]", "")
    ops.PipelineOps.sinkCompact(spark, sf).collect() // runs both writes
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(f =>
        f.getName.endsWith(".parquet") && f.length > 0)
    val nFrag = parquetFiles(s"/tmp/graft_compact_frag_$tag")
    val nTidy = parquetFiles(s"/tmp/graft_compact_tidy_$tag")
    assert(nFrag == 64, s"fragmented layout expected 64 files, got $nFrag")
    assert(nTidy <= 4, s"compacted layout expected <= 4 files, got $nTidy")
    // content identical to reading the fragments directly
    val a = spark.read.parquet(s"/tmp/graft_compact_frag_$tag").count()
    val b = spark.read.parquet(s"/tmp/graft_compact_tidy_$tag").count()
    assert(a == b)
  }

  test("corpus_temperature_mix: smoothed weights normalize and tilt toward rare sources") {
    val rows = ops.PipelineOps.corpusTemperatureMix(spark, TestSpark.Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(4), r.getDouble(5)))
    assert(rows.length > 1)
    // q is a distribution (up to 6-dp snapping per source)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-3)
    // rep_factor = q/p is monotone DECREASING in source size: the rarest
    // source gets the largest upsampling factor, the biggest the smallest
    val byTokens = rows.sortBy(_._2)
    assert(byTokens.head._4 >= byTokens.last._4, s"no tilt: $byTokens")
    // α-smoothing must actually move mass: biggest source down-weighted
    assert(byTokens.last._4 < 1.0, s"dominant source not down-weighted: ${byTokens.last}")
  }

  test("pipeline_observe on an EMPTY input yields a zero row, not a crash") {
    val sq = spark
    import sq.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val row = ops.PipelineOps.observeDocs(spark, empty).collect()(0)
    assert(row.getLong(0) == 0L && row.getLong(1) == 0L)
    assert(row.getDouble(2) == 0.0)
    assert(row.isNullAt(3) && row.isNullAt(4))
  }

  test("curation_incremental shingles only the day: every documents scan under a posexplode carries a doc_id filter") {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, PosExplode}
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec}
    val sf = TestSpark.Sf0001
    // build the stored index first, so only the verdict query is recorded
    val ix = ops.MinhashIndex.ensureBase(spark, sf)
    ops.MinhashIndex.ensureFine(spark, sf, ix)
    val (_, runs) = QueryRecorder.record(spark) {
      ops.PipelineOps.curationIncremental(spark, sf).collect()
    }
    assert(runs.nonEmpty, "no query recorded")
    val tokenizers = runs.flatMap(r => QueryRecorder.nodes(r.qe.executedPlan))
      .collect { case g: GenerateExec if g.generator.isInstanceOf[PosExplode] => g }
    val docScans = tokenizers.flatMap(g => QueryRecorder.nodes(g).collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
    })
    assert(docScans.nonEmpty, s"no documents scan under a posexplode in ${runs.map(_.funcName)}")
    docScans.foreach { f =>
      assert(f.dataFilters.exists(e => !e.isInstanceOf[IsNotNull] &&
          e.references.exists(_.name == "doc_id")),
        s"a documents scan feeding the tokenizer reads the whole corpus: ${f.dataFilters}")
    }
  }

  test("corpus_dsir_weights: target-language docs score higher on average") {
    import org.apache.spark.sql.functions._
    val sf = TestSpark.Sf0001
    val w = ops.PipelineOps.corpusDsirWeights(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang"), "doc_id")
    val byLang = w
      .groupBy((col("lang") === "en").as("is_en"))
      .agg(avg(col("dsir_logw") / col("n_tokens")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // per-token mean log-ratio must favor the target slice — the property
    // importance resampling relies on
    assert(byLang(true) > byLang(false),
      s"target slice should score higher: en=${byLang(true)} other=${byLang(false)}")
  }
}
