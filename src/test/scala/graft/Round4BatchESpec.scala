package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the round-4 batch-E operators: token-budget
  * corpus selection, train/val/test split, triangle counting, lexical
  * diversity, and the ANN recall harness. */
class Round4BatchESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("corpus_budget_select: kept tokens fit the half-corpus budget, greedily") {
    val toks = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        least(lit(4000L), col("n_chars")).as("q"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val budget = toks.map(_._3).sum / 2
    val kept = ops.PipelineOps.corpusBudgetSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(kept.nonEmpty)
    assert(kept.map(_._3).sum <= budget)
    // every kept doc outranks (quality, then prefix order) every dropped one,
    // except inside the single boundary bucket where the prefix truncates
    val keptIds = kept.map(_._1).toSet
    val minKeptQ = kept.map(_._2).min
    toks.filter(t => !keptIds.contains(t._1)).foreach { t =>
      assert(t._2 <= minKeptQ, s"dropped doc ${t._1} with q=${t._2} > $minKeptQ")
    }
  }

  test("corpus_split_assign: splits partition the corpus, roughly 90/5/5") {
    val rows = ops.PipelineOps.corpusSplitAssign(spark, sf).collect()
    val bySplit = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum)
    val total = bySplit.values.sum
    assert(total == graft.Tables.documents(spark, sf).count())
    assert(bySplit.keySet == Set("train", "val", "test"))
    val trainFrac = bySplit("train").toDouble / total
    assert(trainFrac > 0.8 && trainFrac < 0.97, s"train frac $trainFrac")
  }

  test("graph_triangles: every reported triangle part is on a closed triple") {
    val rows = ops.Relational.graphTriangles(spark, sf).collect()
    // counts are positive and non-increasing in rank order
    assert(rows.forall(_.getLong(1) > 0))
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(rows.length <= 20)
  }

  test("text_lexical_diversity: ttr/hapax bounds and exact token counts") {
    val rows = ops.TextOps.textLexicalDiversity(spark, sf).collect()
    assert(rows.length == graft.Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (tok, ty) = (r.getLong(1), r.getLong(2))
      val (ttr, hap) = (r.getDouble(3), r.getDouble(4))
      assert(ty <= tok && ttr > 0.0 && ttr <= 1.0)
      assert(hap >= 0.0 && hap <= 1.0)
    }
    // cross-check one doc against a direct tokenization
    val first = rows.head
    val text = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") === first.getLong(0))
      .select("text").collect().head.getString(0)
    val words = text.split(" ", -1)
    assert(first.getLong(1) == words.length)
    assert(first.getLong(2) == words.distinct.length)
  }

  test("knn_recall: one row per query, recall consistent with hit count") {
    val rows = SparkEntry.queries("knn_recall")(spark, sf).collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      val (nHit, recall) = (r.getLong(1), r.getDouble(2))
      assert(nHit >= 0 && nHit <= 10)
      assert(math.abs(recall - nHit / 10.0) < 1e-6)
    }
  }
}
