package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one cache lifetime ([[ops.CacheLifecycle]]): a registry call
  * retires what the previous call pinned, whatever family pinned it, and
  * concurrent facade callers share a generation without losing results. */
class CacheLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def cachedRelations: Boolean =
    !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a registry call retires every pin of the previous one: vector recall and event pins do not outlive agg_group") {
    Seq("knn_recall_pq", "sessions_concurrency").foreach { first =>
      spark.catalog.clearCache()
      SparkEntry.queries(first)(spark, sf).collect()
      // the control: the probe sees the first key's pins
      assert(cachedRelations, s"$first must pin a frame for this check to mean anything")
      SparkEntry.queries("agg_group")(spark, sf).collect()
      assert(!cachedRelations, s"the pins of $first outlived the next registry call")
    }
  }

  test("two pqEncode calls on two threads return the codes of a sequential run") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val emb = Tables.read(spark, s"$sf/embeddings.parquet")
    val halves = Seq(emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
    def encode(df: org.apache.spark.sql.DataFrame): Seq[String] =
      api.GraftAPI.pqEncode(df, "vec_id", "embedding", m = 4, k = 8)
        .collect().map(_.toString).sorted.toSeq
    val sequential = halves.map(encode)
    val concurrent = Await.result(Future.sequence(halves.map(h => Future(encode(h)))), Duration.Inf)
    assert(sequential.forall(_.nonEmpty))
    assert(concurrent == sequential)
  }
}
