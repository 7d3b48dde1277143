package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Assembles the full operator inventory from the per-domain modules in
  * `graft.ops`. Every key in `queries` is one operator row of SURVEY.md §2;
  * every SQL-expressible one has a DuckDB oracle in `oracleSql`.
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 shape: scan → filter-free agg → sort) on
    * sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.aggGroup(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * opens one cache generation ([[ops.CacheLifecycle]]), which retires
    * the frames the previous call pinned. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ops.Relational.queries ++ ops.EventOps.queries ++ ops.TextOps.queries ++
      ops.DedupOps.queries ++ ops.VectorOps.queries ++ ops.BooksOps.queries ++
      ops.MultimodalOps.queries ++ ops.PipelineOps.queries).map { case (k, fn) =>
      k -> ((s: SparkSession, d: String) => ops.CacheLifecycle.generation(fn(s, d)))
    }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops → driver
    * records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracleSql ++ ops.EventOps.oracleSql ++ ops.TextOps.oracleSql ++
      ops.DedupOps.oracleSql ++ ops.VectorOps.oracleSql ++ ops.BooksOps.oracleSql ++
      ops.MultimodalOps.oracleSql ++ ops.PipelineOps.oracleSql
}
