package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** Table readers + oracle-parity helpers shared by every operator.
  *
  * Design notes (100 TB posture):
  *  - Every batch parquet read goes through [[Tables.read]]: the vectorized
  *    parquet reader + Catalyst column pruning / predicate pushdown do the
  *    heavy lifting; operators never pre-materialize.
  *  - Double aggregation goes through DECIMAL so results are exact and
  *    partition-order-independent — a plain `sum(double)` differs run-to-run
  *    at scale (FP addition is non-associative), which would break both the
  *    DuckDB oracle hash-compare and any incremental/backfill reconciliation
  *    on a real cluster.
  */
object Tables {

  /** The one batch parquet reader (InventorySpec keeps it the only one).
    * `spark.read.parquet(path)` resolves the table on every call: a file
    * listing, a data-source lookup and, with no declared schema, a
    * one-task job that reads footers to infer it. Most reads here are of
    * tables unchanged since the last call (fixture tables, stored index
    * generations), so this reader resolves each one once per session.
    *
    *  - '''Cached:''' per (session, paths, declared schema, options), the
    *    resolved `LogicalRelation` (schema, file index, partition spec)
    *    together with a stamp of the table's files. Session settings
    *    that shape resolution (case sensitivity, `nanosAsLong`) are the
    *    ones in force at the first read.
    *  - '''Hit:''' on an unchanged stamp the cached relation comes back
    *    through `newInstance()`. That mints fresh attribute ids, so two
    *    reads of one table in one plan (a self-join) stay as unambiguous
    *    as two `spark.read` frames; the schema and file index are shared.
    *    No job, no file listing, no data-source lookup.
    *  - '''Invalidation:''' the stamp is [[graft.ops.IndexFs.shallowStamp]],
    *    the name, length and mtime of the root and its direct children.
    *    Spark writes unique part-file names and rewrites `_SUCCESS`, and a
    *    new file inside a partition directory bumps that directory's
    *    mtime, so every overwrite, append or delete changes the stamp; the
    *    reader then resolves through `spark.read` again and replaces the
    *    entry. The stamp is taken BEFORE resolving, so a write racing the
    *    resolution can only make the entry look stale, never fresh. A
    *    missing root is never cached: its read fails as `spark.read` does.
    *  - '''Declared schemas:''' a table that can hold no data files (an
    *    empty delta generation, a partitioned table with only empty
    *    partitions) must be read with its declared `schema`: inference
    *    has no footer to read and fails, a declared-schema read of it
    *    returns zero rows.
    *  - '''Lifetime:''' no setting; entries end with their session (a
    *    stopped context's entries are dropped on the next miss) and a
    *    fixed LRU cap ([[MemoCap]]) bounds tables written once, read once.
    *
    * At 100 TB a catalog snapshot id (an Iceberg/Delta table version)
    * takes the stamp's place: the same resolve-once contract, keyed by a
    * version the catalog already keeps instead of a directory listing. */
  def read(s: SparkSession, path: String, schema: Option[StructType] = None,
           options: Map[String, String] = Map.empty): DataFrame =
    readAll(s, Seq(path), schema, options)

  /** [[read]] over several roots as ONE scan (the committed delta
    * generations of an index); the stamp folds every root's. */
  def readAll(s: SparkSession, paths: Seq[String], schema: Option[StructType] = None,
              options: Map[String, String] = Map.empty): DataFrame = {
    val key = ReadKey(s, paths, schema, options)
    val stamps = paths.map(graft.ops.IndexFs.shallowStamp)
    val stamp =
      if (stamps.contains(None)) None else Some(stamps.flatten.foldLeft(17L)(_ * 31 + _))
    val hit = stamp.flatMap(st =>
      memo.synchronized(Option(memo.get(key))).filter(_._1 == st).map(_._2))
    hit match {
      case Some(rel) => Bridge.ofRows(s, rel.newInstance())
      case None =>
        val df = schema.foldLeft(s.read.options(options))(_ schema _).parquet(paths: _*)
        (stamp, Bridge.analyzedPlan(df)) match {
          case (Some(st), rel: LogicalRelation) => memo.synchronized {
            memo.keySet.removeIf(_.s.sparkContext.isStopped)
            memo.put(key, (st, rel))
          }
          case _ =>
        }
        df
    }
  }

  /** Most entries the reader memo keeps, over all sessions (LRU). */
  private val MemoCap = 256

  private final case class ReadKey(s: SparkSession, paths: Seq[String],
                                   schema: Option[StructType], options: Map[String, String])

  private val memo = new java.util.LinkedHashMap[ReadKey, (Long, LogicalRelation)](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[ReadKey, (Long, LogicalRelation)]): Boolean = size > MemoCap
  }

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    read(s, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, dir: String): DataFrame  = tbl(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame    = tbl(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame  = tbl(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = tbl(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = tbl(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame    = tbl(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame    = tbl(s, dir, "region")
  /** `events.parquet` has shipped `ts` in three physical shapes across
    * harness revisions; normalize ALL of them to a TZ-aware TimestampType
    * here so every downstream `unix_micros(ts)` / `ts.cast("long")` site
    * (session gaps, funnels, attribution, as-of tolerance) works unchanged:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses it natively (PARQUET_TYPE_ILLEGAL);
    *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true` so it
    *    arrives as a nanos BIGINT → `timestamp_micros(ts div 1000)` (`div`,
    *    not `/` — nanos ≈ 1.7e18 exceeds double's 2^53 exact-integer range,
    *    a float divide would corrupt the microseconds).
    *  - timestamp[us] without UTC flag: Spark 4 reads TIMESTAMP_NTZ, which
    *    forbids `cast(bigint)` / `unix_micros`; `cast("timestamp")` is
    *    value-preserving because all sessions pin
    *    `spark.sql.session.timeZone=UTC` (wall-clock == instant).
    *  - already TZ-aware: pass through.
    *
    * DuckDB oracles read the same parquet wall-clock values, so all three
    * branches agree with the oracle side. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = tbl(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = tbl(s, dir, "embeddings")

  /** Fixed cardinality for every two-pass prefix-sum / global-rank spine
    * in the engine (`shard_pack_tokens`, curation stage 5,
    * `orders_pareto`, …): the only unpartitioned window and the offsets
    * broadcast in those decompositions are O(this) REGARDLESS of corpus
    * size. One shared constant so the bound can't drift per call site
    * (review r7). */
  val SpineBuckets = 4096L

  /** Exact, order-independent sum of a double column: route through
    * DECIMAL(25,6) so every partition ordering yields bit-identical output,
    * then surface as double. DuckDB mirror:
    * `CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(25, 6))).cast(DoubleType)

  /** Deterministic mean: exact decimal sum, then one IEEE double divide. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Explicit round-half-up to 6 dp: `floor(x·10⁶ + 0.5)/10⁶`, written the
    * same way in the DuckDB oracles ([[sqlR6]]). Spark's `round` is
    * HALF_UP while DuckDB's is half-even, and integer-ratio columns
    * (cume_dist, Jaccard, stopword ratios) DO hit binary-exact …5 values
    * at the 7th decimal where the two diverge — found by the sf0.1 oracle
    * sweep, invisible at sf0.01. */
  def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** DuckDB mirror of [[r6]]. */
  def sqlR6(e: String): String = s"floor(($e) * 1000000 + 0.5) / 1000000"

  /** Timestamp → 'yyyy-MM-dd HH:mm:ss.SSSSSS' string (µs precision).
    * Emitting timestamps as strings sidesteps parquet INT96-vs-µs-vs-ns
    * representation drift between Spark, pyarrow, and DuckDB.
    * DuckDB mirror: `strftime(t, '%Y-%m-%d %H:%M:%S.%f')`. */
  def tsFmt(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Date-valued timestamp → 'yyyy-MM-dd' string.
    * DuckDB mirror: `strftime(t, '%Y-%m-%d')`. */
  def dateFmt(c: Column): Column = date_format(c, "yyyy-MM-dd")
}
