package graft.pipeline

import graft.Tables
import graft.ops.BooksOps
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The reference's two Airflow DAGs restated as ONE Spark job
  * (SURVEY.md §3.1–3.2): raw ragged JSON → flatten/typecast → columnar
  * warehouse load → read-back validation.
  *
  * Where the reference materializes to disk between every task and hands
  * paths over XCom (/root/reference/dags/bigbookapi.py:66,88), the Spark
  * restatement is one lazily-planned pipeline with a single persisted hop
  * at the declared sink. Under Airflow each stage can still be its own
  * `spark-submit` of this entry point — XCom keeps carrying only paths.
  *
  * Deliberate semantic FIX vs the reference: the load is an idempotent
  * OVERWRITE, not the reference's blind append
  * (/root/reference/dags/bigbookapi.py:170 `if_exists="append"` duplicates
  * every row on re-run) — retries and backfills are safe by construction
  * (SURVEY.md §4.3).
  */
object BooksPipeline {

  /** Counts logged by the reference at each hop
    * (/root/reference/scripts/extract.py:66, transform.py:48,
    * db_to_snowflake.py:118-125). */
  final case class EtlReport(rawRecords: Long, transformed: Long, loadedReadBack: Long)

  /** Extract (JSONL, ragged) → Transform (P1–P7 flatten) → Load
    * (parquet overwrite) → Validate (E3 read-back non-emptiness,
    * /root/reference/dags/db_to_snowflake.py:122). */
  def run(spark: SparkSession, rawJsonlPath: String, warehousePath: String): EtlReport = {
    // One pass over the feed: the row count rides the warehouse write as
    // a `Dataset.observe` metric, and since the flatten is 1:1 per JSONL
    // record it is both the raw and the transformed count. The read-back
    // declares the written frame's schema, so it runs no inference job.
    val flat = BooksOps.flattenRawBooks(BooksOps.parseRawJsonLines(spark.read.text(rawJsonlPath)))
    val obs = Observation()
    flat.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(warehousePath)
    val rows = obs.get("rows").asInstanceOf[Long]
    val readBack = Tables.read(spark, warehousePath, Some(flat.schema)).count()
    require(readBack > 0, "E3 validation failed: loaded books table is empty")
    EtlReport(rows, rows, readBack)
  }
}
