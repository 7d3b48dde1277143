package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The reference's own transform pipeline (SURVEY.md §2.3 P1–P7, §1.2), as
  * one reusable DataFrame→DataFrame function plus oracle-checked queries.
  *
  * Reference semantics reproduced (all from
  * /root/reference/scripts/transform.py):
  *  - P1 nested-list unwrap: each raw element is `[book]` → take element 1
  *    (`transform.py:26`);
  *  - P2 whitelist projection: keep 7 columns, DROP `subtitle`
  *    (`transform.py:30-38`);
  *  - P3 struct extraction `rating.average`, null-safe (`transform.py:35`);
  *  - P4 array-of-struct pluck `authors[*].id/name` (`transform.py:27-29`);
  *  - P5 null-safe numeric chain `int(float(x))` → cast double → long
  *    (`transform.py:43`);
  *  - P6 array element cast to string (`transform.py:44`);
  *  - P7 coercing cast then ×100 (`transform.py:45-46`).
  *
  * The harness has no live book feed, so the oracle queries synthesize the
  * raw nested shape deterministically from `nation`/`region`/`customer`
  * (book=nation, authors=its 3 lowest-key customers) and then run the real
  * flatten. The golden-fixture spec (BooksSpec) covers the ragged-input
  * edge cases (missing image/subtitle, empty authors, unparseable rating,
  * bare non-wrapped record) that the synthetic build can't express.
  */
object BooksOps {

  /** Raw-feed schema (SURVEY.md §1.2) — always declared, never inferred:
    * schema inference on a 100 TB ingest is a full extra pass. */
  val bookStruct: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("title", StringType),
    StructField("subtitle", StringType),
    StructField("image", StringType),
    StructField("authors", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))),
    StructField("genres", ArrayType(StringType)),
    StructField("rating", StructType(Seq(StructField("average", DoubleType))))))

  val rawSchema: StructType = StructType(Seq(
    StructField("raw", ArrayType(bookStruct))))

  /** Ingest-side book schema: `id` and `rating.average` arrive as STRINGS
    * so the reference's coercing conversions (P5 `int(float(x))`, P7
    * `to_numeric(errors='coerce')`) happen in the flatten via `try_cast`,
    * not at parse time — a ragged feed must never fail the read (E1/E2,
    * /root/reference/dags/db_to_snowflake.py:110,
    * /root/reference/scripts/transform.py:45). */
  val ingestBookStruct: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("subtitle", StringType),
    StructField("image", StringType),
    StructField("authors", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))))),
    StructField("genres", ArrayType(StringType)),
    StructField("rating", StructType(Seq(StructField("average", StringType))))))

  /** P1's `isinstance` branch (/root/reference/scripts/transform.py:26) in
    * Spark form: each JSONL line is either `[{book}]` or a bare `{book}`;
    * parse as array first, fall back to wrapping the bare object. Input: a
    * one-string-column DataFrame (`spark.read.text` / a streaming source). */
  def parseRawJsonLines(lines: DataFrame): DataFrame = {
    val c = col(lines.columns.head)
    lines.select(coalesce(
      from_json(c, ArrayType(ingestBookStruct)),
      array(from_json(c, ingestBookStruct))).as("raw"))
  }

  /** The reference transform (P1–P7) on a DataFrame with a `raw`
    * array<bookStruct> column. Pure column algebra — codegen'd, no UDF, no
    * shuffle; at 100 TB this is a map-only stage fused into the scan. */
  def flattenRawBooks(raw: DataFrame): DataFrame = {
    val b = element_at(col("raw"), 1) // P1: unwrap single-element list
    raw.select(
      b.getField("id").try_cast("double").cast("long").as("id"), // P5
      b.getField("title").as("title"),
      b.getField("image").as("image"), // P2: subtitle dropped
      b.getField("genres").as("genres"),
      (b.getField("rating").getField("average").try_cast("double") * 100.0)
        .as("rating"), // P3+P7
      transform(coalesce(b.getField("authors"), array().cast(bookStruct("authors").dataType)),
        a => a.getField("id").cast("string")).as("author_id"), // P4+P6
      transform(coalesce(b.getField("authors"), array().cast(bookStruct("authors").dataType)),
        a => a.getField("name")).as("author_name")) // P4
  }

  /** Deterministic raw nested books built from the star schema: one book
    * per nation, authors = its 3 lowest-key customers, wrapped in the
    * reference's single-element-list shape. */
  def syntheticRaw(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    val auth = customer(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy("c_nationkey")
      .agg(sort_array(collect_list(
        struct(col("c_custkey").cast("long").as("id"), col("c_name").as("name"))))
        .as("authors"))
    nation(s, dir)
      .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .join(auth, col("n_nationkey") === col("c_nationkey"))
      .select(array(struct(
        col("n_nationkey").cast("long").as("id"),
        col("n_name").as("title"),
        concat(lit("subtitle of "), col("n_name")).as("subtitle"),
        when(col("n_nationkey") % 3 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("http://img/"), col("n_name"))).as("image"),
        col("authors"),
        array(col("r_name"), col("n_name")).as("genres"),
        struct((col("n_nationkey") / 25.0).as("average")).as("rating"))).as("raw"))
  }

  /** Arrays → joined strings so the oracle hash-compares scalars. */
  private def flat(df: DataFrame): DataFrame =
    df.select(col("id"), col("title"), col("image"),
      array_join(col("genres"), ",").as("genres"),
      col("rating"),
      array_join(col("author_id"), ",").as("author_id"),
      array_join(col("author_name"), ",").as("author_name"))
      .orderBy("id")

  /** M1 flagship: build nested raw → reference flatten → flat projection. */
  def flattenRawBooksQuery(s: SparkSession, dir: String): DataFrame =
    flat(flattenRawBooks(syntheticRaw(s, dir)))

  /** S1/S2: JSON source round-trip — write the nested raw feed as JSON,
    * read it back with the DECLARED schema (`spark.read.schema(...).json`),
    * then flatten. Exercises the reference's ingest hop
    * (/root/reference/dags/bigbookapi.py:90-91) including null-field
    * omission in JSON. Same oracle as the direct flatten — the round-trip
    * must be lossless. */
  def scanJsonRaw(s: SparkSession, dir: String): DataFrame = {
    // path-hash discriminator (review r10): digits alone collide two
    // corpora whose dirs share a digit signature (/data/a/sf0.1 vs
    // /backup/sf0.1) onto one scratch file — one run overwrites while
    // the other reads. The write is re-done every call, so a PATH key
    // is sufficient (no content fingerprint needed, unlike the
    // build-once Artifacts roots). Keyed by APPLICATION too (review
    // r11): two concurrent graft processes on the same corpus — Verify
    // and Bench triaged side by side — would otherwise race one file,
    // overwrite-deleting it under the other's read.
    val path = Artifacts.scratch("books_raw", dir) + "_" +
      java.lang.Integer.toHexString(dir.hashCode) + "_" +
      s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9-]", "")
    syntheticRaw(s, dir).write.mode("overwrite").json(path)
    flat(flattenRawBooks(s.read.schema(rawSchema).json(path)))
  }

  /** S7: XML ingest round-trip (Spark 4 native `from_xml`) — the same
    * raw feed serialized as one XML document per book, parsed back with
    * a DECLARED schema (repeated `<author>`/`<genre>` elements become
    * arrays via the standard wrapper-struct mapping), reshaped to the
    * ingest struct and run through the reference flatten. Same oracle as
    * the JSON round-trip: the XML hop must be lossless, including the
    * omitted-element → NULL convention (`image`) and the string-typed
    * coercion fields (`id`, `rating.average` stay strings until the
    * flatten's try_cast — E1/E2 discipline). XML building is a pure
    * column concat (codegen'd); parsing is schema-declared, never
    * inferred — at 100 TB inference is a full extra pass. */
  def scanXmlRaw(s: SparkSession, dir: String): DataFrame = {
    val b = element_at(col("raw"), 1)
    val authorsXml = concat_ws("",
      transform(b.getField("authors"), a => concat(
        lit("<author><id>"), a.getField("id"), lit("</id><name>"),
        a.getField("name"), lit("</name></author>"))))
    val genresXml = concat_ws("",
      transform(b.getField("genres"), g => concat(lit("<genre>"), g, lit("</genre>"))))
    // Every nullable field serializes via the omit-element-when-null
    // convention (review r6: `concat` nulls the WHOLE string if any one
    // argument is null — a null subtitle must drop its element, not the
    // record). Values here are alphanumeric by construction; a general
    // feed would additionally escape &/< before concat.
    def opt(tag: String, v: Column): Column =
      coalesce(concat(lit(s"<$tag>"), v, lit(s"</$tag>")), lit(""))
    val xml = concat(
      lit("<book>"),
      opt("id", b.getField("id")),
      opt("title", b.getField("title")),
      opt("subtitle", b.getField("subtitle")),
      opt("image", b.getField("image")),
      lit("<authors>"), authorsXml, lit("</authors>"),
      lit("<genres>"), genresXml, lit("</genres>"),
      lit("<rating>"), opt("average", b.getField("rating").getField("average")),
      lit("</rating></book>"))
    val parsed = from_xml(xml,
      org.apache.spark.sql.types.StructType.fromDDL(
        "id string, title string, subtitle string, image string, " +
          "authors struct<author: array<struct<id: bigint, name: string>>>, " +
          "genres struct<genre: array<string>>, " +
          "rating struct<average: string>"))
    val raw = syntheticRaw(s, dir)
      .select(parsed.as("p"))
      .select(array(struct(
        col("p.id").as("id"), col("p.title").as("title"),
        col("p.subtitle").as("subtitle"), col("p.image").as("image"),
        col("p.authors.author").as("authors"),
        col("p.genres.genre").as("genres"),
        col("p.rating").as("rating"))).as("raw"))
    flat(flattenRawBooks(raw))
  }

  /** S5: model-hub catalog extract — driver-side client fetch lifted to a
    * DataFrame, top-50 by downloads (the deleted HuggingFace DAG's
    * extract step; see [[graft.sources.HubModelsSource]]). The formula
    * registry is recomputed verbatim by the DuckDB oracle, so the whole
    * source→sort→limit→project path is hash-checked. Tags ship
    * comma-joined (arrays hash as scalars in the harness compare). */
  def scanHubModels(s: SparkSession, dir: String): DataFrame =
    graft.sources.HubModelsSource.topByDownloads(s, 50)
      .select(col("model_id"), col("author"), col("pipeline_tag"),
        concat_ws(",", col("tags")).as("tags_s"), col("downloads"),
        dateFmt(col("last_modified")).as("last_modified"))
      // NOT redundant with topByDownloads' internal sort (review r11):
      // that one SELECTS the top-k (orderBy+limit, TakeOrderedAndProject);
      // row order through the projection is non-contractual, and the
      // oracle hash needs a total output order — this sort owns it.
      .orderBy(col("downloads").desc, col("model_id"))

  /** S1: the DataSourceV2 paginated source ([[graft.sources.PagedBooksSource]])
    * — 10 page-partitions of 100 rows, aggregated. The oracle recomputes
    * the deterministic feed from the same formula via generate_series. */
  def scanRestPages(s: SparkSession, dir: String): DataFrame =
    s.read.format("graft.sources.PagedBooksSource")
      .option("rows", 1000).option("pageSize", 100).load()
      .agg(count(lit(1)).as("n"),
        dsum(col("rating")).as("sum_rating"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "flatten_raw_books" -> flattenRawBooksQuery _,
    "scan_json_raw"     -> scanJsonRaw _,
    "scan_xml_raw"      -> scanXmlRaw _,
    "scan_rest_pages"   -> scanRestPages _,
    "scan_hub_models"   -> scanHubModels _,
  )

  private val flattenOracle =
    """WITH top3 AS (
      |  SELECT c_nationkey, c_custkey, c_name,
      |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
      |  FROM customer),
      |auth AS (
      |  SELECT c_nationkey,
      |    string_agg(c_custkey::VARCHAR, ',' ORDER BY c_custkey) AS author_id,
      |    string_agg(c_name, ',' ORDER BY c_custkey) AS author_name
      |  FROM top3 WHERE rn <= 3 GROUP BY c_nationkey)
      |SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS title,
      |  CASE WHEN n_nationkey % 3 = 0 THEN NULL
      |       ELSE 'http://img/' || n_name END AS image,
      |  r_name || ',' || n_name AS genres,
      |  (n_nationkey / 25.0) * 100.0 AS rating,
      |  author_id, author_name
      |FROM nation
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN auth ON n_nationkey = c_nationkey
      |ORDER BY id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "flatten_raw_books" -> flattenOracle,
    "scan_json_raw"     -> flattenOracle,
    "scan_xml_raw"      -> flattenOracle,
    "scan_rest_pages" ->
      """SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST((i % 100) / 100.0 AS DECIMAL(25,6))) AS DOUBLE) AS sum_rating,
        |  MIN(i) AS min_id, MAX(i) AS max_id
        |FROM (SELECT unnest(range(0, 1000)) AS i)""".stripMargin,
    "scan_hub_models" ->
      """WITH m AS (
        |  SELECT i,
        |    'model-' || i AS model_id,
        |    'org-' || (i % 10) AS author,
        |    (['text-generation','fill-mask','image-classification',
        |      'translation','summarization'])[(i % 5) + 1] AS pipeline_tag,
        |    't' || (i % 3) || ',' || 't' || (i % 7) AS tags_s,
        |    ((i * 37) % 1000) * 100 AS downloads,
        |    TIMESTAMP '2025-01-01 00:00:00' + i * INTERVAL 1 DAY AS lm
        |  FROM (SELECT unnest(range(0, 200)) AS i))
        |SELECT model_id, author, pipeline_tag, tags_s, downloads,
        |  strftime(lm, '%Y-%m-%d') AS last_modified
        |FROM m ORDER BY downloads DESC, model_id LIMIT 50""".stripMargin,
  )
}
