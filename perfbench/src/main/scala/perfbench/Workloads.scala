package perfbench

import graft.SparkEntry
import graft.jobs.Maintenance
import graft.ops.{BooksOps, IvfPqIndex, MinhashIndex}
import graft.pipeline.BooksPipeline
import graft.sources.{JdbcSink, PagedBooksTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** Outcome of an op's output check: an error, or the counts the check
  * measured (index bytes, HTTP requests, ...). */
final case class Verdict(err: Option[String], counts: Map[String, Double] = Map.empty)

/** One unit of a workload's work. `run(id)` is timed and writes its
  * outputs to locations of op `id`. After the timed loop, `check` gets
  * run's result and the operator count of the last query the op executed,
  * and verifies them. `items` is the work the op completes, in the
  * workload's unit. */
final case class Op(key: String, items: Long, run: Int => Any,
                    check: (Any, Long) => Verdict)

final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val work: String, val dump: String) {
  def span[T](name: String, op: Int)(body: => T): T = tracer.span(name, op)(body)

  /** Runs a set-up step and logs its duration. */
  def timed[T](what: String)(body: => T): T = {
    val t = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t) / 1e9}%.2f s")
  }

  /** Order-insensitive digest of a result: row count and a multiset hash
    * of the rows' text form. */
  def digest(rows: Array[Row]): (Int, Int) =
    (rows.length, MurmurHash3.unorderedHash(rows.toSeq.map(_.toString)))

  def digestOf(df: DataFrame): (Int, Int) = digest(df.collect())

  /** Writes rows as one ordered parquet file, the layout
    * tools/oracle_check.py reads. */
  def dumpRows(name: String, rows: Array[Row], df: DataFrame): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dump/$name")

  /** Writes the DuckDB oracle SQL of `keys` and the key list next to the
    * reference dumps. */
  def writeOracle(keys: Seq[String]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val o = m.createObjectNode()
    keys.foreach(k => SparkEntry.oracleSql.get(k).foreach(o.put(k, _)))
    new java.io.File(dump).mkdirs()
    m.writeValue(new java.io.File(s"$dump/oracle_sql.json"), o)
    val q = m.createArrayNode()
    keys.foreach(q.add)
    m.writeValue(new java.io.File(s"$dump/queries.json"), q)
  }

  def copyDir(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val files = java.nio.file.Files.walk(src)
    try files.iterator.asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  def du(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum) else f.length
    walk(new java.io.File(path))
  }
}

trait Workload {
  /** Set-up: starts the workload's services, builds the stored indexes
    * and runs every op once untimed. That pass compiles the generated
    * code the timed ops reuse and yields the reference outputs they are
    * checked against. */
  def prepare(): Unit
  def round(r: Int): Seq[Op]
  def close(): Unit = ()
}

/** The steady-state day: the DailyIncrement job's stages in job order,
  * each written where the job writes it, then the reads of the day: the
  * probes that resolve the deltas the stages appended, and short
  * relational, event and text queries, in a seeded order. One client,
  * closed loop; each op is one registry call. */
final class DailyIncrement(c: Ctx, dir: String) extends Workload {
  private val fns = SparkEntry.queries
  private val out = s"${c.work}/daily_out"
  val stages: Seq[(String, String, String)] = Seq(
    ("ops.pipeline.curation", "curation_incremental", "verdicts"),
    ("ops.pipeline.pack", "shard_pack_incremental", "shards"),
    ("ops.dedup.append", "dedup_index_append", "postings_manifest"),
    ("ops.vector.append", "ann_index_append", "ann_delta_manifest"))
  val reads: Seq[(String, String)] = Seq(
    "dedup_incremental" -> "ops.dedup.probe",
    "knn_ivf_pq_delta" -> "ops.vector.probe",
    "sql_shipping_priority" -> "ops.relational.query",
    "window_rank" -> "ops.relational.query",
    "events_session" -> "ops.events.query",
    "text_bm25" -> "ops.text.query")
  /** Row digest of every key's reference run. */
  private val ref = scala.collection.mutable.Map.empty[String, (Int, Int)]
  /** Operator count of every key's full optimized plan, taken from the
    * DataFrame its reference run got from the registry. */
  private val fullNodes = scala.collection.mutable.Map.empty[String, Long]
  private var auditRef: (Int, Int) = (0, 0)
  private var batchDocs = 0L
  private var batchBytes = 0L

  private def audit(): DataFrame = Maintenance.auditDF(c.spark, Maintenance.audit(c.spark, dir))

  private def indexes: (MinhashIndex.Ix, IvfPqIndex.Ix) =
    (MinhashIndex.ensureBase(c.spark, dir), IvfPqIndex.ensureBase(c.spark, dir))

  def prepare(): Unit = {
    val mh = c.timed("MinHash index builds") {
      val ix = MinhashIndex.ensureBase(c.spark, dir)
      MinhashIndex.ensureDelta(c.spark, dir, ix)
      MinhashIndex.ensureFine(c.spark, dir, ix)
      ix
    }
    val ann = c.timed("IVF-PQ index builds") {
      val ix = IvfPqIndex.ensureBase(c.spark, dir)
      IvfPqIndex.ensureDelta(c.spark, dir, ix)
      ix
    }
    c.writeOracle(stages.map(_._2) ++ reads.map(_._1))
    // Reference pass: the ops of one round, run exactly as the timed ones.
    round(-1).foreach { op =>
      c.spark.catalog.clearCache()
      (c.timed(s"reference ${op.key}")(op.run(-1)), stages.find(_._2 == op.key)) match {
        case ((_, df: DataFrame), Some((_, key, sub))) =>
          fullNodes(key) = Plans.nodes(df.queryExecution)
          ref(key) = c.digestOf(c.spark.read.parquet(s"$out/-1/$sub"))
          c.copyDir(s"$out/-1/$sub", s"${c.dump}/$key")
        case ((df: DataFrame @unchecked, rows: Array[Row] @unchecked), None) =>
          fullNodes(op.key) = Plans.nodes(df.queryExecution)
          ref(op.key) = c.digest(rows)
          c.dumpRows(op.key, rows, df)
        case _ => auditRef = c.digestOf(c.spark.read.parquet(s"$out/-1/maintenance"))
      }
    }
    // The curation and packing stages' next run still generated code their
    // reference run had not (up to a dozen classes, depending on the seed);
    // one more untimed run of them keeps most of it out of the timed ops.
    round(-2).take(2).foreach { op =>
      c.spark.catalog.clearCache()
      c.timed(s"warm ${op.key}")(op.run(-2))
    }
    c.spark.catalog.clearCache()
    batchDocs = c.spark.read.parquet(s"$out/-1/verdicts").count()
    val deltaDocs = c.spark.read.parquet(mh.delta).select("doc_id").distinct()
    val textBytes = c.spark.read.parquet(s"$dir/documents.parquet")
      .join(deltaDocs, "doc_id").agg(coalesce(sum(length(col("text"))), lit(0L)))
      .head().getLong(0)
    val dim = c.spark.read.parquet(s"$dir/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    val newVecs = c.spark.read.parquet(ann.ivfCodesDelta).filter(col("m") === 0).count()
    batchBytes = textBytes + newVecs * dim * 4L
  }

  /** Output check and full-result guard shared by every registry op: the
    * query the op executed must hold every operator of the key's full
    * optimized plan (a write adds its own nodes on top). A plan pruned
    * under a count or a narrower projection has fewer and fails. */
  private def checkKey(key: String, rows: Array[Row], executed: Long): Verdict = {
    val full = fullNodes(key)
    if (executed < full) Verdict(Some(s"executed plan has $executed nodes, the full plan $full"))
    else if (c.digest(rows) != ref(key)) Verdict(Some("result differs from the reference"))
    else Verdict(None, Map("result_rows" -> rows.length.toDouble))
  }

  def round(r: Int): Seq[Op] = {
    val absorb = stages.map { case (span, key, sub) =>
      Op(key, 0L,
        run = op => c.span(span, op) {
          val df = fns(key)(c.spark, dir)
          df.write.mode("overwrite").parquet(s"$out/$op/$sub")
          (op, df)
        },
        check = { case ((op: Int, _), executed) =>
          checkKey(key, c.spark.read.parquet(s"$out/$op/$sub").collect(), executed) })
    } :+ Op("maintenance_audit", batchDocs,
      run = op => {
        c.span("jobs.audit", op)(audit().write.mode("overwrite").parquet(s"$out/$op/maintenance"))
        op
      },
      check = { case (op: Int, _) =>
        val (mh, ann) = indexes
        val counts = Map("index_bytes" -> (c.du(mh.delta) + c.du(ann.ivfCodesDelta)).toDouble,
          "batch_bytes" -> batchBytes.toDouble, "batch_docs" -> batchDocs.toDouble)
        if (c.digestOf(c.spark.read.parquet(s"$out/$op/maintenance")) != auditRef)
          Verdict(Some("maintenance audit differs from the reference"), counts)
        else Verdict(None, counts)
      })
    val serve = new scala.util.Random(c.seed * 1000003L + r).shuffle(reads).map { case (key, span) =>
      Op(key, 0L,
        run = op => c.span(span, op) {
          val df = fns(key)(c.spark, dir)
          (df, df.collect())
        },
        check = { case ((_, rows: Array[Row] @unchecked), executed) =>
          checkKey(key, rows, executed) })
    }
    absorb ++ serve
  }
}

/** The reference's two DAGs: page the REST feed, flatten the ragged JSON,
  * load it exactly once into Derby, replay the batch, read it back and
  * export the warehouse copy. */
final class BooksEtl(c: Ctx, books: String, n: Long) extends Workload {
  private val WarmOps = 2
  private val url = s"jdbc:derby:${c.work}/derby/books;create=true"
  private val jsonCols = Seq("image", "genres", "author_id", "author_name")
  private val jsonl = s"$books/books.jsonl"
  private var server: FeedServer = _
  private var refFeed, refExport, refWarehouse: (Int, Int) = (0, 0)

  // Every op loads into a target and ledger of its own, which start empty,
  // and exports to its own directories.
  private def tag(op: Int) = if (op < 0) s"W${-op}" else op.toString
  private def target(op: Int) = s"BOOKS_${tag(op)}"
  private def ledger(op: Int) = s"BOOKS_LEDGER_${tag(op)}"
  private def export(op: Int) = s"${c.work}/export/${tag(op)}"
  private def warehouse(op: Int) = s"${c.work}/warehouse/${tag(op)}"

  /** One ETL run; returns the paged feed rows. */
  private def etl(op: Int): Array[Row] = {
    val feed = c.span("sources.pages", op) {
      c.spark.read.format("graft.sources.PagedBooksSource")
        .option("transport", "http").option("baseUrl", server.url)
        .option("rows", n).option("pageSize", 100L).load().collect()
    }
    // Derby has no array columns, so the arrays travel as JSON text. So
    // does the nullable `image`: JdbcSink.append binds a null string as a
    // CLOB, which Derby refuses for a VARCHAR column.
    val flat = c.span("ops.books.flatten", op) {
      val f = BooksOps.flattenRawBooks(BooksOps.parseRawJsonLines(c.spark.read.text(jsonl)))
        .withColumn("image", array(col("image")))
        .select(col("id") +: col("title") +: col("rating") +:
          jsonCols.map(a => to_json(col(a)).as(a)): _*)
        .persist()
      f.write.format("noop").mode("overwrite").save()
      f
    }
    try {
      val write = JdbcSink.exactlyOnceBatchWriter(url, target(op), ledger(op),
        JdbcSink.columnsDdlFor(flat.schema, url)) _
      c.span("sources.jdbc_load", op) { write(flat, 1L); c.tracer.count("rows", n.toDouble) }
      c.span("sources.jdbc_replay", op)(write(flat, 1L))
      c.span("sources.jdbc_read", op) {
        JdbcSink.read(c.spark, url, target(op))
          .select(col("id") +: col("title") +: col("rating") +:
            jsonCols.map(a => from_json(col(a), ArrayType(StringType)).as(a)): _*)
          .withColumn("image", element_at(col("image"), 1))
          .write.mode("overwrite").parquet(export(op))
      }
      c.span("pipeline.books_run", op)(BooksPipeline.run(c.spark, jsonl, warehouse(op)))
    } finally { flat.unpersist(); () }
    feed
  }

  def prepare(): Unit = {
    server = new FeedServer(new java.io.File(s"$books/feed.json"))
    require(server.size == n, s"feed has ${server.size} books, expected $n")
    val feed = etl(-1)
    refFeed = c.digest(feed)
    refExport = c.digestOf(c.spark.read.parquet(export(-1)))
    refWarehouse = c.digestOf(c.spark.read.parquet(warehouse(-1)))
    c.dumpRows("books_feed", feed, c.spark.createDataFrame(Seq.empty[Row].asJava,
      PagedBooksTable.Schema))
    Seq("books_export" -> export(-1), "books_warehouse" -> warehouse(-1)).foreach { case (k, p) =>
      c.spark.read.parquet(p).orderBy("id").coalesce(1)
        .write.mode("overwrite").parquet(s"${c.dump}/$k")
    }
    // An op is short, so the JIT keeps speeding it up for several more
    // runs; these keep that ramp out of the timed window.
    (2 to WarmOps + 1).foreach(i => etl(-i))
  }

  def round(r: Int): Seq[Op] = Seq(Op("books_etl", n,
    run = op => {
      val (r0, b0) = (server.requests.get, server.bytes.get)
      val retries0 = PagedBooksTable.retriesObserved.get
      val feed = etl(op)
      (op, feed, server.requests.get - r0, server.bytes.get - b0,
        PagedBooksTable.retriesObserved.get - retries0)
    },
    check = { case ((op: Int, feed: Array[Row] @unchecked, reqs: Long, bytes: Long, retries: Long), _) =>
      val ledgerRows = JdbcSink.read(c.spark, url, ledger(op)).count()
      val loaded = JdbcSink.read(c.spark, url, target(op)).count()
      val err =
        if (c.digest(feed) != refFeed) Some("paged feed differs from the reference")
        else if (loaded != n) Some(s"$loaded rows in the target after the replay, expected $n")
        else if (ledgerRows != 1) Some(s"$ledgerRows ledger rows, expected 1")
        else if (c.digestOf(c.spark.read.parquet(export(op))) != refExport)
          Some("exported rows differ from the reference")
        else if (c.digestOf(c.spark.read.parquet(warehouse(op))) != refWarehouse)
          Some("warehouse rows differ from the reference")
        else None
      Verdict(err, Map("http_requests" -> reqs.toDouble, "http_bytes" -> bytes.toDouble,
        "http_retries" -> retries.toDouble))
    }))

  override def close(): Unit = if (server != null) server.close()
}
