package graft

/** Every crash point of the MinHash lifecycle ops ([[LifecycleCrashSuite]])
  * on the registry's base-slice fixture root: the facade's build, append,
  * compact and delete; the probe is `dedup_incremental`. */
class MinhashLifecycleCrashSpec extends LifecycleCrashSuite[ops.MinhashIndex.Ix] {
  import org.apache.spark.sql.functions._

  /** A fixture dir of its own (fresh index roots), the sf0.001 corpus. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_mhcrash").toString
    spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  protected def ensured(): ops.MinhashIndex.Ix = {
    val ix = ops.MinhashIndex.ensureBase(spark, dir)
    ops.MinhashIndex.ensureDelta(spark, dir, ix)
    ix
  }

  protected def root(ix: ops.MinhashIndex.Ix): String = ix.root

  protected def tables(ix: ops.MinhashIndex.Ix): Map[String, Seq[String]] = {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Map(ix.bands -> rows(spark.read.parquet(ix.bands)),
      ix.subKeys -> rows(spark.read.parquet(ix.subKeys)),
      ix.fine -> rows(ops.MinhashIndex.fineRows(spark, ix)),
      ix.delta -> rows(ops.MinhashIndex.deltaRows(spark, ix)))
  }

  protected def probe(): Seq[String] =
    ops.DedupOps.dedupIncremental(spark, dir).collect().map(_.toString).toSeq

  protected val remedy = "rebuild via writeMinhashIndex"

  /** The fixture's own base build ([[ops.MinhashIndex.ensureBase]]'s
    * slice and geometry), through the facade. */
  private def build(s: org.apache.spark.sql.SparkSession, ix: ops.MinhashIndex.Ix): Unit =
    api.GraftAPI.writeMinhashIndex(s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 400), "doc_id", "text", ix.root,
      numHashes = 8, bands = 2, batchWidth = 250).collect()
  private def append(s: org.apache.spark.sql.SparkSession, ix: ops.MinhashIndex.Ix): Unit =
    api.GraftAPI.minhashIndexAppend(s, ix.bands,
      s.read.parquet(s"$dir/documents.parquet").filter(col("doc_id") >= 400 && col("doc_id") < 450),
      "doc_id", "text", batchId = 1L, numHashes = 8, bands = 2).collect()
  private def compact(s: org.apache.spark.sql.SparkSession, ix: ops.MinhashIndex.Ix): Unit =
    api.GraftAPI.minhashIndexCompact(s, ix.bands).collect()
  /** Two base documents of ingest batch 0, picked on the clean root: no
    * (band, batch) partition empties. */
  private lazy val delIds: Seq[Long] = spark.read.parquet(ensured().bands)
    .filter(col("pbatch") === 0).select("doc_id").distinct().orderBy("doc_id")
    .limit(2).collect().map(_.getLong(0)).toSeq
  override protected def pick(): Unit = assert(delIds.size == 2)
  private def delete(s: org.apache.spark.sql.SparkSession, ix: ops.MinhashIndex.Ix): Unit = {
    val sq = s; import sq.implicits._
    api.GraftAPI.minhashIndexDelete(s, ix.bands, delIds.toDF("doc_id"), "doc_id")
  }

  protected val lifecycle = Seq[(String, (org.apache.spark.sql.SparkSession, ops.MinhashIndex.Ix) => Unit)](
    "append" -> append, "compact" -> compact, "delete" -> delete)

  test("minhashIndexAppend: a crash at either write step refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(append) == 2)
  }

  test("minhashIndexCompact: a crash at each of its three write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(compact) == 3)
  }

  test("minhashIndexDelete: a crash at each of its three write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(delete) == 3)
  }

  test("writeMinhashIndex: a crash at each of its three write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(build) == 3)
  }
}
