package graft

/** Every crash point of the IVF-PQ lifecycle ops ([[LifecycleCrashSuite]])
  * on the registry's base-slice fixture root: the facade's build, append,
  * compact and delete; the probe is `knn_ivf_pq_delta`. */
class AnnLifecycleCrashSpec extends LifecycleCrashSuite[ops.IvfPqIndex.Ix] {
  import org.apache.spark.sql.functions._

  /** A fixture dir of its own (fresh index roots), the sf0.001 corpus. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_anncrash").toString
    spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  protected def ensured(): ops.IvfPqIndex.Ix = {
    val ix = ops.IvfPqIndex.ensureBase(spark, dir)
    ops.IvfPqIndex.ensureDelta(spark, dir, ix)
    ix
  }

  protected def root(ix: ops.IvfPqIndex.Ix): String = ix.root

  protected def tables(ix: ops.IvfPqIndex.Ix): Map[String, Seq[String]] =
    Seq(ix.coarse, ix.cells, ix.pqCodebooks, ix.pqCodes, ix.ivfCodebooks, ix.ivfCodes)
      .map(t => t -> spark.read.parquet(t).collect().map(_.toString).sorted.toSeq).toMap +
      (ix.ivfCodesDelta -> spark.read.schema(ops.IvfPqIndex.codesSchema)
        .parquet(ix.ivfCodesDelta).collect().map(_.toString).sorted.toSeq)

  protected def probe(): Seq[String] =
    ops.VectorOps.knnIvfPqDelta(spark, dir).collect().map(_.toString).toSeq

  protected val remedy = "rebuild via buildAnnIndex"

  /** The fixture's own base build ([[ops.IvfPqIndex.ensureBase]]'s slice
    * and geometry), through the facade. */
  private def build(s: org.apache.spark.sql.SparkSession, ix: ops.IvfPqIndex.Ix): Unit =
    api.GraftAPI.buildAnnIndex(s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 10 =!= 7), "vec_id", "embedding", ix.root,
      cells = 16, m = ops.VectorOps.PqM, k = 16, iters = 2).collect()
  private def append(s: org.apache.spark.sql.SparkSession, ix: ops.IvfPqIndex.Ix): Unit =
    api.GraftAPI.annIndexAppend(s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 10 === 7), "vec_id", "embedding", ix.root).collect()
  private def compact(s: org.apache.spark.sql.SparkSession, ix: ops.IvfPqIndex.Ix): Unit =
    api.GraftAPI.annIndexCompact(s, ix.root).collect()
  /** One base vector of the base's largest cell and one delta vector,
    * picked on the clean root: no base cell empties. */
  private lazy val delIds: Seq[Long] = {
    val ix = ensured()
    val big = spark.read.parquet(ix.cells).groupBy("cell").count()
      .orderBy(col("count").desc, col("cell")).head().getLong(0)
    spark.read.parquet(ix.cells).filter(col("cell") === big).select("vec_id")
      .orderBy("vec_id").limit(1).collect().map(_.getLong(0)).toSeq ++
      spark.read.schema(ops.IvfPqIndex.codesSchema).parquet(ix.ivfCodesDelta)
        .select("vec_id").orderBy("vec_id").limit(1).collect().map(_.getLong(0))
  }
  override protected def pick(): Unit = assert(delIds.size == 2)
  private def delete(s: org.apache.spark.sql.SparkSession, ix: ops.IvfPqIndex.Ix): Unit = {
    val sq = s; import sq.implicits._
    api.GraftAPI.annIndexDelete(s, ix.ivfCodes, delIds.toDF("vec_id"), "vec_id")
  }

  protected val lifecycle = Seq[(String, (org.apache.spark.sql.SparkSession, ops.IvfPqIndex.Ix) => Unit)](
    "append" -> append, "compact" -> compact, "delete" -> delete)

  test("annIndexAppend: a crash at its one write step refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(append) == 1)
  }

  test("annIndexCompact: a crash at either write step refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(compact) == 2)
  }

  test("annIndexDelete: a crash at each of its three write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(delete) == 3)
  }

  test("buildAnnIndex: a crash at each of its six write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(build) == 6)
  }
}
