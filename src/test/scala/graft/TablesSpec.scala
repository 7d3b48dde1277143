package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The resolve-once parquet reader ([[Tables.read]]): a hit runs no
  * Spark job, every kind of rewrite is visible on the next read, and a
  * re-instanced relation behaves like a fresh `spark.read` frame. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft_tables_$tag").resolve("t").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Spark jobs started by `body`, counted by a listener. A marker job
    * run afterwards in its own group is the barrier: the listener bus
    * delivers in order, so once the marker is seen every job `body`
    * started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables_spec_${System.nanoTime}"
    val (counted, marker) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)                => counted.incrementAndGet()
          case Some(g) if g == group + "_m" => marker.incrementAndGet()
          case _                            =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TablesSpec reads")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "_m", "TablesSpec barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (marker.get == 0 && System.nanoTime < deadline) Thread.sleep(5)
      assert(marker.get == 1, "listener never saw the barrier job")
      counted.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second read of an unchanged table runs zero Spark jobs") {
    val path = scratch("hit")
    Tables.nation(spark, sf).write.parquet(path)
    // the first read infers the schema from a footer: one job
    assert(jobsDuring(Tables.read(spark, path)) >= 1)
    var second: DataFrame = null
    assert(jobsDuring { second = Tables.read(spark, path) } == 0)
    assert(rows(second) == rows(Tables.nation(spark, sf)))
  }

  test("an overwrite and a new file inside a pband= partition are visible on the next read") {
    val path = scratch("rewrite")
    def write(n: Int, mode: String): Unit =
      spark.range(n).withColumn("pband", col("id") % 2)
        .write.mode(mode).partitionBy("pband").parquet(path)
    write(10, "overwrite")
    assert(Tables.read(spark, path).count() == 10)
    assert(Tables.read(spark, path).count() == 10) // hit
    write(6, "overwrite")
    assert(Tables.read(spark, path).count() == 6)
    // a file dropped into an EXISTING partition directory changes only
    // that directory's mtime (the root is untouched): the stamp folds it
    val part: Path = Files.list(java.nio.file.Paths.get(path, "pband=1")).iterator()
      .asScala.filter(_.getFileName.toString.startsWith("part-")).next()
    val extra = spark.read.parquet(part.toString).count()
    assert(extra > 0)
    Files.copy(part, part.resolveSibling("part-extra-" + part.getFileName),
      StandardCopyOption.COPY_ATTRIBUTES)
    assert(Tables.read(spark, path).count() == 6 + extra)
  }

  test("a deleted table fails its read instead of serving the cached relation") {
    val path = scratch("deleted")
    Tables.nation(spark, sf).write.parquet(path)
    assert(Tables.read(spark, path).count() == 25)
    ops.Artifacts.rmrf(new java.io.File(path))
    intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, path))
  }

  test("a self-join of two reads of lineitem equals two fresh spark.read frames") {
    val p = s"$sf/lineitem.parquet"
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("l_orderkey") === b("l_orderkey") &&
          a("l_linenumber") < b("l_linenumber"))
        .select(a("l_orderkey"), a("l_linenumber"), b("l_linenumber"),
          b("l_quantity"))
    Tables.read(spark, p) // warm the memo so both reads below are hits
    val memo = selfJoin(Tables.read(spark, p), Tables.read(spark, p))
    val fresh = selfJoin(spark.read.parquet(p), spark.read.parquet(p))
    assert(memo.count() > 0)
    assert(rows(memo) == rows(fresh))
  }

  test("a declared-schema read of a partitioned table with no data files returns zero rows") {
    val path = scratch("empty")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("pband", IntegerType)))
    spark.createDataFrame(java.util.List.of[Row](), schema)
      .write.partitionBy("pband").parquet(path)
    Files.createDirectories(java.nio.file.Paths.get(path, "pband=3"))
    assert(Tables.read(spark, path, Some(schema)).count() == 0)
    assert(Tables.read(spark, path, Some(schema)).count() == 0) // hit
  }

  test("a file: URI path reads the same table and stamps like the plain path") {
    val path = scratch("uri")
    Tables.nation(spark, sf).write.parquet(path)
    val uri = new java.io.File(path).toURI.toString
    assert(uri.startsWith("file:"))
    assert(ops.IndexFs.shallowStamp(uri).isDefined)
    assert(ops.IndexFs.shallowStamp(uri) == ops.IndexFs.shallowStamp(path))
    assert(rows(Tables.read(spark, uri)) == rows(Tables.read(spark, path)))
    assert(jobsDuring(Tables.read(spark, uri)) == 0)
  }
}
