package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.scalatest.funsuite.AnyFunSuite

/** A commit protocol that fails the [[CrashingCommitProtocol.crashAt]]-th
  * job commit counted since the last [[CrashingCommitProtocol.arm]]:
  * before the delegate commit (the write is lost) or after it (the write
  * landed, and the driver dies before the op's next step). A session opts
  * in through `spark.sql.sources.commitProtocolClass`. */
class CrashingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  import CrashingCommitProtocol._

  override def commitJob(job: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    val n = commits.incrementAndGet()
    if (n == crashAt && !afterCommit) throw new IllegalStateException(s"$Crash $n (before commit)")
    super.commitJob(job, taskCommits)
    if (n == crashAt && afterCommit) throw new IllegalStateException(s"$Crash $n (after commit)")
  }
}

object CrashingCommitProtocol {
  val Crash = "planted crash at job commit"
  private[graft] val commits = new AtomicInteger(0)
  @volatile private[graft] var crashAt = 0
  @volatile private[graft] var afterCommit = false

  /** Count commits from zero again and crash at the `n`-th. */
  def arm(n: Int, after: Boolean): Unit = { commits.set(0); crashAt = n; afterCommit = after }
}

/** Every crash point of the IVF-PQ lifecycle ops, on the registry's
  * base-slice fixture root (ROADMAP item 11, ANN half). For each of the
  * facade's append, compact and delete, a session whose commit protocol
  * fails the N-th job commit crashes the op at write step N, for N = 1,
  * 2, … until the op runs through, both before and after the delegate
  * commit. After every crash:
  *   - each facade lifecycle op refuses the root with the rebuild remedy;
  *   - `ensureBase` + `ensureDelta` rebuild it to the clean run's tables;
  *   - `knn_ivf_pq_delta` returns its pre-crash rows. */
class AnnLifecycleCrashSpec extends AnyFunSuite {
  import org.apache.spark.sql.functions._
  private lazy val spark = TestSpark.spark

  /** A fixture dir of its own (fresh index roots), the sf0.001 corpus. */
  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft_anncrash").toString
    spark.read.parquet(s"${TestSpark.Sf0001}/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def ensured(): ops.IvfPqIndex.Ix = {
    val ix = ops.IvfPqIndex.ensureBase(spark, dir)
    ops.IvfPqIndex.ensureDelta(spark, dir, ix)
    ix
  }

  /** Sorted rows of every table the fixture root's probes read. */
  private def tables(ix: ops.IvfPqIndex.Ix): Map[String, Seq[String]] =
    Seq(ix.coarse, ix.cells, ix.pqCodebooks, ix.pqCodes, ix.ivfCodebooks, ix.ivfCodes)
      .map(t => t -> spark.read.parquet(t).collect().map(_.toString).sorted.toSeq).toMap +
      (ix.ivfCodesDelta -> spark.read.schema(ops.VectorOps.codesSchema)
        .parquet(ix.ivfCodesDelta).collect().map(_.toString).sorted.toSeq)

  private def probe(): Seq[String] =
    ops.VectorOps.knnIvfPqDelta(spark, dir).collect().map(_.toString).toSeq

  private lazy val (clean, probeClean) = { val ix = ensured(); (tables(ix), probe()) }

  private lazy val crashing = {
    val c = spark.newSession()
    c.conf.set("spark.sql.sources.commitProtocolClass", classOf[CrashingCommitProtocol].getName)
    c
  }

  /** The three facade lifecycle ops on the fixture root through `s`. */
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
      spark.read.schema(ops.VectorOps.codesSchema).parquet(ix.ivfCodesDelta)
        .select("vec_id").orderBy("vec_id").limit(1).collect().map(_.getLong(0))
  }
  private def delete(s: org.apache.spark.sql.SparkSession, ix: ops.IvfPqIndex.Ix): Unit = {
    val sq = s; import sq.implicits._
    api.GraftAPI.annIndexDelete(s, ix.ivfCodes, delIds.toDF("vec_id"), "vec_id")
  }

  private val ops3 = Seq[(String, (org.apache.spark.sql.SparkSession, ops.IvfPqIndex.Ix) => Unit)](
    "append" -> append, "compact" -> compact, "delete" -> delete)

  /** Crash `op` at every write step in both modes; returns its step count. */
  private def crashEverywhere(op: (org.apache.spark.sql.SparkSession, ops.IvfPqIndex.Ix) => Unit): Int = {
    assert(clean.nonEmpty && probeClean.nonEmpty && delIds.size == 2) // picked on the clean root
    def runs(n: Int, after: Boolean): Boolean = {
      val ix = ensured()
      assert(tables(ix) == clean, "the fixture root must start clean")
      CrashingCommitProtocol.arm(n, after)
      val crashed =
        try { op(crashing, ix); false }
        catch {
          case t: Throwable if Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
              .exists(c => String.valueOf(c.getMessage).contains(CrashingCommitProtocol.Crash)) => true
        } finally CrashingCommitProtocol.arm(0, after = false)
      if (crashed) {
        val at = s"step $n${if (after) " after commit" else ""}"
        assert(!new java.io.File(ix.root, "_SUCCESS").isFile, s"$at: the root must read uncommitted")
        ops3.foreach { case (name, refused) =>
          val e = intercept[IllegalArgumentException](refused(spark, ix))
          assert(e.getMessage.contains("rebuild via buildAnnIndex"), s"$at, $name: ${e.getMessage}")
        }
        val rebuilt = ensured()
        assert(new java.io.File(rebuilt.root, "_SUCCESS").isFile, s"$at: the rebuild must commit")
        assert(tables(rebuilt) == clean, s"$at: the rebuild must equal the clean run's tables")
        assert(probe() == probeClean, s"$at: knn_ivf_pq_delta must return its pre-crash rows")
      }
      else { // the op ran through: rebuild the root clean for the next case
        assert(new java.io.File(ix.root, "_SUCCESS").delete())
        assert(tables(ensured()) == clean)
      }
      crashed
    }
    val steps = Iterator.from(1).takeWhile(n => runs(n, after = false)).size
    (1 to steps).foreach(n => assert(runs(n, after = true), s"step $n must crash after commit too"))
    steps
  }

  test("annIndexAppend: a crash at its one write step refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(append) == 1)
  }

  test("annIndexCompact: a crash at either write step refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(compact) == 2)
  }

  test("annIndexDelete: a crash at each of its three write steps refuses, rebuilds clean and leaves the probe unchanged") {
    assert(crashEverywhere(delete) == 3)
  }
}
