package graft

import org.apache.spark.sql.functions._

/** Executor-loss chaos harness (VERDICT r12 #3): the r12 multi-JVM sweep
  * was failure-free, so Spark's task-retry path through the custom
  * operators, the marker-disciplined index writes, and the idempotent
  * streaming sinks had never seen a killed executor. This main runs
  * three scenarios on a `local-cluster[2,4,4096]` master, kill -9s one
  * executor JVM mid-flight in each, and asserts the survivors'
  * guarantees:
  *
  *   1. `minhash_build`: [[graft.ops.MinhashIndex]] build over a fresh
  *      corpus copy with an executor killed mid-build — the committed
  *      artifact must be BYTE-PRISTINE (equal to a clean rebuild of the
  *      same corpus; the deterministic-banding + marker-commits-last
  *      contract under real task retry, not simulated crash windows);
  *   2. `streaming_dedup_sink`: the foreachBatch incremental-dedup twin
  *      with an executor killed mid-stream — the partition-per-batch
  *      idempotent sink must land EXACTLY-ONCE flags equal to the
  *      one-shot batch probe (at-least-once replay × idempotent
  *      overwrite, now exercised by genuine replay);
  *   3. `topk_native`: a query planned through the custom
  *      TopKPerGroupExec with an executor killed mid-query — the result
  *      must equal the undisturbed run (retry-safe custom SparkPlan).
  *
  * The kill is PROGRESS-triggered (fired from a listener on the 5th task
  * start of the armed scenario), so it provably lands inside the job —
  * a wall-clock-scheduled kill fired after the JIT-warmed chaos run had
  * already finished on the first draft of this harness — and a scenario
  * whose trigger never fired fails loudly instead of counting as
  * coverage. One JSON line per scenario (killed pid, failed-task and
  * removed-executor counters, pristine verdict) → the r13 chaos
  * artifact.
  *
  * Usage (from the repo root; SPARK_HOME + executor classpath required
  * for a local-cluster master):
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_MASTER="local-cluster[2,4,4096]" \
  *   java -Dspark.executor.extraClassPath=/root/repo/target/scala-2.13/classes \
  *   -cp target/scala-2.13/classes plus the Spark jars dir \
  *   graft.ChaosCheck /root/testdata/sf0.1 artifacts/r13/r13_chaos.json
  * }}}
  */
object ChaosCheck {

  /** Live executor-backend JVMs (children of the local-cluster workers). */
  private def executorPids(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    ProcessHandle.allProcesses().iterator().asScala
      .filter(p => p.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend"))
      .map(_.pid()).toSeq.sorted
  }

  /** PROGRESS-triggered kill: arm() resets the counter, and the listener
    * kill -9s one executor on the `afterTasks`-th task START that follows
    * — guaranteed to land INSIDE the job no matter how warm the JIT is
    * (a wall-clock fraction of a pre-measured clean run fired after the
    * chaos run had already finished on the first draft of this harness).
    * `killedPid` is -1 until the trigger fires. */
  final private class TaskTriggeredKiller(afterTasks: Int)
      extends org.apache.spark.scheduler.SparkListener {
    private val started = new java.util.concurrent.atomic.AtomicLong()
    private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var killedPid: Long = -1L
    def arm(): Unit = { killedPid = -1L; started.set(0); armed.set(true) }
    override def onTaskStart(
        e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
      if (armed.get && started.incrementAndGet() == afterTasks.toLong)
        executorPids().headOption.foreach { pid =>
          ProcessHandle.of(pid).ifPresent(h => { h.destroyForcibly(); () })
          killedPid = pid
          armed.set(false)
        }
  }

  /** Wait until the cluster reports `n` live executor backends (the
    * worker relaunches a killed one) so scenarios don't overlap kills. */
  private def awaitExecutors(n: Int, timeoutMs: Long = 60000L): Unit = {
    val t0 = System.currentTimeMillis()
    while (executorPids().size < n &&
           System.currentTimeMillis() - t0 < timeoutMs)
      Thread.sleep(500)
  }

  final private class FailureLog extends org.apache.spark.scheduler.SparkListener {
    val failedTasks = new java.util.concurrent.atomic.AtomicLong()
    val removedExecutors = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) { failedTasks.incrementAndGet(); () }
    override def onExecutorRemoved(
        e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
      removedExecutors.incrementAndGet(); ()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ChaosCheck <sfDir> <outJson>")
    val Array(sfDir, outJson) = args
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "")
    require(master.startsWith("local-cluster"),
      s"chaos needs a multi-JVM master to kill: set SPARK_GRAFT_MASTER to " +
        s"local-cluster[...], got '$master'")
    val spark = GraftSession.builder("graft-chaos")
      // a killed executor loses its shuffle files mid-stage; fetch
      // failures must re-run the map side, not fail the app
      .config("spark.stage.maxConsecutiveAttempts", "8")
      .config("spark.task.maxFailures", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val log = new FailureLog
    spark.sparkContext.addSparkListener(log)
    val killer = new TaskTriggeredKiller(afterTasks = 5)
    spark.sparkContext.addSparkListener(killer)
    val results = scala.collection.mutable.ArrayBuffer[String]()

    // Counter snapshots at each arm(): the FailureLog counters are
    // running totals since listener registration, so a per-scenario line
    // must report the DELTA over its own window (review r13) — otherwise
    // scenario 2's line carries scenario 1's kill fallout and the
    // artifact can't attribute failures to the scenario that caused them.
    var failed0 = 0L
    var removed0 = 0L
    def armWindow(): Unit = {
      failed0 = log.failedTasks.get; removed0 = log.removedExecutors.get
      killer.arm()
    }

    def record(name: String, killedPid: Long, cleanMs: Long, chaosMs: Long,
               pristine: Boolean): Unit = {
      val line = s"""{"scenario":"$name","killed_pid":$killedPid,""" +
        s""""clean_ms":$cleanMs,"chaos_ms":$chaosMs,""" +
        s""""failed_tasks":${log.failedTasks.get - failed0},""" +
        s""""removed_executors":${log.removedExecutors.get - removed0},""" +
        s""""pristine":$pristine}"""
      println(s"[chaos] $line")
      require(killedPid > 0,
        s"$name: the kill trigger never fired — the scenario exercised nothing")
      results += line
    }

    // fresh corpus copy → fresh artifact roots (nothing pre-built)
    val dir = java.nio.file.Files.createTempDirectory("graft_chaos").toString
    def cp(table: String): Unit = {
      val src = java.nio.file.Paths.get(s"$sfDir/$table")
      val dst = java.nio.file.Paths.get(s"$dir/$table")
      if (java.nio.file.Files.isRegularFile(src)) {
        java.nio.file.Files.copy(src, dst); ()
      } else {
        java.nio.file.Files.createDirectories(dst)
        java.nio.file.Files.list(src).forEach(f =>
          java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
      }
    }
    Seq("documents.parquet", "embeddings.parquet", "orders.parquet",
      "lineitem.parquet", "customer.parquet", "nation.parquet",
      "region.parquet", "supplier.parquet", "part.parquet",
      "events.parquet").foreach(cp)

    // ---- scenario 1: index build under executor loss -----------------
    {
      // clean reference build on a SECOND copy of the corpus (separate
      // fingerprint → separate root)
      val dir2 = java.nio.file.Files.createTempDirectory("graft_chaos_ref").toString
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$dir2/documents.parquet"))
      val t0 = System.nanoTime()
      SparkEntry.queries("build_minhash_index")(spark, dir2).collect()
      val cleanMs = (System.nanoTime() - t0) / 1000000L
      val want = Tables.read(spark, ops.MinhashIndex.ensure(spark, dir2).bands)
        .select("doc_id", "band", "band_key")
        .collect().map(_.toString).sorted
      awaitExecutors(2)
      armWindow()
      val t1 = System.nanoTime()
      SparkEntry.queries("build_minhash_index")(spark, dir).collect()
      val chaosMs = (System.nanoTime() - t1) / 1000000L
      val ix = ops.MinhashIndex.ensure(spark, dir)
      val got = Tables.read(spark, ix.bands)
        .select("doc_id", "band", "band_key")
        .collect().map(_.toString).sorted
      val pristine = got.sameElements(want) && ops.IndexFs.committed(ix.root)
      record("minhash_build", killer.killedPid, cleanMs, chaosMs, pristine)
      require(pristine, "chaos build diverged from the clean build")
    }

    // ---- scenario 2: streaming idempotent sink under executor loss ---
    {
      awaitExecutors(2)
      val sq = spark; import sq.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val docs = Tables.read(spark, s"$dir/documents.parquet")
      val ixRoot = s"$dir/chaos_mhix"
      api.GraftAPI.writeMinhashIndex(
        docs.filter(col("doc_id") < 450), "doc_id", "text", ixRoot,
        numHashes = 8, bands = 2)
      val out = s"$dir/chaos_stream_out"
      val batchDocs = docs.filter(col("doc_id") >= 450)
        .select("doc_id", "text").as[streaming.DocRow]
        .collect().sortBy(_.doc_id).toSeq
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[streaming.DocRow]
      val q = ms.toDF().writeStream
        .foreachBatch(streaming.StreamingOps.dedupBatchAgainstIndex(
          s"$ixRoot/bands", out, "doc_id", "text",
          numHashes = 8, bands = 2) _)
        .start()
      armWindow()
      val t1 = System.nanoTime()
      try {
        batchDocs.grouped(math.max(1, batchDocs.size / 4)).foreach { chunk =>
          ms.addData(chunk); q.processAllAvailable()
        }
      } finally q.stop()
      val chaosMs = (System.nanoTime() - t1) / 1000000L
      val streamed = Tables.read(spark, out)
        .select("doc_id", "is_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).sorted
      val wantFlags = SparkEntry.queries("dedup_incremental")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).sorted
      val pristine = streamed.length == batchDocs.map(_.doc_id).distinct.size &&
        streamed.sameElements(wantFlags)
      record("streaming_dedup_sink", killer.killedPid, -1L, chaosMs, pristine)
      require(pristine, "streamed flags diverged (duplicate or lost rows)")
    }

    // ---- scenario 3: custom top-k operator under executor loss -------
    {
      awaitExecutors(2)
      val t0 = System.nanoTime()
      val want = SparkEntry.queries("sample_per_group")(spark, dir)
        .collect().map(_.toString)
      val cleanMs = (System.nanoTime() - t0) / 1000000L
      armWindow()
      val t1 = System.nanoTime()
      val got = SparkEntry.queries("sample_per_group")(spark, dir)
        .collect().map(_.toString)
      val chaosMs = (System.nanoTime() - t1) / 1000000L
      val pristine = got.sameElements(want)
      record("topk_native", killer.killedPid, cleanMs, chaosMs, pristine)
      require(pristine, "top-k under chaos diverged")
    }

    val json = s"""{"master":"$master","scenarios":[${results.mkString(",")}],""" +
      s""""failed_tasks_total":${log.failedTasks.get},""" +
      s""""removed_executors_total":${log.removedExecutors.get}}"""
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outJson).toAbsolutePath.getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    println(json)
    spark.stop()
  }
}
