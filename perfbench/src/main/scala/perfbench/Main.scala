package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The harness JVM. Started by `run.py` on inputs it generated; runs
  * one workload's set-up, its timed loop and the output checks, and writes
  * the raw samples and spans to `--out` as JSON. `run.py` turns them into
  * the metrics.
  *
  * Arguments: --workload --seed --seconds --trace --t0-ms --work --data
  * --books --n-books --out. */
object Main {

  final case class Sample(key: String, op: Int, round: Int, traced: Boolean,
                          seconds: Double, items: Long, err: Option[String],
                          gcMs: Long, codegen: Long, counts: Map[String, Double])

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Fixed Spark work, timed at the start and end of every run, so drift of
    * the machine between runs shows as a number. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, 4).selectExpr("sum(hash(id) % 1000) AS s").collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val t0Ms = a("t0-ms").toLong
    val work = a("work")
    val dump = s"$work/dump"

    // graft.Bench's session settings, at local[4].
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "2097152")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, seed, work, dump)
    val wl: Workload = workload match {
      case "daily_increment" => new DailyIncrement(ctx, a("data"))
      case "books_etl" => new BooksEtl(ctx, a("books"), a("n-books").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    System.err.println(f"[perfbench] session up after ${(System.currentTimeMillis() - t0Ms) / 1e3}%.2f s")
    try {
      ctx.timed("set-up")(wl.prepare())
      spark.catalog.clearCache()
      System.gc()
      calibrate(spark) // compiles the calibration op's code
      val calibStart = calibrate(spark)
      val jitSetupMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

      final case class Done(op: Op, id: Int, round: Int, traced: Boolean, seconds: Double,
                            res: Try[Any], gcMs: Long, codegen: Long, planNodes: Long)
      val done = scala.collection.mutable.ArrayBuffer.empty[Done]
      val setupS = (System.currentTimeMillis() - t0Ms) / 1e3
      val loop0 = System.nanoTime()
      var round = 0
      // Whole rounds only, so every key of a round is sampled equally. A
      // traced run alternates traced and untraced rounds (at least one of
      // each) to measure the tracing overhead. Ops write to their own
      // locations, so their outputs are checked after the loop.
      while ((System.nanoTime() - loop0) / 1e9 < seconds || (trace && round < 2)) {
        val traced = trace && round % 2 == 0
        wl.round(round).foreach { op =>
          val id = done.size
          val (gc0, cg0) = (gcMs(), codegenCompiles())
          tracer.lastQuery = null
          tracer.enabled = traced
          val t0 = System.nanoTime()
          val res = Try(tracer.span(s"op.$workload", id)(op.run(id)))
          val dt = (System.nanoTime() - t0) / 1e9
          tracer.enabled = false
          tracer.drain()
          val executed = Option(tracer.lastQuery).fold(-1L)(Plans.nodes)
          done += Done(op, id, round, traced, dt, res, gcMs() - gc0, codegenCompiles() - cg0,
            executed)
          spark.catalog.clearCache()
        }
        System.gc()
        round += 1
      }
      val samples = ctx.timed("output checks")(done.map { d =>
        val v = d.res match {
          case Success(r) =>
            Try(d.op.check(r, d.planNodes)).fold(e => Verdict(Some(e.toString)), identity)
          case Failure(e) => Verdict(Some(e.toString))
        }
        System.err.println(f"[perfbench] op ${d.id} ${d.op.key} ${d.seconds}%.3f s, " +
          s"${d.codegen} compiles" + v.err.fold("")(e => s" FAILED: $e"))
        Sample(d.op.key, d.id, d.round, d.traced, d.seconds, d.op.items, v.err,
          d.gcMs, d.codegen, v.counts)
      })
      done.clear() // the op results are checked; free them before the heap is measured
      val calibEnd = calibrate(spark)
      spark.catalog.clearCache()
      tracer.lastQuery = null
      // Spark frees broadcast and shuffle blocks of collected objects
      // asynchronously after a GC; give that cleanup time, then collect again.
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(250) }
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

      val m = new ObjectMapper()
      val root = m.createObjectNode()
      root.put("workload", workload).put("setup_s", setupS).put("jit_setup_ms", jitSetupMs)
        .put("calib_start_s", calibStart).put("calib_end_s", calibEnd)
        .put("heap_live_mb", heapMb).put("cores", 4)
      val ss = root.putArray("samples")
      samples.foreach { s =>
        val o = ss.addObject().put("key", s.key).put("op", s.op).put("round", s.round)
          .put("traced", s.traced).put("seconds", s.seconds).put("items", s.items)
          .put("gc_ms", s.gcMs).put("codegen", s.codegen)
        s.err.foreach(o.put("err", _))
        putCounts(o.putObject("counts"), s.counts)
      }
      val sp = root.putArray("spans")
      tracer.spans.foreach { s =>
        val t = s.spark
        val o = sp.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
          .put("op", s.op).put("seconds", (s.endNs - s.startNs) / 1e9)
          .put("start_ms", s.startMs).put("end_ms", s.endMs)
          .put("jobs", t.jobs).put("tasks", t.tasks).put("run_ms", t.runMs)
          .put("cpu_ns", t.cpuNs).put("shuffle_read", t.shuffleRead)
          .put("shuffle_write", t.shuffleWrite).put("spill", t.spill)
          .put("peak_mem", t.peakMem).put("plan_ms", t.planMs).put("plan_nodes", t.planNodes)
          .put("postings_rows", t.postingsRows).put("codes_rows", t.codesRows)
        putCounts(o.putObject("counts"), s.counters.toMap)
        val iv = o.putArray("task_intervals")
        t.taskIntervals.foreach { case (b, e) => iv.addArray().add(b).add(e) }
      }
      m.writeValue(new java.io.File(a("out")), root)
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def putCounts(o: ObjectNode, c: Map[String, Double]): Unit =
    c.foreach { case (k, v) => o.put(k, v) }
}
