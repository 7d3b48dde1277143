package graft
import org.apache.spark.sql.SparkSession

/** Optimization-round plan capture: writes `.explain("formatted")` for the
  * named queries to `<outDir>/<query>_<tag>.txt` — the before/after
  * evidence files the optimization rounds commit under `plans/r<k>/`.
  *
  * Runs under the BENCH session geometry (SPARK_GRAFT_CPUS cores, same shuffle
  * partitions, same broadcast threshold) so the captured plan is the plan
  * the bench actually executes, parameterized by query list and output
  * dir:
  *
  *   runMain graft.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <tag> <q1,q2,...> [sfDir]")
    val (outDir, tag, names) = (args(0), args(1), args(2).split(",").map(_.trim))
    // Fail BEFORE the session spins up, naming the bad entries (ADVICE r13):
    // SparkEntry.queries(q) would otherwise throw a bare
    // NoSuchElementException mid-run with no hint what names are valid.
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — valid names are " +
        s"SparkEntry.queries keys, e.g. ${SparkEntry.queries.keys.take(5).mkString(", ")} …")
    // Same env vars, same defaults as Bench (ADVICE r13): a bare invocation
    // must capture exactly the plan the bench executes — cpus default 4,
    // sfDir from SPARK_GRAFT_SF_DIR, master overridable by SPARK_GRAFT_MASTER.
    val dir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new functions.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "2097152")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (q <- names) {
      val full = SparkEntry.queries(q)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // Cached-subtree reprints can run to 50k+ lines; the audit wants
      // the operator spine + scan details.
      val lines = full.linesIterator.toSeq
      val capped = if (lines.size <= 1500) full
        else (lines.take(1500) :+
          s"… [truncated ${lines.size - 1500} of ${lines.size} lines]").mkString("\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"),
        capped.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/${q}_$tag.txt")
    }
    spark.stop()
  }
}
