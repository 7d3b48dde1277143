package graft

/** Optimization-round plan capture: writes `.explain("formatted")` for the
  * named queries to `<outDir>/<query>_<tag>.txt` — the before/after
  * evidence files the optimization rounds commit under `plans/r<k>/`.
  *
  * Runs under the [[GraftSession]] profile, as the bench does, so the
  * captured plan is the plan the bench actually executes, parameterized by
  * query list and output dir:
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
    // Same sfDir default and the same GraftSession profile as Bench
    // (ADVICE r13): a bare invocation must capture exactly the plan the
    // bench executes.
    val dir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder("graft-plandump").getOrCreate()
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
