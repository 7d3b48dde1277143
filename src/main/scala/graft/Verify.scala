package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Debug aid: SPARK_GRAFT_ONLY=q1,q2 dumps a subset (driver never sets
    // it). oracle_sql.json / queries.json still cover the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    // A failing query must be un-ignorable: record every execution error in
    // errors.json so a regression shows up as an explicit `err` entry in the
    // round artifact rather than a silently missing row (VERDICT r4 #4 — four
    // AnalysisException queries vanished from CORRECTNESS_r04 this way).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // Drop any PRIOR run's dump first (review r11): on a reused outDir a
      // query that newly fails BEFORE its write would otherwise leave the
      // stale parquet in place — hash_match:true and err set for the same
      // key, a mixed signal that can mask the regression.
      graft.ops.Artifacts.rmrf(new java.io.File(s"$outDir/$name"))
      // Names the query on stderr before it runs, so the Spark warnings
      // that follow (e.g. "No Partition Defined for Window") can be
      // attributed to it; stdout and the artifacts stay unchanged.
      System.err.println(s"[verify] $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e if scala.util.control.NonFatal(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
      }
    }
    // Invariant: every selected query produced either a dump dir or an error
    // entry. If this throws, Verify itself is broken — fail loudly.
    selected.keys.foreach { name =>
      val dumped = Files.exists(Paths.get(s"$outDir/$name"))
      require(dumped || errors.contains(name),
        s"verify invariant violated: $name has neither dump nor error record")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full expected inventory, so the checker can flag queries whose Spark
    // execution failed (no dump dir) instead of silently skipping them.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Per-query execution failures — always written (possibly empty `{}`) so
    // downstream tooling can distinguish "ran clean" from "didn't record".
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
