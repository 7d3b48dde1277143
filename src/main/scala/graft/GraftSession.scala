package graft

import org.apache.spark.sql.SparkSession

/** The engine's one Spark session profile. `Bench`, `Verify`, the dev
  * mains, the test session and the `graft.jobs` spark-submit mains all
  * build their session here, so the configuration the shipped jobs run is
  * the one the bench and the oracle measure.
  *
  * Engine settings, applied to every session this builds:
  *  - `GraftExtensions`: the native TopKPerGroup strategy, the
  *    `row_number` rewrite rule and the codegen'd `graft_dot` /
  *    `graft_quantize_i8`.
  *  - `spark.sql.session.timeZone=UTC`: formatted timestamps and the
  *    TIMESTAMP_NTZ → timestamp cast in [[Tables.events]] are
  *    host-independent (wall clock == instant).
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet` has
  *    shipped `ts` as TIMESTAMP(NANOS), which Spark 4 refuses without it
  *    (see [[Tables.events]]).
  *  - `spark.sql.autoBroadcastJoinThreshold=2097152`: never auto-broadcast
  *    a pruned fact table. At the 10 MB default the column-pruned
  *    lineitem scan (~2-4 MB estimate at sf0.1) became the build side of
  *    `sql_local_supplier_volume`, and its repeated ~35 MB hashed-relation
  *    builds took the query from ~1 s to 12 s (VERDICT r4 #5). 2 MB is the
  *    measured flip point: dimension tables still broadcast, fact-scale
  *    scans never do. Explicit `broadcast()` hints are unaffected, and at
  *    real scale AQE re-plans from true sizes.
  *  - `spark.sql.codegen.cache.maxEntries=4000`: the generated-class cache
  *    defaults to 100 entries, so a sweep of 250+ distinct queries evicts
  *    the early ones' classes and later queries pay a Janino recompile
  *    storm unrelated to their plan (bisected r5: `curation_pipeline`
  *    14.5 s in-sweep vs 5.4 s after a short prefix).
  *  - `spark.cleaner.periodicGC.interval=90s`: broadcast variables, task
  *    binaries and shuffle state are released only after a driver GC lets
  *    ContextCleaner's weak references fire, and with a large heap that GC
  *    never comes within the 30 min default. The accumulated block-manager
  *    state slowed late queries of a long run by 10-70×.
  *
  * Local geometry, applied only when no launcher has set `spark.master`
  * (spark-submit passes it as a system property; under a launcher the
  * master, the parallelism and the UI are the launcher's):
  *  - master `SPARK_GRAFT_MASTER` (e.g. `local-cluster[2,4,4096]`, the
  *    serialization and conf-fallback seams a single-JVM `local[n]` never
  *    exercises), else `local[n]`;
  *  - `n` = `SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *  - `n` shuffle partitions, UI off.
  */
object GraftSession {

  private[graft] val engine: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "2097152",
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.cleaner.periodicGC.interval" -> "90s")

  /** The local geometry's settings; none when a launcher set the master. */
  private[graft] def geometry(launcherMaster: Option[String],
                              env: String => Option[String]): Seq[(String, String)] =
    if (launcherMaster.isDefined) Nil
    else {
      val n = env("SPARK_GRAFT_CPUS")
        .getOrElse(Runtime.getRuntime.availableProcessors.toString)
      Seq("spark.master" -> env("SPARK_GRAFT_MASTER").getOrElse(s"local[$n]"),
        "spark.sql.shuffle.partitions" -> n,
        "spark.ui.enabled" -> "false")
    }

  /** A builder carrying the profile; callers may layer settings on it. */
  def builder(appName: String): SparkSession.Builder = {
    val b = SparkSession.builder().appName(appName)
      .withExtensions(new functions.GraftExtensions)
    (engine ++ geometry(sys.props.get("spark.master"), sys.env.get))
      .foreach { case (k, v) => b.config(k, v) }
    b
  }
}
