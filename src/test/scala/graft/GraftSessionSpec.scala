package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session profile: the test session runs the engine settings that
  * Bench, Verify and the shipped jobs run, and a launcher keeps the master
  * and the parallelism it set. */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session runs every engine setting of the profile") {
    val spark = TestSpark.spark
    Seq("spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "2097152",
        "spark.sql.codegen.cache.maxEntries" -> "4000",
        "spark.cleaner.periodicGC.interval" -> "90s")
      .foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.catalog.functionExists("graft_dot"), "GraftExtensions not installed")
  }

  test("launcher mode contributes no master and no shuffle-partition entry") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]",
      "SPARK_GRAFT_CPUS" -> "3").get _
    val owned = Set("spark.master", "spark.sql.shuffle.partitions")
    assert(GraftSession.geometry(Some("yarn"), env).isEmpty)
    assert(!GraftSession.engine.exists(kv => owned(kv._1)))
    // without a launcher the env picks the geometry, else the JVM's processors
    assert(GraftSession.geometry(None, env).toMap == Map(
      "spark.master" -> "local-cluster[2,1,1024]",
      "spark.sql.shuffle.partitions" -> "3", "spark.ui.enabled" -> "false"))
    val n = Runtime.getRuntime.availableProcessors.toString
    assert(GraftSession.geometry(None, _ => None).toMap == Map(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n, "spark.ui.enabled" -> "false"))
  }
}
