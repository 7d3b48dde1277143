package graft

import org.apache.spark.sql.SparkSession

/** One shared session for every suite, on the [[GraftSession]] profile
  * that Bench, Verify and the shipped jobs run. SPARK_GRAFT_MASTER lets a
  * suite run on local-cluster[n,c,m] — the multi-JVM seam check (executors
  * then need the compiled classes: pass
  * -Dspark.executor.extraClassPath=target/scala-2.13/{classes,test-classes}
  * and SPARK_HOME/SPARK_SCALA_VERSION). Never stopped — sbt forks a fresh
  * JVM per test run. */
object TestSpark {
  val Sf0001 = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession.builder("graft-test").getOrCreate()
}
