package graft.jobs

import org.apache.spark.sql.SparkSession

/** Session bootstrap shared by the `graft.jobs` spark-submit mains.
  *
  * A session this creates carries the [[graft.GraftSession]] profile: under
  * spark-submit the master/deploy config comes from the launcher;
  * standalone (tests, bare `java -cp`) the profile's local geometry
  * applies. A joined host session is not reconfigured.
  * Ownership rules (review r6): a main must NOT stop a session it merely
  * joined (the test JVM shares one session across suites), a STOPPED
  * session must never be handed out (Spark's thread-local active-session
  * pointer can outlive its context — sequential mains in one JVM would
  * otherwise join a dead session), and nested acquisitions of a
  * JobSession-created session are reference-counted so an inner main's
  * release cannot stop an outer caller's live session.
  */
object JobSession {

  private var created: Option[SparkSession] = None
  private var refs = 0

  def get(appName: String): SparkSession = synchronized {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    existing match {
      case Some(s) =>
        if (created.contains(s)) refs += 1
        // A joined host session may have been built WITHOUT
        // GraftExtensions; register the graft function surface post-hoc
        // (idempotent) so a jobs main never fails UNRESOLVED_ROUTINE on
        // graft_dot midway through a multi-stage run (review r10).
        graft.functions.GraftExtensions.ensureFunctions(s)
        s
      case None =>
        val s = graft.GraftSession.builder(appName).getOrCreate()
        created = Some(s)
        refs = 1
        s
    }
  }

  def release(spark: SparkSession): Unit = synchronized {
    if (created.contains(spark)) {
      refs -= 1
      if (refs <= 0) { spark.stop(); created = None; refs = 0 }
    }
  }
}
