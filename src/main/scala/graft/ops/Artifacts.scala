package graft.ops

/** Shared root/fingerprint scheme for persisted index artifacts
  * ([[IvfPqIndex]], [[MinhashIndex]]): the artifact root is keyed by a
  * fingerprint of the SOURCE table's files, so a regenerated corpus
  * invalidates the stored index automatically and two SFs never collide.
  * Bump the version tag when an artifact's recipe changes.
  *
  * At 100 TB the same idea is a catalog property (source table snapshot id
  * → index table) rather than an mtime fold; the local form keeps the
  * build-once / probe-many contract testable in this harness.
  */
private[graft] object Artifacts {

  /** One index family's inputs to the hot-shard audit
    * ([[graft.jobs.Maintenance.audit]]): the resolved shard-key rows (one
    * per posting or vector, base ∪ delta), the shard keys the delta
    * touched, the hot-shard size, and the shard keys the family's remedy
    * side-table covers. The shard key is `touched`'s columns. */
  final case class AuditInputs(shards: org.apache.spark.sql.DataFrame,
                               touched: org.apache.spark.sql.DataFrame, hotSize: Long,
                               covered: org.apache.spark.sql.DataFrame)

  /** Write the index geometry manifest (`<root>/index.properties`) next
    * to the artifact tables. Probes and appends validate against it via
    * [[requireGeometry]] instead of trusting their caller's parameters —
    * a probe against an index built with different banding/quantizer
    * geometry would return silently wrong results, which is strictly
    * worse than the loud mismatch this turns it into. At 100 TB these
    * are table properties in the catalog; the local properties file
    * keeps the contract testable in this harness. */
  private[graft] def writeMeta(root: String, kv: (String, String)*): Unit = {
    val p = new java.util.Properties()
    kv.foreach { case (k, v) => p.setProperty(k, v) }
    // IndexFs, not FileWriter (review r10): the facades pass user table
    // paths, which may be object-store URIs — the manifest must land
    // next to the tables on whatever filesystem holds them.
    IndexFs.write(metaFile(root))(out =>
      p.store(out, "graft index geometry"))
  }

  /** The geometry manifest's path under an index root. */
  private[graft] def metaFile(root: String): String = IndexFs.child(root, "index.properties")

  /** A private copy, at `tag`'s root for `dir`, of the committed index
    * `src`: its `tables` and geometry manifest. A registry key that
    * mutates an index in place runs on such a copy, so the shared roots
    * every other key reads stay as built. Copied once, under the copy's
    * root marker ([[IndexFs.copy]] inside [[IndexFs.ensure]]); from then
    * on the key finds its own earlier mutation. Returns the copy's root. */
  private[ops] def ensureCopy(src: String, tables: Seq[String], tag: String,
                              dir: String, table: String): String = {
    val copy = root(tag, dir, table)
    IndexFs.ensure(copy)(IndexFs.copy(tables :+ metaFile(src), copy))
    copy
  }

  /** Read the manifest; empty when absent (pre-manifest artifacts stay
    * readable — the guard only fires on a RECORDED mismatch). */
  private[graft] def readMeta(root: String): Map[String, String] =
    IndexFs.readIfExists(metaFile(root)) { in =>
      val p = new java.util.Properties()
      p.load(in)
      import scala.jdk.CollectionConverters._
      p.stringPropertyNames().asScala.map(k => k -> p.getProperty(k)).toMap
    }.getOrElse(Map.empty)

  /** Loud geometry check: every expected key that IS recorded in the
    * manifest must match exactly. */
  private[graft] def requireGeometry(root: String,
                                     expected: (String, String)*): Unit = {
    val meta = readMeta(root)
    expected.foreach { case (k, v) =>
      meta.get(k).foreach(stored => require(stored == v,
        s"index at $root was built with $k=$stored but the probe expects " +
          s"$k=$v — rebuild the index or match its parameters"))
    }
  }

  /** Recursive local delete, shared by the bucketed-table GC and the
    * crash-window specs (review r11 — was copy-pasted three times). */
  private[graft] def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete(); ()
  }

  /** [[IndexFs.shallowStamp]] of a table root (0 when absent) — the cheap
    * memo key for [[fingerprint]]: the deep walk re-runs exactly when a
    * direct child changed. */
  private[graft] def shallowStamp(dir: String, table: String): Long =
    IndexFs.shallowStamp(s"$dir/$table").getOrElse(0L)

  /** Fold (name, mtime, length) over the source file (or every file under
    * it when it's a directory, in name order). */
  private[graft] def fingerprint(dir: String, table: String): Long = {
    def fold(f: java.io.File): Long =
      if (f.isDirectory)
        f.listFiles().sortBy(_.getName).foldLeft(17L)((a, c) => a * 31 + fold(c))
      else f.getName.hashCode.toLong * 31 + f.lastModified * 7 + f.length
    fold(new java.io.File(s"$dir/$table"))
  }

  /** `/tmp/graft_<tag>_<sf-digits>`: the one spelling of the engine's
    * local scratch paths (index roots and the sink round-trips). Kept
    * byte-stable: existing index roots and `/tmp/graft_*` cleanup rely on
    * it. */
  private[graft] def scratch(tag: String, dir: String): String =
    s"/tmp/graft_${tag}_${dir.replaceAll("[^0-9.]", "")}"

  /** `/tmp/graft_<tag>_<sf-digits>_<fingerprint-hex>` — same scheme the
    * round-7 ANN index introduced (kept byte-compatible for `annix_v1`). */
  def root(tag: String, dir: String, table: String): String =
    scratch(tag, dir) + "_" + java.lang.Long.toHexString(fingerprint(dir, table))
}
