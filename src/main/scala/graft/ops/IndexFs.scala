package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** Filesystem seam for the index MARKER/MANIFEST plane (review r10): the
  * public facades ([[graft.api.GraftAPI.writeMinhashIndex]], the delete
  * legs, `buildAnnIndex`) accept arbitrary table paths, and
  * `java.io.File` silently no-ops or throws on object-store URIs
  * (s3a://, hdfs://) — exactly the 100 TB deployments the
  * marker-commits-last crash-safety rules exist for. All marker and
  * geometry-manifest I/O resolves through Hadoop's `FileSystem` for the
  * path's scheme, using the active session's `hadoopConfiguration` when
  * one exists (so credentials/endpoints configured on the session
  * apply); plain local paths keep byte-identical behavior with the old
  * `java.io.File` form. The DATA plane always went through Spark's own
  * writers and needed no change. Registry-internal scratch layouts
  * under `/tmp` (Artifacts.root) are local by construction and stay on
  * `java.io.File`.
  */
private[graft] object IndexFs {

  // getActiveSession is THREAD-LOCAL (ADVICE r10): marker I/O issued from
  // a helper thread that never touched the session would silently fall
  // back to a bare Configuration without the session's object-store
  // credentials/endpoints — fall through the process-wide default
  // session before giving up.
  private def conf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def withFs[T](path: String)(f: (FileSystem, Path) => T): T = {
    val p = new Path(path)
    f(p.getFileSystem(conf), p)
  }

  def isFile(path: String): Boolean = withFs(path)((fs, p) =>
    fs.exists(p) && fs.getFileStatus(p).isFile)

  /** Create an empty file; true if the file exists afterwards (matches
    * the old `createNewFile() || isFile` commit idiom). */
  def touch(path: String): Boolean = withFs(path)((fs, p) =>
    fs.createNewFile(p) || fs.exists(p))

  def delete(path: String): Boolean = withFs(path)((fs, p) => fs.delete(p, false))

  /** Recursive delete of a retired index SIBLING (delta generations a
    * compact has folded in). Only lifecycle code that has already
    * retired the root commit marker may call this. */
  def deleteRecursive(path: String): Boolean =
    withFs(path)((fs, p) => !fs.exists(p) || fs.delete(p, true))

  def parent(path: String): String = new Path(path).getParent.toString

  def child(root: String, name: String): String = new Path(root, name).toString

  def write(path: String)(body: java.io.OutputStream => Unit): Unit =
    withFs(path) { (fs, p) =>
      val out = fs.create(p, true)
      try body(out) finally out.close()
    }

  /** Child DIRECTORIES of `path` (empty when absent) — the delta-batch
    * listing the facade probe-root resolver uses; sorted by name so the
    * resolved union is deterministic. */
  def listDirs(path: String): Seq[String] = withFs(path) { (fs, p) =>
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.toString).sorted
  }

  /** One-level fold of a table root (a directory or a single file): mtime
    * and length of the root, then name, mtime and length of its DIRECT
    * children in name order; None when the root does not exist. Any
    * Spark rewrite touches a direct child (a unique part-file name, a
    * partition directory, `_SUCCESS`, the root itself through
    * `_temporary`), so an unchanged stamp means an unchanged file set.
    * Local paths fold nanosecond mtimes (at millisecond granularity a
    * same-millisecond regeneration with identical child names and sizes
    * would keep its stamp); other schemes fold the store's `FileStatus`
    * mtime, the resolution it records. */
  def shallowStamp(path: String): Option[Long] = withFs(path) { (fs, p) =>
    def fold(mtime: Long, len: Long, kids: Seq[(String, Long, Long)]): Long =
      kids.foldLeft((mtime * 31 + len) * 31 + kids.length)((a, c) =>
        a * 31 + c._1.hashCode.toLong + c._2 * 7 + c._3)
    if (fs.getScheme == "file") {
      def ns(f: java.io.File): Long =
        try java.nio.file.Files.getLastModifiedTime(f.toPath)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)
        catch { case _: java.io.IOException => f.lastModified }
      val root = new java.io.File(p.toUri.getPath)
      if (!root.exists) None
      else Some(fold(ns(root), root.length, Option(root.listFiles).getOrElse(Array.empty)
        .toSeq.sortBy(_.getName).map(c => (c.getName, ns(c), c.length))))
    } else if (!fs.exists(p)) None
    else {
      val st = fs.getFileStatus(p)
      val kids = if (st.isDirectory) fs.listStatus(p).toSeq else Seq.empty
      Some(fold(st.getModificationTime, st.getLen, kids.sortBy(_.getPath.getName)
        .map(c => (c.getPath.getName, c.getModificationTime, c.getLen))))
    }
  }

  def readIfExists[T](path: String)(body: java.io.InputStream => T): Option[T] =
    withFs(path) { (fs, p) =>
      if (!fs.exists(p)) None
      else { val in = fs.open(p); try Some(body(in)) finally in.close() }
    }
}
