package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

/** The commit protocol of the stored indexes ([[MinhashIndex]],
  * [[IvfPqIndex]], the facade layouts of [[graft.api.GraftAPI]], the
  * streaming probes, and the registry's write-once layout tables), and
  * its filesystem seam. No other file spells a marker name.
  *
  * Markers. A table is committed when an empty marker file sits next to
  * it, and readers trust nothing else:
  *   - `_SUCCESS` ([[Table]]) in a table directory, where Spark's writer
  *     commits it, or at an index root, committed after every table
  *     under the root;
  *   - `_split_SUCCESS` ([[Split]]) at an IVF-PQ root, over
  *     `coarse_split` and `cells_split`.
  *
  * Writes. [[build]] retires the marker first and commits it last, so a
  * crash mid-write reads as uncommitted and [[ensure]] rebuilds from
  * scratch instead of serving a partial or mixed-generation table. An
  * in-place rewrite of a committed root runs under [[mutate]], which
  * holds the root marker retired for the whole rewrite. A side-table
  * that a root rewrite makes stale loses its marker through [[retire]],
  * and consumers fall back to the raw tables until it is rebuilt.
  * [[requireCommitted]] is the precondition every lifecycle op checks
  * before it mutates a root; the delta generations an append commits
  * are listed by [[committedGenerations]].
  *
  * All I/O goes through Hadoop's `FileSystem` for the path's scheme,
  * with the active session's `hadoopConfiguration` when there is one, so
  * the protocol holds on object-store roots (s3a://, hdfs://) with the
  * session's credentials and endpoints. The data plane goes through
  * Spark's own writers.
  */
private[graft] object IndexFs {

  /** One kind of commit marker: the name of its file. */
  final class Marker private[IndexFs] (private[IndexFs] val file: String)

  val Table = new Marker("_SUCCESS")
  val Split = new Marker("_split_SUCCESS")

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

  /** Is the table, root or side-table at `path` committed under `m`? */
  def committed(path: String, m: Marker = Table): Boolean =
    withFs(child(path, m.file))((fs, p) => fs.exists(p) && fs.getFileStatus(p).isFile)

  /** Drop `m` under `path` when it is there. */
  def retire(path: String, m: Marker = Table): Unit =
    if (committed(path, m)) require(withFs(child(path, m.file))((fs, p) => fs.delete(p, false)),
      s"could not retire ${m.file} under $path")

  private def commit(path: String, m: Marker): Unit =
    require(withFs(child(path, m.file))((fs, p) => fs.createNewFile(p) || fs.exists(p)),
      s"could not commit ${m.file} under $path")

  /** Commit-last build: retire `m`, write, then commit `m`. A body that
    * throws leaves `path` uncommitted. */
  def build(path: String, m: Marker = Table)(body: => Unit): Unit = {
    retire(path, m)
    body
    commit(path, m)
  }

  /** [[build]] when `path` is not committed under `m`. */
  def ensure(path: String, m: Marker = Table)(body: => Unit): Unit =
    if (!committed(path, m)) build(path, m)(body)

  /** Rewrite a root in place under its retired root marker, recommitted
    * after `body`; a crash mid-rewrite reads as an uncommitted index. A
    * root with no marker (a scratch layout) stays without one. Returns
    * what `body` returns. */
  def mutate[T](root: String)(body: => T): T = {
    val had = committed(root)
    retire(root)
    val out = body
    if (had) commit(root, Table)
    out
  }

  /** Refuse to mutate a root whose marker a crashed lifecycle op left
    * retired: the tables under it may be half rewritten. */
  def requireCommitted(root: String, remedy: String): Unit =
    require(committed(root),
      s"index at $root is not committed (a crashed lifecycle op?) — $remedy")

  /** The committed generation directories under `dir` (empty when
    * absent), in name order so a union over them is deterministic. */
  def committedGenerations(dir: String): Seq[String] = withFs(dir) { (fs, p) =>
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.toString).sorted.filter(committed(_))
  }

  /** Copy each existing table or file of `paths` into `root` under its
    * own name, replacing what is there. Call it only as the body of a
    * [[build]] of `root`, so the copies commit with the root marker. */
  def copy(paths: Seq[String], root: String): Unit = paths.foreach(src => withFs(src) { (fs, p) =>
    if (fs.exists(p)) {
      val to = new Path(root, p.getName)
      require(deleteRecursive(to.toString) &&
        org.apache.hadoop.fs.FileUtil.copy(fs, p, to.getFileSystem(conf), to, false, conf),
        s"could not copy $src into $root")
    }
  })

  /** Recursive delete of a retired index table (delta generations a
    * compact has folded in, or a rebuild drops). Only lifecycle code
    * inside [[mutate]] or [[build]] may call this. */
  def deleteRecursive(path: String): Boolean =
    withFs(path)((fs, p) => !fs.exists(p) || fs.delete(p, true))

  def parent(path: String): String = new Path(path).getParent.toString

  def child(root: String, name: String): String = new Path(root, name).toString

  def write(path: String)(body: java.io.OutputStream => Unit): Unit =
    withFs(path) { (fs, p) =>
      val out = fs.create(p, true)
      try body(out) finally out.close()
    }

  /** One-level fold of a table root (a directory or a single file): mtime
    * and length of the root, then name, mtime and length of its DIRECT
    * children in name order; None when the root does not exist. Any
    * Spark rewrite touches a direct child (a unique part-file name, a
    * partition directory, the commit marker, the root itself through
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
