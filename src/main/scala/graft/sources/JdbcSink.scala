package graft.sources

import java.sql.{Connection, DriverManager}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Live relational sink surface (SURVEY.md §2 K3/K4/K5) — the Spark
  * equivalent of the reference's JDBC append
  * (/root/reference/dags/bigbookapi.py:165-177: pandas `to_sql` append into
  * Postgres after a CREATE-TABLE pre-action) and its staged warehouse load
  * (/root/reference/dags/db_to_snowflake.py:94-112: PUT to stage + `COPY
  * INTO`, i.e. bulk-load a staging area then one transactional publish).
  *
  * Spark-first shape: the data plane is `df.write.format("jdbc")` — every
  * executor opens its own connection and streams its partitions with JDBC
  * batch inserts, so the load parallelizes with the data (no driver-side
  * collect). The control plane (DDL-ensure, staged publish) is a driver-side
  * connection running a few statements — O(1) work, exactly like the
  * reference's hook.run(CREATE TABLE)/COPY INTO calls.
  *
  * 100 TB posture: a JDBC target is a throughput mismatch for raw-corpus
  * scale — this sink is for AGGREGATED results (the reference loads a
  * 25-row books table). `numPartitions` caps the connection fan-in so a
  * 1000-executor write cannot open 1000 connections against one database;
  * the staged-copy path keeps the target table transactionally consistent
  * (readers never see a half-load) at the cost of one extra server-side
  * copy, which is the same trade the reference's Snowflake stage makes.
  *
  * The harness has no network, so specs/queries run against the EMBEDDED
  * Derby engine shipped with Spark (jdbc:derby:<path>) — same
  * `format("jdbc")` code path and batching as a remote server. The
  * statements that genuinely differ per target (DDL column types — the
  * reference's `authors TEXT[]`; existence-guarded CREATE/DROP; the
  * staged-publish column matching) come from the URL-scheme-selected
  * [[SinkDialect]] profile, so pointing at `jdbc:postgresql:`/
  * `jdbc:snowflake:` swaps those in without code changes.
  */
object JdbcSink {

  /** Embedded-Derby driver shipped in Spark's jars; callers targeting a
    * real server pass their own (e.g. org.postgresql.Driver). */
  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** Table/staging/ledger names are interpolated into DDL/DML strings
    * (JDBC has no identifier placeholders), so they are constrained to
    * plain or schema-qualified SQL identifiers — a non-constant name from
    * user input cannot smuggle SQL into the statement (ADVICE r5).
    * Quoted/exotic identifiers are deliberately out of scope; pass plain
    * names. */
  private val IdentPattern = "[A-Za-z][A-Za-z0-9_]*(?:\\.[A-Za-z][A-Za-z0-9_]*)?".r

  private def ident(name: String): String =
    if (IdentPattern.matches(name)) name
    else throw new IllegalArgumentException(
      s"illegal SQL identifier '$name' (expected [A-Za-z][A-Za-z0-9_]* with optional schema qualifier)")

  /** Derby writes derby.log into user.dir unless told otherwise; keep the
    * repo clean. Idempotent. */
  private lazy val derbyHome: Unit = {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
  }

  private def withConnection[T](url: String, driver: String)(f: Connection => T): T = {
    derbyHome
    Class.forName(driver)
    val conn = DriverManager.getConnection(url)
    try f(conn)
    catch {
      case e: Throwable =>
        // Roll back any open transaction before close: closing a Derby
        // connection mid-transaction throws 25001 from the finally block,
        // which would REPLACE the real failure (e.g. the INSERT error in
        // stagedCopy / exactlyOnceBatchWriter) with a misleading close
        // error. Rollback failures are suppressed in favor of `e`.
        try if (!conn.getAutoCommit) conn.rollback()
        catch { case t: Throwable => e.addSuppressed(t) }
        throw e
    }
    finally conn.close()
  }

  /** DDL-list for a Spark schema in the dialect of `url` — the
    * schema-driven entry point to [[SinkDialect.columnsDdl]] (so a caller
    * writes `columnsDdlFor(df.schema, url)` instead of hand-writing
    * per-target types; the reference's `authors TEXT[]` mapping falls out
    * of the Postgres profile). */
  def columnsDdlFor(schema: org.apache.spark.sql.types.StructType,
                    url: String): String =
    SinkDialect.forUrl(url).columnsDdl(schema)

  /** K4 DDL-ensure pre-action: idempotent CREATE TABLE — the table
    * bootstrap every append pipeline needs before its first load
    * (reference: bigbookapi.py's CREATE TABLE IF NOT EXISTS hook call).
    * Statement and existence handling come from the URL's
    * [[SinkDialect]]: IF NOT EXISTS where the engine has it
    * (Postgres/Snowflake), an already-exists SQLState swallow where it
    * doesn't (Derby X0Y32). */
  def ensureTable(url: String, table: String, columnsDdl: String,
                  driver: String = DerbyDriver): Unit = {
    val d = SinkDialect.forUrl(url)
    withConnection(url, driver) { conn =>
      try conn.createStatement().executeUpdate(d.createTableSql(ident(table), columnsDdl))
      catch {
        case e: java.sql.SQLException
          if d.createExistsState.contains(e.getSQLState) => () // exists
      }
    }
  }

  /** Drop a table if present — the idempotent pre-action for
    * replace-style publishes and staging reuse. Dialect-routed like
    * [[ensureTable]] (IF EXISTS vs Derby's 42Y55 swallow). */
  def dropIfExists(url: String, table: String, driver: String = DerbyDriver): Unit = {
    val d = SinkDialect.forUrl(url)
    withConnection(url, driver) { conn =>
      try conn.createStatement().executeUpdate(d.dropTableSql(ident(table)))
      catch {
        case e: java.sql.SQLException
          if d.dropMissingState.contains(e.getSQLState) => ()
      }
    }
  }

  /** Ordered column list of an EXISTING table, from JDBC metadata — the
    * real target's shape, which the by-name publish must match against
    * (review r7: matching the frame's own columns against themselves made
    * the Snowflake profile's case-insensitive matching vacuous on any
    * pre-existing target). Identifier case is normalized per the driver's
    * declared folding (Derby folds unquoted names upper; quoted column
    * names come back as stored). Empty ⇒ table absent. */
  private[graft] def tableColumns(conn: Connection, table: String): Seq[String] = {
    val md = conn.getMetaData
    val parts = table.split("\\.")
    // Unqualified names resolve against the CONNECTION's current schema,
    // never a null match-all (review r7: null schema merges same-named
    // tables from every schema into one bogus column list).
    val (schema, name) =
      if (parts.length == 2) (parts(0), parts(1))
      else (conn.getSchema, parts.head)
    def norm(s: String): String =
      if (s == null) null
      else if (md.storesUpperCaseIdentifiers) s.toUpperCase
      else if (md.storesLowerCaseIdentifiers) s.toLowerCase
      else s
    // getColumns treats its args as LIKE patterns: '_' (present in nearly
    // every table name here) is a single-char wildcard — escape it, or
    // "t_data" also matches "t1data" and the column lists interleave.
    val esc = md.getSearchStringEscape
    def lit(s: String): String =
      if (s == null) null
      else s.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    val rs = md.getColumns(null, lit(norm(schema)), lit(norm(name)), null)
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (rs.next())
        buf += ((rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
      buf.sortBy(_._1).map(_._2).toSeq
    } finally rs.close()
  }

  /** K3 append sink: distributed JDBC batch-insert append. `numPartitions`
    * bounds connection fan-in from the cluster side. */
  def append(df: DataFrame, url: String, table: String,
             numPartitions: Int = 4, driver: String = DerbyDriver): Unit = {
    SinkDialect.registerDialects
    df.write.format("jdbc")
      .option("url", url)
      // ident() like every other entry point (review r10): Spark's JDBC
      // writer interpolates dbtable raw into its probe/CREATE/INSERT
      // statements — the same statement-smuggling surface the ADVICE-r5
      // invariant closes for ensureTable/dropIfExists.
      .option("dbtable", ident(table))
      .option("driver", driver)
      .option("numPartitions", numPartitions)
      .option("batchsize", 1000)
      .mode(SaveMode.Append)
      .save()
  }

  /** K5 staged bulk-copy publish: load into a staging table (distributed
    * append), then one transactional server-side
    * `INSERT INTO target SELECT * FROM staging` + drop — readers of
    * `target` see the whole load or none of it, the `COPY INTO` pattern
    * without a warehouse. The staging table is recreated per call (drop +
    * ensure), so a failed previous load can never leak rows into the next
    * publish. */
  def stagedCopy(df: DataFrame, url: String, target: String, staging: String,
                 columnsDdl: String, numPartitions: Int = 4,
                 driver: String = DerbyDriver): Unit = {
    val d = SinkDialect.forUrl(url)
    dropIfExists(url, staging, driver)
    ensureTable(url, staging, columnsDdl, driver)
    ensureTable(url, target, columnsDdl, driver)
    append(df, url, staging, numPartitions, driver)
    withConnection(url, driver) { conn =>
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      // Publish statement is dialect-shaped: positional SELECT * on
      // Derby/Postgres, case-insensitive by-name column matching on the
      // Snowflake profile (its MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE
      // analogue). Staging was created from this frame's DDL, so its
      // column list is the frame's; for by-name profiles the TARGET's
      // list comes from live JDBC metadata (the pre-existing table may
      // be differently cased or wider than the frame — the exact
      // situation by-name matching exists for), frame columns as the
      // fallback if the driver returns nothing. Positional profiles
      // skip the metadata roundtrip entirely.
      val tgtCols =
        if (!d.publishByName) df.schema.fieldNames.toSeq
        else tableColumns(conn, target) match {
          case Seq() => df.schema.fieldNames.toSeq
          case cols  => cols
        }
      st.executeUpdate(d.publishSql(ident(target), ident(staging),
        tgtCols, df.schema.fieldNames.toSeq))
      st.executeUpdate(d.dropTableSql(ident(staging)))
      conn.commit()
    }
  }

  /** Exactly-once streaming publish: the BATCH-ID LEDGER recipe for
    * transactional sinks. Structured Streaming's `foreachBatch` re-runs a
    * batch after any failure between sink write and checkpoint commit —
    * a plain append would duplicate the replayed batch. Here the payload
    * publish and the ledger insert `(batch_id)` commit in ONE
    * transaction, so a replayed batch finds its id recorded and skips
    * entirely; a crash before that commit leaves only an orphan staging
    * table, which the next attempt drops. This is the transactional-DB
    * counterpart of [[graft.streaming.StreamingOps.idempotentBatchWriter]]
    * (which gets the same guarantee from partition overwrite).
    *
    * Usage: `ds.writeStream.foreachBatch(
    *   JdbcSink.exactlyOnceBatchWriter(url, "t_target", "t_ledger", ddl) _)`. */
  def exactlyOnceBatchWriter(url: String, target: String, ledger: String,
      columnsDdl: String, numPartitions: Int = 4, driver: String = DerbyDriver)
      (batch: DataFrame, batchId: Long): Unit = {
    ensureTable(url, target, columnsDdl, driver)
    ensureTable(url, ledger, """"batch_id" BIGINT PRIMARY KEY""", driver)
    val alreadyCommitted = withConnection(url, driver) { conn =>
      conn.createStatement()
        .executeQuery(s"""SELECT 1 FROM ${ident(ledger)} WHERE "batch_id" = $batchId""")
        .next()
    }
    if (!alreadyCommitted) {
      val staging = target + "_stg"
      val d = SinkDialect.forUrl(url)
      dropIfExists(url, staging, driver)
      ensureTable(url, staging, columnsDdl, driver)
      append(batch, url, staging, numPartitions, driver)
      withConnection(url, driver) { conn =>
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        // target columns from metadata only for by-name profiles, as in
        // stagedCopy — a per-micro-batch metadata roundtrip would be
        // waste for the positional SELECT * dialects
        val tgtCols =
          if (!d.publishByName) batch.schema.fieldNames.toSeq
          else tableColumns(conn, target) match {
            case Seq() => batch.schema.fieldNames.toSeq
            case cols  => cols
          }
        st.executeUpdate(d.publishSql(ident(target), ident(staging),
          tgtCols, batch.schema.fieldNames.toSeq))
        st.executeUpdate(s"""INSERT INTO ${ident(ledger)} VALUES ($batchId)""")
        st.executeUpdate(d.dropTableSql(ident(staging)))
        conn.commit()
      }
    }
  }

  /** Read a JDBC table back as a DataFrame (single-partition read — the
    * verification path; production reads would add partitionColumn bounds
    * to parallelize). */
  def read(s: SparkSession, url: String, table: String,
           driver: String = DerbyDriver): DataFrame = {
    derbyHome
    val props = new Properties()
    props.setProperty("driver", driver)
    s.read.jdbc(url, table, props)
  }

  /** Driver-LOCAL batch insert — the seeding path for an embedded
    * database that executor JVMs will later read ([[packageDb]]): the
    * distributed [[append]] writer would boot the embedded engine from
    * every executor JVM and fail XSDB6 from the second one on a
    * multi-JVM master, and an embedded SEED is setup anyway, not the
    * measured product. Bounded memory via `toLocalIterator` (one
    * partition resident at a time), one transaction per 1000-row batch. */
  def seedLocal(df: DataFrame, url: String, table: String,
                driver: String = DerbyDriver): Unit = {
    val cols = df.schema.fieldNames
    val sql = s"INSERT INTO ${ident(table)} VALUES (${cols.map(_ => "?").mkString(",")})"
    withConnection(url, driver) { conn =>
      // Explicit transactions (review r12): withConnection leaves
      // auto-commit ON, under which Derby commits every INSERT
      // individually (per-row log sync) and spec-compliant drivers
      // (Postgres) THROW on the manual commit() below.
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      var n = 0
      df.toLocalIterator().forEachRemaining { row =>
        cols.indices.foreach(i => ps.setObject(i + 1, row.get(i)))
        ps.addBatch()
        n += 1
        if (n % 1000 == 0) { ps.executeBatch(); conn.commit() }
      }
      ps.executeBatch(); conn.commit(); ps.close()
    }
  }

  /** CREATE INDEX on one column — the seed-side analogue of the source
    * database's primary-key index, which is what makes a
    * `partitionColumn`-bounded fan-out query a range scan instead of N
    * full scans. */
  def createIndex(url: String, table: String, column: String,
                  driver: String = DerbyDriver): Unit =
    withConnection(url, driver) { conn =>
      // auto-commit DDL, the ensureTable/dropIfExists house style. The
      // COLUMN is double-quoted (after the same identifier validation):
      // the sink DDLs declare quoted lowercase column names, and an
      // unquoted reference would fold to uppercase and miss them.
      conn.createStatement().executeUpdate(
        s"CREATE INDEX ${ident(s"${table}_${column}_ix")} ON " +
          s"""${ident(table)} ("${ident(column)}")""")
      ()
    }

  /** Shut down ONE embedded Derby database (not the whole engine),
    * releasing its boot and db.lck. Derby signals a successful shutdown
    * with SQLException 08006 — swallowed here; anything else rethrows. */
  def shutdownDb(url: String): Unit = {
    derbyHome
    val plain = url.replaceAll(";create=true", "")
    try {
      java.sql.DriverManager.getConnection(s"$plain;shutdown=true")
      ()
    } catch {
      case e: java.sql.SQLException if e.getSQLState == "08006" => ()
    }
  }

  /** Package a SHUT-DOWN embedded database directory into a jar archive
    * — Derby's documented read-only "database in a jar" deployment
    * (`jdbc:derby:jar:(archive)name`): a jar-subprotocol boot takes no
    * db.lck and is concurrently bootable from ANY number of JVMs, which
    * is what lets a multi-executor cluster fan partition readers out
    * over one seeded embedded database (a read-write embedded boot is
    * exclusive per JVM — XSDB6 from the second JVM on; a chmod-based
    * read-only mark is bypassed when the process runs as root). Call
    * [[shutdownDb]] first so no lock files are live. */
  def packageDb(dbDir: java.io.File, jar: java.io.File,
                name: String = "db"): Unit = {
    val out = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(jar)))
    def walk(f: java.io.File, prefix: String): Unit =
      Option(f.listFiles).getOrElse(Array.empty).foreach { c =>
        val entry = s"$prefix/${c.getName}"
        if (c.isDirectory) walk(c, entry)
        else if (!c.getName.endsWith(".lck")) {
          // STORED, not DEFLATED (review r12, measured): Derby's page
          // reads against a compressed archive decompress on every
          // access, and a 4-way bounded-query scan of a 150k-row table
          // ran ~30 s; uncompressed entries read at raw-page speed.
          // STORED requires size+crc up front — the files are Derby
          // pages, small enough to buffer.
          val bytes = java.nio.file.Files.readAllBytes(c.toPath)
          val ze = new java.util.zip.ZipEntry(entry)
          ze.setMethod(java.util.zip.ZipEntry.STORED)
          ze.setSize(bytes.length.toLong)
          val crc = new java.util.zip.CRC32
          crc.update(bytes)
          ze.setCrc(crc.getValue)
          out.putNextEntry(ze)
          out.write(bytes)
          out.closeEntry()
        }
      }
    try walk(dbDir, name) finally out.close()
  }

  /** The jar-subprotocol URL for a database packaged by [[packageDb]]. */
  def jarDbUrl(jar: java.io.File, name: String = "db"): String =
    s"jdbc:derby:jar:(${jar.getAbsolutePath})$name"

  /** Range-partitioned JDBC read — the production fan-out: Spark splits
    * [lowerBound, upperBound] on `partitionColumn` into `numPartitions`
    * disjoint bounded queries, one per task, so N executors drain the
    * table over N concurrent connections instead of serializing through
    * one. Bounds only steer the SPLIT (rows outside them still arrive,
    * in the unbounded edge partitions — Spark's documented contract);
    * pass the true min/max so the stride is even.
    *
    * ASSUMES a near-UNIFORM key distribution (ADVICE r12): the stride is
    * `(upper - lower) / numPartitions` of KEY SPACE, so a skewed key — a
    * real `books.id` after years of deletes/backfills — lands most ROWS
    * in one partition and the fan-out degrades to a serial read with
    * idle peers. For skewed keys use [[readByQuantiles]], which seeds
    * the split points from the table's own rank statistics. */
  def readPartitioned(s: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long,
                      upperBound: Long, numPartitions: Int,
                      driver: String = DerbyDriver): DataFrame = {
    derbyHome
    // ident()-validated like append's table name (ADVICE r12): dbtable
    // and partitionColumn are both interpolated into the generated
    // partition queries server-side, so they are the same
    // statement-smuggling surface the write path already closed.
    s.read.format("jdbc")
      .option("url", url)
      .option("driver", driver)
      .option("dbtable", ident(table))
      .option("partitionColumn", ident(partitionColumn))
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .load()
  }

  /** SKEW-SAFE partitioned JDBC read (VERDICT r12 #4): the fan-out's
    * split points come from the table's own RANK statistics instead of a
    * uniform key-space stride, so each of the `numPartitions` concurrent
    * bounded queries carries ~rowcount/numPartitions ROWS no matter how
    * the keys are distributed (a uniform stride over a 90/10-skewed key
    * serializes 90% of the table through one reader). Seeding costs one
    * COUNT plus `numPartitions - 1` single-row rank probes (`ORDER BY
    * key OFFSET k FETCH FIRST 1 ROWS ONLY` — an indexed key makes each a
    * range-scan seek, the same index the bounded queries themselves
    * need); against a real warehouse the same cut points usually come
    * free from catalog histograms. NULL keys ride the first predicate,
    * so the read is lossless (JdbcSinkSpec pins totals and per-partition
    * balance on a planted 90/10 table). Duplicate cut points (heavy
    * single key) collapse — fewer, still-disjoint partitions rather than
    * overlapping reads. */
  def readByQuantiles(s: SparkSession, url: String, table: String,
                      column: String, numPartitions: Int,
                      driver: String = DerbyDriver): DataFrame = {
    derbyHome
    require(numPartitions >= 1, s"numPartitions must be >= 1: $numPartitions")
    val t = ident(table)
    val c = ident(column)
    val cuts = withConnection(url, driver) { conn =>
      val st = conn.createStatement()
      val cnt = st.executeQuery(s"SELECT COUNT(*) FROM $t")
      cnt.next()
      val n = cnt.getLong(1)
      (1 until numPartitions).flatMap { i =>
        val k = i * n / numPartitions
        val rs = st.executeQuery(
          s"""SELECT "$c" FROM $t ORDER BY "$c" """ +
            s"OFFSET $k ROWS FETCH FIRST 1 ROWS ONLY")
        // A rank probe past the end returns an empty result set — an
        // EMPTY table (n = 0, every k = 0), or rows deleted between the
        // COUNT and the probe (review r13). Dropping the cut degrades to
        // fewer, still-disjoint partitions — the same collapse rule as
        // duplicate cut points — instead of an 'invalid cursor state'
        // crash where readPartitioned returns an empty frame.
        if (rs.next()) Some(rs.getLong(1)) else None
      }.distinct.sorted
    }
    val preds: Array[String] =
      if (cuts.isEmpty) Array("1=1")
      else {
        val first = s""""$c" < ${cuts.head} OR "$c" IS NULL"""
        val mids = cuts.sliding(2).collect { case Seq(a, b) =>
          s""""$c" >= $a AND "$c" < $b""" }.toSeq
        val last = s""""$c" >= ${cuts.last}"""
        (first +: mids :+ last).toArray
      }
    val props = new Properties()
    props.setProperty("driver", driver)
    s.read.jdbc(url, t, preds, props)
  }
}
