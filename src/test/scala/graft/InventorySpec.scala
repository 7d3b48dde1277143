package graft

import org.scalatest.funsuite.AnyFunSuite

/** Harness-contract guards: the driver's correctness gate only checks what
  * is DECLARED, so declaration drift (a query without an oracle, an orphan
  * oracle, a broken flagship) silently weakens the gate. This spec makes
  * drift a test failure instead. */
class InventorySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Queries intentionally without a DuckDB oracle (rows-only check). Keep
    * this list SHORT and justified. Empty since r6: the four sketch ops
    * now ship in calibration-audit form — exact values + an in-query
    * tolerance bit the oracle asserts `true` — so every declared query is
    * fully hash-verified. */
  private val rowsOnly = Set.empty[String]

  test("every declared query has an oracle or a documented rows-only waiver") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle or waiver: $missing")
  }

  test("no orphan oracles (oracle for a query that doesn't exist)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"orphan oracle entries: $orphans")
  }

  test("rows-only waivers are still real queries") {
    assert((rowsOnly -- SparkEntry.queries.keySet).isEmpty)
  }

  test("flagship entry returns rows (driver t1 smoke parity)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("SURVEY.md §2 and the registry agree: no broken promises, no undocumented ops") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), java.nio.charset.StandardCharsets.UTF_8)
    // every ✅-marked key in the coverage table must be a real registry query
    val promised = "`([a-z0-9_]+)` ✅".r.findAllMatchIn(survey).map(_.group(1)).toSet
    val broken = promised -- SparkEntry.queries.keySet
    assert(broken.isEmpty, s"SURVEY promises queries the registry lacks: $broken")
    // every registry key must be documented somewhere in SURVEY (table or prose)
    val undocumented = SparkEntry.queries.keySet.filterNot(k => survey.contains(s"`$k`"))
    assert(undocumented.isEmpty, s"registry queries missing from SURVEY.md: $undocumented")
  }

  test("every oracle ends in a total ORDER BY or is a single-row aggregate") {
    // hash-compare is order-sensitive; an oracle without ORDER BY must be
    // a 1-row aggregate (count_star / scan_rest_pages shapes).
    val noOrder = SparkEntry.oracleSql.filterNot(_._2.toUpperCase.contains("ORDER BY"))
    val allowed = Set("count_star", "scan_rest_pages", "sql_forecast_revenue",
      "pipeline_observe", "ann_index_stats") // single-row metrics records
    assert((noOrder.keySet -- allowed).isEmpty,
      s"oracles missing ORDER BY: ${noOrder.keySet -- allowed}")
  }

  /** True when `code` (whitespace removed) holds a batch parquet read: a
    * `.read` call chain (`readStream` is a different name) that reaches
    * `.parquet(` or `.format("parquet")`. Arguments are skipped with
    * their parentheses balanced, so `.schema(f(x)).parquet(` is caught. */
  private def batchParquetRead(code: String): Boolean = {
    val call = "\\.\\w+\\(".r
    def close(open: Int): Int = { // index after the ')' matching code(open)
      var (depth, j) = (0, open)
      do {
        code(j) match { case '(' => depth += 1; case ')' => depth -= 1; case _ => }
        j += 1
      } while (depth > 0 && j < code.length)
      j
    }
    def chain(at: Int): List[String] = // the calls of a chain, e.g. ".schema(x)"
      call.findPrefixMatchOf(code.substring(at)) match {
        case Some(c) => val end = close(at + c.end - 1); code.substring(at, end) :: chain(end)
        case None    => Nil
      }
    "\\.read(?=\\.)".r.findAllMatchIn(code).exists(m => chain(m.end).exists(c =>
      c.startsWith(".parquet(") || c == ".format(\"parquet\")"))
  }

  test("Tables.read is the only batch parquet reader under src/main/scala") {
    // the detector itself: what it must and must not flag
    Seq("s.read.parquet(p)", "spark.read.schema(f(x)).option(\"a\",\"b\").parquet(p)",
        "s.read.format(\"parquet\").load(p)")
      .foreach(c => assert(batchParquetRead(c), c))
    Seq("s.readStream.schema(x).parquet(p)", "df.write.parquet(p)", "s.read.json(p)",
        "s.read.text(p).select(x).write.parquet(q)")
      .foreach(c => assert(!batchParquetRead(c), c))
    val offenders = mainSources
      .filter { case (f, code) => !f.endsWith("/Tables.scala") && batchParquetRead(code) }
      .map(_._1)
    assert(offenders.isEmpty, s"batch parquet reads outside Tables.read: $offenders")
  }

  /** Source text with block and whole-line comments removed and all
    * whitespace squeezed out, so a lint matches code only. */
  private def codeOnly(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?m)^\\s*//.*$", "")
      .replaceAll("\\s+", "")

  /** (path, [[codeOnly]] text, or the whole text with `comments`) of
    * every Scala file under `root`. */
  private def sourcesUnder(root: String, comments: Boolean = false): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
        f.toString -> (if (comments) src else codeOnly(src))
      }
      .toSeq
  }

  private lazy val mainSources = sourcesUnder("src/main/scala")

  /** Files whose code (comments excluded) contains `recipe`. */
  private def filesWith(recipe: String, sources: Seq[(String, String)]): Seq[String] = {
    val needle = recipe.replaceAll("\\s+", "")
    sources.collect { case (f, code) if code.contains(needle) => f }
  }

  test("the dedup recipes live in one file each: shingle tokenizer, MinHash signer") {
    val recipes = Seq("posexplode(split(lower(", "min(col(\"a\") + lit(")
    // the detector itself: a second copy in code is caught, a comment is not
    val copy = "df.select(col(id), posexplode(split(lower(col(text)), \" \")))"
    val twoCopies = Seq("A.scala" -> codeOnly(copy), "B.scala" -> codeOnly(s"val x =\n  $copy"))
    assert(filesWith(recipes.head, twoCopies) == Seq("A.scala", "B.scala"))
    val commented = Seq("A.scala" -> codeOnly(copy),
      "B.scala" -> codeOnly(s"/** was $copy */\n// $copy\nval y = 1"))
    assert(filesWith(recipes.head, commented) == Seq("A.scala"))
    recipes.foreach { r =>
      val hits = filesWith(r, mainSources)
      assert(hits.size == 1, s"recipe `$r` must live in exactly one file, found in: $hits")
    }
  }

  test("scratch paths are spelled only in Artifacts: \"/tmp/graft_ outside comments") {
    val needle = "\"/tmp/graft_"
    // the detector itself: a path in code is caught, one in a comment is not
    val controls = Seq("A.scala" -> codeOnly("val p = s\"/tmp/graft_x_$d\""),
      "B.scala" -> codeOnly("/** under \"/tmp/graft_x\" */\n// \"/tmp/graft_y\"\nval q = 1"))
    assert(filesWith(needle, controls) == Seq("A.scala"))
    val hits = filesWith(needle, mainSources)
    assert(hits.map(java.nio.file.Paths.get(_).getFileName.toString) == Seq("Artifacts.scala"),
      s"scratch paths must go through Artifacts.scratch, spelled in: $hits")
  }

  test("IndexFs holds the commit protocol: marker names are spelled only in IndexFs.scala") {
    val markers = Seq("\"_SUCCESS\"", "\"_fine_SUCCESS\"", "\"_split_SUCCESS\"")
    // the detector itself: a marker in code is caught, one in a comment is not
    val controls = Seq("A.scala" -> codeOnly("new java.io.File(root, \"_fine_SUCCESS\").isFile"),
      "B.scala" -> codeOnly("/** the \"_SUCCESS\" marker */\n// \"_split_SUCCESS\"\nval r = 1"))
    assert(markers.flatMap(filesWith(_, controls)).distinct == Seq("A.scala"))
    val hits = markers.flatMap(filesWith(_, mainSources)).distinct
    assert(hits.map(java.nio.file.Paths.get(_).getFileName.toString) == Seq("IndexFs.scala"),
      s"commit markers must go through IndexFs, spelled in: ${hits.sorted}")
  }

  test("the streaming face holds no ANN recipe: it calls the batch cores in graft.ops") {
    val recipes = Seq("assignCells", "kmeansCentroids", "SplitProbes", "posexplode(", "row_number(")
    // the detector itself: recipes in code are caught, ones in comments are not
    val controls = Seq(
      "A.scala" -> codeOnly("val c = VectorOps.assignCells(q, coarse)\n  .withColumn(\"rn\", row_number().over(w))"),
      "B.scala" -> codeOnly("/** VectorOps.kmeansCentroids, SplitProbes */\n// posexplode(x)\nval z = 1"))
    assert(recipes.map(filesWith(_, controls)) ==
      Seq(Seq("A.scala"), Nil, Nil, Nil, Seq("A.scala")))
    val hits = recipes.flatMap(r =>
      filesWith(r, sourcesUnder("src/main/scala/graft/streaming")).map(f => s"$f spells $r"))
    assert(hits.isEmpty, s"streaming code must call the graft.ops cores, not copy them: $hits")
  }

  test("one IVF-PQ lifecycle: long-form training only in VectorOps, the delta path only in IvfPqIndex, no compact sibling") {
    def names(files: Seq[String]) =
      files.map(java.nio.file.Paths.get(_).getFileName.toString).distinct.sorted
    val trainers = Seq("kmeansCentroidsLong(", "assignCellsLong(")
    // the detector itself: calls and path literals in code are caught,
    // ones in comments are not; the sibling name is caught in comments too
    val controls = Seq(
      "A.scala" -> codeOnly("VectorOps.assignCellsLong(long, books)\n" +
        "  .write.parquet(s\"$root/ivfpq_codes_delta\")"),
      "B.scala" -> codeOnly("/** kmeansCentroidsLong(x) */\n// s\"$r/ivfpq_codes_delta\"\nval z = 1"))
    assert(trainers.map(filesWith(_, controls)) == Seq(Nil, Seq("A.scala")))
    assert(filesWith("ivfpq_codes_delta", controls) == Seq("A.scala"))
    assert(filesWith("ivfpq_codes_compact", Seq("C.scala" -> "// was ivfpq_codes_compact")) ==
      Seq("C.scala"))
    assert(names(trainers.flatMap(filesWith(_, mainSources))) == Seq("VectorOps.scala"),
      "the IVF-PQ training recipe must be written once, in VectorOps")
    assert(names(filesWith("ivfpq_codes_delta", mainSources)) == Seq("IvfPqIndex.scala"),
      "callers must take the delta path from IvfPqIndex.Ix")
    val sibling = filesWith("ivfpq_codes_compact", sourcesUnder("src/main/scala", comments = true))
    assert(sibling.isEmpty, s"the IVF-PQ compact sibling is gone, yet spelled in: $sibling")
  }

  test("one MinHash lifecycle: the delta path only in MinhashIndex, no compact sibling, live copy or fine marker") {
    def names(files: Seq[String]) =
      files.map(java.nio.file.Paths.get(_).getFileName.toString).distinct.sorted
    val gone = Seq("bands_compact", "bands_live", "_fine_SUCCESS")
    // the detector itself: a path literal in code is caught, one in a
    // comment is not; the retired names are caught in comments too
    val controls = Seq(
      "A.scala" -> codeOnly("spark.read.parquet(s\"$root/bands_delta\")"),
      "B.scala" -> codeOnly("/** s\"$r/bands_delta\" */\n// bands_delta\nval z = 1"))
    assert(filesWith("bands_delta", controls) == Seq("A.scala"))
    assert(gone.map(g => filesWith(g, Seq("C.scala" -> s"// was $g"))) ==
      gone.map(_ => Seq("C.scala")))
    assert(names(filesWith("bands_delta", mainSources)) == Seq("MinhashIndex.scala"),
      "callers must take the delta path from MinhashIndex.Ix")
    val retired = gone.flatMap(g =>
      filesWith(g, sourcesUnder("src/main/scala", comments = true)).map(f => s"$f spells $g"))
    assert(retired.isEmpty, s"the retired MinHash layouts are gone, yet: $retired")
  }

  test("one module per index family: table paths only in MinhashIndex/IvfPqIndex, the GraftAPI index methods called only from GraftAPI") {
    def names(files: Seq[String]) =
      files.map(java.nio.file.Paths.get(_).getFileName.toString).distinct.sorted
    // the path form `/<name>"`: the manifest's "bands" geometry key is not a path
    def paths(tables: String*) = tables.map(t => s"/$t\"")
    val minhash = paths("bands", "bands_delta", "bands_fine", "sub_keys")
    val ann = paths("coarse", "cells", "pq_codebooks", "pq_codes", "ivfpq_codebooks",
      "ivfpq_codes", "coarse_split", "cells_split")
    val facadeCall = "GraftAPI\\.(writeMinhashIndex|minhashIndex\\w*|buildAnnIndex|annIndex\\w*)".r
    def callers(sources: Seq[(String, String)]) =
      sources.collect { case (f, code) if facadeCall.findFirstIn(code).nonEmpty => f }
    // the detector itself: literals and calls in code are caught, ones in
    // comments are not, and neither is the geometry key
    val controls = Seq(
      "A.scala" -> codeOnly("Tables.read(s, s\"$root/bands\")\nval c = s\"$r/cells_split\"\n" +
        "GraftAPI\n  .annIndexCompact(s, p)"),
      "B.scala" -> codeOnly("/** s\"$root/bands\", GraftAPI.buildAnnIndex(df) */\n" +
        "// s\"$r/cells_split\" GraftAPI.minhashIndexSkew(b)\nval g = Map(\"bands\" -> 2)"))
    assert(minhash.map(filesWith(_, controls)) == Seq(Seq("A.scala"), Nil, Nil, Nil))
    assert(ann.map(filesWith(_, controls)) == Seq.fill(7)(Nil) :+ Seq("A.scala"))
    assert(callers(controls) == Seq("A.scala"))
    assert(names(minhash.flatMap(filesWith(_, mainSources))) == Seq("MinhashIndex.scala"),
      "MinHash table paths must come from MinhashIndex.Ix")
    assert(names(ann.flatMap(filesWith(_, mainSources))) == Seq("IvfPqIndex.scala"),
      "IVF-PQ table paths must come from IvfPqIndex.Ix")
    val outside = callers(mainSources).filterNot(_.endsWith("/GraftAPI.scala"))
    assert(outside.isEmpty,
      s"internal callers must call MinhashIndex/IvfPqIndex, not the GraftAPI forwards: $outside")
  }

  test("one cache lifecycle: the per-object pin generations are gone, only CacheLifecycle holds or retires a generation") {
    val gone = Seq("cachedGen", "freshGen", "cacheEager", "cacheLazy", "beginPins", "endPins",
      "retireablePins")
    val owned = Seq("ArrayBuffer.empty[DataFrame]", "CacheLifecycle.retire")
    // the detector itself: the retired names are caught in comments too,
    // the owned calls in code only
    assert(gone.map(g => filesWith(g, Seq("C.scala" -> s"// was $g"))) ==
      gone.map(_ => Seq("C.scala")))
    val controls = Seq(
      "A.scala" -> codeOnly("val g = mutable.ArrayBuffer.empty[ DataFrame ]\nCacheLifecycle.retire(g)"),
      "B.scala" -> codeOnly("/** ArrayBuffer.empty[DataFrame] */\n// CacheLifecycle.retire(g)\nval z = 1"))
    assert(owned.map(filesWith(_, controls)) == owned.map(_ => Seq("A.scala")))
    val retired = gone.flatMap(g =>
      filesWith(g, sourcesUnder("src/main/scala", comments = true)).map(f => s"$f spells $g"))
    assert(retired.isEmpty, s"the per-object generations are gone, yet: $retired")
    val outside = owned.flatMap(o => filesWith(o, mainSources)
      .filterNot(_.endsWith("/CacheLifecycle.scala")).map(f => s"$f spells $o"))
    assert(outside.isEmpty, s"pins must go through CacheLifecycle: $outside")
  }

  test("GraftSession holds the only SparkSession builder under src/main and src/test") {
    // spelled in parts: this file is scanned too
    val builderCall = Seq("SparkSession", "builder").mkString(".")
    // the detector itself: a call split over lines is caught, comments are not
    val controls = Seq("A.scala" -> codeOnly("val s = SparkSession\n  .builder()\n  .getOrCreate()"),
      "B.scala" -> codeOnly(s"// $builderCall()\n/** $builderCall() */\nval t = 1"))
    assert(filesWith(builderCall, controls) == Seq("A.scala"))
    val hits = filesWith(builderCall, mainSources ++ sourcesUnder("src/test/scala"))
    assert(hits.map(java.nio.file.Paths.get(_).getFileName.toString) == Seq("GraftSession.scala"),
      s"sessions must be built through GraftSession.builder, built in: $hits")
  }
}
