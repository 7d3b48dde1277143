package graft.jobs

import graft.{GraftSession, Tables}
import org.apache.spark.sql.functions._

/** Deterministic k-fold blow-up of the driver-provided testdata (VERDICT
  * r7 #8: "sf1 scale-sensitivity run ... to back the 100 TB claims with a
  * measured scaling slope"). The harness ships sf ≤ 0.1, so the 10× point
  * is derived FROM the provided sf0.1 tables (never written back to
  * /root/testdata) with per-copy perturbations chosen so the workload
  * structure stays representative rather than degenerate:
  *
  *  - `documents`: doc_id shifts by copy·stride (stride ≡ 0 mod 50, so the
  *    `% 50` eval-slice convention keeps the same eval fraction); every
  *    8th token gets a copy-indexed suffix, which rewrites ~3/8 of the
  *    positional 3-gram shingles → cross-copy Jaccard lands well BELOW
  *    dedup thresholds. A naive verbatim copy would make every document a
  *    10-way near-dup and measure an artificial pair explosion instead of
  *    a bigger corpus; this keeps the sf0.1 dup RATE at 10× the mass.
  *  - `embeddings`: vec_id shifts likewise; dim 1 gets +copy·0.001 so no
  *    two copies are identical vectors (k-means/PQ geometry preserved,
  *    exact-dup degeneracy avoided).
  *  - relational tables pass through on copy 0 only (the composites under
  *    test are corpus ops; TPC-H scaling is the driver's job).
  *
  * Usage: `runMain graft.jobs.ScaleFixture <srcSfDir> <outDir> <copies>`.
  * Deterministic by construction (no rand), so re-runs byte-match and any
  * measured slope is attributable to scale, not fixture drift.
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleFixture <srcSfDir> <outDir> <copies>")
    val Array(src, out, copiesS) = args
    val copies = copiesS.toInt
    require(copies >= 1 && copies <= 100, s"copies out of range: $copies")
    val spark = GraftSession.builder("graft-scale-fixture").getOrCreate()
    try {
      val docs = Tables.read(spark, s"$src/documents.parquet")
      val docStride = {
        val m = docs.agg(max("doc_id")).head().getLong(0) + 1
        // round the stride up to a multiple of 50 to preserve the
        // doc_id % 50 eval-slice fraction in every copy
        ((m + 49) / 50) * 50
      }
      val copyIdx = explode(sequence(lit(0), lit(copies - 1))).as("copy")
      val toks = split(col("text"), " ")
      val scaledText = array_join(
        zip_with(toks, sequence(lit(0), size(toks) - 1),
          (t, i) => when(pmod(i, lit(8)) === pmod(col("copy"), lit(8)) && col("copy") > 0,
            concat(t, lit("x"), col("copy"))).otherwise(t)),
        " ")
      docs.select(col("*"), copyIdx)
        .select(
          (col("doc_id") + col("copy") * docStride).as("doc_id"),
          scaledText.as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

      val emb = Tables.read(spark, s"$src/embeddings.parquet")
      val vecStride = emb.agg(max("vec_id")).head().getLong(0) + 1
      emb.select(col("*"), copyIdx)
        .select(
          (col("vec_id") + col("copy") * vecStride).as("vec_id"),
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (v, i) => when(i === 0, v + col("copy").cast("float") * 0.001f)
              .otherwise(v)).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      // pass-through tables the corpus composites' spines/joins touch
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events").foreach { t =>
        Tables.read(spark, s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      // the raw JSONL/XML side files some scans read, if present
      new java.io.File(src).listFiles().filter(f =>
        !f.getName.endsWith(".parquet")).foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(out, f.getName),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      println(s"[scale-fixture] wrote ${copies}x of $src to $out")
    } finally spark.stop()
  }
}
