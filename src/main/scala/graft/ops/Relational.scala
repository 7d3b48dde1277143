package graft.ops

import graft.Tables
import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator set (SURVEY.md §2.1–2.9): scans, filters,
  * aggregations, joins, windows, sort/limit, set ops, scalar functions.
  *
  * Everything here is declarative DataFrame API — Catalyst plans the
  * physical execution (pushdown, partial aggregation, join strategy, AQE).
  * Scale notes per operator are in the Scaladoc of each method.
  *
  * Oracle parity rules (SURVEY.md §7.4): every query ends in a total-order
  * sort replicated in the DuckDB SQL; double aggregates go through
  * DECIMAL(25,6) on both sides; ASC sorts that can see nulls pin
  * NULLS FIRST on the DuckDB side (Spark's ASC default).
  */
object Relational {

  // Pin mechanism note (optimization r14): an eager-persist variant of
  // the basket/graph pins (generation-scoped cache, partitioning
  // preserved for downstream reuse) was A/B'd against the checkpoint
  // pins and REJECTED on wall time despite halving pagerank's shuffle
  // bytes (20.7 → 10.9 MB): paired isolated draws measured 1.47-1.51 s
  // (checkpoint) vs 2.05-3.21 s (persist) — at these frame sizes the
  // per-consumer cached-plan overhead under AQE costs more than the
  // saved exchanges. DedupOps.truncate (reliable checkpoint when a dir
  // is configured, ADVICE r13) remains the pin for all three sites.

  // ---------------------------------------------------------------- scans

  /** S3: plain parquet scan with projection — pruned at the reader
    * (ReadSchema carries only the selected columns). */
  def scanParquet(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .orderBy("p_partkey")

  /** S4: `SELECT * FROM t` full-table scan
    * (reference: /root/reference/dags/db_to_snowflake.py:39). */
  def scanTableStar(s: SparkSession, dir: String): DataFrame =
    nation(s, dir).orderBy("n_nationkey")

  /** A0 count: the reference's only aggregation
    * (/root/reference/scripts/extract.py:66). Plans as a partial+final
    * count with no row exchange beyond one long per partition. */
  def countStar(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(count(lit(1)).as("cnt"))

  /** F1: predicate filter; both predicates reach the parquet scan as
    * PushedFilters so row groups that can't match are skipped. */
  def filterPred(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  // ----------------------------------------------------------- aggregation

  /** A1: grouped hash aggregation (TPC-H Q1 shape). Spark plans
    * partial (map-side) + final HashAggregate — the shuffle carries one row
    * per (group × partition), not per input row. */
  def aggGroup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A2: exact distinct counts (plans as Expand + two-phase agg). */
  def aggCountDistinct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("n_ord"),
        countDistinct(col("l_partkey")).as("n_part"))
      .orderBy("l_returnflag")

  /** A3: HLL approximate distinct — constant memory per group at any scale
    * (the 100 TB substitute for A2 when exactness isn't required).
    * Emitted in CALIBRATION-AUDIT form (VERDICT r5 #4): the sketch
    * estimate itself is engine-specific so it can't hash-match DuckDB,
    * but the ±5% tolerance contract CAN — the query outputs the exact
    * count plus a Spark-computed `approx_ok` bit, and the oracle asserts
    * the exact count and `true`. A false bit hash-mismatches, so the
    * driver now fully verifies the sketch's accuracy contract. The exact
    * side exists only for this audit; production calls use the sketch
    * alone. */
  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("exact_ord"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .select(col("l_returnflag"), col("exact_ord"),
        (abs(col("approx") - col("exact_ord")) <=
          col("exact_ord") * lit(0.05)).as("approx_ok"))
      .orderBy("l_returnflag")

  /** A4: rollup grouping sets (flag × status, flag, grand total). */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Cube leg of A4: full cube grouping sets (all 4 combinations of flag × status; declared in SURVEY §2 prose). */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** A9: custom typed aggregation — quantity-weighted average price via
    * the [[graft.functions.WeightedAvg]] `Aggregator` (exact-DECIMAL
    * buffer with 6-dp input snap → partition-order-independent and
    * fractional-weight-correct, see its scaladoc). Exercises the udaf()
    * registration path. */
  def aggTypedWavg(s: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaDouble))
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(r6(wavg(col("l_extendedprice"), col("l_quantity"))).as("wavg_price"))
      .orderBy("l_returnflag")
  }

  /** A11: statistical aggregates — sample stddev and Pearson correlation.
    * Both engines compute in IEEE doubles with ~1e-12 relative agreement;
    * the half-up 6-dp round absorbs the algorithmic difference (Welford
    * vs two-pass). Verified stable at sf0.01 AND sf0.1. */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(r6(stddev_samp(col("l_discount"))).as("sd_disc"),
        r6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"),
        r6(covar_samp(col("l_quantity"), col("l_discount"))).as("cov_qty_disc"))
      .orderBy("l_returnflag")

  /** A4b: extended aggregate surface — skewness/kurtosis via EXPLICIT
    * power sums (Spark's native `skewness`/`kurtosis` and DuckDB's use
    * different bias corrections, so both engines compute population g1/g2
    * from the same DECIMAL-exact s1..s4 — `m2·sqrt(m2)` instead of
    * `pow(m2,1.5)` because sqrt is correctly rounded on both JVMs/libms
    * while pow is only 1-ulp), plus the boolean (`bool_and`/`bool_or`),
    * conditional (`count_if`) and bitwise (`bit_and/or/xor`) aggregate
    * families. One map-side-combined hash aggregate; all moment math is
    * post-agg scalar work on 3 rows. */
  def aggExtendedStats(s: SparkSession, dir: String): DataFrame = {
    val q = col("l_quantity")
    val sums = lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        dsum(q).as("s1"), dsum(q * q).as("s2"),
        dsum(q * q * q).as("s3"), dsum(q * q * q * q).as("s4"),
        bool_and(col("l_quantity") > 1).as("all_multi"),
        bool_or(col("l_quantity") >= 50).as("any_cap"),
        count_if(col("l_discount") > 0.05).as("n_disc"),
        bit_and(col("l_linenumber")).cast("long").as("bits_and"),
        bit_or(col("l_linenumber")).cast("long").as("bits_or"),
        bit_xor(col("l_linenumber")).cast("long").as("bits_xor"))
    val (s1, s2, s3, s4, n) = (col("s1"), col("s2"), col("s3"), col("s4"), col("n"))
    val m  = s1 / n
    val m2 = s2 / n - m * m
    // parenthesization mirrors the DuckDB oracle token-for-token: double
    // arithmetic is deterministic only under identical evaluation order
    val skew = (s3 / n - lit(3) * m * (s2 / n) + lit(2) * m * m * m) / (m2 * sqrt(m2))
    val kurt = (s4 / n - lit(4) * m * (s3 / n) + lit(6) * m * m * (s2 / n) -
      lit(3) * m * m * m * m) / (m2 * m2) - lit(3)
    sums.select(col("l_returnflag"), n, col("all_multi"), col("any_cap"),
        col("n_disc"), col("bits_and"), col("bits_or"), col("bits_xor"),
        r6(skew).as("skew_q"), r6(kurt).as("kurt_q"))
      .orderBy("l_returnflag")
  }

  /** A12b: histogram — fixed-width bucketing of document lengths (the
    * corpus length-distribution probe every data-quality pass runs). */
  def docLengthHistogram(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(floor(col("n_chars") / 100).cast("long").as("bucket_100"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket_100")

  /** A5: collect-to-array (inverse of the reference's author-array flatten,
    * /root/reference/scripts/transform.py:27-29). `sort_array` pins the
    * nondeterministic collect order; emitted as a joined string so the
    * oracle hash compares scalars, not list objects. */
  def aggCollectList(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .groupBy("c_nationkey")
      .agg(array_join(sort_array(collect_list(col("c_name"))), ",").as("names"))
      .orderBy("c_nationkey")

  // ----------------------------------------------------------------- joins

  /** J1: broadcast hash join — `part` (dim) ships to every executor, no
    * shuffle of the fact side. At 100 TB the fact scan streams through
    * map-side joins; only the small agg output shuffles. */
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(broadcast(part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** J2: large-to-large equi-join — both sides hash-partitioned on the key;
    * AQE picks sort-merge vs shuffled-hash and coalesces partitions. */
  def joinSortmerge(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .join(orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** J3: left outer join preserving customers without orders. */
  def joinOuter(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("total"))
      .orderBy("c_custkey")

  /** J4a: left semi (EXISTS) — customers with ≥1 finished order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  /** J4b: left anti (NOT EXISTS) — customers with no pending orders
    * (filtering on 'P' keeps the result non-empty at every SF). */
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J5: range (theta) join against a tiny in-memory tier dim — plans as
    * BroadcastNestedLoop with the 3-row side broadcast; half-open intervals
    * so boundary values land in exactly one tier. */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val sq = s; import sq.implicits._
    val tiers = Seq(
      (-100000.0, 2500.0, "low"),
      (2500.0, 5000.0, "mid"),
      (5000.0, 100000.0, "high")).toDF("lo", "hi", "tier")
    customer(s, dir)
      .join(broadcast(tiers), col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
      .select("c_custkey", "c_acctbal", "tier")
      .orderBy("c_custkey")
  }

  /** J5b: BINNED range join — the scale form of [[joinRange]]. A
    * non-equi interval join between two LARGE sides plans as a nested
    * loop (O(n·m) comparisons); when intervals have bounded length the
    * standard fix is binning: pick a bin width ≥ the max interval
    * length, explode each interval into the ≤ 2 bins it overlaps, bin
    * each point, and equi-join on the bin with the range predicate left
    * as a residual filter. The shuffle is now hash(bin) — an ordinary
    * co-partitioned equi-join that scales like any other — and each
    * point meets only the intervals sharing its bin, not all of them.
    * 1000 overlapping price bands × 600k lineitems at sf0.1; oracle is
    * the plain range join (binning must be semantically invisible). */
  def joinRangeBinned(s: SparkSession, dir: String): DataFrame = {
    val B = 100.0
    val bands = s.range(0, 1000).select(
      col("id").as("band_id"),
      (col("id") * 50.0).as("lo"),
      (col("id") * 50.0 + 100.0).as("hi"))
    // bins covered by [lo, hi): ceil handles the exclusive upper bound
    val binnedBands = bands.withColumn("bin",
      explode(sequence(floor(col("lo") / B).cast("long"),
        (ceil(col("hi") / B) - 1).cast("long"))))
    val pts = lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .withColumn("bin", floor(col("l_extendedprice") / B).cast("long"))
    pts.join(binnedBands, Seq("bin"))
      .filter(col("l_extendedprice") >= col("lo") && col("l_extendedprice") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("band_id")
  }

  /** J12: typed COGROUP — per-key custom merge of two datasets via
    * `KeyValueGroupedDataset.cogroup`, the Spark surface for merge logic
    * that neither join nor groupBy expresses (both sides' groups arrive
    * together as iterators). Here: per-customer account balance joined
    * with their order count and max price — deliberately re-derivable as
    * join+agg SQL so the oracle can check the cogroup path itself. Scale
    * shape: one co-partitioned shuffle on the key for both sides, same
    * as a sort-merge join; group iterators stream (no per-key
    * materialization beyond the group). */
  def cogroupMerge(s: SparkSession, dir: String): DataFrame = {
    val sq = s; import sq.implicits._
    val custs = customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"))
      .as[(Long, Double)].groupByKey(_._1)
    val ords = orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"))
      .as[(Long, Double)].groupByKey(_._1)
    custs.cogroup(ords) { (key, cs, os) =>
      val cList = cs.toSeq
      if (cList.isEmpty) Iterator.empty // orders with no customer row: drop (inner semantics)
      else {
        val prices = os.map(_._2).toSeq
        Iterator((key, cList.head._2, prices.size.toLong,
          if (prices.isEmpty) 0.0 else prices.max))
      }
    }.toDF("c_custkey", "c_acctbal", "n_orders", "max_price")
      .orderBy("c_custkey")
  }

  /** J7: cross join (5 regions × distinct order statuses). */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    region(s, dir)
      .crossJoin(orders(s, dir).select(col("o_orderstatus").as("status")).distinct())
      .select("r_regionkey", "r_name", "status")
      .orderBy("r_regionkey", "status")

  /** J8: salted equi-join — the manual skew playbook (AQE skew-split is
    * the automatic backstop; salting is what you reach for when one key
    * dominates a 100 TB shuffle). Probe side gets a deterministic salt in
    * [0,8); build side is exploded ×8 so every (key, salt) pair exists;
    * joining on (key, salt) spreads a hot key over 8 partitions. Salting
    * is pure physics — the result MUST equal the unsalted join, which is
    * exactly what the oracle checks. */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val Salts = 8
    val li = lineitem(s, dir)
      .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(Salts)))
    val ord = orders(s, dir)
      .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
    // SHUFFLE_HASH pin (optimization r13, guide §3.1): unpinned, the
    // planner's post-explode size estimate still sat under the broadcast
    // threshold and the ×8-exploded orders side became a BROADCAST build
    // — a single-threaded hashed-relation construction over 1.2M rows
    // that was this query's entire cost (0 shuffle bytes in the sweep
    // telemetry), and the opposite of what salting demonstrates: at
    // 100 TB the exploded side cannot broadcast, and spreading a hot key
    // over (key, salt) partitions only happens in a SHUFFLED join. The
    // pin makes the executed plan the salting plan — both sides exchange
    // on (key, salt), per-partition hash build. The build hint sits on
    // the UN-exploded side (fewer rows to hash; isolated A/B: 1.58 s vs
    // 3.56 s building the ×8 side, == the broadcast form's seconds with
    // the honest exchange in place).
    li.hint("shuffle_hash").join(ord,
        col("l_orderkey") === col("o_orderkey") && li("salt") === ord("salt"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** J9: bucketed co-located join — both tables written pre-bucketed on
    * the join key (8 buckets, sorted), so the join itself requires NO
    * exchange: the plan goes scan → scan → sort-merge join with zero
    * shuffles before the aggregation. This is the 100 TB layout answer —
    * pay the partitioning once at write time, amortize it over every
    * subsequent join on that key. */
  private val bucketedWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val bucketedFp =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), String]()

  def joinBucketed(s: SparkSession, dir: String): DataFrame = {
    // Per-DIRECTORY discriminator in both the table names and the GC
    // sweep prefix (ADVICE r11): the digit suffix alone collides two
    // corpora sharing a digit signature (/backup/sf0.1 vs
    // /root/testdata/sf0.1 — the same collision scanJsonRaw defends
    // against), and the prior sweep then treated the OTHER corpus's
    // live generation as a stale one of this corpus and rmrf'd it —
    // alternating calls rebuilt both tables every call. Hashing the
    // path scopes the sweep to generations minted for this dir only.
    val sfx = dir.replaceAll("[^0-9]", "") + "_" +
      java.lang.Integer.toHexString(dir.hashCode)
    // Table names carry the SOURCE fingerprint (review r10, the
    // writeOnce-sink rule): a corpus regenerated mid-session would
    // otherwise pass both the in-JVM set and the catalog existence
    // check and silently join STALE bucketed data while the oracle
    // reads the new parquet. The full-tree walk is memoized per
    // (dir, shallow stamp of each root) — ADVICE r10; the stamp folds
    // the name/mtime/length of the root AND its direct children
    // (review r11: root mtime alone misses a rewrite inside a nested
    // partition directory), so one directory listing replaces the
    // recursive walk on steady-state calls and any regeneration
    // invalidates the memo.
    val fp = {
      val key = (dir,
        Artifacts.shallowStamp(dir, "lineitem.parquet"),
        Artifacts.shallowStamp(dir, "orders.parquet"))
      bucketedFp.computeIfAbsent(key, _ => java.lang.Long.toHexString(
        Artifacts.fingerprint(dir, "lineitem.parquet") * 31 +
          Artifacts.fingerprint(dir, "orders.parquet")))
    }
    val (liT, ordT) = (s"graft_li_b${sfx}_$fp", s"graft_ord_b${sfx}_$fp")
    // Bucketed tables are WRITE-ONCE layout artifacts (that's the whole
    // point — pay the shuffle at write time, reuse across queries), so
    // within one JVM the write happens once per (session, sf,
    // fingerprint). The set alone can false-positive (identityHashCode
    // collides across session lifetimes), so a catalog existence check
    // backs it up: skip only when this session can actually resolve both
    // tables.
    // Guard + build under ONE lock (review r11, the writeOnce idiom three
    // screens below): the check-then-act was non-atomic, so two threads'
    // first calls could both enter and run concurrent DROP/rmrf/
    // saveAsTable on the same table names.
    bucketedWritten.synchronized {
    if (bucketedWritten.add(s"${System.identityHashCode(s)}:$dir:$fp") ||
        !s.catalog.tableExists(liT) || !s.catalog.tableExists(ordT)) {
      // The in-memory catalog is per-session but the warehouse directory
      // outlives it; a stale location fails saveAsTable with
      // LOCATION_ALREADY_EXISTS, so drop both catalog entry and directory.
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath
      // GC prior fingerprint generations (ADVICE r10): a regenerated
      // corpus mints new table names, and without this sweep every old
      // generation's catalog entry + warehouse data leaked permanently.
      // Sweep the WAREHOUSE for the name prefix (the in-memory catalog
      // forgets prior JVMs' tables, but their directories survive) and
      // drop any matching catalog entries this session can still see.
      Seq(s"graft_li_b${sfx}_", s"graft_ord_b${sfx}_").foreach { pfx =>
        Option(new java.io.File(wh).listFiles).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(pfx) && f.getName != s"$pfx$fp")
          .foreach { stale =>
            s.sql(s"DROP TABLE IF EXISTS ${stale.getName}")
            Artifacts.rmrf(stale)
          }
      }
      Seq(liT, ordT).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        Artifacts.rmrf(new java.io.File(wh, t))
      }
      lineitem(s, dir).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
      orders(s, dir).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordT)
    }
    }
    s.table(liT).join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  // --------------------------------------------------------------- windows

  /** W1: ranking functions over (nation, acctbal) with a unique tiebreak so
    * row_number is deterministic. */
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .orderBy("c_custkey")
  }

  /** W2: lag/lead over each customer's order history. */
  def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy("o_orderkey")
  }

  /** W3: running total per customer — decimal accumulator so the running
    * sum is exact (stable under any physical ordering of partial frames). */
  def windowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(25,6)")).over(w)
          .cast("double").as("running_total"))
      .orderBy("o_orderkey")
  }

  /** W5: distribution ranking — ntile buckets, percent_rank, cume_dist
    * (all rank-derived: integer-ratio doubles, deterministic across
    * engines). */
  def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        ntile(4).over(w).as("quartile"),
        r6(percent_rank().over(w)).as("pct_rank"),
        r6(cume_dist().over(w)).as("cume"))
      .orderBy("c_custkey")
  }

  /** W4: top-k per group (3 priciest orders per customer). */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy("o_custkey", "rn")
  }

  /** W4b: the same top-3-per-customer through the NATIVE TopKPerGroup
    * operator (graft.plans: LogicalPlan + Strategy + partial/final
    * SparkPlan). Semantically identical to [[topkPerGroup]] minus the rank
    * column; the plan shuffles at most k rows per (group × partition)
    * instead of sorting the whole input — see TopKPerGroup scaladoc. */
  def topkNative(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerGroup(orders(s, dir), 3,
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc))
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))

  // ------------------------------------------------------------ sort/limit

  /** Sort + limit — Spark plans TakeOrderedAndProject: each partition keeps
    * its local top-100, only 100×P rows reach the driver-side merge. */
  def sortLimit(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  // --------------------------------------------------------------- set ops

  private def buildingCust(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))

  private def finishedCust(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))

  /** SQL UNION (distinct) of two key sets. */
  def setUnion(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).union(finishedCust(s, dir)).distinct().orderBy("k")

  def setIntersect(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).intersect(finishedCust(s, dir)).orderBy("k")

  def setExcept(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).except(finishedCust(s, dir)).orderBy("k")

  /** Multiset set-ops (bag semantics — duplicates preserved by count). */
  def setExceptAll(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).select(col("o_custkey").as("k"))
      .exceptAll(customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n")) // stable form for hash-compare
      .orderBy("k")

  def setIntersectAll(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).select(col("o_custkey").as("k"))
      .intersectAll(orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k")))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k")

  /** A4c: explicit GROUPING SETS — independent slices in one pass (flag
    * totals and status totals, not their cross product). */
  def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("graft_li_gs")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM graft_li_gs
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** A10: unpivot (wide→long) — the Spark 4 `unpivot`/melt API. */
  def unpivotMelt(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"), col("p_size").cast("double").as("size"),
        col("p_retailprice").as("retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("size"), col("retailprice")),
        "metric", "value")
      .orderBy("p_partkey", "metric")

  // ------------------------------------------------------- scalar functions

  /** C-series string functions (lengths surfaced as BIGINT to match
    * DuckDB's integer width). */
  def strFuncs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        lower(col("p_name")).as("lname"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("prefix"),
        size(split(col("p_name"), " ")).cast("long").as("n_words"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_alpha"))
      .orderBy("p_partkey")

  /** C5/date: calendar arithmetic — interval add, day diff, field
    * extraction (dates as strings for parquet-representation-proof
    * comparison). */
  def dateArith(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"),
        dateFmt(col("o_orderdate")).as("d"),
        dateFmt(date_add(col("o_orderdate"), 30)).as("d_plus30"),
        datediff(lit("1995-01-01").cast("date"), col("o_orderdate")).cast("long").as("days_to_95"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"))
      .orderBy("o_orderkey")

  /** C6/array: posexplode (generator / UDTF surface) — each part name
    * fans out to (position, token) rows. Generators run map-side; row
    * fan-out never shuffles by itself. */
  def arrayExplode(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("col").as("word"))
      .orderBy("p_partkey", "pos")

  /** C5/date: month bucketing + grouped agg over order dates. */
  def dateTruncAgg(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(dateFmt(date_trunc("month", col("o_orderdate"))).as("month"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .orderBy("month")

  /** A6: exact DECIMAL aggregation — the money-safe path (no FP drift by
    * construction). Emitted as strings: DECIMAL survives parquet exactly
    * while the oracle harness would coerce it to float64. */
  def aggDecimal(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("sum_price"),
        max(col("l_extendedprice").cast("decimal(18,2)")).cast("string").as("max_price"))
      .orderBy("l_returnflag")

  /** A7: exact-interpolation percentiles (Spark `percentile`, not the
    * t-digest approximation) — grouped, two quantiles per group. */
  def aggPercentile(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(r6(percentile(col("l_extendedprice"), lit(0.5))).as("p50"),
        r6(percentile(col("l_extendedprice"), lit(0.95))).as("p95"))
      .orderBy("l_returnflag")

  /** A8: pivot (long→wide) — counts per linestatus pivoted over the three
    * return flags. Explicit pivot values keep the plan single-pass (no
    * distinct-values pre-query). */
  def aggPivot(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      // empty pivot cells are NULL in Spark but 0 in the oracle's
      // SUM(CASE ...) — coalesce so a corpus with a missing
      // (status, flag) combo can't hash-diverge (review r11)
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0L)).as("A"),
        coalesce(col("N"), lit(0L)).as("N"),
        coalesce(col("R"), lit(0L)).as("R"))
      .orderBy("l_linestatus")

  /** C7: MapType construction + key lookup (the map/decimal/interval slots
    * of SURVEY.md §1.3). Lookups emitted as scalars — map columns
    * themselves don't hash-compare portably across engines. */
  def mapFuncs(s: SparkSession, dir: String): DataFrame =
    nation(s, dir)
      .join(region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"),
        map(lit("nation"), col("n_name"), lit("region"), col("r_name")).as("m"))
      .select(col("n_nationkey"),
        element_at(col("m"), "nation").as("nation_v"),
        element_at(col("m"), "region").as("region_v"),
        size(col("m")).cast("long").as("m_size"))
      .orderBy("n_nationkey")

  /** K2: parquet sink round-trip — partitioned overwrite write (the
    * idempotent form of the reference's parquet hop,
    * /root/reference/dags/bigbookapi.py:100), then re-scan + aggregate.
    * Partitioning by the low-cardinality flag column is what makes the
    * re-scan prunable at scale. */
  def sinkParquetRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.scratch("sink", dir)
    lineitem(s, dir)
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    Tables.read(s, path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** K3/K4/K5: live JDBC sink round-trip against the embedded Derby engine
    * shipped with Spark — DDL-ensure pre-action, staged bulk-copy publish
    * (staging append → transactional INSERT-SELECT), then a
    * `spark.read.jdbc` read-back. The `df.write.format("jdbc")` data plane
    * is byte-identical to a remote Postgres target; only the URL differs
    * (reference precedent: /root/reference/dags/bigbookapi.py:165-177 and
    * db_to_snowflake.py:94-112). Identifiers are quoted lowercase in the
    * DDL so Derby's metadata round-trips Spark's quoted INSERT columns and
    * the read-back schema keeps the oracle's column names. Target table is
    * dropped first so repeated runs (Bench times twice) stay idempotent. */
  def sinkJdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JdbcSink
    val db = Artifacts.scratch("derby", dir) + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val ddl = """"n_nationkey" BIGINT, "n_name" VARCHAR(64), "n_regionkey" BIGINT"""
    JdbcSink.dropIfExists(url, "nation_t")
    JdbcSink.stagedCopy(
      nation(s, dir).select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
      url, "nation_t", "nation_stg", ddl)
    JdbcSink.read(s, url, "nation_t").orderBy("n_nationkey")
  }

  /** One-time Derby seed guard for [[scanJdbcPartitioned]] — the scan
    * measures the READ fan-out, not the seeding, so the orders table
    * lands once per (source-dir fingerprint). */
  private val jdbcScanSeeded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** S4-scan: partitioned JDBC READ — the migration shape of the
    * reference's full-table `SELECT *` over a live database
    * (/root/reference/dags/db_to_snowflake.py:39), done the way a Spark
    * cluster actually drains an RDBMS: `partitionColumn/lowerBound/
    * upperBound/numPartitions` split the key range so N executors each
    * issue their own bounded query CONCURRENTLY instead of one reader
    * funneling the whole table through a single connection. Embedded
    * Derby (the same engine the JDBC sinks exercise) is seeded once per
    * corpus from the orders parquet; every draw then measures only the
    * fan-out read. Bounds come from the parquet source's min/max — the
    * same metadata a real migration reads from the catalog. The oracle
    * is the parquet scan's rows: the JDBC hop must be lossless.
    * JdbcSinkSpec additionally pins that >1 partition reader is OPEN
    * against the server concurrently mid-scan. */
  def scanJdbcPartitioned(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.JdbcSink
    // v3: the layout contract now includes the partition-column index
    // and the STORED (uncompressed) jar packaging (review r12: a v2 root
    // would silently keep the 4x-full-scan DEFLATED artifact the fix
    // retired); v2 added the post-seed immutable packaging over v1.
    val root = Artifacts.root("derbyscan_v3", dir, "orders.parquet")
    val url = s"jdbc:derby:$root/db;create=true"
    val src = orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"))
    jdbcScanSeeded.synchronized {
      // Membership is recorded only AFTER the seed (or a pre-existing
      // marker) is confirmed (ADVICE r12): adding the key up front meant
      // a thrown seed (transient Derby error, disk full) left the key in
      // the set with no _SUCCESS on disk, so every later call in the JVM
      // skipped re-seeding and failed against the absent/partial db.jar
      // until restart.
      val seedKey = s"${System.identityHashCode(s)}:$root"
      if (!jdbcScanSeeded.contains(seedKey)) {
        if (!new java.io.File(root, "_SUCCESS").isFile) {
        JdbcSink.dropIfExists(url, "orders_t")
        JdbcSink.ensureTable(url, "orders_t",
          """"o_orderkey" BIGINT, "o_custkey" BIGINT,
            |"o_orderstatus" VARCHAR(8), "o_totalprice" DOUBLE""".stripMargin)
        // Driver-local seed (not the distributed append writer): on a
        // multi-JVM master the executors' insert tasks each boot the
        // embedded engine and fail XSDB6; seeding is setup, not the
        // measured product.
        JdbcSink.seedLocal(src, url, "orders_t")
        // Index the partition column (review r12, measured): without
        // it each of the 4 bounded partition queries full-scans the
        // table — 4x the pages for one logical pass; a real migration
        // source has its PK indexed, so the stand-in should too.
        JdbcSink.createIndex(url, "orders_t", "o_orderkey")
        // Multi-JVM seam (r12, found on the local-cluster sweep): a
        // read-WRITE embedded-Derby boot is exclusive per JVM (db.lck),
        // so two executor JVMs' concurrent partition readers failed
        // XSDB6. Shut the seeded database down and package it as
        // Derby's read-only database-in-a-jar: jar boots take no lock
        // and are concurrently bootable from any number of executor
        // JVMs — the embedded stand-in then behaves like the real
        // server it stands in for. (A chmod read-only mark was tried
        // first and is silently bypassed when the process runs as
        // root.)
        JdbcSink.shutdownDb(url)
        JdbcSink.packageDb(new java.io.File(s"$root/db"),
          new java.io.File(s"$root/db.jar"))
        require(new java.io.File(root, "_SUCCESS").createNewFile() ||
          new java.io.File(root, "_SUCCESS").isFile,
          s"could not commit the derby seed marker under $root")
        }
        jdbcScanSeeded.add(seedKey)
        ()
      }
    }
    val bounds = src.agg(min("o_orderkey"), max("o_orderkey")).head()
    JdbcSink.readPartitioned(s,
        JdbcSink.jarDbUrl(new java.io.File(s"$root/db.jar")), "orders_t",
        "o_orderkey", bounds.getLong(0), bounds.getLong(1), numPartitions = 4)
      .orderBy("o_orderkey")
  }

  /** A12: HLL sketch algebra — per-month DISTINCT-customer sketches and
    * their rollup merge in ONE pass (`hll_sketch_agg` under `rollup`).
    * This is the 100 TB distinct-counting pattern: sketches are partial
    * aggregates (map-side combinable, mergeable across days/partitions/
    * reruns), so "distinct users this month" and "distinct users ever"
    * come from UNIONING stored sketches, never re-scanning raw data.
    * Calibration-audit form (see [[aggApproxDistinct]]): the rollup's
    * ALL row still exercises the sketch MERGE; the output carries exact
    * per-group distincts plus a ±3% `hll_ok` bit on the estimates, which
    * the oracle hash-verifies as `true`. */
  def aggHllSketchMerge(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .withColumn("month", date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM"))
      .rollup("month")
      // lgConfigK = 14 (not the default 12): the audit spans ~80 rollup
      // groups, so the bound must hold at every one — at lgK 12 the ±3%
      // bit is a ~2σ bound (relative error ≈ 1.6%) and one group tripping
      // it somewhere in the corpus is EXPECTED (observed at sf0.1); at
      // lgK 14 (error ≈ 0.8%) the same 3% is ≈ 4σ across all groups.
      .agg(hll_sketch_agg(col("o_custkey"), lit(14)).as("sk"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .select(coalesce(col("month"), lit("ALL")).as("month"),
        col("exact_customers"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_customers")) <=
          col("exact_customers") * lit(0.03) + lit(1)).as("hll_ok"))
      .orderBy("month")

  /** Layout artifacts (sorted/Z-ordered/partitioned tables) are
    * WRITE-ONCE: pay the shuffle+sort at write time, amortize across
    * every subsequent query — the same contract as [[joinBucketed]]'s
    * bucketed tables. Guarded by an in-JVM set AND the `_SUCCESS` marker
    * (a previous process may have written it); bump the version suffix in
    * the path when the layout recipe changes. Hardened r10 (review):
    * (a) paths come from [[Artifacts.root]], so they carry the SOURCE
    * table's (mtime, length) fingerprint — a regenerated corpus gets a
    * fresh path instead of a stale `_SUCCESS` silently serving old rows
    * while the oracle reads the new table (the same scheme the
    * ANN/MinHash index artifacts already use); (b) the in-JVM mark lands
    * only AFTER the write completes — a crashed write used to leave the
    * path in the set, so later calls in the same JVM skipped the rewrite
    * and read the partial directory. */
  private val layoutWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def writeOnce(path: String)(write: => Unit): Unit =
    layoutWritten.synchronized {
      if (!layoutWritten.contains(path)) {
        if (!new java.io.File(path, "_SUCCESS").isFile) write
        layoutWritten.add(path) // reached only after a committed write
      }
    }

  /** K8: sorted-layout sink — `repartitionByRange` + `sortWithinPartitions`
    * before the parquet write, so every file covers a disjoint key range
    * and row-group min/max statistics actually prune. The read-back query
    * filters a narrow key range: at 100 TB this is the difference between
    * touching 2 files and touching all of them. (The layout is a write-time
    * cost paid once, like `join_bucketed`'s bucketing.) Oracle = the same
    * filter+agg over the raw table — the layout must be semantically
    * invisible. */
  def sinkSortedLayout(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.root("sorted_v2", dir, "lineitem.parquet")
    writeOnce(path) {
      lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .write.mode("overwrite").parquet(path)
    }
    Tables.read(s, path)
      .filter(col("l_orderkey").between(1000, 3000))
      .groupBy((col("l_orderkey") % 7).as("g"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("g")
  }

  /** K8c: hive-partitioned layout sink — `partitionBy` directory layout +
    * read-back with a partition-value filter, the lakehouse table layout
    * where partition PRUNING (not row-group stats) eliminates whole
    * directories before any I/O: the read-back's `PartitionFilters`
    * touches 2 of 5 directories. The `repartition(partition col)` before
    * the write is the small-files guard — without it every one of the
    * input's tasks writes a file into every partition directory
    * (tasks × partitions files; at 1000 executors that's the classic
    * millions-of-small-files failure), with it exactly one file per
    * partition value. Oracle = same filter+agg on the raw table (layout
    * must be semantically invisible). */
  def sinkPartitionedLayout(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.root("hivepart_v1", dir, "orders.parquet")
    writeOnce(path) {
      orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .repartition(col("o_orderpriority"))
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    }
    Tables.read(s, path)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** K8b: Z-ORDER layout sink — interleave the bits of TWO keys into a
    * Morton code, range-partition + sort by it, and both dimensions get
    * row-group min/max locality: a rectangle predicate on (orderkey,
    * partkey) prunes files/row-groups on BOTH axes, where a plain sort
    * only serves its leading column. This is the multi-dimensional
    * clustering answer (Delta/Iceberg Z-ORDER BY) expressed with stock
    * Spark: the morton expression is pure codegen'd bit algebra. The
    * read-back filters a rectangle; oracle = same filter+agg on the raw
    * table (layout must be semantically invisible). */
  def sinkZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.root("zorder_v2", dir, "lineitem.parquet")
    // 16-bit × 16-bit Morton interleave: bit i of x lands at 2i, of y at 2i+1
    def morton(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (0 until 16).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
    writeOnce(path) {
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .withColumn("z", morton(col("l_orderkey"), col("l_partkey")))
        .repartitionByRange(8, col("z"))
        .sortWithinPartitions("z")
        .write.mode("overwrite").parquet(path)
    }
    Tables.read(s, path)
      .filter(col("l_orderkey").between(1000, 3000) &&
        col("l_partkey").between(100, 500))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_partkey")
  }

  /** K1: JSON sink + re-scan round-trip (the reference's extract dump,
    * /root/reference/scripts/extract.py:76-78, minus the single-file
    * indent-2 cosmetics — a distributed sink writes one shard per
    * partition). JSON round-trips doubles through string form, so the
    * verified columns are the exact-typed ones; the oracle is the same
    * agg on the raw table (sink must be semantically invisible). */
  def sinkJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.scratch("json", dir)
    customer(s, dir)
      .select("c_custkey", "c_nationkey", "c_mktsegment")
      .write.mode("overwrite").json(path)
    s.read.schema("c_custkey long, c_nationkey int, c_mktsegment string")
      .json(path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_key"))
      .orderBy("c_mktsegment")
  }

  /** K9: ORC sink + re-scan round-trip — the same semantically-invisible
    * layout contract as the parquet/JSON sinks, over Spark's second
    * columnar format (ORC keeps doubles binary-exact, so the money column
    * round-trips without a string detour). */
  def sinkOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.scratch("orc", dir)
    lineitem(s, dir)
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
      .write.mode("overwrite").orc(path)
    s.read.orc(path)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** K10: CSV sink + schema'd re-read round-trip (header on, explicit
    * schema back — never inferSchema, which would re-scan the data at
    * 100 TB). Long/string columns only: CSV is a text format, and exact
    * float round-trip contracts belong to the columnar sinks. */
  def sinkCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.scratch("csv", dir)
    orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema("o_orderkey long, o_custkey long, o_orderpriority string")
      .option("header", "true").csv(path)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sum_cust"))
      .orderBy("o_orderpriority")
  }

  /** J13b: dynamic-partition-pruned join — the fact table is WRITTEN
    * partitioned by month; the month-dim side carries a filter (Q2
    * months) that is only knowable at runtime, so Catalyst inserts a
    * `dynamicpruning` partition filter fed by the broadcast dim: the fact
    * scan touches ONLY the 3-months-per-year partitions instead of all of
    * them. At 100 TB this is the mechanism that turns a date-dim join
    * into a 25%-of-the-data scan with zero query rewrite (PlansSpec
    * asserts the dynamicpruning expression is present). Oracle = same
    * join with the month derived on the fly — partitioning must be
    * semantically invisible. */
  def joinDpp(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.root("dpp_v2", dir, "orders.parquet")
    writeOnce(path) {
      orders(s, dir)
        .withColumn("om", date_format(col("o_orderdate"), "yyyy-MM"))
        .select("o_orderkey", "o_totalprice", "om")
        // co-locate each month before the partitioned write: one file per
        // partition dir instead of (tasks × months) small files — at 100 TB
        // the small-file spray is the classic partitioned-sink failure mode
        .repartition(col("om"))
        .write.mode("overwrite").partitionBy("om").parquet(path)
    }
    val dim = orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m")).distinct()
      .filter(split(col("m"), "-").getItem(1).cast("int").between(4, 6))
    Tables.read(s, path)
      .join(broadcast(dim), col("om") === col("m"))
      .groupBy("om")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("om")
  }

  /** A7b: approximate percentiles (`percentile_approx`, the
    * Greenwald–Khanna-style mergeable sketch) — the 100 TB quantile path:
    * partial sketches combine map-side and across reruns, where exact
    * percentile must shuffle every value per group. Calibration-audit
    * form (see [[aggApproxDistinct]]): outputs the exact interpolated
    * percentiles plus a ±2% `approx_ok` bit over the GK-sketch
    * estimates; the oracle asserts exact values and `true`, so the
    * driver hash-verifies the sketch's accuracy contract. */
  def aggApproxPercentile(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("a50"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(1000)).as("a95"),
        r6(percentile(col("l_extendedprice"), lit(0.5))).as("p50"),
        r6(percentile(col("l_extendedprice"), lit(0.95))).as("p95"))
      .select(col("l_returnflag"), col("p50"), col("p95"),
        ((abs(col("a50") - col("p50")) <= col("p50") * lit(0.02)) &&
          (abs(col("a95") - col("p95")) <= col("p95") * lit(0.02))).as("approx_ok"))
      .orderBy("l_returnflag")

  /** A26: KLL mergeable quantile sketch (Spark 4.1 datasketches
    * built-ins) — the store-sketches-merge-later quantile counterpart of
    * [[aggHllSketchMerge]]: per-group `kll_sketch_agg_double` sketches
    * combine associatively across partitions/reruns where exact
    * percentile must shuffle every value. Calibration-audit form (same
    * discipline as [[aggApproxDistinct]]): phase 1 derives the KLL
    * p50/p95 estimates per group; phase 2 broadcasts those 3 rows back
    * over the fact scan and measures the EXACT rank of each estimate —
    * `kll_ok` asserts the sketch's rank-error contract (±3 rank points,
    * comfortably above the k=200 default's ~1.65%), and the oracle
    * hash-verifies the exact percentiles and the bit. */
  def aggKllQuantiles(s: SparkSession, dir: String): DataFrame = {
    val est = lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(expr("kll_sketch_get_quantile_double(" +
        "kll_sketch_agg_double(cast(l_extendedprice as double)), " +
        "array(0.5d, 0.95d))").as("q"))
      .select(col("l_returnflag").as("ef"),
        element_at(col("q"), 1).as("e50"), element_at(col("q"), 2).as("e95"))
    lineitem(s, dir).join(broadcast(est), col("l_returnflag") === col("ef"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        r6(percentile(col("l_extendedprice"), lit(0.5))).as("p50"),
        r6(percentile(col("l_extendedprice"), lit(0.95))).as("p95"),
        avg(when(col("l_extendedprice") <= col("e50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("l_extendedprice") <= col("e95"), 1.0).otherwise(0.0)).as("r95"))
      .select(col("l_returnflag"), col("n"), col("p50"), col("p95"),
        ((abs(col("r50") - lit(0.5)) <= lit(0.03)) &&
          (abs(col("r95") - lit(0.95)) <= lit(0.03))).as("kll_ok"))
      .orderBy("l_returnflag")
  }

  /** S6: schema-evolution scan — two write epochs with different schemas
    * (epoch 2 adds a column), read back with `mergeSchema`: Spark unions
    * the footers' schemas and nulls the missing column in old files. At
    * 100 TB schema evolution happens in place — you cannot rewrite
    * history when a column is added, so the scan layer must reconcile
    * (and `mergeSchema` stays off by default because footer-merging every
    * file has a cost: turn it on per-read, or register the merged schema
    * in the catalog once). Oracle = the same split derived on the fly. */
  def scanMergeSchema(s: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.scratch("evo", dir)
    val o = orders(s, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/epoch=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$path/epoch=2")
    Tables.read(s, path, None, Map("mergeSchema" -> "true"))
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>")).as("prio"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("prio")
  }

  /** Q1: uncorrelated scalar subquery — lineitems above the global average
    * price. Catalyst plans the subquery once (ReusedSubquery/broadcast),
    * not per row. */
  def subqueryScalar(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val avgPrice = li.agg(davg(col("l_extendedprice")).as("ap"))
    li.crossJoin(broadcast(avgPrice))
      .filter(col("l_extendedprice") > col("ap"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_above"))
      .orderBy("l_returnflag")
  }

  /** Q2: correlated scalar subquery (SQL surface) — customers richer than
    * their nation's average balance. Written in SQL so Catalyst's
    * decorrelation (`RewriteCorrelatedScalarSubquery`) turns the per-row
    * subquery into one aggregate + join — the 100 TB-safe plan. */
  def subqueryCorrelated(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir).createOrReplaceTempView("graft_cust")
    s.sql(
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM graft_cust o
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(i.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |                          / count(i.c_acctbal)
        |                   FROM graft_cust i
        |                   WHERE i.c_nationkey = o.c_nationkey)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** J13: LATERAL correlated-subquery join (SQL surface) — each customer
    * joined to its own top-2 orders by price. The per-row "run a query
    * against my key" idiom: Catalyst's `DecorrelateInnerQuery` turns the
    * correlated ORDER BY + LIMIT into a partitioned window rank — i.e. it
    * compiles to the same 100 TB-safe plan as `topk_per_group`, one
    * shuffle on the join key, never a per-customer rescan of orders.
    * (The DataFrame-native route is [[topkPerGroup]]; this entry covers
    * the SQL LATERAL surface itself.) */
  def joinLateralTopk(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        |) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
  }

  /** Deterministic hash sampling (SURVEY §2 prose) — the reproducible substitute for
    * TABLESAMPLE in a pipeline (same rows on every engine, every run,
    * every retry; mod-bucket on a stable key hash). ~10% of orders. */
  def sampleHash(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .filter(conv(substring(md5(col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  /** Registers the star-schema tables as temp views for the SQL entry
    * point — the engine's `spark.sql` surface. */
  def registerViews(s: SparkSession, dir: String): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region", "part")
      .foreach(t => tbl(s, dir, t).createOrReplaceTempView(t))

  /** SQL-1 (TPC-H Q3 shape): 3-way join + filter + agg + top-10 revenue.
    * Exercises the full SQL path: parse → analyze (view resolution) →
    * join reorder/pushdown → hash aggs → TakeOrderedAndProject. */
  def sqlShippingPriority(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS STRING) AS o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
  }

  /** SQL23: RECURSIVE CTE (Spark 4's `WITH RECURSIVE`) — bounded
    * transitive reachability over a deterministic 25-node functional
    * graph derived from `nation` (edges i → (2i+1) mod 25 and
    * i → (3i+2) mod 25). The level cap bounds the fixpoint (the graph
    * has cycles — an uncapped closure would still terminate on the
    * DISTINCT frontier, but the cap keeps both engines' iteration
    * visibly identical), and min-level dedup keeps one row per reached
    * node. The 100 TB shape: each recursive step is a self-contained
    * join of the frontier against the (broadcast-scale here,
    * co-partitioned in general) edge table — exactly the
    * [[graft.ops.DedupOps.dedupClusters]] loop, expressed in pure SQL. */
  def sqlReachability(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH RECURSIVE reach(node, lvl) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS lvl
        |  UNION ALL
        |  SELECT e.dst, r.lvl + 1 FROM reach r
        |  JOIN (
        |    SELECT CAST(n_nationkey AS BIGINT) AS src,
        |           CAST((2 * n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
        |    UNION ALL
        |    SELECT CAST(n_nationkey AS BIGINT),
        |           CAST((3 * n_nationkey + 2) % 25 AS BIGINT) FROM nation
        |  ) e ON e.src = r.node
        |  WHERE r.lvl < 4
        |)
        |SELECT node, CAST(min(lvl) AS BIGINT) AS first_level,
        |  CAST(count(*) AS BIGINT) AS n_paths
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
  }

  /** SQL-3 (TPC-H Q1, the canonical pricing summary): filter-free scan +
    * 8-measure grouped aggregation — the whole-stage-codegen benchmark
    * query. Every money measure routes through DECIMAL(25,6) partials
    * (the [[graft.Tables.dsum]] rule in SQL form): the products carry ≤ 6
    * true decimal digits, so the decimal snap is exact and the aggregate
    * is partition-order independent. */
  def sqlPricingSummary(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
        |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_qty,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_price,
        |  floor(CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * MATCH each other — the semantics a changelog/dimension merge needs
    * when the business key is legitimately absent (plain `=` silently
    * drops those rows). Spark plans `<=>` as a hash join (null-safe keys
    * hash like values); derived NULLs via nullif so the corner actually
    * executes on the fixtures. */
  def joinNullSafe(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
      .select(col("c_custkey"), nullif(col("c_nationkey") % 5, lit(4)).as("k"))
    val n = nation(s, dir)
      .select(col("n_nationkey"), nullif(col("n_nationkey") % 5, lit(4)).as("k"))
    c.as("a").join(n.as("b"), col("a.k") <=> col("b.k"))
      .groupBy(coalesce(col("a.k"), lit(-1)).as("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_nationkey")).as("sum_nk"))
      .orderBy("k")
  }

  /** SQL-2 (TPC-H Q5 shape): 5-way snowflake join through
    * customer→orders→lineitem→supplier→nation→region with a co-nation
    * constraint — the join-graph stress test. */
  def sqlLocalSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
  }

  /** W5: RANGE frame — peers-inclusive running aggregation (value-based
    * frame, not row-based): count of same-nation customers within ±1000
    * acctbal of each row. */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal"))
      .rangeBetween(-1000L, 1000L)
    customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        count(lit(1)).over(w).as("peers_1k"))
      .orderBy("c_custkey")
  }

  /** C8: second string-function battery — replace/pad/reverse/trim/case
    * (exact, engine-portable semantics only). */
  def strFuncs2(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .select(col("p_partkey"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devowel"),
        lpad(col("p_brand"), 12, "#").as("brand_pad"),
        reverse(col("p_type")).as("type_rev"),
        trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
        upper(col("p_name")).as("upper_name"),
        translate(col("p_type"), "AEIOU", "aeiou").as("lower_vowels"))
      .orderBy("p_partkey")

  /** A13: skew-safe two-stage aggregation — the aggregation twin of
    * `join_skew_salted`. With only 3 return-flag groups, a plain groupBy
    * funnels a 100 TB table's combine output through 3 reducer tasks; the
    * salted form aggregates on (key, salt) first — 32-way parallel final
    * combine per hot key — then collapses the ≤ `key×32` partials in a
    * second, trivially small shuffle. The salt column is derived (crc32 of
    * the row key), so a backfill re-run lands rows on identical salts.
    * Decimal partials keep both stages exact and order-independent; the
    * oracle is the UNsalted aggregation, proving the salt is semantically
    * transparent. */
  def aggSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val partial = lineitem(s, dir)
      .withColumn("salt", pmod(crc32(col("l_orderkey").cast("string")), lit(32)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_extendedprice").cast("decimal(25,6)")).as("psum"),
        count(lit(1)).as("pcnt"))
    partial.groupBy("l_returnflag")
      .agg(sum(col("psum")).cast("double").as("sum_price"),
        sum(col("pcnt")).as("n"))
      .orderBy("l_returnflag")
  }

  /** A14: arg-max / arg-min — which row carries the extreme, not just the
    * extreme itself (`max_by`/`min_by`, one hash-agg pass; the two-scan
    * join-back idiom this replaces reads the table twice). Ties broken by
    * custkey via lexicographic struct ordering so both engines pick the
    * same row deterministically. */
  def aggArgMinmax(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        max_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey")))
          .as("richest_cust"),
        max(col("c_acctbal")).as("max_bal"),
        min_by(col("c_custkey"), struct(col("c_acctbal"), col("c_custkey")))
          .as("poorest_cust"),
        min(col("c_acctbal")).as("min_bal"))
      .orderBy("c_nationkey")

  /** A15: deterministic mode (most frequent value per group) — two
    * hash-aggs: count per (group, value), then lexicographic struct-max
    * picks (highest count, highest value), so ties resolve identically in
    * both engines where a built-in `mode()` is free to pick arbitrarily.
    * Both shuffles carry only group×distinct-value rows — at 100 TB the
    * map-side partial count does the data reduction. */
  def aggMode(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(max(struct(col("cnt"), col("l_quantity"))).as("m"))
      .select(col("l_returnflag"),
        col("m.l_quantity").as("mode_qty"),
        col("m.cnt").as("mode_n"))
      .orderBy("l_returnflag")

  /** W6: edge-of-partition window values — first / last / nth order price
    * per customer over an explicit UNBOUNDED..UNBOUNDED rows frame. The
    * explicit frame matters twice: semantically, the default frame stops
    * at CURRENT ROW so `last_value` would echo the current row; at scale,
    * a full frame is computed once per partition rather than per row.
    * (o_orderdate, o_orderkey) is a unique sort key → deterministic. */
  def windowFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_orderkey")
  }

  /** Attach a GLOBAL 1-based position ordered by (`value`, `tie`) using
    * the two-pass prefix-sum decomposition (same shape as
    * `PipelineOps.rowGlobalIndex`): `bucket` must be monotone in `value`;
    * buckets rank in parallel, bucket counts prefix-sum into offsets.
    * No single-task global window anywhere. */
  private[ops] def withGlobalPos(df: DataFrame, value: Column, bucket: Column,
      tie: Column, posName: String): DataFrame = {
    val d = df.withColumn("_b", bucket)
    val wIn = Window.partitionBy("_b").orderBy(value.asc, tie.asc)
    val wB = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    val off = d.groupBy("_b").agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum(col("_n")).over(wB), lit(0L)))
      .select(col("_b").as("_ob"), col("_off"))
    d.join(broadcast(off), col("_b") === col("_ob"))
      .withColumn(posName, col("_off") + row_number().over(wIn).cast("long"))
      .drop("_b", "_ob", "_off")
  }

  /** SQL ntile(4) from a global position: first (n mod 4) buckets take
    * ceil(n/4) rows — the closed form of the window function, computable
    * from (pos, n) alone. Long division via double is exact (n < 2^53). */
  private[ops] def quartileOf(pos: Column, n: Column): Column = {
    val size = (n / 4).cast("long")
    val rem = (n % 4).cast("long")
    val cut = (size + 1) * rem
    when(pos <= cut, ((pos - 1) / (size + 1)).cast("long") + 1)
      .otherwise(rem + ((pos - 1 - cut) / size).cast("long") + 1)
  }

  /** A17: RFM segmentation — recency / frequency / monetary quartiles per
    * customer, the classic CRM scoring. The per-customer aggregate is one
    * orders-table pass; each quartile needs a GLOBAL rank, which here is
    * the two-pass prefix-sum position ([[withGlobalPos]]) plus the
    * closed-form ntile ([[quartileOf]]) — the oracle's three global
    * `ntile(4)` windows are each a single-task sort at scale, this is
    * none. The as-of date is pinned so re-runs are reproducible. */
  def ordersRfm(s: SparkSession, dir: String): DataFrame = {
    // Deliberately NOT pinned (scan-audit r9, measured): the plan shows
    // nine orders scans (three global-position folds × main +
    // bucket-offset branches + the n_cust broadcast), but each is a
    // 3-column pruned scan feeding a map-side partial agg, and an A/B
    // with `.persist()` on this frame measured 1.71 s vs 1.14 s
    // unpinned at sf0.1 — the materialization barrier costs more than
    // the re-scans (the r6 lesson again: one big action materializes
    // every branch with full parallelism). At 100 TB the same trade
    // holds per-branch scan-side; if orders were an expensive VIEW
    // rather than a table, stage it upstream instead.
    val per = orders(s, dir).groupBy("o_custkey")
      .agg(datediff(lit("1998-12-31").cast("date"), max(col("o_orderdate")))
        .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val pos = Seq[(String, Column, Column)](
      ("r_pos", col("recency_days"), col("recency_days")),
      ("f_pos", col("frequency"), col("frequency")),
      ("m_pos", col("monetary"), floor(col("monetary") / 100000).cast("long")))
      .foldLeft(per) { case (d, (name, v, b)) =>
        withGlobalPos(d, v, b, col("o_custkey"), name)
      }
    pos.crossJoin(broadcast(per.agg(count(lit(1)).as("n_cust"))))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"),
        quartileOf(col("r_pos"), col("n_cust")).as("r_quartile"),
        quartileOf(col("f_pos"), col("n_cust")).as("f_quartile"),
        quartileOf(col("m_pos"), col("n_cust")).as("m_quartile"))
      .orderBy("o_custkey")
  }

  /** W6b: 7-day trailing moving average of daily revenue — the canonical
    * time-series smoothing query. The raw table collapses to ONE row per
    * calendar day first (partial agg map-side, exchange carries days, not
    * rows), so the subsequent global range-frame window runs over a frame
    * bounded by the calendar (~2.5k rows for 7 years) — single-task by
    * construction but on kilobytes, the right trade at any scale. The
    * frame sums exact DECIMALs; the divide-then-round happens once per
    * day, identically in the oracle. */
  def ordersRevenueMa7(s: SparkSession, dir: String): DataFrame = {
    val daily = orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("rev_dec"))
      .withColumn("dn", datediff(col("d"), lit("1992-01-01").cast("date")))
    val w = Window.orderBy("dn").rangeBetween(-6, 0)
    daily
      .select(dateFmt(col("d")).as("day"),
        col("rev_dec").cast("double").as("revenue"),
        r6(sum(col("rev_dec")).over(w).cast("double") / count(lit(1)).over(w))
          .as("ma7"))
      .orderBy("day")
  }

  /** A19: market-basket co-occurrence with lift — which part pairs ship
    * together more often than independence predicts. Pairs are enumerated
    * IN PLACE per order (posexplode + slice over the order's sorted item
    * array — bounded by TPC-H's ≤7 lines/order), never via a self-join:
    * the classic `items a JOIN items b ON same order` doubles the shuffle
    * and explodes skewed orders quadratically; the array form shuffles each
    * order once and fans out only the pairs themselves. Item frequencies
    * are a parts-cardinality side — broadcast here; at a scale where the
    * part dim outgrows broadcast, the two enrichment joins shuffle on the
    * pair columns instead (pairs ≫ parts either way). lift =
    * (pair_n · n_orders) / (n_a · n_b), exact-integer numerator first so
    * one double divide is the only FP step. */
  /** Shared co-occurrence edge derivation (review r11 — was duplicated
    * inline by [[graphTriangles]], whose oracle DEFINES its edge set as
    * this pair set): distinct (order, part) rows → sorted basket array →
    * bucket-local i<j pair fan-out → support ≥ 2 filter. Returns
    * (part_a, part_b, pair_n). */
  private def coOccurrencePairs(s: SparkSession, dir: String): DataFrame =
    pairsFromBaskets(basketsOf(s, dir))

  /** Sorted per-order basket arrays (ALL orders, single-item ones
    * included — [[basketPairs]]' n_orders denominator counts them). */
  private def basketsOf(s: SparkSession, dir: String): DataFrame =
    // ONE exchange on l_orderkey serves both the distinct and the basket
    // groupBy (optimization r14, guide §2.4): hash-partitioning on the
    // orderkey already co-locates equal (orderkey, partkey) tuples, so
    // the distinct aggregates in place and the collect_set reuses the
    // same partitioning — the unkeyed form paid a second fact-scale
    // exchange between them.
    lineitem(s, dir).select("l_orderkey", "l_partkey")
      .repartition(col("l_orderkey"))
      .distinct()
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ids"))

  /** Bucket-local i<j pair fan-out + support filter over a basket table
    * — split from [[coOccurrencePairs]] (optimization r13) so
    * [[basketPairs]] can derive pairs from its own PINNED basket frame
    * instead of re-deriving the distinct+collect_set subtree. */
  private def pairsFromBaskets(baskets: DataFrame): DataFrame =
    baskets
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "part_a")))
      .select(col("part_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("pair_n"))
      .filter(col("pair_n") >= 2)

  def basketPairs(s: SparkSession, dir: String): DataFrame = {
    // ONE pinned basket frame feeds all four consumers (optimization
    // r13): the captured before-plan re-derived the lineitem
    // distinct+collect_set subtree FOUR times (pairs, freq ×2, total —
    // 4 lineitem scans, 33 MB shuffle). The basket table is
    // order-cardinality scalars+arrays (≪ the pair fan-out), item
    // frequency falls out of it by exploding the distinct per-order
    // arrays (identical to the distinct-item groupBy by construction),
    // and n_orders is its row count. At cluster scale this pin is the
    // staged basket intermediate the 100 TB job would write anyway.
    // Pin via DedupOps.truncate (ADVICE r13): reliable checkpoint() when
    // a checkpoint dir is configured — under a multi-JVM master an
    // executor loss must not leave the pinned frame unrecoverable (bare
    // localCheckpoint blocks die with their executor). No downstream
    // consumer joins/groups on the basket key (freq keys on
    // part, pairs on (a, b)), so partitioning preservation buys nothing,
    // and the A/B showed the checkpointed form's identical freq
    // broadcast subtrees runtime-reuse better (35.8 vs 45.1 MB sweep
    // shuffle under the rejected persist pin).
    val baskets = DedupOps.truncate(basketsOf(s, dir))
    val pairs = pairsFromBaskets(baskets)
    val freq = baskets.select(explode(col("ids")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
    val total = baskets.agg(count(lit(1)).as("n_orders"))
    pairs
      .join(broadcast(freq.select(col("l_partkey").as("part_a"), col("n").as("n_a"))), "part_a")
      .join(broadcast(freq.select(col("l_partkey").as("part_b"), col("n").as("n_b"))), "part_b")
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("pair_n"),
        r6((col("pair_n") * col("n_orders")).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
      .orderBy("part_a", "part_b")
  }

  /** K7: SCD Type-2 period build — collapse each customer's order-priority
    * history into contiguous validity periods (valid_from inclusive,
    * valid_to exclusive, open-ended for the current run). Gaps-and-islands:
    * a lag-change flag prefix-sums into a run id (one window pass), runs
    * aggregate to periods, and a second lead window chains each period to
    * its successor's start. Both windows partition by customer — the data
    * never leaves its per-customer partition after the first shuffle. */
  def scd2Priority(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
    val runs = orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"), col("o_orderpriority").as("prio"))
      .withColumn("chg",
        when(lag(col("prio"), 1).over(w).isNull ||
          lag(col("prio"), 1).over(w) =!= col("prio"), 1L).otherwise(0L))
      .withColumn("run", sum(col("chg")).over(w))
    val wp = Window.partitionBy("o_custkey").orderBy("run")
    runs.groupBy("o_custkey", "run", "prio")
      .agg(min(col("d")).as("from_d"), count(lit(1)).as("n_orders"))
      .withColumn("next_from", lead(col("from_d"), 1).over(wp))
      .select(col("o_custkey"), col("run").as("period_seq"),
        col("prio").as("priority"), col("n_orders"),
        dateFmt(col("from_d")).as("valid_from"),
        dateFmt(col("next_from")).as("valid_to"),
        col("next_from").isNull.as("is_current"))
      .orderBy("o_custkey", "period_seq")
  }

  /** D1: one-pass table profiler — per-column null count, exact distinct,
    * min/max (stringified) for the orders table. All six columns profile in
    * a SINGLE scan: one multi-count-distinct aggregate (Catalyst's Expand
    * handles the distinct fan-out with partial aggregation), then the 1-row
    * result explodes into one row per column driver-side-free. Numerics
    * stringify through DECIMAL so both engines print identically. */
  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    def p(name: String, c: Column, minS: Column, maxS: Column): Column =
      struct(lit(name).as("column_name"),
        (count(lit(1)) - count(c)).as("n_nulls"),
        countDistinct(c).as("n_distinct"), minS.as("min_val"), maxS.as("max_val"))
    def dec2(c: Column): Column = c.cast("decimal(18,2)").cast("string")
    val one = o.agg(array(
      p("o_custkey", col("o_custkey"),
        min(col("o_custkey")).cast("string"), max(col("o_custkey")).cast("string")),
      p("o_orderdate", col("o_orderdate"),
        dateFmt(min(to_date(col("o_orderdate")))), dateFmt(max(to_date(col("o_orderdate"))))),
      p("o_orderkey", col("o_orderkey"),
        min(col("o_orderkey")).cast("string"), max(col("o_orderkey")).cast("string")),
      p("o_orderpriority", col("o_orderpriority"),
        min(col("o_orderpriority")), max(col("o_orderpriority"))),
      p("o_orderstatus", col("o_orderstatus"),
        min(col("o_orderstatus")), max(col("o_orderstatus"))),
      p("o_totalprice", col("o_totalprice"),
        dec2(min(col("o_totalprice"))), dec2(max(col("o_totalprice"))))).as("cols"))
    one.select(explode(col("cols")).as("c")).select("c.*").orderBy("column_name")
  }

  /** SQL-4 (TPC-H Q6 shape): the forecast-revenue-change single-row
    * aggregate — a pure scan+filter+agg with NO join and NO groupBy keys,
    * the canonical predicate-pushdown / whole-stage-codegen microbench. At
    * scale the shipdate range predicate prunes row groups via parquet
    * min/max stats before any row is materialized; the revenue product
    * carries ≤ 4 true decimal digits so the DECIMAL(25,6) snap is exact
    * (same argument as [[sqlPricingSummary]]). */
  def sqlForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)
  }

  /** A18b: Pearson correlation per group from EXACT moment sums — n, Σx,
    * Σy, Σxy, Σx², Σy² accumulate as DECIMALs (one hash-agg pass,
    * partition-order-independent) and the closed-form r is a single
    * double expression over the six exact sums, written identically in
    * the oracle. Stock `corr()` merges double co-moment partials in
    * nondeterministic order — fine statistically, but not byte-stable
    * across re-runs/backfills, which the moment-sum form is. */
  def aggCorrelation(s: SparkSession, dir: String): DataFrame = {
    def d(c: Column): Column = sum(c.cast("decimal(25,6)")).cast("double")
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), d(x).as("sx"), d(y).as("sy"),
        d(x * y).as("sxy"), d(x * x).as("sxx"), d(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** A20: cohort LTV curve — customers grouped by first-order month,
    * revenue accumulated by months-since-acquisition. The cohort month is
    * a window `min` over the customer partition (ONE shuffle on custkey,
    * same trick as events_retention), the (cohort × month-offset) agg is
    * output-scale, and the cumulative sum runs per cohort over exact
    * DECIMAL revenue — at 100 TB the running-sum window partitions by
    * cohort (≤ a few hundred rows each), never globally. */
  def ordersCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val wc = Window.partitionBy("o_custkey")
    val monthIdx = (c: Column) => year(c) * 12 + month(c)
    val cum = Window.partitionBy("cohort_month").orderBy("m_since")
    orders(s, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice"))
      .withColumn("cohort_d", min(col("d")).over(wc))
      .groupBy(date_format(col("cohort_d"), "yyyy-MM").as("cohort_month"),
        (monthIdx(col("d")) - monthIdx(col("cohort_d"))).cast("long").as("m_since"))
      .agg(sum(col("o_totalprice").cast("decimal(25,6)")).as("rev_dec"),
        countDistinct(col("o_custkey")).as("n_cust"))
      .select(col("cohort_month"), col("m_since"), col("n_cust"),
        col("rev_dec").cast("double").as("revenue"),
        sum(col("rev_dec")).over(cum).cast("double").as("cum_revenue"))
      .orderBy("cohort_month", "m_since")
  }

  /** A18c: per-group OLS fit (slope/intercept) from the same exact DECIMAL
    * moment sums as [[aggCorrelation]] — one hash-agg pass, byte-stable.
    * The raw slope is computed ONCE and reused unrounded inside the
    * intercept (identical expression tree in the oracle) so both derived
    * measures are bit-identical before the defensive 6-dp snap. */
  def aggLinregress(s: SparkSession, dir: String): DataFrame = {
    def d(c: Column): Column = sum(c.cast("decimal(25,6)")).cast("double")
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), d(x).as("sx"), d(y).as("sy"),
        d(x * y).as("sxy"), d(x * x).as("sxx"))
      .withColumn("slope_raw",
        (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
      .select(col("l_returnflag"), col("n"),
        r6(col("slope_raw")).as("slope"),
        r6((col("sy") - col("slope_raw") * col("sx")) / col("n")).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** SQL-5 (TPC-H Q10 shape): returned-item revenue ranking — 4-way join
    * (customer ⋈ orders ⋈ lineitem ⋈ nation) + quarter filter + group +
    * top-20. Exercises Catalyst join reordering and pushdown through the
    * SQL path: the orderdate range and returnflag predicates reach their
    * scans, nation broadcasts, and the final sort is
    * TakeOrderedAndProject — never a global sort. Revenue snaps exactly
    * (≤ 4 true decimal digits, see [[sqlPricingSummary]]); c_custkey
    * tiebreaks the revenue order so the cut is deterministic. */
  def sqlReturnedItems(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT c.c_custkey, c.c_name,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin)
  }

  /** §2.14: typed arbitrary per-group logic — `KeyValueGroupedDataset
    * .mapGroups` computing each customer's inter-order gap profile
    * (count, max gap, mean gap in days). The group's dates arrive as one
    * iterator after a single co-partitioned shuffle (same physical shape
    * as [[cogroupMerge]]); logic deliberately re-derivable as a lag
    * window so the typed path itself is oracle-checked. Dates travel as
    * epoch-day ints (computed IN the frame, so the JVM default zone never
    * touches them); the mean snaps half-up like [[graft.Tables.r6]]. */
  def mapgroupsOrderGaps(s: SparkSession, dir: String): DataFrame = {
    val sq = s; import sq.implicits._
    orders(s, dir)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date")).as("ed"))
      .as[(Long, Int)]
      .groupByKey(_._1)
      .mapGroups { (k, it) =>
        val ds = it.map(_._2).toArray.sorted
        val gaps = ds.iterator.zip(ds.iterator.drop(1)).map { case (a, b) => (b - a).toLong }.toArray
        val avg = if (gaps.isEmpty) 0.0
          else math.floor(gaps.sum.toDouble / gaps.length * 1e6 + 0.5) / 1e6
        (k, ds.length.toLong, if (gaps.isEmpty) 0L else gaps.max, avg)
      }
      .toDF("o_custkey", "n_orders", "max_gap_days", "avg_gap_days")
      .filter(col("n_orders") >= 2)
      .orderBy("o_custkey")
  }

  /** SQL-6 (TPC-H Q7 shape, full matrix): bilateral trade-flow revenue by
    * (supplier nation, customer nation, ship year) — a 6-way star join
    * where both nation dims broadcast and the fact tables join on their
    * natural keys; output is dimension-bounded (nations² × years), so
    * everything after the joins is output-scale. */
  def sqlVolumeShipping(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM supplier s
        |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  /** SQL-7 (TPC-H Q14 shape): promo-revenue share per ship month —
    * CONDITIONAL aggregation (CASE inside SUM): both the promo and total
    * revenue accumulate in ONE pass over the joined rows, part broadcasts,
    * and the ratio is one double divide per output month. */
  def sqlPromoRevenue(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT date_format(l_shipdate, 'yyyy-MM') AS month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
        |    ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue,
        |  floor((100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
        |      ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(25,6))) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY date_format(l_shipdate, 'yyyy-MM')
        |ORDER BY month""".stripMargin)
  }

  /** SQL-8 (TPC-H Q12 shape): line counts split by order priority class —
    * the canonical CASE-count aggregation (urgent/high vs rest) over the
    * orders⋈lineitem join, grouped by line status with a ship-year filter
    * that pushes to the lineitem scan. */
  def sqlPrioritySplit(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)
  }

  /** SQL-9 (TPC-H Q4 shape): order counts by priority where EXISTS a late
    * lineitem (shipped > 60 days after the order date). Catalyst rewrites
    * the correlated EXISTS into a LEFT SEMI join on o_orderkey — one
    * shuffle, no per-row subquery execution; the quarter filter pushes to
    * the orders scan so only 3 months of orders drive the semi-join. */
  def sqlOrderPriority(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** SQL-10 (TPC-H Q8 shape): one nation's revenue share within a region's
    * market by order year. Six-way star join — both nation dims and region
    * broadcast; the share is conditional-aggregation over ONE pass of the
    * joined rows (numerator and denominator accumulate together, never two
    * scans), ratio = one double divide per output year. */
  def sqlMarketShare(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH eur AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,6)) AS rev,
        |    n2.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  WHERE r.r_name = 'EUROPE')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |    ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS nation_rev,
        |  CAST(sum(rev) AS DOUBLE) AS total_rev,
        |  floor((CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |      ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS mkt_share
        |FROM eur GROUP BY o_year ORDER BY o_year""".stripMargin)
  }

  /** SQL-11 (TPC-H Q13 shape): distribution of customers by order count —
    * LEFT OUTER join so zero-order customers land in the c_count=0 bucket,
    * then a second (tiny, output-scale) aggregation over the per-customer
    * counts. Two shuffles: one on custkey, one on the count value. */
  def sqlCustOrderDist(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)
  }

  /** SQL-12 (TPC-H Q15 shape): the quarter's top revenue supplier(s).
    * Revenue totals go through DECIMAL so the `= max` equality is
    * bit-exact on both engines (a double-summed total could differ in the
    * last ulp and drop the row). The maximum is a window MAX OVER () on
    * the rev table (optimization r14): the scalar-subquery form planned
    * the `rev` CTE twice — two full lineitem scans and two fact-scale
    * suppkey aggregations — where the window form pays one single-task
    * pass over the SUPPLIER-cardinality rev table (dim-scale even at
    * 100 TB; output proven identical against the oracle). Supplier dim
    * broadcasts; the CTE is output-scale (one row/supplier). */
  def sqlTopSupplier(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(25,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev
        |FROM supplier s
        |JOIN (SELECT l_suppkey, total_rev,
        |        MAX(total_rev) OVER () AS max_rev FROM rev) r
        |  ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev = r.max_rev
        |ORDER BY s.s_suppkey""".stripMargin)
  }

  /** SQL-22 (TPC-H Q2 shape, adapted): minimum-cost supplier — for every
    * size-15 part, the European supplier(s) whose cheapest shipped line
    * equals the part's regional minimum. The reference schema has no
    * `partsupp`, so per-(part, supplier) cost derives from lineitem:
    * `MIN(l_extendedprice)` — a pure MIN, never a ratio, so the
    * per-part-minimum equality compares a stored double against itself and
    * cannot straddle an FP edge. The regional minimum is a window MIN
    * PARTITION BY p_partkey over the filtered candidate table
    * (optimization r14): the correlated-subquery form made Catalyst plan
    * the `c` CTE TWICE — two full lineitem scans and two fact-scale
    * (l_partkey, l_suppkey) aggregate shuffles (~38 MB at sf0.1, the
    * whole cost of the query) — where the window form computes `c` once
    * and compares within its own partitions; output proven identical
    * against the oracle. (The correlated-subquery SQL surface itself
    * stays covered by [[subqueryCorrelated]]/[[sqlSmallQtyRevenue]].)
    * The supplier→nation→region dim path broadcasts. */
  def sqlMinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |c AS (
        |  SELECT p.p_partkey, p.p_type, s.s_name, n.n_name, s.s_acctbal,
        |    ps.cost
        |  FROM ps
        |    JOIN part p ON ps.l_partkey = p.p_partkey
        |    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_size = 15)
        |SELECT p_partkey, p_type, s_name, n_name, s_acctbal, cost
        |FROM (SELECT c.*, MIN(cost) OVER (PARTITION BY p_partkey) AS min_cost
        |      FROM c)
        |WHERE cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin)
  }

  /** SQL-13 (TPC-H Q17 shape): revenue lost to small-quantity lines — the
    * correlated "below half this part's average quantity" predicate.
    * Catalyst decorrelates the per-part average into ONE aggregate over
    * lineitem joined back on partkey (never a per-row rescan). The average
    * is an exact decimal sum ÷ count so the `<` threshold comparison can't
    * flip on summation order. */
  def sqlSmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT p.p_brand,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
        |    AS small_qty_revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND l.l_quantity < (
        |    SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(25,6)))
        |      AS DOUBLE) / count(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin)
  }

  /** SQL-14 (TPC-H Q18 shape): large-volume orders — group-HAVING subquery
    * names the qualifying orderkeys (sum qty > 250) AND carries their
    * quantity sums (optimization r14): the IN-subquery form aggregated
    * lineitem by orderkey twice — once for the semi-join membership and
    * once for the displayed sum — i.e. two full lineitem scans and two
    * fact-scale orderkey shuffles. One HAVING-filtered aggregate now
    * feeds the (tiny, output-scale) join to orders + customer; each
    * order is one orders row with one customer, so re-summing after the
    * join was the identity. Output proven identical against the oracle.
    * Quantity sums are DECIMAL so the HAVING threshold is
    * partition-order-independent. */
  def sqlLargeOrders(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(25,6))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 250)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  CAST(o.o_orderdate AS STRING) AS o_orderdate, o.o_totalprice,
        |  CAST(b.qty AS DOUBLE) AS sum_qty
        |FROM big b
        |JOIN orders o ON o.o_orderkey = b.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin)
  }

  /** SQL-15 (TPC-H Q19 shape): disjunctive OR-of-ANDs join predicates —
    * three (brand × size × quantity) windows in one pass. The equi half
    * (p_partkey = l_partkey) still plans as a hash join; the disjunction
    * stays a residual filter evaluated inside codegen, and per-branch
    * revenue splits out via conditional aggregation keyed by returnflag. */
  def sqlDisjunctiveJoin(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT l.l_returnflag,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |    AND l.l_quantity BETWEEN 1 AND 11)
        |  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |    AND l.l_quantity BETWEEN 10 AND 20)
        |  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |    AND l.l_quantity BETWEEN 20 AND 30)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin)
  }

  /** SQL-16 (TPC-H Q22 shape, idle-customer variant): well-funded customers
    * with NO recent orders, by nation. The reference schema has no phone
    * column and every customer has SOME order, so "idle" = no order since
    * 2000-01-01 — same NOT EXISTS → LEFT ANTI join plan as Q22, with the
    * date filter pushed into the anti-join's build side. The balance
    * threshold is a scalar subquery (decimal-exact average over positive
    * balances) broadcast to every row. */
  def sqlIdleCustomers(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT n.n_name, count(*) AS numcust,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > (
        |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |      / count(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
  }

  /** SQL-17 (TPC-H Q9 shape): profit by supplier nation × order year. The
    * reference schema has no partsupp, so supply cost is the surrogate
    * `0.5 * p_retailprice` — the plan shape is what matters: a 5-way join
    * where part (filtered by the LIKE) and the two tiny dims broadcast,
    * lineitem⋈orders is the one big shuffle, and the profit expression
    * folds into a single codegen'd project before the group-by. */
  def sqlNationProfit(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    - 0.5 * p.p_retailprice * l.l_quantity AS DECIMAL(25,6)))
        |    AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
        |ORDER BY nation, o_year""".stripMargin)
  }

  /** SQL-18 (TPC-H Q11 shape): parts whose revenue (from one nation's
    * suppliers) exceeds 2× the mean part revenue — Q11's
    * value-above-global-threshold shape with a threshold that stays
    * non-degenerate at every scale factor (Q11's literal fraction of the
    * TOTAL empties as part cardinality grows). The CTE aggregates once,
    * the scalar subquery re-reads the (part-cardinality-sized, so cheap)
    * CTE for the global mean, and both comparison sides go decimal-exact
    * → double so the `>` can't flip on summation order. At 100 TB the CTE
    * result is cached/reused by AQE subquery reuse, not recomputed. */
  def sqlImportantParts(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH val AS (
        |  SELECT l.l_partkey, sum(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS v
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  WHERE s.s_nationkey = 3
        |  GROUP BY l.l_partkey)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value
        |FROM val
        |WHERE CAST(v AS DOUBLE) > (SELECT 2.0 * (CAST(sum(v) AS DOUBLE) / count(*)) FROM val)
        |ORDER BY value DESC, l_partkey""".stripMargin)
  }

  /** SQL-19 (TPC-H Q16 shape): supplier count per (brand, size) with a
    * NOT-IN exclusion list. The NOT IN plans as a null-aware anti join
    * against the (tiny, broadcast) bad-supplier list; the distinct count
    * expands per group AFTER the join filter, so excluded suppliers never
    * reach the aggregation. */
  def sqlSupplierCnt(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#5'
        |  AND l.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""".stripMargin)
  }

  /** SQL-20 (TPC-H Q20 shape): suppliers who moved serious volume of PROMO
    * parts in 1997 — nested IN-subqueries (supplier ← lineitem-agg ←
    * part). Both IN's plan as left-semi joins: part's filtered keys
    * broadcast into the lineitem scan, the HAVING agg keys (suppkey)
    * semi-join into supplier. Quantity sums are DECIMAL so the HAVING
    * threshold is partition-order-independent. */
  def sqlPromoSuppliers(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """SELECT s.s_suppkey, s.s_name FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING sum(CAST(l.l_quantity AS DECIMAL(25,6))) > 50)
        |ORDER BY s.s_suppkey""".stripMargin)
  }

  /** SQL-21 (TPC-H Q21 shape): suppliers who were the SOLE late supplier on
    * a finished multi-supplier order ("late" = shipped >60 days after the
    * order date — the schema has no commit/receipt dates). Single-pass
    * window form (optimization r14): the EXISTS / NOT EXISTS pair planned
    * as semi + anti joins that scanned and shuffled lineitem THREE times
    * (~40 MB of exchange at sf0.1 for a 3-row answer). Both predicates
    * are per-order set facts — "another supplier exists on the order" ⟺
    * min/max suppkey ≠ mine; "no OTHER supplier is late" ⟺ the late-line
    * suppkey min and max both equal mine (my own row being late makes
    * them non-null) — so one orderkey-partitioned window over the
    * F-order lines answers both. The status filter lives on the ORDER,
    * so filtering before the window keeps exactly the lines the original
    * EXISTS bodies saw; output proven identical against the oracle. One
    * lineitem pass, one orderkey shuffle, dims broadcast. */
  def sqlLateSuppliers(s: SparkSession, dir: String): DataFrame = {
    registerViews(s, dir)
    s.sql(
      """WITH f AS (
        |  SELECT l.l_orderkey, l.l_suppkey,
        |    CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |      THEN l.l_suppkey END AS late_sup
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |w AS (
        |  SELECT l_orderkey, l_suppkey, late_sup,
        |    min(l_suppkey) OVER (PARTITION BY l_orderkey) AS min_s,
        |    max(l_suppkey) OVER (PARTITION BY l_orderkey) AS max_s,
        |    min(late_sup)  OVER (PARTITION BY l_orderkey) AS min_ls,
        |    max(late_sup)  OVER (PARTITION BY l_orderkey) AS max_ls
        |  FROM f)
        |SELECT s.s_name, count(*) AS numwait
        |FROM w l1
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE n.n_name = 'NATION_3'
        |  AND l1.late_sup IS NOT NULL
        |  AND (l1.min_s <> l1.l_suppkey OR l1.max_s <> l1.l_suppkey)
        |  AND l1.min_ls = l1.l_suppkey AND l1.max_ls = l1.l_suppkey
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 20""".stripMargin)
  }

  /** W8: distribution-position window functions — percent_rank + cume_dist
    * of each customer's balance WITHIN its nation. Partitioned windows
    * (one shuffle on nationkey); both functions are rank-based so ties are
    * deterministic, and the 6-dp snap keeps the double ratios hashable
    * against the oracle. */
  def windowCumeDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
    customer(s, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("pct_rank", r6(percent_rank().over(w)))
      .withColumn("cume", r6(cume_dist().over(w)))
      .orderBy("c_custkey")
  }

  /** A23: Pareto / cumulative-share analysis — customers ranked by total
    * order revenue, with each one's cumulative share of grand revenue and
    * the "top 80%" flag.
    *
    * The per-customer table is corpus-proportional, so (VERDICT r6 class)
    * there is NO global window over it: the rank AND the running revenue
    * sum decompose over a FIXED-cardinality bucket spine — bucket =
    * `(mxl − ⌊rev⌋)·4096 div (mxl+1)` (pure integer arithmetic on the
    * DECIMAL's whole part; monotone non-decreasing along the
    * rev-DESC sort, ≤ 4096 buckets at any revenue range), per-bucket
    * row_number + running DECIMAL sum in parallel, then count/revenue
    * offsets from the ≤4096-row spine broadcast back. DECIMAL addition
    * is associative, so bucket-wise partial sums + offsets equal the
    * naive global running sum EXACTLY — the oracle stays the naive
    * global-window form, proving it. */
  def ordersPareto(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(25, 6)
    val rev = orders(s, dir)
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast(dec)).as("rev"))
    // one column-pruned pass for the bucket bound + grand total
    val bounds = rev.agg(floor(max(col("rev"))).cast("long").as("mxl"),
      sum(col("rev")).as("tot"))
    val bucketed = rev.crossJoin(broadcast(bounds))
      .withColumn("_b", expr(
        s"(mxl - CAST(floor(rev) AS BIGINT)) * ${graft.Tables.SpineBuckets} div (mxl + 1)"))
    val wIn = Window.partitionBy("_b").orderBy(col("rev").desc, col("o_custkey").asc)
    val withPos = bucketed
      .withColumn("rn", row_number().over(wIn).cast("long"))
      .withColumn("cum_in", sum(col("rev")).over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSpine = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy("_b")
      .agg(count(lit(1)).as("bn"), sum(col("rev")).as("brev"))
      .select(col("_b"),
        coalesce(sum(col("bn")).over(wSpine), lit(0L)).as("cnt_before"),
        coalesce(sum(col("brev")).over(wSpine), lit(0).cast(dec)).as("rev_before"))
    withPos.join(broadcast(offs), "_b")
      .withColumn("rk", col("cnt_before") + col("rn"))
      .withColumn("cum_share",
        r6((col("rev_before") + col("cum_in")).cast("double") /
          col("tot").cast("double")))
      .select(col("o_custkey"), col("rev").cast("double").as("revenue"),
        col("rk"), col("cum_share"),
        (col("cum_share") <= 0.8).as("in_top80"))
      .orderBy("rk")
  }

  /** G1: one PageRank push step over the customer→supplier purchase graph
    * (who accumulates influence when every customer splits a unit of rank
    * across the suppliers they buy from). Graph analytics on the
    * relational engine: edges = DISTINCT (custkey, suppkey) via one
    * orders⋈lineitem shuffle; out-degrees are a customer-cardinality agg
    * joined back; rank(s) = 0.15 + 0.85·Σ 1/deg(c). Per-edge 1/deg terms
    * are 6-dp-snapped then DECIMAL-summed so the fold is partition-order
    * independent — the same discipline a multi-step distributed PageRank
    * needs for reproducible convergence checks. k steps = k such passes;
    * the edge list is the reusable (cacheable) invariant. */
  def graphPagerankStep(s: SparkSession, dir: String): DataFrame = {
    // Pinned (optimization r13): deg and the contribution join are two
    // consumers of the same edge list — unpinned, the before-plan
    // derived the orders⋈lineitem distinct TWICE (2 scans of each
    // table, two join+distinct chains). The scaladoc above already
    // calls the edge list "the reusable (cacheable) invariant"; now it
    // actually is. Isolated A/B at sf0.1: 1.42 → 0.83 s.
    // repartition(c) before the distinct (optimization r14): partitioning
    // on c co-locates equal (c, s) tuples, so one exchange serves both
    // the repartition and the distinct inside the pinned subtree
    // (isolated sweep shuffle 23.0 → 20.7 MB). Pin via DedupOps.truncate
    // (ADVICE r13; the partitioning-preserving persist pin was rejected —
    // see the note at the top of this object).
    val edges = DedupOps.truncate(
      orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .repartition(col("c"))
      .distinct())
    val deg = edges.groupBy("c").agg(count(lit(1)).as("d"))
    edges.join(deg, "c")
      .groupBy(col("s").as("s_suppkey"))
      .agg((lit(0.15) + lit(0.85) * dsum(r6(lit(1.0) / col("d"))))
        .as("pagerank"))
      .select(col("s_suppkey"), r6(col("pagerank")).as("pagerank"))
      .orderBy("s_suppkey")
  }

  /** G2: triangle counting on the co-purchase graph
    * ([[graft.api.GraftAPI.triangleCounts]]'s counting core) — part pairs
    * that co-occur in ≥2 orders form the edges (the [[basketPairs]] edge
    * set, already oriented low→high and distinct; the support threshold
    * bounds the edge count). Output: the 20 most triangle-dense parts
    * (participation count), top-k via sort-limit so only k rows pass the
    * final exchange. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // Pinned (optimization r13): the 3-way self-join re-derived the
    // whole co-occurrence subtree once per branch — 3 lineitem scans,
    // 3 ObjectHashAggregate+pair-fan-out chains, 80 MB of sweep shuffle
    // for a query whose edge set is pair-cardinality. One eager
    // materialization; the three join branches read the pinned blocks.
    // (The ordersRfm counter-lesson doesn't apply: these branches are
    // multi-shuffle aggregation chains, not pruned scans.)
    // Pin via DedupOps.truncate (ADVICE r13; persist-pin rejected — see
    // the note at the top of this object).
    val edges = DedupOps.truncate(coOccurrencePairs(s, dir)
      .select(col("part_a").as("a"), col("part_b").as("b")))
    graft.api.GraftAPI.orientedTriangleCounts(edges)
      .select(col("vertex").as("part"), col("n_tri"))
      .orderBy(col("n_tri").desc, col("part").asc)
      .limit(20)
  }

  /** A25: median + median-absolute-deviation per order status — the
    * robust-dispersion pair (outlier-immune where mean/σ are not; the
    * screening stat behind robust z-scores). Two exact interpolated
    * percentile passes: per-group median, broadcast back (group
    * cardinality is tiny), then the median of |x − med|. Each pass is one
    * shuffle on the 3-value status key; at 100 TB swap the exact
    * percentile for `percentile_approx` partials ([[aggApproxPercentile]])
    * — the plan shape is identical. */
  def aggMad(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val med = o.groupBy("o_orderstatus")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"))
    o.join(broadcast(med), "o_orderstatus")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        r6(first(col("med"))).as("median"),
        r6(percentile(abs(col("o_totalprice") - col("med")), lit(0.5))).as("mad"))
      .orderBy("o_orderstatus")
  }

  /** F4: try_* error-handling battery — ANSI-safe variants that yield NULL
    * instead of failing the job: `try_cast` on garbage strings (the
    * reference's coerce-don't-fail semantics,
    * /root/reference/scripts/transform.py:45, generalized), `try_divide`
    * on a constructed zero denominator, `try_add` at the BIGINT overflow
    * boundary, and out-of-bounds `try_element_at`. At 100 TB this is the
    * difference between one poison row killing a 6-hour job and a NULL
    * you can audit later; all four stay inside whole-stage codegen. The
    * oracle mirrors the SEMANTIC outcome (CASE-guarded NULLs) since DuckDB
    * spells the guards differently. */
  def funcTryArith(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"),
        // '1-URGENT' → null; the leading digit parses via substring
        expr("try_cast(o_orderpriority AS INT)").as("prio_bad"),
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
        r6(expr("try_divide(o_totalprice, o_custkey % 3)")).as("div3"),
        expr(s"try_add(o_orderkey, ${Long.MaxValue - 10}L)").as("add_ovf"),
        expr("try_element_at(array(o_orderkey, o_custkey), 3)").as("elem_oob"))
      .orderBy("o_orderkey")

  /** C7b: map higher-order functions — per-customer order-status count
    * map built with `map_from_entries` over a deterministically sorted
    * entry list, then `transform_values` (share of total) and
    * `map_filter` (statuses seen ≥ 2×) composed in one codegen'd
    * projection. Maps are emitted as sorted `k:v` joined strings — map
    * cells don't hash-compare portably across engines ([[mapFuncs]]
    * convention). One hash-agg on (cust, status) + one on cust; both
    * shuffles hash on o_custkey so the second reuses the first's
    * partitioning. */
  def mapHof(s: SparkSession, dir: String): DataFrame = {
    val counts = orders(s, dir)
      .groupBy("o_custkey", "o_orderstatus").agg(count(lit(1)).as("n"))
    counts
      .groupBy("o_custkey")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("o_orderstatus"), col("n")))))
        .as("m"))
      .select(col("o_custkey"),
        aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v).as("total"),
        col("m"))
      .select(col("o_custkey"), col("total"),
        array_join(transform(map_entries(col("m")),
          e => concat(e.getField("key"), lit(":"),
            e.getField("value").cast("string"))), ",").as("status_counts"),
        array_join(transform(map_entries(
            map_filter(col("m"), (_, v) => v >= 2)),
          e => concat(e.getField("key"), lit(":"),
            e.getField("value").cast("string"))), ",").as("repeat_statuses"),
        // shares render through %.6f — raw double→string repr diverges
        // across engines (sci-notation thresholds), fixed-width doesn't
        array_join(transform(map_entries(
            transform_values(col("m"), (_, v) => r6(v.cast("double") / col("total")))),
          e => concat(e.getField("key"), lit(":"),
            format_string("%.6f", e.getField("value")))), ",").as("status_share"))
      .orderBy("o_custkey")
  }

  // ------------------------------------------------------------- inventory

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_mad"             -> aggMad _,
    "func_try_arith"      -> funcTryArith _,
    "map_hof"             -> mapHof _,
    "scan_parquet"        -> scanParquet _,
    "scan_table_star"     -> scanTableStar _,
    "count_star"          -> countStar _,
    "filter_pred"         -> filterPred _,
    "agg_group"           -> aggGroup _,
    "agg_count_distinct"  -> aggCountDistinct _,
    "agg_approx_distinct" -> aggApproxDistinct _,
    "agg_rollup"          -> aggRollup _,
    "agg_collect_list"    -> aggCollectList _,
    "join_broadcast"      -> joinBroadcast _,
    "join_sortmerge"      -> joinSortmerge _,
    "join_outer"          -> joinOuter _,
    "join_semi"           -> joinSemi _,
    "join_anti"           -> joinAnti _,
    "join_range"          -> joinRange _,
    "join_cross"          -> joinCross _,
    "window_rank"         -> windowRank _,
    "window_lag"          -> windowLag _,
    "window_running"      -> windowRunning _,
    "topk_per_group"      -> topkPerGroup _,
    "topk_native"         -> topkNative _,
    "sort_limit"          -> sortLimit _,
    "set_union"           -> setUnion _,
    "set_intersect"       -> setIntersect _,
    "set_except"          -> setExcept _,
    "str_funcs"           -> strFuncs _,
    "date_trunc_agg"      -> dateTruncAgg _,
    "array_explode"       -> arrayExplode _,
    "agg_decimal"         -> aggDecimal _,
    "agg_percentile"      -> aggPercentile _,
    "agg_pivot"           -> aggPivot _,
    "map_funcs"           -> mapFuncs _,
    "sink_parquet_roundtrip" -> sinkParquetRoundtrip _,
    "sink_jdbc_roundtrip"  -> sinkJdbcRoundtrip _,
    "scan_jdbc_partitioned" -> scanJdbcPartitioned _,
    "sink_sorted_layout"  -> sinkSortedLayout _,
    "sink_json_roundtrip" -> sinkJsonRoundtrip _,
    "sink_orc_roundtrip"  -> sinkOrcRoundtrip _,
    "sink_csv_roundtrip"  -> sinkCsvRoundtrip _,
    "sink_zorder_layout"  -> sinkZorderLayout _,
    "scan_merge_schema"   -> scanMergeSchema _,
    "join_dpp"            -> joinDpp _,
    "join_nullsafe"       -> joinNullSafe _,
    "sql_pricing_summary" -> sqlPricingSummary _,
    "sql_reachability"    -> sqlReachability _,
    "agg_approx_percentile" -> aggApproxPercentile _,
    "join_range_binned"   -> joinRangeBinned _,
    "cogroup_merge"       -> cogroupMerge _,
    "agg_hll_sketch_merge" -> aggHllSketchMerge _,
    "agg_kll_quantiles"   -> aggKllQuantiles _,
    "subquery_scalar"     -> subqueryScalar _,
    "subquery_correlated" -> subqueryCorrelated _,
    "sample_hash"         -> sampleHash _,
    "window_ntile"        -> windowNtile _,
    "join_skew_salted"    -> joinSkewSalted _,
    "sql_shipping_priority"   -> sqlShippingPriority _,
    "sql_local_supplier_volume" -> sqlLocalSupplierVolume _,
    "window_range_frame"  -> windowRangeFrame _,
    "str_funcs2"          -> strFuncs2 _,
    "join_bucketed"       -> joinBucketed _,
    "agg_typed_wavg"      -> aggTypedWavg _,
    "date_arith"          -> dateArith _,
    "agg_cube"            -> aggCube _,
    "set_except_all"      -> setExceptAll _,
    "set_intersect_all"   -> setIntersectAll _,
    "agg_grouping_sets"   -> aggGroupingSets _,
    "unpivot_melt"        -> unpivotMelt _,
    "agg_stats"           -> aggStats _,
    "agg_extended_stats"  -> aggExtendedStats _,
    "join_lateral_topk"   -> joinLateralTopk _,
    "sink_partitioned_layout" -> sinkPartitionedLayout _,
    "doc_length_histogram" -> docLengthHistogram _,
    "agg_skew_salted"     -> aggSkewSalted _,
    "agg_arg_minmax"      -> aggArgMinmax _,
    "agg_mode"            -> aggMode _,
    "window_first_last"   -> windowFirstLast _,
    "orders_rfm"          -> ordersRfm _,
    "orders_revenue_ma7"  -> ordersRevenueMa7 _,
    "basket_pairs"        -> basketPairs _,
    "scd2_priority"       -> scd2Priority _,
    "profile_orders"      -> profileOrders _,
    "sql_forecast_revenue" -> sqlForecastRevenue _,
    "agg_correlation"     -> aggCorrelation _,
    "orders_cohort_ltv"   -> ordersCohortLtv _,
    "agg_linregress"      -> aggLinregress _,
    "sql_returned_items"  -> sqlReturnedItems _,
    "mapgroups_order_gaps" -> mapgroupsOrderGaps _,
    "sql_volume_shipping" -> sqlVolumeShipping _,
    "sql_promo_revenue"   -> sqlPromoRevenue _,
    "sql_priority_split"  -> sqlPrioritySplit _,
    "sql_order_priority"  -> sqlOrderPriority _,
    "sql_market_share"    -> sqlMarketShare _,
    "sql_cust_order_dist" -> sqlCustOrderDist _,
    "sql_top_supplier"    -> sqlTopSupplier _,
    "sql_min_cost_supplier" -> sqlMinCostSupplier _,
    "sql_small_qty_revenue" -> sqlSmallQtyRevenue _,
    "sql_large_orders"    -> sqlLargeOrders _,
    "sql_disjunctive_join" -> sqlDisjunctiveJoin _,
    "sql_idle_customers"  -> sqlIdleCustomers _,
    "sql_nation_profit"   -> sqlNationProfit _,
    "sql_important_parts" -> sqlImportantParts _,
    "sql_supplier_cnt"    -> sqlSupplierCnt _,
    "sql_promo_suppliers" -> sqlPromoSuppliers _,
    "sql_late_suppliers"  -> sqlLateSuppliers _,
    "window_cume_dist"    -> windowCumeDist _,
    "orders_pareto"       -> ordersPareto _,
    "graph_pagerank_step" -> graphPagerankStep _,
    "graph_triangles"     -> graphTriangles _,
  )

  val oracleSql: Map[String, String] = Map(
    "agg_mad" ->
      """WITH med AS (
        |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1)
        |SELECT o.o_orderstatus, COUNT(*) AS n,
        |  floor(ANY_VALUE(med) * 1000000 + 0.5) / 1000000 AS median,
        |  floor(quantile_cont(abs(o_totalprice - med), 0.5)
        |    * 1000000 + 0.5) / 1000000 AS mad
        |FROM orders o JOIN med USING (o_orderstatus)
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    "func_try_arith" ->
      """SELECT o_orderkey,
        |  TRY_CAST(o_orderpriority AS INT) AS prio_bad,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_num,
        |  CASE WHEN o_custkey % 3 = 0 THEN NULL
        |    ELSE floor(o_totalprice / (o_custkey % 3) * 1000000 + 0.5) / 1000000
        |  END AS div3,
        |  CASE WHEN o_orderkey > 10 THEN NULL
        |    ELSE o_orderkey + 9223372036854775797 END AS add_ovf,
        |  CAST(NULL AS BIGINT) AS elem_oob
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "map_hof" ->
      """WITH c AS (
        |  SELECT o_custkey, o_orderstatus AS st, COUNT(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT o_custkey, SUM(n) AS total FROM c GROUP BY 1)
        |SELECT c.o_custkey, CAST(ANY_VALUE(total) AS BIGINT) AS total,
        |  string_agg(st || ':' || n, ',' ORDER BY st) AS status_counts,
        |  COALESCE(string_agg(CASE WHEN n >= 2 THEN st || ':' || n END, ','
        |    ORDER BY st), '') AS repeat_statuses,
        |  string_agg(st || ':' ||
        |    printf('%.6f', floor(CAST(n AS DOUBLE) / total * 1000000 + 0.5)
        |      / 1000000), ',' ORDER BY st) AS status_share
        |FROM c JOIN t USING (o_custkey)
        |GROUP BY c.o_custkey ORDER BY c.o_custkey""".stripMargin,
    "scan_parquet" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,
    "scan_table_star" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "count_star" ->
      "SELECT count(*) AS cnt FROM lineitem",
    "filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_ord,
        |  COUNT(DISTINCT l_partkey) AS n_part
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_collect_list" ->
      """SELECT c_nationkey, string_agg(c_name, ',' ORDER BY c_name) AS names
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "join_broadcast" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_sortmerge" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "join_outer" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin,
    "join_range" ->
      """SELECT c_custkey, c_acctbal, tier
        |FROM customer JOIN (VALUES (-100000.0, 2500.0, 'low'),
        |  (2500.0, 5000.0, 'mid'), (5000.0, 100000.0, 'high')) t(lo, hi, tier)
        |ON c_acctbal >= lo AND c_acctbal < hi
        |ORDER BY c_custkey""".stripMargin,
    "cogroup_merge" ->
      """SELECT c_custkey, c_acctbal,
        |  COUNT(o_orderkey) AS n_orders,
        |  COALESCE(MAX(o_totalprice), 0.0) AS max_price
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_acctbal
        |ORDER BY c_custkey""".stripMargin,
    "join_range_binned" ->
      """WITH bands AS (
        |  SELECT band_id, band_id * 50.0 AS lo, band_id * 50.0 + 100.0 AS hi
        |  FROM range(0, 1000) t(band_id))
        |SELECT band_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN bands
        |  ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "join_cross" ->
      """SELECT r_regionkey, r_name, status
        |FROM region CROSS JOIN
        |  (SELECT DISTINCT o_orderstatus AS status FROM orders) s
        |ORDER BY r_regionkey, status""".stripMargin,
    "window_rank" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,
    "window_lag" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_orderkey""".stripMargin,
    "window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rn
        |  FROM orders) q
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "topk_native" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) q
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "sort_limit" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin,
    "set_union" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "set_intersect" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "set_except" ->
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY k""".stripMargin,
    "str_funcs" ->
      """SELECT p_partkey, lower(p_name) AS lname,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substring(p_name, 1, 5) AS prefix,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words,
        |  regexp_extract(p_name, '([a-z]+)', 1) AS first_alpha
        |FROM part ORDER BY p_partkey""".stripMargin,
    "date_trunc_agg" ->
      """SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "array_explode" ->
      """SELECT p_partkey,
        |  CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS pos,
        |  unnest(t) AS word
        |FROM (SELECT p_partkey, string_split(p_name, ' ') AS t FROM part)
        |ORDER BY p_partkey, pos""".stripMargin,
    "agg_decimal" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_price,
        |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 1000000 + 0.5) / 1000000 AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Calibration-audit oracles (VERDICT r5 #4): the sketch ESTIMATE is
    // engine-specific, but the exact values and the tolerance bit are
    // deterministic — the oracle asserts `true` and a false bit from
    // Spark hash-mismatches.
    "agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_ord,
        |  true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_approx_percentile" ->
      """SELECT l_returnflag,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 1000000 + 0.5) / 1000000 AS p95,
        |  true AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sql_reachability" ->
      """WITH RECURSIVE reach(node, lvl) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS lvl
        |  UNION ALL
        |  SELECT e.dst, r.lvl + 1 FROM reach r
        |  JOIN (
        |    SELECT CAST(n_nationkey AS BIGINT) AS src,
        |           CAST((2 * n_nationkey + 1) % 25 AS BIGINT) AS dst FROM nation
        |    UNION ALL
        |    SELECT CAST(n_nationkey AS BIGINT),
        |           CAST((3 * n_nationkey + 2) % 25 AS BIGINT) FROM nation
        |  ) e ON e.src = r.node
        |  WHERE r.lvl < 4
        |)
        |SELECT node, CAST(min(lvl) AS BIGINT) AS first_level,
        |  CAST(count(*) AS BIGINT) AS n_paths
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "agg_kll_quantiles" ->
      """SELECT l_returnflag, count(*) AS n,
        |  floor(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) / 1000000 AS p50,
        |  floor(quantile_cont(l_extendedprice, 0.95) * 1000000 + 0.5) / 1000000 AS p95,
        |  true AS kll_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_hll_sketch_merge" ->
      """SELECT coalesce(strftime(date_trunc('month', o_orderdate), '%Y-%m'), 'ALL') AS month,
        |  count(DISTINCT o_custkey) AS exact_customers,
        |  true AS hll_ok
        |FROM orders
        |GROUP BY ROLLUP (strftime(date_trunc('month', o_orderdate), '%Y-%m'))
        |ORDER BY month""".stripMargin,
    "agg_pivot" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS "A",
        |  CAST(SUM(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS "N",
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS "R"
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "map_funcs" ->
      """SELECT n_nationkey,
        |  map_extract(m, 'nation')[1] AS nation_v,
        |  map_extract(m, 'region')[1] AS region_v,
        |  CAST(cardinality(m) AS BIGINT) AS m_size
        |FROM (SELECT n_nationkey,
        |    map(['nation', 'region'], [n_name, r_name]) AS m
        |  FROM nation JOIN region ON n_regionkey = r_regionkey)
        |ORDER BY n_nationkey""".stripMargin,
    "sink_parquet_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_quantity > 40
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sink_jdbc_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // The JDBC hop must be lossless: oracle = the parquet scan itself.
    "scan_jdbc_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "subquery_scalar" ->
      """SELECT l_returnflag, COUNT(*) AS n_above
        |FROM lineitem
        |WHERE l_extendedprice > (
        |  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
        |         / COUNT(l_extendedprice) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "subquery_correlated" ->
      """SELECT c_custkey, c_nationkey, c_acctbal
        |FROM customer o
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(i.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |                          / count(i.c_acctbal)
        |                   FROM customer i
        |                   WHERE i.c_nationkey = o.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "sink_json_roundtrip" ->
      """SELECT c_mktsegment, COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS sum_key
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "sink_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "scan_merge_schema" ->
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |       ELSE '<pre-evolution>' END AS prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin,
    "sink_zorder_layout" ->
      """SELECT l_partkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000 AND l_partkey BETWEEN 100 AND 500
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin,
    "sink_csv_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "sql_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
        |  floor(CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_qty,
        |  floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_price,
        |  floor(CAST(sum(CAST(l_discount AS DECIMAL(25,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_nullsafe" ->
      """WITH a AS (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS k FROM customer),
        |b AS (SELECT n_nationkey, nullif(n_nationkey % 5, 4) AS k FROM nation)
        |SELECT COALESCE(a.k, -1) AS k, count(*) AS n_pairs,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_nk
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |GROUP BY 1 ORDER BY k""".stripMargin,
    "join_dpp" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m') AS om
        |  FROM orders),
        |d AS (
        |  SELECT DISTINCT om AS m FROM f
        |  WHERE CAST(string_split(om, '-')[2] AS INT) BETWEEN 4 AND 6)
        |SELECT om, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM f JOIN d ON om = m
        |GROUP BY om ORDER BY om""".stripMargin,
    "sink_partitioned_layout" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    "sink_sorted_layout" ->
      """SELECT l_orderkey % 7 AS g, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY 1 ORDER BY g""".stripMargin,
    "sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE CAST('0x' || substring(md5(o_orderkey::VARCHAR), 1, 4) AS BIGINT) % 10 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "set_except_all" ->
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders
        |  EXCEPT ALL
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY k ORDER BY k""".stripMargin,
    "set_intersect_all" ->
      """SELECT k, COUNT(*) AS n FROM (
        |  SELECT o_custkey AS k FROM orders
        |  INTERSECT ALL
        |  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
        |GROUP BY k ORDER BY k""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "unpivot_melt" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "join_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "agg_extended_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s4,
        |    bool_and(l_quantity > 1) AS all_multi,
        |    bool_or(l_quantity >= 50) AS any_cap,
        |    count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |    CAST(bit_and(l_linenumber) AS BIGINT) AS bits_and,
        |    CAST(bit_or(l_linenumber) AS BIGINT) AS bits_or,
        |    CAST(bit_xor(l_linenumber) AS BIGINT) AS bits_xor
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, all_multi, any_cap, n_disc, bits_and, bits_or, bits_xor,
        |  floor((s3/n - 3*(s1/n)*(s2/n) + 2*(s1/n)*(s1/n)*(s1/n))
        |    / ((s2/n - (s1/n)*(s1/n)) * sqrt(s2/n - (s1/n)*(s1/n)))
        |    * 1000000 + 0.5) / 1000000 AS skew_q,
        |  floor(((s4/n - 4*(s1/n)*(s3/n) + 6*(s1/n)*(s1/n)*(s2/n) - 3*(s1/n)*(s1/n)*(s1/n)*(s1/n))
        |    / ((s2/n - (s1/n)*(s1/n)) * (s2/n - (s1/n)*(s1/n))) - 3)
        |    * 1000000 + 0.5) / 1000000 AS kurt_q
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  floor(stddev_samp(l_discount) * 1000000 + 0.5) / 1000000 AS sd_disc,
        |  floor(corr(l_quantity, l_extendedprice) * 1000000 + 0.5) / 1000000 AS corr_qty_price,
        |  floor(covar_samp(l_quantity, l_discount) * 1000000 + 0.5) / 1000000 AS cov_qty_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "doc_length_histogram" ->
      """SELECT CAST(floor(n_chars / 100) AS BIGINT) AS bucket_100, COUNT(*) AS n
        |FROM documents GROUP BY 1 ORDER BY bucket_100""".stripMargin,
    "agg_typed_wavg" ->
      """SELECT l_returnflag,
        |  floor(CAST(SUM(CAST(round(l_extendedprice, 6) AS DECIMAL(25,6))
        |      * CAST(round(l_quantity, 6) AS DECIMAL(25,6))) AS DOUBLE)
        |    / CAST(SUM(CAST(round(l_quantity, 6) AS DECIMAL(25,6))) AS DOUBLE)
        |    * 1000000 + 0.5) / 1000000 AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sql_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS VARCHAR) AS o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "sql_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "window_range_frame" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
        |    RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS peers_1k
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "str_funcs2" ->
      """SELECT p_partkey,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
        |  lpad(p_brand, 12, '#') AS brand_pad,
        |  reverse(p_type) AS type_rev,
        |  trim('  ' || p_brand || '  ') AS trimmed,
        |  upper(p_name) AS upper_name,
        |  translate(p_type, 'AEIOU', 'aeiou') AS lower_vowels
        |FROM part ORDER BY p_partkey""".stripMargin,
    "join_skew_salted" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "window_ntile" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  floor((percent_rank() OVER w) * 1000000 + 0.5) / 1000000 AS pct_rank,
        |  floor((cume_dist() OVER w) * 1000000 + 0.5) / 1000000 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_custkey""".stripMargin,
    "date_arith" ->
      """SELECT o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS d,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS d_plus30,
        |  CAST(datediff('day', o_orderdate, DATE '1995-01-01') AS BIGINT) AS days_to_95,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // The salt is semantically transparent: the oracle is the UNsalted agg.
    "agg_skew_salted" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_arg_minmax" ->
      """SELECT c_nationkey,
        |  (array_agg(c_custkey ORDER BY c_acctbal DESC, c_custkey DESC))[1] AS richest_cust,
        |  max(c_acctbal) AS max_bal,
        |  (array_agg(c_custkey ORDER BY c_acctbal ASC, c_custkey ASC))[1] AS poorest_cust,
        |  min(c_acctbal) AS min_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  (array_agg(l_quantity ORDER BY cnt DESC, l_quantity DESC))[1] AS mode_qty,
        |  MAX(cnt) AS mode_n
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Oracle uses the three single-task ntile windows the two-pass
    // decomposition replaces — matching them proves the decomposition.
    "orders_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    CAST(datediff('day', max(o_orderdate), DATE '1998-12-31') AS BIGINT)
        |      AS recency_days,
        |    COUNT(*) AS frequency,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY o_custkey)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS BIGINT) AS r_quartile,
        |  CAST(ntile(4) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_quartile,
        |  CAST(ntile(4) OVER (ORDER BY monetary, o_custkey) AS BIGINT) AS m_quartile
        |FROM per ORDER BY o_custkey""".stripMargin,
    "window_first_last" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderkey""".stripMargin,
    "orders_revenue_ma7" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec
        |  FROM orders GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  floor((CAST(SUM(rev_dec) OVER w AS DOUBLE) / (COUNT(*) OVER w))
        |    * 1000000 + 0.5) / 1000000 AS ma7
        |FROM daily
        |WINDOW w AS (ORDER BY datediff('day', DATE '1992-01-01', d)
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,
    // The in-place per-order pair enumeration is semantically the i<j
    // self-join — the oracle uses the join form it replaces.
    "basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS pair_n
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |freq AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY 1),
        |total AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items)
        |SELECT part_a, part_b, pair_n,
        |  floor((CAST(pair_n * n_orders AS DOUBLE) / (fa.n * fb.n))
        |    * 1000000 + 0.5) / 1000000 AS lift
        |FROM pairs
        |  JOIN freq fa ON pairs.part_a = fa.l_partkey
        |  JOIN freq fb ON pairs.part_b = fb.l_partkey
        |  CROSS JOIN total
        |ORDER BY part_a, part_b""".stripMargin,
    "scd2_priority" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |    o_orderpriority AS prio FROM orders),
        |c AS (SELECT *, CASE WHEN lag(prio) OVER w IS NULL
        |    OR lag(prio) OVER w <> prio THEN 1 ELSE 0 END AS chg
        |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
        |r AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey
        |    ORDER BY d, o_orderkey) AS run FROM c),
        |p AS (SELECT o_custkey, CAST(run AS BIGINT) AS period_seq, prio,
        |    MIN(d) AS from_d, COUNT(*) AS n_orders
        |  FROM r GROUP BY 1, 2, 3),
        |f AS (SELECT *, lead(from_d) OVER (PARTITION BY o_custkey
        |    ORDER BY period_seq) AS next_from FROM p)
        |SELECT o_custkey, period_seq, prio AS priority, n_orders,
        |  strftime(from_d, '%Y-%m-%d') AS valid_from,
        |  strftime(next_from, '%Y-%m-%d') AS valid_to,
        |  next_from IS NULL AS is_current
        |FROM f ORDER BY o_custkey, period_seq""".stripMargin,
    "profile_orders" ->
      """SELECT * FROM (
        |  SELECT 'o_custkey' AS column_name,
        |    COUNT(*) - COUNT(o_custkey) AS n_nulls,
        |    COUNT(DISTINCT o_custkey) AS n_distinct,
        |    CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
        |    CAST(MAX(o_custkey) AS VARCHAR) AS max_val FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
        |    COUNT(DISTINCT o_orderdate),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d') FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', COUNT(*) - COUNT(o_orderkey),
        |    COUNT(DISTINCT o_orderkey),
        |    CAST(MIN(o_orderkey) AS VARCHAR),
        |    CAST(MAX(o_orderkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    MIN(o_orderpriority), MAX(o_orderpriority) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    MIN(o_orderstatus), MAX(o_orderstatus) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM orders
        |) ORDER BY column_name""".stripMargin,
    "sql_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
        |    AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "agg_correlation" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  floor(((n * sxy - sx * sy) /
        |    sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
        |    * 1000000 + 0.5) / 1000000 AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "orders_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice,
        |    MIN(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey) AS cohort_d
        |  FROM orders),
        |g AS (
        |  SELECT strftime(cohort_d, '%Y-%m') AS cohort_month,
        |    CAST((year(d) * 12 + month(d))
        |      - (year(cohort_d) * 12 + month(cohort_d)) AS BIGINT) AS m_since,
        |    SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS rev_dec,
        |    COUNT(DISTINCT o_custkey) AS n_cust
        |  FROM o GROUP BY 1, 2)
        |SELECT cohort_month, m_since, n_cust,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(SUM(rev_dec) OVER (PARTITION BY cohort_month ORDER BY m_since)
        |    AS DOUBLE) AS cum_revenue
        |FROM g ORDER BY cohort_month, m_since""".stripMargin,
    "agg_linregress" ->
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY l_returnflag),
        |s AS (SELECT *,
        |    (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_raw FROM m)
        |SELECT l_returnflag, n,
        |  floor(slope_raw * 1000000 + 0.5) / 1000000 AS slope,
        |  floor(((sy - slope_raw * sx) / n) * 1000000 + 0.5) / 1000000 AS intercept
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "sql_returned_items" ->
      """SELECT c.c_custkey, c.c_name,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  c.c_acctbal, n.n_name
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        |ORDER BY revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin,
    "mapgroups_order_gaps" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d FROM orders),
        |g AS (SELECT o_custkey,
        |    datediff('day', lag(d) OVER (PARTITION BY o_custkey ORDER BY d), d)
        |      AS gap
        |  FROM o),
        |a AS (SELECT o_custkey, COUNT(*) AS n_orders FROM o GROUP BY 1),
        |gg AS (SELECT o_custkey, MAX(gap) AS max_gap,
        |    SUM(gap) AS sgap, COUNT(gap) AS ngap
        |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
        |SELECT a.o_custkey, a.n_orders,
        |  CAST(gg.max_gap AS BIGINT) AS max_gap_days,
        |  floor((gg.sgap::DOUBLE / gg.ngap) * 1000000 + 0.5) / 1000000
        |    AS avg_gap_days
        |FROM a JOIN gg USING (o_custkey)
        |WHERE a.n_orders >= 2 ORDER BY o_custkey""".stripMargin,
    "sql_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM supplier s
        |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "sql_promo_revenue" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |  CAST(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
        |    ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue,
        |  floor((100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))
        |      ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        |    / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(25,6))) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |    AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY strftime(l_shipdate, '%Y-%m')
        |ORDER BY month""".stripMargin,
    "sql_priority_split" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "sql_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "sql_market_share" ->
      """WITH eur AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(25,6)) AS rev,
        |    n2.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |  WHERE r.r_name = 'EUROPE')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |    ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE) AS nation_rev,
        |  CAST(sum(rev) AS DOUBLE) AS total_rev,
        |  floor((CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |      ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
        |    / CAST(sum(rev) AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |    AS mkt_share
        |FROM eur GROUP BY o_year ORDER BY o_year""".stripMargin,
    "sql_cust_order_dist" ->
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "sql_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(25,6))) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s.s_suppkey, s.s_name, r.total_rev
        |FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s.s_suppkey""".stripMargin,
    "sql_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |c AS (
        |  SELECT p.p_partkey, p.p_type, s.s_name, n.n_name, s.s_acctbal,
        |    ps.cost
        |  FROM ps
        |    JOIN part p ON ps.l_partkey = p.p_partkey
        |    JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    JOIN region r ON n.n_regionkey = r.r_regionkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_size = 15)
        |SELECT p_partkey, p_type, s_name, n_name, s_acctbal, cost
        |FROM c
        |WHERE cost = (SELECT MIN(cost) FROM c c2 WHERE c2.p_partkey = c.p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "sql_small_qty_revenue" ->
      """SELECT p.p_brand,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
        |    AS small_qty_revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND l.l_quantity < (
        |    SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(25,6)))
        |      AS DOUBLE) / count(*))
        |    FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    "sql_large_orders" ->
      """SELECT c.c_name, c.c_custkey, o.o_orderkey,
        |  CAST(o.o_orderdate AS VARCHAR) AS o_orderdate, o.o_totalprice,
        |  CAST(sum(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |WHERE o.o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 250)
        |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  o.o_totalprice
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,
    "sql_disjunctive_join" ->
      """SELECT l.l_returnflag,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        |    AND l.l_quantity BETWEEN 1 AND 11)
        |  OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        |    AND l.l_quantity BETWEEN 10 AND 20)
        |  OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        |    AND l.l_quantity BETWEEN 20 AND 30)
        |GROUP BY l.l_returnflag
        |ORDER BY l.l_returnflag""".stripMargin,
    "sql_idle_customers" ->
      """SELECT n.n_name, count(*) AS numcust,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |    AS totacctbal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE c.c_acctbal > (
        |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(25,6))) AS DOUBLE)
        |      / count(*)
        |    FROM customer c2 WHERE c2.c_acctbal > 0.0)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin,
    "sql_nation_profit" ->
      """SELECT n.n_name AS nation,
        |  CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    - 0.5 * p.p_retailprice * l.l_quantity AS DECIMAL(25,6)))
        |    AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_name LIKE '%widget%'
        |GROUP BY n.n_name, CAST(year(o.o_orderdate) AS BIGINT)
        |ORDER BY nation, o_year""".stripMargin,
    "sql_important_parts" ->
      """WITH val AS (
        |  SELECT l.l_partkey, sum(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS v
        |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  WHERE s.s_nationkey = 3
        |  GROUP BY l.l_partkey)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS value
        |FROM val
        |WHERE CAST(v AS DOUBLE) > (SELECT 2.0 * (CAST(sum(v) AS DOUBLE) / count(*)) FROM val)
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "sql_supplier_cnt" ->
      """SELECT p.p_brand, p.p_size, count(DISTINCT l.l_suppkey) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#5'
        |  AND l.l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY p.p_brand, p.p_size
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""".stripMargin,
    "sql_promo_suppliers" ->
      """SELECT s.s_suppkey, s.s_name FROM supplier s
        |WHERE s.s_suppkey IN (
        |  SELECT l.l_suppkey FROM lineitem l
        |  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        |    AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY l.l_suppkey, l.l_partkey
        |  HAVING sum(CAST(l.l_quantity AS DECIMAL(25,6))) > 50)
        |ORDER BY s.s_suppkey""".stripMargin,
    "sql_late_suppliers" ->
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s
        |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE o.o_orderstatus = 'F'
        |  AND n.n_name = 'NATION_3'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s.s_name
        |LIMIT 20""".stripMargin,
    "window_cume_dist" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  floor(percent_rank() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey) * 1e6 + 0.5) / 1e6 AS pct_rank,
        |  floor(cume_dist() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey) * 1e6 + 0.5) / 1e6 AS cume
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "orders_pareto" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev DESC, o_custkey) AS BIGINT) AS rk,
        |    floor((CAST(sum(rev) OVER (ORDER BY rev DESC, o_custkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / CAST(sum(rev) OVER () AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS cum_share
        |  FROM rev)
        |SELECT o_custkey, CAST(rev AS DOUBLE) AS revenue, rk, cum_share,
        |  cum_share <= 0.8 AS in_top80
        |FROM r ORDER BY rk""".stripMargin,
    "graph_pagerank_step" ->
      s"""WITH e AS (
         |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |deg AS (SELECT c, count(*) AS d FROM e GROUP BY c)
         |SELECT e.s AS s_suppkey,
         |  ${sqlR6("0.15 + 0.85 * CAST(sum(CAST(" +
                sqlR6("1.0 / deg.d") +
                " AS DECIMAL(25,6))) AS DOUBLE)")} AS pagerank
         |FROM e JOIN deg ON e.c = deg.c
         |GROUP BY e.s ORDER BY s_suppkey""".stripMargin,
    "graph_triangles" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS a, b.l_partkey AS b
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |p AS (SELECT unnest([x, y, z]) AS part FROM tri)
        |SELECT part, COUNT(*) AS n_tri FROM p GROUP BY part
        |ORDER BY n_tri DESC, part LIMIT 20""".stripMargin,
  )
}
