package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Headline analytics queries (SURVEY.md §2.E). These exercise the engine's
  * core scan/agg/join/window paths.
  *
  * Scale posture: aggregations get automatic map-side partial combine,
  * dimension tables (`region`, `nation`, small `customer`) are broadcast
  * explicitly, and every filter is a pure Column expression pushed to the
  * parquet scan.
  *
  * Numeric determinism (SURVEY.md §4): money columns are 2-decimal values
  * stored as doubles; summing doubles is order-dependent, so cross-engine
  * comparison would be flaky. We aggregate EXACTLY by casting to decimal
  * first and cast the final aggregate back to double — bit-identical in
  * any engine and any partitioning, with no rounding heuristics.
  */
object Analytics {

  /** Exact sum of a 2-decimal money/ratio column, returned as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact sum of price*(1-discount) (4-decimal products), as double. */
  private def revSum(price: Column, disc: Column): Column =
    sum(price.cast("decimal(18,2)") * (lit(1).cast("decimal(18,2)") - disc.cast("decimal(18,2)")))
      .cast("double")

  /** TPC-H Q1-style wide aggregation over the largest fact table. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(Tables.lineitem(spark, dir), "l_orderkey")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)      AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem GROUP BY l_returnflag, l_linestatus"""

  /** E13: hierarchical rollup — subtotals and a grand total in ONE pass over
    * the fact (Spark expands grouping sets map-side before one partial-agg
    * shuffle; the naive alternative is three scans + a union). The grouping
    * level is derived from column nullness explicitly (both grouping columns
    * are non-null in the data) so both engines state the identical
    * computation without relying on engine-specific GROUPING_ID encodings.
    */
  def q1Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.spreadIfNarrow(Tables.lineitem(spark, dir), "l_orderkey")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        revSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .withColumn("lvl",
        (when(col("l_returnflag").isNull, 1L).otherwise(0L) * 2 +
          when(col("l_linestatus").isNull, 1L).otherwise(0L)))
      .select(col("l_returnflag"), col("l_linestatus"), col("lvl"),
        col("sum_qty"), col("sum_disc_price"), col("count_order"))

  val q1RollupSql: String = """
    SELECT l_returnflag, l_linestatus,
           CAST((CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) * 2
             + (CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lvl,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""

  /** TPC-H Q3-style: fact-to-fact join + broadcast dim filter + agg. At
    * 100 TB the orders⋈lineitem join shuffles on orderkey (co-partitioned
    * via bucketing in a real deployment); customer is the broadcast side.
    */
  def q3Join(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.spreadIfNarrow(Tables.lineitem(spark, dir), "l_orderkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(revSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
  }

  val q3JoinSql: String = """
    SELECT l_orderkey, o_orderdate,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate"""

  /** TPC-H Q5-style star join through customer→nation→region dims. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val reg  = Tables.region(spark, dir)
    val nat  = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.spreadIfNarrow(Tables.lineitem(spark, dir), "l_orderkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
           count(lit(1)).as("n_lines"))
  }

  val q5MultiJoinSql: String = """
    SELECT r_name, n_name,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name"""

  /** TPC-H Q6-style selective aggregation — the filter must reach the scan
    * (`PushedFilters` on shipdate/discount/quantity), making this a
    * fraction-of-a-scan query at any size.
    */
  def q6Filter(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= "1995-01-01" && col("l_shipdate") < "1996-01-01" &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 24)
      .agg(revSum(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))

  val q6FilterSql: String = """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24"""

  /** Top-k rows per group via window ranking; ties broken deterministically
    * by key so the oracle agrees. At scale this is a single shuffle by the
    * partition key with no global sort.
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    graft.operators.Relational.topK(Tables.orders(spark, dir), Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3, "rk")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
  }

  val topkPerGroupSql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders) WHERE rk <= 3"""

  /** Exact per-group quantiles (type-1, value-at-rank) of the price column
    * in integer cents: rank k = floor((n-1)·q)+1 computed with INTEGER
    * arithmetic, so the result is engine-exact — no interpolation, no
    * float rounding. One shuffle by group + per-group sort (same exchange
    * a percentile aggregate would pay); at 100 TB a sketch
    * (approx_percentile) is the cheap path, but this is the exact oracle
    * such a sketch gets validated against.
    */
  def priceQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("cents").asc)
    val wp = Window.partitionBy(col("l_returnflag"))
    // no spread here: the window's own exchange on l_returnflag is the
    // first (and only) shuffle, and pre-exchange work is a 2-column project
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents.as("cents"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wp))
      .groupBy(col("l_returnflag"))
      .agg(
        max(col("n")).as("n_rows"),
        max(when(col("rn") === expr("(n-1) div 4 + 1"), col("cents"))).as("q25_cents"),
        max(when(col("rn") === expr("(n-1) div 2 + 1"), col("cents"))).as("q50_cents"),
        max(when(col("rn") === expr("(3*(n-1)) div 4 + 1"), col("cents"))).as("q75_cents"))
  }

  /** E10 sketch twin: approx_percentile per group — the 100 TB path the
    * exact operator's doc promises. Partially-aggregable quantile sketch:
    * no per-group sort, no row_number window; the exchange carries one
    * sketch per (group, map partition) instead of every row. Accuracy
    * 10000 bounds rank error at n/10000. Validated against the exact
    * type-1 oracle in AnalyticsSpec; the driver check is rows-only by
    * design (the sketch's exact picks are implementation-defined, so no
    * DuckDB hash oracle).
    */
  def priceQuantilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents.as("cents"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        percentile_approx(col("cents"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
      .select(col("l_returnflag"), col("n_rows"),
        element_at(col("qs"), 1).as("q25_cents"),
        element_at(col("qs"), 2).as("q50_cents"),
        element_at(col("qs"), 3).as("q75_cents"))
  }

  /** Gate-emitted form of the approx-percentile twin (same pattern as the
    * CMS/HLL gate forms): the exact type-1 quantiles hash-check directly,
    * and each implementation-defined sketch pick is emitted as its
    * CONTRACT — within max(1 cent, 1% of the exact value), the bound the
    * spec asserts numerically (accuracy 10000 bounds rank error at
    * n/10000, far tighter than 1% of value on these distributions) — which
    * the oracle asserts as literal TRUE. Deterministic per drop (the
    * sketch has no RNG), verified green at sf0.01 AND sf0.1.
    */
  def priceQuantilesApproxQuery(spark: SparkSession, dir: String): DataFrame = {
    def within(a: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
      abs(a - e).cast("double") <= greatest(lit(1.0), lit(0.01) * e)
    val ap = priceQuantilesApprox(spark, dir).select(col("l_returnflag"),
      col("q25_cents").as("a25"), col("q50_cents").as("a50"),
      col("q75_cents").as("a75"))
    priceQuantiles(spark, dir).join(ap, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_rows"),
        col("q25_cents"), col("q50_cents"), col("q75_cents"),
        within(col("a25"), col("q25_cents")).as("q25_within_pct"),
        within(col("a50"), col("q50_cents")).as("q50_within_pct"),
        within(col("a75"), col("q75_cents")).as("q75_within_pct"))
  }
  val priceQuantilesApproxSql: String = """
    WITH c AS (SELECT l_returnflag,
                      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM lineitem),
    r AS (SELECT l_returnflag, cents,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY cents ASC) AS rn,
                 count(*) OVER (PARTITION BY l_returnflag) AS n
          FROM c)
    SELECT l_returnflag, max(n) AS n_rows,
           max(CASE WHEN rn = (n-1)//4 + 1 THEN cents END) AS q25_cents,
           max(CASE WHEN rn = (n-1)//2 + 1 THEN cents END) AS q50_cents,
           max(CASE WHEN rn = (3*(n-1))//4 + 1 THEN cents END) AS q75_cents,
           TRUE AS q25_within_pct, TRUE AS q50_within_pct, TRUE AS q75_within_pct
    FROM r GROUP BY l_returnflag"""

  val priceQuantilesSql: String = """
    WITH c AS (SELECT l_returnflag,
                      CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM lineitem),
    r AS (SELECT l_returnflag, cents,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY cents ASC) AS rn,
                 count(*) OVER (PARTITION BY l_returnflag) AS n
          FROM c)
    SELECT l_returnflag, max(n) AS n_rows,
           max(CASE WHEN rn = (n-1)//4 + 1 THEN cents END) AS q25_cents,
           max(CASE WHEN rn = (n-1)//2 + 1 THEN cents END) AS q50_cents,
           max(CASE WHEN rn = (3*(n-1))//4 + 1 THEN cents END) AS q75_cents
    FROM r GROUP BY l_returnflag"""

  /** E27: unpivot (melt) — the inverse of B8's pivot: four measure columns
    * fold into (measure, amount) rows. Plans as a map-side Expand (each
    * input row replicates into 4 output rows in place) — zero shuffle,
    * zero joins, the reshaping step that feeds long-format consumers
    * (plotting, ML feature tables) without a 4-way self-union rescan.
    * Values pass through untouched (no arithmetic), so the oracle matches
    * bit-for-bit; duplicate (orderkey, linenumber) identities are fine —
    * the gate compares multisets.
    */
  def unpivotLineitem(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "amount")
  val unpivotLineitemSql: String =
    """UNPIVOT (SELECT l_orderkey, l_linenumber, l_returnflag,
                       l_quantity, l_extendedprice, l_discount, l_tax
               FROM lineitem)
       ON l_quantity, l_extendedprice, l_discount, l_tax
       INTO NAME measure VALUE amount"""
}
