package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Scan / filter / aggregation queries (SURVEY §2.1, §2.2, §2.5).
  *
  * Oracle-parity rules used throughout the query packs:
  *   - every computed column is aliased identically in Spark and SQL;
  *   - double aggregation goes through DECIMAL(18,6) so the result is
  *     independent of partial-aggregation order, then back to double so
  *     both engines emit the same column type;
  *   - result sets are deterministic sets (no LIMIT over ties).
  */
object CoreQueries {

  /** sum(double) that is bit-stable across engines and partition orders. */
  def stableSum(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  def stableAvg(c: Column): Column =
    (sum(c.cast("decimal(18,6)")) / count(c)).cast("double")

  private val stableSumSql = (c: String) =>
    s"CAST(SUM(CAST($c AS DECIMAL(18,6))) AS DOUBLE)"
  private val stableAvgSql = (c: String) =>
    s"CAST(SUM(CAST($c AS DECIMAL(18,6))) / COUNT($c) AS DOUBLE)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: projection+filter scan — filter and column pruning must reach
    // the parquet reader (verified in PlanSpec via PushedFilters).
    "s1_scan_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > lit(45.0))
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    }),

    // F3: equi-filter on a column value — reference
    // `filter_insert_into_rows` subset/src/postgres.rs:370-428.
    "f3_equi_filter" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_partkey") === lit(11L))
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // F4: row-index range predicate — reference range pruning
    // subset/src/postgres.rs:342-365 ("13x optim"); parquet row-group
    // stats give the same skip for free.
    "f4_range_pred" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(col("o_orderkey") >= lit(100L) && col("o_orderkey") <= lit(500L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    }),

    // F6 (ours): date-partitioned layout + partition pruning — the
    // first-order 100 TB lever: a day-filtered query over a
    // day-partitioned lake reads ONLY the matching directories
    // (PartitionFilters in the scan, asserted in PlanSpec), so cost
    // tracks the filter's selectivity, not the corpus size.
    "f6_partition_pruned" -> ((s, dir) => {
      val path = GraftSession.processDir.resolve("events_by_day").toString
      Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .write.mode("overwrite").partitionBy("day").parquet(path)
      s.read.parquet(path)
        .filter(col("day").between(lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count_distinct(col("user_id")).as("n_users"))
    }),

    // G1: per-table stats in one pass — reference
    // table_stats_by_database_and_table_name subset/src/postgres.rs:499-570.
    "g1_table_stats" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("total_rows"),
          min(col("o_orderkey")).as("first_idx"),
          max(col("o_orderkey")).as("last_idx"))
    }),

    // Flagship: TPC-H Q1-shaped aggregation over lineitem.
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          stableSum(col("l_quantity")).as("sum_qty"),
          stableSum(col("l_extendedprice")).as("sum_base_price"),
          stableSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          stableAvg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // G3: sum accumulation (dump size accounting analog,
    // datastore/local_disk.rs:144-173).
    "g3_size_accumulation" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(stableSum(col("o_totalprice")).as("total_size"), count(lit(1)).as("n"))
    })
  )

  val oracle: Map[String, String] = Map(
    "s1_scan_project" ->
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_quantity > 45.0",
    "f3_equi_filter" ->
      "SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM lineitem WHERE l_partkey = 11",
    "f4_range_pred" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey BETWEEN 100 AND 500",
    "g1_table_stats" ->
      ("SELECT o_orderstatus, COUNT(*) AS total_rows, MIN(o_orderkey) AS first_idx, " +
        "MAX(o_orderkey) AS last_idx FROM orders GROUP BY o_orderstatus"),
    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        s"${stableSumSql("l_quantity")} AS sum_qty, " +
        s"${stableSumSql("l_extendedprice")} AS sum_base_price, " +
        s"${stableSumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price, " +
        s"${stableAvgSql("l_quantity")} AS avg_qty, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus"),
    "g3_size_accumulation" ->
      ("SELECT o_orderpriority, " +
        s"${stableSumSql("o_totalprice")} AS total_size, COUNT(*) AS n " +
        "FROM orders GROUP BY o_orderpriority"),
    "f6_partition_pruned" ->
      ("SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users " +
        "FROM events WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14' " +
        "GROUP BY event_type")
  )
}
