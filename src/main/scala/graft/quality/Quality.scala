package graft.quality

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The data-quality check engine — the reference's 12-check corpus
  * (reference: sql/queries/data_quality_checks.sql:1-107, mirrored
  * programmatically in scripts/quality_checks/validate_data.py:40-157)
  * re-expressed over the test schema: completeness (null/empty),
  * uniqueness (GROUP BY key HAVING COUNT(*)>1), validity (range
  * predicates), consistency (recomputed totals within ±0.01, transaction
  * total vs SUM of items), referential integrity (orphans via left join +
  * null test — the reference's own join shape, data_quality_checks.sql:88-107).
  *
  * Output: one row per check (check_name, category, violations) plus a
  * separate single-row quality score query
  * (validate_data.py:22-25,162-177). Violations need not be zero — the
  * gate is that Spark and the DuckDB oracle agree exactly.
  *
  * Scale: value checks are conditional aggregates (one scan per table,
  * map-side partial); orphan checks are key-projected joins that shuffle
  * only (key, 1) pairs. Nothing collects to the driver.
  */
object Quality {
  type Q = (SparkSession, String) => DataFrame

  private def named(name: String, category: String, df: DataFrame): DataFrame =
    df.select(lit(name).as("check_name"), lit(category).as("category"),
      col("violations"))

  private def cnt(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("violations"))

  /** All 12 checks as one unioned relation. */
  def qualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val part = Tables.part(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    val ord  = Tables.orders(spark, dir)

    // completeness (data_quality_checks.sql:5-13)
    val nullName = named("customers_null_name", "completeness",
      cnt(cust.filter(col("c_name").isNull || col("c_name") === "")))
    // uniqueness (data_quality_checks.sql:27-36: GROUP BY HAVING COUNT>1)
    val dupKey = named("customers_duplicate_key", "uniqueness",
      cnt(cust.groupBy("c_custkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)))
    // validity (data_quality_checks.sql:41-63)
    val badPrice = named("products_nonpositive_price", "validity",
      cnt(part.filter(col("p_retailprice") <= 0)))
    val costVsPrice = {
      val price = graft.Pricing.price(col("p_retailprice"))
      val cost  = graft.Pricing.cost(price)
      named("products_cost_exceeds_price", "validity",
        cnt(part.filter(cost >= price)))
    }
    val badQty = named("lineitems_nonpositive_quantity", "validity",
      cnt(li.filter(col("l_quantity") <= 0)))
    val badDisc = named("lineitems_discount_out_of_range", "validity",
      cnt(li.filter(col("l_discount") < 0 || col("l_discount") > 0.5)))
    // consistency (data_quality_checks.sql:66-76)
    val lineConsistency = {
      val unitPrice = col("l_extendedprice") / col("l_quantity")
      val recomputed = (col("l_quantity") * unitPrice * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      val stored = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 6))
      named("lineitems_total_consistency", "consistency",
        cnt(li.filter(abs(recomputed - stored) > lit(BigDecimal("0.01")))))
    }
    val orderTotal = {
      val itemSums = li.groupBy("l_orderkey").agg(
        sum(((col("l_extendedprice") * (lit(1.0) + col("l_tax")))
          * (lit(1.0) - col("l_discount"))).cast(DecimalType(18, 6))).as("items_total"))
      named("orders_total_mismatch", "consistency",
        cnt(ord.join(itemSums, col("o_orderkey") === col("l_orderkey"))
          .filter(abs(col("o_totalprice").cast(DecimalType(18, 6)) - col("items_total"))
            > lit(BigDecimal("0.01")))))
    }
    // referential integrity: left join + null test (data_quality_checks.sql:88-107)
    val orphanLiOrd = named("orphan_lineitems_orders", "referential_integrity",
      cnt(li.select("l_orderkey")
        .join(ord.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left")
        .filter(col("o_orderkey").isNull)))
    val orphanLiPart = named("orphan_lineitems_parts", "referential_integrity",
      cnt(li.select("l_partkey")
        .join(part.select("p_partkey"), col("l_partkey") === col("p_partkey"), "left")
        .filter(col("p_partkey").isNull)))
    val orphanOrdCust = named("orphan_orders_customers", "referential_integrity",
      cnt(ord.select("o_custkey")
        .join(cust.select("c_custkey"), col("o_custkey") === col("c_custkey"), "left")
        .filter(col("c_custkey").isNull)))
    val ordersNoItems = named("orders_without_items", "referential_integrity",
      cnt(ord.select("o_orderkey")
        .join(li.select("l_orderkey").distinct(),
          col("o_orderkey") === col("l_orderkey"), "left")
        .filter(col("l_orderkey").isNull)))

    Seq(nullName, dupKey, badPrice, costVsPrice, badQty, badDisc,
      lineConsistency, orderTotal, orphanLiOrd, orphanLiPart, orphanOrdCust,
      ordersNoItems).reduce(_.unionByName(_))
  }

  val qualityChecksSql: String = """
SELECT 'customers_null_name' AS check_name, 'completeness' AS category,
       (SELECT COUNT(*) FROM customer WHERE c_name IS NULL OR c_name = '') AS violations
UNION ALL SELECT 'customers_duplicate_key', 'uniqueness',
       (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer GROUP BY c_custkey HAVING COUNT(*) > 1))
UNION ALL SELECT 'products_nonpositive_price', 'validity',
       (SELECT COUNT(*) FROM part WHERE p_retailprice <= 0)
UNION ALL SELECT 'products_cost_exceeds_price', 'validity',
       (SELECT COUNT(*) FROM part
        WHERE CAST(ROUND(CAST(p_retailprice AS DECIMAL(18,2)) * 0.60, 2) AS DECIMAL(18,2))
              >= CAST(p_retailprice AS DECIMAL(18,2)))
UNION ALL SELECT 'lineitems_nonpositive_quantity', 'validity',
       (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
UNION ALL SELECT 'lineitems_discount_out_of_range', 'validity',
       (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5)
UNION ALL SELECT 'lineitems_total_consistency', 'consistency',
       (SELECT COUNT(*) FROM lineitem
        WHERE ABS(CAST(l_quantity * (l_extendedprice / l_quantity) * (1.0 - l_discount) AS DECIMAL(18,6))
                - CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) > 0.01)
UNION ALL SELECT 'orders_total_mismatch', 'consistency',
       (SELECT COUNT(*) FROM orders o JOIN (
          SELECT l_orderkey,
                 SUM(CAST(l_extendedprice * (1.0 + l_tax) * (1.0 - l_discount) AS DECIMAL(18,6))) AS items_total
          FROM lineitem GROUP BY l_orderkey) t ON o.o_orderkey = t.l_orderkey
        WHERE ABS(CAST(o.o_totalprice AS DECIMAL(18,6)) - t.items_total) > 0.01)
UNION ALL SELECT 'orphan_lineitems_orders', 'referential_integrity',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL)
UNION ALL SELECT 'orphan_lineitems_parts', 'referential_integrity',
       (SELECT COUNT(*) FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_partkey IS NULL)
UNION ALL SELECT 'orphan_orders_customers', 'referential_integrity',
       (SELECT COUNT(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL)
UNION ALL SELECT 'orders_without_items', 'referential_integrity',
       (SELECT COUNT(*) FROM orders o LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
          ON o.o_orderkey = l.l_orderkey
        WHERE l.l_orderkey IS NULL)"""

  /** Quality score reduction (validate_data.py:22-25,162-177): score =
    * max(0, (1 - violations/records) * 100), letter grade A-D. We divide
    * by the actual record count rather than the reference's hard-coded
    * 50000 (validate_data.py:170) — documented deviation, SURVEY §7.4.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreOf(qualityChecks(spark, dir), spark, dir)

  /** [[qualityScore]] over already-computed [[qualityChecks]] rows — the
    * pipeline scores the checks it just wrote instead of running all
    * twelve a second time. */
  def qualityScoreOf(checks: DataFrame, spark: SparkSession, dir: String): DataFrame = {
    val viol = checks.agg(sum("violations").as("total_violations"))
    val records = Tables.customer(spark, dir).agg(count(lit(1)).as("c"))
      .crossJoin(Tables.part(spark, dir).agg(count(lit(1)).as("p")))
      .crossJoin(Tables.orders(spark, dir).agg(count(lit(1)).as("o")))
      .crossJoin(Tables.lineitem(spark, dir).agg(count(lit(1)).as("l")))
      .select((col("c") + col("p") + col("o") + col("l")).as("total_records"))
    val score = greatest(lit(0.0),
      (lit(1.0) - col("total_violations").cast(DoubleType)
        / col("total_records").cast(DoubleType)) * lit(100.0))
    viol.crossJoin(records).select(
      col("total_records"), col("total_violations"),
      score.as("quality_score"),
      when(score >= 95, "A").when(score >= 85, "B").when(score >= 70, "C")
        .otherwise("D").as("grade"))
  }

  val qualityScoreSql: String = {
    val checks = qualityChecksSql
    s"""
WITH checks AS ($checks),
tot AS (SELECT
  (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM part)
  + (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem) AS total_records),
v AS (SELECT CAST(SUM(violations) AS BIGINT) AS total_violations FROM checks)
SELECT t.total_records, v.total_violations,
       GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) AS quality_score,
       CASE WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 95 THEN 'A'
            WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 85 THEN 'B'
            WHEN GREATEST(0.0, (1.0 - CAST(v.total_violations AS DOUBLE) / CAST(t.total_records AS DOUBLE)) * 100.0) >= 70 THEN 'C'
            ELSE 'D' END AS grade
FROM tot t CROSS JOIN v"""
  }

  val inventory: Map[String, Q] = Map(
    "quality_checks" -> (qualityChecks _),
    "quality_score"  -> (qualityScore _))

  val oracle: Map[String, String] = Map(
    "quality_checks" -> qualityChecksSql,
    "quality_score"  -> qualityScoreSql)
}
