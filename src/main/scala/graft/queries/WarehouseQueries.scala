package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Num
import graft.operators.Pin._

/** Classic decision-support (TPC-H) tier over the driver testdata.
  *
  * The reference's downstream SQL surface (init_metrics.sql:157-239)
  * is dashboard-shaped: joins + grouped aggregates + top-k. This tier
  * completes the relational engine claim with the public TPC-H query
  * set — multi-way star joins, correlated EXISTS / NOT EXISTS, scalar
  * and IN subqueries, disjunctive join predicates, conditional market-
  * share aggregation — each adapted to the driver schema (which has no
  * partsupp table and no l_commitdate/l_receiptdate; lateness is
  * expressed against o_orderdate instead, and container/comment
  * predicates map to p_size/o_orderpriority stand-ins).
  *
  * Scale notes (100 TB): every query keeps the canonical TPC-H plan
  * shape — dimension sides broadcast (customer/supplier/nation/region/
  * part), fact-fact joins shuffle on the join key after pushed-down
  * date filters, subqueries decorrelate to semi/anti joins (never a
  * per-row re-execution), top-k is TakeOrderedAndProject (no global
  * sort). Double aggregates go through the [[Num.r]] two-stage snap so
  * summation order can't flip an oracle bit.
  */
object WarehouseQueries {

  private def ts(s: String) = lit(s).cast("timestamp")
  private def rev = col("l_extendedprice") * (lit(1) - col("l_discount"))

  // exact integer money sums (the ≥10¹⁰ ulp class) — contract and
  // both engine forms live in operators.Money
  import graft.operators.Money.{revE4, revE4Sql}
  private def priceCents = graft.operators.Money.cents(col("l_extendedprice"))
  private def discPct = graft.operators.Money.cents(col("l_discount"))
  private val priceCentsSql = graft.operators.Money.centsSql("l_extendedprice")
  private val discPctSql = graft.operators.Money.centsSql("l_discount")

  /** q131 — TPC-H Q3: shipping-priority top-10 unshipped-order revenue.
    * Fact-fact join (lineitem ⋈ orders) + broadcast customer filter;
    * top-k by snapped revenue with key tie-break. */
  def q131TpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").filter(col("l_shipdate") > ts("1998-03-15"))
    val o = Tables.load(spark, dir, "orders").filter(col("o_orderdate") < ts("1998-03-15"))
    val c = Tables.load(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(Num.r(sum(rev), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q131Sql: String =
    s"""SELECT l_orderkey, o_orderdate, ${Num.sqlR2("sum(l_extendedprice * (1 - l_discount))")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15'
       |  AND l_shipdate > TIMESTAMP '1998-03-15'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  /** q132 — TPC-H Q4: order-priority checking (lateness = shipped >60
    * days after order date; the schema has no l_commitdate/
    * l_receiptdate). The correlated-EXISTS form decorrelates to a
    * LEFT-SEMI join, and a semi join can only build its RIGHT side —
    * so Spark built and broadcast the WHOLE LINEITEM hash relation to
    * probe the date-filtered orders (5.0 CPU-s at sf0.1 mostly in the
    * fact-side broadcast build; past the broadcast threshold at
    * cluster scale it degrades to shuffling every lineitem row).
    * Rewritten as the equivalent inner join keyed the right way round:
    * the 3-month orders slice is the build side, lineitem streams
    * through the probe unshuffled, and the per-order GROUP BY restores
    * EXISTS semantics (≥1 matching line row). The oracle keeps the
    * EXISTS form — the green hash is the equivalence proof. */
  def q132TpchQ4(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM (
        |  SELECT o_orderkey, o_orderpriority
        |  FROM orders JOIN lineitem
        |    ON l_orderkey = o_orderkey
        |   AND l_shipdate > o_orderdate + INTERVAL 60 DAYS
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-04-01'
        |  GROUP BY o_orderkey, o_orderpriority)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  val q132Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q133 — TPC-H Q5: local-supplier volume. Six-way join where the
    * customer and supplier nations must MATCH — the classic shape
    * where only lineitem⋈orders shuffles and every dimension side is
    * broadcast. */
  def q133TpchQ5(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1998-01-01"))
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n = Tables.load(spark, dir, "nation")
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "EUROPE")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // nation-level money sums reach ~1.2e10 at sf10, where one ulp
      // (2e-6 relative) exceeds the r6 snap grain — exact e4 integers
      // like q1/q136/q141
      .agg(Num.r(sum(revE4).cast("double") / 10000.0, 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q133Sql: String =
    s"""SELECT n_name, ${Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'EUROPE'
       |  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  /** q134 — TPC-H Q6: forecasting revenue change — pure scan-side
    * filter + single agg; every predicate reaches the parquet scan. */
  def q134TpchQ6(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
      // global single-group money sum — exact e4 integers (here the
      // measure is price × discount, so cents × pct)
      .agg(Num.r(sum(priceCents * discPct).cast("double") / 10000.0, 2)
        .as("revenue"))
  }

  val q134Sql: String =
    s"""SELECT ${Num.sqlR2(
        s"CAST(sum($priceCentsSql * $discPctSql) AS BIGINT)::DOUBLE / 10000.0")} AS revenue
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin

  /** q135 — TPC-H Q7: volume shipping between two nations, with the
    * nation dimension joined TWICE (supplier side and customer side)
    * under distinct aliases. */
  def q135TpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1999-01-01"))
    val o = Tables.load(spark, dir, "orders")
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val n1 = Tables.load(spark, dir, "nation").as("n1")
    val n2 = Tables.load(spark, dir, "nation").as("n2")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1.n_nationkey"))
      .join(broadcast(n2), col("c_nationkey") === col("n2.n_nationkey"))
      .filter((col("n1.n_name") === "NATION_1" && col("n2.n_name") === "NATION_2") ||
        (col("n1.n_name") === "NATION_2" && col("n2.n_name") === "NATION_1"))
      .groupBy(col("n1.n_name").as("supp_nation"), col("n2.n_name").as("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Num.r(sum(revE4).cast("double") / 10000.0, 2).as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  val q135Sql: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  CAST(extract(year FROM l_shipdate) AS INT) AS l_year,
       |  ${Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")} AS volume
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
       |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
       |GROUP BY n1.n_name, n2.n_name, l_year
       |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** q136 — TPC-H Q8: national market share — conditional numerator
    * over the total volume per year (share of NATION_3 suppliers in
    * EUROPE-customer PROMO-part volume). */
  def q136TpchQ8(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-01-01") && col("o_orderdate") < ts("1999-01-01"))
    val c = Tables.load(spark, dir, "customer")
    val s = Tables.load(spark, dir, "supplier")
    val p = Tables.load(spark, dir, "part").filter(col("p_type") === "PROMO")
    val n1 = Tables.load(spark, dir, "nation").as("n1")
    val n2 = Tables.load(spark, dir, "nation").as("n2")
    val r = Tables.load(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val vol = li
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1.n_nationkey"))
      .join(broadcast(n2), col("c_nationkey") === col("n2.n_nationkey"))
      .join(broadcast(r), col("n2.n_regionkey") === col("r_regionkey"))
    vol.groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        Num.r(sum(when(col("n1.n_name") === "NATION_3", revE4)
          .otherwise(lit(0L))).cast("double") / 10000.0, 2).as("nation_volume"),
        Num.r(sum(revE4).cast("double") / 10000.0, 2).as("total_volume"))
      .withColumn("mkt_share", Num.r(col("nation_volume") / col("total_volume"), 6))
      .orderBy(col("o_year"))
  }

  val q136Sql: String = {
    val nat = Num.sqlR2("CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN " +
      s"$revE4Sql ELSE 0 END) AS BIGINT)::DOUBLE / 10000.0")
    val tot = Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")
    s"""SELECT o_year, nation_volume, total_volume,
       |  ${Num.sqlR("nation_volume / total_volume", 6)} AS mkt_share
       |FROM (
       |  SELECT CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       |    $nat AS nation_volume,
       |    $tot AS total_volume
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |  JOIN region ON n2.n_regionkey = r_regionkey
       |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
       |    AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
       |  GROUP BY o_year) t
       |ORDER BY o_year""".stripMargin
  }

  /** q137 — TPC-H Q9 (no partsupp in the schema, so profit = revenue):
    * product-line profit by supplier nation and year for widget parts. */
  def q137TpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val o = Tables.load(spark, dir, "orders")
    val s = Tables.load(spark, dir, "supplier")
    val p = Tables.load(spark, dir, "part").filter(col("p_name").like("%widget%"))
    val n = Tables.load(spark, dir, "nation")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(Num.r(sum(revE4).cast("double") / 10000.0, 2).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q137Sql: String =
    s"""SELECT n_name AS nation, CAST(extract(year FROM o_orderdate) AS INT) AS o_year,
       |  ${Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")} AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY n_name, o_year
       |ORDER BY n_name, o_year DESC""".stripMargin

  /** q138 — TPC-H Q10: returned-item reporting — top 20 customers by
    * lost revenue in a quarter (l_returnflag = 'R'). */
  def q138TpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= ts("1997-07-01") && col("o_orderdate") < ts("1997-10-01"))
    val c = Tables.load(spark, dir, "customer")
    val n = Tables.load(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(Num.r(sum(rev), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q138Sql: String =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  ${Num.sqlR2("sum(l_extendedprice * (1 - l_discount))")} AS revenue
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1997-07-01' AND o_orderdate < TIMESTAMP '1997-10-01'
       |GROUP BY c_custkey, c_name, c_acctbal, n_name
       |ORDER BY revenue DESC, c_custkey
       |LIMIT 20""".stripMargin

  /** q139 — TPC-H Q12 (adapted: no l_shipmode/l_commitdate — lateness
    * vs o_orderdate, grouped by linestatus): priority-class line counts
    * among late shipments. */
  def q139TpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-01-01") && col("l_shipdate") < ts("1998-01-01"))
    val o = Tables.load(spark, dir, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH", 1)).as("high_line_count"),
        count(when(col("o_orderpriority") =!= "1-URGENT" && col("o_orderpriority") =!= "2-HIGH", 1)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  val q139Sql: String =
    """SELECT l_linestatus,
      |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
      |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** q140 — TPC-H Q13: customer order-count distribution — LEFT OUTER
    * join (customers with zero orders must appear) + two-level agg. */
  def q140TpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val o = Tables.load(spark, dir, "orders").filter(col("o_orderpriority") =!= "5-LOW")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q140Sql: String =
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      |  FROM customer
      |  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q141 — TPC-H Q14: promotion-revenue share for one ship month —
    * conditional numerator / total over a broadcast part join. */
  def q141TpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1997-09-01") && col("l_shipdate") < ts("1997-10-01"))
    val p = Tables.load(spark, dir, "part")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        Num.r(sum(when(col("p_type") === "PROMO", revE4)
          .otherwise(lit(0L))).cast("double") / 10000.0, 2).as("promo_revenue_sum"),
        Num.r(sum(revE4).cast("double") / 10000.0, 2).as("total_revenue"))
      .withColumn("promo_revenue_pct",
        Num.r(lit(100.0) * col("promo_revenue_sum") / col("total_revenue"), 4))
  }

  val q141Sql: String = {
    val promo = Num.sqlR2("CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
      s"$revE4Sql ELSE 0 END) AS BIGINT)::DOUBLE / 10000.0")
    val tot = Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")
    s"""SELECT promo_revenue_sum, total_revenue,
       |  ${Num.sqlR("100.0 * promo_revenue_sum / total_revenue", 4)} AS promo_revenue_pct
       |FROM (
       |  SELECT $promo AS promo_revenue_sum, $tot AS total_revenue
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01') t""".stripMargin
  }

  // q142 — TPC-H Q15: identical ANSI text runs in BOTH engines (the
  // Num floor-chain is portable): revenue CTE + scalar-subquery max.
  private val q142Text: String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey AS supplier_no,
       |    ${Num.sqlR2("sum(l_extendedprice * (1 - l_discount))")} AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1997-10-01' AND l_shipdate < TIMESTAMP '1998-01-01'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM supplier
       |JOIN revenue ON s_suppkey = supplier_no
       |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       |ORDER BY s_suppkey""".stripMargin

  /** q142 — TPC-H Q15: top supplier — aggregate-over-CTE referenced
    * twice plus a scalar subquery, through the spark.sql surface. */
  def q142TpchQ15(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q142Text)
  }

  val q142Sql: String = q142Text

  // q143 — TPC-H Q17 (p_container → p_size stand-in): small-quantity
  // order revenue; correlated scalar subquery per part. Identical text
  // in both engines.
  private val q143Text: String =
    s"""SELECT ${Num.sqlR2("sum(l_extendedprice) / 7.0")} AS avg_yearly
       |FROM lineitem
       |JOIN part ON p_partkey = l_partkey
       |WHERE p_brand = 'Brand#23' AND p_size < 5
       |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
       |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** q143 — TPC-H Q17: correlated scalar subquery (per-part average
    * quantity threshold); Catalyst decorrelates to an aggregate join. */
  def q143TpchQ17(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q143Text)
  }

  val q143Sql: String = q143Text

  // q144 — TPC-H Q18: large-volume customers (IN subquery + HAVING).
  // Identical text in both engines; l_quantity is integer-valued so
  // the sums are exact.
  private val q144Text: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  sum(l_quantity) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
      |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin

  /** q144 — TPC-H Q18: large-volume customers via IN + HAVING subquery
    * (decorrelates to a semi join on the grouped lineitem). */
  def q144TpchQ18(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q144Text)
  }

  val q144Sql: String = q144Text

  /** q145 — TPC-H Q19 (p_container → p_size stand-in): disjunctive
    * brand/size/quantity predicate as part of the JOIN condition —
    * the equi-key (partkey) still drives a hash join; the OR-of-ANDs
    * rides along as the join filter. */
  def q145TpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val p = Tables.load(spark, dir, "part")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) && col("l_quantity").between(20, 30))))
      // global single-group sum — must ride e4 integers IN LOCKSTEP
      // with the oracle (the Spark side here was briefly left on
      // doubles while the SQL went exact: the two engines then compute
      // DIFFERENT expressions and agree only within ulp luck)
      .agg(Num.r(sum(revE4).cast("double") / 10000.0, 2).as("revenue"))
  }

  val q145Sql: String =
    s"""SELECT ${Num.sqlR2(s"CAST(sum($revE4Sql) AS BIGINT)::DOUBLE / 10000.0")} AS revenue
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
       |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q146 — TPC-H Q21 (lateness vs o_orderdate): suppliers who were
    * the ONLY late supplier on a multi-supplier finished order.
    *
    * The correlated EXISTS + NOT EXISTS decorrelate to a semi and an
    * anti self-join — THREE shuffles of lineitem on the order key.
    * Both subqueries are per-order set facts about the very rows the
    * outer join already carries ("another supplier exists" ⇔ the
    * order has ≥2 distinct suppliers; "no other late supplier" ⇔ the
    * order's late-supplier set is exactly {this row's supplier}, given
    * the row itself is late), so ONE order-partitioned window computes
    * both supplier sets and the fact table shuffles once. The orders
    * join keys the same column, so the window reuses its partitioning
    * (zero extra Exchange). The oracle keeps the EXISTS/NOT-EXISTS
    * form — the equality is also a semantics proof of the rewrite. */
  def q146TpchQ21(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val o = Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val w = Window.partitionBy(col("l_orderkey"))
    val flagged = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .withColumn("supps", collect_set(col("l_suppkey")).over(w))
      .withColumn("late_supps",
        collect_set(when(col("late"), col("l_suppkey"))).over(w))
      .filter(col("late") && size(col("supps")) > 1 &&
        size(col("late_supps")) === 1)
      .select(col("l_suppkey"))
    val sn = Tables.load(spark, dir, "supplier")
      .join(broadcast(Tables.load(spark, dir, "nation")
        .filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"))
    flagged.join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q146Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 20""".stripMargin

  // q147 — TPC-H Q22 (phone country code → nation key): above-average-
  // balance customers with no recent orders. Identical text both
  // engines (scalar subquery + NOT EXISTS anti join).
  private val q147Text: String =
    s"""SELECT c_nationkey, count(*) AS numcust,
       |  ${Num.sqlR2("sum(c_acctbal)")} AS totacctbal
       |FROM customer
       |WHERE c_acctbal > (SELECT ${Num.sqlR2("avg(c_acctbal)")}
       |                   FROM customer WHERE c_acctbal > 0.0)
       |  AND NOT EXISTS (SELECT 1 FROM orders
       |                  WHERE o_custkey = c_custkey
       |                    AND o_orderdate >= TIMESTAMP '1999-01-01')
       |GROUP BY c_nationkey
       |ORDER BY c_nationkey""".stripMargin

  /** q147 — TPC-H Q22: global sales opportunity — uncorrelated scalar
    * subquery threshold + NOT EXISTS anti join. The average is snapped
    * before the comparison so a summation-order ulp can't flip a
    * boundary customer across engines. */
  def q147TpchQ22(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(q147Text)
  }

  val q147Sql: String = q147Text

  // ---- q159: market-basket association rules over order baskets —
  // brand pairs co-purchased in one order, scored by support /
  // confidence / lift. The A-priori discipline at scale: items below
  // the support floor are pruned BEFORE pair generation (downward
  // closure — an infrequent item cannot appear in a frequent pair),
  // so the self-join fans out only over frequent items; the pair
  // shuffle is keyed on the basket id and bounded per basket by
  // (frequent items per order)². Lift is computed from exact integer
  // counts and r4-snapped before the filter so both engines cut the
  // same pairs. ----

  private val BasketMinSupCnt = 50

  def q159Basket(spark: SparkSession, dir: String): DataFrame = {
    // ONE basket-keyed aggregation builds the deduped item set per
    // basket straight from the raw join output: collect_set absorbs
    // the old corpus-wide distinct() exchange, and the basket count /
    // frequency table / pair expansion all read this pinned frame —
    // two full-table exchanges (distinct + the A-priori semi-join
    // probe) removed vs the previous form (guide §2.4).
    val sets = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      .groupBy(col("basket"))
      .agg(collect_set(col("item")).as("is"))
      .pin(Wide)
    val n = broadcast(sets.agg(count(lit(1)).as("n_baskets")))
    // per-item support over the deduped sets = the old per-(basket,
    // item)-distinct counts; tiny table (bounded by the brand domain),
    // pinned so its three consumers don't re-explode the sets
    val freq = sets.select(explode(col("is")).as("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= BasketMinSupCnt)
      .pin(Wide)
    // A-priori prune IN-ARRAY (downward closure — an infrequent item
    // cannot appear in a frequent pair): intersect each basket's set
    // with the frequent-item array, then expand ordered pairs with
    // array expressions. Per-basket expansion stays bounded by
    // (frequent items per basket)²; per-item counts re-attach AFTER
    // the pair aggregation by broadcast — the ≤items² pair frame is
    // tiny, while carrying cnt through the expansion would widen every
    // shuffled row for nothing.
    val freqArr = broadcast(
      freq.agg(sort_array(collect_list(col("item"))).as("fa")))
    // ordered pairs by INDEX over the sorted intersection: k(k−1)/2
    // struct allocations instead of the old k² generate-then-filter
    // (transform×transform emitted every ordered pair and discarded
    // half plus the diagonal — measured 13.6 CPU-s, mostly in this
    // expansion). ks sorted ascending makes i<j ⇔ ks[i]<ks[j], so the
    // pair set is identical; the when() guard keeps sequence() away
    // from its descending k<2 branch (sequence(1,0) counts DOWN).
    val pairs = sets.crossJoin(freqArr)
      .select(array_sort(array_intersect(col("is"), col("fa"))).as("ks"))
      .select(explode(when(size(col("ks")) >= 2, expr(
        "flatten(transform(sequence(1, size(ks) - 1), " +
          "i -> transform(sequence(i + 1, size(ks)), " +
          "j -> struct(element_at(ks, i) AS item_a, " +
          "element_at(ks, j) AS item_b))))"))
        .otherwise(expr(
          "CAST(array() AS array<struct<item_a:string,item_b:string>>)")))
        .as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("cnt_ab"))
      .filter(col("cnt_ab") >= BasketMinSupCnt)
      .join(broadcast(freq.select(col("item").as("item_a"),
        col("cnt").as("cnt_a"))), "item_a")
      .join(broadcast(freq.select(col("item").as("item_b"),
        col("cnt").as("cnt_b"))), "item_b")
    pairs.crossJoin(n)
      .select(col("item_a"), col("item_b"), col("cnt_ab").as("both"),
        Num.r4(col("cnt_ab").cast("double") / col("n_baskets")).as("support"),
        Num.r4(col("cnt_ab").cast("double") / col("cnt_a")).as("confidence"),
        Num.r4((col("cnt_ab") * col("n_baskets")).cast("double") /
          (col("cnt_a") * col("cnt_b"))).as("lift"))
      .orderBy(col("item_a"), col("item_b"))
  }

  val q159Sql: String =
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
       |  FROM lineitem JOIN part ON l_partkey = p_partkey),
       |n AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
       |freq AS (SELECT item, count(*) AS cnt FROM items
       |         GROUP BY item HAVING count(*) >= $BasketMinSupCnt),
       |kept AS (SELECT i.basket, i.item, f.cnt
       |         FROM items i JOIN freq f USING (item)),
       |pairs AS (
       |  SELECT a.item AS item_a, b.item AS item_b,
       |    a.cnt AS cnt_a, b.cnt AS cnt_b, count(*) AS cnt_ab
       |  FROM kept a JOIN kept b
       |    ON a.basket = b.basket AND a.item < b.item
       |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= $BasketMinSupCnt)
       |SELECT item_a, item_b, cnt_ab AS both,
       |  ${Num.sqlR4("cnt_ab::DOUBLE / n_baskets")} AS support,
       |  ${Num.sqlR4("cnt_ab::DOUBLE / cnt_a")} AS confidence,
       |  ${Num.sqlR4("(cnt_ab * n_baskets)::DOUBLE / (cnt_a * cnt_b)")} AS lift
       |FROM pairs CROSS JOIN n
       |ORDER BY item_a, item_b""".stripMargin

  // ---- q163: 2-D skyline (Pareto frontier) of parts — no other part
  // both cheaper and larger. Spark side is the distributed prefix-max
  // sweep (operators.Skyline: compress per distinct price → range-
  // partition → driver-carried exclusive prefix-max → balanced
  // windows); the oracle is the DEFINITIONAL dominance NOT EXISTS,
  // so the hash match proves the sweep against brute force. ----

  def q163Skyline(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skyline.frontier(
      Tables.load(spark, dir, "part"), "p_retailprice", "p_size")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_partkey"))

  val q163Sql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part a
      |WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      |  AND NOT EXISTS (
      |    SELECT 1 FROM part b
      |    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
      |      AND b.p_retailprice <= a.p_retailprice
      |      AND b.p_size >= a.p_size
      |      AND (b.p_retailprice < a.p_retailprice
      |           OR b.p_size > a.p_size))
      |ORDER BY p_partkey""".stripMargin

  // ---- q170: fulfillment-SLA percentiles — days from order to FIRST
  // shipment, p50/p90/p99 per order priority. The latency-SLO query
  // shape: one fact-fact aggregation (min shipdate per order), one
  // join back to the order header, then the DISTRIBUTED exact-
  // quantile operator (operators.Quantiles — no per-group value
  // buffering; the built-in percentile() aggregate is a single
  // reducer per group). Negative gaps (data-quality artifacts) are
  // kept — an SLA report that silently drops them hides exactly the
  // rows q164 exists to surface. ----

  def q170FulfillmentSla(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("first_ship"))
    val gaps = Tables.load(spark, dir, "orders")
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("first_ship"), col("o_orderdate")).as("gap_days"))
    graft.operators.Quantiles.exactQuantiles(
      gaps, "o_orderpriority", "gap_days",
      Seq(0.5, 0.9, 0.99), Seq("p50", "p90", "p99"))
      .select(col("o_orderpriority"), col("n"),
        Num.r4(col("p50")).as("p50"), Num.r4(col("p90")).as("p90"),
        Num.r4(col("p99")).as("p99"))
      // pin before the sort — the range exchange's sampling job would
      // re-execute the quantile window chain (the q37 finding)
      .pin(Narrow)
      .orderBy(col("o_orderpriority"))
  }

  val q170Sql: String =
    s"""WITH fs AS (
       |  SELECT l_orderkey, min(l_shipdate) AS first_ship
       |  FROM lineitem GROUP BY 1),
       |g AS (
       |  SELECT o_orderpriority,
       |    date_diff('day', o_orderdate, first_ship) AS gap_days
       |  FROM orders JOIN fs ON o_orderkey = l_orderkey)
       |SELECT o_orderpriority, count(*) AS n,
       |  ${Num.sqlR4("quantile_cont(gap_days, 0.5)")} AS p50,
       |  ${Num.sqlR4("quantile_cont(gap_days, 0.9)")} AS p90,
       |  ${Num.sqlR4("quantile_cont(gap_days, 0.99)")} AS p99
       |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q175: revenue-concentration metrics — exact Gini coefficient
  // and top-decile share of per-customer revenue. The inequality
  // formula Σ(2i − n − 1)·xᵢ / (n·Σx) needs every customer's GLOBAL
  // rank — computed with the range-partitioned GlobalOrder, never an
  // empty-frame row_number. Revenue is snapped to integer CENTS
  // before ranking and summing, so the rank coefficients ride exact
  // 64-bit products; ties in cents are rank-order-invariant in the
  // Gini sum (equal x within a tie group makes the coefficient sum
  // independent of the tiebreak), so the custkey tiebreak is only
  // for determinism of the intermediate frame. ----

  def q175Gini(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(floor(Num.r(sum(col("o_totalprice")), 2) * 100 + 0.5)
        .cast("long").as("cents"))
    val ranked = graft.operators.GlobalOrder.withGlobalPos(
      rev, 8, Seq(col("cents"), col("o_custkey")), "i")
    val n = broadcast(rev.agg(count(lit(1)).as("n")))
    ranked.crossJoin(n)
      .agg(max(col("n")).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        // decimal(38,0) sum: the per-row product (≤ n·cents ≈ 3·10¹³ at
        // sf10) fits int64, but its SUM is ~n²·c̄ ≈ 10¹⁹ > 2⁶³ — the
        // sweep caught the long sum overflowing (ANSI, loud) at sf10
        sum(((lit(2) * col("i") - col("n") - 1) * col("cents"))
          .cast("decimal(38,0)")).as("gnum"),
        sum(when(col("i") > col("n") - expr("n div 10"), col("cents"))
          .otherwise(0L)).as("top_cents"))
      .select(col("n_customers"),
        Num.r(col("gnum").cast("double") /
          (col("n_customers").cast("double") * col("total_cents")), 6)
          .as("gini"),
        Num.r(col("top_cents").cast("double") / col("total_cents"), 6)
          .as("top_decile_share"))
  }

  val q175Sql: String =
    s"""WITH rev AS (
       |  SELECT o_custkey,
       |    CAST(floor(${Num.sqlR2("sum(o_totalprice)")} * 100 + 0.5) AS BIGINT)
       |      AS cents
       |  FROM orders GROUP BY 1),
       |k AS (SELECT *,
       |        row_number() OVER (ORDER BY cents, o_custkey) AS i,
       |        count(*) OVER () AS n
       |      FROM rev)
       |SELECT max(n) AS n_customers,
       |  ${Num.sqlR(
          "sum((2 * i - n - 1) * cents)::DOUBLE / (max(n)::DOUBLE * sum(cents))",
          6)} AS gini,
       |  ${Num.sqlR(
          "sum(CASE WHEN i > n - n // 10 THEN cents ELSE 0 END)::DOUBLE / sum(cents)",
          6)} AS top_decile_share
       |FROM k""".stripMargin

  // ---- q176: one ALS user-step — the collaborative-filtering
  // training round (implicit ratings = per-(customer, brand) purchase
  // counts). Item factors are frozen at a deterministic hash-derived
  // init; each user's k=2 factor vector solves the L2-regularized
  // normal equations (VᵀV + λI)w = Vᵀr in CLOSED FORM (2×2 inverse) —
  // so the whole step is: one ratings aggregation, one broadcast join
  // against the model-sized item-factor table, five per-user sums,
  // and per-row arithmetic. That is exactly how a distributed ALS
  // iteration shapes at 100 TB (per-user solves are embarrassingly
  // parallel; only the k×items factor table moves). Per-user sums are
  // r6-snapped before the solve so partial-aggregation order can't
  // leak into the inverse; the oracle repeats the identical algebra,
  // so the hash match pins the distributed solve bit-for-bit. ----

  private val AlsLambda = 0.1

  def q176AlsRound(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{TextFunctions => TFn}
    // pin (Narrow) the aggregated ratings matrix: it feeds the
    // solve, the prediction join AND the distinct-item count —
    // unpinned, the 3-table join + groupBy re-executes for each read.
    // Post-aggregation it is (users × brands)-bounded, far smaller
    // than the fact table. Narrow, NOT Wide: the three
    // consumers re-read the frame in full, and the columnar
    // encode/decode of the cache measured ~18 CPU-s across the
    // consumer stages at sf0.1 vs ~3 CPU-s to materialize the rows
    // once as checkpoint blocks (Scratch q176 stage attribution).
    val ratings = Tables.load(spark, dir, "lineitem")
      .join(broadcast(Tables.load(spark, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("u"), col("p_brand").as("item"))
      .agg(count(lit(1)).cast("double").as("r"))
      .pin(Narrow)
    // frozen deterministic item factors: v0 ≡ 1 (bias-like), v1 a
    // hash-spread value in [-0.5, 0.5)
    val v1 = Num.r((TFn.hash60(col("item")) % 1000).cast("double") / 1000 - 0.5, 6)
    // item rides along so the summary's n_items can be counted in the
    // SAME final pass as rmse (below) instead of a third checkpoint read
    val rated = ratings.select(col("u"), col("item"), col("r"),
      lit(1.0).as("v0"), v1.as("v1"))
    val solved = rated.groupBy(col("u"))
      .agg(Num.r(sum(col("v0") * col("v0")), 6).as("a"),
        Num.r(sum(col("v0") * col("v1")), 6).as("b"),
        Num.r(sum(col("v1") * col("v1")), 6).as("c"),
        Num.r(sum(col("v0") * col("r")), 6).as("d0"),
        Num.r(sum(col("v1") * col("r")), 6).as("d1"))
      .withColumn("det",
        (col("a") + AlsLambda) * (col("c") + AlsLambda) - col("b") * col("b"))
      .select(col("u"),
        Num.r(((col("c") + AlsLambda) * col("d0") - col("b") * col("d1")) /
          col("det"), 6).as("w0"),
        Num.r(((col("a") + AlsLambda) * col("d1") - col("b") * col("d0")) /
          col("det"), 6).as("w1"))
    val pred = rated.join(solved, "u")
      .select(col("u"), col("item"), col("r"),
        (col("w0") * col("v0") + col("w1") * col("v1")).as("rhat"))
    // ONE summary pass: the u-join is inner on solved's own grouping
    // key, so pred holds every rated row — distinct u over pred IS the
    // user count and distinct item IS the item count. The previous
    // shape re-ran the whole solve for n_users and re-read the
    // checkpoint for n_items (two extra subplans + two cross joins of
    // one-row frames).
    pred.agg(
      countDistinct(col("u")).as("n_users"),
      countDistinct(col("item")).as("n_items"),
      count(lit(1)).as("n_ratings"),
      Num.r4(sqrt(avg(pow(col("r") - col("rhat"), 2)))).as("rmse"))
      .select(col("n_users"), col("n_items"), col("n_ratings"), col("rmse"))
  }

  val q176Sql: String = {
    import graft.functions.{TextFunctions => TFn}
    val lam = AlsLambda
    s"""WITH ratings AS (
       |  SELECT o_custkey AS u, p_brand AS item, count(*)::DOUBLE AS r
       |  FROM lineitem
       |  JOIN part ON l_partkey = p_partkey
       |  JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |rated AS (
       |  SELECT u, r, 1.0 AS v0,
       |    ${Num.sqlR(s"(${TFn.sqlHash60("item")} % 1000)::DOUBLE / 1000 - 0.5", 6)} AS v1
       |  FROM ratings),
       |solved AS (
       |  SELECT u,
       |    ${Num.sqlR(s"((c + $lam) * d0 - b * d1) / ((a + $lam) * (c + $lam) - b * b)", 6)} AS w0,
       |    ${Num.sqlR(s"((a + $lam) * d1 - b * d0) / ((a + $lam) * (c + $lam) - b * b)", 6)} AS w1
       |  FROM (
       |    SELECT u, ${Num.sqlR("sum(v0 * v0)", 6)} AS a,
       |      ${Num.sqlR("sum(v0 * v1)", 6)} AS b,
       |      ${Num.sqlR("sum(v1 * v1)", 6)} AS c,
       |      ${Num.sqlR("sum(v0 * r)", 6)} AS d0,
       |      ${Num.sqlR("sum(v1 * r)", 6)} AS d1
       |    FROM rated GROUP BY u)),
       |pred AS (
       |  SELECT r, w0 * v0 + w1 * v1 AS rhat
       |  FROM rated JOIN solved USING (u))
       |SELECT (SELECT count(*) FROM solved) AS n_users,
       |  (SELECT count(DISTINCT item) FROM ratings) AS n_items,
       |  count(*) AS n_ratings,
       |  ${Num.sqlR4("sqrt(avg(pow(r - rhat, 2)))")} AS rmse
       |FROM pred""".stripMargin
  }

  // ---- q177: Benford first-digit audit of order totals — the fraud/
  // data-quality screen: observed leading-digit distribution of
  // o_totalprice against Benford's log₁₀(1 + 1/d) expectation, with
  // per-digit chi² contributions. The leading digit comes from the
  // INTEGER cents rendered as a string (substr of a BIGINT cast) —
  // never floor(log10(double)), whose boundary ulps differ between
  // engines. One grouped aggregation over a 9-row digit domain. ----

  def q177Benford(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    val digits = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(substring(cents.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = broadcast(digits.agg(sum(col("n")).as("total")))
    digits.crossJoin(tot)
      .withColumn("observed", Num.r(col("n").cast("double") / col("total"), 6))
      .withColumn("expected",
        Num.r(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .select(col("digit"), col("n"), col("observed"), col("expected"),
        Num.r(pow(col("observed") - col("expected"), 2) / col("expected"), 6)
          .as("chi2_term"))
      .orderBy(col("digit"))
  }

  val q177Sql: String =
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INT) AS digit,
       |    count(*) AS n
       |  FROM orders WHERE o_totalprice > 0
       |  GROUP BY 1),
       |t AS (SELECT sum(n) AS total FROM d)
       |SELECT digit, n,
       |  ${Num.sqlR("n::DOUBLE / total", 6)} AS observed,
       |  ${Num.sqlR("log10(1.0 + 1.0 / digit)", 6)} AS expected,
       |  ${Num.sqlR(
        s"pow((${Num.sqlR("n::DOUBLE / total", 6)}) - (${Num.sqlR("log10(1.0 + 1.0 / digit)", 6)}), 2) / (${Num.sqlR("log10(1.0 + 1.0 / digit)", 6)})",
        6)} AS chi2_term
       |FROM d CROSS JOIN t
       |ORDER BY digit""".stripMargin

  def entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q131_tpch_q3" -> (q131TpchQ3 _),
    "q132_tpch_q4" -> (q132TpchQ4 _),
    "q133_tpch_q5" -> (q133TpchQ5 _),
    "q134_tpch_q6" -> (q134TpchQ6 _),
    "q135_tpch_q7" -> (q135TpchQ7 _),
    "q136_tpch_q8" -> (q136TpchQ8 _),
    "q137_tpch_q9" -> (q137TpchQ9 _),
    "q138_tpch_q10" -> (q138TpchQ10 _),
    "q139_tpch_q12" -> (q139TpchQ12 _),
    "q140_tpch_q13" -> (q140TpchQ13 _),
    "q141_tpch_q14" -> (q141TpchQ14 _),
    "q142_tpch_q15" -> (q142TpchQ15 _),
    "q143_tpch_q17" -> (q143TpchQ17 _),
    "q144_tpch_q18" -> (q144TpchQ18 _),
    "q145_tpch_q19" -> (q145TpchQ19 _),
    "q146_tpch_q21" -> (q146TpchQ21 _),
    "q147_tpch_q22" -> (q147TpchQ22 _),
    "q159_basket" -> (q159Basket _),
    "q163_skyline" -> (q163Skyline _),
    "q170_fulfillment_sla" -> (q170FulfillmentSla _),
    "q175_gini" -> (q175Gini _),
    "q176_als_round" -> (q176AlsRound _),
    "q177_benford" -> (q177Benford _))

  def oracles: Map[String, String] = Map(
    "q131_tpch_q3" -> q131Sql,
    "q132_tpch_q4" -> q132Sql,
    "q133_tpch_q5" -> q133Sql,
    "q134_tpch_q6" -> q134Sql,
    "q135_tpch_q7" -> q135Sql,
    "q136_tpch_q8" -> q136Sql,
    "q137_tpch_q9" -> q137Sql,
    "q138_tpch_q10" -> q138Sql,
    "q139_tpch_q12" -> q139Sql,
    "q140_tpch_q13" -> q140Sql,
    "q141_tpch_q14" -> q141Sql,
    "q142_tpch_q15" -> q142Sql,
    "q143_tpch_q17" -> q143Sql,
    "q144_tpch_q18" -> q144Sql,
    "q145_tpch_q19" -> q145Sql,
    "q146_tpch_q21" -> q146Sql,
    "q147_tpch_q22" -> q147Sql,
    "q159_basket" -> q159Sql,
    "q163_skyline" -> q163Sql,
    "q170_fulfillment_sla" -> q170Sql,
    "q175_gini" -> q175Sql,
    "q176_als_round" -> q176Sql,
    "q177_benford" -> q177Sql)
}
