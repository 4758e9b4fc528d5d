package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Graph

import Shared._

/** Supplier-graph PageRank and HITS, and the core TPC-H report queries
  * (Q1, Q4, Q5, Q6, Q10, Q18, Q19) with rolling, decile and RFM views.
  */
object RankingQueries {
  val family: Family = Family(
    // EXT fixed-iteration PageRank (Graph.pageRank) over the
    // supplies-to graph (supplier -> customer via lineitem x orders,
    // ids prefixed so the two key spaces cannot collide): 3 synchronous
    // sweeps, each one rank-join + one decimal-summed groupBy (the
    // Pregel sweep as two exchanges); per-sweep quantization keeps
    // every iteration's state on an engine-portable grid
    Query("pagerank_suppliers")((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
          damping = 0.85, quantize = 9)
        .orderBy("node")
    }) {
      pageRankSql(iterations = 3, damping = 0.85, quantize = 9)
    },
    // EXT HITS hubs/authorities (Graph.hits) on the same supplies-to
    // bipartite graph — suppliers are hubs, customers authorities; two
    // normalized sweeps under the PageRank float discipline
    Query("hits_suppliers")((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      Graph.hits(edges, "src", "dst", iterations = 2, quantize = 9)
        .orderBy("node")
    }) {
      hitsSql(iterations = 2, quantize = 9)
    },
    // OLAP star join (TPC-H Q5 shape): revenue by nation for one region
    // and year, local suppliers only (c_nationkey = s_nationkey). Six
    // tables; region/nation broadcast, customer/supplier AQE-decided,
    // the two fact-side joins shuffle on their keys — the classic plan
    // a warehouse engine must get right, and the date + region filters
    // must reach the scans (PlanSpec-checkable pushdown)
    Query("q5_nation_revenue")((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }) {
      // Q5 mirror: same join graph, same decimal-exact factor-cast revenue
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin
    },
    // Window RANGE frame: trailing-7-day revenue per order day — the
    // time-based frame (RANGE BETWEEN 6 PRECEDING) over the daily
    // aggregate, which is at most |days| rows after the one fact shuffle
    Query("rolling_revenue_7d")((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(dsum(col("o_totalprice")).as("day_rev"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_dn"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("_dn", datediff(col("day"), lit("1995-01-01").cast("date")))
        .withColumn("rev_7d",
          round(sum(col("day_rev").cast(DEC)).over(w).cast("double"), 2))
        .select(col("day"), col("day_rev"), col("rev_7d"))
        .orderBy("day")
    }) {
      // rolling mirror: integer day-number RANGE frame over the daily agg
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS day_rev
        |       FROM orders GROUP BY 1),
        | n AS (SELECT day, day_rev, day - DATE '1995-01-01' AS dn FROM daily)
        |SELECT day, day_rev,
        |  ROUND(CAST(SUM(CAST(day_rev AS DECIMAL(30,2))) OVER
        |    (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS rev_7d
        |FROM n ORDER BY day""".stripMargin
    },
    // Window ntile: customers cut into account-balance deciles per
    // market segment (total tie-break on key), with per-decile stats
    Query("acctbal_deciles")((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("n"),
          dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy("c_mktsegment", "decile")
    }) {
      // decile mirror: NTILE semantics match (earlier buckets take extras)
      """WITH d AS (SELECT c_mktsegment, c_acctbal,
        |        CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
        |          ORDER BY c_acctbal DESC, c_custkey) AS INT) AS decile
        |       FROM customer)
        |SELECT c_mktsegment, decile, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal_sum
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // EXT RFM segmentation (the classic CRM cut): per-customer
    // recency/frequency/monetary scored on literal edges (branch-free
    // comparison sums — never a data-sized NTILE), segment cells with
    // counts and average spend
    Query("rfm_segments")((s, dir) => {
      val o = t(s, dir, "orders")
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("_last"),
          count(lit(1)).as("_f"),
          sum(col("o_totalprice").cast("decimal(30,2)")).as("_m"))
      val mx = o.agg(max(col("o_orderdate").cast("date")).as("_mx"))
      def bucket(c: Column, edges: Seq[Long]) =
        edges.map(e => when(c >= lit(e), 1L).otherwise(0L)).reduce(_ + _)
      per.crossJoin(broadcast(mx))
        .select(
          bucket(datediff(col("_mx"), col("_last")).cast("long"), RfmREdges)
            .as("r_bucket"),
          bucket(col("_f"), RfmFEdges).as("f_bucket"),
          bucket(col("_m"), RfmMEdges).as("m_bucket"), col("_m"))
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("_m")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_monetary"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    }) {
      // RFM mirror: the same literal edges as branch-free CASE sums
      def bSql(expr0: String, edges: Seq[Long]): String = edges
        .map(e => s"(CASE WHEN $expr0 >= $e THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH per AS (SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
         |        CAST(COUNT(*) AS BIGINT) AS f,
         |        SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS m
         |       FROM orders GROUP BY 1),
         | mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
         | sc AS (SELECT CAST(${bSql("(mxd - last_d)", RfmREdges)} AS BIGINT) AS r_bucket,
         |        CAST(${bSql("f", RfmFEdges)} AS BIGINT) AS f_bucket,
         |        CAST(${bSql("m", RfmMEdges)} AS BIGINT) AS m_bucket, m
         |       FROM per, mx)
         |SELECT r_bucket, f_bucket, m_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_customers,
         |  ROUND(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_monetary
         |FROM sc GROUP BY 1, 2, 3 ORDER BY r_bucket, f_bucket, m_bucket""".stripMargin
    },
    // EXT TPC-H Q1 pricing summary — the canonical scan+aggregate
    // headline: one pass, map-side partial agg into 6ish groups. Money
    // discipline: factors cast to DECIMAL BEFORE multiplying (exact
    // scale-4/6 products, the cube_revenue lesson); the scale-6 charge
    // sum is emitted as exact MICRO-unit BIGINT — a scale-6 decimal sum
    // cast to double exceeds 2^53 at bench SF and DuckDB's int128->
    // double rounding differs by 1 ulp from Spark's
    Query("q1_pricing_summary")((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(12,2)")
      val discPrice = (dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(12,2)") - dec(col("l_discount"))))
        .cast("decimal(18,4)")
      val chargeMicro = (discPrice *
        (lit(1).cast("decimal(12,2)") + dec(col("l_tax"))) *
        lit(1000000)).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("2000-09-02").cast("date"))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"),
          discPrice.as("_dp"), chargeMicro.as("_cm"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("_dp")).cast("double").as("sum_disc_price"),
          sum(col("_cm")).as("sum_charge_micro"),
          (sum(col("l_quantity").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_price"),
          (sum(col("l_discount").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }) {
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(12,2))) * 1000000 AS BIGINT)) AS BIGINT) AS sum_charge_micro,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // TPC-H Q10 (returned-item reporting): revenue lost to returns per
    // customer over one quarter, top 20. Star shape: the date filter
    // prunes orders BEFORE the fact join, nation broadcasts, and the
    // top-20 is a TakeOrderedAndProject (no global sort materialized)
    Query("q10_returned_items")((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }) {
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
    },
    // TPC-H Q18 (large-volume orders): orders whose total quantity
    // exceeds the threshold, with the customer. The HAVING prunes on
    // the grouped fact FIRST (tiny survivor set), then joins the dims —
    // never the other way around
    Query("q18_large_orders")((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(30,2)")).cast("double")
          .as("sum_qty"))
        .filter(col("sum_qty") > 200.0)
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }) {
      """WITH big AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) > 200.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin
    },
    // TPC-H Q19 (disjunctive predicate star): the OR of brand/quantity/
    // size conjunctions references BOTH join sides, so the disjunction
    // itself cannot push down — but its single-side ENVELOPES can, and
    // are applied explicitly before the join (l_quantity <= 30; brand
    // IN-list + p_size <= 15 shrink part to a broadcastable sliver)
    Query("q19_disjunctive_revenue")((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val pt = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
          col("p_size") >= 1 && col("p_size") <= 15)
        .select("p_partkey", "p_brand", "p_size")
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" &&
            col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#2" &&
            col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" &&
            col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }) {
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin
    },
    // TPC-H Q4 (order priority checking): EXISTS compiles to a LEFT
    // SEMI join — the fact side streams through probe-only, no
    // duplicate inflation, no distinct; date filter prunes orders first
    Query("q4_order_priority")((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val late = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 days"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }) {
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // TPC-H Q6 (forecast revenue change): the pure-pushdown shape — a
    // single scan whose three predicates all reach the parquet reader,
    // one partial-agg pass, zero joins
    Query("q6_forecast_revenue")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }) {
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin
    },
  )

  /** Literal RFM scoring edges for `rfm_segments` — ONE definition
    * feeds both engines' branch-free bucket sums.
    */
  private val RfmREdges: Seq[Long] = Seq(90L, 365L, 730L, 1460L)

  private val RfmFEdges: Seq[Long] = Seq(5L, 10L, 15L, 20L)

  private val RfmMEdges: Seq[Long] = Seq(500000L, 1500000L, 3000000L, 4500000L)

  /** PageRank oracle: the same 3 unrolled sweeps with the same
    * quantization grid. The teleport and damping constants are Scala
    * doubles INTERPOLATED at full precision and cast to DOUBLE — DuckDB
    * would otherwise evaluate `1 - 0.85` in decimal (exactly 0.15),
    * diverging from Scala's `1.0 - damping` double by one ulp.
    */
  private def pageRankSql(iterations: Int, damping: Double, quantize: Int): String =
    s"""WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       | ${pageRankChain(iterations, damping, quantize)}
       |SELECT id AS node, r AS rank FROM r$iterations ORDER BY node""".stripMargin

  /** HITS oracle: unrolled normalized sweeps, same quantization grid
    * and decimal-sum discipline as [[pageRankSql]].
    */
  private def hitsSql(iterations: Int, quantize: Int): String = {
    def d12(expr: String) = s"CAST(SUM(CAST(ROUND($expr, 12) AS DECIMAL(30,12))) AS DOUBLE)"
    val sweeps = (1 to iterations).map { i =>
      val prevHub = if (i == 1) "s0" else s"sh${i - 1}"
      s""" ar$i AS (SELECT e.dst AS id, ${d12(s"$prevHub.hub")} AS ar
         |         FROM e JOIN $prevHub ON $prevHub.id = e.src GROUP BY 1),
         | at$i AS (SELECT ${d12("ar")} AS t FROM ar$i),
         | sa$i AS (SELECT nodes.id, ROUND(COALESCE(ar, 0.0) / at$i.t, $quantize) AS auth
         |         FROM nodes LEFT JOIN ar$i ON ar$i.id = nodes.id, at$i),
         | hr$i AS (SELECT e.src AS id, ${d12("auth")} AS hr
         |         FROM e JOIN sa$i ON sa$i.id = e.dst GROUP BY 1),
         | ht$i AS (SELECT ${d12("hr")} AS t FROM hr$i),
         | sh$i AS (SELECT nodes.id, ROUND(COALESCE(hr, 0.0) / ht$i.t, $quantize) AS hub
         |         FROM nodes LEFT JOIN hr$i ON hr$i.id = nodes.id, ht$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | s0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$sweeps
       |SELECT h.id AS node, h.hub, a.auth AS authority
       |FROM sh$iterations h JOIN sa$iterations a USING (id) ORDER BY 1""".stripMargin
  }
}
