package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** The remaining TPC-H queries (Q2, Q7-Q9, Q11-Q17, Q20-Q22).
  */
object TpchQueries {
  val family: Family = Family(
    // TPC-H Q7 (volume shipping, lifted to regions so every SF is
    // populated): the two bounded region+nation dims broadcast into
    // supplier/customer; the fact-side order join shuffles on its key,
    // supplier/customer joins stay AQE-decided (data-sized at cluster
    // scale — never hinted)
    Query("q7_region_volume")((s, dir) => {
      val natReg = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name").isin("EUROPE", "ASIA"))),
          col("n_regionkey") === col("r_regionkey"))
      val sup = t(s, dir, "supplier")
        .join(broadcast(natReg.select(col("n_nationkey").as("sn_key"),
          col("r_name").as("supp_region"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_region")
      val cust = t(s, dir, "customer")
        .join(broadcast(natReg.select(col("n_nationkey").as("cn_key"),
          col("r_name").as("cust_region"))),
          col("c_nationkey") === col("cn_key"))
        .select("c_custkey", "cust_region")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_vol"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_region") =!= col("cust_region"))
        .groupBy("supp_region", "cust_region", "l_year")
        .agg(sum(col("_vol")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_region", "cust_region", "l_year")
    }) {
      """SELECT supp_region, cust_region, l_year,
        |  CAST(SUM(vol) AS DOUBLE) AS revenue, CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM (
        | SELECT rs.r_name AS supp_region, rc.r_name AS cust_region,
        |   CAST(year(l_shipdate) AS INT) AS l_year,
        |   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN region rs ON ns.n_regionkey = rs.r_regionkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region rc ON nc.n_regionkey = rc.r_regionkey
        | WHERE rs.r_name IN ('EUROPE','ASIA') AND rc.r_name IN ('EUROPE','ASIA')
        |   AND rs.r_name <> rc.r_name
        |   AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin
    },
    // TPC-H Q8 (national market share): NATION_3's slice of the
    // AMERICA/STANDARD volume by order year — the share division runs
    // on the final |years| rows only, both numerator and denominator
    // exact decimal sums so the quotient is bit-stable across engines
    Query("q8_market_share")((s, dir) => {
      val natC = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "AMERICA")
          .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))
      val cust = t(s, dir, "customer")
        .join(broadcast(natC), col("c_nationkey") === col("cn_key"))
        .select("c_custkey")
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_vol"))
        .join(t(s, dir, "part").filter(col("p_type") === "STANDARD")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .groupBy("o_year")
        .agg(
          round(coalesce(sum(when(col("supp_nation") === "NATION_3", col("_vol"))),
            lit(0)).cast("double") / sum(col("_vol")).cast("double"), 6)
            .as("mkt_share"),
          sum(col("_vol")).cast("double").as("total_volume"),
          count(lit(1)).as("n_items"))
        .orderBy("o_year")
    }) {
      """WITH sl AS (
        | SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol,
        |   ns.n_name AS supp_nation
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        | WHERE r_name = 'AMERICA' AND p_type = 'STANDARD'
        |   AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT o_year,
        |  ROUND(CAST(COALESCE(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END), 0) AS DOUBLE)
        |    / CAST(SUM(vol) AS DOUBLE), 6) AS mkt_share,
        |  CAST(SUM(vol) AS DOUBLE) AS total_volume,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM sl GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // TPC-H Q9 (product-type profit; retail-cost proxy for the absent
    // partsupp.supplycost): profit = rev - 0.5*retail*qty, all-decimal
    // so the per-(nation, year) sums are order-independent; the name
    // filter prunes part before its join (AQE broadcasts the sliver)
    Query("q9_product_profit")((s, dir) => {
      val pt = t(s, dir, "part").filter(col("p_name").like("red%"))
        .select("p_partkey", "p_retailprice")
      val sup = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "nation")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(pt, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("_profit",
          col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) -
          col("p_retailprice").cast("decimal(18,2)") *
            col("l_quantity").cast("decimal(18,2)") *
            lit("0.5").cast("decimal(2,1)"))
        .groupBy("nation", "o_year")
        .agg(sum(col("_profit")).cast("double").as("sum_profit"),
          count(lit(1)).as("n_items"))
        .orderBy(col("nation"), col("o_year").desc)
    }) {
      """SELECT nation, o_year,
        |  CAST(SUM(profit) AS DOUBLE) AS sum_profit, CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM (
        | SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |     - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)) AS profit
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        | WHERE p_name LIKE 'red%') t
        |GROUP BY 1,2 ORDER BY 1, 2 DESC""".stripMargin
    },
    // TPC-H Q11 (important parts; lineitem revenue proxies the absent
    // partsupp value): parts whose value exceeds 1.1x the mean part
    // value — the global total arrives as a broadcast 1-row aggregate
    // (one crossJoin, no second fact scan), and the threshold compare
    // is cross-multiplied to exact decimals so no float flip
    Query("q11_important_parts")((s, dir) => {
      val pv = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("p_partkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("_vd"))
      val tot = pv.agg(sum(col("_vd")).as("_t"), count(lit(1)).as("_np"))
      pv.crossJoin(broadcast(tot))
        .filter(col("_vd") * col("_np") * 10 > col("_t") * 11)
        .select(col("p_partkey"), col("_vd").cast("double").as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    }) {
      """WITH pv AS (SELECT l_partkey AS p_partkey,
        |        SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS vd
        |       FROM lineitem GROUP BY 1),
        | tot AS (SELECT SUM(vd) AS t, COUNT(*) AS np FROM pv)
        |SELECT p_partkey, CAST(vd AS DOUBLE) AS value
        |FROM pv, tot WHERE vd * np * 10 > t * 11
        |ORDER BY value DESC, p_partkey""".stripMargin
    },
    // TPC-H Q12 (late-line priority mix; returnflag stands in for the
    // absent shipmode, ship-lag for commit/receipt): the year filter
    // pushes to the lineitem scan; the lag predicate references both
    // sides so it evaluates post-join; CASE counts are map-side partial
    Query("q12_priority_lag")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 days"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
            .as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0).otherwise(1))
            .as("low_line_count"))
        .orderBy("l_returnflag")
    }) {
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // TPC-H Q13 (customer order-count distribution): LEFT OUTER so
    // zero-order customers survive into the c_count=0 bucket; the
    // second groupBy runs on the tiny count domain
    Query("q13_customer_distribution")((s, dir) => {
      t(s, dir, "customer").select("c_custkey")
        .join(t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select("o_orderkey", "o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }) {
      """WITH co AS (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderpriority <> '4-NOT SPECIFIED') o ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin
    },
    // TPC-H Q14 (promo revenue share): one month of lineitem joined to
    // part's type column; numerator/denominator both exact decimal
    // sums over the SAME joined frame — one scan, one shuffle
    Query("q14_promo_revenue")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_vol"))
        .join(t(s, dir, "part").select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          round(lit(100.0) *
            coalesce(sum(when(col("p_type") === "PROMO", col("_vol"))), lit(0))
              .cast("double") / sum(col("_vol")).cast("double"), 6)
            .as("promo_share"),
          coalesce(sum(when(col("p_type") === "PROMO", col("_vol"))), lit(0))
            .cast("double").as("promo_revenue"),
          sum(col("_vol")).cast("double").as("total_revenue"),
          count(lit(1)).as("n_items"))
    }) {
      """WITH f AS (SELECT p_type,
        |   CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS vol
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT
        |  ROUND(100.0 * CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO' THEN vol END), 0) AS DOUBLE)
        |    / CAST(SUM(vol) AS DOUBLE), 6) AS promo_share,
        |  CAST(COALESCE(SUM(CASE WHEN p_type = 'PROMO' THEN vol END), 0) AS DOUBLE) AS promo_revenue,
        |  CAST(SUM(vol) AS DOUBLE) AS total_revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM f""".stripMargin
    },
    // TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    // the max arrives as a broadcast 1-row aggregate over the
    // |suppliers|-bounded frame — equality on exact decimals, no
    // window over the fact table, no second scan
    Query("q15_top_supplier")((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("s_suppkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("_rd"))
      rev.crossJoin(broadcast(rev.agg(max(col("_rd")).as("_mx"))))
        .filter(col("_rd") === col("_mx"))
        .join(t(s, dir, "supplier").select(col("s_suppkey").as("sk"), col("s_name")),
          col("s_suppkey") === col("sk"))
        .select(col("s_suppkey"), col("s_name"),
          col("_rd").cast("double").as("total_revenue"))
        .orderBy("s_suppkey")
    }) {
      """WITH rev AS (SELECT l_suppkey AS s_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rd
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT r.s_suppkey, s_name, CAST(rd AS DOUBLE) AS total_revenue
        |FROM rev r JOIN supplier USING (s_suppkey)
        |WHERE rd = (SELECT MAX(rd) FROM rev)
        |ORDER BY r.s_suppkey""".stripMargin
    },
    // TPC-H Q16 (supplier counts per part class; lineitem as the
    // part-supplier relation): count_distinct shuffles once on the
    // (brand, size) key with partial distinct below the exchange;
    // brand/size filters prune part before its join
    Query("q16_supplier_cnt")((s, dir) => {
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))
          .select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }) {
      """SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,9,13,17,21,25,29,33,37,41,45,49)
        |GROUP BY 1,2 ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin
    },
    // TPC-H Q17 (small-quantity revenue): the spec's correlated per-part
    // average becomes a grouped aggregate joined back on partkey (the
    // shuffle is reused, the brand sliver prunes both sides first), and
    // the 20%-of-average test is cross-multiplied to exact decimals
    // (5*q*n < sum_q) so no float threshold flips at the boundary
    Query("q17_small_qty_revenue")((s, dir) => {
      val lif = t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_brand") === "Brand#5")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      val st = lif.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"),
          count(lit(1)).as("_n"))
      lif.join(st, col("l_partkey") === col("pk"))
        .filter(col("l_quantity").cast("decimal(18,2)") * lit(5) * col("_n") <
          col("_sq"))
        .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
          lit(7.0)).as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }) {
      """WITH lif AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#5'),
        | st AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, COUNT(*) AS n
        |  FROM lif GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lif JOIN st USING (l_partkey)
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq""".stripMargin
    },
    // TPC-H Q20 (excess-shipment suppliers; per-(supp, part) shipped
    // quantity proxies the absent partsupp.availqty): the inner
    // aggregate feeds a LEFT SEMI probe — the supplier side streams
    // through once, the region dims broadcast
    Query("q20_red_part_suppliers")((s, dir) => {
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(t(s, dir, "part").filter(col("p_name").like("red%"))
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("_sq"))
        .filter(col("_sq") > 25)
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("sn_key"))),
          col("s_nationkey") === col("sn_key"))
        .join(shipped, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    }) {
      """WITH shipped AS (SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1,2)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND EXISTS (SELECT 1 FROM shipped WHERE l_suppkey = s_suppkey AND sq > 25)
        |ORDER BY s_suppkey""".stripMargin
    },
    // TPC-H Q21 (suppliers who kept orders waiting; ship-lag stands in
    // for commit/receipt): the spec's EXISTS / NOT-EXISTS self-join
    // pair collapses into ONE per-order aggregate — distinct suppliers,
    // distinct late suppliers, and (since exactly one) the late
    // supplier's identity via MAX — same answer, one shuffle on
    // orderkey instead of three fact self-joins
    Query("q21_waiting_supplier")((s, dir) => {
      val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 days")
      val per = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count_distinct(col("l_suppkey")).as("_ns"),
          count_distinct(when(late, col("l_suppkey"))).as("_nl"),
          max(when(late, col("l_suppkey"))).as("_latesupp"))
        .filter(col("_ns") >= 2 && col("_nl") === 1)
      per.groupBy(col("_latesupp").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(t(s, dir, "supplier").select(col("s_suppkey").as("sk"), col("s_name")),
          col("s_suppkey") === col("sk"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }) {
      """WITH l2 AS (SELECT l_orderkey, l_suppkey,
        |    CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'),
        | per AS (SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS ns,
        |    COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nl,
        |    MAX(CASE WHEN late = 1 THEN l_suppkey END) AS latesupp
        |  FROM l2 GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM per JOIN supplier ON latesupp = s_suppkey
        |WHERE ns >= 2 AND nl = 1
        |GROUP BY 1,2 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin
    },
    // TPC-H Q22 (dormant high-balance customers; nationkey%10 as the
    // country code, dormant = no order since mid-2000): the positive-
    // balance average arrives as a broadcast 1-row (sum, count)
    // aggregate and the compare cross-multiplies to exact decimals;
    // the dormancy test is a LEFT ANTI probe of the date-pruned orders
    Query("q22_global_sales")((s, dir) => {
      val cc = t(s, dir, "customer")
        .withColumn("cntrycode", col("c_nationkey") % 10)
        .filter(col("cntrycode").isin(1, 2, 3, 4, 5))
        .select(col("c_custkey"), col("cntrycode"),
          col("c_acctbal").cast("decimal(18,2)").as("_bal"))
      val av = cc.filter(col("_bal") > 0)
        .agg(sum(col("_bal")).as("_s"), count(lit(1)).as("_n"))
      cc.crossJoin(broadcast(av))
        .filter(col("_bal") * col("_n") > col("_s"))
        .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(count(lit(1)).as("numcust"),
          sum(col("_bal")).cast("double").as("totacctbal"))
        .orderBy("cntrycode")
    }) {
      """WITH cc AS (SELECT c_custkey, c_nationkey % 10 AS cntrycode, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer WHERE c_nationkey % 10 IN (1,2,3,4,5)),
        | av AS (SELECT SUM(bal) AS s, COUNT(*) AS n FROM cc WHERE bal > 0),
        | el AS (SELECT cntrycode, bal FROM cc, av
        |  WHERE bal * n > s
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01'))
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM el GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // TPC-H Q2 (min-cost supplier; cheapest observed sale price in
    // lineitem proxies partsupp.supplycost): per-(part, supplier) MIN,
    // then the per-part argmin runs as a row_number over the ALREADY
    // aggregated |parts x suppliers|-bounded frame — never a window
    // over the fact table; region dims broadcast
    Query("q2_min_cost_supp")((s, dir) => {
      val cost = t(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(t(s, dir, "part")
          .filter(col("p_size") <= 5 && col("p_type") === "LARGE")
          .select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast("decimal(18,2)")).as("_mp"))
      val eu = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("sn_key"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "s_name")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_partkey")).orderBy(col("_mp"), col("l_suppkey"))
      cost.join(eu, col("l_suppkey") === col("s_suppkey"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("l_partkey").as("p_partkey"), col("s_suppkey"), col("s_name"),
          col("_mp").cast("double").as("min_price"))
        .orderBy("p_partkey")
    }) {
      """WITH pt AS (SELECT p_partkey FROM part WHERE p_size <= 5 AND p_type = 'LARGE'),
        | cost AS (SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
        |    MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
        |  FROM lineitem JOIN pt ON l_partkey = p_partkey GROUP BY 1,2),
        | eu AS (SELECT s_suppkey, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        | r AS (SELECT c.p_partkey, c.s_suppkey, eu.s_name, c.min_price,
        |    ROW_NUMBER() OVER (PARTITION BY c.p_partkey ORDER BY c.min_price, c.s_suppkey) AS rn
        |  FROM cost c JOIN eu USING (s_suppkey))
        |SELECT p_partkey, s_suppkey, s_name, CAST(min_price AS DOUBLE) AS min_price
        |FROM r WHERE rn = 1 ORDER BY p_partkey""".stripMargin
    },
  )
}
