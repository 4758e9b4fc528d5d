package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators.{Assoc, Checks, Coo, Graph, Relational, Sketches, Stats}

import Shared._

/** pandas primitives over the TPC-H tables: alignment, reindexing,
  * upserts, column stats, COO matrices, privacy audits, cube/rollup,
  * association rules and data-quality audits.
  */
object TableQueries {
  val family: Family = Family(
    // EXT integrity manifest (Scale.contentFingerprints): per-bucket
    // count + order-independent 48-bit XOR fingerprint — 8 bytes of
    // aggregation state per bucket, map-side combining, layout- and
    // partitioning-independent, so a replica's manifest from another
    // cluster matches bit for bit; copy verification = one scan + a
    // 64-row diff
    Query("partition_fingerprints")((s, dir) =>
      graft.operators.Scale.contentFingerprints(
          t(s, dir, "documents"), "doc_id", "text", 64)
        .orderBy("bucket")) {
      s"""WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR) || ':' || text) AS hx FROM documents),
        | b AS (SELECT CAST(((instr('0123456789abcdef', substr(hx, 13, 1)) - 1) * 16 +
        |                    (instr('0123456789abcdef', substr(hx, 14, 1)) - 1)) % 64 AS INT) AS bucket,
        |        ${hex48Sql("hx")} AS h
        |       FROM h)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(h) AS fingerprint
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // #13 alignable (utils.py:492-513)
    Query("alignable")((s, dir) => {
      val cust = t(s, dir, "customer")
      val ordCust = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val ab = Relational.alignable(cust.select("c_custkey"), ordCust, Seq("c_custkey"))
      val aa = Relational.alignable(cust.select("c_custkey"), cust.select("c_custkey"), Seq("c_custkey"))
      s.range(1).select(lit(ab).as("align_ab"), lit(aa).as("align_aa"))
    }) {
      """WITH a AS (SELECT c_custkey AS k FROM customer), b AS (SELECT DISTINCT o_custkey AS k FROM orders)
        |SELECT ((SELECT COUNT(*) FROM a) = (SELECT COUNT(DISTINCT k) FROM a))
        |   AND ((SELECT COUNT(*) FROM b) = (SELECT COUNT(DISTINCT k) FROM b))
        |   AND ((SELECT COUNT(*) FROM a) = (SELECT COUNT(*) FROM b))
        |   AND NOT EXISTS (SELECT 1 FROM a WHERE k NOT IN (SELECT k FROM b))
        |   AND NOT EXISTS (SELECT 1 FROM b WHERE k NOT IN (SELECT k FROM a)) AS align_ab,
        | TRUE AS align_aa""".stripMargin
    },
    // EXT join-key skew diagnostic (Stats.keySkewProfile): distinct
    // keys, hottest-key share, exact Gini over per-key frequencies —
    // the saltedJoin go/no-go numbers; global rank via the two-phase
    // range rank, never a partition-less window
    Query("key_skew_orders")((s, dir) =>
      Stats.keySkewProfile(t(s, dir, "orders"), "o_custkey")) {
      """WITH c AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
        | r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS r FROM c),
        | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |         CAST(SUM(c) AS BIGINT) AS total,
        |         CAST(MAX(c) AS BIGINT) AS max_cnt,
        |         SUM(CAST(r AS HUGEINT) * c) AS s1 FROM r)
        |SELECT n_keys, total, max_cnt,
        |  CAST(max_cnt AS DOUBLE) / CAST(total AS DOUBLE) AS top1_share,
        |  (2.0 * CAST(s1 AS DOUBLE)) /
        |    (CAST(n_keys AS DOUBLE) * CAST(total AS DOUBLE)) -
        |    CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE) AS gini
        |FROM a""".stripMargin
    },
    // EXT TPC-H Q3 shipping priority (adapted: o_orderpriority carried
    // where TPC-H has o_shippriority) — segment-filtered 3-table star,
    // decimal-exact revenue, global top-10 compiling to
    // TakeOrderedAndProject (never a full sort); dimension side
    // broadcast decided by AQE, no hints
    Query("q3_shipping_priority")((s, dir) => {
      val cut = lit("1998-06-15").cast("date")
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ords = t(s, dir, "orders")
        .filter(col("o_orderdate").cast("date") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") > cut)
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(1).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)"))).as("_rev"))
      li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("_rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }) {
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-15'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin
    },
    // #17 column_stats (utils.py:760-808)
    Query("column_stats_customer")((s, dir) => {
      Stats.columnStats(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    }) {
      columnStatsSql("customer", Seq(
        "c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_mktsegment" -> "string"))
    },
    // EXT k-anonymity audit: quasi-identifier (nation, segment,
    // balance-bucket) group sizes over customer — the privacy screen a
    // training-data release runs before shipping structured records
    Query("k_anonymity_audit")((s, dir) => {
      val qi = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).as("_bb"))
        .agg(count(lit(1)).as("_c"))
      qi.agg(sum(col("_c")).as("n"), count(lit(1)).as("n_groups"),
          min(col("_c")).as("k_min"),
          sum(when(col("_c") === 1L, 1L).otherwise(0L)).as("n_singletons"),
          sum(when(col("_c") < 5L, col("_c")).otherwise(0L)).as("_below"))
        .select(col("n"), col("n_groups"), col("k_min"), col("n_singletons"),
          round(col("_below").cast("double") / col("n").cast("double"), 6)
            .as("pct_below_5"))
    }) {
      // k-anonymity mirror: QI group sizes + the four audit scalars
      """WITH qi AS (SELECT c_nationkey, c_mktsegment,
        |        FLOOR(c_acctbal / 1000.0) AS bb, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM customer GROUP BY 1, 2, 3),
        | a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |        CAST(COUNT(*) AS BIGINT) AS n_groups,
        |        CAST(MIN(c) AS BIGINT) AS k_min,
        |        CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |        CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS below
        |       FROM qi)
        |SELECT n, n_groups, k_min, n_singletons,
        |  ROUND(CAST(below AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct_below_5
        |FROM a""".stripMargin
    },
    // EXT l-diversity audit: within (nation, segment) QI groups, how
    // diverse is the sensitive balance bucket — k-anonymity's
    // companion (a k-anonymous group with ONE sensitive value still
    // leaks it)
    Query("l_diversity_audit")((s, dir) => {
      val g = t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("_n"),
          count_distinct(floor(col("c_acctbal") / 1000.0)).as("_l"))
      g.agg(sum(col("_n")).as("n"), count(lit(1)).as("n_groups"),
          min(col("_l")).as("l_min"),
          sum(when(col("_l") < 3L, 1L).otherwise(0L)).as("n_groups_below_3"),
          sum(when(col("_l") < 3L, col("_n")).otherwise(0L)).as("_below"))
        .select(col("n"), col("n_groups"), col("l_min"),
          col("n_groups_below_3"),
          round(col("_below").cast("double") / col("n").cast("double"), 6)
            .as("pct_rows_below_3"))
    }) {
      // l-diversity mirror: distinct sensitive buckets per QI group
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(COUNT(DISTINCT FLOOR(c_acctbal / 1000.0)) AS BIGINT) AS l
        |       FROM customer GROUP BY 1, 2),
        | a AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
        |        CAST(COUNT(*) AS BIGINT) AS n_groups,
        |        CAST(MIN(l) AS BIGINT) AS l_min,
        |        CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_3,
        |        CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS below
        |       FROM g)
        |SELECT n, n_groups, l_min, n_groups_below_3,
        |  ROUND(CAST(below AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct_rows_below_3
        |FROM a""".stripMargin
    },
    // EXT t-closeness audit (Stats.tCloseness) — the distributional
    // privacy member next to k-anonymity/l-diversity: worst QI groups
    // by EMD between group and global ordered spend-band distribution.
    // The sensitive band = integer digit count of the order total
    // (string length of the floored BIGINT — exact on both engines,
    // no libm log10 at power-of-ten boundaries)
    Query("t_closeness_audit")((s, dir) =>
      Stats.tCloseness(
        t(s, dir, "orders").select(
          year(col("o_orderdate")).as("yr"),
          col("o_orderpriority").as("prio"),
          length(floor(col("o_totalprice")).cast("long").cast("string"))
            .as("band")),
        Seq("yr", "prio"), "band", topK = 10)) {
      // t-closeness mirror: same cell/group/global aggregates, the grid
      // completed by a cross join (values identical to the Spark side's
      // map-lookup transform), EMD as the same m fresh prefix folds over
      // the level-ordered d list
      """WITH src AS (SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
        |        o_orderpriority AS prio,
        |        length(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) AS band
        |       FROM orders),
        | cells AS (SELECT yr, prio, band, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM src GROUP BY 1, 2, 3),
        | grp AS (SELECT yr, prio, CAST(SUM(c) AS BIGINT) AS ng FROM cells GROUP BY 1, 2),
        | gl AS (SELECT band, CAST(SUM(c) AS BIGINT) AS gc FROM cells GROUP BY 1),
        | tm AS (SELECT CAST(SUM(gc) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS m FROM gl),
        | grid AS (SELECT g.yr, g.prio, g.ng, l.band, COALESCE(c.c, 0) AS c, l.gc
        |       FROM grp g CROSS JOIN gl l
        |       LEFT JOIN cells c ON c.yr = g.yr AND c.prio = g.prio AND c.band = l.band),
        | d AS (SELECT yr, prio, ng, band,
        |        CAST(c AS DOUBLE) / CAST(ng AS DOUBLE)
        |          - CAST(gc AS DOUBLE) / CAST(n AS DOUBLE) AS d
        |       FROM grid, tm),
        | ls AS (SELECT yr, prio, CAST(MAX(ng) AS BIGINT) AS grp_n,
        |        list(d ORDER BY band) AS dl FROM d GROUP BY 1, 2),
        | emd AS (SELECT yr, prio, grp_n,
        |        CASE WHEN m > 1 THEN
        |          list_sum(list_transform(range(1, CAST(m + 1 AS INT)),
        |            i -> abs(list_sum(list_slice(dl, 1, i)))))
        |            / CAST(m - 1 AS DOUBLE)
        |        ELSE 0e0 END AS emd
        |       FROM ls, tm)
        |SELECT yr, prio, grp_n AS n, ROUND(emd, 6) AS t_emd FROM emd
        |ORDER BY ROUND(emd, 6) DESC, yr, prio LIMIT 10""".stripMargin
    },
    // #16 canonize + aligned concat (multi-frame join after align check)
    Query("concat_aligned")((s, dir) => {
      val cust = t(s, dir, "customer")
      val f1 = cust.select("c_custkey", "c_mktsegment")
      val f2 = cust.select(col("c_custkey"), col("c_acctbal"))
      val agg = t(s, dir, "orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val f3 = cust.select("c_custkey")
        .join(agg, Seq("c_custkey"), "left")
        .select(col("c_custkey"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
      Relational.concatAligned(Seq(f1, f2, f3), Seq("c_custkey"))
        .orderBy("c_custkey")
    }) {
      """WITH agg AS (SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, COALESCE(agg.n_orders, 0) AS n_orders
        |FROM customer c LEFT JOIN agg ON c.c_custkey = agg.c_custkey
        |ORDER BY c.c_custkey""".stripMargin
    },
    // #35 COO density (sparse.py:65-75), dims = observed label domains
    Query("coo_density")((s, dir) => {
      val li = t(s, dir, "lineitem")
      val coo = Coo.fromDf(li, "l_suppkey", "l_partkey", "l_quantity")
      val dims = li.agg(
        count_distinct(col("l_suppkey")).as("_nr"),
        count_distinct(col("l_partkey")).as("_nc"))
      coo.agg(count(lit(1)).as("_nnz"))
        .crossJoin(broadcast(dims))
        .select((col("_nnz").cast("double") / (col("_nr") * col("_nc"))).as("density"))
    }) {
      """WITH coo AS (SELECT l_suppkey, l_partkey FROM lineitem GROUP BY 1, 2)
        |SELECT CAST((SELECT COUNT(*) FROM coo) AS DOUBLE) /
        |       ((SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) * (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)) AS density""".stripMargin
    },
    // #35 COO todense pivot (sparse.py:106-129)
    Query("coo_todense")((s, dir) => {
      val coo = Coo.fromDf(t(s, dir, "lineitem"), "l_suppkey", "l_returnflag", "l_quantity")
      Coo.todense(coo, Seq("A", "N", "R")).orderBy("row_key")
    }) {
      """WITH coo AS (SELECT l_suppkey AS row_key, l_returnflag AS col_key, SUM(l_quantity) AS value FROM lineitem GROUP BY 1, 2)
        |SELECT row_key,
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'A' THEN value END) AS DOUBLE), 0.0) AS "A",
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'N' THEN value END) AS DOUBLE), 0.0) AS "N",
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'R' THEN value END) AS DOUBLE), 0.0) AS "R"
        |FROM coo GROUP BY row_key ORDER BY row_key""".stripMargin
    },
    // #40 Pearson correlation (plot.py:333)
    Query("corr_qty_price")((s, dir) => {
      t(s, dir, "lineitem")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr"))
    }) {
      "SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM lineitem"
    },
    // #7 dfdiag on long-form COO (utils.py:323-338)
    Query("diag_coo")((s, dir) => {
      val coo = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("row_key"), col("l_partkey").as("col_key"))
        .agg(dsum(col("l_quantity")).as("value"))
      Relational
        .diag(coo, "row_key", "col_key")
        .orderBy("row_key", "col_key")
    }) {
      """SELECT l_suppkey AS row_key, l_partkey AS col_key,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS value
        |FROM lineitem WHERE l_suppkey = l_partkey GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // #36 graph prep: color groups (nodes grouped by a color attribute)
    Query("graph_color_groups")((s, dir) => {
      Graph.colorGroups(t(s, dir, "customer"), "c_custkey", "c_mktsegment")
        .select("color", "n_nodes")
    }) {
      """SELECT c_mktsegment AS color, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM customer GROUP BY 1 ORDER BY color""".stripMargin
    },
    // #36 graph prep: degree table over the customer->order edge list
    Query("graph_degrees")((s, dir) => {
      Graph.degrees(t(s, dir, "orders"), "o_custkey", "o_orderkey")
        .orderBy("id")
    }) {
      """WITH o AS (SELECT o_custkey AS id, CAST(COUNT(*) AS BIGINT) AS out_degree FROM orders GROUP BY 1),
        | i AS (SELECT o_orderkey AS id, CAST(COUNT(*) AS BIGINT) AS in_degree FROM orders GROUP BY 1)
        |SELECT COALESCE(o.id, i.id) AS id,
        |       COALESCE(out_degree, 0) AS out_degree,
        |       COALESCE(in_degree, 0) AS in_degree,
        |       COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS degree
        |FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""".stripMargin
    },
    // #15 IdentitySeries (utils.py:630-723)
    Query("identity_series")((s, dir) => {
      Relational
        .identitySeries(t(s, dir, "customer"), "c_custkey")
        .orderBy("c_custkey")
    }) {
      "SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS value FROM customer ORDER BY c_custkey"
    },
    // reindex/aligned-concat as left join (utils.py:245,432-435)
    Query("reindex_join")((s, dir) => {
      val agg = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      t(s, dir, "customer")
        .join(agg, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    }) {
      """WITH agg AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(total_spent, 0.0) AS total_spent
        |FROM customer LEFT JOIN agg ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin
    },
    // #18 unique_row_ids (utils.py:811-841)
    Query("unique_row_ids")((s, dir) => {
      Relational
        .uniqueRowIds(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("row_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("row_id")
    }) {
      """SELECT l_returnflag, l_linestatus,
        | CAST(DENSE_RANK() OVER (ORDER BY l_returnflag, l_linestatus) AS BIGINT) AS row_id,
        | n
        |FROM (SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2)
        |ORDER BY row_id""".stripMargin
    },
    // #12 upsert (utils.py:469-489)
    Query("upsert_orders")((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val delta = orders
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      Relational
        .upsert(orders, delta, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }) {
      """WITH delta AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM delta
        |ORDER BY o_orderkey""".stripMargin
    },
    // EXT partition-pruned upsert (Relational.upsertPruned — the Delta
    // MERGE shape SURVEY §2.1 #12 calls for at scale): updates land in
    // ONE order-year partition, so the wide-key anti-join runs over
    // that year only; untouched years stream through a broadcast
    // partition anti-join with no key shuffle. Same result set as the
    // plain upsert — PlanSpec pins the pruned plan shape
    Query("upsert_pruned_orders")((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"),
          col("o_orderpriority"))
      val delta = orders
        .filter(col("o_year") === 1995 && col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_year"),
          lit("0-UPDATED").as("o_orderpriority"))
      Relational
        .upsertPruned(orders, delta, Seq("o_orderkey"), "o_year")
        .orderBy("o_orderkey", "o_year", "o_orderpriority")
    }) {
      // pruned-upsert mirror: plain upsert SQL — the pruning is execution
      // strategy (which partitions the anti-join touches), not semantics
      """WITH o AS (SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year, o_orderpriority FROM orders),
        | delta AS (SELECT o_orderkey, o_year, '0-UPDATED' AS o_orderpriority FROM o
        |           WHERE o_year = 1995 AND o_orderkey % 10 = 0),
        | m AS (SELECT * FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |       UNION ALL SELECT * FROM delta)
        |SELECT o_orderkey, o_year, o_orderpriority FROM m
        |ORDER BY o_orderkey, o_year, o_orderpriority""".stripMargin
    },
    // OLAP cube: revenue + row count at every (returnflag, linestatus)
    // granularity in ONE pass (partial_aggregate-friendly Expand, no
    // re-scan per grouping set); grouping_id disambiguates data NULLs
    // from subtotal rows, keys coalesced to a sentinel so row identity
    // is engine-portable (NULL orderings differ across engines)
    Query("cube_revenue")((s, dir) => {
      t(s, dir, "lineitem")
        // factors cast to decimal BEFORE the multiply: the product is
        // then exact at scale 4 (rounding the double product at scale 2
        // disagrees across engines by a cent on .005 boundaries). The
        // product is projected BEFORE the cube so Expand copies the
        // value instead of re-evaluating the decimal multiply once per
        // grouping set (4x the decimal CPU, measured).
        .select(col("l_returnflag"), col("l_linestatus"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("gid"), col("revenue"), col("n"))
        .orderBy("gid", "rf", "ls")
    }) {
      // cube mirror: GROUPING bit order matches Spark's grouping_id
      // (first column = MSB); same decimal-exact revenue sum
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |       coalesce(l_linestatus, '(all)') AS ls,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin
    },
    // EXT year-over-year revenue growth (the time-intelligence OLAP
    // readout next to cube/rollup's dimensional one): monthly revenue
    // with the same-month-last-year comparison — the lag rides the
    // (month)-partitioned year order, exact DECIMAL revenue, one
    // division at the readout
    Query("yoy_revenue_growth")((s, dir) => {
      val o = t(s, dir, "orders")
      val monthly = o.groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(col("o_totalprice").cast("decimal(30,2)")).as("_rev"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("mo")).orderBy(col("yr"))
      monthly.withColumn("_prev", lag(col("_rev"), 1).over(w))
        .select(col("yr"), col("mo"), col("_rev").cast("double").as("revenue"),
          col("_prev").cast("double").as("prev_year"),
          when(col("_prev").isNotNull,
            round(col("_rev").cast("double") / col("_prev").cast("double")
              - lit(1.0), 6)).as("yoy_growth"))
        .orderBy("yr", "mo")
    }) {
      // YoY mirror: month-partitioned year lag over the monthly roll-up
      """WITH m AS (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |        CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS mo,
        |        SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS rev
        |       FROM orders GROUP BY 1, 2),
        | l AS (SELECT yr, mo, rev,
        |        LAG(rev, 1) OVER (PARTITION BY mo ORDER BY yr) AS prev
        |       FROM m)
        |SELECT yr, mo, CAST(rev AS DOUBLE) AS revenue,
        |  CAST(prev AS DOUBLE) AS prev_year,
        |  CASE WHEN prev IS NOT NULL
        |       THEN ROUND(CAST(rev AS DOUBLE) / CAST(prev AS DOUBLE) - 1.0, 6) END AS yoy_growth
        |FROM l ORDER BY yr, mo""".stripMargin
    },
    // EXT order-priority mix drift by year (Stats.chi2Divergence
    // reused): which years' priority mix diverges from the overall
    // marginal — lang_chi2's shape pointed at the OLAP schema; the
    // process-change detector for an order pipeline
    Query("priority_chi2_years")((s, dir) =>
      Stats.chi2Divergence(
          t(s, dir, "orders").select(year(col("o_orderdate")).as("yr"),
            col("o_orderpriority")),
          "yr", "o_orderpriority")
        .orderBy("yr")) {
      // priority-drift mirror: the lang_chi2 observed-cells identity on
      // the (year, priority) cells
      """WITH cells AS (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
        |        o_orderpriority, CAST(COUNT(*) AS BIGINT) AS o
        |       FROM orders GROUP BY 1, 2),
        | ng AS (SELECT yr, CAST(SUM(o) AS BIGINT) AS ng FROM cells GROUP BY 1),
        | tc AS (SELECT o_orderpriority, CAST(SUM(o) AS BIGINT) AS tc FROM cells GROUP BY 1),
        | tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        | t AS (SELECT cells.yr, ng.ng, cells.o_orderpriority,
        |        (CAST(o * o AS DOUBLE) * CAST(n AS DOUBLE))
        |          / (CAST(ng AS DOUBLE) * CAST(tc AS DOUBLE)) AS term
        |       FROM cells JOIN ng USING (yr) JOIN tc USING (o_orderpriority), tot)
        |SELECT yr, ng AS n,
        |  ROUND(list_sum(list(term ORDER BY o_orderpriority)) - CAST(ng AS DOUBLE), 6) AS chi2
        |FROM t GROUP BY yr, ng ORDER BY yr""".stripMargin
    },
    // OLAP ROLLUP over the geo hierarchy (region > nation): Expand
    // runs over the ALREADY-joined star — the decimal total is
    // projected before the rollup so each grouping set copies the
    // value (same Expand discipline as cube_revenue); dims broadcast
    Query("rollup_nation_revenue")((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice").cast("decimal(18,2)").as("_tp"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("_tp")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("r_name"), lit("(all)")).as("region"),
          coalesce(col("n_name"), lit("(all)")).as("nation"),
          col("gid"), col("revenue"), col("n"))
        .orderBy("gid", "region", "nation")
    }) {
      """SELECT coalesce(r_name, '(all)') AS region,
        |       coalesce(n_name, '(all)') AS nation,
        |       CAST(GROUPING(r_name, n_name) AS INT) AS gid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, region, nation""".stripMargin
    },
    // EXT GROUPING SETS (the third Expand shape beside cube/rollup):
    // HETEROGENEOUS sets — by region, by order priority, and the grand
    // total — mixing independent dimensions no rollup nesting can
    // express; ONE scan through the Expand operator instead of a UNION
    // of three aggregations. Same projected-decimal discipline.
    Query("grouping_sets_revenue")((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("_tp"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
          .select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").select("r_regionkey", "r_name")),
          col("n_regionkey") === col("r_regionkey"))
        .groupingSets(
          Seq(Seq(col("r_name")), Seq(col("o_orderpriority")), Seq()),
          col("r_name"), col("o_orderpriority"))
        .agg(grouping_id().cast("int").as("gid"),
          sum(col("_tp")).cast("double").as("revenue"),
          count(lit(1)).as("n"))
        .select(coalesce(col("r_name"), lit("(all)")).as("region"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("gid"), col("revenue"), col("n"))
        .orderBy("gid", "region", "priority")
    }) {
      """SELECT coalesce(r_name, '(all)') AS region,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       CAST(GROUPING(r_name, o_orderpriority) AS INT) AS gid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        |ORDER BY gid, region, priority""".stripMargin
    },
    // EXT sketch-estimated join cardinality (Sketches.cmsJoinSize):
    // min-over-rows inner product of the two sides' d=3 x w=64 CMS
    // counters — "how big is orders x lineitem on orderkey" answered
    // from two constant-size sketches, never shuffling either fact
    // table on the key; exact side = Σ f_a·f_b from per-side groupBys
    // (itself join-free). The estimate never undercounts.
    Query("cms_join_size")((s, dir) => {
      val est = Sketches.cmsJoinSize(
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "lineitem"), "l_orderkey", 64)
      val fa = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("fa"))
      val fb = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("fb"))
      val exact = fa.join(fb, Seq("k"))
        // internal sum is exact decimal; the emission contract stays
        // BIGINT (ANSI faults loudly if a corpus ever exceeds it)
        .agg(sum(col("fa").cast("decimal(19,0)") * col("fb"))
          .cast("long").as("exact_size"))
      est.crossJoin(broadcast(exact))
    }) {
      val b = Sketches.cmsBucket64OracleExpr _
      s"""WITH j AS (SELECT CAST(unnest(range(0, ${Sketches.CmsDepth})) AS INT) AS row),
         | ca AS (SELECT j.row, ${b("md5(CAST(j.row AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR))")} AS bucket,
         |          CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM orders, j GROUP BY 1, 2),
         | cb AS (SELECT j.row, ${b("md5(CAST(j.row AS VARCHAR) || ':' || CAST(l_orderkey AS VARCHAR))")} AS bucket,
         |          CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM lineitem, j GROUP BY 1, 2),
         | ip AS (SELECT ca.row, SUM(CAST(ca.cnt AS HUGEINT) * cb.cnt) AS ip
         |        FROM ca JOIN cb ON ca.row = cb.row AND ca.bucket = cb.bucket
         |        GROUP BY 1),
         | e AS (SELECT CAST(MIN(ip) AS BIGINT) AS est FROM ip),
         | fa AS (SELECT o_orderkey AS k, COUNT(*) AS fa FROM orders GROUP BY 1),
         | fb AS (SELECT l_orderkey AS k, COUNT(*) AS fb FROM lineitem GROUP BY 1),
         | x AS (SELECT CAST(SUM(CAST(fa AS HUGEINT) * fb) AS BIGINT) AS exact_size
         |       FROM fa JOIN fb USING (k))
         |SELECT est, exact_size FROM e, x""".stripMargin
    },
    // EXT market-basket association rules (Assoc.associationRules,
    // Agrawal-Srikant '94 statistics): orders are baskets, parts items;
    // the pair stage self-joins the deduped (basket,item) frame on the
    // CO-PARTITIONED basket key with a maxBasket skew guard ahead of
    // the explosion; support/confidence/lift are fixed-operand-order
    // divisions of exact BIGINTs; top-50 by lift under a total
    // tie-break compiles to TakeOrderedAndProject
    Query("assoc_rules_parts")((s, dir) =>
      graft.operators.Assoc.associationRules(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minPairCount = 2L)
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(50)) {
      """WITH it AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS itm FROM lineitem),
        | sz AS (SELECT bk, COUNT(*) AS n FROM it GROUP BY 1),
        | ok AS (SELECT it.bk, it.itm FROM it JOIN sz USING (bk) WHERE sz.n <= 256),
        | pr AS (SELECT a.itm AS ia, b.itm AS ib, CAST(COUNT(*) AS BIGINT) AS pair_cnt
        |        FROM ok a JOIN ok b ON a.bk = b.bk AND a.itm < b.itm GROUP BY 1, 2),
        | pf AS (SELECT * FROM pr WHERE pair_cnt >= 2),
        | ic AS (SELECT itm, CAST(COUNT(*) AS BIGINT) AS ic FROM it GROUP BY 1),
        | nb AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n FROM it),
        | bo AS (SELECT ia AS a, ib AS c, pair_cnt FROM pf
        |        UNION ALL SELECT ib, ia, pair_cnt FROM pf),
        | r AS (SELECT bo.a AS antecedent, bo.c AS consequent, pair_cnt,
        |   CAST(pair_cnt AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
        |   CAST(pair_cnt AS DOUBLE) / CAST(ca.ic AS DOUBLE) AS confidence,
        |   (CAST(pair_cnt AS DOUBLE) * CAST(nb.n AS DOUBLE))
        |     / (CAST(ca.ic AS DOUBLE) * CAST(cb.ic AS DOUBLE)) AS lift
        |   FROM bo JOIN ic ca ON bo.a = ca.itm JOIN ic cb ON bo.c = cb.itm, nb)
        |SELECT antecedent, consequent, pair_cnt, support, confidence, lift
        |FROM r ORDER BY lift DESC, antecedent, consequent LIMIT 50""".stripMargin
    },
    // EXT item-item cosine recommender (Assoc.itemSimilarity, Sarwar
    // '01): "also bought" top-5 neighbors per part from order baskets —
    // the normalized complement of assoc_rules' confidence/lift; ranked
    // on the round(6) cosine grid, co-partitioned pair stage behind the
    // maxBasket guard
    Query("item_similarity_parts")((s, dir) =>
      Assoc.itemSimilarity(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          k = 5, minPairCount = 2L, maxBasket = 256)
        .orderBy("item", "rank")) {
      // item-similarity mirror: deduped baskets -> size guard -> pair
      // self-join -> both directions -> one-sqrt cosine on the exact
      // count product -> per-item rank on the round(6) grid
      """WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        | sized AS (SELECT bk, it FROM (SELECT bk, it,
        |        COUNT(*) OVER (PARTITION BY bk) AS n FROM items) WHERE n <= 256),
        | pop AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
        | pairs AS (SELECT a.it AS ia, b.it AS ib, CAST(COUNT(*) AS BIGINT) AS pc
        |       FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        | sym AS (SELECT ia AS item, ib AS neighbor, pc FROM pairs
        |         UNION ALL SELECT ib, ia, pc FROM pairs),
        | sc AS (SELECT item, neighbor, pc AS pair_cnt,
        |        ROUND(CAST(pc AS DOUBLE) / sqrt(CAST(p1.cnt * p2.cnt AS DOUBLE)), 6) AS cosine
        |       FROM sym JOIN pop p1 ON p1.it = item JOIN pop p2 ON p2.it = neighbor),
        | r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item
        |        ORDER BY cosine DESC, neighbor) AS INT) AS rank FROM sc)
        |SELECT item, neighbor, pair_cnt, cosine, rank FROM r
        |WHERE rank <= 5 ORDER BY item, rank""".stripMargin
    },
    // EXT reciprocal best match (mutual nearest neighbors) over the
    // item-item cosine table: pairs where EACH is the other's top-1 —
    // the high-precision core of a merge proposal, vs itemSimilarity's
    // recall-oriented top-k
    Query("mutual_nn_parts")((s, dir) => {
      // r14: top1 is persisted — the mutuality self-join references it
      // on BOTH sides, and without the pin the whole itemSimilarity
      // pipeline (basket dedup, pair self-join, popularity joins, top-k
      // window) executed twice per run (§5 reused intermediates; plan
      // had 24 parquet scans, 0 reused exchanges)
      val top1 = Assoc.itemSimilarity(t(s, dir, "lineitem"), "l_orderkey",
          "l_partkey", k = 1, minPairCount = 2L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      top1.select(col("item").as("item_a"), col("neighbor").as("item_b"),
          col("cosine"))
        .join(top1.select(col("neighbor").as("item_a"),
          col("item").as("item_b")), Seq("item_a", "item_b"))
        .filter(col("item_a") < col("item_b"))
        .orderBy("item_a")
    }) {
      // mutual-NN mirror: the item-similarity CTEs at k=1 + reciprocal
      // self-join, canonical a < b
      """WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        | sized AS (SELECT bk, it FROM (SELECT bk, it,
        |        COUNT(*) OVER (PARTITION BY bk) AS n FROM items) WHERE n <= 256),
        | pop AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
        | pairs AS (SELECT a.it AS ia, b.it AS ib, CAST(COUNT(*) AS BIGINT) AS pc
        |       FROM sized a JOIN sized b ON a.bk = b.bk AND a.it < b.it
        |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        | sym AS (SELECT ia AS item, ib AS neighbor, pc FROM pairs
        |         UNION ALL SELECT ib, ia, pc FROM pairs),
        | sc AS (SELECT item, neighbor,
        |        ROUND(CAST(pc AS DOUBLE) / sqrt(CAST(p1.cnt * p2.cnt AS DOUBLE)), 6) AS cosine
        |       FROM sym JOIN pop p1 ON p1.it = item JOIN pop p2 ON p2.it = neighbor),
        | r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY item
        |        ORDER BY cosine DESC, neighbor) AS rank FROM sc),
        | t1 AS (SELECT item, neighbor, cosine FROM r WHERE rank = 1)
        |SELECT a.item AS item_a, a.neighbor AS item_b, a.cosine
        |FROM t1 a JOIN t1 b ON a.item = b.neighbor AND a.neighbor = b.item
        |WHERE a.item < a.neighbor ORDER BY item_a""".stripMargin
    },
    // EXT declarative data-quality suite (Checks.check, the Deequ
    // shape): six constraints over orders compile to ONE aggregation
    // pass (+ a LEFT ANTI for referential integrity) — row predicates
    // as conditional counts, uniqueness as count-vs-exact-distinct.
    // The per-constraint scalars are 1-row driver reads (the
    // stratified-allocation precedent), re-shaped into the report
    Query("dq_orders")((s, dir) => {
      val orders = t(s, dir, "orders")
      Checks.check(orders, Seq(
          Checks.NotNull("o_orderkey"),
          Checks.Unique("o_orderkey"),
          Checks.InSet("o_orderstatus", Seq("F", "O", "P")),
          Checks.InRange("o_totalprice", 0.0, 1000000.0),
          Checks.References("o_custkey", t(s, dir, "customer"), "c_custkey"),
          Checks.Satisfies("priority_format",
            col("o_orderpriority").rlike("^[1-5]-"))))
        .orderBy("constraint")
    }) {
      """WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS checked FROM orders),
        | u AS (
        |  SELECT 'in_range(o_totalprice)' AS c,
        |    CAST(SUM(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 1000000 THEN 0 ELSE 1 END) AS BIGINT) AS v
        |  FROM orders
        |  UNION ALL SELECT 'in_set(o_orderstatus)',
        |    CAST(SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'not_null(o_orderkey)',
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'priority_format',
        |    CAST(SUM(CASE WHEN COALESCE(regexp_matches(o_orderpriority, '^[1-5]-'), false) THEN 0 ELSE 1 END) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'references(o_custkey)',
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL
        |       AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'unique(o_orderkey)',
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey)
        |      - SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
        |SELECT c AS "constraint", v AS violations, checked, v = 0 AS pass
        |FROM u, t ORDER BY c""".stripMargin
    },
    // EXT schema-wide referential-integrity audit (Checks.riAudit):
    // every TPC-H FK edge as one anti-join vs the DISTINCT parent key +
    // one 1-row aggregate — the "can I trust my joins" report a 100 TB
    // warehouse runs nightly; fully distributed, no driver counting
    Query("ri_audit")((s, dir) => {
      def tb(n: String) = t(s, dir, n)
      Checks.riAudit(Seq(
          ("customer.c_nationkey -> nation", tb("customer"), "c_nationkey", tb("nation"), "n_nationkey"),
          ("lineitem.l_orderkey -> orders", tb("lineitem"), "l_orderkey", tb("orders"), "o_orderkey"),
          ("lineitem.l_partkey -> part", tb("lineitem"), "l_partkey", tb("part"), "p_partkey"),
          ("lineitem.l_suppkey -> supplier", tb("lineitem"), "l_suppkey", tb("supplier"), "s_suppkey"),
          ("nation.n_regionkey -> region", tb("nation"), "n_regionkey", tb("region"), "r_regionkey"),
          ("orders.o_custkey -> customer", tb("orders"), "o_custkey", tb("customer"), "c_custkey"),
          ("supplier.s_nationkey -> nation", tb("supplier"), "s_nationkey", tb("nation"), "n_nationkey")))
        .orderBy("fk")
    }) {
      // RI mirror: per edge the same null/total aggregate + NOT EXISTS
      // orphan count, generated from one edge list
      val edges = Seq(
        ("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("nation.n_regionkey -> region", "nation", "n_regionkey", "region", "r_regionkey"),
        ("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      val rows = edges.map { case (name, ch, ck, pa, pk) =>
        s"""SELECT '$name' AS fk,
           |  CAST(COUNT(*) AS BIGINT) AS child_rows,
           |  CAST(SUM(CASE WHEN $ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $ch c
           |   WHERE c.$ck IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM $pa p WHERE p.$pk = c.$ck)) AS orphans
           |FROM $ch""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH u AS (
         |$rows
         |)
         |SELECT fk, child_rows, null_keys, orphans,
         |  ROUND(CAST(orphans AS DOUBLE) / CAST(child_rows AS DOUBLE), 6) AS orphan_rate,
         |  (orphans = 0 AND null_keys = 0) AS pass
         |FROM u ORDER BY fk""".stripMargin
    },
    // EXT Spearman rank correlation (Stats.spearman): quantity vs
    // price-cents over lineitem — exact integer 2·midranks from the
    // (x,y) CELL table, five BIGINT moment sums, doubles only in the
    // final fixed-order combination (the OLS discipline rank-ified)
    Query("spearman_qty_price")((s, dir) =>
      Stats.spearman(t(s, dir, "lineitem"),
        col("l_quantity"), round(col("l_extendedprice") * 100))) {
      """WITH p AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |        CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
        |        CAST(COUNT(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        | mx AS (SELECT x, CAST(SUM(c) AS BIGINT) AS m FROM p GROUP BY 1),
        | rx AS (SELECT x, 2 * CAST(COALESCE(SUM(m) OVER (ORDER BY x
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          + m + 1 AS r2x FROM mx),
        | my AS (SELECT y, CAST(SUM(c) AS BIGINT) AS m FROM p GROUP BY 1),
        | ry AS (SELECT y, 2 * CAST(COALESCE(SUM(m) OVER (ORDER BY y
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          + m + 1 AS r2y FROM my),
        | a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |        SUM(CAST(c AS HUGEINT) * r2x) AS sx,
        |        SUM(CAST(c AS HUGEINT) * r2y) AS sy,
        |        SUM(CAST(c AS HUGEINT) * r2x * r2y) AS sxy,
        |        SUM(CAST(c AS HUGEINT) * r2x * r2x) AS sxx,
        |        SUM(CAST(c AS HUGEINT) * r2y * r2y) AS syy
        |       FROM p JOIN rx USING (x) JOIN ry USING (y))
        |SELECT n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |       THEN ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS rho
        |FROM a""".stripMargin
    },
    // EXT Gini concentration (Stats.gini): per-customer spend-cents
    // inequality — Lorenz rank sums in exact BIGINTs over the
    // spend-cell table (ties as closed-form rank-run sums), one
    // division at the readout
    Query("gini_customer_spend")((s, dir) =>
      Stats.gini(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend")),
        col("spend"))) {
      """WITH s AS (SELECT o_custkey,
        |        CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
        |       FROM orders GROUP BY 1),
        | c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY 1),
        | r AS (SELECT v, c, CAST(COALESCE(SUM(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |       FROM c),
        | a AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |        CAST(SUM(v * c) AS BIGINT) AS total,
        |        SUM(CAST(v AS HUGEINT) * (CAST(c AS HUGEINT) * cb
        |          + (CAST(c AS HUGEINT) * (c + 1)) // 2)) AS sr FROM r)
        |SELECT n, total,
        |  CASE WHEN total > 0
        |       THEN ROUND((2e0 * CAST(sr AS DOUBLE)
        |           - (CAST(n AS DOUBLE) + 1) * CAST(total AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6)
        |  END AS gini
        |FROM a""".stripMargin
    },
    // EXT common-neighbor link prediction (Graph.commonNeighbors):
    // supplier pairs serving the same customers over the
    // lineitem⋈orders bipartite graph — shared-customer counts and
    // capped-set Jaccard; hub customers (>64 suppliers) dropped ahead
    // of the co-partitioned pair self-join (the maxShingleDf trade).
    // Top-30 under a total (cn desc, id_a, id_b) order —
    // TakeOrderedAndProject, never a global sort
    Query("link_pred_suppliers")((s, dir) => {
      val edges = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey"))
      Graph.commonNeighbors(edges, "l_suppkey", "o_custkey", maxDegree = 64)
        .orderBy(col("cn").desc, col("id_a"), col("id_b"))
        .limit(30)
    }) {
      """WITH e AS (SELECT DISTINCT l_suppkey AS id, o_custkey AS nb
        |       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | hub AS (SELECT nb FROM e GROUP BY nb HAVING COUNT(*) <= 64),
        | ek AS (SELECT e.id, e.nb FROM e JOIN hub USING (nb)),
        | deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM ek GROUP BY 1),
        | p AS (SELECT x.id AS id_a, y.id AS id_b, CAST(COUNT(*) AS BIGINT) AS cn
        |       FROM ek x JOIN ek y ON x.nb = y.nb AND x.id < y.id GROUP BY 1, 2),
        | j AS (SELECT id_a, id_b, cn, da.d AS deg_a, db.d AS deg_b,
        |        ROUND(CAST(cn AS DOUBLE) / CAST(da.d + db.d - cn AS DOUBLE), 6) AS jaccard
        |       FROM p JOIN deg da ON da.id = id_a JOIN deg db ON db.id = id_b)
        |SELECT id_a, id_b, cn, deg_a, deg_b, jaccard FROM j
        |ORDER BY cn DESC, id_a, id_b LIMIT 30""".stripMargin
    },
    // EXT 2-D skyline / Pareto frontier (Relational.skyline2d): parts
    // not dominated under (min retailprice, max size) — the
    // "best-tradeoff shortlist" OLAP shape. Grid-agg + ONE bounded
    // window over distinct prices, never the O(n²) dominance join; the
    // spec proves equivalence to the brute-force definition
    Query("pareto_parts")((s, dir) =>
      Relational.skyline2d(
        t(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice", "p_size")
        .orderBy("p_partkey")) {
      """WITH g AS (SELECT p_retailprice AS pr, MAX(p_size) AS mg FROM part GROUP BY 1),
        | v AS (SELECT pr, mg,
        |        MAX(mg) OVER (ORDER BY pr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |       FROM g)
        |SELECT p_retailprice, p_partkey, p_size
        |FROM part JOIN v ON p_retailprice = pr
        |WHERE p_size = mg AND (rm IS NULL OR rm < p_size)
        |ORDER BY p_partkey""".stripMargin
    },
    Query("target_encode_segment")((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100)).as("_cents"))
      val y = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), coalesce(col("_cents"), lit(0L)).as("_y"))
      Stats.targetEncode(y, "c_mktsegment", col("_y"), m = 50.0)
        .orderBy("c_mktsegment")
    }) {
      """WITH sp AS (SELECT o_custkey,
        |        CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |       FROM orders GROUP BY 1),
        | j AS (SELECT c_mktsegment, COALESCE(cents, 0) AS y
        |       FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
        | per AS (SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(y) AS BIGINT) AS sy FROM j GROUP BY 1),
        | g AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sy) AS BIGINT) AS ty FROM per)
        |SELECT c_mktsegment, n,
        |  ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |  ROUND((CAST(sy AS DOUBLE) + 50.0 * (CAST(ty AS DOUBLE) / CAST(tn AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) + 50.0), 6) AS enc
        |FROM per, g ORDER BY c_mktsegment""".stripMargin
    },
  )

  private def columnStatsSql(table: String, cols: Seq[(String, String)]): String =
    cols.map { case (c, dtype) =>
      s"""(WITH gc AS (SELECT CAST($c AS VARCHAR) AS value, COUNT(*) AS cnt FROM $table GROUP BY 1),
          | tp AS (SELECT value, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, value ASC) AS rk FROM gc WHERE value IS NOT NULL)
          |SELECT '$c' AS "column", '$dtype' AS dtype,
          | (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_unique,
          | (SELECT COALESCE(CAST(SUM(cnt) AS BIGINT), 0) FROM gc WHERE value IS NULL) AS n_null,
          | (SELECT value FROM tp WHERE rk = 1) AS top_value,
          | (SELECT CAST(cnt AS BIGINT) FROM tp WHERE rk = 1) AS top_count,
          | (SELECT value FROM tp WHERE rk = 2) AS second_value,
          | (SELECT CAST(cnt AS BIGINT) FROM tp WHERE rk = 2) AS second_count)""".stripMargin
    }.mkString("", " UNION ALL ", " ORDER BY \"column\"")
}
