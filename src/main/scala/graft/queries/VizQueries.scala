package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.Formatting
import graft.operators.{Relational, VizPrep, Windows}

import Shared._

/** Plot preparation: histograms, pies, pivots, smoothing, top-k and
  * value counts (the flagship `vc_returnflag` among them).
  */
object VizQueries {
  val family: Family = Family(
    // #42 pivoted normalized bar table (plot.py:427-501)
    Query("group_bar_hist")((s, dir) => {
      VizPrep.groupBarHist(t(s, dir, "orders"), col("o_orderstatus"),
        col("o_orderpriority"), Seq("F", "O", "P"), 4)
    }) {
      """WITH counts AS (SELECT o_orderpriority AS value, o_orderstatus AS grp, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1, 2),
        | pct AS (SELECT value, grp, CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY grp) * 100.0 AS pct FROM counts),
        | wide AS (SELECT value,
        |   COALESCE(MAX(CASE WHEN grp = 'F' THEN pct END), 0.0) AS "F",
        |   COALESCE(MAX(CASE WHEN grp = 'O' THEN pct END), 0.0) AS "O",
        |   COALESCE(MAX(CASE WHEN grp = 'P' THEN pct END), 0.0) AS "P"
        |  FROM pct GROUP BY 1)
        |SELECT value, "F", "O", "P" FROM wide ORDER BY ("F" + "O" + "P") / 3 DESC, value LIMIT 4""".stripMargin
    },
    // #41 shared-bin grouped histogram (plot.py:337-424)
    Query("group_hist_price")((s, dir) => {
      VizPrep.groupHist(t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), 20)
    }) {
      """WITH mm AS (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS glo, CAST(MAX(l_extendedprice) AS DOUBLE) AS ghi FROM lineitem),
        | c AS (SELECT l_returnflag AS grp,
        |        CAST(LEAST(FLOOR((l_extendedprice - glo) / (ghi - glo) * 20), 19) AS INT) AS bucket,
        |        glo, ghi, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM lineitem, mm WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2, 3, 4),
        | w AS (SELECT grp, bucket, glo, ghi, cnt, SUM(cnt) OVER (PARTITION BY grp) AS gtotal FROM c)
        |SELECT grp, bucket, glo + (ghi - glo) / 20 * bucket AS lo,
        |       glo + (ghi - glo) / 20 * (bucket + 1) AS hi, cnt,
        |       CAST(cnt AS DOUBLE) / (gtotal * ((ghi - glo) / 20)) AS density
        |FROM w ORDER BY grp, bucket""".stripMargin
    },
    // #40 2-D histogram prep (plot.py:278-334)
    Query("hist2d_qty_price")((s, dir) => {
      VizPrep.hist2d(t(s, dir, "lineitem"), col("l_quantity"), col("l_extendedprice"), 8)
    }) {
      """WITH mm AS (SELECT CAST(MIN(l_quantity) AS DOUBLE) AS xlo, CAST(MAX(l_quantity) AS DOUBLE) AS xhi,
        |                   CAST(MIN(l_extendedprice) AS DOUBLE) AS ylo, CAST(MAX(l_extendedprice) AS DOUBLE) AS yhi FROM lineitem)
        |SELECT CAST(LEAST(FLOOR((l_quantity - xlo) / (xhi - xlo) * 8), 7) AS INT) AS bucket_x,
        |       CAST(LEAST(FLOOR((l_extendedprice - ylo) / (yhi - ylo) * 8), 7) AS INT) AS bucket_y,
        |       CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem, mm WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // #47 human_readable: engine side = (mantissa, suffix); string assembly
    // is driver-side (format.py renders only at display time)
    Query("human_readable")((s, dir) => {
      val v = col("o_totalprice")
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          Formatting.mantissa(v).as("mantissa"),
          Formatting.suffix(v).as("suffix"))
        .orderBy("o_orderkey")
    }) {
      def tierSql(v: String) =
        s"""(CASE WHEN ABS($v) >= 1e15 THEN 5 WHEN ABS($v) >= 1e12 THEN 4
           | WHEN ABS($v) >= 1e9 THEN 3 WHEN ABS($v) >= 1e6 THEN 2
           | WHEN ABS($v) >= 1e3 THEN 1 ELSE 0 END)""".stripMargin
      s"""SELECT o_orderkey,
         | o_totalprice / POWER(1000.0, CAST(${tierSql("o_totalprice")} AS DOUBLE)) AS mantissa,
         | (CASE ${tierSql("o_totalprice")} WHEN 5 THEN 'P' WHEN 4 THEN 'T' WHEN 3 THEN 'G'
         |  WHEN 2 THEN 'M' WHEN 1 THEN 'K' ELSE '' END) AS suffix
         |FROM orders ORDER BY o_orderkey""".stripMargin
    },
    // #38 pie threshold->Others collapse (plot.py:115-124)
    Query("pie_log10_orders")((s, dir) => {
      VizPrep.pieOthers(t(s, dir, "orders"),
          floor(log10(col("o_totalprice"))).cast("int").cast("string"), 0.05)
        .orderBy("slice")
    }) {
      """WITH counts AS (SELECT CAST(CAST(FLOOR(LOG10(o_totalprice)) AS INT) AS VARCHAR) AS category,
        |                       CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM counts),
        | s AS (SELECT CASE WHEN CAST(cnt AS DOUBLE) / g <= 0.05 THEN 'Others' ELSE category END AS slice, cnt FROM counts, t),
        | a AS (SELECT slice, CAST(SUM(cnt) AS BIGINT) AS cnt FROM s GROUP BY 1)
        |SELECT slice, cnt, CAST(cnt AS DOUBLE) / g AS fraction FROM a, t ORDER BY slice""".stripMargin
    },
    // #39 two-level pie prep (plot.py:140-242)
    Query("two_level_pie")((s, dir) => {
      val joined = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      VizPrep.twoLevelPie(joined, col("r_name"), col("n_name"), None, 0.1)
    }) {
      """WITH counts AS (SELECT r_name AS category, n_name AS subcategory, CAST(COUNT(*) AS BIGINT) AS weight
        |   FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |   GROUP BY 1, 2),
        | tagged AS (SELECT category, subcategory, weight,
        |            SUM(weight) OVER (PARTITION BY category) AS cat_total0
        |            FROM counts WHERE weight > 0),
        | wedges AS (SELECT category,
        |            CASE WHEN CAST(weight AS DOUBLE) / cat_total0 < 0.1 THEN '=OTHERS=' ELSE subcategory END AS wedge,
        |            weight FROM tagged),
        | g AS (SELECT category, wedge, CAST(SUM(weight) AS BIGINT) AS weight FROM wedges GROUP BY 1, 2),
        | f AS (SELECT category, wedge, weight,
        |       CAST(SUM(weight) OVER (PARTITION BY category) AS BIGINT) AS cat_total FROM g)
        |SELECT category, wedge, weight, cat_total, CAST(weight AS DOUBLE) / cat_total AS ratio FROM f
        |ORDER BY cat_total DESC, category, weight DESC, wedge""".stripMargin
    },
    // pivot/unstack (plot.py:485, sparse.py:129)
    Query("pivot_status")((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .select(col("l_returnflag"), col("F").cast("double").as("qty_f"),
          col("O").cast("double").as("qty_o"))
        .orderBy("l_returnflag")
    }) {
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS qty_f,
        | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // #26 gaussian smoothing over an ordered daily series (algorithm.py:71-92)
    Query("smooth_gaussian")((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      Windows.gaussianSmooth(daily, Seq("day"), "cnt", 2.0)
        .select(col("day"), col("cnt"), col("smoothed"))
        .orderBy("day")
    }) {
      smoothGaussianSql
    },
    // top-k sort+limit (plot.py:495-496 head(n) / sort_values)
    Query("topk_orders")((s, dir) => {
      Relational
        .topK(t(s, dir, "orders"), 10, col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
    }) {
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    },
    // EXT bounded-state grouped top-k (Relational.topKPerGroup): the
    // mergeable-aggregate formulation — map-side partial keeps <=~2k
    // rows per group per task, the exchange carries |groups|*k rows
    // where the window-rank oracle shuffles and sorts EVERY row
    Query("topk_per_segment")((s, dir) => {
      val joined = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .join(t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_totalprice"),
          col("o_orderkey"))
      Relational.topKPerGroup(joined, "segment", "o_totalprice", "o_orderkey", 5)
        .orderBy("segment", "rank")
    }) {
      """SELECT c_mktsegment AS segment, CAST(rank AS INT) AS rank,
        |  o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rank <= 5 ORDER BY segment, rank""".stripMargin
    },
    // #6 value_counts with numeric bins (utils.py:312)
    Query("vc_quantity_bins")((s, dir) => {
      Relational
        .valueCountsBinned(t(s, dir, "lineitem"), "l_quantity", 10)
        .select(col("bucket"), col("lo"), col("hi"), col("cnt"),
          col("fraction"))
    }) {
      """WITH mm AS (SELECT CAST(MIN(l_quantity) AS DOUBLE) AS gmin, CAST(MAX(l_quantity) AS DOUBLE) AS gmax FROM lineitem),
        | b AS (SELECT CAST(LEAST(FLOOR((l_quantity - gmin) / (gmax - gmin) * 10), 9) AS INT) AS bucket, gmin, gmax FROM lineitem, mm WHERE l_quantity IS NOT NULL),
        | c AS (SELECT bucket, gmin, gmax, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2, 3),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM c)
        |SELECT bucket, gmin + (gmax - gmin) / 10 * bucket AS lo, gmin + (gmax - gmin) / 10 * (bucket + 1) AS hi, cnt, CAST(cnt AS DOUBLE) / g AS fraction
        |FROM c, t ORDER BY bucket""".stripMargin
    },
    // #6 value_counts with TOTAL row (utils.py:281-320)
    Query("vc_returnflag")((s, dir) => {
      Relational
        .valueCounts(t(s, dir, "lineitem"), "l_returnflag", total = true)
        .select(col("value"), col("cnt"), col("fraction"))
    }) {
      """WITH c AS (SELECT CAST(l_returnflag AS VARCHAR) AS value, COUNT(*) AS cnt FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM c),
        | u AS (SELECT value, cnt, CAST(cnt AS DOUBLE) / g AS fraction FROM c, t
        |       UNION ALL SELECT 'TOTAL', g, 1.0 FROM t)
        |SELECT value, cnt, fraction FROM u ORDER BY (value = 'TOTAL'), cnt DESC, value""".stripMargin
    },
    // #27 weighted_average (algorithm.py:95-115)
    Query("weighted_avg")((s, dir) => {
      t(s, dir, "lineitem").agg(
        (dsum(col("l_extendedprice") * col("l_quantity")) /
          dsum(col("l_quantity"))).as("weighted_avg"))
    }) {
      """SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,2))) AS DOUBLE)
        |     / CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS weighted_avg
        |FROM lineitem""".stripMargin
    },
    // EXT multimodal plumbing, oracle-checked: documents' bytes ride as
    // an opaque binary column; frame sampling (explode + byte-slice)
    // emits every 2nd 64-byte frame, fingerprinted. The ASCII guard
    // keeps char-substring == byte-substring on both engines.
    Query("media_frames")((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      graft.sources.Multimodal.sampleFrames(docs, "media", frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }) {
      """WITH m AS (SELECT doc_id, text, strlen(text) AS len FROM documents
        |           WHERE length(text) = strlen(text)),
        | f AS (SELECT doc_id, text, unnest(range(0, len // 64)) AS fi FROM m WHERE len >= 64),
        | k AS (SELECT doc_id, fi, md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5
        |       FROM f WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, frame_md5 FROM k
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
  )

  /** Gaussian-smoothing oracle: the weights are computed once in Scala and
    * injected as full-precision literals, so both engines run the exact
    * same tap/weight arithmetic in the same order.
    */
  private def smoothGaussianSql: String = {
    val w = Windows.gaussianWeights(2.0)
    val r = w.length / 2
    def wl(d: Double) = "%.17e".formatLocal(java.util.Locale.ROOT, d)
    def tap(i: Int) =
      if (i < 0) s"LAG(CAST(cnt AS DOUBLE), ${-i}) OVER w"
      else if (i > 0) s"LEAD(CAST(cnt AS DOUBLE), $i) OVER w"
      else "CAST(cnt AS DOUBLE)"
    val num = (-r to r).map(i => s"${wl(w(i + r))} * COALESCE(${tap(i)}, 0.0)").mkString(" + ")
    val den = (-r to r)
      .map(i => s"${wl(w(i + r))} * (CASE WHEN ${tap(i)} IS NOT NULL THEN 1.0 ELSE 0.0 END)")
      .mkString(" + ")
    s"""WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1)
       |SELECT day, cnt, ($num) / ($den) AS smoothed
       |FROM daily WINDOW w AS (ORDER BY day) ORDER BY day""".stripMargin
  }
}
