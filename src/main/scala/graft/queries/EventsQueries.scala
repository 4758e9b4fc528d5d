package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Corpus, Events, Sampling, Sketches, Stats, Windows}

import Shared._

/** The events table: sessionization, funnels, cohorts, A/B tests and
  * sequential monitors, anomaly detectors, survival curves, forecasts
  * and the streaming operators over the same events.
  */
object EventsQueries {
  val family: Family = Family(
    // JSON extraction over events.props (EXT; driver data only)
    Query("json_events")((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
        .orderBy("event_type")
    }) {
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // running totals (pandas cumsum; utils.py:267-271 uses the same shape)
    Query("running_total_user")((s, dir) => {
      Windows.runningTotal(t(s, dir, "events"), Seq("ts", "event_id"), "value",
          partitionBy = Seq("user_id"))
        .select(col("user_id"), col("event_id"), col("running"))
        .orderBy("user_id", "event_id")
    }) {
      """SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin
    },
    // EXT gap-based sessionization (batch twin of the stateful streaming
    // flatMapGroupsWithState path — equality tested in StreamingSpec)
    Query("sessions_user")((s, dir) => {
      graft.streaming.StreamOps.sessionizeBatch(
          t(s, dir, "events"), "user_id", "ts", "event_id", 30)
        .orderBy("user_id", "event_id")
    }) {
      """WITH g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY user_id, event_id""".stripMargin
    },
    // EXT native session windows (Spark's session_window gap-merge):
    // per-user 30-min-gap sessions as ONE stateless aggregate — the
    // Spark-first statement of what sessionizeBatch derives with
    // lag+cumsum (which the oracle replays; new session iff
    // gap >= 30 min, matching the half-open [start, last+gap) merge)
    Query("session_window_stats")((s, dir) => {
      val us = unix_micros(col("_ts"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("_ts"))
        .groupBy(col("user_id"), session_window(col("_ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(us).as("session_start_us"), max(us).as("_end"))
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          (col("_end") - col("session_start_us")).as("span_micros"))
        .orderBy("user_id", "session_start_us")
    }) {
      // session_window mirror: gap-merge replayed as lag+cumsum; new
      // session iff gap >= 30 min (the half-open [start, last+gap) merge)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        | l AS (SELECT user_id, us,
        |        LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
        | s AS (SELECT user_id, us,
        |        CASE WHEN prev IS NULL OR us - prev >= 1800000000 THEN 1 ELSE 0 END AS ns
        |       FROM l),
        | g AS (SELECT user_id, us, SUM(ns) OVER (PARTITION BY user_id
        |        ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, CAST(MIN(us) AS BIGINT) AS session_start_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(us) - MIN(us) AS BIGINT) AS span_micros
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin
    },
    // EXT rolling correlation (Events.rollingCorrDaily): 7-day trailing
    // Pearson r between click and error DAILY counts — six exact BIGINT
    // window moments over one shared RANGE frame on the day grid, one
    // fixed-order float readout
    Query("rolling_corr_7d")((s, dir) =>
      Events.rollingCorrDaily(t(s, dir, "events"), "event_type", "ts",
        "click", "error")
        .orderBy("day")) {
      """WITH dc AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS y
        |       FROM events GROUP BY 1),
        | m AS (SELECT d, x, y,
        |        CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |        CAST(SUM(x) OVER w AS BIGINT) AS sx, CAST(SUM(y) OVER w AS BIGINT) AS sy,
        |        SUM(CAST(x AS HUGEINT) * x) OVER w AS sxx,
        |        SUM(CAST(y AS HUGEINT) * y) OVER w AS syy,
        |        SUM(CAST(x AS HUGEINT) * y) OVER w AS sxy
        |       FROM dc WINDOW w AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT DATE '1970-01-01' + CAST(d AS INT) AS day, x, y, n AS n_days,
        |  CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx > 0
        |         AND n * syy - CAST(sy AS HUGEINT) * sy > 0
        |    THEN ROUND(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
        |      / (SQRT(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
        |         * SQRT(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))), 6)
        |  END AS corr
        |FROM m ORDER BY day""".stripMargin
    },
    // EXT position-based multi-touch attribution (Events.
    // positionAttribution, U-shaped 40/20/40): credit over the touches
    // before each user's FIRST purchase — the fractional-credit
    // complement of attribution_join's last-interval match; round(9)
    // decimal credits so per-type sums are order-free
    Query("attribution_position")((s, dir) =>
      Events.positionAttribution(t(s, dir, "events"), "user_id",
        "event_type", "ts", "event_id", "purchase",
        Seq("view", "click", "signup", "error"))
        .orderBy("event_type")) {
      """WITH conv AS (SELECT user_id AS u, MIN(epoch_us(ts)) AS cts FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1),
        | tch AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |       FROM events JOIN conv ON user_id = u
        |       WHERE event_type IN ('view', 'click', 'signup', 'error')
        |         AND epoch_us(ts) < cts),
        | r AS (SELECT user_id, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY user_id) AS m
        |       FROM tch),
        | wt AS (SELECT event_type,
        |        CASE WHEN m = 1 THEN CAST(1 AS DOUBLE)
        |             WHEN m = 2 THEN CAST(0.5 AS DOUBLE)
        |             WHEN rn = 1 OR rn = m THEN CAST(0.4 AS DOUBLE)
        |             ELSE CAST(0.2 AS DOUBLE) / CAST(m - 2 AS DOUBLE) END AS w
        |       FROM r)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |  ROUND(CAST(SUM(CAST(ROUND(w, 9) AS DECIMAL(20,9))) AS DOUBLE), 6) AS credit
        |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // #33 split_with_overlap (numpy.py:185-241), long-form segments —
    // partitioned per user (the million-series shape a 100 TB pipeline
    // runs; the bare single-sequence form is driver-bounded and spec-only)
    Query("split_overlap")((s, dir) => {
      Windows.splitWithOverlap(
          t(s, dir, "events").select("user_id", "event_id"), Seq("event_id"),
          100, 50, partitionBy = Seq("user_id"))
        .select(col("user_id"), col("seg"), col("pos"), col("event_id"))
        .orderBy("user_id", "seg", "pos")
    }) {
      """WITH r AS (SELECT user_id, event_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events),
        | e AS (SELECT user_id, event_id, rn,
        |        unnest(generate_series(CASE WHEN rn <= 100 THEN 0 ELSE (rn - 100 + 49) // 50 END,
        |                               (rn - 1) // 50)) AS seg
        |        FROM r)
        |SELECT user_id, seg, rn - 1 - seg * 50 AS pos, event_id FROM e ORDER BY user_id, seg, pos""".stripMargin
    },
    // EXT streaming code path on a batch frame: 10-minute tumbling windows
    // (the identical function runs under readStream; see StreamingSpec)
    Query("stream_window_counts")((s, dir) => {
      graft.streaming.StreamOps.windowedCounts(t(s, dir, "events"), "ts", "10 minutes")
        .orderBy("win_start", "event_type")
    }) {
      """WITH w AS (SELECT event_type, value,
        |  make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600) * 1000000) AS win_start
        |  FROM events)
        |SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS value_sum
        |FROM w GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin
    },
    // tumbling daily window aggregation (EXT streaming analogue, batch form)
    Query("time_window_daily")((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("value_sum"))
        .orderBy("day")
    }) {
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // #4 sample_at_most (utils.py:557-608), reproducible md5-key variant
    Query("sample_at_most")((s, dir) => {
      Sampling.sampleNAtMostHash(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          100, "42", Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }) {
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  ORDER BY md5('42:' || o_orderkey), o_orderkey LIMIT 100)
        |ORDER BY o_orderkey""".stripMargin
    },
    // #5 exact stratified sampling (utils.py:198-278), reproducible-draw
    // variant: allocation is the reference's rounded-cumsum; the row
    // choice within each stratum is the md5(seed:key) order, so the
    // oracle replicates rows exactly (the RNG path stays spec-tested).
    Query("sample_stratified")((s, dir) => {
      Sampling.sampleWithDistribution(
        t(s, dir, "customer"), "c_mktsegment",
        nRows = None, // auto-max n: feasible at every scale factor
        distribution = Some(Map(
          "AUTOMOBILE" -> 0.2, "BUILDING" -> 0.2, "FURNITURE" -> 0.2,
          "HOUSEHOLD" -> 0.2, "MACHINERY" -> 0.2)),
        seed = 42L, tieBreak = Seq("c_custkey"),
        orderCol = Some(md5(concat_ws(":", lit("42"), col("c_custkey").cast("string")))))
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_mktsegment", "c_custkey")
    }) {
      """WITH c AS (SELECT c_mktsegment AS k, COUNT(*) AS cnt FROM customer GROUP BY 1),
        | m AS (SELECT MIN(cnt) AS t FROM c),
        | r AS (SELECT c_custkey, c_mktsegment,
        |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY md5('42:' || c_custkey), c_custkey) AS rn
        |       FROM customer)
        |SELECT c_custkey, c_mktsegment FROM r, m WHERE rn <= m.t
        |ORDER BY c_mktsegment, c_custkey""".stripMargin
    },
    // #4 with replacement + weights (utils.py:557-608 replace=True):
    // exact integer-cent interval arithmetic, two-phase bucketed cumsum
    Query("sample_weighted_replace")((s, dir) => {
      Sampling.sampleWeightedWithReplacement(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          100, "o_totalprice", "o_orderkey")
        .orderBy("j")
    }) {
      """WITH w AS (SELECT o_orderkey, o_totalprice,
        |       CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 100 AS BIGINT) AS wc,
        |       (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
        |         + (instr('0123456789abcdef', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) AS b
        |     FROM orders WHERE o_totalprice > 0),
        | c AS (SELECT *, SUM(wc) OVER (ORDER BY b, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi FROM w),
        | tot AS (SELECT CAST(SUM(wc) AS BIGINT) AS tw FROM w),
        | d AS (SELECT j.j AS j,
        |       CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || j.j), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT) % tw AS u
        |     FROM (SELECT unnest(range(0, 100)) AS j) j, tot)
        |SELECT d.j, c.o_orderkey, c.o_totalprice
        |FROM d JOIN c ON d.u >= c.hi - c.wc AND d.u < c.hi ORDER BY d.j""".stripMargin
    },
    // EXT ingest-time DSIR scoring (StreamOps.dsirScoreStream): held-out
    // docs score against the BUILD-ONCE corpus distribution table via a
    // literal lookup array — expression-only, stateless, zero shuffles
    // on the hot path; unseen buckets get the smoothed count-0 default.
    // Applied to a batch frame here (the suite strategy for stream ops;
    // stream==batch equality is StreamingSpec-asserted).
    Query("dsir_score_stream")((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.streaming.StreamOps.dsirScoreStream(
          Corpus.dsirDistTable(docs.filter(col("doc_id") % 13 =!= 0),
            "doc_id", "text", col("lang") === "en", 256),
          docs.filter(col("doc_id") % 13 === 0))
        .orderBy("doc_id")
    }) {
      // stream-scoring mirror: distributions from the held-in corpus only,
      // LEFT join + the smoothed count-0 default for buckets the corpus
      // never populated
      """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 13 <> 0),
        | w AS (SELECT doc_id, lang = 'en' AS tgt, regexp_split_to_array(trim(text), '\s+') AS ws FROM corpus),
        | unis AS (SELECT doc_id, tgt, unnest(ws) AS ng FROM w),
        | bis AS (SELECT doc_id, tgt, ws[j] || ' ' || ws[j + 1] AS ng
        |         FROM w, LATERAL unnest(range(1, len(ws))) AS t(j) WHERE len(ws) >= 2),
        | f AS (SELECT doc_id, tgt,
        |        (instr('0123456789abcdef', substr(md5(ng), 1, 1)) - 1) * 16
        |          + (instr('0123456789abcdef', substr(md5(ng), 2, 1)) - 1) AS b
        |       FROM (SELECT * FROM unis UNION ALL SELECT * FROM bis)),
        | db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n, MAX(tgt) AS tgt FROM f GROUP BY 1, 2),
        | dist AS (SELECT b, CAST(SUM(n) AS BIGINT) AS cr,
        |                CAST(SUM(CASE WHEN tgt THEN n ELSE 0 END) AS BIGINT) AS ct FROM db GROUP BY 1),
        | tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt FROM dist),
        | tbl AS (SELECT b, CAST(ROUND(LN(CAST(ct + 1 AS DOUBLE) / (tt + 256)) - LN(CAST(cr + 1 AS DOUBLE) / (tr + 256)), 9) AS DECIMAL(20,9)) AS lw
        |         FROM dist, tot),
        | iw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents WHERE doc_id % 13 = 0),
        | iu AS (SELECT doc_id, unnest(ws) AS ng FROM iw),
        | ib AS (SELECT doc_id, ws[j] || ' ' || ws[j + 1] AS ng
        |        FROM iw, LATERAL unnest(range(1, len(ws))) AS t(j) WHERE len(ws) >= 2),
        | ifeat AS (SELECT doc_id,
        |        (instr('0123456789abcdef', substr(md5(ng), 1, 1)) - 1) * 16
        |          + (instr('0123456789abcdef', substr(md5(ng), 2, 1)) - 1) AS b
        |       FROM (SELECT * FROM iu UNION ALL SELECT * FROM ib)),
        | idb AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS n FROM ifeat GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
        |       ROUND(CAST(SUM(COALESCE(lw,
        |         CAST(ROUND(LN(1.0 / (tt + 256)) - LN(1.0 / (tr + 256)), 9) AS DECIMAL(20,9)))
        |         * CAST(n AS DECIMAL(10,0))) AS DOUBLE), 6) AS dsir_logweight
        |FROM idb LEFT JOIN tbl USING (b), tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // EXT backward as-of join (Joins.asofJoin): each click gets the
    // latest purchase value at-or-before its timestamp per user — ONE
    // shuffle, ZERO join operators (union + keyed ordered window); the
    // right side pre-aggregates (user, ts) so ties are well-defined.
    // DuckDB replays it with its native ASOF LEFT JOIN
    Query("asof_join_events")((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("pval"))
      graft.operators.Joins.asofJoin(clicks, purchases, "user_id", "ts", Seq("pval"))
        .select(col("event_id"), col("user_id"), col("asof_pval"))
        .orderBy("event_id")
    }) {
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        | p AS (SELECT user_id, ts, MAX(value) AS pval FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.pval AS asof_pval
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY event_id""".stripMargin
    },
    // EXT range join (Joins.rangeJoin): clicks inside each error's
    // 6-hour window per user — the inequality predicate becomes a
    // bucket equi-join (21600 s buckets = the interval length, so each
    // interval explodes to <= 2 rows and no dedup is needed)
    Query("range_join_events")((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"))
      graft.operators.Joins.rangeJoin(clicks, "ts", errs, "w_start", "w_end",
          bucketSeconds = 21600, keyCols = Seq("user_id"))
        .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("err_id")
    }) {
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        | e AS (SELECT event_id AS err_id, user_id, ts AS ws,
        |              ts + INTERVAL 6 HOUR AS we
        |       FROM events WHERE event_type = 'error')
        |SELECT err_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
        |FROM e JOIN c ON c.user_id = e.user_id AND c.ts >= e.ws AND c.ts < e.we
        |GROUP BY 1 ORDER BY err_id""".stripMargin
    },
    // EXT event-rate anomaly detection: per-type daily counts z-scored
    // against the type's own day distribution, |z| >= 2 flagged. The
    // moments are EXACT integer sums (sum, sum-of-squares over counts),
    // so mean/variance/z are pure-function doubles any engine replays —
    // no float aggregation order anywhere
    Query("event_anomalies")((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val stats = daily.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("_s1"),
          sum(col("cnt").cast("decimal(19,0)") * col("cnt")).as("_s2"),
          count(lit(1)).as("_n"))
      daily.join(stats, Seq("event_type"))
        .withColumn("_mean", col("_s1").cast("double") / col("_n"))
        .withColumn("_var",
          (col("_s2").cast("double") - col("_s1").cast("double") * col("_s1") / col("_n")) /
            (col("_n") - 1))
        .withColumn("z", round((col("cnt") - col("_mean")) / sqrt(col("_var")), 6))
        .filter(abs(col("z")) >= 2.0)
        .select(col("event_type"), col("day"), col("cnt"), col("z"))
        .orderBy("event_type", "day")
    }) {
      // anomaly mirror: identical exact-integer moments, same expression
      // tree for mean/var/z, filter applied to the ROUNDED z both sides
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM events GROUP BY 1, 2),
        | st AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS s1,
        |         SUM(CAST(cnt AS HUGEINT) * cnt) AS s2,
        |         CAST(COUNT(*) AS BIGINT) AS n
        |        FROM daily GROUP BY 1),
        | z AS (SELECT d.event_type, d.day, d.cnt,
        |        ROUND((d.cnt - CAST(s1 AS DOUBLE) / n) /
        |          sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)), 6) AS z
        |       FROM daily d JOIN st USING (event_type))
        |SELECT event_type, day, cnt, z FROM z WHERE abs(z) >= 2.0
        |ORDER BY event_type, day""".stripMargin
    },
    // EXT robust outliers (Stats.madOutliers, Iglewicz-Hoaglin modified
    // z-score): median/MAD are exact percentile_disc elements at
    // integer rank ceil(n/2) — the outliers cannot inflate the spread
    // estimate the way they inflate a stddev z-score; only the final
    // fixed-order subtract/multiply/divide is float. One grouped pass.
    Query("mad_outliers")((s, dir) =>
      Stats.madOutliers(t(s, dir, "events"),
          "event_type", "value", "event_id", cutoff = 3.5)
        .orderBy("event_type", "event_id")) {
      // same rank-arithmetic percentile_disc as the Spark side (rn*2>=n,
      // (rn-1)*2<n picks the element at ceil(n/2)); 6.745e-1 in
      // e-notation per the decimal-literal invariant
      """WITH v AS (SELECT event_type, event_id, value FROM events),
        | r1 AS (SELECT event_type, value,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM v),
        | med AS (SELECT event_type, value AS med FROM r1
        |         WHERE rn * 2 >= n AND (rn - 1) * 2 < n),
        | d AS (SELECT v.event_type, event_id, value, med,
        |        ABS(value - med) AS dev FROM v JOIN med USING (event_type)),
        | r2 AS (SELECT event_type, dev,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM d),
        | mad AS (SELECT event_type, dev AS mad FROM r2
        |         WHERE rn * 2 >= n AND (rn - 1) * 2 < n),
        | z AS (SELECT d.event_type, event_id, value, med, mad.mad,
        |        (6.745e-1 * (value - med)) / mad.mad AS mz
        |       FROM d JOIN mad USING (event_type) WHERE mad.mad > 0)
        |SELECT event_type, event_id, value, med, mad, mz FROM z
        |WHERE ABS(mz) > 3.5 ORDER BY event_type, event_id""".stripMargin
    },
    // EXT contingency analysis (Stats.contingencyAnalysis): MI, NMI,
    // chi-squared and Cramér's V between event_type and day-of-week —
    // ONE corpus shuffle (the cell groupBy); chi² via the
    // observed-cells identity n·Σo²/(r·c) − n (no category grid, no
    // cross-join); float sums as ordered folds over the sorted cell
    // list; day-of-week from pure integer epoch-day arithmetic (both
    // engines' dayofweek() builtins disagree on numbering)
    Query("contingency_events")((s, dir) =>
      Stats.contingencyAnalysis(
        t(s, dir, "events").select(col("event_type"),
          pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))) + 4,
            lit(7)).as("dow")),
        "event_type", "dow")) {
      """WITH src AS (SELECT event_type AS a,
        |    (CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7 AS b FROM events),
        | c AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM src GROUP BY 1, 2),
        | ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM c GROUP BY 1),
        | cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM c GROUP BY 1),
        | nn AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
        |        CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
        |        CAST(COUNT(DISTINCT b) AS BIGINT) AS kb FROM c),
        | t AS (SELECT a, b,
        |        (CAST(o AS DOUBLE) / n) * LN((CAST(o AS DOUBLE) * n) / (CAST(ra AS DOUBLE) * cb)) AS mt,
        |        (CAST(o AS DOUBLE) * o) / (CAST(ra AS DOUBLE) * cb) AS ct
        |       FROM c JOIN ra USING (a) JOIN cb USING (b), nn),
        | f AS (SELECT list_sum(list(mt ORDER BY a, b)) AS mi,
        |              list_sum(list(ct ORDER BY a, b)) AS cs FROM t),
        | ea AS (SELECT list_sum(list(0 - (CAST(ra AS DOUBLE) / n) * LN(CAST(ra AS DOUBLE) / n) ORDER BY a)) AS h FROM ra, nn),
        | eb AS (SELECT list_sum(list(0 - (CAST(cb AS DOUBLE) / n) * LN(CAST(cb AS DOUBLE) / n) ORDER BY b)) AS h FROM cb, nn)
        |SELECT n, (ka - 1) * (kb - 1) AS dof, ROUND(mi, 6) AS mi,
        |  CASE WHEN ea.h > 0 AND eb.h > 0
        |       THEN ROUND(mi / sqrt(ea.h * eb.h), 6) END AS nmi,
        |  ROUND(CAST(n AS DOUBLE) * cs - CAST(n AS DOUBLE), 6) AS chi2,
        |  CASE WHEN LEAST(ka, kb) > 1
        |       THEN ROUND(sqrt((CAST(n AS DOUBLE) * cs - CAST(n AS DOUBLE))
        |         / (CAST(n AS DOUBLE) * (LEAST(ka, kb) - 1))), 6) END AS cramers_v
        |FROM f, nn, ea, eb""".stripMargin
    },
    // EXT Benford first-digit audit (Stats.benfordAudit): leading-digit
    // shares of o_totalprice vs log10(1+1/d), per-digit chi² terms —
    // the forensic-accounting screen. Digit extraction is EXACT integer
    // arithmetic (cents div 10^(digits-1), digit count from string
    // length — never float log10); one 9-group map-side aggregate
    Query("benford_totalprice")((s, dir) =>
      Stats.benfordAudit(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")) {
      // the same doubles Spark's lit(log10(1+1/d)) evaluates, in
      // e-notation so DuckDB strtod-parses them (decimal-literal
      // invariant)
      val lits = (1 to 9).map(d =>
        s"WHEN $d THEN ${"%.17e".formatLocal(java.util.Locale.ROOT, math.log10(1.0 + 1.0 / d))}")
        .mkString(" ")
      s"""WITH c AS (SELECT CAST(ROUND(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c FROM orders),
         | d AS (SELECT CAST(FLOOR(c / power(10, length(CAST(c AS VARCHAR)) - 1)) AS INT) AS digit
         |       FROM c WHERE c > 0),
         | g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
         | nn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
         | e AS (SELECT digit, cnt, n,
         |        CAST(n AS DOUBLE) * (CASE digit $lits END) AS e,
         |        (CASE digit $lits END) AS p FROM g, nn)
         |SELECT digit, cnt,
         |  ROUND(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_p,
         |  ROUND(p, 6) AS exp_p,
         |  ROUND(((CAST(cnt AS DOUBLE) - e) * (CAST(cnt AS DOUBLE) - e)) / e, 6) AS chi_term
         |FROM e ORDER BY digit""".stripMargin
    },
    // EXT cohort retention matrix (Events.retentionCohorts): users
    // cohorted by first active day, (cohort, offset) cells count members
    // active that many days later. One (user,day) dedup shuffle; the
    // first-day agg and activity join reuse the user hash; cohort sizes
    // AQE-broadcast.
    Query("retention_cohorts")((s, dir) => {
      Events.retentionCohorts(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")
    }) {
      // retention mirror: same first-day cohorting and (cohort, offset)
      // distinct-user cells; datediff == date subtraction in DuckDB
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | fd AS (SELECT user_id, MIN(day) AS cohort FROM act GROUP BY 1),
        | sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS size FROM fd GROUP BY 1),
        | cell AS (SELECT fd.cohort, act.day - fd.cohort AS off,
        |          CAST(COUNT(*) AS BIGINT) AS n_active
        |          FROM act JOIN fd USING (user_id) GROUP BY 1, 2)
        |SELECT cell.cohort AS cohort_day, CAST(off AS INT) AS day_offset, n_active,
        |       ROUND(CAST(n_active AS DOUBLE) / size, 6) AS retention
        |FROM cell JOIN sz ON sz.cohort = cell.cohort
        |ORDER BY cohort_day, day_offset""".stripMargin
    },
    // EXT cohort LTV curves: cumulative purchase revenue per first-
    // event week cohort by week offset, normalized per user — the
    // retention table's revenue-weighted sibling; integer epoch-week
    // arithmetic (never engine week-start), exact DECIMAL revenue
    Query("cohort_ltv")((s, dir) => {
      val ev = t(s, dir, "events")
      val eday = datediff(col("ts").cast("date"), to_date(lit("1970-01-01")))
      val first = ev.groupBy(col("user_id"))
        .agg(min(eday).as("_fd"))
        .select(col("user_id"), expr("_fd div 7").as("_cw"))
      val sizes = first.groupBy(col("_cw")).agg(count(lit(1)).as("n_users"))
      val rev = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), eday.as("_d"),
          col("value").cast("decimal(30,2)").as("_v"))
        .withColumn("_w", expr("_d div 7"))
        .join(first, Seq("user_id"))
        .groupBy(col("_cw"), (col("_w") - col("_cw")).as("week_offset"))
        .agg(sum(col("_v")).as("_rev"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_cw"))
        .orderBy(col("week_offset"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      rev.withColumn("_cum", sum(col("_rev")).over(w))
        .join(sizes, Seq("_cw"))
        .select(col("_cw").as("cohort_week"), col("week_offset"), col("n_users"),
          col("_cum").cast("double").as("cum_revenue"),
          round(col("_cum").cast("double") / col("n_users").cast("double"), 6)
            .as("ltv"))
        .orderBy("cohort_week", "week_offset")
    }) {
      // LTV mirror: integer epoch-week arithmetic, DECIMAL revenue sums,
      // per-cohort cumulative window
      """WITH f AS (SELECT user_id,
        |        MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS fd FROM events GROUP BY 1),
        | fc AS (SELECT user_id, CAST(fd // 7 AS BIGINT) AS cw FROM f),
        | sz AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS n_users FROM fc GROUP BY 1),
        | rv AS (SELECT fc.cw,
        |        CAST(((CAST(ts AS DATE) - DATE '1970-01-01') // 7) - fc.cw AS BIGINT) AS week_offset,
        |        SUM(CAST(value AS DECIMAL(30,2))) AS rev
        |       FROM events JOIN fc USING (user_id)
        |       WHERE event_type = 'purchase' GROUP BY 1, 2),
        | cm AS (SELECT cw, week_offset,
        |        CAST(SUM(rev) OVER (PARTITION BY cw ORDER BY week_offset
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum
        |       FROM rv)
        |SELECT cw AS cohort_week, week_offset, n_users, cum AS cum_revenue,
        |  ROUND(cum / CAST(n_users AS DOUBLE), 6) AS ltv
        |FROM cm JOIN sz USING (cw) ORDER BY cohort_week, week_offset""".stripMargin
    },
    // EXT leakage-safe churn-label generation: features from days
    // 1-14, label = any activity in days 15-30 — the temporal
    // label-generation shape every supervised pipeline needs, with the
    // cut enforced by ONE literal date on both engines
    Query("churn_labels")((s, dir) => {
      val ev = t(s, dir, "events")
      val cut = lit("2024-01-15").cast("date")
      val feat = ev.filter(col("ts").cast("date") < cut)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("event_type")).as("n_types"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          round(sum(col("value").cast("decimal(30,2)")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_value"))
      val active = ev.filter(col("ts").cast("date") >= cut)
        .select(col("user_id")).distinct()
        .withColumn("_a", lit(1L))
      feat.join(active, Seq("user_id"), "left")
        .select(col("user_id"), col("n_events"), col("n_types"),
          col("n_purchases"), col("mean_value"),
          coalesce(col("_a"), lit(0L)).as("label"))
        .orderBy("user_id")
    }) {
      // churn-label mirror: the same literal cut date on both windows
      """WITH feat AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |        CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
        |        CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
        |        ROUND(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_value
        |       FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-15' GROUP BY 1),
        | act AS (SELECT DISTINCT user_id FROM events
        |       WHERE CAST(ts AS DATE) >= DATE '2024-01-15')
        |SELECT feat.user_id, n_events, n_types, n_purchases, mean_value,
        |  CAST(CASE WHEN act.user_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS label
        |FROM feat LEFT JOIN act ON act.user_id = feat.user_id
        |ORDER BY feat.user_id""".stripMargin
    },
    // EXT ordered conversion funnel (Events.funnelStages): furthest
    // stage per user under min-chain semantics (stage i counts only
    // strictly after the earliest completion of stage i-1) — N
    // conditional-min windows chained over ONE user-key exchange, vs
    // the N-shuffle join-chain a naive funnel runs
    Query("funnel_stages")((s, dir) => {
      Events.funnelStages(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("signup", "click", "purchase"))
        .orderBy("user_id")
    }) {
      // funnel mirror: the min-chain replayed as explicit per-stage mins
      // (t1 = earliest signup; t_i = earliest stage-i event strictly
      // after t_{i-1}); every user present, stage 0 = never entered
      """WITH t1 AS (SELECT user_id, MIN(ts) AS ts1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        | t2 AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e JOIN t1 USING (user_id)
        |        WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1),
        | t3 AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e JOIN t2 USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1),
        | u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |       CASE WHEN ts3 IS NOT NULL THEN 3 WHEN ts2 IS NOT NULL THEN 2
        |            WHEN ts1 IS NOT NULL THEN 1 ELSE 0 END AS stage
        |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |       LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin
    },
    // EXT time-to-convert quartiles (Events.funnelTimes): exact
    // interpolated quartiles of last-stage-minus-first-stage duration
    // across fully-converted users — rides the same single user-key
    // exchange as funnel_stages; NTZ-safe micros
    Query("funnel_times")((s, dir) => {
      Events.funnelTimes(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))
    }) {
      // funnel-times mirror: same min-chain, duration in epoch micros,
      // quantile_cont == Spark's interpolated percentile
      """WITH t1 AS (SELECT user_id, MIN(ts) AS ts1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        | t2 AS (SELECT e.user_id, MIN(e.ts) AS ts2 FROM events e JOIN t1 USING (user_id)
        |        WHERE e.event_type = 'click' AND e.ts > t1.ts1 GROUP BY 1),
        | t3 AS (SELECT e.user_id, MIN(e.ts) AS ts3 FROM events e JOIN t2 USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.ts > t2.ts2 GROUP BY 1),
        | d AS (SELECT t3.user_id, epoch_us(ts3) - epoch_us(ts1) AS dur_us
        |       FROM t3 JOIN t1 USING (user_id))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
        |       ROUND(quantile_cont(dur_us, 0.25) / 1000000.0, 6) AS q1_s,
        |       ROUND(quantile_cont(dur_us, 0.5) / 1000000.0, 6) AS median_s,
        |       ROUND(quantile_cont(dur_us, 0.75) / 1000000.0, 6) AS q3_s
        |FROM d""".stripMargin
    },
    // EXT DAU/WAU stickiness (Events.engagementRatio): per-day distinct
    // actives and trailing-7-day actives; the sliding distinct is a
    // bounded x7 day-explode over the deduped (user, day) frame, never
    // a distinct-over-window
    Query("dau_wau")((s, dir) => {
      Events.engagementRatio(t(s, dir, "events"), "user_id", "ts", 7)
        .orderBy("day")
    }) {
      // DAU/WAU mirror: same bounded day-explode for the trailing window
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM act GROUP BY 1),
        | w AS (SELECT DISTINCT user_id, CAST(day + CAST(t.i AS INT) AS DATE) AS day
        |       FROM act, LATERAL (SELECT unnest(range(0, 7)) AS i) t),
        | wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM w GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin
    },
    // EXT HyperLogLog grouped distinct (Sketches.hllDistinct): md5-hash
    // registers, exact-integer harmonic denominator — the sketch shuffle
    // is |groups|*256 rows at ANY scale (vs countDistinct's full
    // distinct-pair exchange); exact side joined on for auditability
    Query("hll_distinct_events")((s, dir) => {
      val ev = t(s, dir, "events")
      Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"))
        .join(ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }) {
      // HLL replay generated from the SAME constants as the Spark path
      // (register/rho from md5 nibbles, exact-integer denominator,
      // interpolated alpha numerator and linear-counting literals)
      s"""WITH hll AS (
         |${Sketches.hllOracleSql("events", "event_type", "event_type",
               "CAST(user_id AS VARCHAR)")}),
         | ex AS (SELECT event_type,
         |          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |        FROM events GROUP BY 1)
         |SELECT hll.event_type, zero_regs, denom, est_distinct, exact_distinct
         |FROM hll JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
    },
    // EXT Z-order (Morton) clustering key (Sketches.zOrderValue) on
    // (user_id, event day) — the multi-dimensional data-skipping layout
    // [writeZOrdered]; row-group pruning proven from parquet footers in
    // ScaleSpec, the code itself oracle-checked here bit-for-bit
    Query("zorder_events")((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id"),
          Sketches.zOrderValue(
            col("user_id").bitwiseAND(lit((1L << 21) - 1)),
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
            .as("zval"))
        .orderBy("event_id")) {
      s"""WITH d AS (SELECT event_id,
         |      user_id & ${(1L << 21) - 1} AS x,
         |      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
         |    FROM events WHERE event_id % 97 = 0)
         |SELECT event_id,
         |  CAST(${Sketches.zOrderOracleExpr("x", "y")} AS BIGINT) AS zval
         |FROM d ORDER BY event_id""".stripMargin
    },
    // EXT peak-concurrency sweep (Events.maxConcurrency): +1/-1 deltas,
    // day-clipped intervals so the running-sum window partitions by day
    // (never one global ordered window) — integer epoch-micros
    // throughout, half-open interval tie discipline
    Query("concurrency_daily")((s, dir) =>
      Events.maxConcurrency(t(s, dir, "events"), "event_id", "ts", 300)) {
      // sweep mirror: same day-clip, same (t, delta, id) tie order
      val durUs = 300L * 1000000L
      val dayUs = 86400L * 1000000L
      s"""WITH s AS (SELECT event_id, epoch_us(ts) AS s, epoch_us(ts) + $durUs AS e FROM events),
         | d AS (SELECT event_id, s, e,
         |         unnest(generate_series(s - s % $dayUs,
         |           (e - 1) - (e - 1) % $dayUs, $dayUs)) AS d0 FROM s),
         | c AS (SELECT event_id, d0, greatest(s, d0) AS cs,
         |         least(e, d0 + $dayUs) AS ce FROM d),
         | x AS (SELECT event_id, d0, cs AS t, 1 AS delta FROM c
         |       UNION ALL SELECT event_id, d0, ce, -1 FROM c),
         | f AS (SELECT * FROM x WHERE t < d0 + $dayUs),
         | r AS (SELECT d0, t, SUM(delta) OVER (PARTITION BY d0
         |         ORDER BY t, delta, event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |       FROM f),
         | m AS (SELECT d0, t, run, MAX(run) OVER (PARTITION BY d0) AS mc FROM r)
         |SELECT CAST(make_timestamp(d0) AS DATE) AS day,
         |  CAST(mc AS BIGINT) AS max_concurrency,
         |  make_timestamp(MIN(t)) AS peak_ts
         |FROM m WHERE run = mc GROUP BY d0, mc ORDER BY day""".stripMargin
    },
    // EXT exact per-group percentile bands (Stats.percentileBands):
    // percentile_disc at rank ceil(q*n) via exact integer rank
    // arithmetic — one group-key shuffle, broadcast quantile table
    Query("latency_bands")((s, dir) =>
      Stats.percentileBands(t(s, dir, "events"), "event_type", "value",
        Seq(50 -> 100, 90 -> 100, 95 -> 100, 99 -> 100))
        .orderBy("event_type", "q")) {
      """WITH r AS (SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
        | t(q, qn, qd) AS (VALUES (CAST(50 AS DOUBLE) / 100, 50, 100),
        |    (CAST(90 AS DOUBLE) / 100, 90, 100),
        |    (CAST(95 AS DOUBLE) / 100, 95, 100),
        |    (CAST(99 AS DOUBLE) / 100, 99, 100))
        |SELECT event_type, t.q, value
        |FROM r JOIN t ON rn * qd >= qn * n AND (rn - 1) * qd < qn * n
        |ORDER BY event_type, q""".stripMargin
    },
    // EXT interpolated percentiles (Stats.percentileBandsCont, the
    // PERCENTILE_CONT twin of latency_bands): bracket row by exact
    // integer rank arithmetic, fraction as an exact remainder, v_hi
    // from a lead() on the same group window — one rank pass + a
    // broadcast 3-row target join, same scale shape as the disc form
    Query("latency_bands_cont")((s, dir) =>
      Stats.percentileBandsCont(t(s, dir, "events"), "event_type", "value",
          Seq(50 -> 100, 95 -> 100, 99 -> 100))
        .orderBy("event_type", "q")) {
      // q literals in e-notation = the exact doubles Spark's
      // qn.toDouble/qd evaluates (decimal-literal invariant)
      val rows = Seq((50, 100), (95, 100), (99, 100)).map { case (qn, qd) =>
        s"(${"%.17e".formatLocal(java.util.Locale.ROOT, qn.toDouble / qd)}, $qn, $qd)"
      }.mkString(", ")
      s"""WITH r AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
         |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         |        LEAD(CAST(value AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY value) AS vn,
         |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
         | t AS (SELECT * FROM (VALUES $rows) v0(q, qn, qd)),
         | s AS (SELECT event_type, q, v, vn, qn * (n - 1) - (rn - 1) * qd AS rem, qd
         |       FROM r JOIN t ON (rn - 1) * qd <= qn * (n - 1) AND qn * (n - 1) < rn * qd)
         |SELECT event_type, q,
         |  v + (CAST(rem AS DOUBLE) / qd) * (COALESCE(vn, v) - v) AS value
         |FROM s ORDER BY event_type, q""".stripMargin
    },
    // EXT daily latency percentiles: exact P50/P95/P99 of value per
    // day via percentile_disc rank arithmetic (integer ceil picks, the
    // mad_outliers discipline) — the ops-dashboard trend line
    Query("latency_daily_p95")((s, dir) => {
      val day = col("ts").cast("date").as("day")
      val ranked = t(s, dir, "events")
        .select(day, col("value"), col("event_id"))
        .withColumn("_rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
            .orderBy(col("value"), col("event_id"))))
        .withColumn("_n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
      def pick(pct: Int) = max(when(
        col("_rn") * 100 >= col("_n") * pct &&
          (col("_rn") - 1) * 100 < col("_n") * pct, col("value")))
      ranked.groupBy(col("day"))
        .agg(max(col("_n")).as("n"), pick(50).as("p50"), pick(95).as("p95"),
          pick(99).as("p99"))
        .orderBy("day")
    }) {
      // daily-percentile mirror: the mad_outliers rank-pick discipline at
      // 50/95/99 per day
      """WITH r AS (SELECT CAST(ts AS DATE) AS day, value,
        |        ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
        |          ORDER BY value, event_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY CAST(ts AS DATE)) AS n FROM events)
        |SELECT day, CAST(MAX(n) AS BIGINT) AS n,
        |  MAX(CASE WHEN rn * 100 >= n * 50 AND (rn - 1) * 100 < n * 50 THEN value END) AS p50,
        |  MAX(CASE WHEN rn * 100 >= n * 95 AND (rn - 1) * 100 < n * 95 THEN value END) AS p95,
        |  MAX(CASE WHEN rn * 100 >= n * 99 AND (rn - 1) * 100 < n * 99 THEN value END) AS p99
        |FROM r GROUP BY day ORDER BY day""".stripMargin
    },
    // EXT Wilson score intervals (Wilson '27): per-type conversion
    // rate (value > 100) with the CI that stays inside [0,1] at small
    // n — the right interval for rate dashboards, vs the Wald CI every
    // naive dashboard ships; exact counts, fixed-order float algebra
    Query("wilson_ci_types")((s, dir) => {
      val a = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("x"))
      val nD = col("n").cast("double")
      val xD = col("x").cast("double")
      val p = xD / nD
      val z2 = lit(1.96) * lit(1.96)
      val denom = lit(1.0) + z2 / nD
      val center = (p + z2 / (lit(2.0) * nD)) / denom
      val half = lit(1.96) *
        sqrt(p * (lit(1.0) - p) / nD + z2 / (lit(4.0) * nD * nD)) / denom
      a.select(col("event_type"), col("n"), col("x"),
          round(p, 6).as("p_hat"),
          round(center - half, 6).as("ci_lo"),
          round(center + half, 6).as("ci_hi"))
        .orderBy("event_type")
    }) {
      // Wilson mirror: the same fixed-order interval algebra; z² stays
      // the expression 1.96 * 1.96 so both engines fold the same double
      """WITH a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |       FROM events GROUP BY 1)
        |SELECT event_type, n, x,
        |  ROUND(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
        |  ROUND((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))) / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
        |    - 1.96 * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_lo,
        |  ROUND((CAST(x AS DOUBLE) / CAST(n AS DOUBLE) + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))) / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
        |    + 1.96 * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |        + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)), 6) AS ci_hi
        |FROM a ORDER BY event_type""".stripMargin
    },
    // EXT streaming grouped top-k (StreamOps.topKStream): k rows of
    // per-group state inside mapGroupsWithState, monotone merge — the
    // streaming twin of Relational.TopKAgg; declared batch-symmetric,
    // StreamingSpec drives the MemoryStream path to the same answer
    Query("topk_stream")((s, dir) => {
      import s.implicits._
      val items = t(s, dir, "events")
        .select(col("event_type").as("g"), col("value").as("v"),
          col("event_id").as("id"))
        .as[graft.streaming.RankedItem]
      graft.streaming.StreamOps.topKStream(items, 5)
        .toDF("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    }) {
      """WITH r AS (SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |SELECT event_type, CAST(rank AS INT) AS rank, event_id, value
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin
    },
    // EXT sliding-window distinct users at sketch cost
    // (StreamOps.hllWindowRegisters slide + Sketches.hllFinalize): each
    // event lands in exactly dur/slide=2 windows, per-window state is
    // <=256 register rows regardless of traffic — the streaming
    // cardinality dashboard shape; estimator replayed exactly
    Query("hll_sliding_users")((s, dir) => {
      val regs = graft.streaming.StreamOps.hllWindowRegisters(
        t(s, dir, "events"), "ts", "2 hours", "user_id",
        slide = Some("1 hour"))
      Sketches.hllFinalize(regs, Seq("win_start"))
        .select("win_start", "zero_regs", "denom", "est_distinct")
        .orderBy("win_start")
    }) {
      s"""SELECT g AS win_start, zero_regs, denom, est_distinct FROM (
         |${Sketches.hllOracleSql(
            """(SELECT unnest([w0, w0 - INTERVAL 1 HOUR]) AS win_start, user_id
              |   FROM (SELECT make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) * 1000000) AS w0,
              |                user_id FROM events) b0) ex""".stripMargin,
            "win_start", "g", "CAST(user_id AS VARCHAR)")})
         |ORDER BY win_start""".stripMargin
    },
    // EXT stream-stream interval join (StreamOps.intervalJoinStream):
    // view->click attribution within 10 minutes per user — the
    // watermark-evictable stateful join; declared batch-symmetric
    // (key SMJ + residual time filter), StreamingSpec drives both
    // sides as real MemoryStreams
    Query("attribution_join")((s, dir) => {
      val ev = t(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))
      graft.streaming.StreamOps.intervalJoinStream(views, clicks,
          "user_id", "c_user_id", "view_ts", "click_ts", "10 minutes")
        .select(col("user_id"), col("view_id"), col("click_id"),
          unix_micros(col("click_ts").cast("timestamp")) -
            unix_micros(col("view_ts").cast("timestamp")) as "lag_micros")
        .orderBy("user_id", "view_id", "click_id")
    }) {
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        | c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  CAST(epoch_us(click_ts) - epoch_us(view_ts) AS BIGINT) AS lag_micros
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts AND click_ts <= view_ts + INTERVAL 10 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin
    },
    // EXT exact Shapley attribution (Events.shapleyAttribution): the
    // axiomatically fair credit division position rules approximate —
    // the 2^4-subset coalition game over pre-conversion channel sets,
    // integer factorial weights, ONE division at the readout; the
    // efficiency axiom is spec-asserted
    Query("shapley_attribution")((s, dir) =>
      Events.shapleyAttribution(t(s, dir, "events"), "user_id", "event_type",
          "ts", "purchase", Seq("view", "click", "signup", "error"))
        .orderBy("channel")) {
      // Shapley mirror: mask/subset arithmetic on range(16), factorial
      // weights generated from the same fact() the Spark side uses
      val n = 4
      def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
      val wCases = (0 until n)
        .map(s0 => s"WHEN ${s0} THEN ${fact(s0) * fact(n - 1 - s0)}")
        .mkString(" ")
      s"""WITH conv AS (SELECT user_id AS u, MIN(epoch_us(ts)) AS cts FROM events
         |       WHERE event_type = 'purchase' GROUP BY 1),
         | tch AS (SELECT DISTINCT user_id, event_type FROM events
         |       JOIN conv ON user_id = u
         |       WHERE event_type IN ('view', 'click', 'signup', 'error')
         |         AND epoch_us(ts) < cts),
         | mk AS (SELECT conv.u, COALESCE(SUM(CASE event_type
         |          WHEN 'view' THEN 1 WHEN 'click' THEN 2
         |          WHEN 'signup' THEN 4 WHEN 'error' THEN 8 END), 0) AS mask
         |       FROM conv LEFT JOIN tch ON tch.user_id = conv.u GROUP BY 1),
         | m AS (SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM mk GROUP BY 1),
         | s AS (SELECT unnest(range(0, 16)) AS sv),
         | v AS (SELECT sv, CAST(COALESCE(SUM(c), 0) AS BIGINT) AS v
         |       FROM s LEFT JOIN m ON (mask & sv) = mask GROUP BY sv),
         | ch AS (SELECT * FROM (VALUES ('view', 1), ('click', 2),
         |        ('signup', 4), ('error', 8)) AS t(channel, bit)),
         | terms AS (SELECT channel,
         |        (CASE bit_count(vs.sv) $wCases END) * (vi.v - vs.v) AS t
         |       FROM ch JOIN v vs ON (vs.sv & bit) = 0
         |       JOIN v vi ON vi.sv = (vs.sv | bit)),
         | agg AS (SELECT channel, CAST(SUM(t) AS BIGINT) AS numer
         |       FROM terms GROUP BY 1)
         |SELECT channel, numer,
         |  ROUND(CAST(numer AS DOUBLE) / ${fact(n)}e0, 6) AS shapley
         |FROM agg ORDER BY channel""".stripMargin
    },
    // EXT Markov removal-effect attribution (Events.
    // markovRemovalAttribution, Anderl '14): journeys as an absorbing
    // chain, credit = conversion probability lost when the channel is
    // deleted. The driver-side solve is Cramer over FIXED-ORDER Leibniz
    // determinants (MarkovSolve), so the oracle generated from the SAME
    // permutation enumeration replays it bit-for-bit — a learned linear
    // solve that still hash-checks.
    Query("markov_removal")((s, dir) =>
      Events.markovRemovalAttribution(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id", "purchase",
          Seq("view", "click", "signup", "error"))
        .orderBy("channel")) {
      // Markov removal mirror: the journey CTEs count START/channel/
      // absorber transitions exactly like the Spark window pass; the
      // absorbing-chain solve is replayed as Cramer over MarkovSolve's
      // lexicographic Leibniz determinants — the SAME permutation
      // enumeration the Scala driver-side solve folds, so every float
      // lands bit-identically; floor(x*1e6+0.5)/1e6 is the shared
      // half-up quantizer (rint's half-even has no DuckDB twin)
      val chs = Seq("view", "click", "signup", "error")
      val states = "START" +: chs
      val targets = chs :+ "CONV"
      def low(s: String) = s.toLowerCase
      def pcol(f: String, t: String) = s"p_${low(f)}_${low(t)}"
      val aggCols = (states.flatMap(f => targets.map(t =>
        s"CAST(SUM(CASE WHEN f = '$f' AND t = '$t' THEN c ELSE 0 END) AS BIGINT) AS c_${low(f)}_${low(t)}")) ++
        states.map(f =>
          s"CAST(SUM(CASE WHEN f = '$f' THEN c ELSE 0 END) AS BIGINT) AS t_${low(f)}"))
        .mkString(",\n   ")
      val pmCols = states.flatMap(f => targets.map(t =>
        s"CASE WHEN t_${low(f)} = 0 THEN 0e0 ELSE CAST(c_${low(f)}_${low(t)} AS DOUBLE) / CAST(t_${low(f)} AS DOUBLE) END AS ${pcol(f, t)}"))
        .mkString(",\n   ")
      // conversion probability of the chain with `removed` deleted, as
      // one scalar SQL expression over pm's columns — mirrors
      // Events.markovRemovalAttribution.convProb term for term
      def convProbSql(removed: Set[String]): String = {
        val live = chs.filterNot(removed)
        val m = live.size
        def aEnt(i: Int, j: Int): String =
          (if (i == j) "(1e0 - " else "(0e0 - ") + pcol(live(i), live(j)) + ")"
        def bEnt(i: Int): String = pcol(live(i), "CONV")
        val dA = graft.operators.MarkovSolve.detSql(m, aEnt)
        val sols = (0 until m).map { k =>
          val nk = graft.operators.MarkovSolve.detSql(m,
            (i, j) => if (j == k) bEnt(i) else aEnt(i, j))
          s"(CASE WHEN abs($dA) > 1e-12 THEN $nk / $dA ELSE 0e0 END)"
        }
        val walk = live.zipWithIndex
          .map { case (c, i) => s"(${pcol("START", c)} * ${sols(i)})" }
          .mkString("(0e0 + ", " + ", ")")
        s"(${pcol("START", "CONV")} + $walk)"
      }
      def q6(x: String) = s"FLOOR(($x) * 1e6 + 5e-1) / 1e6 + 0e0"
      val cpCols = (s"${convProbSql(Set.empty)} AS cp_base" +:
        chs.map(c => s"${convProbSql(Set(c))} AS cp_${low(c)}"))
        .mkString(",\n   ")
      val tot = chs.map(c => s"(cp_base - cp_${low(c)})")
        .mkString("(0e0 + ", " + ", ")")
      val outRows = chs.map { c =>
        s"""SELECT '$c' AS channel, ${q6(s"cp_${low(c)}")} AS removal_conv,
           |  ${q6(s"cp_base - cp_${low(c)}")} AS effect,
           |  CASE WHEN $tot > 0e0 THEN ${q6(s"(cp_base - cp_${low(c)}) / $tot")} ELSE 0e0 END AS share
           |FROM cp""".stripMargin
      }.mkString("\n UNION ALL\n")
      s"""WITH conv AS (SELECT user_id AS u,
         |       MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS cts
         |       FROM events GROUP BY 1),
         | tch AS (SELECT e.user_id AS tu, e.event_type AS ty,
         |        epoch_us(e.ts) AS ets, e.event_id AS id, c.cts
         |       FROM events e JOIN conv c ON c.u = e.user_id
         |       WHERE e.event_type IN (${chs.map("'" + _ + "'").mkString(", ")})
         |        AND (c.cts IS NULL OR epoch_us(e.ts) < c.cts)),
         | sq AS (SELECT tu, ty, cts,
         |        LEAD(ty) OVER (PARTITION BY tu ORDER BY ets, id) AS nxt,
         |        ROW_NUMBER() OVER (PARTITION BY tu ORDER BY ets, id) AS rn
         |       FROM tch),
         | trans AS (
         |   SELECT ty AS f, COALESCE(nxt,
         |     CASE WHEN cts IS NOT NULL THEN 'CONV' ELSE 'NULL' END) AS t FROM sq
         |   UNION ALL
         |   SELECT 'START', ty FROM sq WHERE rn = 1
         |   UNION ALL
         |   SELECT 'START', CASE WHEN conv.cts IS NOT NULL THEN 'CONV' ELSE 'NULL' END
         |   FROM conv LEFT JOIN (SELECT DISTINCT tu FROM tch) tt ON tt.tu = conv.u
         |   WHERE tt.tu IS NULL),
         | counts AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2),
         | agg AS (SELECT
         |   $aggCols
         |  FROM counts),
         | pm AS (SELECT
         |   $pmCols
         |  FROM agg),
         | cp AS (SELECT
         |   $cpCols
         |  FROM pm)
         |SELECT * FROM (
         |$outRows
         |) ORDER BY channel""".stripMargin
    },
    // EXT difference-in-differences (Events.diffInDiff): the error
    // series' post-Jan-16 shift net of whatever moved the click
    // control — the causal quantification next to cusum's detection
    Query("diff_in_diff_daily")((s, dir) =>
      Events.diffInDiff(t(s, dir, "events"), "event_type", "ts",
        treated = "error", control = "click", cutover = "2024-01-16")) {
      // DiD mirror: one conditional aggregate over the two daily series,
      // the same fixed-order mean algebra
      """WITH dc AS (SELECT event_type AS tpe, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events
        |       WHERE event_type IN ('error', 'click') GROUP BY 1, 2),
        | f AS (SELECT tpe, day >= DATE '2024-01-16' AS post, cnt FROM dc),
        | a AS (SELECT
        |    CAST(SUM(CASE WHEN tpe = 'error' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS n_days_pre,
        |    CAST(SUM(CASE WHEN tpe = 'error' AND post THEN 1 ELSE 0 END) AS BIGINT) AS n_days_post,
        |    CAST(SUM(CASE WHEN tpe = 'error' AND NOT post THEN cnt ELSE 0 END) AS BIGINT) AS tp0,
        |    CAST(SUM(CASE WHEN tpe = 'error' AND post THEN cnt ELSE 0 END) AS BIGINT) AS tp1,
        |    CAST(SUM(CASE WHEN tpe = 'click' AND NOT post THEN cnt ELSE 0 END) AS BIGINT) AS cp0,
        |    CAST(SUM(CASE WHEN tpe = 'click' AND post THEN cnt ELSE 0 END) AS BIGINT) AS cp1,
        |    CAST(SUM(CASE WHEN tpe = 'click' AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS nc0,
        |    CAST(SUM(CASE WHEN tpe = 'click' AND post THEN 1 ELSE 0 END) AS BIGINT) AS nc1
        |   FROM f)
        |SELECT n_days_pre, n_days_post,
        |  ROUND(CAST(tp0 AS DOUBLE) / n_days_pre, 6) AS treated_pre,
        |  ROUND(CAST(tp1 AS DOUBLE) / n_days_post, 6) AS treated_post,
        |  ROUND(CAST(cp0 AS DOUBLE) / nc0, 6) AS control_pre,
        |  ROUND(CAST(cp1 AS DOUBLE) / nc1, 6) AS control_post,
        |  ROUND((CAST(tp1 AS DOUBLE) / n_days_post - CAST(tp0 AS DOUBLE) / n_days_pre)
        |    - (CAST(cp1 AS DOUBLE) / nc1 - CAST(cp0 AS DOUBLE) / nc0), 6) + 0e0 AS did
        |FROM a""".stripMargin
    },
    // EXT deterministic Poisson bootstrap CI (Stats.poissonBootstrapCI,
    // Chamandy '12): 95% CI of the mean daily count per event type —
    // md5-derived Poisson(1) weights over the day grid, 200 replicates,
    // integer ceil-rank percentile picks
    Query("bootstrap_ci_daily")((s, dir) =>
      Stats.poissonBootstrapCI(
          t(s, dir, "events")
            .groupBy(col("event_type"), col("ts").cast("date").as("day"))
            .agg(count(lit(1)).as("cnt")),
          "event_type", "day", col("cnt"), reps = 200, confPct = 95)
        .orderBy("event_type")) {
      // bootstrap mirror: the gumbel md5->uint48 idiom, the SAME
      // PoissonCum double literals (Double.toString round-trips), integer
      // ceil-rank percentile picks
      val wSql = graft.operators.Stats.PoissonCum
        .map(t0 => s"(CASE WHEN u >= $t0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH dc AS (SELECT event_type AS g, CAST(CAST(ts AS DATE) AS VARCHAR) AS k,
         |        CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY event_type, CAST(ts AS DATE)),
         | obs AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |        CAST(SUM(x) AS BIGINT) AS sx FROM dc GROUP BY 1),
         | rep AS (SELECT g, k, x, unnest(range(0, 200)) AS b FROM dc),
         | uw AS (SELECT g, b, x,
         |    CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || b || ':' || g || ':' || k), i, 1)) - 1) * power(16, 12 - i) for i in range(1, 13)]) AS BIGINT) / power(2, 48) AS u
         |   FROM rep),
         | ww AS (SELECT g, b, x, $wSql AS w FROM uw),
         | mb AS (SELECT g, b, CAST(SUM(w) AS BIGINT) AS sw,
         |        SUM(CAST(w AS HUGEINT) * x) AS swx FROM ww GROUP BY 1, 2),
         | mm AS (SELECT g, b, CAST(swx AS DOUBLE) / sw AS m FROM mb WHERE sw > 0),
         | rk AS (SELECT g, b, m,
         |        ROW_NUMBER() OVER (PARTITION BY g ORDER BY m, b) AS rn,
         |        COUNT(*) OVER (PARTITION BY g) AS nb FROM mm),
         | ci AS (SELECT g, CAST(MAX(nb) AS BIGINT) AS n_reps,
         |        MAX(CASE WHEN rn = (nb * 25 + 999) // 1000 THEN m END) AS lo,
         |        MAX(CASE WHEN rn = (nb * 975 + 999) // 1000 THEN m END) AS hi
         |       FROM rk GROUP BY 1)
         |SELECT ci.g AS event_type, obs.n_rows, ci.n_reps,
         |  ROUND(CAST(sx AS DOUBLE) / n_rows, 6) AS mean_obs,
         |  ROUND(lo, 6) AS ci_lo, ROUND(hi, 6) AS ci_hi
         |FROM ci JOIN obs USING (g) ORDER BY event_type""".stripMargin
    },
    // EXT bottom-k sketch, sample readout (Sketches.kmvBottomK): a
    // DETERMINISTIC uniform sample of distinct users per event type —
    // stable across runs and partitionings (hash-priority order), the
    // debugging sample a pipeline can diff between builds
    Query("kmv_sample_users")((s, dir) => {
      Sketches.kmvBottomK(t(s, dir, "events"), Seq("event_type"),
          col("user_id"), 32)
        .select(col("event_type"), col("rank"), col("value").as("user_id"))
        .orderBy("event_type", "rank")
    }) {
      """WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS value FROM events),
        | p AS (SELECT event_type, value,
        |   CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || value), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |     / 281474976710656.0 AS u
        |  FROM d),
        | r AS (SELECT event_type, value, u,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u, value) AS INT) AS rank FROM p)
        |SELECT event_type, rank, value AS user_id
        |FROM r WHERE rank <= 32 ORDER BY event_type, rank""".stripMargin
    },
    // EXT bottom-k sketch, estimator readout: KMV distinct estimate
    // (k-1)/u_k beside the exact count — mergeable like the HLL twin
    // but carrying an actual value sample
    Query("kmv_distinct_events")((s, dir) => {
      val ev = t(s, dir, "events")
      val bk = Sketches.kmvBottomK(ev, Seq("event_type"), col("user_id"), 32)
      Sketches.kmvDistinct(bk, Seq("event_type"), 32)
        .join(ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }) {
      """WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS value FROM events),
        | p AS (SELECT event_type, value,
        |   CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || value), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |     / 281474976710656.0 AS u
        |  FROM d),
        | r AS (SELECT event_type, value, u,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u, value) AS rank FROM p),
        | s AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept, MAX(u) AS umax
        |       FROM r WHERE rank <= 32 GROUP BY 1),
        | ex AS (SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |        FROM events GROUP BY 1)
        |SELECT s.event_type, n_kept,
        |  CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
        |       ELSE CAST(31 AS DOUBLE) / umax END AS est_distinct,
        |  exact_distinct
        |FROM s JOIN ex USING (event_type) ORDER BY event_type""".stripMargin
    },
    // EXT AMS tug-of-war F2 (Sketches.amsF2): the self-join size of
    // events on user_id from d=5 signed running sums — a d-row exchange
    // at any stream length, the key never grouped; median of the
    // squares is an exact integer (d odd). Exact F2 joined for the
    // error readout (1-row broadcast cross).
    Query("ams_f2_events")((s, dir) => {
      val est = Sketches.amsF2(t(s, dir, "events"), "user_id", d = 5)
      val exact = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("_c"))
        .agg(sum(col("_c").cast("decimal(19,0)") * col("_c"))
          .cast("long").as("exact_size"))
      est.crossJoin(broadcast(exact))
    }) {
      val sg = Sketches.amsSignOracleExpr(
        "md5('s' || CAST(j.row AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")
      s"""WITH j AS (SELECT CAST(unnest(range(0, 5)) AS INT) AS row),
         | s AS (SELECT j.row, SUM($sg) AS sj FROM events, j GROUP BY 1),
         | e AS (SELECT CAST(MEDIAN(sj * sj) AS BIGINT) AS est FROM s),
         | x AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_size
         |       FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id))
         |SELECT est, exact_size FROM e, x""".stripMargin
    },
    // EXT Markov event-transition matrix (Events.eventTransitions):
    // per-user adjacent pairs under a TOTAL (ts, event_id) order, one
    // user-key window + one (from,to) roll-up; the probability
    // normalization runs over the |types|^2 aggregate — constant at any
    // stream length. prob = one division of two exact BIGINTs.
    Query("event_transitions")((s, dir) =>
      Events.eventTransitions(t(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type")) {
      """WITH p AS (SELECT event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events),
        | c AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM p WHERE t IS NOT NULL GROUP BY 1, 2)
        |SELECT f AS from_type, t AS to_type, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY f) AS DOUBLE) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin
    },
    // EXT streaming transition edges applied to a batch frame (the
    // suite strategy for stream lambdas — the same
    // flatMapGroupsWithState code path StreamingSpec drives through
    // MemoryStream batches): per-user carry state -> raw edges -> one
    // downstream roll-up; counts == the window-based batch operator
    Query("event_transitions_stream")((s, dir) => {
      val sess = s
      import sess.implicits._
      val typed = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tsMicros"),
          col("event_type"))
        .as[graft.streaming.TypedEvent]
      graft.streaming.StreamOps.transitionsStream(typed)
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("from_type", "to_type")
    }) {
      """WITH p AS (SELECT event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events)
        |SELECT f AS from_type, t AS to_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM p WHERE t IS NOT NULL GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin
    },
    // EXT CUSUM change-point detection (Events.cusumAlarms, Page '54):
    // a level shift injected the suite's dup-injection way (error
    // events from Jan 20 doubled) and caught by the integer-exact
    // reflected running sum — alarms fire 2-4 days after onset at
    // every SF while un-shifted types stay quiet at bench scale. The
    // sequential walk is an expression-level fold over each type's
    // day-sorted counts (bounded by |days|), never a stream recursion.
    Query("cusum_error_shift")((s, dir) =>
      Events.cusumAlarms(errorShifted(s, dir), "event_type", "ts", hMult = 2)
        .orderBy("event_type", "day"))(cusumShiftOracleSql),
    // EXT streaming CUSUM applied to a batch frame (suite strategy):
    // daily counts stream-static-joined with FROZEN (ref, h) derived
    // once from the corpus; one long of per-key state carries the
    // reflected sum across batches — the lambda is hash-checked
    // against the same recursive-CTE path as the batch operator
    Query("cusum_stream_shift")((s, dir) => {
      val sess = s
      import sess.implicits._
      val daily = errorShifted(s, dir)
        .groupBy(col("event_type").as("key"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val refs = daily.groupBy(col("key"))
        .agg(sum(col("cnt")).as("_tot"), count(lit(1)).as("_nd"))
        .select(col("key"),
          floor((col("_tot") + col("_nd") - 1) / col("_nd")).cast("long").as("ref"))
        .withColumn("h", col("ref") * 2)
      val points = daily.join(refs, Seq("key"))
        .select(col("key"), col("day"), col("cnt"), col("ref"), col("h"))
        .as[graft.streaming.CusumPoint]
      graft.streaming.StreamOps.cusumStream(points)
        .toDF("event_type", "day", "s")
        .orderBy("event_type", "day")
    })(cusumShiftOracleSql),
    // EXT Kaplan-Meier survival (Events.kaplanMeier, KM 1958):
    // hours-to-first-purchase per user with right censoring at end of
    // observation; ONE ordered fold over the observation-window grid
    // carries the at-risk count AND the survival product (no
    // partition-less window); integer time buckets, round(6) survival
    Query("kaplan_meier_purchase")((s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase")
        .orderBy("t")) {
      // recursive-CTE mirror of the KM fold: rn-chained steps carrying
      // (nr, s); first step's 1.0 * x == x bitwise, so the shapes agree
      """WITH RECURSIVE u AS (SELECT user_id, MIN(epoch_us(ts)) AS start,
        |        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS dus
        |      FROM events GROUP BY 1),
        | m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
        | o AS (SELECT CASE WHEN dus IS NOT NULL THEN (dus - start) // 3600000000
        |              ELSE (mx - start) // 3600000000 END AS t,
        |        CASE WHEN dus IS NOT NULL THEN 1 ELSE 0 END AS death FROM u, m),
        | tb AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d,
        |        CAST(SUM(1 - death) AS BIGINT) AS c FROM o GROUP BY 1),
        | r0 AS (SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM tb),
        | tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM tb),
        | km AS (SELECT r0.t, r0.d, r0.c, r0.rn, tot.n AS nr,
        |         (1 - CAST(r0.d AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS s
        |        FROM r0, tot WHERE rn = 1
        |        UNION ALL
        |        SELECT r0.t, r0.d, r0.c, r0.rn, km.nr - km.d - km.c,
        |         km.s * (1 - CAST(r0.d AS DOUBLE) / CAST(km.nr - km.d - km.c AS DOUBLE))
        |        FROM km JOIN r0 ON r0.rn = km.rn + 1)
        |SELECT t, nr AS n_risk, d AS deaths, ROUND(s, 6) AS survival
        |FROM km WHERE d > 0 ORDER BY t""".stripMargin
    },
    // EXT Nelson-Aalen cumulative hazard + Fleming-Harrington survival
    // (Events.nelsonAalen): KM's additive sibling — hazard increments
    // d/n folded in t order, exp at the readout
    Query("nelson_aalen_purchase")((s, dir) =>
      Events.nelsonAalen(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase")
        .orderBy("t")) {
      // Nelson-Aalen mirror: the KM bucket CTEs with the additive hazard
      // recursion h += d/nr, exp(0 - h) at the readout
      """WITH RECURSIVE u AS (SELECT user_id, MIN(epoch_us(ts)) AS start,
        |        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS dus
        |      FROM events GROUP BY 1),
        | m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
        | o AS (SELECT CASE WHEN dus IS NOT NULL THEN (dus - start) // 3600000000
        |              ELSE (mx - start) // 3600000000 END AS t,
        |        CASE WHEN dus IS NOT NULL THEN 1 ELSE 0 END AS death FROM u, m),
        | tb AS (SELECT t, CAST(SUM(death) AS BIGINT) AS d,
        |        CAST(SUM(1 - death) AS BIGINT) AS c FROM o GROUP BY 1),
        | r0 AS (SELECT t, d, c, ROW_NUMBER() OVER (ORDER BY t) AS rn FROM tb),
        | tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS n FROM tb),
        | na AS (SELECT r0.t, r0.d, r0.c, r0.rn, tot.n AS nr,
        |         (0e0 + CAST(r0.d AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS h
        |        FROM r0, tot WHERE rn = 1
        |        UNION ALL
        |        SELECT r0.t, r0.d, r0.c, r0.rn, na.nr - na.d - na.c,
        |         na.h + CAST(r0.d AS DOUBLE) / CAST(na.nr - na.d - na.c AS DOUBLE)
        |        FROM na JOIN r0 ON r0.rn = na.rn + 1)
        |SELECT t, nr AS n_risk, d AS deaths, ROUND(h, 6) AS cum_hazard,
        |  ROUND(EXP(0e0 - h), 6) AS survival_fh
        |FROM na WHERE d > 0 ORDER BY t""".stripMargin
    },
    // EXT two-group log-rank test (Events.logRankTest, Mantel '66):
    // even vs odd users' time-to-first-purchase curves — the
    // significance companion to kaplan_meier; exact risk sets from a
    // grid-window prefix sum, t-ordered E/V folds
    Query("log_rank_purchase")((s, dir) =>
      Events.logRankTest(t(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase", pmod(col("user_id"), lit(2)) === 0)) {
      // log-rank mirror: the kaplan_meier per-user CTEs split by parity,
      // prefix-sum risk sets, t-ordered list_sum folds for E1/V
      """WITH pu AS (SELECT user_id, MIN(epoch_us(ts)) AS start,
        |        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS dus
        |       FROM events GROUP BY 1),
        | mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
        | obs AS (SELECT CAST(FLOOR((COALESCE(dus, m) - start) / 3600000000) AS BIGINT) AS t,
        |        dus IS NOT NULL AS death, (user_id % 2 = 0) AS g1 FROM pu, mx),
        | b AS (SELECT t,
        |        CAST(SUM(CASE WHEN g1 AND death THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(SUM(CASE WHEN g1 AND NOT death THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(SUM(CASE WHEN NOT g1 AND death THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |        CAST(SUM(CASE WHEN NOT g1 AND NOT death THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |       FROM obs GROUP BY 1),
        | tt AS (SELECT CAST(SUM(d1 + c1) AS BIGINT) AS bn1,
        |        CAST(SUM(d2 + c2) AS BIGINT) AS bn2 FROM b),
        | r AS (SELECT t, d1, d2, bn1, bn2,
        |        bn1 - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
        |        bn2 - CAST(COALESCE(SUM(d2 + c2) OVER (ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2
        |       FROM b, tt),
        | terms AS (SELECT t, d1, bn1, bn2,
        |        CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) AS e,
        |        CASE WHEN n1 + n2 > 1 THEN
        |          CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |          * (1.0 - CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |          * ((CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
        |            / (CAST(n1 + n2 AS DOUBLE) - 1.0)) ELSE 0.0 END AS v
        |       FROM r WHERE d1 + d2 > 0),
        | f AS (SELECT MAX(bn1) AS n1, MAX(bn2) AS n2,
        |        CAST(SUM(d1) AS BIGINT) AS o1,
        |        list_sum(list(e ORDER BY t)) AS es,
        |        list_sum(list(v ORDER BY t)) AS vs FROM terms)
        |SELECT n1, n2, o1, ROUND(es, 6) AS e1, ROUND(vs, 6) AS v,
        |  CASE WHEN vs > 0 THEN ROUND((CAST(o1 AS DOUBLE) - es) / sqrt(vs), 6) END AS z
        |FROM f""".stripMargin
    },
    // EXT stratified log-rank (Events.logRankStratified,
    // Mantel-Haenszel): the arm comparison within customer segments,
    // O/E/V summed across strata — valid under per-segment baseline
    // hazards that would confound the pooled test; every window
    // carries the stratum key (no global window)
    Query("log_rank_stratified")((s, dir) => {
      val ev = t(s, dir, "events")
        .join(t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("user_id") === col("c_custkey"))
      Events.logRankStratified(ev, "user_id", "ts",
        col("event_type") === "purchase", pmod(col("user_id"), lit(2)) === 0,
        col("c_mktsegment"))
    }) {
      // stratified log-rank mirror: the pooled mirror with every CTE
      // keyed by segment, contributions summed across strata
      """WITH ej AS (SELECT e.*, c.c_mktsegment AS st FROM events e
        |       JOIN customer c ON e.user_id = c.c_custkey),
        | pu AS (SELECT user_id, MIN(st) AS st, MIN(epoch_us(ts)) AS start,
        |        MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS dus
        |       FROM ej GROUP BY 1),
        | mx AS (SELECT MAX(epoch_us(ts)) AS m FROM ej),
        | obs AS (SELECT st, CAST(FLOOR((COALESCE(dus, m) - start) / 3600000000) AS BIGINT) AS t,
        |        dus IS NOT NULL AS death, (user_id % 2 = 0) AS g1 FROM pu, mx),
        | b AS (SELECT st, t,
        |        CAST(SUM(CASE WHEN g1 AND death THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |        CAST(SUM(CASE WHEN g1 AND NOT death THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |        CAST(SUM(CASE WHEN NOT g1 AND death THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |        CAST(SUM(CASE WHEN NOT g1 AND NOT death THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |       FROM obs GROUP BY 1, 2),
        | tt AS (SELECT st, CAST(SUM(d1 + c1) AS BIGINT) AS bn1,
        |        CAST(SUM(d2 + c2) AS BIGINT) AS bn2 FROM b GROUP BY 1),
        | r AS (SELECT b.st, t, d1, d2,
        |        bn1 - CAST(COALESCE(SUM(d1 + c1) OVER (PARTITION BY b.st ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
        |        bn2 - CAST(COALESCE(SUM(d2 + c2) OVER (PARTITION BY b.st ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2
        |       FROM b JOIN tt ON tt.st = b.st),
        | terms AS (SELECT st, t, d1,
        |        CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)) AS e,
        |        CASE WHEN n1 + n2 > 1 THEN
        |          CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |          * (1.0 - CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
        |          * ((CAST(n1 + n2 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
        |            / (CAST(n1 + n2 AS DOUBLE) - 1.0)) ELSE 0.0 END AS v
        |       FROM r WHERE d1 + d2 > 0),
        | sz AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
        |        CAST(SUM(bn1) AS BIGINT) AS n1, CAST(SUM(bn2) AS BIGINT) AS n2 FROM tt),
        | f AS (SELECT CAST(SUM(d1) AS BIGINT) AS o1,
        |        list_sum(list(e ORDER BY st, t)) AS es,
        |        list_sum(list(v ORDER BY st, t)) AS vs FROM terms)
        |SELECT n_strata, n1, n2, o1, ROUND(es, 6) AS e1, ROUND(vs, 6) AS v,
        |  CASE WHEN vs > 0 THEN ROUND((CAST(o1 AS DOUBLE) - es) / sqrt(vs), 6) END AS z
        |FROM f, sz""".stripMargin
    },
    // EXT A/B two-proportion z-test (Stats.abTestProportions):
    // deterministic md5-parity arms over events, conversion =
    // value > 100 — an A/A calibration readout (|z| small); ONE
    // map-side global aggregate, no shuffle beyond the combine
    Query("ab_test_value")((s, dir) =>
      Stats.abTestProportions(t(s, dir, "events"), "event_id",
        col("value") > 100)) {
      val parity = "(instr('0123456789abcdef', substr(md5('ab:' || CAST(event_id AS VARCHAR)), 16, 1)) - 1) % 2"
      s"""WITH o AS (SELECT $parity AS b,
         |        CASE WHEN value > 100 THEN 1 ELSE 0 END AS x FROM events),
         | a AS (SELECT CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |        CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |        CAST(SUM(CASE WHEN b = 0 THEN x ELSE 0 END) AS BIGINT) AS x_a,
         |        CAST(SUM(CASE WHEN b = 1 THEN x ELSE 0 END) AS BIGINT) AS x_b FROM o)
         |SELECT n_a, n_b, x_a, x_b,
         |  ROUND(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
         |  ROUND(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
         |  ROUND((CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |       - CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))
         |    / sqrt((CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |      * (1.0 - CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
         |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
         |FROM a""".stripMargin
    },
    // EXT per-segment Welch uplift (Stats.welchUplift): heterogeneous
    // treatment effect of the md5-assigned arm on purchase VALUE by
    // customer segment — the segment-drilldown next to ab_test_value's
    // global proportion z
    Query("uplift_by_segment")((s, dir) => {
      val arm = Stats.md5Parity(col("user_id"), "up")
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"))
      Stats.welchUplift(ev, "c_mktsegment", arm, col("value"))
        .orderBy("c_mktsegment")
    }) {
      // uplift mirror: the ab md5-parity arm, DECIMAL moment sums, the
      // same fixed-order Welch algebra
      """WITH ev AS (SELECT user_id, value FROM events WHERE event_type = 'purchase'),
        | j AS (SELECT c_mktsegment AS seg, CAST(value AS DECIMAL(15,2)) AS x,
        |        (instr('0123456789abcdef', substr(md5('up:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS b
        |       FROM ev JOIN customer ON user_id = c_custkey),
        | a AS (SELECT seg,
        |        CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |        CAST(SUM(CASE WHEN b = 0 THEN x END) AS DOUBLE) AS sxa,
        |        CAST(SUM(CASE WHEN b = 1 THEN x END) AS DOUBLE) AS sxb,
        |        CAST(SUM(CASE WHEN b = 0 THEN x * x END) AS DOUBLE) AS ssa,
        |        CAST(SUM(CASE WHEN b = 1 THEN x * x END) AS DOUBLE) AS ssb
        |       FROM j GROUP BY 1)
        |SELECT seg AS c_mktsegment, n_a, n_b,
        |  ROUND(sxa / CAST(n_a AS DOUBLE), 6) AS mean_a,
        |  ROUND(sxb / CAST(n_b AS DOUBLE), 6) AS mean_b,
        |  ROUND(sxb / CAST(n_b AS DOUBLE) - sxa / CAST(n_a AS DOUBLE), 6) AS uplift,
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND
        |      ((ssa - sxa * sxa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((ssb - sxb * sxb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) > 0.0
        |    THEN ROUND((sxb / CAST(n_b AS DOUBLE) - sxa / CAST(n_a AS DOUBLE))
        |      / sqrt(((ssa - sxa * sxa / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |        + ((ssb - sxb * sxb / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)), 6) END AS z
        |FROM a ORDER BY c_mktsegment""".stripMargin
    },
    // EXT Benjamini-Hochberg FDR over one-vs-rest Welch z tests
    // (Stats.bhFdrWelch): which event types' value distributions
    // actually differ from the rest once m tests are corrected — the
    // multiple-comparisons guardrail next to the single-pair ab_test.
    // Normal CDF via the Abramowitz-Stegun polynomial (identical
    // Horner float path both engines)
    Query("bh_fdr_welch")((s, dir) =>
      Stats.bhFdrWelch(t(s, dir, "events"), "event_type", col("value"))
        .orderBy("rank")) {
      // BH-FDR mirror: same decimal moments, global-minus-group rest,
      // identical A-S Horner polynomial and Sqrt2Pi literal, BH suffix
      // minima as list folds over the p-sorted battery
      val s2pi = graft.operators.Stats.Sqrt2Pi
      s"""WITH base AS (SELECT event_type AS g, CAST(value AS DECIMAL(15,2)) AS x
         |       FROM events WHERE value IS NOT NULL),
         | gg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
         |        SUM(x * x) AS ss FROM base GROUP BY 1),
         | tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tn, SUM(sx) AS ts, SUM(ss) AS tss FROM gg),
         | w AS (SELECT g, n,
         |        CAST(sx AS DOUBLE) AS sa, CAST(ts - sx AS DOUBLE) AS sb,
         |        CAST(ss AS DOUBLE) AS ssa, CAST(tss - ss AS DOUBLE) AS ssb,
         |        CAST(n AS DOUBLE) AS na, CAST(tn - n AS DOUBLE) AS nb
         |       FROM gg, tt WHERE n >= 2 AND tn - n >= 2),
         | zr AS (SELECT g, n, sa / na AS ma,
         |        (sa / na - sb / nb) / sqrt(
         |          (ssa - sa * sa / na) / (na - 1e0) / na
         |          + (ssb - sb * sb / nb) / (nb - 1e0) / nb) AS z
         |       FROM w),
         | pr AS (SELECT g, n, ma, z, abs(z) AS az,
         |        1e0 / (1e0 + 0.2316419 * abs(z)) AS t FROM zr),
         | sc AS (SELECT g, n, ROUND(ma, 6) + 0e0 AS mean, ROUND(z, 6) + 0e0 AS z,
         |        ROUND(2e0 * (exp(-0.5 * az * az) / $s2pi)
         |          * (((((1.330274429 * t + -1.821255978) * t + 1.781477937) * t
         |            + -0.356563782) * t + 0.319381530) * t), 6) AS p
         |       FROM pr),
         | pk AS (SELECT list(struct_pack(p := p, g := g, n := n, mean := mean, z := z)
         |          ORDER BY p, g) AS l FROM sc),
         | ex AS (SELECT unnest(range(1, CAST(len(l) AS INT) + 1)) AS rk, l FROM pk),
         | qq AS (SELECT l[rk].g AS event_type, l[rk].n AS n, l[rk].mean AS mean,
         |        l[rk].z AS z, l[rk].p AS p, CAST(rk AS INT) AS rank,
         |        ROUND(LEAST(1e0, list_min(list_transform(range(rk, len(l) + 1),
         |          j -> l[j].p * CAST(len(l) AS DOUBLE) / CAST(j AS DOUBLE)))), 6) AS q
         |       FROM ex)
         |SELECT event_type, n, mean, z, p, rank, q, (q <= 0.05) AS significant
         |FROM qq ORDER BY rank""".stripMargin
    },
    // EXT Fisher's exact test (Stats.fisherExactGreater): does the
    // md5-split arm see MORE error-affected users than chance — the
    // exact 2x2 answer where chi2/z are approximations. One aggregate;
    // the hypergeometric tail folds on the 1-row frame
    Query("fisher_exact")((s, dir) => {
      val perUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("_y"))
      val arm = Stats.md5Parity(col("user_id"), "fx")
      Stats.fisherExactGreater(
        perUser.select(arm.as("_arm"), (col("_y") === 1L).as("_out")),
        col("_arm"), col("_out"))
    }) {
      // Fisher mirror: same md5-parity arm, ln-factorial range folds,
      // exp anchor, and the term-ratio tail as a recursive CTE stepping
      // k -> k+1 with the identical float factor
      def lfSql(x: String) =
        s"(CASE WHEN ($x) >= 2 THEN list_sum(list_transform(range(2, CAST(($x) + 1 AS BIGINT)), i -> ln(CAST(i AS DOUBLE)))) ELSE 0e0 END)"
      val lnp = s"${lfSql("r1")} - ${lfSql("a")} - ${lfSql("r1 - a")} + ${lfSql("r2")} - ${lfSql("c1 - a")} - ${lfSql("r2 - c1 + a")} - ${lfSql("n")} + ${lfSql("c1")} + ${lfSql("n - c1")}"
      s"""WITH RECURSIVE u AS (SELECT user_id,
         |       MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS y
         |      FROM events GROUP BY 1),
         | t2 AS (SELECT (instr('0123456789abcdef', substr(md5('fx:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS b, y FROM u),
         | cnt AS (SELECT
         |    CAST(SUM(CASE WHEN b = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
         |    CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         |    CAST(SUM(CASE WHEN b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
         |    CAST(SUM(y) AS BIGINT) AS c1,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |   FROM t2),
         | b0 AS (SELECT a AS k, exp($lnp) AS term, exp($lnp) AS s FROM cnt),
         | rec AS (
         |   SELECT k, term, s FROM b0
         |   UNION ALL
         |   SELECT r.k + 1,
         |     r.term * (CAST((c.r1 - r.k) * (c.c1 - r.k) AS DOUBLE)
         |       / CAST((r.k + 1) * (c.r2 - c.c1 + r.k + 1) AS DOUBLE)),
         |     r.s + r.term * (CAST((c.r1 - r.k) * (c.c1 - r.k) AS DOUBLE)
         |       / CAST((r.k + 1) * (c.r2 - c.c1 + r.k + 1) AS DOUBLE))
         |   FROM rec r, cnt c WHERE r.k < LEAST(c.r1, c.c1))
         |SELECT a, r1, r2, c1, n,
         |  CASE WHEN r1 - a > 0 AND c1 - a > 0
         |    THEN ROUND(CAST(a * (r2 - c1 + a) AS DOUBLE)
         |      / CAST((r1 - a) * (c1 - a) AS DOUBLE), 6) END AS odds_ratio,
         |  ROUND(rec.s, 6) AS p_greater
         |FROM rec, cnt WHERE rec.k = LEAST(cnt.r1, cnt.c1)""".stripMargin
    },
    // EXT Wald SPRT early-stopping monitor (Events.sprtDaily): daily
    // Bernoulli LLR of the user conversion rate, H0 p=0.35 vs H1
    // p=0.40, alpha=beta=0.05 — rows stop AT the first boundary
    // crossing, the sequential-analysis contract a fixed-horizon z
    // test can't give
    Query("sprt_daily")((s, dir) =>
      Events.sprtDaily(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase", p0 = 0.35, p1 = 0.40)
        .orderBy("day")) {
      // SPRT mirror: same (day, user)-distinct counts, the Scala-computed
      // log coefficients/boundaries as shared literals, prefix list folds
      // for the day-ordered LLR, rows cut at the first decision
      val p0 = 0.35; val p1 = 0.40; val alpha = 0.05; val beta = 0.05
      val lc1 = math.log(p1 / p0)
      val lc2 = math.log((1.0 - p1) / (1.0 - p0))
      val hi = math.log((1.0 - beta) / alpha)
      val lo = math.log(beta / (1.0 - alpha))
      s"""WITH d AS (SELECT CAST(ts AS DATE) AS day,
         |        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n,
         |        CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS x
         |       FROM events GROUP BY 1),
         | pk AS (SELECT list(struct_pack(day := day, n := n, x := x) ORDER BY day) AS l FROM d),
         | ex AS (SELECT unnest(range(1, CAST(len(l) AS INT) + 1)) AS i, l FROM pk),
         | ll AS (SELECT i, l[CAST(i AS INT)].day AS day, l[CAST(i AS INT)].n AS n,
         |        l[CAST(i AS INT)].x AS x,
         |        list_sum(list_transform(list_slice(l, 1, CAST(i AS INT)), e ->
         |          CAST(e.x AS DOUBLE) * $lc1 + CAST(e.n - e.x AS DOUBLE) * $lc2)) AS llr
         |       FROM ex),
         | dd AS (SELECT i, day, n, x, llr,
         |        CASE WHEN llr >= $hi THEN 'accept_h1'
         |             WHEN llr <= $lo THEN 'accept_h0'
         |             ELSE 'continue' END AS decision FROM ll),
         | cut AS (SELECT COALESCE(MIN(i), 2147483647) AS stop_i FROM dd
         |         WHERE decision <> 'continue')
         |SELECT day, n, x, ROUND(llr, 6) + 0e0 AS llr, decision
         |FROM dd, cut WHERE i <= stop_i ORDER BY day""".stripMargin
    },
    // EXT always-valid p-values via the mixture SPRT
    // (Events.msprtDaily; Johari-Koomen-Pekelis-Walsh): normal-mixture
    // likelihood ratio of the md5-parity arm difference with running
    // min 1/Lambda — the peek-proof monitor; all days emitted, exact
    // cumulative counts, sqrt/exp-only readout (no Phi)
    Query("msprt_daily")((s, dir) =>
      Events.msprtDaily(t(s, dir, "events"), "user_id", "ts",
          col("value") > 100)
        .orderBy("day")) {
      // mSPRT mirror: cumulative (day, arm) BIGINT sums in day order,
      // the closed-form mixture likelihood ratio in the engine's exact
      // double op order, and the always-valid p as a running window MIN
      // of LEAST(1, 1/lambda) over the valid days (no recursion — every
      // day's lambda depends only on the cumulative integer counts)
      val tau = 0.05; val alpha = 0.05
      val t2 = tau * tau
      s"""WITH o AS (SELECT CAST(ts AS DATE) AS day,
         |        (instr('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS b,
         |        CASE WHEN value > 100 THEN 1 ELSE 0 END AS c FROM events),
         | g AS (SELECT day,
         |        CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |        CAST(SUM(CASE WHEN b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |        CAST(SUM(CASE WHEN b = 0 THEN c ELSE 0 END) AS BIGINT) AS xc,
         |        CAST(SUM(CASE WHEN b <> 0 THEN c ELSE 0 END) AS BIGINT) AS xt
         |       FROM o GROUP BY 1),
         | cum AS (SELECT day,
         |        CAST(SUM(nc) OVER w AS BIGINT) AS nc, CAST(SUM(nt) OVER w AS BIGINT) AS nt,
         |        CAST(SUM(xc) OVER w AS BIGINT) AS xc, CAST(SUM(xt) OVER w AS BIGINT) AS xt
         |       FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         | vv AS (SELECT day, nc, nt, xc, xt,
         |        CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
         |          - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) AS delta,
         |        (CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
         |          * (1e0 - CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
         |          * (1e0 / CAST(nc AS DOUBLE) + 1e0 / CAST(nt AS DOUBLE)) AS var
         |       FROM cum),
         | lm AS (SELECT day, nc, nt, xc, xt,
         |        (nc > 0 AND nt > 0 AND var > 0e0) AS valid,
         |        sqrt(var / (var + $t2))
         |          * exp(delta * delta * $t2 / (2e0 * var * (var + $t2))) AS lam
         |       FROM vv),
         | pm AS (SELECT day, nc, nt, xc, xt, valid, lam,
         |        COALESCE(MIN(CASE WHEN valid THEN LEAST(1e0, 1e0 / lam) END)
         |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |          1e0) AS pmin
         |       FROM lm)
         |SELECT day, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
         |  ROUND(CASE WHEN valid THEN lam END, 6) + 0e0 AS lambda,
         |  ROUND(pmin, 6) + 0e0 AS p_av,
         |  CASE WHEN pmin <= $alpha THEN 'reject' ELSE 'continue' END AS decision
         |FROM pm ORDER BY day""".stripMargin
    },
    // EXT always-valid mSPRT for a MEAN metric (Events.msprtValueDaily):
    // the revenue-per-event twin of msprt_daily — integer-cents exact
    // moments, pooled-variance standard error, the same closed-form
    // mixture Lambda and running-min p; tau on the cents scale
    Query("msprt_value_daily")((s, dir) =>
      Events.msprtValueDaily(t(s, dir, "events"), "user_id", "ts",
          col("value"))
        .orderBy("day")) {
      // mean-metric mSPRT mirror: integer-cents day aggregate with
      // HUGEINT squared sums, cumulative windows, the pooled-variance
      // readout and mixture Lambda in the engine's double op order
      val tau = 100.0; val alpha = 0.05
      val t2 = tau * tau
      s"""WITH o AS (SELECT CAST(ts AS DATE) AS day,
         |        (instr('0123456789abcdef', substr(md5('ab:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS b,
         |        CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS v FROM events),
         | g AS (SELECT day,
         |        CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |        CAST(SUM(CASE WHEN b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |        CAST(SUM(CASE WHEN b = 0 THEN v ELSE 0 END) AS BIGINT) AS sc,
         |        CAST(SUM(CASE WHEN b <> 0 THEN v ELSE 0 END) AS BIGINT) AS st,
         |        SUM(CASE WHEN b = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qc,
         |        SUM(CASE WHEN b <> 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS qt
         |       FROM o GROUP BY 1),
         | cum AS (SELECT day,
         |        CAST(SUM(nc) OVER w AS BIGINT) AS nc, CAST(SUM(nt) OVER w AS BIGINT) AS nt,
         |        CAST(SUM(sc) OVER w AS BIGINT) AS sc, CAST(SUM(st) OVER w AS BIGINT) AS st,
         |        SUM(qc) OVER w AS qc, SUM(qt) OVER w AS qt
         |       FROM g WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         | r AS (SELECT day, nc, nt,
         |        CAST(nc AS DOUBLE) AS ncd, CAST(nt AS DOUBLE) AS ntd,
         |        CAST(sc AS DOUBLE) AS scd, CAST(st AS DOUBLE) AS std,
         |        CAST(qc AS DOUBLE) AS qcd, CAST(qt AS DOUBLE) AS qtd FROM cum),
         | m AS (SELECT day, nc, nt, ncd, ntd,
         |        scd / ncd AS mc, std / ntd AS mt,
         |        std / ntd - scd / ncd AS delta,
         |        qcd - scd * scd / ncd AS ssc,
         |        qtd - std * std / ntd AS sst FROM r),
         | vv AS (SELECT day, nc, nt, ncd, ntd, mc, mt, delta,
         |        ((ssc + sst) / (ncd + ntd - 2e0)) * (1e0 / ncd + 1e0 / ntd) AS var
         |       FROM m),
         | lm AS (SELECT day, nc, nt, mc, mt,
         |        (nc > 1 AND nt > 1 AND var > 0e0) AS valid,
         |        sqrt(var / (var + $t2))
         |          * exp(delta * delta * $t2 / (2e0 * var * (var + $t2))) AS lam
         |       FROM vv),
         | pm AS (SELECT day, nc, nt, mc, mt, valid, lam,
         |        COALESCE(MIN(CASE WHEN valid THEN LEAST(1e0, 1e0 / lam) END)
         |          OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |          1e0) AS pmin
         |       FROM lm)
         |SELECT day, nc AS n_c, nt AS n_t,
         |  ROUND(CASE WHEN nc > 0 THEN mc END, 6) + 0e0 AS mean_c,
         |  ROUND(CASE WHEN nt > 0 THEN mt END, 6) + 0e0 AS mean_t,
         |  ROUND(CASE WHEN valid THEN lam END, 6) + 0e0 AS lambda,
         |  ROUND(pmin, 6) + 0e0 AS p_av,
         |  CASE WHEN pmin <= $alpha THEN 'reject' ELSE 'continue' END AS decision
         |FROM pm ORDER BY day""".stripMargin
    },
    // EXT smoothed target encoding (Stats.targetEncode, Micci-Barreca
    // 2001): c_mktsegment encoded by customer lifetime spend (exact
    // floored-cents BIGINTs; customers with no orders count as 0),
    // shrunk toward the global mean with m=50 — the leakage-averse
    // categorical feature for tabular training pipelines
    // EXT survey raking / IPF (Stats.rakeWeights; Deming-Stephan):
    // rake the high-value sub-population's (event_type x day-of-week)
    // cells to the full population's margins — 8 deterministic sweeps,
    // ordered float folds both engines; the post-stratification
    // weighting move
    Query("rake_weights")((s, dir) =>
      Stats.rakeWeights(t(s, dir, "events"), col("event_type"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))),
          lit(7)),
        col("value") > 100)) {
      rakeOracleSql
    },
    // EXT empirical-Bayes rate shrinkage (Stats.ebShrinkRates;
    // beta-binomial method of moments): per-user-bucket conversion
    // rates shrunk toward the cross-bucket mean with strength kappa
    // from the noise-vs-signal variance split
    Query("eb_shrink_rates")((s, dir) =>
      Stats.ebShrinkRates(t(s, dir, "events"),
        col("user_id") % 97, col("value") > 100)) {
      // EB shrinkage mirror: segment aggregate, ordered moment folds
      // over the s-sorted segment list, the same kappa guard and
      // posterior-mean op order
      """WITH seg AS (SELECT CAST(user_id % 97 AS VARCHAR) AS s,
        |        CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS x
        |       FROM events GROUP BY 1),
        | sp AS (SELECT s, n, x, CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM seg),
        | mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k,
        |        list_sum(list(p ORDER BY s)) AS sump FROM sp),
        | pb AS (SELECT k, sump / k AS pbar FROM mo),
        | s2 AS (SELECT k, pbar,
        |        CASE WHEN k > 1e0 THEN
        |          (SELECT list_sum(list((p - pbar) * (p - pbar) ORDER BY s)) FROM sp)
        |          / (k - 1e0) END AS s2
        |       FROM pb),
        | kap AS (SELECT pbar,
        |        CASE WHEN s2 > 0e0 AND s2 < pbar * (1e0 - pbar)
        |             THEN pbar * (1e0 - pbar) / s2 - 1e0 END AS kap
        |       FROM s2)
        |SELECT s AS segment, n, x,
        |  ROUND(p, 6) + 0e0 AS p_raw,
        |  ROUND(CASE WHEN kap IS NOT NULL
        |        THEN (CAST(x AS DOUBLE) + pbar * kap) / (CAST(n AS DOUBLE) + kap)
        |        ELSE p END, 6) + 0e0 AS p_shrunk,
        |  ROUND(kap, 6) + 0e0 AS kappa
        |FROM sp, kap ORDER BY segment""".stripMargin
    },
    // EXT Holt double exponential smoothing (Events.holtDaily): level +
    // TREND per type/day with a one-step forecast — ewma's recursion
    // with a second carried state; α'/β' as separate literals, oracle =
    // recursive CTE replaying the exact float sequence
    Query("holt_daily_counts")((s, dir) =>
      Events.holtDaily(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type", "day")) {
      """WITH RECURSIVE dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | r AS (SELECT dc.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY day) AS rn FROM dc),
        | c AS (SELECT event_type, day, cnt, rn, CAST(cnt AS DOUBLE) AS s,
        |        CAST(0 AS DOUBLE) AS b
        |       FROM r WHERE rn = 1
        |       UNION ALL
        |       SELECT r.event_type, r.day, r.cnt, r.rn,
        |        3e-1 * CAST(r.cnt AS DOUBLE) + 7e-1 * (c.s + c.b),
        |        2e-1 * ((3e-1 * CAST(r.cnt AS DOUBLE) + 7e-1 * (c.s + c.b)) - c.s)
        |          + 8e-1 * c.b
        |       FROM c JOIN r ON r.event_type = c.event_type AND r.rn = c.rn + 1)
        |SELECT event_type, day, cnt, ROUND(s, 6) + 0e0 AS level,
        |  ROUND(b, 6) + 0e0 AS trend, ROUND(s + b, 6) + 0e0 AS forecast
        |FROM c ORDER BY event_type, day""".stripMargin
    },
    // EXT Croston intermittent demand (Events.crostonDaily, Croston
    // '72): the sparse-series forecaster — separate size/interval
    // smoothers over high-value signup days, zero days carried as
    // exact integer gaps; completes the EWMA/Holt/HW/seasonal family
    Query("croston_sparse_demand")((s, dir) =>
      Events.crostonDaily(t(s, dir, "events"),
          "ts", col("event_type") === "signup" && col("value") > 200.0)
        .orderBy("day")) {
      // Croston mirror: recursive CTE on demand-day row_number carrying
      // (z, p); the same separate-literal smoothing constants
      """WITH RECURSIVE d0 AS (SELECT CAST(MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT) AS d0 FROM events),
        | dem AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        CAST(COUNT(*) AS BIGINT) AS q FROM events
        |       WHERE event_type = 'signup' AND value > 200.0 GROUP BY 1),
        | r AS (SELECT d, q, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM dem),
        | rec AS (
        |   SELECT rn, d, q, CAST(d - d0 + 1 AS BIGINT) AS tau,
        |          CAST(q AS DOUBLE) AS z, CAST(d - d0 + 1 AS DOUBLE) AS p
        |   FROM r, d0 WHERE rn = 1
        |   UNION ALL
        |   SELECT r.rn, r.d, r.q, CAST(r.d - rec.d AS BIGINT) AS tau,
        |          2e-1 * CAST(r.q AS DOUBLE) + 8e-1 * rec.z,
        |          2e-1 * CAST(r.d - rec.d AS DOUBLE) + 8e-1 * rec.p
        |   FROM rec JOIN r ON r.rn = rec.rn + 1)
        |SELECT DATE '1970-01-01' + CAST(d AS INT) AS day, q AS demand, tau,
        |  ROUND(z, 6) AS z, ROUND(p, 6) AS p, ROUND(z / p, 6) AS forecast,
        |  ROUND((1.0 - 2e-1 / 2.0) * (z / p), 6) AS sba
        |FROM rec ORDER BY day""".stripMargin
    },
    // EXT frequent consecutive length-3 sequences (Events.
    // tripleSequences): the sequential-pattern readout the bigram
    // Markov matrix can't see (view->click->purchase vs view->click->
    // error differ only at depth 3); one user-key shuffle, |types|³-
    // bounded pattern space, TakeOrdered top-20
    Query("seq_triples_events")((s, dir) =>
      Events.tripleSequences(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id", k = 20)) {
      """WITH t AS (SELECT user_id, event_type AS s1,
        |        LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
        |        LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
        |       FROM events),
        | c AS (SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS cnt FROM t
        |       WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1, 2, 3),
        | tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM c)
        |SELECT s1, s2, s3, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS support
        |FROM c, tot ORDER BY cnt DESC, s1, s2, s3 LIMIT 20""".stripMargin
    },
    // EXT winsorized mean (Stats.winsorizedMean): per-status order
    // value with p5/p95 tails CLAMPED, not dropped — the robust
    // location estimate for spend dashboards; exact percentile_disc
    // rank picks on floored cents, BIGINT clamped sum, one division
    Query("winsorized_mean_status")((s, dir) =>
      Stats.winsorizedMean(
        t(s, dir, "orders").select(col("o_orderstatus"),
          floor(col("o_totalprice") * 100).as("_cents")),
        "o_orderstatus", col("_cents"))
        .orderBy("o_orderstatus")) {
      """WITH v AS (SELECT o_orderstatus AS g,
        |        CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        | r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
        |        COUNT(*) OVER (PARTITION BY g) AS n FROM v),
        | c AS (SELECT g,
        |        MAX(CASE WHEN rn * 20 >= 1 * n AND (rn - 1) * 20 < 1 * n THEN v END) AS lo,
        |        MAX(CASE WHEN rn * 20 >= 19 * n AND (rn - 1) * 20 < 19 * n THEN v END) AS hi
        |       FROM r GROUP BY 1),
        | cl AS (SELECT r.g, c.lo, c.hi, GREATEST(c.lo, LEAST(c.hi, r.v)) AS cv
        |        FROM r JOIN c ON r.g = c.g)
        |SELECT g AS o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, lo, hi,
        |  ROUND(CAST(CAST(SUM(cv) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS wmean
        |FROM cl GROUP BY g, lo, hi ORDER BY g""".stripMargin
    },
    // EXT simple OLS trend (Stats.olsSimple): value-cents regressed on
    // hour-of-stream — five exact BIGINT moment sums in ONE map-side
    // aggregate, doubles only in the final fixed-order combination
    Query("ols_value_trend")((s, dir) =>
      Stats.olsSimple(t(s, dir, "events"),
        floor(unix_micros(col("ts").cast("timestamp")) / 3600000000L) - 473352L,
        round(col("value") * 100))) {
      """WITH o AS (SELECT (epoch_us(ts) // 3600000000) - 473352 AS x,
        |        CAST(ROUND(value * 100) AS BIGINT) AS y FROM events),
        | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy FROM o)
        |SELECT n,
        |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
        |  ROUND(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
        |FROM a""".stripMargin
    },
    // EXT Mann-Whitney U (Stats.mannWhitney): click vs error values,
    // midrank tie correction — cell-based, so every float term is an
    // exact dyadic (order-free sums); the cumulative window rides the
    // measurement-grid-bounded cell table
    Query("mann_whitney_value")((s, dir) =>
      Stats.mannWhitney(t(s, dir, "events"), "event_type", "value",
        "click", "error")) {
      """WITH s AS (SELECT value AS v,
        |        CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        |       FROM events WHERE event_type IN ('click', 'error')),
        | c AS (SELECT v, CAST(SUM(a) AS BIGINT) AS na,
        |        CAST(SUM(1 - a) AS BIGINT) AS nb FROM s GROUP BY 1),
        | w AS (SELECT v, na, nb, na + nb AS t,
        |        CAST(COALESCE(SUM(na + nb) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |       FROM c),
        | a AS (SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b,
        |        SUM(CAST(na AS DOUBLE) * (CAST(cb AS DOUBLE) + (CAST(t AS DOUBLE) + 1) / 2)) AS ra,
        |        SUM(CAST(t AS HUGEINT) * t * t - t) AS tt FROM w)
        |SELECT n_a, n_b,
        |  ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2 AS u_a,
        |  ROUND((ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
        |      - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
        |    / sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12)
        |      * ((CAST(n_a + n_b AS DOUBLE) + 1)
        |        - CAST(tt AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1)))), 6) AS z
        |FROM a""".stripMargin
    },
    // EXT daily-count autocorrelation (Events.acfDaily): lags 1-7 of
    // the event-volume series, integer-exact via the n-scaled form
    // (n·x−S products — the rational mean never becomes a float); one
    // stream roll-up, everything else over the |days| aggregate
    Query("acf_daily_events")((s, dir) =>
      Events.acfDaily(t(s, dir, "events"), "ts", maxLag = 7)
        .orderBy("lag")) {
      """WITH dc AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        |       FROM events GROUP BY 1),
        | t0 AS (SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM dc),
        | c AS (SELECT (day - DATE '1970-01-01') AS d, n * x - s AS c FROM dc, t0),
        | den AS (SELECT SUM(CAST(c AS HUGEINT) * c) AS den FROM c),
        | l AS (SELECT CAST(unnest(range(1, 8)) AS INT) AS lag),
        | num AS (SELECT lag, SUM(CAST(a.c AS HUGEINT) * b.c) AS num
        |         FROM c a CROSS JOIN l JOIN c b ON b.d = a.d + l.lag
        |         GROUP BY 1)
        |SELECT lag, ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r
        |FROM num, den ORDER BY lag""".stripMargin
    },
    // EXT two-sample Kolmogorov-Smirnov (Stats.ksTest): click vs error
    // value distributions — D as the exact integer max |ca·nb − cb·na|
    // over the value-cell CDF grid; the 5% asymptotic critical value
    // and rejection readout ride the same exact integers
    Query("ks_value_click_error")((s, dir) =>
      Stats.ksTest(t(s, dir, "events"), "event_type", "value",
        "click", "error")) {
      """WITH s AS (SELECT value AS v,
        |        CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
        |       FROM events WHERE event_type IN ('click', 'error')),
        | c AS (SELECT v, CAST(SUM(a) AS BIGINT) AS na,
        |        CAST(SUM(1 - a) AS BIGINT) AS nb FROM s GROUP BY 1),
        | w AS (SELECT
        |        CAST(SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
        |        CAST(SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
        |        CAST(SUM(na) OVER () AS BIGINT) AS ta,
        |        CAST(SUM(nb) OVER () AS BIGINT) AS tb FROM c),
        | a AS (SELECT MAX(ta) AS n_a, MAX(tb) AS n_b,
        |        CAST(MAX(ABS(ca * tb - cb * ta)) AS BIGINT) AS d_num FROM w)
        |SELECT n_a, n_b, d_num,
        |  ROUND(CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS d,
        |  ROUND(1.358e0 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6) AS d_crit,
        |  (CAST(d_num AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
        |    > (1.358e0 * sqrt((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))) AS reject
        |FROM a""".stripMargin
    },
    // EXT Kruskal-Wallis rank ANOVA (Stats.kruskalWallis): does value
    // differ across ALL event types — k-sample Mann-Whitney with exact
    // integer rank sums; the only order-sensitive float reduction
    // (Σ R²/n over k group rows) is an ordered fold, contingency-style
    Query("kruskal_value_types")((s, dir) =>
      Stats.kruskalWallis(t(s, dir, "events"), "event_type", "value")) {
      """WITH c AS (SELECT event_type AS g, value AS v,
        |        CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        | vm AS (SELECT v, CAST(SUM(c) AS BIGINT) AS t FROM c GROUP BY 1),
        | r AS (SELECT v, t, 2 * CAST(COALESCE(SUM(t) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          + t + 1 AS r2 FROM vm),
        | grp AS (SELECT g, CAST(SUM(c.c) AS BIGINT) AS ng,
        |        SUM(CAST(c.c AS HUGEINT) * r.r2) AS r2g
        |       FROM c JOIN r USING (v) GROUP BY 1),
        | tt AS (SELECT SUM(CAST(t AS HUGEINT) * t * t - t) AS tt FROM r),
        | f AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |        list_sum(list(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE) / 4e0
        |          / CAST(ng AS DOUBLE) ORDER BY g)) AS rr FROM grp)
        |SELECT k, n,
        |  CASE WHEN (1e0 - CAST(tt AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) > 0
        |       THEN ROUND((12e0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * rr
        |           - 3e0 * (CAST(n AS DOUBLE) + 1))
        |         / (1e0 - CAST(tt AS DOUBLE)
        |           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
        |  END AS h
        |FROM f, tt""".stripMargin
    },
    // EXT one-way ANOVA F (Stats.anovaF): value-cents across event
    // types — exact BIGINT group moments in ONE pass, the sole
    // order-sensitive float reduction (Σ S²/n over k group rows) an
    // ordered fold; the parametric twin of kruskal_value_types
    Query("anova_value_types")((s, dir) =>
      Stats.anovaF(t(s, dir, "events"), "event_type",
        round(col("value") * 100))) {
      """WITH o AS (SELECT event_type AS g,
        |        CAST(ROUND(value * 100) AS BIGINT) AS x FROM events),
        | grp AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
        |        CAST(SUM(x) AS BIGINT) AS sg,
        |        CAST(SUM(x * x) AS BIGINT) AS qg FROM o GROUP BY 1),
        | f AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
        |        CAST(SUM(sg) AS BIGINT) AS stot, CAST(SUM(qg) AS BIGINT) AS qtot,
        |        list_sum(list(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
        |          / CAST(ng AS DOUBLE) ORDER BY g)) AS rr FROM grp)
        |SELECT k, n,
        |  ROUND(rr - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE), 6) AS ssb,
        |  ROUND(CAST(qtot AS DOUBLE) - rr, 6) AS ssw,
        |  CASE WHEN k > 1 AND (CAST(qtot AS DOUBLE) - rr) > 0
        |       THEN ROUND(((rr - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE) / CAST(n AS DOUBLE))
        |           / (CAST(k AS DOUBLE) - 1))
        |         / ((CAST(qtot AS DOUBLE) - rr) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6)
        |  END AS f
        |FROM f""".stripMargin
    },
    // EXT EWMA daily smoother (Events.ewmaDaily): α=0.3 per-type
    // smoothed daily counts — the recursion as an expression fold over
    // the |days|-bounded aggregate (invariant 37), α/β as separate
    // literals so no engine derives 1−α; oracle = recursive CTE
    Query("ewma_daily_counts")((s, dir) =>
      Events.ewmaDaily(t(s, dir, "events"), "event_type", "ts",
          alpha = 0.3, beta = 0.7)
        .orderBy("event_type", "day")) {
      """WITH RECURSIVE dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | r AS (SELECT dc.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY day) AS rn FROM dc),
        | c AS (SELECT event_type, day, cnt, rn, CAST(cnt AS DOUBLE) AS s
        |       FROM r WHERE rn = 1
        |       UNION ALL
        |       SELECT r.event_type, r.day, r.cnt, r.rn,
        |        3e-1 * CAST(r.cnt AS DOUBLE) + 7e-1 * c.s
        |       FROM c JOIN r ON r.event_type = c.event_type AND r.rn = c.rn + 1)
        |SELECT event_type, day, cnt, ROUND(s, 6) AS ewma
        |FROM c ORDER BY event_type, day""".stripMargin
    },
    // EXT Fano burstiness (Events.fanoDaily): per-type dispersion
    // index of daily counts — (n·Σx² − S²)/(n·S) from three exact
    // BIGINT sums, one division at the readout
    Query("fano_event_types")((s, dir) =>
      Events.fanoDaily(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type")) {
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        | a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS days,
        |        CAST(SUM(x) AS BIGINT) AS s, SUM(CAST(x AS HUGEINT) * x) AS q
        |       FROM dc GROUP BY 1)
        |SELECT event_type, days,
        |  CASE WHEN s > 0 THEN ROUND(CAST(s AS DOUBLE) / CAST(days AS DOUBLE), 6) END AS mean,
        |  CASE WHEN s > 0 THEN ROUND((CAST(days AS DOUBLE) * CAST(q AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |    / (CAST(days AS DOUBLE) * CAST(s AS DOUBLE)), 6) END AS fano
        |FROM a ORDER BY event_type""".stripMargin
    },
    // EXT SCD2 dimension build (Events.scd2Islands): per-user
    // event_type regimes as [valid_from, valid_to) validity intervals
    // — gaps-and-islands under the total (ts, event_id) order; one
    // key exchange reused by both windows and the island roll-up
    Query("scd2_user_type")((s, dir) =>
      Events.scd2Islands(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("user_id", "valid_from", "event_type")) {
      """WITH m AS (SELECT user_id, ts, event_id, event_type,
        |        LAG(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev FROM events),
        | c AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
        |          THEN 1 ELSE 0 END AS chg FROM m),
        | g AS (SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
        |       FROM c),
        | i AS (SELECT user_id, grp, event_type, MIN(ts) AS valid_from,
        |        CAST(COUNT(*) AS BIGINT) AS n_events FROM g GROUP BY 1, 2, 3)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY grp) AS valid_to,
        |  n_events
        |FROM i ORDER BY user_id, valid_from, event_type""".stripMargin
    },
    // EXT additive Holt-Winters (Events.holtWintersDaily, Winters '60):
    // level+trend+7 weekly seasonals over the daily counts — the
    // seasonal member of the EWMA -> Holt -> HW forecasting family;
    // honest one-step-ahead `fitted`, oracle = recursive CTE carrying
    // the rotating seasonal list
    Query("holt_winters_daily")((s, dir) =>
      Events.holtWintersDaily(t(s, dir, "events"), "event_type", "ts", m = 7)
        .orderBy("event_type", "day")) {
      // Holt-Winters mirror: deterministic first-season init (mean level,
      // zero trend, y−level seasonals in day order), then the recursion
      // chained on rn carrying the rotating DOUBLE[] seasonal list; s2 is
      // computed ONCE in a nested subquery so b/cn/c reuse the same value
      """WITH RECURSIVE dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | r AS (SELECT dc.*, ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY day) AS rn FROM dc),
        | base AS (SELECT event_type, CAST(SUM(cnt) AS DOUBLE) / 7e0 AS s
        |       FROM r WHERE rn <= 7 GROUP BY 1),
        | cinit AS (SELECT r.event_type, base.s,
        |        list(CAST(cnt AS DOUBLE) - base.s ORDER BY rn) AS c
        |       FROM r JOIN base USING (event_type) WHERE rn <= 7
        |       GROUP BY r.event_type, base.s),
        | rec AS (
        |   SELECT event_type, CAST(7 AS BIGINT) AS rn, s, 0e0 AS b, c,
        |          CAST(NULL AS DATE) AS day, CAST(NULL AS BIGINT) AS cnt,
        |          0e0 AS cn, 0e0 AS fit
        |   FROM cinit
        |   UNION ALL
        |   SELECT event_type, rn, s2 AS s,
        |          2e-1 * (s2 - sp) + 8e-1 * bp AS b,
        |          cp[2:7] || [1e-1 * (y - s2) + 9e-1 * c0] AS c,
        |          day, cnt,
        |          1e-1 * (y - s2) + 9e-1 * c0 AS cn,
        |          fit
        |   FROM (SELECT q.*, 3e-1 * (q.y - q.c0) + 7e-1 * (q.sp + q.bp) AS s2,
        |                q.sp + q.bp + q.c0 AS fit
        |         FROM (SELECT r.event_type, r.rn, r.day, r.cnt,
        |                CAST(r.cnt AS DOUBLE) AS y, rec.c[1] AS c0,
        |                rec.s AS sp, rec.b AS bp, rec.c AS cp
        |               FROM rec JOIN r ON r.event_type = rec.event_type
        |                AND r.rn = rec.rn + 1) q) qq)
        |SELECT event_type, day, cnt, ROUND(s, 6) + 0e0 AS level,
        |  ROUND(b, 6) + 0e0 AS trend, ROUND(cn, 6) + 0e0 AS seasonal,
        |  ROUND(fit, 6) + 0e0 AS fitted
        |FROM rec WHERE day IS NOT NULL ORDER BY event_type, day""".stripMargin
    },
    // EXT classical additive decomposition (Events.
    // classicalDecomposition): centered MA-7 trend + epoch-day-position
    // seasonal index + residual on the daily counts — the pre-STL
    // textbook method; edges null like statsmodels
    Query("classical_decomposition")((s, dir) =>
      Events.classicalDecomposition(t(s, dir, "events"), "event_type", "ts",
          m = 7)
        .orderBy("event_type", "day")) {
      // decomposition mirror: centered ROWS window over observed days,
      // named-window SUM cast back per invariant 36, day-ordered seasonal
      // fold per (type, epoch-day position)
      """WITH dc AS (SELECT event_type,
        |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | tr AS (SELECT event_type, d, cnt,
        |        CAST(SUM(cnt) OVER w AS BIGINT) AS ws,
        |        COUNT(*) OVER w AS wn
        |       FROM dc WINDOW w AS (PARTITION BY event_type ORDER BY d
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        | tt AS (SELECT event_type, d, cnt,
        |        CASE WHEN wn = 7 THEN CAST(ws AS DOUBLE) / 7e0 END AS trend FROM tr),
        | dd AS (SELECT event_type, d, cnt, trend,
        |        CAST(cnt AS DOUBLE) - trend AS det, d % 7 AS pos FROM tt),
        | se AS (SELECT event_type, pos,
        |        list_sum(list(det ORDER BY d)) / CAST(COUNT(*) AS DOUBLE) AS seas
        |       FROM dd WHERE det IS NOT NULL GROUP BY 1, 2)
        |SELECT dd.event_type, DATE '1970-01-01' + CAST(dd.d AS INT) AS day, cnt,
        |  ROUND(trend, 6) AS trend, ROUND(seas, 6) + 0e0 AS seasonal,
        |  ROUND(det - seas, 6) + 0e0 AS residual
        |FROM dd LEFT JOIN se ON se.event_type = dd.event_type AND se.pos = dd.pos
        |ORDER BY dd.event_type, day""".stripMargin
    },
    // EXT seasonal-ESD-style anomaly days (composition): classical
    // decomposition strips trend+weekly seasonality, then the MAD
    // robust z (cutoff 2.0 — the 120-day series is short) flags days — the "which days were REALLY odd
    // after accounting for the weekly cycle" monitor that a plain
    // value outlier scan gets wrong every weekend
    Query("seasonal_esd_anomalies")((s, dir) => {
      val dec = Events.classicalDecomposition(t(s, dir, "events"),
        "event_type", "ts", m = 7)
      Stats.madOutliers(dec.filter(col("residual").isNotNull),
          "event_type", "residual", "day", cutoff = 2.0)
        .orderBy("event_type", "day")
    }) {
      // seasonal-ESD mirror: the classical-decomposition CTEs feed the
      // mad_outliers CTEs on (event_type, day, residual)
      """WITH dc AS (SELECT event_type,
        |        CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | tr AS (SELECT event_type, d, cnt,
        |        CAST(SUM(cnt) OVER w AS BIGINT) AS ws,
        |        COUNT(*) OVER w AS wn
        |       FROM dc WINDOW w AS (PARTITION BY event_type ORDER BY d
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        | tt AS (SELECT event_type, d, cnt,
        |        CASE WHEN wn = 7 THEN CAST(ws AS DOUBLE) / 7e0 END AS trend FROM tr),
        | dd AS (SELECT event_type, d, cnt, trend,
        |        CAST(cnt AS DOUBLE) - trend AS det, d % 7 AS pos FROM tt),
        | se AS (SELECT event_type, pos,
        |        list_sum(list(det ORDER BY d)) / CAST(COUNT(*) AS DOUBLE) AS seas
        |       FROM dd WHERE det IS NOT NULL GROUP BY 1, 2),
        | v AS (SELECT dd.event_type, DATE '1970-01-01' + CAST(dd.d AS INT) AS day,
        |        ROUND(det - seas, 6) + 0e0 AS residual
        |       FROM dd LEFT JOIN se ON se.event_type = dd.event_type AND se.pos = dd.pos
        |       WHERE det IS NOT NULL AND seas IS NOT NULL),
        | r1 AS (SELECT event_type, residual,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY residual) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM v),
        | med AS (SELECT event_type, residual AS med FROM r1
        |         WHERE rn * 2 >= n AND (rn - 1) * 2 < n),
        | dv AS (SELECT v.event_type, day, residual, med,
        |        ABS(residual - med) AS dev FROM v JOIN med USING (event_type)),
        | r2 AS (SELECT event_type, dev,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |        COUNT(*) OVER (PARTITION BY event_type) AS n FROM dv),
        | mad AS (SELECT event_type, dev AS mad FROM r2
        |         WHERE rn * 2 >= n AND (rn - 1) * 2 < n),
        | z AS (SELECT dv.event_type, day, residual, med, mad.mad,
        |        (6.745e-1 * (residual - med)) / mad.mad AS mz
        |       FROM dv JOIN mad USING (event_type) WHERE mad.mad > 0)
        |SELECT event_type, day, residual, med, mad, mz FROM z
        |WHERE ABS(mz) > 2.0 ORDER BY event_type, day""".stripMargin
    },
    // EXT split-conformal prediction intervals (Vovk; Lei et al. '18):
    // md5-split calibration/test halves, per-type calibration means as
    // the point predictor, q-hat = exact ceil((n+1)(1-alpha))-th
    // smallest nonconformity (integer rank over round(6) score CELLS),
    // then finite-sample coverage measured on the held-out half
    Query("conformal_intervals")((s, dir) => {
      val arm = Stats.md5Parity(col("event_id"), "cf")
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"), col("value").cast("double").as("_y"),
          arm.as("_arm"))
      val cal = ev.filter(col("_arm") === 0L)
      val test = ev.filter(col("_arm") =!= 0L)
      val means = cal.groupBy("event_type")
        .agg((sum(col("_y").cast("decimal(15,2)")).cast("double") /
          count(lit(1)).cast("double")).as("_mu"))
      val calCells = cal.join(means, Seq("event_type"))
        .select(round(abs(col("_y") - col("_mu")), 6).as("_s"))
        .groupBy("_s").agg(count(lit(1)).as("_c"))
      val nCal = calCells.agg(sum(col("_c")).as("_n"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_s"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      // exact integer rank: r = ceil((n+1)*0.95) without float ceil
      val qhat = calCells.crossJoin(broadcast(nCal))
        .withColumn("_cum", sum(col("_c")).over(w))
        .filter(col("_cum") >= expr("((_n + 1) * 950 + 999) div 1000"))
        .agg(min(col("_s")).as("qhat"), max(col("_n")).as("n_cal"))
      val testScored = test.join(means, Seq("event_type"))
        .select(round(abs(col("_y") - col("_mu")), 6).as("_s"))
      testScored.crossJoin(broadcast(qhat))
        .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
          max(col("qhat")).as("_q"),
          sum(when(col("_s") <= col("qhat"), 1L).otherwise(0L)).as("_cov"))
        .select(col("n_cal"), col("n_test"), col("_q").as("qhat"),
          round(col("_cov").cast("double") / col("n_test").cast("double"), 6)
            .as("coverage"))
    }) {
      // conformal mirror: md5-parity split, decimal calibration means,
      // round(6) nonconformity cells, integer ceil rank pick, coverage
      """WITH ev AS (SELECT event_type, CAST(value AS DOUBLE) AS y,
        |        (instr('0123456789abcdef', substr(md5('cf:' || CAST(event_id AS VARCHAR)), 16, 1)) - 1) % 2 AS arm
        |       FROM events WHERE value IS NOT NULL),
        | mu AS (SELECT event_type,
        |        CAST(SUM(CAST(y AS DECIMAL(15,2))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu
        |       FROM ev WHERE arm = 0 GROUP BY 1),
        | cs AS (SELECT ROUND(ABS(y - mu), 6) AS s FROM ev JOIN mu USING (event_type) WHERE arm = 0),
        | cells AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM cs GROUP BY 1),
        | nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
        | cum AS (SELECT s, CAST(SUM(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM cells),
        | q AS (SELECT MIN(s) AS qhat, MAX(n) AS n_cal FROM cum, nn
        |       WHERE cum >= ((n + 1) * 950 + 999) // 1000),
        | ts2 AS (SELECT ROUND(ABS(y - mu), 6) AS s FROM ev JOIN mu USING (event_type) WHERE arm <> 0)
        |SELECT q.n_cal, CAST(COUNT(*) AS BIGINT) AS n_test, q.qhat,
        |  ROUND(CAST(SUM(CASE WHEN s <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
        |FROM ts2, q GROUP BY q.n_cal, q.qhat""".stripMargin
    },
    // EXT adaptive conformal monitoring applied to a batch frame (the
    // suite strategy for stream lambdas): per-type daily |count − ref|
    // nonconformity (ref = the cusum family's exact integer ceil-mean,
    // so every score is integer-exact), judged test-then-train against
    // the exact-rank q-hat of a 30-score sliding window while the
    // Gibbs-Candès step αₜ₊₁ = αₜ + γ(α − errₜ) widens after misses;
    // the oracle replays the same fold as an rn-chained recursive CTE
    // carrying (α, window-list) state
    Query("conformal_stream_daily")((s, dir) => {
      val sess = s
      import sess.implicits._
      val daily = t(s, dir, "events")
        .groupBy(col("event_type").as("key"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val refs = daily.groupBy(col("key"))
        .agg(sum(col("cnt")).as("_tot"), count(lit(1)).as("_nd"))
        .select(col("key"),
          floor((col("_tot") + col("_nd") - 1) / col("_nd")).cast("long").as("ref"))
      val points = daily.join(refs, Seq("key"))
        .select(col("key"),
          datediff(col("day"), to_date(lit("1970-01-01"))).cast("long").as("seq"),
          abs(col("cnt") - col("ref")).cast("double").as("score"))
        .as[graft.streaming.ConformalPoint]
      graft.streaming.StreamOps.adaptiveConformalStream(points,
          alpha = 0.2, gamma = 0.1, calWindow = 30, minCal = 5)
        .toDF()
        .select(col("key").as("event_type"), col("seq").as("d"),
          when(isnan(col("qhat")), lit(null)).otherwise(col("qhat")).as("qhat"),
          col("covered").cast("int").as("covered"),
          (round(col("alpha"), 6) + lit(0.0)).as("alpha"))
        .orderBy("event_type", "d")
    }) {
      // the stream lambda walks the identical path -> identical oracle
      // rn-chained recursive replay of the ACI fold: state = (alpha,
      // 30-deep score list); q-hat = exact ceil-rank pick from the sorted
      // window, judged BEFORE the point joins it (test-then-train)
      """WITH RECURSIVE dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | st AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot,
        |        CAST(COUNT(*) AS BIGINT) AS nd FROM dc GROUP BY 1),
        | p AS (SELECT event_type, (tot + nd - 1) // nd AS ref FROM st),
        | r AS (SELECT dc.event_type,
        |        CAST(day - DATE '1970-01-01' AS BIGINT) AS d,
        |        CAST(ABS(cnt - ref) AS DOUBLE) AS score,
        |        ROW_NUMBER() OVER (PARTITION BY dc.event_type ORDER BY day) AS rn
        |       FROM dc JOIN p USING (event_type)),
        | c AS (SELECT event_type, d, rn, score,
        |        CAST(NULL AS DOUBLE) AS qhat, 1 AS covered,
        |        CAST(0.2e0 AS DOUBLE) AS alpha, [score] AS win
        |       FROM r WHERE rn = 1
        |       UNION ALL
        |       SELECT r.event_type, r.d, r.rn, r.score,
        |        CASE WHEN len(c.win) < 5 THEN NULL
        |             WHEN CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT) > len(c.win) THEN NULL
        |             ELSE list_sort(c.win)[CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT)]
        |        END AS qhat,
        |        CASE WHEN len(c.win) >= 5
        |              AND CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT) <= len(c.win)
        |              AND r.score > list_sort(c.win)[CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT)]
        |             THEN 0 ELSE 1 END AS covered,
        |        CASE WHEN len(c.win) < 5 THEN c.alpha
        |             ELSE LEAST(0.999e0, GREATEST(1e-6, c.alpha + 0.1e0 * (0.2e0 -
        |               (CASE WHEN CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT) <= len(c.win)
        |                      AND r.score > list_sort(c.win)[CAST(CEIL((len(c.win) + 1) * (1e0 - c.alpha)) AS BIGINT)]
        |                     THEN 1e0 ELSE 0e0 END)))) END AS alpha,
        |        list_prepend(r.score, c.win)[1:30] AS win
        |       FROM c JOIN r ON r.event_type = c.event_type AND r.rn = c.rn + 1)
        |SELECT event_type, d, qhat, covered, ROUND(alpha, 6) + 0e0 AS alpha
        |FROM c ORDER BY event_type, d""".stripMargin
    },
    // EXT static t-digest (Sketches.tdigestCentroids, Dunning-Ertl
    // '19): value cells -> midpoint quantiles -> tail-concentrating
    // cubic k-scale centroid assignment (polynomial, not asin/log:
    // libm last-ulp drift at a centroid boundary would flip a bucket
    // between engines); <=64 centroids over value cents with exact
    // weights and DECIMAL means
    Query("tdigest_value")((s, dir) =>
      Sketches.tdigestCentroids(t(s, dir, "events"),
        round(coalesce(col("value"), lit(0.0)) * 100), delta = 64)) {
      // t-digest mirror: same cells, same exact midpoint rationals, the
      // SAME cubic scale polynomial in the same operation order
      """WITH c AS (SELECT CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT) AS v,
        |        CAST(COUNT(*) AS BIGINT) AS m FROM events GROUP BY 1),
        | t AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM c),
        | w AS (SELECT v, m, COALESCE(SUM(m) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM c),
        | q AS (SELECT v, m,
        |        CAST(2 * cb + m AS DOUBLE) / CAST(2 * n AS DOUBLE) AS q FROM w, t),
        | b AS (SELECT v, m, LEAST(63, CAST(FLOOR(
        |        ((q * q * q + 1e0 - (1e0 - q) * (1e0 - q) * (1e0 - q)) / 2e0)
        |          * 64e0) AS INT)) AS centroid FROM q)
        |SELECT centroid, CAST(SUM(m) AS BIGINT) AS weight,
        |  ROUND(CAST(SUM(CAST(v AS HUGEINT) * m) AS DOUBLE)
        |    / CAST(SUM(m) AS DOUBLE), 6) + 0e0 AS mean,
        |  MIN(v) AS v_min, MAX(v) AS v_max
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // EXT STREAMING binned quantiles applied to a batch frame (the
    // suite strategy for stream lambdas): per-SOURCE doc-length
    // percentiles from 256-long histogram state under the corpus'
    // frozen [min,max] grid — the incremental twin of
    // quantiles_binned_chars, same exact bin/rank/interpolation math
    Query("binned_quantiles_stream")((s, dir) => {
      val sess = s
      import sess.implicits._
      val docs = t(s, dir, "documents")
      val mm = docs.agg(min(col("n_chars").cast("long")),
        max(col("n_chars").cast("long"))).head()
      val pts = docs.select(col("source").as("key"),
          col("n_chars").cast("long").as("x"))
        .as[graft.streaming.BinnedPoint]
      graft.streaming.StreamOps.binnedQuantilesStream(pts,
          mm.getLong(0), mm.getLong(1),
          Seq(25 -> 100, 50 -> 100, 75 -> 100, 90 -> 100, 99 -> 100))
        .toDF()
        .select(col("key").as("source"), col("n"), col("q"), col("est"))
        .orderBy("source", "q")
    }) {
      // per-source replay of the streaming histogram under the GLOBAL
      // frozen grid — same exact bins, ceil ranks, interpolation
      """WITH mm AS (SELECT MIN(CAST(n_chars AS BIGINT)) AS mn,
        |        MAX(CAST(n_chars AS BIGINT)) AS mx FROM documents),
        | h0 AS (SELECT source,
        |        (CAST(n_chars AS BIGINT) - mn) * 256 // (mx - mn + 1) AS bin,
        |        CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM documents, mm GROUP BY 1, 2),
        | ns AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM h0 GROUP BY 1),
        | h AS (SELECT source, bin, cnt,
        |        CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |       FROM h0),
        | t(qn, qd) AS (VALUES (25, 100), (50, 100), (75, 100), (90, 100), (99, 100)),
        | tr AS (SELECT source, n, CAST(qn AS DOUBLE) / qd AS q,
        |        (qn * n + qd - 1) // qd AS r FROM ns, t),
        | c AS (SELECT tr.source, tr.n, tr.q, tr.r, MIN(h.bin) AS bin
        |       FROM tr JOIN h ON h.source = tr.source AND h.cum >= tr.r
        |       GROUP BY 1, 2, 3, 4)
        |SELECT c.source, c.n, c.q,
        |  CAST((SELECT mn FROM mm) AS DOUBLE) +
        |    (CAST(c.bin AS DOUBLE)
        |      + CAST(c.r - (h.cum - h.cnt) AS DOUBLE) / CAST(h.cnt AS DOUBLE)) *
        |    (CAST((SELECT mx FROM mm) - (SELECT mn FROM mm) + 1 AS DOUBLE) / 256) AS est
        |FROM c JOIN h ON h.source = c.source AND h.bin = c.bin
        |ORDER BY c.source, c.q""".stripMargin
    },
    // EXT CUPED variance reduction (Stats.cuped, Deng et al. '13):
    // per-user pre-period activity (x, event count before Jan 16)
    // adjusts the post-period spend metric (y, value cents after) —
    // θ from pooled exact DECIMAL moments, the adjusted diff via
    // linearity so no per-unit float is ever summed; md5-parity arms
    // make this an A/A calibration readout with a real ρ²
    Query("cuped_adjustment")((s, dir) => {
      val cut = lit("2024-01-16").cast("date")
      val units = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts").cast("date") < cut, 1L).otherwise(0L)).as("x"),
          sum(when(col("ts").cast("date") >= cut,
            round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
            .otherwise(0L)).as("y"))
        .withColumn("arm", Stats.md5Parity(col("user_id"), "cu"))
      Stats.cuped(units, "x", "y", "arm")
    }) {
      // CUPED mirror: same per-user roll-up, HUGEINT pooled moments,
      // the identical fixed-order double readout
      """WITH u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |                  THEN CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)
        |                  ELSE 0 END) AS BIGINT) AS y,
        |    (instr('0123456789abcdef', substr(md5('cu:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS arm
        |   FROM events GROUP BY 1),
        | a AS (SELECT
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS xc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN x ELSE 0 END) AS BIGINT) AS xt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS yc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN y ELSE 0 END) AS BIGINT) AS yt,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy FROM u),
        | r AS (SELECT n_c, n_t,
        |    CAST(n_c + n_t AS DOUBLE) AS nd,
        |    CAST(xc + xt AS DOUBLE) AS sx, CAST(yc + yt AS DOUBLE) AS sy,
        |    CAST(yt AS DOUBLE) / CAST(n_t AS DOUBLE) AS myt,
        |    CAST(yc AS DOUBLE) / CAST(n_c AS DOUBLE) AS myc,
        |    CAST(xt AS DOUBLE) / CAST(n_t AS DOUBLE) AS mxt,
        |    CAST(xc AS DOUBLE) / CAST(n_c AS DOUBLE) AS mxc,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
        |    CAST(syy AS DOUBLE) AS syyd FROM a),
        | f AS (SELECT n_c, n_t, myt, myc, mxt, mxc,
        |    nd * sxyd - sx * sy AS covn,
        |    nd * sxxd - sx * sx AS varxn,
        |    nd * syyd - sy * sy AS varyn FROM r)
        |SELECT n_c, n_t,
        |  ROUND(myt - myc, 6) + 0e0 AS diff_raw,
        |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) + 0e0 END AS theta,
        |  CASE WHEN varxn > 0
        |       THEN ROUND((myt - myc) - (covn / varxn) * (mxt - mxc), 6) + 0e0
        |  END AS diff_cuped,
        |  CASE WHEN varxn > 0 AND varyn > 0
        |       THEN ROUND(covn * covn / (varxn * varyn), 6)
        |  END AS rho2
        |FROM f""".stripMargin
    },
    // EXT streaming CUPED (StreamOps.cupedStream), repeated-measures
    // form: units are (user, post-period day) observations — y = that
    // day's spend cents, x = the user's FROZEN pre-period activity
    // (Deng et al.'s user-day-metric variant) — arriving day by day;
    // the lambda runs batch-style (the flatMapGroupsWithState suite
    // strategy) and emits one snapshot per day with the refreshed
    // theta and adjusted lift over the cumulative arms, a genuine
    // ~15-look trajectory on the synthetic month
    Query("cuped_stream_daily")((s, dir) => {
      val sess = s
      import sess.implicits._
      val cut = lit("2024-01-16").cast("date")
      val ev = t(s, dir, "events")
      val pre = ev.groupBy(col("user_id").as("_u"))
        .agg(sum(when(col("ts").cast("date") < cut, 1L).otherwise(0L)).as("x"))
      val units = ev.filter(col("ts").cast("date") >= cut)
        .groupBy(col("user_id"), col("ts").cast("date").as("_d"))
        .agg(sum(round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
          .as("y"))
        .join(pre, col("user_id") === col("_u"))
        .select(lit("all").as("key"),
          datediff(col("_d"), to_date(lit("1970-01-01"))).cast("long").as("day"),
          Stats.md5Parity(col("user_id"), "cu").as("arm"),
          col("x"), col("y"))
        .as[graft.streaming.CupedPoint]
      graft.streaming.StreamOps.cupedStream(units)
        .toDF()
        .select(col("day").as("d"), col("n_c"), col("n_t"),
          (round(col("diff_raw"), 6) + lit(0.0)).as("diff_raw"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("diff_cuped"), 6) + lit(0.0)).as("diff_cuped"))
        .orderBy("d")
    }) {
      // streaming-CUPED mirror (repeated measures): frozen per-user
      // pre-period x joined onto per-(user, day) outcomes; per-day
      // integer sums (HUGEINT cross moments), cumulative windows in day
      // order, the SAME fixed-order double readout per day — the
      // stream's moment state is additive, so plain cumulative windows
      // replay it with no recursion
      """WITH pre AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    (instr('0123456789abcdef', substr(md5('cu:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS arm
        |   FROM events GROUP BY 1),
        | ud AS (SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)) AS BIGINT) AS y
        |   FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16' GROUP BY 1, 2),
        | u AS (SELECT d, arm, x, y FROM ud JOIN pre USING (user_id)),
        | g AS (SELECT d,
        |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS xc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN x ELSE 0 END) AS BIGINT) AS xt,
        |    CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS yc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN y ELSE 0 END) AS BIGINT) AS yt,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy
        |   FROM u GROUP BY 1),
        | c AS (SELECT d,
        |    CAST(SUM(nc) OVER w AS BIGINT) AS nc, CAST(SUM(nt) OVER w AS BIGINT) AS nt,
        |    CAST(SUM(xc) OVER w AS BIGINT) AS xc, CAST(SUM(xt) OVER w AS BIGINT) AS xt,
        |    CAST(SUM(yc) OVER w AS BIGINT) AS yc, CAST(SUM(yt) OVER w AS BIGINT) AS yt,
        |    SUM(sxy) OVER w AS sxy, SUM(sxx) OVER w AS sxx, SUM(syy) OVER w AS syy
        |   FROM g WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | r AS (SELECT d, nc, nt,
        |    CAST(nc + nt AS DOUBLE) AS nd,
        |    CAST(xc + xt AS DOUBLE) AS sx, CAST(yc + yt AS DOUBLE) AS sy,
        |    CAST(yt AS DOUBLE) / CAST(nt AS DOUBLE) AS myt,
        |    CAST(yc AS DOUBLE) / CAST(nc AS DOUBLE) AS myc,
        |    CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE) AS mxt,
        |    CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE) AS mxc,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM c),
        | f AS (SELECT d, nc, nt, myt, myc, mxt, mxc,
        |    nd * sxyd - sx * sy AS covn,
        |    nd * sxxd - sx * sx AS varxn FROM r)
        |SELECT d, nc AS n_c, nt AS n_t,
        |  CASE WHEN nc > 0 AND nt > 0 THEN ROUND(myt - myc, 6) + 0e0 END AS diff_raw,
        |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) + 0e0 END AS theta,
        |  CASE WHEN nc > 0 AND nt > 0 AND varxn > 0
        |       THEN ROUND((myt - myc) - (covn / varxn) * (mxt - mxc), 6) + 0e0
        |  END AS diff_cuped
        |FROM f ORDER BY d""".stripMargin
    },
    // EXT weighted/keyed streaming CUPED for hot experiment keys
    // (StreamOps.cupedWeightedDeltas -> cupedDeltaStream): the same
    // repeated-measures units as cuped_stream_daily but FREQUENCY-
    // WEIGHTED by the unit's event count, map-side pre-reduced into
    // per-(key, day) moment deltas (a stateless narrow pass — no
    // shuffle) before the keyed state folds them; snapshots carry the
    // weighted arm masses and the weighted theta/lift
    Query("cuped_stream_weighted")((s, dir) => {
      val sess = s
      import sess.implicits._
      val cut = lit("2024-01-16").cast("date")
      val ev = t(s, dir, "events")
      val pre = ev.groupBy(col("user_id").as("_u"))
        .agg(sum(when(col("ts").cast("date") < cut, 1L).otherwise(0L)).as("x"))
      val units = ev.filter(col("ts").cast("date") >= cut)
        .groupBy(col("user_id"), col("ts").cast("date").as("_d"))
        .agg(count(lit(1)).as("w"),
          sum(round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
            .as("y"))
        .join(pre, col("user_id") === col("_u"))
        .select(lit("all").as("key"),
          datediff(col("_d"), to_date(lit("1970-01-01"))).cast("long").as("day"),
          Stats.md5Parity(col("user_id"), "cu").as("arm"),
          col("w"), col("x"), col("y"))
        .as[graft.streaming.CupedWPoint]
      graft.streaming.StreamOps.cupedDeltaStream(
          graft.streaming.StreamOps.cupedWeightedDeltas(units))
        .toDF()
        .select(col("day").as("d"), col("n_c"), col("n_t"),
          (round(col("diff_raw"), 6) + lit(0.0)).as("diff_raw"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("diff_cuped"), 6) + lit(0.0)).as("diff_cuped"))
        .orderBy("d")
    }) {
      // weighted streaming-CUPED mirror: the same replay with per-unit
      // frequency weights w (HUGEINT weighted cross moments) — means are
      // SUM(w*y)/SUM(w) per arm, theta the weighted cov/var, all in the
      // engine's fixed double order
      """WITH pre AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS x,
        |    (instr('0123456789abcdef', substr(md5('cu:' || CAST(user_id AS VARCHAR)), 16, 1)) - 1) % 2 AS arm
        |   FROM events GROUP BY 1),
        | ud AS (SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS w,
        |    CAST(SUM(CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)) AS BIGINT) AS y
        |   FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16' GROUP BY 1, 2),
        | u AS (SELECT d, arm, w, x, y FROM ud JOIN pre USING (user_id)),
        | g AS (SELECT d,
        |    CAST(SUM(CASE WHEN arm = 0 THEN w ELSE 0 END) AS BIGINT) AS wc,
        |    CAST(SUM(CASE WHEN arm <> 0 THEN w ELSE 0 END) AS BIGINT) AS wt,
        |    SUM(CASE WHEN arm = 0 THEN CAST(w AS HUGEINT) * x ELSE 0 END) AS sxc,
        |    SUM(CASE WHEN arm <> 0 THEN CAST(w AS HUGEINT) * x ELSE 0 END) AS sxt,
        |    SUM(CASE WHEN arm = 0 THEN CAST(w AS HUGEINT) * y ELSE 0 END) AS syc,
        |    SUM(CASE WHEN arm <> 0 THEN CAST(w AS HUGEINT) * y ELSE 0 END) AS syt,
        |    SUM(CAST(w AS HUGEINT) * x * y) AS sxy,
        |    SUM(CAST(w AS HUGEINT) * x * x) AS sxx,
        |    SUM(CAST(w AS HUGEINT) * y * y) AS syy
        |   FROM u GROUP BY 1),
        | c AS (SELECT d,
        |    CAST(SUM(wc) OVER w AS BIGINT) AS wc, CAST(SUM(wt) OVER w AS BIGINT) AS wt,
        |    SUM(sxc) OVER w AS sxc, SUM(sxt) OVER w AS sxt,
        |    SUM(syc) OVER w AS syc, SUM(syt) OVER w AS syt,
        |    SUM(sxy) OVER w AS sxy, SUM(sxx) OVER w AS sxx, SUM(syy) OVER w AS syy
        |   FROM g WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | r AS (SELECT d, wc, wt,
        |    CAST(wc + wt AS DOUBLE) AS nd,
        |    CAST(sxc + sxt AS DOUBLE) AS sx, CAST(syc + syt AS DOUBLE) AS sy,
        |    CAST(syt AS DOUBLE) / CAST(wt AS DOUBLE) AS myt,
        |    CAST(syc AS DOUBLE) / CAST(wc AS DOUBLE) AS myc,
        |    CAST(sxt AS DOUBLE) / CAST(wt AS DOUBLE) AS mxt,
        |    CAST(sxc AS DOUBLE) / CAST(wc AS DOUBLE) AS mxc,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd FROM c),
        | f AS (SELECT d, wc, wt, myt, myc, mxt, mxc,
        |    nd * sxyd - sx * sy AS covn,
        |    nd * sxxd - sx * sx AS varxn FROM r)
        |SELECT d, wc AS n_c, wt AS n_t,
        |  CASE WHEN wc > 0 AND wt > 0 THEN ROUND(myt - myc, 6) + 0e0 END AS diff_raw,
        |  CASE WHEN varxn > 0 THEN ROUND(covn / varxn, 6) + 0e0 END AS theta,
        |  CASE WHEN wc > 0 AND wt > 0 AND varxn > 0
        |       THEN ROUND((myt - myc) - (covn / varxn) * (mxt - mxc), 6) + 0e0
        |  END AS diff_cuped
        |FROM f ORDER BY d""".stripMargin
    },
    // EXT O'Brien-Fleming group-sequential monitor
    // (Events.groupSequentialObf): 5 equally-spaced looks over the
    // md5-parity A/A split, pooled two-proportion z per look vs the
    // OBF boundary c·sqrt(K/k) — strict early, fixed-horizon late;
    // rows stop at the first crossing (A/A: expect all 5 looks,
    // continue)
    Query("group_sequential_obf")((s, dir) =>
      Events.groupSequentialObf(t(s, dir, "events"), "event_id", "ts",
          col("value") > 100)
        .orderBy("look")) {
      // OBF mirror: the c·sqrt(K/k) boundary computed per look (the
      // operator's default bounds list holds the bit-identical doubles)
      gsRejectOracleSql("2.04e0 * sqrt(5e0 / CAST(k AS DOUBLE))")
    },
    // EXT Pocock boundary — the OTHER textbook group-sequential shape:
    // a FLAT c_5(0.05)=2.413 at every look (equal alpha spend; easier
    // early stops, a pricier final look than OBF's c·sqrt(K/k))
    Query("group_sequential_pocock")((s, dir) =>
      Events.groupSequentialObf(t(s, dir, "events"), "event_id", "ts",
          col("value") > 100, Seq.fill(5)(2.413))
        .orderBy("look")) {
      // Pocock mirror: the same grid/z replay with the flat boundary
      gsRejectOracleSql("CAST(2.413e0 AS DOUBLE)")
    },
    // EXT Lan-DeMets alpha-spending boundaries (AlphaSpending
    // .ldBoundaries, Lan & DeMets '83): the spending-function
    // generalization of the fixed OBF/Pocock shapes — per-look critical
    // values solved by the Armitage recursion driver-side (matches the
    // published K=5 α=.05 tables to 4 decimals) and embedded as frozen
    // literals on BOTH engines (the PQ-codebook discipline). Same data
    // path as group_sequential_obf; only the boundary column differs.
    Query("group_sequential_ld_obf")((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "obf")
        .orderBy("look")) {
      // Lan-DeMets mirrors: identical grid/z replay; the boundary is the
      // frozen per-look literal list (Double.toString round-trips, DuckDB
      // parses the decimal digits exactly and CASTs to the same double)
      ldOracleSql("obf")
    },
    // EXT Lan-DeMets with the Pocock-like near-linear spending
    // α·ln(1+(e−1)t) — spends earlier than OBF-like, so the two LD
    // variants can genuinely disagree on the same data
    Query("group_sequential_ld_pocock")((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "pocock")
        .orderBy("look")) {
      ldOracleSql("pocock")
    },
    // EXT Hwang-Shih-DeCani γ=−4 spending (the exponential family's
    // textbook conservative member) — a boundary BETWEEN the obf and
    // pocock shapes, same Armitage recursion and frozen-literal path
    Query("group_sequential_ld_hsd")((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "hsd")
        .orderBy("look")) {
      ldOracleSql("hsd")
    },
    // EXT non-binding beta-spending FUTILITY design (Pampallona-Tsiatis
    // shape, gsDesign test.type=4 convention): one-sided efficacy
    // bounds spend α=.025 under H0 ignoring futility; futility bounds
    // spend β=.10 under the solved drift (boundaries meet at look K);
    // both embedded as frozen literals on both engines. The A/A split
    // drifts near z≈0, below the rising futility bound by mid-trial —
    // the monitor stops a null effect early, the futility side's point.
    Query("group_sequential_futility")((s, dir) =>
      Events.groupSequentialFutility(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")) {
      futilityOracleSql
    },
    // EXT conditional power / B-values (Lan-Wittes; Proschan-
    // Hunsberger): per look, B_k = z_k*sqrt(t_k) and the probability of
    // finishing above the final efficacy bound under the current trend
    // and under H0 — the trial-trending readout next to the stopping
    // monitors. Phi on data-dependent arguments is the fixed-order
    // A&S 26.2.17 polynomial (functions/Normal.scala), mirrored
    // verbatim in the oracle; u_K is the frozen one-sided literal.
    Query("conditional_power")((s, dir) =>
      Events.conditionalPower(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")) {
      conditionalPowerOracleSql
    },
    // EXT sample-size re-estimation on conditional power (Events.ssrCP;
    // Mehta-Pocock '11 promising zone, CHW-weighted closed-form
    // inflation): per look, the trend CP classifies the trial into
    // favorable/promising/unfavorable, and inside the promising zone
    // the second-stage inflation r* restoring CP to 1-beta is emitted
    // (clamped at the n_max cap) with the re-weighted CP at r. Same
    // (look, arm) aggregate + A&S-26.2.17 Phi as conditional_power;
    // u_K and z_{1-beta} are frozen driver literals.
    Query("ssr_cp")((s, dir) =>
      Events.ssrCP(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")) {
      ssrCpOracleSql
    },
    // EXT grid quantile regression (Stats.quantileRegressionGrid,
    // Koenker-Bassett pinball loss): τ∈{0.5,0.9} trend lines of the
    // daily event-count series over a data-derived intercept×slope
    // grid — candidate losses are exact DECIMAL sums of quantized
    // pinball terms, argmin under a total (loss, j, k) order
    Query("quantile_regression_daily")((s, dir) =>
      Stats.quantileRegressionGrid(
        t(s, dir, "events")
          .groupBy(datediff(col("ts").cast("date"),
            to_date(lit("1970-01-01"))).as("d"))
          .agg(count(lit(1)).as("x")),
        "d", "x")) {
      """WITH dc AS (SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS x,
        |        CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1),
        | ext AS (SELECT CAST(MIN(x) AS BIGINT) AS xmin, CAST(MAX(x) AS BIGINT) AS xmax,
        |        CAST(MIN(y) AS BIGINT) AS ymin, CAST(MAX(y) AS BIGINT) AS ymax FROM dc),
        | jj AS (SELECT CAST(unnest(range(0, 11)) AS BIGINT) AS j),
        | kk AS (SELECT CAST(unnest(range(0, 21)) AS BIGINT) AS k),
        | tt AS (SELECT CAST(tau AS DOUBLE) AS tau FROM (VALUES (0.5), (0.9)) v(tau)),
        | g AS (SELECT tau, j, k,
        |        CAST(ymin AS DOUBLE)
        |          + CAST(ymax - ymin AS DOUBLE) * (CAST(j AS DOUBLE) / 10.0) AS a,
        |        (CAST(ymax - ymin AS DOUBLE) / CAST(xmax - xmin AS DOUBLE))
        |          * (CAST(k - 10 AS DOUBLE) / 10.0) AS b
        |       FROM ext, jj, kk, tt),
        | sc AS (SELECT tau, j, k, a, b,
        |        SUM(CAST(ROUND(GREATEST(
        |            tau * (CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE)),
        |            (tau - 1.0) * (CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))), 6)
        |          AS DECIMAL(28,6))) AS loss
        |       FROM dc, g GROUP BY 1, 2, 3, 4, 5),
        | r AS (SELECT tau, j, k, a, b, loss,
        |        ROW_NUMBER() OVER (PARTITION BY tau ORDER BY loss, j, k) AS rn FROM sc)
        |SELECT tau, ROUND(a, 6) + 0e0 AS a, ROUND(b, 6) + 0e0 AS b,
        |  ROUND(CAST(loss AS DOUBLE), 6) + 0e0 AS loss
        |FROM r WHERE rn = 1 ORDER BY tau""".stripMargin
    },
    // EXT Theil-Sen robust trend (Stats.theilSen): median pairwise
    // slope of the daily event-count series — outlier-resistant OLS
    // complement; the pair stage rides the |days|² grid behind a
    // broadcast, each slope one exact-integer division, median by
    // exact rank arithmetic under a total order
    Query("theil_sen_daily")((s, dir) =>
      Stats.theilSen(
        t(s, dir, "events")
          .groupBy(datediff(col("ts").cast("date"),
            to_date(lit("1970-01-01"))).as("d"))
          .agg(count(lit(1)).as("x")),
        "d", "x")) {
      """WITH dc AS (SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
        |        CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1),
        | p AS (SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s,
        |        a.d AS xa, b.d AS xb
        |       FROM dc a JOIN dc b ON a.d < b.d),
        | r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s, xa, xb) AS rn,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS n FROM p)
        |SELECT n AS n_pairs, ROUND(s, 6) AS sen_slope
        |FROM r WHERE rn * 2 >= n AND (rn - 1) * 2 < n""".stripMargin
    },
    // EXT dow-adjusted anomalies (Events.dowAdjustedAnomalies): a
    // doubled error day (the cusum injection) judged against ITS
    // weekday's distribution — residuals as exact n·x−S integers, MAD
    // by rank arithmetic per (type, dow) cell; the deseasonalized
    // complement of event_anomalies/mad_outliers
    Query("dow_anomalies")((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
      // a single spiked day in an n=4 weekday cell has residual
      // EXACTLY 3x the baseline days' (|n·m−S| = 3·|b−m| when the other
      // 3 days are equal) — at mult 3 the alarm is unreachable by
      // construction, so the January calendar (4-5 days per dow) runs
      // at 2.5
      val spike = ev.filter(col("event_type") === "error" &&
        col("ts").cast("date") === lit("2024-01-20").cast("date"))
      val shifted = ev.unionByName(spike).unionByName(spike)
      Events.dowAdjustedAnomalies(shifted, "event_type", "ts", madMult = 2.5)
        .orderBy("event_type", "day")
    }) {
      """WITH u AS (SELECT event_type, ts FROM events
        |   UNION ALL SELECT event_type, ts FROM events
        |   WHERE event_type = 'error' AND CAST(ts AS DATE) = DATE '2024-01-20'
        |   UNION ALL SELECT event_type, ts FROM events
        |   WHERE event_type = 'error' AND CAST(ts AS DATE) = DATE '2024-01-20'),
        | dc AS (SELECT event_type AS t, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS x FROM u GROUP BY 1, 2),
        | dw AS (SELECT *, (day - DATE '1970-01-01' + 4) % 7 AS dow FROM dc),
        | st AS (SELECT t, dow, CAST(COUNT(*) AS BIGINT) AS nd,
        |        CAST(SUM(x) AS BIGINT) AS sd FROM dw GROUP BY 1, 2),
        | r AS (SELECT dw.*, nd, nd * x - sd AS res FROM dw JOIN st USING (t, dow)),
        | rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY t, dow ORDER BY ABS(res)) AS rn,
        |        COUNT(*) OVER (PARTITION BY t, dow) AS n FROM r),
        | mad AS (SELECT t, dow, CAST(ABS(res) AS BIGINT) AS mad FROM rk
        |         WHERE rn * 2 >= n AND (rn - 1) * 2 < n)
        |SELECT t AS event_type, day, x AS cnt, nd AS n_dow,
        |  CAST(res AS BIGINT) AS resid_scaled, mad AS mad_scaled
        |FROM r JOIN mad USING (t, dow)
        |WHERE mad > 0 AND CAST(ABS(res) AS DOUBLE) > 2.5e0 * CAST(mad AS DOUBLE)
        |ORDER BY event_type, day""".stripMargin
    },
    // EXT PSI drift monitor (Stats.psi): events.value distribution,
    // first half of January (ref) vs second half (cur), fixed literal
    // bin edges shared with the oracle via PsiEdges — the scorecard
    // population-shift audit next to embedding_drift's vector monitor
    Query("psi_value_drift")((s, dir) =>
      Stats.psi(t(s, dir, "events"), col("value"),
          col("ts").cast("date") <= lit("2024-01-15").cast("date"), PsiEdges)
        .orderBy("bin")) {
      // PSI mirror: bin = branch-free CASE sum over the SAME PsiEdges
      val binSql = PsiEdges
        .map(e => s"(CASE WHEN value >= $e THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT CAST($binSql AS BIGINT) AS bin,
         |        CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15' THEN 1 ELSE 0 END AS r
         |       FROM events),
         | c AS (SELECT bin, CAST(SUM(r) AS BIGINT) AS n_ref,
         |        CAST(SUM(1 - r) AS BIGINT) AS n_cur FROM b GROUP BY 1),
         | t AS (SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
         |        CAST(SUM(n_cur) AS BIGINT) AS tc FROM c),
         | p AS (SELECT bin, n_ref, n_cur,
         |        CAST(n_ref AS DOUBLE) / tr AS pr,
         |        CAST(n_cur AS DOUBLE) / tc AS pc FROM c, t)
         |SELECT bin, n_ref, n_cur, ROUND(pr, 6) AS p_ref, ROUND(pc, 6) AS p_cur,
         |  ROUND((pc - pr) * ln((pc + 1e-6) / (pr + 1e-6)), 6) AS psi_term
         |FROM p ORDER BY bin""".stripMargin
    },
    // EXT conditional next-step entropy (Events.transitionEntropy):
    // journey predictability per source state — shares the transition
    // matrix's total-ordered lead lineage, |types|²-bounded fold
    Query("cond_entropy_transitions")((s, dir) =>
      Events.transitionEntropy(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id")
        .orderBy("from_type")) {
      // conditional-entropy mirror: the transition cell CTEs + a
      // next-type-ordered list_sum fold
      """WITH p AS (SELECT event_type AS f,
        |        LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |       FROM events),
        | c AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM p WHERE t IS NOT NULL GROUP BY 1, 2),
        | m AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS n,
        |        CAST(COUNT(*) AS BIGINT) AS k_next FROM c GROUP BY 1),
        | terms AS (SELECT f, t,
        |        -(CAST(cnt AS DOUBLE) / n) * ln(CAST(cnt AS DOUBLE) / n) AS term
        |       FROM c JOIN m USING (f))
        |SELECT f AS from_type, MAX(m.n) AS n, MAX(m.k_next) AS k_next,
        |  ROUND(list_sum(list(term ORDER BY t)), 6) AS h_next
        |FROM terms JOIN m USING (f) GROUP BY f ORDER BY from_type""".stripMargin
    },
    // EXT forecast backtest (Events.forecastEval): naive vs
    // seasonal-naive(7) MAE/MASE/sMAPE on the per-type daily counts —
    // the "is weekly seasonality worth modeling" gate for holt/HW
    Query("forecast_eval_mase")((s, dir) =>
      Events.forecastEval(t(s, dir, "events"), "event_type", "ts", season = 7)
        .orderBy("event_type")) {
      // forecast-backtest mirror: lag(1)/lag(7) over observed days,
      // exact integer |e| sums, day-ordered sMAPE fold
      """WITH dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |        CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        | l AS (SELECT event_type, day, cnt,
        |        LAG(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1,
        |        LAG(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS ps,
        |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |       FROM dc),
        | e AS (SELECT event_type, day, cnt, p1, ps FROM l WHERE rn > 7),
        | a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
        |        CAST(SUM(ABS(cnt - p1)) AS BIGINT) AS s1,
        |        CAST(SUM(ABS(cnt - ps)) AS BIGINT) AS ss,
        |        list_sum(list(2.0 * ABS(cnt - ps) / (cnt + ps) ORDER BY day)) AS sm
        |       FROM e GROUP BY 1)
        |SELECT event_type, n_eval,
        |  ROUND(CAST(s1 AS DOUBLE) / n_eval, 6) AS mae_naive,
        |  ROUND(CAST(ss AS DOUBLE) / n_eval, 6) AS mae_snaive,
        |  CASE WHEN s1 > 0 THEN ROUND(CAST(ss AS DOUBLE) / CAST(s1 AS DOUBLE), 6) END AS mase,
        |  ROUND(sm / n_eval, 6) AS smape_snaive
        |FROM a ORDER BY event_type""".stripMargin
    },
  )

  /** The CUSUM queries' events: (event_type, ts) with every error
    * event from 2024-01-20 on doubled — a level shift injected the
    * suite's dup-injection way. Mirrored by the `u` CTE of
    * [[cusumShiftOracleSql]].
    */
  private def errorShifted(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
    ev.unionByName(ev.filter(
      col("event_type") === "error" &&
        col("ts").cast("date") >= lit("2024-01-20").cast("date")))
  }

  /** The oracle of both CUSUM queries: a recursive-CTE walk of the
    * integer CUSUM path over [[errorShifted]] (rn-chained, one step per
    * day), alarms where s > h = 2*ref.
    */
  private val cusumShiftOracleSql: String =
    """WITH RECURSIVE u AS (SELECT event_type, ts FROM events
      |   UNION ALL
      |   SELECT event_type, ts FROM events
      |   WHERE event_type = 'error' AND CAST(ts AS DATE) >= DATE '2024-01-20'),
      | dc AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |        CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2),
      | st AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot,
      |        CAST(COUNT(*) AS BIGINT) AS nd FROM dc GROUP BY 1),
      | p AS (SELECT event_type, (tot + nd - 1) // nd AS ref,
      |       2 * ((tot + nd - 1) // nd) AS h FROM st),
      | r AS (SELECT dc.*, ROW_NUMBER() OVER (PARTITION BY event_type
      |        ORDER BY day) AS rn FROM dc),
      | c AS (SELECT r.event_type, r.day, r.rn,
      |        GREATEST(0, r.cnt - p.ref) AS s
      |       FROM r JOIN p USING (event_type) WHERE rn = 1
      |       UNION ALL
      |       SELECT r.event_type, r.day, r.rn,
      |        GREATEST(0, c.s + r.cnt - p.ref)
      |       FROM c JOIN r ON r.event_type = c.event_type AND r.rn = c.rn + 1
      |            JOIN p ON p.event_type = r.event_type)
      |SELECT c.event_type, c.day, c.s FROM c JOIN p USING (event_type)
      |WHERE c.s > p.h ORDER BY event_type, day""".stripMargin

  /** Literal PSI bin edges for `psi_value_drift` — ONE definition feeds
    * Stats.psi's when-chain AND the generated oracle's CASE sum, so the
    * binning can never drift between engines.
    */
  private val PsiEdges: Seq[Double] = Seq(5, 10, 20, 40, 80, 160, 320)

  /** The CTEs the six group-sequential oracles share, mirroring
    * Events' look frame and cumulative looks: the look and md5-parity
    * arm of each event (`a`), the K-row look grid (`g`), per-look arm
    * counts (`pl`) left-joined onto it (`f`), exact integer cumulative
    * windows (`cum` — the grid is K rows, so integer cumulations are
    * engine-exact) and the fixed-order pooled z per look (`zt`), whose
    * select list ends with `ztCols`. */
  private def gsCtes(ztCols: String): String =
    s"""WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
       | a AS (SELECT LEAST(CAST((CAST(ts AS DATE) - d0) // 6 AS BIGINT) + 1, 5) AS k,
       |        (instr('0123456789abcdef', substr(md5('gs:' || CAST(event_id AS VARCHAR)), 16, 1)) - 1) % 2 AS b,
       |        CASE WHEN value > 100 THEN 1 ELSE 0 END AS c
       |       FROM events, d0),
       | g AS (SELECT CAST(unnest(range(1, 6)) AS BIGINT) AS k),
       | pl AS (SELECT k,
       |        CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |        CAST(SUM(CASE WHEN b <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
       |        CAST(SUM(CASE WHEN b = 0 THEN c ELSE 0 END) AS BIGINT) AS xc,
       |        CAST(SUM(CASE WHEN b <> 0 THEN c ELSE 0 END) AS BIGINT) AS xt
       |       FROM a GROUP BY 1),
       | f AS (SELECT g.k, COALESCE(nc, 0) AS nc, COALESCE(nt, 0) AS nt,
       |        COALESCE(xc, 0) AS xc, COALESCE(xt, 0) AS xt
       |       FROM g LEFT JOIN pl USING (k)),
       | cum AS (SELECT k,
       |        CAST(SUM(nc) OVER w AS BIGINT) AS nc, CAST(SUM(nt) OVER w AS BIGINT) AS nt,
       |        CAST(SUM(xc) OVER w AS BIGINT) AS xc, CAST(SUM(xt) OVER w AS BIGINT) AS xt
       |       FROM f WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       | zt AS (SELECT k, nc, nt, xc, xt,
       |        CASE WHEN nc > 0 AND nt > 0 AND
       |          sqrt((CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
       |            * (1e0 - CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
       |            * (1e0 / CAST(nc AS DOUBLE) + 1e0 / CAST(nt AS DOUBLE))) > 0e0
       |          THEN (CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE)
       |              - CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE))
       |            / sqrt((CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
       |                * (1e0 - CAST(xc + xt AS DOUBLE) / CAST(nc + nt AS DOUBLE))
       |                * (1e0 / CAST(nc AS DOUBLE) + 1e0 / CAST(nt AS DOUBLE)))
       |        END AS z$ztCols
       |       FROM cum)""".stripMargin

  /** SQL mirror for the two-sided monitors (Events.groupSequentialObf
    * and its Lan-DeMets callers): [[gsCtes]] with the per-look `bound`
    * expression, |z| > bound rejects, rows stop at the first crossing. */
  private def gsRejectOracleSql(bound: String): String =
    gsCtes(s",\n        $bound AS bound") +
      """,
        | de AS (SELECT k, nc, nt, xc, xt, z, bound,
        |        CASE WHEN z IS NOT NULL AND ABS(z) > bound THEN 'reject'
        |             ELSE 'continue' END AS decision FROM zt),
        | fc AS (SELECT MIN(k) AS mk FROM de WHERE decision = 'reject')
        |SELECT de.k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
        |  ROUND(z, 6) + 0e0 AS z, ROUND(bound, 6) AS bound, decision
        |FROM de, fc WHERE de.k <= COALESCE(fc.mk, 5) ORDER BY look""".stripMargin

  /** The Lan-DeMets bound: a frozen CASE over the driver-computed
    * per-look literals (Double.toString round-trips, DuckDB parses the
    * decimal digits exactly and CASTs to the same double). */
  private def ldOracleSql(spending: String): String = {
    val bs = graft.operators.AlphaSpending.ldBoundaries(5, 0.05, spending)
    gsRejectOracleSql(bs.zipWithIndex
      .map { case (u, i) => s"WHEN ${i + 1} THEN CAST($u AS DOUBLE)" }
      .mkString("CASE k ", " ", " END"))
  }

  // futility mirror of ldOracleSql: the same (look, arm) aggregate and
  // stop-at-first-crossing replay, ONE-SIDED z against the frozen
  // efficacy/futility literal pair from AlphaSpending.futilityBoundaries
  private def futilityOracleSql: String = {
    val (us, ls, _) = graft.operators.AlphaSpending.futilityBoundaries(
      5, 0.025, 0.1, "obf", "hsd")
    val upCase = us.zipWithIndex
      .map { case (u, i) => s"WHEN ${i + 1} THEN CAST($u AS DOUBLE)" }
      .mkString("CASE k ", " ", " END")
    val loCase = ls.zipWithIndex
      .map { case (l, i) => s"WHEN ${i + 1} THEN CAST($l AS DOUBLE)" }
      .mkString("CASE k ", " ", " END")
    gsCtes(s",\n        $upCase AS up, $loCase AS lo") +
      """,
        | de AS (SELECT k, nc, nt, xc, xt, z, up, lo,
        |        CASE WHEN z IS NOT NULL AND z >= up THEN 'stop_efficacy'
        |             WHEN z IS NOT NULL AND z < lo THEN 'stop_futility'
        |             ELSE 'continue' END AS decision FROM zt),
        | fc AS (SELECT MIN(k) AS mk FROM de WHERE decision <> 'continue')
        |SELECT de.k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
        |  ROUND(z, 6) + 0e0 AS z, ROUND(up, 6) AS upper,
        |  ROUND(lo, 6) + 0e0 AS lower, decision
        |FROM de, fc WHERE de.k <= COALESCE(fc.mk, 5) ORDER BY look""".stripMargin
  }

  // conditional-power mirror: the same cumulative (look, arm) replay,
  // B-values and the A&S-26.2.17 Phi (Normal.cdfSql) on staged args
  private def conditionalPowerOracleSql: String = {
    val uK = graft.operators.AlphaSpending.oneSidedBoundaries(5, 0.025, "obf").last
    val phiTrend = graft.functions.Normal.cdfSql("a_trend")
    val phiNull = graft.functions.Normal.cdfSql("a_null")
    gsCtes("") +
      s""",
       | bb AS (SELECT k, nc, nt, xc, xt, z,
       |        CAST(k AS DOUBLE) / 5e0 AS tk,
       |        z * sqrt(CAST(k AS DOUBLE) / 5e0) AS b FROM zt),
       | ar AS (SELECT k, nc, nt, xc, xt, z, b,
       |        (CAST($uK AS DOUBLE) - b) / sqrt(1e0 - tk) AS a_null,
       |        (CAST($uK AS DOUBLE) - b - (b / tk) * (1e0 - tk)) / sqrt(1e0 - tk) AS a_trend
       |       FROM bb)
       |SELECT k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
       |  ROUND(z, 6) + 0e0 AS z, ROUND(b, 6) + 0e0 AS b_value,
       |  ROUND(CASE WHEN k = 5 THEN (CASE WHEN z >= CAST($uK AS DOUBLE) THEN 1e0 ELSE 0e0 END)
       |        ELSE 1e0 - $phiTrend END, 6) + 0e0 AS cp_trend,
       |  ROUND(CASE WHEN k = 5 THEN (CASE WHEN z >= CAST($uK AS DOUBLE) THEN 1e0 ELSE 0e0 END)
       |        ELSE 1e0 - $phiNull END, 6) + 0e0 AS cp_null
       |FROM ar ORDER BY look""".stripMargin
  }

  // ssrCP mirror: conditionalPowerOracleSql's replay plus the
  // Mehta-Pocock zone CASE and the CHW closed-form inflation — every
  // double op in the SAME order as Events.ssrCP (base^2 spelled
  // base*base, clamp via LEAST(GREATEST(..)), Phi = Normal.cdfSql on
  // staged args); u_K and z_{1-beta} are the same frozen literals
  private def ssrCpOracleSql: String = {
    val uK = graft.operators.AlphaSpending.oneSidedBoundaries(5, 0.025, "obf").last
    val beta = 0.1; val cpMin = 0.365; val maxTotal = 2.0
    val oneMinusBeta = 1.0 - beta
    val zPow = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
      .inverseCumulativeProbability(1.0 - beta)
    val phiTrend = graft.functions.Normal.cdfSql("a_trend")
    val phiAdj = graft.functions.Normal.cdfSql("a_adj")
    gsCtes("") +
      s""",
       | bb AS (SELECT k, nc, nt, xc, xt, z,
       |        CAST(k AS DOUBLE) / 5e0 AS tk,
       |        z * sqrt(CAST(k AS DOUBLE) / 5e0) AS b FROM zt),
       | th AS (SELECT *, b / tk AS theta,
       |        (CAST($uK AS DOUBLE) - b - (b / tk) * (1e0 - tk)) / sqrt(1e0 - tk) AS a_trend
       |       FROM bb),
       | cpt AS (SELECT k, nc, nt, xc, xt, z, tk, b, theta,
       |        1e0 - $phiTrend AS cp_t FROM th),
       | rz AS (SELECT *,
       |        (cp_t >= CAST($cpMin AS DOUBLE) AND cp_t < CAST($oneMinusBeta AS DOUBLE)
       |         AND theta > 0e0) AS promising,
       |        CASE WHEN (cp_t >= CAST($cpMin AS DOUBLE) AND cp_t < CAST($oneMinusBeta AS DOUBLE)
       |                   AND theta > 0e0)
       |             THEN LEAST(GREATEST(
       |               ((CAST($uK AS DOUBLE) - b) / (1e0 - tk) + CAST($zPow AS DOUBLE) / sqrt(1e0 - tk))
       |               * ((CAST($uK AS DOUBLE) - b) / (1e0 - tk) + CAST($zPow AS DOUBLE) / sqrt(1e0 - tk))
       |               / (theta * theta), 1e0),
       |               (CAST($maxTotal AS DOUBLE) - tk) / (1e0 - tk))
       |             ELSE 1e0 END AS r
       |       FROM cpt),
       | ad AS (SELECT *,
       |        (CAST($uK AS DOUBLE) - b) / sqrt(1e0 - tk)
       |          - theta * sqrt(r * (1e0 - tk)) AS a_adj
       |       FROM rz)
       |SELECT k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
       |  ROUND(z, 6) + 0e0 AS z, ROUND(b, 6) + 0e0 AS b_value,
       |  ROUND(CASE WHEN k = 5 THEN (CASE WHEN z >= CAST($uK AS DOUBLE) THEN 1e0 ELSE 0e0 END)
       |        ELSE cp_t END, 6) + 0e0 AS cp_trend,
       |  CASE WHEN z IS NULL THEN NULL WHEN k = 5 THEN 'final'
       |       WHEN cp_t >= CAST($oneMinusBeta AS DOUBLE) THEN 'favorable'
       |       WHEN promising THEN 'promising'
       |       ELSE 'unfavorable' END AS zone,
       |  ROUND(CASE WHEN z IS NULL THEN NULL WHEN k = 5 THEN 1e0 ELSE r END, 6) + 0e0 AS inflation,
       |  ROUND(CASE WHEN z IS NULL THEN NULL WHEN k = 5 THEN 1e0
       |        ELSE tk + r * (1e0 - tk) END, 6) + 0e0 AS t_new,
       |  ROUND(CASE WHEN k = 5 THEN (CASE WHEN z >= CAST($uK AS DOUBLE) THEN 1e0 ELSE 0e0 END)
       |        ELSE 1e0 - $phiAdj END, 6) + 0e0 AS cp_adj
       |FROM ad ORDER BY look""".stripMargin
  }

  // IPF raking mirror: the population cell/margin CTEs, then 8
  // unrolled row+column scaling sweeps — each group sum is a
  // list_sum(list(m ORDER BY ...)) so the float fold order matches the
  // engine's sorted-array aggregate exactly
  private def rakeOracleSql: String = {
    val sb = new StringBuilder
    sb.append(
      """WITH cells AS MATERIALIZED (SELECT CAST(event_type AS VARCHAR) AS i,
        |        CAST(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7 AS VARCHAR) AS j,
        |        CAST(COUNT(*) AS BIGINT) AS np,
        |        CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS ns
        |       FROM events GROUP BY 1, 2),
        | rt AS MATERIALIZED (SELECT i, CAST(SUM(np) AS BIGINT) AS rt FROM cells GROUP BY 1),
        | ct AS MATERIALIZED (SELECT j, CAST(SUM(np) AS BIGINT) AS ct FROM cells GROUP BY 1),
        | it0 AS MATERIALIZED (SELECT c.i, c.j, c.ns, rt.rt, ct.ct, CAST(c.ns AS DOUBLE) AS m
        |        FROM cells c JOIN rt USING (i) JOIN ct USING (j) WHERE c.ns > 0)""".stripMargin)
    (1 to 8).foreach { t =>
      sb.append(s""",
        | it${t}rs AS MATERIALIZED (SELECT i, list_sum(list(m ORDER BY j)) AS s FROM it${t - 1} GROUP BY 1),
        | it${t}ra AS MATERIALIZED (SELECT c.i, c.j, c.ns, c.rt, c.ct,
        |        c.m * (CASE WHEN s > 0e0 THEN CAST(c.rt AS DOUBLE) / s ELSE 1e0 END) AS m
        |        FROM it${t - 1} c JOIN it${t}rs USING (i)),
        | it${t}cs AS MATERIALIZED (SELECT j, list_sum(list(m ORDER BY i)) AS s FROM it${t}ra GROUP BY 1),
        | it$t AS MATERIALIZED (SELECT c.i, c.j, c.ns, c.rt, c.ct,
        |        c.m * (CASE WHEN s > 0e0 THEN CAST(c.ct AS DOUBLE) / s ELSE 1e0 END) AS m
        |        FROM it${t}ra c JOIN it${t}cs USING (j))""".stripMargin)
    }
    sb.append(
      """
        |SELECT i AS row_key, j AS col_key, ns AS n_sample,
        |  ROUND(m, 6) + 0e0 AS weighted_n,
        |  ROUND(m / CAST(ns AS DOUBLE), 6) + 0e0 AS weight
        |FROM it8 ORDER BY row_key, col_key""".stripMargin)
    sb.toString
  }
}
