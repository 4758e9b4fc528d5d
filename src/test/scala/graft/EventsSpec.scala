package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Events, Stats}

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int, h: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")

  test("retentionCohorts: first day cohorts, offsets, and fractions") {
    // u1 joins d1, active d1+d3; u2 joins d1 only; u3 joins d3, active d3+d4
    val ev = Seq(
      (1L, ts(1)), (1L, ts(1, 5)), (1L, ts(3)),
      (2L, ts(1)),
      (3L, ts(3)), (3L, ts(4))).toDF("user_id", "ts")
    val out = Events.retentionCohorts(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(("2024-01-01", 0)) == ((2L, 1.0)))   // cohort d1 size 2
    assert(out(("2024-01-01", 2)) == ((1L, 0.5)))   // only u1 back on d3
    assert(out(("2024-01-03", 0)) == ((1L, 1.0)))
    assert(out(("2024-01-03", 1)) == ((1L, 1.0)))
    assert(out.size == 4) // no empty cells emitted
  }

  test("funnelStages: min-chain order is enforced, every user present") {
    val ev = Seq(
      // u1 completes all three in order
      (1L, ts(1), "signup"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      // u2: click BEFORE signup does not count; no click after -> stage 1
      (2L, ts(2), "click"), (2L, ts(3), "signup"),
      // u3: purchase before click -> stops at stage 2
      (3L, ts(1), "signup"), (3L, ts(2), "purchase"), (3L, ts(3), "click"),
      // u4 never enters the funnel
      (4L, ts(1), "view")).toDF("user_id", "ts", "event_type")
    val out = Events.funnelStages(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0))
  }

  test("funnelStages: event at exactly the previous stage's timestamp is excluded (strict)") {
    val ev = Seq(
      (1L, ts(1), "signup"), (1L, ts(1), "click"), // same instant -> not after
      (2L, ts(1), "signup"), (2L, ts(1, 1), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Events.funnelStages(ev, "user_id", "ts", "event_type",
        Seq("signup", "click"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 1, 2L -> 2))
  }

  test("funnelTimes: only fully-converted users counted; quartiles over first-to-last") {
    val ev = Seq(
      (1L, ts(1), "signup"), (1L, ts(2), "purchase"),   // 1 day
      (2L, ts(1), "signup"), (2L, ts(4), "purchase"),   // 3 days
      (3L, ts(1), "signup"),                            // never converts
      (4L, ts(2), "purchase")                           // purchase w/o signup
    ).toDF("user_id", "ts", "event_type")
    val r = Events.funnelTimes(ev, "user_id", "ts", "event_type",
        Seq("signup", "purchase")).collect().head
    assert(r.getLong(0) == 2L)
    val day = 86400.0
    assert(r.getDouble(2) == 2 * day)        // median of (1d, 3d)
    assert(r.getDouble(1) == 1.5 * day && r.getDouble(3) == 2.5 * day)
  }

  test("engagementRatio: trailing window counts, stickiness bounded by 1") {
    // u1 active d1; u2 active d1 and d3
    val ev = Seq((1L, ts(1)), (2L, ts(1)), (2L, ts(3))).toDF("user_id", "ts")
    val out = Events.engagementRatio(ev, "user_id", "ts", 7)
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("2024-01-01") == ((2L, 2L, 1.0)))
    // d3: DAU = 1 (u2); WAU = 2 (both active within trailing 7 days)
    assert(out("2024-01-03") == ((1L, 2L, 0.5)))
    assert(out.size == 2) // only days with activity emitted
  }

  test("funnelStages: one exchange — chained windows share the user partitioning") {
    val ev = Seq((1L, ts(1), "signup")).toDF("user_id", "ts", "event_type")
    val plan = Events.funnelStages(ev, "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one hash exchange, plan:\n$plan")
  }

  test("maxConcurrency: sweep counts overlaps, clips day boundaries") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // three overlapping 300s holds peaking at 3 from 10:02:00
      (1L, t("2024-03-01 10:00:00")),
      (2L, t("2024-03-01 10:01:00")),
      (3L, t("2024-03-01 10:02:00")),
      // an isolated one later the same day
      (4L, t("2024-03-01 20:00:00")),
      // crosses midnight: counts on BOTH days (peak 1 on day 2 at 00:00)
      (5L, t("2024-03-02 23:58:00")),
      // back-to-back half-open: 6 ends exactly when 7 starts -> no overlap
      (6L, t("2024-03-03 09:00:00")),
      (7L, t("2024-03-03 09:05:00"))
    ).toDF("event_id", "ts")
    val out = Events.maxConcurrency(ev, "event_id", "ts", 300)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getTimestamp(2).toString))
    assert(out.toSeq == Seq(
      ("2024-03-01", 3L, "2024-03-01 10:02:00.0"),
      ("2024-03-02", 1L, "2024-03-02 23:58:00.0"),
      // day 3's peak is the midnight tail of event 5, not 6/7 (earliest
      // instant wins among equal maxima; 6 ends exactly as 7 starts, so
      // the half-open sweep never reads 2)
      ("2024-03-03", 1L, "2024-03-03 00:00:00.0")))
  }

  test("eventTransitions: per-user adjacency, totals normalize, ts ties broken by id") {
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // user 1: a -> b -> a; user 2: b -> b; user 3 has one event (no pair)
      (1L, t("2024-01-01 10:00:00"), 1L, "a"),
      (2L, t("2024-01-01 10:01:00"), 1L, "b"),
      (3L, t("2024-01-01 10:02:00"), 1L, "a"),
      // same-ts pair for user 2: order decided by event_id (4 before 5)
      (5L, t("2024-01-01 11:00:00"), 2L, "b"),
      (4L, t("2024-01-01 11:00:00"), 2L, "c"),
      (6L, t("2024-01-01 12:00:00"), 3L, "a"),
      // user 4: a -> c, splitting the from-a mass with user 1's a -> b
      (7L, t("2024-01-01 13:00:00"), 4L, "a"),
      (8L, t("2024-01-01 13:05:00"), 4L, "c")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Events.eventTransitions(ev, "user_id", "ts", "event_type", "event_id")
      .orderBy("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("a", "b", 1L, 0.5),
      ("a", "c", 1L, 0.5),
      ("b", "a", 1L, 1.0),
      // user 2: id 4 (c) precedes id 5 (b) at the SAME ts -> c->b only
      ("c", "b", 1L, 1.0)))
    // probabilities per from-state sum to 1
    val sums = out.groupBy(_._1).view.mapValues(_.map(_._4).sum)
    sums.foreach { case (f, s) => assert(math.abs(s - 1.0) < 1e-12, s"from $f sums $s") }
  }

  test("acfDaily: period-2 alternating series gives r(1) < 0 < r(2)") {
    def t(s: String) = Timestamp.valueOf(s)
    // daily counts 3,1,3,1,3,1 over six days
    val ev = (1 to 6).flatMap { d =>
      val n = if (d % 2 == 1) 3 else 1
      (0 until n).map(i => t(f"2024-05-0$d 0$i:00:00"))
    }.toDF("ts")
    val out = Events.acfDaily(ev, "ts", maxLag = 2)
      .orderBy("lag").collect().map(r => (r.getInt(0), r.getDouble(1)))
    // centered (n-scaled): c = 6x - 12 -> +6,-6,... ; den = 6*36 = 216
    // r(1) = 5*(-36)/216 = -0.833333 ; r(2) = 4*36/216 = 0.666667
    assert(out.toSeq == Seq((1, -0.833333), (2, 0.666667)))
  }

  test("kaplanMeier: hand-computed curve with censoring") {
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      // u1, u2: purchase 2h after first event -> death t=2
      (1L, t("2024-04-01 08:00:00"), "view"),
      (1L, t("2024-04-01 10:00:00"), "purchase"),
      (2L, t("2024-04-01 08:00:00"), "view"),
      (2L, t("2024-04-01 10:00:00"), "purchase"),
      // u3: never purchases; active until the global max -> censored t=4
      (3L, t("2024-04-01 08:00:00"), "view"),
      (3L, t("2024-04-01 12:00:00"), "view"),
      // u4: purchase 1h in -> death t=1
      (4L, t("2024-04-01 08:00:00"), "view"),
      (4L, t("2024-04-01 09:00:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = Events.kaplanMeier(ev, "user_id", "ts",
        col("event_type") === "purchase")
      .orderBy("t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // S(1) = 1 - 1/4 = 0.75 ; S(2) = 0.75 * (1 - 2/3) = 0.25;
    // the censored-only bucket t=4 emits no step
    assert(out.toSeq == Seq((1L, 4L, 1L, 0.75), (2L, 3L, 2L, 0.25)))
    // Nelson-Aalen on the same data: H(1) = 1/4, H(2) = 1/4 + 2/3;
    // Fleming-Harrington survival = exp(-H) — always >= the KM step
    val na = Events.nelsonAalen(ev, "user_id", "ts",
        col("event_type") === "purchase")
      .orderBy("t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val h2 = 0.25 + 2.0 / 3.0
    assert(na.toSeq == Seq(
      (1L, 4L, 1L, 0.25, q6(math.exp(-0.25))),
      (2L, 3L, 2L, q6(h2), q6(math.exp(-h2)))))
    // S_FH dominates KM at every step (the known estimator relation)
    assert(na(0)._5 >= 0.75 && na(1)._5 >= 0.25)
  }

  test("sprtDaily: hand LLR walk crosses the H1 boundary and stops emitting") {
    def t(s: String) = Timestamp.valueOf(s)
    // 4 users purchase every day at p0=0.25 vs p1=0.5:
    // inc/day = 4*ln2 = 2.7726 -> day1 continue, day2 crosses ln19,
    // day3 exists but must NOT be emitted (sequential stop)
    val ev = (1 to 3).flatMap(d => (1 to 4).map(u =>
      (u.toLong, t(f"2024-04-0$d%d 10:00:00"), "purchase")))
      .toDF("user_id", "ts", "event_type")
    val out = Events.sprtDaily(ev, "user_id", "ts",
        col("event_type") === "purchase", p0 = 0.25, p1 = 0.5)
      .orderBy("day").collect()
    assert(out.length == 2)
    assert(out.map(_.getString(4)).toSeq == Seq("continue", "accept_h1"))
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(0).getDouble(3) == q6(4 * math.log(2.0)))
    assert(out(1).getDouble(3) == q6(8 * math.log(2.0)))
    // all-miss days walk toward H0
    val ev0 = (1 to 9).flatMap(d => (1 to 4).map(u =>
      (u.toLong, t(f"2024-04-0$d%d 10:00:00"), "view")))
      .toDF("user_id", "ts", "event_type")
    val out0 = Events.sprtDaily(ev0, "user_id", "ts",
        col("event_type") === "purchase", p0 = 0.25, p1 = 0.5)
      .orderBy("day").collect()
    assert(out0.last.getString(4) == "accept_h0")
    assert(out0.length < 9) // stopped before the series ended
  }

  test("dowAdjustedAnomalies: spike flagged within its weekday cell, constant series silent") {
    // five Mondays, counts 2,2,2,2,12: residual 5x-20 = 40 vs MAD 10
    def mon(d: Int, n: Int) = (1 to n).map(_ => ("e", ts(d)))
    val ev = (mon(1, 2) ++ mon(8, 2) ++ mon(15, 2) ++ mon(22, 2) ++ mon(29, 12))
      .toDF("et", "ts")
    val out = Events.dowAdjustedAnomalies(ev, "et", "ts", madMult = 2.5)
      .collect().map(r => (r.getDate(1).toString, r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(("2024-01-29", 12L, 40L, 10L)))
    // all-equal weekday cells: MAD 0 -> nothing can flag
    val flat = (mon(1, 2) ++ mon(8, 2) ++ mon(15, 2)).toDF("et", "ts")
    assert(Events.dowAdjustedAnomalies(flat, "et", "ts").count() == 0L)
  }

  test("ewmaDaily: seeds on the first day, hand-walked smoothing") {
    // day1 x=2, day2 x=4: s1=2, s2=0.3*4+0.7*2=2.6
    val ev = Seq(("a", ts(1)), ("a", ts(1, 5)),
      ("a", ts(2)), ("a", ts(2, 1)), ("a", ts(2, 2)), ("a", ts(2, 3)))
      .toDF("et", "ts")
    val out = Events.ewmaDaily(ev, "et", "ts")
      .orderBy("day").collect()
      .map(r => (r.getDate(1).toString, r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(("2024-01-01", 2L, 2.0), ("2024-01-02", 4L, 2.6)))
    // alpha=1 tracks the raw series exactly
    val track = Events.ewmaDaily(ev, "et", "ts", alpha = 1.0, beta = 0.0)
      .orderBy("day").collect().map(r => r.getDouble(3))
    assert(track.toSeq == Seq(2.0, 4.0))
  }

  test("holtDaily: seeds (x1, 0), hand-walked level/trend/forecast, constant series has zero trend") {
    // daily counts 2, 4, 6:
    // s1=2 b1=0; s2=.3*4+.7*2=2.6 b2=.2*.6=.12; s3=.3*6+.7*2.72=3.704
    // b3=.2*1.104+.8*.12=.3168
    def day(d: Int, n: Int) = (1 to n).map(_ => ("a", ts(d)))
    val ev = (day(1, 2) ++ day(2, 4) ++ day(3, 6)).toDF("et", "ts")
    val out = Events.holtDaily(ev, "et", "ts")
      .orderBy("day").collect()
      .map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq((2L, 2.0, 0.0, 2.0), (4L, 2.6, 0.12, 2.72),
      (6L, 3.704, 0.3168, 4.0208)))
    // constant series: the level locks on and the trend stays 0
    val flat = (day(1, 3) ++ day(2, 3) ++ day(3, 3)).toDF("et", "ts")
    val f = Events.holtDaily(flat, "et", "ts").collect()
    assert(f.forall(r => r.getDouble(3) == 3.0 && r.getDouble(4) == 0.0))
  }

  test("tripleSequences: consecutive windows per user, support over total windows, short users contribute none") {
    // user 1: A B C D -> (A,B,C), (B,C,D); user 2: A B -> nothing
    val ev = Seq(
      (1L, "A", ts(1), 1L), (1L, "B", ts(2), 2L),
      (1L, "C", ts(3), 3L), (1L, "D", ts(4), 4L),
      (2L, "A", ts(1), 5L), (2L, "B", ts(2), 6L))
      .toDF("user_id", "et", "ts", "id")
    val out = Events.tripleSequences(ev, "user_id", "et", "ts", "id")
      .collect().map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(("A", "B", "C") -> (1L, 0.5), ("B", "C", "D") -> (1L, 0.5)))
    // same-ts rows fall back to the id tie-break: order is deterministic
    val tied = Seq((1L, "X", ts(1), 1L), (1L, "Y", ts(1), 2L),
      (1L, "Z", ts(1), 3L)).toDF("user_id", "et", "ts", "id")
    val t3 = Events.tripleSequences(tied, "user_id", "et", "ts", "id").collect()
    assert(t3.length == 1 && t3(0).getString(0) == "X" &&
      t3(0).getString(1) == "Y" && t3(0).getString(2) == "Z")
  }

  test("rollingCorrDaily: perfect co-movement 1, perfect anti-movement -1, flat series null") {
    // clicks 1,2,3 / errors 2,4,6 per day: r = 1 in every >=2-day window
    def mk(d: Int, clicks: Int, errors: Int) =
      (1 to clicks).map(_ => ("click", ts(d))) ++
        (1 to errors).map(_ => ("error", ts(d)))
    val up = (mk(1, 1, 2) ++ mk(2, 2, 4) ++ mk(3, 3, 6)).toDF("et", "ts")
    val r = Events.rollingCorrDaily(up, "et", "ts", "click", "error")
      .orderBy("day").collect()
    assert(r(0).isNullAt(4), "1-day window has zero variance")
    assert(r(1).getDouble(4) == 1.0 && r(2).getDouble(4) == 1.0)
    // clicks rise while errors fall: r = -1
    val down = (mk(1, 1, 3) ++ mk(2, 2, 2) ++ mk(3, 3, 1)).toDF("et", "ts")
    val rd = Events.rollingCorrDaily(down, "et", "ts", "click", "error")
      .orderBy("day").collect()
    assert(rd(2).getDouble(4) == -1.0)
    // a flat series has zero variance: corr undefined
    val flat = (mk(1, 2, 1) ++ mk(2, 2, 5) ++ mk(3, 2, 3)).toDF("et", "ts")
    assert(Events.rollingCorrDaily(flat, "et", "ts", "click", "error")
      .collect().forall(_.isNullAt(4)))
  }

  test("positionAttribution: U-shaped 40/20/40, degenerate 1- and 2-touch journeys, post-conversion touches excluded") {
    // user 1: view,click,view,signup then purchase, then a view AFTER
    // user 2: click then purchase (single touch); user 3: never converts
    val ev = Seq(
      (1L, "view", ts(1, 1), 1L), (1L, "click", ts(1, 2), 2L),
      (1L, "view", ts(1, 3), 3L), (1L, "signup", ts(1, 4), 4L),
      (1L, "purchase", ts(1, 5), 5L), (1L, "view", ts(1, 6), 6L),
      (2L, "click", ts(2, 1), 7L), (2L, "purchase", ts(2, 2), 8L),
      (3L, "view", ts(3, 1), 9L))
      .toDF("user_id", "et", "ts", "id")
    val out = Events.positionAttribution(ev, "user_id", "et", "ts", "id",
      "purchase", Seq("view", "click", "signup"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // user 1 (m=4): view .4 + view .1 | click .1 | signup .4
    // user 2 (m=1): click 1.0
    assert(out("view") == ((2L, 0.5)))
    assert(out("click") == ((2L, 1.1)))
    assert(out("signup") == ((1L, 0.4)))
    // total credit = number of converting users with >=1 touch
    assert(math.abs(out.values.map(_._2).sum - 2.0) < 1e-9)
    // 2-touch journey splits 0.5/0.5
    val two = Seq((9L, "view", ts(1, 1), 1L), (9L, "click", ts(1, 2), 2L),
      (9L, "purchase", ts(1, 3), 3L)).toDF("user_id", "et", "ts", "id")
    val o2 = Events.positionAttribution(two, "user_id", "et", "ts", "id",
      "purchase", Seq("view", "click"))
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(o2 == Map("view" -> 0.5, "click" -> 0.5))
  }

  test("fanoDaily: constant series 0, hand case 0.5") {
    val flat = Seq(("a", ts(1)), ("a", ts(2)), ("a", ts(3))).toDF("et", "ts")
    val f0 = Events.fanoDaily(flat, "et", "ts").head()
    assert(f0.getLong(1) == 3L && f0.getDouble(2) == 1.0 && f0.getDouble(3) == 0.0)
    // daily counts [1,3]: mean 2, pop var 1 -> fano 0.5
    val bursty = Seq(("b", ts(1)),
      ("b", ts(2)), ("b", ts(2, 1)), ("b", ts(2, 2))).toDF("et", "ts")
    val f1 = Events.fanoDaily(bursty, "et", "ts").head()
    assert(f1.getDouble(2) == 2.0 && f1.getDouble(3) == 0.5)
  }

  test("scd2Islands: consecutive same-value runs collapse into validity intervals") {
    // user 1: A,A,B,A -> [A 2, B 1, A 1]; interval chain closed by next start
    val ev = Seq(
      (1L, ts(1), 10L, "A"), (1L, ts(2), 11L, "A"),
      (1L, ts(3), 12L, "B"), (1L, ts(4), 13L, "A"),
      (2L, ts(5), 14L, "C")).toDF("user_id", "ts", "event_id", "et")
    val out = Events.scd2Islands(ev, "user_id", "ts", "event_id", "et")
      .orderBy("user_id", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getLong(4)))
    assert(out.length == 4)
    assert(out(0) == ((1L, "A", ts(1), Some(ts(3)), 2L)))
    assert(out(1) == ((1L, "B", ts(3), Some(ts(4)), 1L)))
    assert(out(2) == ((1L, "A", ts(4), None, 1L)))
    assert(out(3) == ((2L, "C", ts(5), None, 1L)))
    // a ts tie is broken by event_id, so regimes stay deterministic
    val tie = Seq((3L, ts(1), 2L, "B"), (3L, ts(1), 1L, "A"))
      .toDF("user_id", "ts", "event_id", "et")
    val t2 = Events.scd2Islands(tie, "user_id", "ts", "event_id", "et")
      .orderBy("valid_from", "et").collect().map(_.getString(1))
    assert(t2.toSeq == Seq("A", "B"))
  }

  test("cusumAlarms: hand-walked path, alarm after the shift, flat stream silent") {
    def t(s: String) = Timestamp.valueOf(s)
    // type g: 4,4,4,4,24,24 per day -> ref = ceil(64/6) = 11, h = 22;
    // S = 0,0,0,0,13,26 -> single alarm on day 6 (26 > 22)
    val g = (1 to 6).flatMap { d =>
      val n = if (d <= 4) 4 else 24
      (0 until n).map(i => ("g", t(f"2024-02-0$d 10:00:${i % 60}%02d")))
    }
    // type flat: constant 6/day -> ref 6, S pinned at 0, never alarms
    val flat = (1 to 6).flatMap { d =>
      (0 until 6).map(i => ("flat", t(f"2024-02-0$d 11:00:0$i")))
    }
    val ev = (g ++ flat).toDF("event_type", "ts")
    val out = Events.cusumAlarms(ev, "event_type", "ts", hMult = 2)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    assert(out.toSeq == Seq(("g", "2024-02-06", 26L)))
  }

  test("transitionEntropy: mixed successor entropy, deterministic state 0, event_id tiebreak") {
    // u1: a,b,a,b -> a->b x2, b->a x1; u2: a,c -> a->c x1
    val ev = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
      (1L, ts(3), 3L, "a"), (1L, ts(4), 4L, "b"),
      (2L, ts(1), 5L, "a"), (2L, ts(2), 6L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Events.transitionEntropy(ev, "user_id", "ts", "event_type",
        "event_id").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // H(a) = -(2/3)ln(2/3) - (1/3)ln(1/3) = 0.636514 at round(6)
    assert(out("a") == ((3L, 2L, 0.636514)))
    assert(out("b") == ((1L, 1L, 0.0)))
    assert(!out.contains("c")) // terminal state: no outgoing transitions
  }

  test("crostonDaily: init interval from observation start, gap-carried tau, hand EWMA") {
    // observation starts day1 (a non-demand event); demand on day3
    // (q=2) and day6 (q=3)
    val ev = (Seq(("view", ts(1), 10.0)) ++
      (0 until 2).map(i => ("signup", ts(3, i), 300.0)) ++
      (0 until 3).map(i => ("signup", ts(6, i), 300.0)))
      .toDF("event_type", "ts", "value")
    val out = Events.crostonDaily(ev, "ts",
        col("event_type") === "signup" && col("value") > 200.0)
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // init: tau = 3 (day3 is the 3rd observed day), z=2, p=3;
    // sba = 0.9 * forecast
    assert(out(0) == (("2024-01-03", 2L, 3L, 2.0, 3.0, 0.666667, 0.6)))
    // day6: tau=3, z = .2*3+.8*2 = 2.2, p = .2*3+.8*3 = 3.0
    assert(out(1) == (("2024-01-06", 3L, 3L, 2.2, 3.0, 0.733333, 0.66)))
  }

  test("classicalDecomposition: exact centered MA, zero seasonal/residual on a pure trend") {
    // counts 2,4,6,8,10 on days 1..5, m=3: trend = 4,6,8 inside, null
    // at the edges; a perfectly linear series has zero detrended
    // values, so every seasonal index and residual is exactly 0
    val ev = Seq(2, 4, 6, 8, 10).zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => ("x", ts(d + 1, i % 24)))
    }.toDF("event_type", "ts")
    val out = Events.classicalDecomposition(ev, "event_type", "ts", m = 3)
      .orderBy("day").collect()
      .map(r => (r.getDate(1).toString, r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(out.map(_._2).toSeq == Seq(2L, 4L, 6L, 8L, 10L))
    assert(out.map(_._3).toSeq == Seq(None, Some(4.0), Some(6.0),
      Some(8.0), None))
    assert(out.map(_._4).toSeq == Seq(None, Some(0.0), Some(0.0),
      Some(0.0), None))
  }

  test("classicalDecomposition: window position means equal the sorted-list fold, interpreted and codegen") {
    import org.apache.spark.sql.expressions.Window
    // noisy weekly series for two types over 45 days (the first and
    // last three days have no trend, so their detrended value is null)
    val rnd = new scala.util.Random(45L)
    val ev = (for (tp <- Seq("a", "b"); d <- 1 to 45;
        i <- 0 until (3 + (d % 7) * 2 + rnd.nextInt(9)))
      yield (tp, Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, i % 24, 0)
        .plusDays(d - 1)))).toDF("event_type", "ts")
    // the grouped form the window replaced: per (type, position) a
    // day-sorted list folded from 0.0, joined back on (type, position)
    val daily = ev.groupBy(col("event_type").as("_t"),
        datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))).as("_d"))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col("_t")).orderBy(col("_d")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("_trend", when(count(lit(1)).over(w) === 7,
        sum(col("_cnt")).over(w).cast("double") / lit(7.0)))
      .withColumn("_det", col("_cnt").cast("double") - col("_trend"))
      .withColumn("_pos", pmod(col("_d"), lit(7)))
    val seas = trended.filter(col("_det").isNotNull)
      .groupBy(col("_t"), col("_pos"))
      .agg(count(lit(1)).as("_pn"), collect_list(struct(col("_d"), col("_det"))).as("_l"))
      .select(col("_t"), col("_pos"),
        (aggregate(transform(sort_array(col("_l")), x => x.getField("_det")),
          lit(0.0), (acc, x) => acc + x) / col("_pn").cast("double")).as("_seas"))
    val ref = trended.join(seas, Seq("_t", "_pos"), "left")
      .select(col("_t"), col("_d"),
        (round(col("_seas"), 6) + lit(0.0)).as("s"),
        (round(col("_det") - col("_seas"), 6) + lit(0.0)).as("r"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.get(2), r.get(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    def run() = Events.classicalDecomposition(ev, "event_type", "ts", m = 7)
      .select(col("event_type"),
        datediff(col("day"), to_date(lit("1970-01-01"))), col("seasonal"), col("residual"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.get(2), r.get(3)))
      .sortBy(r => (r._1, r._2)).toSeq
    assert(ref.length == 90 && ref.count(_._4 == null) == 12)
    assert(run() == ref)
    assert(withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run()) == ref)
  }

  test("logRankTest: hand-walked risk sets, E/V accumulation, censoring") {
    def t(s: String) = Timestamp.valueOf(s)
    // u1 (odd, grp2): purchase at +1.5h; u2 (even, grp1): purchase at
    // +2.5h; u3 (odd, grp2): censored at the observation end (+2.5h)
    val ev = Seq(
      (1L, t("2024-01-01 00:00:00"), "view"),
      (1L, t("2024-01-01 01:30:00"), "purchase"),
      (2L, t("2024-01-01 00:00:00"), "view"),
      (2L, t("2024-01-01 02:30:00"), "purchase"),
      (3L, t("2024-01-01 00:00:00"), "view"))
      .toDF("user_id", "ts", "event_type")
    val r = Events.logRankTest(ev, "user_id", "ts",
      col("event_type") === "purchase", pmod(col("user_id"), lit(2)) === 0)
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 2L, 1L)))
    // t=1: e1 = 1/3, v = 2/9; t=2: e1 += 1/2, v += 1/4
    assert(r.getDouble(3) == 0.833333 && r.getDouble(4) == 0.472222)
    val e = 1.0 / 3 + 0.5; val v = 2.0 / 9 + 0.25
    assert(r.getDouble(5) == math.rint((1.0 - e) / math.sqrt(v) * 1e6) / 1e6)
  }

  test("markovRemovalAttribution: hand-solved chain, pathway pricing, untouched channel zero") {
    // u1: a -> conv; u2: a -> b -> conv; u3: b -> (no conv); u4: bare conv
    val ev = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "conv"),
      (2L, ts(1), 3L, "a"), (2L, ts(2), 4L, "b"), (2L, ts(3), 5L, "conv"),
      (3L, ts(1), 6L, "b"),
      (4L, ts(1), 7L, "conv"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = Events.markovRemovalAttribution(ev, "user_id", "event_type",
        "ts", "event_id", "conv", Seq("a", "b", "c", "d"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // base = 0.25 + 0.5*0.75 + 0.25*0.5 = 0.75;
    // remove a -> 0.375 (a is also b's feeder); remove b -> 0.5
    assert(out("a") == ((0.375, 0.375, 0.6)))
    assert(out("b") == ((0.5, 0.25, 0.4)))
    // channels never touched: removal changes nothing
    assert(out("c") == ((0.75, 0.0, 0.0)))
    assert(out("d") == ((0.75, 0.0, 0.0)))
  }

  test("logRankStratified: one stratum reproduces the pooled test; strata split changes E/V, never O") {
    def t(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, t("2024-01-01 00:00:00"), "view"),
      (1L, t("2024-01-01 01:30:00"), "purchase"),
      (2L, t("2024-01-01 00:00:00"), "view"),
      (2L, t("2024-01-01 02:30:00"), "purchase"),
      (3L, t("2024-01-01 00:00:00"), "view"),
      (4L, t("2024-01-01 00:00:00"), "view"),
      (4L, t("2024-01-01 03:30:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val grp = pmod(col("user_id"), lit(2)) === 0
    val pooled = Events.logRankTest(ev, "user_id", "ts",
      col("event_type") === "purchase", grp).collect().head
    val one = Events.logRankStratified(ev, "user_id", "ts",
      col("event_type") === "purchase", grp, lit("all")).collect().head
    assert(one.getLong(0) == 1L) // n_strata
    assert(one.toSeq.drop(1) == pooled.toSeq) // identical beyond n_strata
    // two strata: O1 is stratum-invariant, E/V change with the split
    val two = Events.logRankStratified(ev, "user_id", "ts",
      col("event_type") === "purchase", grp,
      when(col("user_id") <= 2, "a").otherwise("b")).collect().head
    assert(two.getLong(0) == 2L && two.getLong(3) == pooled.getLong(2))
  }

  test("logRankStratified: matches an independent model, a stratum without deaths counted, codegen and interpreted") {
    // 60 users in strata a/b/c by id % 3; c never purchases; ties of
    // both arms in one hour bucket; some a/b users censored
    val stratumOf = Map(0L -> "a", 1L -> "b", 2L -> "c")
    val ev = (0L until 60L).flatMap { u =>
      val start = ts(1, (u % 3).toInt)
      val buy = if (u % 3 != 2 && u % 4 != 3)
        Seq((u, ts(1 + (u % 5).toInt, ((u * 7) % 24).toInt), "purchase")) else Nil
      (u, start, "view") +: buy
    }
    val died = col("event_type") === "purchase"
    val grp = pmod(col("user_id"), lit(2)) === 0
    val st = element_at(typedLit(stratumOf), pmod(col("user_id"), lit(3)))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = {
      def us(t: Timestamp) = t.getTime * 1000L
      val mx = ev.map(e => us(e._2)).max
      val obs = ev.groupBy(_._1).toSeq.map { case (u, es) =>
        val start = es.map(e => us(e._2)).min
        val death = es.filter(_._3 == "purchase").map(e => us(e._2)).minOption
        (stratumOf(u % 3), (death.getOrElse(mx) - start) / 3600000000L,
          death.isDefined, u % 2 == 0)
      }
      var o1 = 0L
      val terms = obs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, os) =>
        var n1 = os.count(_._4).toLong
        var n2 = os.size - n1
        os.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (_, xs) =>
          val d1 = xs.count(x => x._4 && x._3); val c1 = xs.count(x => x._4 && !x._3)
          val d2 = xs.count(x => !x._4 && x._3); val c2 = xs.count(x => !x._4 && !x._3)
          val term = if (d1 + d2 == 0) None else {
            val dt = (d1 + d2).toDouble; val nt = (n1 + n2).toDouble
            val p = n1.toDouble / nt
            o1 += d1
            Some((dt * p, if (n1 + n2 > 1) dt * p * (1.0 - p) * ((nt - dt) / (nt - 1.0)) else 0.0))
          }
          n1 -= d1 + c1; n2 -= d2 + c2
          term
        }
      }
      val e = terms.foldLeft(0.0)(_ + _._1); val v = terms.foldLeft(0.0)(_ + _._2)
      Seq(3L, obs.count(_._4).toLong, obs.count(!_._4).toLong, o1, r6(e), r6(v),
        r6((o1.toDouble - e) / math.sqrt(v)))
    }
    val df = ev.toDF("user_id", "ts", "event_type")
    def run() = Events.logRankStratified(df, "user_id", "ts", died, grp, st)
      .collect().head.toSeq
    val codegen = run()
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(run())
    assert(codegen == expected)
    assert(interpreted == expected)
  }

  test("diffInDiff: hand case — treated +6, control +1, did 5; parallel trends gives 0") {
    // days 1,2 pre; days 3,4 post (cutover = day 3)
    def mk(tpe: String, day: Int, n: Int) =
      (0 until n).map(i => (tpe, ts(day, i % 24)))
    val ev = (mk("t", 1, 2) ++ mk("t", 2, 4) ++ mk("t", 3, 8) ++ mk("t", 4, 10) ++
      mk("c", 1, 1) ++ mk("c", 2, 3) ++ mk("c", 3, 2) ++ mk("c", 4, 4))
      .toDF("event_type", "ts")
    val r = Events.diffInDiff(ev, "event_type", "ts", "t", "c", "2024-01-03")
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == ((2L, 2L)))
    assert((r.getDouble(2), r.getDouble(3)) == ((3.0, 9.0)))
    assert((r.getDouble(4), r.getDouble(5)) == ((2.0, 3.0)))
    assert(r.getDouble(6) == 5.0)
    // parallel trends: both series rise by exactly +2 -> did exactly 0
    val par = (mk("t", 1, 2) ++ mk("t", 3, 4) ++ mk("c", 1, 3) ++ mk("c", 3, 5))
      .toDF("event_type", "ts")
    assert(Events.diffInDiff(par, "event_type", "ts", "t", "c", "2024-01-02")
      .collect().head.getDouble(6) == 0.0)
  }

  test("shapleyAttribution: hand-solved 4-channel game, efficiency axiom holds") {
    // u1: view+click pre-purchase (mask 3); u2: view (mask 1);
    // u3: bare purchase (mask 0); u4: click AFTER purchase (mask 0)
    val ev = Seq(
      (1L, ts(1), "view"), (1L, ts(2), "click"), (1L, ts(3), "purchase"),
      (2L, ts(1), "view"), (2L, ts(2), "purchase"),
      (3L, ts(1), "purchase"),
      (4L, ts(1), "purchase"), (4L, ts(2), "click"))
      .toDF("user_id", "ts", "event_type")
    val out = Events.shapleyAttribution(ev, "user_id", "event_type", "ts",
        "purchase", Seq("view", "click", "signup", "error"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // view carries mask1 alone (all 24 weight) + mask3 jointly (12);
    // click only the joint half; signup/error nothing
    assert(out("view") == ((36L, 1.5)))
    assert(out("click") == ((12L, 0.5)))
    assert(out("signup") == ((0L, 0.0)) && out("error") == ((0L, 0.0)))
    // efficiency: total credit = v(full) - v(empty) = 4 - 2
    assert(out.values.map(_._2).sum == 2.0)
  }

  test("holtWintersDaily: hand-walked recursion at m=2, constant series is flat") {
    // counts 4, 2, 6, 8 on days 1..4 (one event row per unit)
    val ev = Seq(4, 2, 6, 8).zipWithIndex.flatMap { case (n, d) =>
      (0 until n).map(i => ("x", ts(d + 1, i % 24)))
    }.toDF("event_type", "ts")
    val out = Events.holtWintersDaily(ev, "event_type", "ts", m = 2)
      .orderBy("day").collect()
      .map(r => (r.getDate(1).toString, r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // init: s0 = 3, c = [1, -1]; replay the same IEEE ops in Scala
    var (s, b) = (3.0, 0.0)
    var c = Seq(1.0, -1.0)
    val exp = Seq((3, 6L), (4, 8L)).map { case (d, y) =>
      val c0 = c.head
      val fit = s + b + c0
      val s2 = 0.3 * (y - c0) + 0.7 * (s + b)
      val b2 = 0.2 * (s2 - s) + 0.8 * b
      val cn = 0.1 * (y - s2) + 0.9 * c0
      c = c.tail :+ cn; s = s2; b = b2
      (f"2024-01-0$d", y, math.rint(s2 * 1e6) / 1e6,
        math.rint(b2 * 1e6) / 1e6, math.rint(cn * 1e6) / 1e6,
        math.rint(fit * 1e6) / 1e6)
    }
    assert(out.toSeq == exp)
    // constant series: zero trend/seasonal, fitted = the constant
    val flat = (1 to 6).flatMap(d => (0 until 5).map(i => ("f", ts(d, i))))
      .toDF("event_type", "ts")
    val fo = Events.holtWintersDaily(flat, "event_type", "ts", m = 2)
      .collect().map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5),
        r.getDouble(6)))
    assert(fo.forall(_ == ((5.0, 0.0, 0.0, 5.0))))
  }

  test("forecastEval: hand-computed MAE/MASE/sMAPE over lagged daily counts") {
    // daily counts 1,2,3,5 for one type; season=2 -> eval days 3,4
    val ev = (Seq.fill(1)(1) ++ Seq.fill(2)(2) ++ Seq.fill(3)(3) ++
      Seq.fill(5)(4)).zipWithIndex
      .map { case (d, i) => ("x", ts(d, i % 24)) }
      .toDF("event_type", "ts")
    val r = Events.forecastEval(ev, "event_type", "ts", season = 2)
      .collect().head
    assert(r.getString(0) == "x" && r.getLong(1) == 2L)
    // day3: |3-2|=1,|3-1|=2; day4: |5-3|=2,|5-2|=3
    assert(r.getDouble(2) == 1.5 && r.getDouble(3) == 2.5)
    assert(r.getDouble(4) == 1.666667)
    // smape = (2*2/4 + 2*3/7)/2 = 0.928571
    assert(r.getDouble(5) == 0.928571)
  }

  test("groupSequentialObf: A/A continues through all looks; an arm-aligned effect rejects at look 1 and stops") {
    // 600 events over 30 days, ids 0..599 -> looks 1..5 all populated
    val ev = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 7 == 0))
      .toDF("event_id", "ts", "conv")
    val aa = Events.groupSequentialObf(ev, "event_id", "ts", col("conv"))
      .orderBy("look").collect()
    // A/A with an arm-independent conversion: no boundary crossing
    assert(aa.length == 5 && aa.forall(_.getString(7) == "continue"))
    // the OBF shape: bound_k = 2.04*sqrt(5/k), descending to 2.04
    val bounds = aa.map(_.getDouble(6))
    assert(bounds(0) == math.round(2.04 * math.sqrt(5.0) * 1e6) / 1e6)
    assert(bounds(4) == 2.04 && bounds.sameElements(bounds.sorted.reverse))
    // cumulative counts: last look covers all 600 events
    assert(aa.last.getLong(1) + aa.last.getLong(2) == 600L)
    // conversion == the treatment arm itself -> p_t=1, p_c=0, huge z:
    // reject at the FIRST look and emit nothing after (stop contract)
    val armConv = graft.functions.TextFunctions.md5Bits64(
      concat(lit("gs:"), col("event_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val eff = Events.groupSequentialObf(ev, "event_id", "ts", armConv)
      .orderBy("look").collect()
    assert(eff.length == 1 && eff.head.getInt(0) == 1 &&
      eff.head.getString(7) == "reject")
    // Pocock: the boundary is FLAT at c_K for every look
    val poc = Events.groupSequentialObf(ev, "event_id", "ts", col("conv"),
      Seq.fill(5)(2.413)).orderBy("look").collect()
    assert(poc.length == 5 && poc.forall(_.getDouble(6) == 2.413))
  }

  test("AlphaSpending.ldBoundaries reproduces the published Lan-DeMets tables; grid-invariant") {
    import graft.operators.AlphaSpending
    // K=5, two-sided alpha=0.05 — the canonical published values
    // (Lan & DeMets '83 / the ldbounds reference implementation)
    val obf = AlphaSpending.ldBoundaries(5, 0.05, "obf")
    val obfTable = Seq(4.8769, 3.3570, 2.6803, 2.2898, 2.0310)
    obf.zip(obfTable).foreach { case (u, ref) =>
      assert(math.abs(u - ref) < 2e-3, s"obf bound $u vs table $ref") }
    val poc = AlphaSpending.ldBoundaries(5, 0.05, "pocock")
    assert(math.abs(poc(0) - 2.4380) < 2e-3)
    // near-linear spend: near-flat, strictly decreasing boundaries
    assert(poc.sliding(2).forall(p => p(0) > p(1)))
    assert(poc.last > 2.37 && poc.last < poc.head)
    // the quadrature is converged: half/double grids agree to 1e-3
    val coarse = AlphaSpending.ldBoundaries(5, 0.05, "obf", gridN = 301)
    obf.zip(coarse).foreach { case (a, b) => assert(math.abs(a - b) < 1e-3) }
    // HSD gamma=-4 sits BETWEEN the two shapes at every look: spends
    // more than OBF-like early (lower first bound), less than
    // Pocock-like (higher first bound), and all three converge late
    val hsd = AlphaSpending.ldBoundaries(5, 0.05, "hsd")
    assert(hsd(0) < obf(0) && hsd(0) > poc(0), s"hsd first ${hsd(0)}")
    assert(hsd.sliding(2).forall(p => p(0) > p(1)))
    assert(hsd.last > 1.9 && hsd.last < 2.3)
    intercept[IllegalArgumentException] {
      AlphaSpending.ldBoundaries(5, 0.05, "wang-tsiatis")
    }
  }

  test("groupSequentialLanDeMets: LD-OBF is near-unspendable early; arm-aligned effect still rejects at look 1") {
    val ev = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 7 == 0))
      .toDF("event_id", "ts", "conv")
    val aa = Events.groupSequentialLanDeMets(ev, "event_id", "ts", col("conv"))
      .orderBy("look").collect()
    assert(aa.length == 5 && aa.forall(_.getString(7) == "continue"))
    // the LD-OBF first-look bound (4.8769) is HIGHER than plain OBF's
    // 2.04*sqrt(5) = 4.5617 — spending makes the early look stricter
    assert(aa.head.getDouble(6) > 4.87 && aa.head.getDouble(6) < 4.89)
    assert(aa.last.getDouble(6) > 2.02 && aa.last.getDouble(6) < 2.04)
    // a perfectly arm-aligned effect crosses even the 4.88 wall
    val armConv = graft.functions.TextFunctions.md5Bits64(
      concat(lit("gs:"), col("event_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val eff = Events.groupSequentialLanDeMets(ev, "event_id", "ts", armConv)
      .orderBy("look").collect()
    assert(eff.length == 1 && eff.head.getString(7) == "reject")
    // pocock-like spending: near-flat boundary around 2.38-2.44
    val pk = Events.groupSequentialLanDeMets(ev, "event_id", "ts",
      col("conv"), spending = "pocock").orderBy("look").collect()
    assert(pk.length == 5 &&
      pk.forall(r => r.getDouble(6) > 2.37 && r.getDouble(6) < 2.44))
  }

  test("AlphaSpending.futilityBoundaries: efficacy matches published tables, boundaries meet, grid-invariant") {
    import graft.operators.AlphaSpending
    // one-sided alpha=0.025 OBF-like spending = the published TWO-SIDED
    // alpha=0.05 symmetric bounds (opposite-tail crossing under H0 is
    // < 1e-6 at these levels, so the published Lan-DeMets table anchors
    // the one-sided recursion too)
    val u1 = AlphaSpending.oneSidedBoundaries(5, 0.025, "obf")
    val obfTable = Seq(4.8769, 3.3570, 2.6803, 2.2898, 2.0310)
    u1.zip(obfTable).foreach { case (u, ref) =>
      assert(math.abs(u - ref) < 2e-3, s"one-sided obf bound $u vs table $ref") }
    val (us, ls, delta) =
      AlphaSpending.futilityBoundaries(5, 0.025, 0.1, "obf", "hsd")
    // NON-BINDING: efficacy side is exactly the futility-ignoring bounds
    us.zip(u1).foreach { case (a, b) => assert(a == b) }
    // structural closure: boundaries meet at the final look, futility
    // bounds rise toward it and never cross the efficacy side
    assert(ls.last == us.last)
    assert(ls.sliding(2).forall(p => p(0) < p(1)), ls.mkString(","))
    ls.zip(us).foreach { case (l, u) => assert(l <= u) }
    // the solved drift ~ fixed-design z_.025 + z_.10 = 3.2416 plus the
    // group-sequential inflation (a few percent for OBF-like spending)
    assert(delta > 3.24 && delta < 3.6, s"delta $delta")
    // independent-discretization verification: a 301-point grid solves
    // the same recursions to 2e-3 on every bound and 5e-3 on the drift
    val (usC, lsC, deltaC) =
      AlphaSpending.futilityBoundaries(5, 0.025, 0.1, "obf", "hsd", gridN = 301)
    us.zip(usC).foreach { case (a, b) => assert(math.abs(a - b) < 2e-3) }
    ls.zip(lsC).foreach { case (a, b) => assert(math.abs(a - b) < 2e-3) }
    assert(math.abs(delta - deltaC) < 5e-3)
    // an aggressive early beta spend (pocock-like) starts its futility
    // bound HIGHER at look 1 than the back-loaded hsd
    val (_, lsPoc, _) =
      AlphaSpending.futilityBoundaries(5, 0.025, 0.1, "obf", "pocock")
    assert(lsPoc(0) > ls(0), s"pocock l1 ${lsPoc(0)} !> hsd l1 ${ls(0)}")
  }

  test("groupSequentialFutility: A/A stops for futility mid-trial; arm-aligned effect stops for efficacy at look 1") {
    val ev = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 7 == 0))
      .toDF("event_id", "ts", "conv")
    val aa = Events.groupSequentialFutility(ev, "event_id", "ts", col("conv"))
      .orderBy("look").collect()
    // z ~ 0 on an A/A split sits below the rising futility bound before
    // the horizon: the path ends at the first stop_futility row
    assert(aa.length < 5, s"A/A ran ${aa.length} looks without stopping")
    assert(aa.last.getString(8) == "stop_futility")
    assert(aa.init.forall(_.getString(8) == "continue"))
    // bounds in the rows are the frozen design literals
    assert(aa.head.getDouble(6) > 4.87 && aa.head.getDouble(6) < 4.89)
    val armConv = graft.functions.TextFunctions.md5Bits64(
      concat(lit("gs:"), col("event_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val eff = Events.groupSequentialFutility(ev, "event_id", "ts", armConv)
      .orderBy("look").collect()
    assert(eff.length == 1 && eff.head.getString(8) == "stop_efficacy")
  }

  test("Normal.cdf matches commons-math to the A&S 7.5e-8 bound; conditionalPower is coherent") {
    // independent accuracy check of the engine-portable Phi: evaluate
    // the Column expression over a grid and compare against the
    // commons-math reference CDF
    val nd = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
    val grid = (-80 to 80).map(i => Tuple1(i / 10.0)).toDF("x")
    val got = grid.select(col("x"), graft.functions.Normal.cdf(col("x")).as("p"))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1))
    got.foreach { case (x, p) =>
      assert(math.abs(p - nd.cumulativeProbability(x)) < 7.5e-8,
        s"Phi($x)=$p vs ${nd.cumulativeProbability(x)}") }
    val ev = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 7 == 0))
      .toDF("event_id", "ts", "conv")
    val cp = Events.conditionalPower(ev, "event_id", "ts", col("conv"))
      .orderBy("look").collect()
    assert(cp.length == 5) // no stopping: every look reported
    cp.foreach { r =>
      val z = r.getDouble(5); val b = r.getDouble(6)
      val tk = r.getInt(0) / 5.0
      // B-value identity (round(6) both readouts)
      assert(math.abs(b - BigDecimal(z * math.sqrt(tk))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 2e-6)
      val ct = r.getDouble(7); val cn = r.getDouble(8)
      assert(ct >= 0.0 && ct <= 1.0 && cn >= 0.0 && cn <= 1.0)
      // under a positive trend finishing is MORE likely than under H0
      if (r.getInt(0) < 5 && z > 0) assert(ct >= cn, s"look ${r.getInt(0)}: $ct < $cn")
      if (r.getInt(0) < 5 && z < 0) assert(ct <= cn)
    }
    // final look collapses to the decision indicator
    val last = cp.last
    assert(last.getDouble(7) == 0.0 || last.getDouble(7) == 1.0)
    assert(last.getDouble(7) == last.getDouble(8))
    // an arm-aligned effect trends to certainty before the horizon
    val armConv = graft.functions.TextFunctions.md5Bits64(
      concat(lit("gs:"), col("event_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val hot = Events.conditionalPower(ev, "event_id", "ts", armConv)
      .orderBy("look").collect()
    assert(hot.head.getDouble(7) > 0.999, s"trend CP ${hot.head.getDouble(7)}")
  }

  test("msprtDaily: matches an independent sequential model; p is monotone and always-valid-shaped") {
    // independent model: cumulative integer counts, the closed-form
    // mixture LR recomputed with plain scala math, running min p
    val tau = 0.05; val t2 = tau * tau
    def armOf(s: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (d(7) & 1) == 1 // bit 0 of md5Bits64 = LSB of digest byte 7
    }
    def model(evs: Seq[(Long, Timestamp, Boolean)]) = {
      val byDay = evs.groupBy(_._2.toLocalDateTime.toLocalDate.toString)
        .toSeq.sortBy(_._1)
      var (nc, nt, xc, xt) = (0L, 0L, 0L, 0L); var pmin = 1.0
      byDay.map { case (d, es) =>
        es.foreach { case (u, _, c) =>
          val armT = armOf("ab:" + u)
          if (armT) { nt += 1; if (c) xt += 1 } else { nc += 1; if (c) xc += 1 }
        }
        val delta = xt.toDouble / nt - xc.toDouble / nc
        val pp = (xc + xt).toDouble / (nc + nt)
        val v = pp * (1.0 - pp) * (1.0 / nc + 1.0 / nt)
        val lam = math.sqrt(v / (v + t2)) *
          math.exp(delta * delta * t2 / (2.0 * v * (v + t2)))
        if (v > 0) pmin = math.min(pmin, math.min(1.0, 1.0 / lam))
        (d, nc, nt, xc, xt, if (v > 0) Some(lam) else None, pmin)
      }
    }
    // A/A-ish fixture: conversion independent of the arm
    val evs = (0 until 400).map(i =>
      (i.toLong % 37, ts(1 + i / 40, i % 24), i % 5 == 0))
    val df = evs.toDF("user_id", "ts", "conv")
    val got = Events.msprtDaily(df, "user_id", "ts", col("conv"))
      .orderBy("day").collect()
    val exp = model(evs)
    assert(got.length == exp.length)
    var prevP = 1.0
    got.zip(exp).foreach { case (r, e) =>
      assert(r.getDate(0).toString == e._1)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
        ((e._2, e._3, e._4, e._5)), s"day ${e._1} counts")
      e._6.foreach(l => assert(math.abs(r.getDouble(5) - l) < 1e-6,
        s"day ${e._1}: lambda ${r.getDouble(5)} vs $l"))
      assert(math.abs(r.getDouble(6) - e._7) < 1e-6, s"day ${e._1} p")
      assert(r.getDouble(6) <= prevP + 1e-9, "p must be nonincreasing")
      prevP = r.getDouble(6)
    }
    // a real arm-aligned effect drives the always-valid p to rejection
    val armConv = graft.functions.TextFunctions.md5Bits64(
      concat(lit("ab:"), col("user_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val hot = Events.msprtDaily(df, "user_id", "ts", armConv)
      .orderBy("day").collect()
    assert(hot.last.getDouble(6) < 0.05 && hot.last.getString(7) == "reject",
      s"perfect effect never rejected: p=${hot.last.getDouble(6)}")
  }

  test("msprtValueDaily: matches an independent model on exact cents moments; effect rejects") {
    val tau = 100.0; val t2 = tau * tau
    def armOf(s: String): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      (d(7) & 1) == 1
    }
    val evs = (0 until 400).map { i =>
      val u = i.toLong % 37
      // arm-aligned revenue lift on top of a deterministic base
      val lift = if (armOf("ab:" + u)) 40.0 else 0.0
      (u, ts(1 + i / 40, i % 24), (i % 23).toDouble * 3.25 + lift)
    }
    val df = evs.toDF("user_id", "ts", "value")
    val got = Events.msprtValueDaily(df, "user_id", "ts", col("value"))
      .orderBy("day").collect()
    // independent model on exact integer cents
    var (nc, nt, sc, st) = (0L, 0L, 0L, 0L)
    var (qc, qt) = (BigInt(0), BigInt(0)); var pmin = 1.0
    val byDay = evs.groupBy(_._2.toLocalDateTime.toLocalDate.toString)
      .toSeq.sortBy(_._1)
    val exp = byDay.map { case (d, es) =>
      es.foreach { case (u, _, value) =>
        val v = math.round(value * 100)
        if (armOf("ab:" + u)) { nt += 1; st += v; qt += BigInt(v) * BigInt(v) }
        else { nc += 1; sc += v; qc += BigInt(v) * BigInt(v) }
      }
      val (ncD, ntD) = (nc.toDouble, nt.toDouble)
      val (scD, stD) = (sc.toDouble, st.toDouble)
      val mc = scD / ncD; val mt = stD / ntD
      val delta = mt - mc
      val ssc = qc.toDouble - scD * scD / ncD
      val sst = qt.toDouble - stD * stD / ntD
      val v = ((ssc + sst) / (ncD + ntD - 2.0)) * (1.0 / ncD + 1.0 / ntD)
      val lam = math.sqrt(v / (v + t2)) *
        math.exp(delta * delta * t2 / (2.0 * v * (v + t2)))
      val valid = nc > 1 && nt > 1 && v > 0
      if (valid) pmin = math.min(pmin, math.min(1.0, 1.0 / lam))
      (d, nc, nt, mc, mt, if (valid) Some(lam) else None, pmin)
    }
    assert(got.length == exp.length)
    got.zip(exp).foreach { case (r, e) =>
      assert(r.getDate(0).toString == e._1)
      assert(r.getLong(1) == e._2 && r.getLong(2) == e._3)
      assert(math.abs(r.getDouble(3) - e._4) < 1e-6 &&
        math.abs(r.getDouble(4) - e._5) < 1e-6)
      // the emitted lambda is round(6): small lambdas carry up to
      // 5e-7 absolute truncation; late-day lambdas reach e^30+ where
      // only a relative epsilon makes sense
      e._6.foreach(l => assert(
        math.abs(r.getDouble(5) - l) < 5.1e-7 ||
          math.abs(r.getDouble(5) - l) / math.abs(l) < 1e-9,
        s"day ${e._1}: lambda ${r.getDouble(5)} vs $l"))
      assert(math.abs(r.getDouble(6) - e._7) < 1e-6)
    }
    // the $40 arm lift must reject by the horizon
    assert(got.last.getString(7) == "reject",
      s"lift never rejected: p=${got.last.getDouble(6)}")
  }

  test("ssrCP: zones and CHW closed-form inflation match an independent bisection solve") {
    // Anchor: Mehta-Pocock '11 promising zone with the CHW-weighted
    // conditional power CP(r) = 1 - Phi((u_K - B)/sqrt(1-t) -
    // theta*sqrt(r(1-t))). The operator emits the CLOSED-FORM r*;
    // here r* is re-derived INDEPENDENTLY by bisection on CP(r) = 1-beta
    // with the commons-math Phi (a different formula path and a
    // different CDF implementation), per emitted look.
    val nd = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
    val uK = graft.operators.AlphaSpending.oneSidedBoundaries(5, 0.025, "obf").last
    val beta = 0.1; val cpMin = 0.365; val maxTotal = 2.0
    def cpAt(bv: Double, t: Double, r: Double): Double =
      1.0 - nd.cumulativeProbability(
        (uK - bv) / math.sqrt(1.0 - t) - (bv / t) * math.sqrt(r * (1.0 - t)))
    // a mild arm-aligned effect: treatment converts ~2x control so the
    // early looks sit between the zones rather than at certainty
    val arm1 = graft.functions.TextFunctions.md5Bits64(
      concat(lit("gs:"), col("event_id").cast("string")))
      .bitwiseAND(lit(1L)) === 1L
    val ev = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 9))
      .toDF("event_id", "ts", "m")
    val conv = (arm1 && col("m") < 2) || (!arm1 && col("m") === 0)
    val rows = Events.ssrCP(ev, "event_id", "ts", conv).orderBy("look").collect()
    assert(rows.length == 5)
    var promisingSeen = 0
    rows.foreach { r =>
      val k = r.getInt(0); val t = k / 5.0
      val z = r.getDouble(5); val b = r.getDouble(6)
      val zone = r.getString(8); val infl = r.getDouble(9)
      val tNew = r.getDouble(10); val cpAdj = r.getDouble(11)
      if (k == 5) {
        assert(zone == "final" && infl == 1.0 && tNew == 1.0)
        assert(cpAdj == (if (z >= uK) 1.0 else 0.0))
      } else {
        // independent zone classification from the emitted B-value
        val cpT = cpAt(b, t, 1.0)
        val expZone =
          if (cpT >= 1 - beta) "favorable"
          else if (cpT >= cpMin && b > 0) "promising" else "unfavorable"
        assert(zone == expZone, s"look $k: zone $zone vs $expZone (cp $cpT)")
        assert(math.abs(r.getDouble(7) - cpT) < 2e-6, s"look $k cp_trend")
        if (zone == "promising") {
          promisingSeen += 1
          val rCap = (maxTotal - t) / (1.0 - t)
          // independent bisection for CP(r) = 1 - beta
          var lo = 1e-9; var hi = 1e6
          (0 until 200).foreach { _ =>
            val mid = (lo + hi) / 2
            if (cpAt(b, t, mid) < 1 - beta) lo = mid else hi = mid
          }
          val rSolved = math.min(math.max((lo + hi) / 2, 1.0), rCap)
          assert(math.abs(infl - rSolved) < 1e-4,
            s"look $k: inflation $infl vs bisection $rSolved")
          assert(math.abs(tNew - (t + infl * (1.0 - t))) < 2e-6)
          // restored power, unless the cap bound it
          if (infl < rCap - 1e-9)
            assert(math.abs(cpAdj - (1 - beta)) < 2e-6,
              s"look $k: cp_adj $cpAdj not restored to ${1 - beta}")
          else assert(cpAdj < 1 - beta + 1e-9)
        } else {
          // outside the promising zone the design is untouched and the
          // CHW statistic at r=1 is the ordinary one: cp_adj == cp_trend
          assert(infl == 1.0 && math.abs(tNew - 1.0) < 2e-6)
          assert(math.abs(cpAdj - r.getDouble(7)) < 2e-6)
        }
      }
    }
    assert(promisingSeen >= 1,
      s"fixture never hit the promising zone: ${rows.map(_.getString(8)).mkString(",")}")
    // the n_max cap binds when maxTotal barely exceeds t_k
    val capped = Events.ssrCP(ev, "event_id", "ts", conv, maxTotal = 1.1)
      .orderBy("look").collect()
    capped.filter(r => r.getString(8) == "promising").foreach { r =>
      val t = r.getInt(0) / 5.0
      assert(r.getDouble(9) <= (1.1 - t) / (1.0 - t) + 1e-9)
    }
  }

  test("A/B monitors and survival operators: codegen and interpreted evaluation agree row for row") {
    def t(s: String) = Timestamp.valueOf(s)
    // the look monitors' 600-event fixture, with ssrCP's mild
    // arm-aligned effect on the same ids
    val looks = (0 until 600)
      .map(i => (i.toLong, ts(1 + i / 20, i % 24), i % 7 == 0, i % 9))
      .toDF("event_id", "ts", "conv", "m")
    val arm1 = Stats.md5Parity(col("event_id"), "gs") === 1L
    val ssrConv = (arm1 && col("m") < 2) || (!arm1 && col("m") === 0)
    // the mSPRT fixtures: 37 users over 10 days, a $40 treatment lift
    val daily = (0 until 400)
      .map(i => (i.toLong % 37, ts(1 + i / 40, i % 24), i % 5 == 0,
        (i % 23).toDouble * 3.25))
      .toDF("user_id", "ts", "conv", "base")
      .withColumn("value", col("base") +
        when(Stats.md5Parity(col("user_id"), "ab") === 1L, 40.0).otherwise(0.0))
    // the stratified log-rank fixture: deaths in both groups, a censoring
    val surv = Seq(
      (1L, t("2024-01-01 00:00:00"), "view"),
      (1L, t("2024-01-01 01:30:00"), "purchase"),
      (2L, t("2024-01-01 00:00:00"), "view"),
      (2L, t("2024-01-01 02:30:00"), "purchase"),
      (3L, t("2024-01-01 00:00:00"), "view"),
      (4L, t("2024-01-01 00:00:00"), "view"),
      (4L, t("2024-01-01 03:30:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val died = col("event_type") === "purchase"
    val grp = pmod(col("user_id"), lit(2)) === 0
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "msprtDaily" -> (() => Events.msprtDaily(daily, "user_id", "ts", col("conv"))),
      "msprtValueDaily" -> (() => Events.msprtValueDaily(daily, "user_id", "ts", col("value"))),
      "groupSequentialObf" -> (() => Events.groupSequentialObf(looks, "event_id", "ts", col("conv"))),
      "groupSequentialObf(arm)" -> (() => Events.groupSequentialObf(looks, "event_id", "ts", arm1)),
      "groupSequentialLanDeMets" -> (() => Events.groupSequentialLanDeMets(looks, "event_id", "ts",
        col("conv"), spending = "pocock")),
      "groupSequentialFutility" -> (() => Events.groupSequentialFutility(looks, "event_id", "ts", col("conv"))),
      "conditionalPower" -> (() => Events.conditionalPower(looks, "event_id", "ts", col("conv"))),
      "ssrCP" -> (() => Events.ssrCP(looks, "event_id", "ts", ssrConv)),
      "kaplanMeier" -> (() => Events.kaplanMeier(surv, "user_id", "ts", died)),
      "nelsonAalen" -> (() => Events.nelsonAalen(surv, "user_id", "ts", died)),
      "logRankTest" -> (() => Events.logRankTest(surv, "user_id", "ts", died, grp)),
      "logRankStratified" -> (() => Events.logRankStratified(surv, "user_id", "ts", died, grp,
        when(col("user_id") <= 2, "a").otherwise("b"))),
      "abTestProportions" -> (() => Stats.abTestProportions(looks, "event_id", col("conv"))))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    runs.foreach { case (name, run) =>
      val codegen = rows(run())
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(rows(run()))
      assert(codegen.nonEmpty, name)
      // exact equality of the doubles, not a tolerance
      assert(interpreted == codegen, name)
    }
  }
}
