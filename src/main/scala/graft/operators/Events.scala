package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral event analytics (EXT per SURVEY north star; no reference
  * analog — the reference's users run these as hand-rolled pandas
  * groupbys): cohort retention matrices and ordered conversion funnels
  * over an event stream, the two queries every product/abuse/quality
  * dashboard on top of an events table starts with.
  */
object Events {

  /** Cohort retention matrix: users are cohorted by their FIRST active
    * day; each (cohort_day, day_offset) cell counts the cohort members
    * active `day_offset` days after joining, with the retained fraction.
    * Output: (cohort_day, day_offset, n_active, retention), one row per
    * observed (cohort, offset) cell — offset 0 is the cohort size row
    * (retention 1.0).
    *
    * Scale shape (100 TB): the (user, day) activity set is deduped in
    * one shuffle; first-day and the activity join both hash on the user
    * key, so the exchange is reused; cohort sizes are at most
    * |distinct days| rows and AQE-broadcast back onto the cell
    * aggregate. No window over the whole stream, no self-join.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val activity = events
      .select(col(userCol).as("_u"), col(tsCol).cast("date").as("_day"))
      .distinct()
    val firstDay = activity.groupBy(col("_u")).agg(min(col("_day")).as("_cohort"))
    val sizes = firstDay.groupBy(col("_cohort"))
      .agg(count(lit(1)).as("_size"))
    activity.join(firstDay, Seq("_u"))
      .select(col("_cohort"), datediff(col("_day"), col("_cohort")).as("_off"),
        col("_u"))
      .groupBy(col("_cohort"), col("_off"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("_cohort"))
      .select(col("_cohort").as("cohort_day"), col("_off").as("day_offset"),
        col("n_active"),
        round(col("n_active").cast("double") / col("_size"), 6).as("retention"))
  }

  /** Ordered conversion funnel: per user, the furthest stage reached
    * walking `stages` in order — stage i counts only from an event of
    * that type STRICTLY after the user's earliest completion of stage
    * i-1 (the min-chain semantics: t_1 = earliest stage-1 event,
    * t_i = earliest stage-i event with ts > t_{i-1}). Output:
    * (userCol, stage) for every user in the stream, stage 0 = never
    * entered the funnel.
    *
    * Scale shape (100 TB): ONE hash exchange on the user key — each
    * stage is a conditional-min window over the same user partitioning
    * (Spark chains the N window operators on one sort/exchange), and
    * the final per-user roll-up groups on the same key again. The
    * N-way join-chain formulation this replaces shuffles N times.
    */
  /** The min-chain stage timestamps (shared by [[funnelStages]] and
    * [[funnelTimes]]): every event row of a user carries `_t0.._tN` —
    * the earliest qualifying timestamp per stage, each computed as a
    * conditional-min window over the SAME user partitioning (one
    * exchange for the whole chain).
    */
  private def stageMins(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel: need at least one stage")
    require(stages.distinct.size == stages.size,
      "funnel: stage types must be distinct")
    val w = Window.partitionBy(col("_u"))
    val base = events.select(col(userCol).as("_u"), col(tsCol).as("_ts"),
      col(typeCol).as("_et"))
    stages.zipWithIndex.foldLeft(base) { case (df, (st, i)) =>
      val cond =
        if (i == 0) col("_et") === st
        else col("_et") === st && col(s"_t${i - 1}").isNotNull &&
          col("_ts") > col(s"_t${i - 1}")
      df.withColumn(s"_t$i", min(when(cond, col("_ts"))).over(w))
    }
  }

  def funnelStages(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    val withMins = stageMins(events, userCol, tsCol, typeCol, stages)
    // ascending fold so the LAST wrap (deepest stage) is checked first:
    // when(t_{N-1} set, N) otherwise when(t_{N-2} set, N-1) ... else 0
    val stage = stages.indices.foldLeft(lit(0): Column) { (acc, i) =>
      when(col(s"_t$i").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withMins
      .select(col("_u"), stage.as("_stage"))
      .groupBy(col("_u"))
      .agg(max(col("_stage")).as("stage"))
      .select(col("_u").as(userCol), col("stage"))
  }

  /** Time-to-convert summary over the full funnel: exact interpolated
    * quartiles (seconds) of `t_last - t_first` across users who
    * completed EVERY stage, plus the converted-user count. One row.
    * NTZ-safe: micros are extracted after casting non-UTC-adjusted
    * timestamps through the UTC session zone (the sessionize
    * discipline). The duration aggregate runs over one row per
    * converted user — the same single user-key exchange as
    * [[funnelStages]] feeds it.
    */
  def funnelTimes(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "funnelTimes: need at least two stages")
    val withMins = stageMins(events, userCol, tsCol, typeCol, stages)
    val last = s"_t${stages.size - 1}"
    val perUser = withMins
      .filter(col(last).isNotNull)
      .groupBy(col("_u"))
      .agg((min(unix_micros(col(last).cast("timestamp"))) -
        min(unix_micros(col("_t0").cast("timestamp")))).as("_dur_us"))
    perUser.agg(
      count(lit(1)).as("n_converted"),
      round(percentile(col("_dur_us"), lit(0.25)) / 1e6, 6).as("q1_s"),
      round(percentile(col("_dur_us"), lit(0.5)) / 1e6, 6).as("median_s"),
      round(percentile(col("_dur_us"), lit(0.75)) / 1e6, 6).as("q3_s"))
  }

  /** Daily engagement ratio: per calendar day, DAU (distinct active
    * users), trailing-`windowDays` WAU, and the DAU/WAU "stickiness"
    * fraction. Output: (day, dau, wau, stickiness), one row per day
    * with activity.
    *
    * Scale shape (100 TB): the (user, day) dedup is one shuffle; WAU
    * avoids any distinct-over-sliding-window by exploding each activity
    * day to the `windowDays` days it contributes to (a bounded x7
    * factor on the already-deduped frame) and deduping once more —
    * both aggregates then group on the day key.
    */
  def engagementRatio(events: DataFrame, userCol: String, tsCol: String,
      windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"engagementRatio: need windowDays>=1, got $windowDays")
    val act = events
      .select(col(userCol).as("_u"), col(tsCol).cast("date").as("_day"))
      .distinct()
    val dau = act.groupBy(col("_day").as("day")).agg(count(lit(1)).as("dau"))
    val wau = act
      .select(col("_u"),
        explode(sequence(col("_day"), date_add(col("_day"), windowDays - 1)))
          .as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  /** Peak concurrency per day: each event holds a resource for
    * `durSeconds`, and the classic +1/-1 sweep (sorted deltas, running
    * sum) finds each day's maximum simultaneous holders and the earliest
    * instant it is reached. Intervals are CLIPPED to day boundaries and
    * exploded over the (at most two, for sub-day durations) days they
    * touch, so the sweep window partitions by day — bounded partitions
    * at any scale, never one global ordered window. Half-open interval
    * semantics: at equal timestamps the -1 applies before the +1
    * (delta-ascending tie), with the event id as the final total
    * tie-break; all arithmetic is integer epoch-micros.
    *
    * Output: (day, max_concurrency, peak_ts).
    */
  def maxConcurrency(events: DataFrame, idCol: String, tsCol: String,
      durSeconds: Int): DataFrame = {
    require(durSeconds >= 1, s"maxConcurrency: need durSeconds>=1, got $durSeconds")
    val durUs = durSeconds * 1000000L
    val dayUs = 86400L * 1000000L
    val s = events.select(col(idCol).as("_id"),
      unix_micros(col(tsCol).cast("timestamp")).as("_s"),
      (unix_micros(col(tsCol).cast("timestamp")) + durUs).as("_e"))
    // covered days (inclusive of a day touched only by the tail)
    val deltas = s
      .select(col("_id"), col("_s"), col("_e"),
        explode(sequence(col("_s") - pmod(col("_s"), lit(dayUs)),
          col("_e") - 1L - pmod(col("_e") - 1L, lit(dayUs)), lit(dayUs)))
          .as("_d0"))
      .select(col("_id"), col("_d0"),
        greatest(col("_s"), col("_d0")).as("_cs"),
        least(col("_e"), col("_d0") + dayUs).as("_ce"))
      .select(col("_id"), col("_d0"),
        explode(array(
          struct(col("_cs").as("t"), lit(1).as("delta")),
          struct(col("_ce").as("t"), lit(-1).as("delta")))).as("x"))
      .select(col("_id"), col("_d0"), col("x.t").as("t"), col("x.delta").as("delta"))
      // a clip that lands exactly on the day end contributes nothing
      .filter(col("t") < col("_d0") + dayUs)
    val w = Window.partitionBy("_d0")
      .orderBy(col("t"), col("delta"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val run = deltas.withColumn("run", sum(col("delta")).over(w))
      .withColumn("mc", max(col("run")).over(Window.partitionBy("_d0")))
    run.filter(col("run") === col("mc"))
      .groupBy(col("_d0"))
      .agg(first(col("mc")).as("max_concurrency"), min(col("t")).as("_pt"))
      .select(timestamp_micros(col("_d0")).cast("date").as("day"),
        col("max_concurrency"),
        timestamp_micros(col("_pt")).as("peak_ts"))
      .orderBy("day")
  }

  /** Autocorrelation of the daily event-count series at lags 1..maxLag
    * — the seasonality screen. INTEGER-EXACT via the n-scaled form:
    * with S = Σx and day count n, r_k = Σ(n·x_t − S)(n·x_{t+k} − S) /
    * Σ(n·x_t − S)² — every product and sum is an exact BIGINT (the
    * rational mean never materializes as a float), and the single
    * final division is engine-portable. Denominator over the FULL
    * series (the standard ACF normalization); output
    * (lag, r round(6)).
    *
    * Scale shape (100 TB): one (day) roll-up of the stream, then
    * everything — the lag self-join included — runs over the
    * |days|-bounded aggregate.
    */
  def acfDaily(events: DataFrame, tsCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"acfDaily: need maxLag>=1, got $maxLag")
    val daily = events
      .groupBy(col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_x"))
    val tot = daily.agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
    val centered = daily.crossJoin(broadcast(tot))
      .select(datediff(col("_day"), lit("1970-01-01").cast("date")).as("_d"),
        (col("_n") * col("_x") - col("_s")).as("_c"))
    // centered products reach (|days|·total)² — DECIMAL keeps them
    // exact past BIGINT's ~1e8 daily-total bound (the spearman class)
    val den = centered.agg(sum(col("_c").cast("decimal(19,0)") * col("_c"))
      .as("_den"))
    val lags = daily.sparkSession.range(1, maxLag + 1)
      .select(col("id").cast("int").as("lag"))
    val rhs = centered.select(col("_d").as("_d2"), col("_c").as("_c2"))
    centered.crossJoin(broadcast(lags))
      .join(rhs, col("_d2") === col("_d") + col("lag"))
      .groupBy(col("lag"))
      .agg(sum(col("_c").cast("decimal(19,0)") * col("_c2")).as("_num"))
      .crossJoin(broadcast(den))
      .select(col("lag"),
        round(col("_num").cast("double") / col("_den").cast("double"), 6).as("r"))
  }

  /** The survival observation frame (shared by [[kaplanMeier]],
    * [[nelsonAalen]] and [[logRankStratified]]): per subject, the clock
    * starts at its FIRST event; "death" is its first event satisfying
    * `deathCond`; a subject with no such event is censored at the end
    * of observation (the global max timestamp, a 1-row broadcast).
    * `select(t, died)` picks the output columns: `t` (aliased `_t`)
    * counts the whole `unitMicros` units from the start to the death or
    * the censoring, `died` is whether the death came, and the extra
    * `perUser` aggregates can be read too.
    *
    * Scale shape (100 TB): one user-key groupBy (first event / first
    * death) and the 1-row broadcast max.
    */
  private def observations(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, unitMicros: Long, perUser: Column*)(
      select: (Column, Column) => Seq[Column]): DataFrame = {
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val subjects = events
      .groupBy(col(userCol))
      .agg(min(us).as("_start"), min(when(deathCond, us)).as("_dus") +: perUser: _*)
    val maxTs = events.agg(max(us).as("_mx"))
    val t = when(col("_dus").isNotNull,
        floor((col("_dus") - col("_start")) / unitMicros))
      .otherwise(floor((col("_mx") - col("_start")) / unitMicros))
      .cast("long").as("_t")
    subjects.crossJoin(broadcast(maxTs))
      .select(select(t, col("_dus").isNotNull): _*)
  }

  /** The time-ordered bucket list that [[kaplanMeier]] and
    * [[nelsonAalen]] fold: per `_t` bucket of the [[observations]],
    * deaths `_d` and censorings `_c`, collected as the sorted list
    * `_l` of (_t, _d, _c) next to the subject total `_n`. The list is
    * bounded by the OBSERVATION WINDOW (time units in range — a grid,
    * not the data).
    */
  private def deathBuckets(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, unitMicros: Long): DataFrame =
    observations(events, userCol, tsCol, deathCond, unitMicros)(
        (t, died) => Seq(t, died.cast("long").as("_death")))
      .groupBy(col("_t"))
      .agg(sum(col("_death")).as("_d"),
        sum(lit(1L) - col("_death")).as("_c"))
      .agg(sort_array(collect_list(struct(col("_t"), col("_d"), col("_c")))).as("_l"),
        (sum(col("_d")) + sum(col("_c"))).as("_n"))

  /** Kaplan-Meier survival estimator (Kaplan & Meier 1958) for
    * time-to-event with right censoring: per subject, the clock starts
    * at their FIRST event; "death" is their first event satisfying
    * `deathCond`; subjects with no such event are censored at the end
    * of observation (the global max timestamp). Time is bucketed to
    * integer `unitMicros` units (default hours) — all integer
    * arithmetic up to the survival product.
    *
    * S(t) = Π_{t_i <= t, d_i > 0} (1 − d_i/n_i) runs as ONE ordered
    * fold over the bounded time-bucket table that carries BOTH the
    * at-risk count (subjects not yet dead or censored) and the running
    * product — no partition-less window, no second pass; term order is
    * ascending t on both engines, so the double product replays
    * bitwise (multiplication is IEEE-exact per op; d=0 rows multiply
    * by exact 1.0 — an identity). Output: (t, n_risk, deaths,
    * survival) for death steps only, survival round(6)-quantized.
    *
    * Scale shape (100 TB): the [[observations]] pass, one
    * map-side-combinable bucket roll-up ([[deathBuckets]]) bounded by
    * the OBSERVATION WINDOW (hours in range — a grid, not the data),
    * and the fold over that grid.
    */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, unitMicros: Long = 3600000000L): DataFrame = {
    require(unitMicros >= 1, s"kaplanMeier: need unitMicros>=1, got $unitMicros")
    val zero = struct(
      lit(0L).as("rem"), // filled from the total below
      lit(1.0).as("surv"),
      array().cast("array<struct<t:bigint,nr:bigint,d:bigint,s:double>>").as("path"))
    deathBuckets(events, userCol, tsCol, deathCond, unitMicros)
      .select(aggregate(col("_l"),
        struct(col("_n").as("rem"), lit(1.0).as("surv"),
          zero.getField("path").as("path")),
        (acc, x) => {
          val nr = acc.getField("rem")
          val s2 = acc.getField("surv") *
            (lit(1.0) - x.getField("_d").cast("double") / nr.cast("double"))
          struct(
            (nr - x.getField("_d") - x.getField("_c")).as("rem"),
            s2.as("surv"),
            concat(acc.getField("path"),
              array(struct(x.getField("_t").as("t"), nr.as("nr"),
                x.getField("_d").as("d"), s2.as("s")))).as("path"))
        }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .filter(col("_e.d") > 0)
      .select(col("_e.t").as("t"), col("_e.nr").as("n_risk"),
        col("_e.d").as("deaths"), round(col("_e.s"), 6).as("survival"))
  }

  /** First-order Markov transition matrix over per-user event
    * sequences: for every ordered adjacent pair of a user's events,
    * count the (from_type, to_type) transition and normalize per
    * from-state. The sequence order is total — (ts, idCol) — so the
    * matrix is deterministic under duplicate timestamps. Output:
    * (from_type, to_type, cnt, prob), prob = cnt / Σ_to cnt — a single
    * division of two exact BIGINTs (engine-portable, no float
    * aggregation order anywhere).
    *
    * Scale shape (100 TB): the lead window partitions by the USER key
    * (bounded per-partition state — never a global ordered window), the
    * pair roll-up is one map-side-combinable (from, to) groupBy, and
    * the per-from normalization window runs over the |types|² aggregate
    * — constant-size at any stream length.
    */
  /** CUSUM change-point alarms over daily event counts (Page 1954, the
    * upper one-sided scheme): per type, S_t = max(0, S_{t−1} + x_t − k)
    * with reference k = ceil(mean daily count) and decision threshold
    * h = hMult·k; days where S_t > h are alarms. ALL integer
    * arithmetic — counts, the ceil-mean via (tot+nd−1) div nd, the
    * reflected running sum — so the path replays exactly in any
    * engine (the oracle walks it with a recursive CTE).
    *
    * The sequential recursion is not window-expressible, so the walk
    * runs as an EXPRESSION-LEVEL fold (`aggregate`) over each type's
    * day-sorted count list — bounded by |days| per type (the
    * per-day-aggregate class, same as the smoothing/rolling windows),
    * never a row-level recursion over the stream.
    *
    * Output: (typeCol, day, s) for alarm days only.
    *
    * Scale shape (100 TB): ONE corpus shuffle (the (type, day)
    * groupBy, map-side combinable); stats, the fold and the alarm
    * filter all run over the per-day aggregate.
    */
  def cusumAlarms(events: DataFrame, typeCol: String, tsCol: String,
      hMult: Int = 2): DataFrame = {
    require(hMult >= 1, s"cusumAlarms: need hMult>=1, got $hMult")
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
    val stats = daily.groupBy(col("_t"))
      .agg(sum(col("_cnt")).as("_tot"), count(lit(1)).as("_nd"))
      .select(col("_t"),
        floor((col("_tot") + col("_nd") - 1) / col("_nd")).cast("long").as("_ref"))
      .withColumn("_h", col("_ref") * hMult)
    val zero = struct(lit(0L).as("s"),
      array().cast("array<struct<day:date,s:bigint>>").as("path"))
    val folded = daily.join(stats, Seq("_t"))
      .groupBy(col("_t"))
      .agg(sort_array(collect_list(struct(col("_day"), col("_cnt")))).as("_l"),
        max(col("_ref")).as("_ref"), max(col("_h")).as("_h"))
      .select(col("_t"), col("_h"),
        aggregate(col("_l"), zero, (acc, x) => {
          val s2 = greatest(lit(0L),
            acc.getField("s") + x.getField("_cnt") - col("_ref"))
          struct(s2.as("s"),
            concat(acc.getField("path"),
              array(struct(x.getField("_day").as("day"), s2.as("s")))).as("path"))
        }).getField("path").as("_p"))
    folded
      .select(col("_t"), col("_h"), explode(col("_p")).as("_e"))
      .filter(col("_e.s") > col("_h"))
      .select(col("_t").as(typeCol), col("_e.day").as("day"), col("_e.s").as("s"))
  }

  /** Per-type EWMA of the daily event-count series: s_t = α·x_t +
    * β·s_{t−1}, s_0 = x_0 — the standard monitoring smoother. The
    * sequential recursion runs as an expression-level fold over each
    * type's day-sorted counts (invariant: bounded by |days|, never a
    * stream recursion), emitting the full smoothed path. α and β are
    * passed as SEPARATE literals — deriving β = 1−α at runtime is a
    * float op the two engines could round differently; as literals
    * both parse to identical doubles and every step is the same three
    * IEEE ops in the same order, so the path replays bitwise and
    * round(6) quantizes only at the emit.
    *
    * Output: (typeCol, day, cnt, ewma), one row per (type, day).
    *
    * Scale shape (100 TB): one daily roll-up (map-side combinable);
    * the fold rides the |days|-bounded per-type aggregate.
    */
  def ewmaDaily(events: DataFrame, typeCol: String, tsCol: String,
      alpha: Double = 0.3, beta: Double = 0.7): DataFrame = {
    require(math.abs(alpha + beta - 1.0) < 1e-9,
      s"ewmaDaily: alpha + beta must be 1, got $alpha + $beta")
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
    val zero = struct(lit(true).as("init"), lit(0.0).as("s"),
      array().cast("array<struct<day:date,cnt:bigint,s:double>>").as("path"))
    daily.groupBy(col("_t"))
      .agg(sort_array(collect_list(struct(col("_day"), col("_cnt")))).as("_l"))
      .select(col("_t"),
        aggregate(col("_l"), zero, (acc, x) => {
          val s2 = when(acc.getField("init"), x.getField("_cnt").cast("double"))
            .otherwise(lit(alpha) * x.getField("_cnt").cast("double")
              + lit(beta) * acc.getField("s"))
          struct(lit(false).as("init"), s2.as("s"),
            concat(acc.getField("path"),
              array(struct(x.getField("_day").as("day"),
                x.getField("_cnt").as("cnt"), s2.as("s")))).as("path"))
        }).getField("path").as("_p"))
      .select(col("_t").as(typeCol), explode(col("_p")).as("_e"))
      .select(col(typeCol), col("_e.day").as("day"), col("_e.cnt").as("cnt"),
        round(col("_e.s"), 6).as("ewma"))
  }

  /** Holt double exponential smoothing (Holt 1957) of per-type daily
    * counts — [[ewmaDaily]] plus a TREND term, the standard one-step
    * capacity forecaster:
    *   s₁ = x₁, b₁ = 0;
    *   sᵢ = α·xᵢ + α'·(sᵢ₋₁ + bᵢ₋₁),
    *   bᵢ = β·(sᵢ − sᵢ₋₁) + β'·bᵢ₋₁.
    * α'/β' are passed as SEPARATE literals (never derived 1−α — the
    * ewma discipline) so the oracle's recursive CTE replays the exact
    * float sequence bit-for-bit; round(6) only at the readout. The
    * recursion is an expression fold over the |days|-bounded daily
    * aggregate (invariant: sequential recursions that aren't
    * window-expressible fold over a sorted collect_list of a bounded
    * grid).
    *
    * Output: (typeCol, day, cnt, level, trend, forecast) where
    * forecast = sᵢ + bᵢ (the next-day prediction from that day).
    *
    * Scale shape (100 TB): one map-side-combinable daily roll-up;
    * the fold list is |days| entries per type.
    */
  def holtDaily(events: DataFrame, typeCol: String, tsCol: String,
      alpha: Double = 0.3, alphaC: Double = 0.7,
      beta: Double = 0.2, betaC: Double = 0.8): DataFrame = {
    require(math.abs(alpha + alphaC - 1.0) < 1e-9 &&
      math.abs(beta + betaC - 1.0) < 1e-9,
      s"holtDaily: complements must pair to 1, got $alpha+$alphaC $beta+$betaC")
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
    val zero = struct(lit(true).as("init"), lit(0.0).as("s"), lit(0.0).as("b"),
      array().cast("array<struct<day:date,cnt:bigint,s:double,b:double>>")
        .as("path"))
    daily.groupBy(col("_t"))
      .agg(sort_array(collect_list(struct(col("_day"), col("_cnt")))).as("_l"))
      .select(col("_t"),
        aggregate(col("_l"), zero, (acc, x) => {
          val xd = x.getField("_cnt").cast("double")
          val s2 = when(acc.getField("init"), xd)
            .otherwise(lit(alpha) * xd +
              lit(alphaC) * (acc.getField("s") + acc.getField("b")))
          val b2 = when(acc.getField("init"), lit(0.0))
            .otherwise(lit(beta) * (s2 - acc.getField("s")) +
              lit(betaC) * acc.getField("b"))
          struct(lit(false).as("init"), s2.as("s"), b2.as("b"),
            concat(acc.getField("path"),
              array(struct(x.getField("_day").as("day"),
                x.getField("_cnt").as("cnt"), s2.as("s"), b2.as("b"))))
              .as("path"))
        }).getField("path").as("_p"))
      .select(col("_t").as(typeCol), explode(col("_p")).as("_e"))
      .select(col(typeCol), col("_e.day").as("day"), col("_e.cnt").as("cnt"),
        // + 0.0 after round: β·(s₂−s)+β'·b can land on IEEE −0.0, and
        // the oracle compare hashes representations — normalize the
        // sign at emission on BOTH engines (−0.0 + 0.0 = +0.0)
        (round(col("_e.s"), 6) + lit(0.0)).as("level"),
        (round(col("_e.b"), 6) + lit(0.0)).as("trend"),
        (round(col("_e.s") + col("_e.b"), 6) + lit(0.0)).as("forecast"))
  }

  /** Croston's method (Croston '72) — the intermittent-demand
    * forecaster SES/Holt mishandle (smoothing zeros drives the level
    * toward 0 between sparse spikes): two SEPARATE exponential
    * smoothers, demand size z over non-zero days only and inter-demand
    * interval p, forecast = z/p per demand point. Zero-demand days
    * never enter the fold — the interval carries them as the exact
    * integer gap τ, so the state is demand-day-bounded, not
    * day-bounded. Deterministic init at the first demand: z = q₁,
    * p = τ₁ = days since the observation start + 1. Smoothing
    * constants are separate literals (α, 1−α) per the suite's float
    * discipline; oracle = recursive CTE chained on the demand-day
    * row_number.
    *
    * Output: (day, demand, tau, z, p, forecast, sba) per demand day —
    * sba the Syntetos-Boylan bias-corrected (1−α/2)·z/p.
    *
    * Scale shape (100 TB): the daily demand roll-up is the only
    * corpus-sized exchange; the fold list holds one entry per DEMAND
    * day.
    */
  def crostonDaily(events: DataFrame, tsCol: String, demandCond: Column,
      alpha: Double = 0.2, alphaC: Double = 0.8): DataFrame = {
    require(math.abs(alpha + alphaC - 1.0) < 1e-9,
      "crostonDaily: complements must pair to 1")
    val eday = datediff(col(tsCol).cast("date"), to_date(lit("1970-01-01")))
    val start = events.agg(min(eday).cast("long").as("_d0"))
    val dem = events.filter(demandCond)
      .groupBy(eday.cast("long").as("_d")).agg(count(lit(1)).as("_q"))
    val pathT = "array<struct<d:bigint,q:bigint,tau:bigint,z:double,p:double>>"
    val zero = struct(lit(true).as("init"), lit(0.0).as("z"),
      lit(0.0).as("p"), lit(0L).as("last"),
      array().cast(pathT).as("path"))
    dem.crossJoin(broadcast(start))
      .groupBy(col("_d0"))
      .agg(sort_array(collect_list(struct(col("_d"), col("_q")))).as("_l"))
      .select(col("_d0"),
        aggregate(col("_l"), zero, (acc, x) => {
          val d = x.getField("_d")
          val q = x.getField("_q").cast("double")
          val tauInit = d - col("_d0") + 1L
          val tauRun = d - acc.getField("last")
          val tau = when(acc.getField("init"), tauInit).otherwise(tauRun)
          val z2 = when(acc.getField("init"), q)
            .otherwise(lit(alpha) * q + lit(alphaC) * acc.getField("z"))
          val p2 = when(acc.getField("init"), tauInit.cast("double"))
            .otherwise(lit(alpha) * tauRun.cast("double") +
              lit(alphaC) * acc.getField("p"))
          struct(lit(false).as("init"), z2.as("z"), p2.as("p"),
            d.as("last"),
            concat(acc.getField("path"), array(struct(d.as("d"),
              x.getField("_q").as("q"), tau.as("tau"), z2.as("z"),
              p2.as("p")))).as("path"))
        }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .select(date_add(to_date(lit("1970-01-01")), col("_e.d").cast("int"))
          .as("day"),
        col("_e.q").as("demand"), col("_e.tau").as("tau"),
        round(col("_e.z"), 6).as("z"), round(col("_e.p"), 6).as("p"),
        round(col("_e.z") / col("_e.p"), 6).as("forecast"),
        // Syntetos-Boylan approximation: Croston's z/p is biased high;
        // the (1 - alpha/2) factor is the standard correction
        round(lit(1.0 - alpha / 2.0) * (col("_e.z") / col("_e.p")), 6)
          .as("sba"))
  }

  /** Classical additive time-series decomposition (the pre-STL
    * textbook method): trend = centered moving average over a full
    * season (only emitted where the window is complete — edges stay
    * null like statsmodels'), detrended = y − trend, seasonal index =
    * per-season-position mean of the detrended values (day-ordered
    * float fold — engine-portable), residual = detrended − seasonal.
    * The position means are a window over (type, position) in day
    * order: its unbounded frame adds the rows in that order, the same
    * sequential fold as the oracle's list_sum(... ORDER BY d), and it
    * rides the trend window's type partitioning — the day grid is
    * computed once, with no join back.
    * The season position uses integer epoch-day arithmetic, never an
    * engine dow builtin (invariant 38). m must be odd so the centered
    * window is symmetric.
    *
    * Output: (typeCol, day, cnt, trend, seasonal, residual) — trend
    * and residual null on the first/last (m−1)/2 days.
    *
    * Scale shape (100 TB): the daily roll-up is the only corpus-sized
    * exchange; the MA window and position folds ride the per-type day
    * grid.
    */
  def classicalDecomposition(events: DataFrame, typeCol: String,
      tsCol: String, m: Int = 7): DataFrame = {
    require(m >= 3 && m % 2 == 1, s"classicalDecomposition: need odd m>=3")
    val half = m / 2
    val daily = events
      .groupBy(col(typeCol).as("_t"),
        datediff(col(tsCol).cast("date"), to_date(lit("1970-01-01"))).as("_d"))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col("_t")).orderBy(col("_d"))
      .rowsBetween(-half, half)
    val trended = daily
      .withColumn("_ws", sum(col("_cnt")).over(w))
      .withColumn("_wn", count(lit(1)).over(w))
      .withColumn("_trend",
        when(col("_wn") === m,
          col("_ws").cast("double") / lit(m.toDouble)))
      .withColumn("_det", col("_cnt").cast("double") - col("_trend"))
      .withColumn("_pos", pmod(col("_d"), lit(m)))
    val ws = Window.partitionBy(col("_t"), col("_pos")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    trended
      .withColumn("_pn", count(col("_det")).over(ws))
      .withColumn("_seas", when(col("_pn") > 0,
        sum(col("_det")).over(ws) / col("_pn").cast("double")))
      .select(col("_t").as(typeCol),
        to_date(lit("1970-01-01")).cast("date").as("_epoch"),
        col("_d"), col("_cnt").as("cnt"),
        round(col("_trend"), 6).as("trend"),
        // + 0.0: seasonal/residual are subtraction-derived → can hit
        // IEEE −0.0; normalized identically in the oracle SQL
        (round(col("_seas"), 6) + lit(0.0)).as("seasonal"),
        (round(col("_det") - col("_seas"), 6) + lit(0.0)).as("residual"))
      .select(col(typeCol), date_add(col("_epoch"), col("_d").cast("int")).as("day"),
        col("cnt"), col("trend"), col("seasonal"), col("residual"))
  }

  /** Wald's SPRT (Sequential Probability Ratio Test, '45) over the
    * DAILY conversion series — the "can we stop the experiment early"
    * readout fixed-horizon z tests can't give: per day, the Bernoulli
    * log-likelihood-ratio increment x·ln(p1/p0) + (n−x)·ln((1−p1)/
    * (1−p0)) accumulates in day order until it crosses ln((1−β)/α)
    * (accept H1) or ln(β/(1−α)) (accept H0). The two log coefficients
    * and both boundaries are Scala-computed double literals embedded
    * on both engines (Double.toString round-trips), the fold is
    * day-ordered, and rows stop AT the first decision day — exactly
    * the sequential-analysis contract.
    *
    * Output: (day, n, x, llr, decision) for every day up to and
    * including the first decision (decision ∈ accept_h1 / accept_h0 /
    * continue).
    *
    * Scale shape (100 TB): ONE (day, user) distinct pass; the fold
    * rides the |days| list.
    */
  def sprtDaily(events: DataFrame, userCol: String, tsCol: String,
      convCond: Column, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"sprtDaily: need distinct p0,p1 in (0,1), got $p0/$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"sprtDaily: need alpha,beta in (0,1)")
    val lc1 = math.log(p1 / p0)
    val lc2 = math.log((1.0 - p1) / (1.0 - p0))
    val hi = math.log((1.0 - beta) / alpha)
    val lo = math.log(beta / (1.0 - alpha))
    // a conversion flag per (day, user), then plain per-day counts (two
    // count_distinct would plan an Expand); null users count in neither
    val daily = events
      .groupBy(col(tsCol).cast("date").as("_day"), col(userCol).as("_u"))
      .agg(max(when(convCond && col(userCol).isNotNull, 1L).otherwise(0L)).as("_c"))
      .groupBy(col("_day"))
      .agg(count(col("_u")).as("_n"), sum(col("_c")).as("_x"))
    val pathT =
      "array<struct<day:date,n:bigint,x:bigint,llr:double,decision:string>>"
    val zero = struct(lit(0.0).as("llr"), lit(false).as("stop"),
      array().cast(pathT).as("path"))
    daily
      .agg(sort_array(collect_list(struct(col("_day"), col("_n"), col("_x"))))
        .as("_l"))
      .select(aggregate(col("_l"), zero, (acc, e) => {
        val inc = e.getField("_x").cast("double") * lit(lc1) +
          (e.getField("_n") - e.getField("_x")).cast("double") * lit(lc2)
        val llr2 = acc.getField("llr") + inc
        val dec = when(llr2 >= lit(hi), lit("accept_h1"))
          .when(llr2 <= lit(lo), lit("accept_h0"))
          .otherwise(lit("continue"))
        val appended = concat(acc.getField("path"),
          array(struct(e.getField("_day").as("day"), e.getField("_n").as("n"),
            e.getField("_x").as("x"), llr2.as("llr"), dec.as("decision"))))
        when(acc.getField("stop"), acc).otherwise(
          struct(llr2.as("llr"), (dec =!= "continue").as("stop"),
            appended.as("path")))
      }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .select(col("_e.day").as("day"), col("_e.n").as("n"),
        col("_e.x").as("x"), (round(col("_e.llr"), 6) + lit(0.0)).as("llr"),
        col("_e.decision").as("decision"))
  }

  /** The per-arm sums of one day or look (the body of every A/B
    * monitor's grouped aggregate): control (`_b` = 0) and treatment
    * unit counts `_nc`/`_nt` and conversions `_xc`/`_xt` of the 0/1
    * column `_c`.
    */
  private def armCounts: Seq[Column] = Seq(
    sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("_nc"),
    sum(when(col("_b") =!= 0L, 1L).otherwise(0L)).as("_nt"),
    sum(when(col("_b") === 0L, col("_c")).otherwise(0L)).as("_xc"),
    sum(when(col("_b") =!= 0L, col("_c")).otherwise(0L)).as("_xt"))

  /** The pooled two-proportion z of treatment minus control,
    * (p_t − p_c) / √(p̂(1−p̂)(1/n_c + 1/n_t)), in the fixed operand
    * order the oracles replay (the [[Stats.abTestProportions]] formula);
    * null while either arm is empty or the pooled rate is degenerate.
    */
  private def pooledZ(nc: Column, nt: Column, xc: Column, xt: Column): Column = {
    val ncD = nc.cast("double"); val ntD = nt.cast("double")
    val pc = xc.cast("double") / ncD
    val pt = xt.cast("double") / ntD
    val pp = (xc + xt).cast("double") / (nc + nt).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / ncD + lit(1.0) / ntD))
    when(nc > 0L && nt > 0L && se > lit(0.0), (pt - pc) / se)
  }

  /** One mSPRT step (shared by [[msprtDaily]] and [[msprtValueDaily]]):
    * the normal-mixture likelihood ratio Λ of the cumulative arm
    * difference `delta` with variance `v`, the always-valid p as the
    * running min of min(1, 1/Λ) from `pPrev`, and the decision at
    * level `alpha`. A step counts only when `armsOk` and v > 0;
    * otherwise Λ is null and p carries. Returns (Λ, p, decision).
    */
  private def msprtStep(pPrev: Column, armsOk: Column, delta: Column,
      v: Column, t2: Double, alpha: Double): (Column, Column, Column) = {
    // nested when, NOT a 3-way && — && does not short-circuit and
    // v's divisions throw under ANSI while an arm is empty or a
    // singleton (invariant 68)
    val valid = when(armsOk, v > lit(0.0)).otherwise(lit(false))
    val lam = sqrt(v / (v + lit(t2))) *
      exp(delta * delta * lit(t2) / (lit(2.0) * v * (v + lit(t2))))
    val pRaw = least(lit(1.0), lit(1.0) / lam)
    val pmin = when(valid, least(pPrev, pRaw)).otherwise(pPrev)
    val dec = when(pmin <= lit(alpha), lit("reject"))
      .otherwise(lit("continue"))
    (when(valid, lam), pmin, dec)
  }

  /** The per-look arm-count frame of the group-sequential monitors:
    * each event's look k = min(⌊(day − first day)/lookDays⌋ + 1, looks)
    * (the first day is a 1-row broadcast), its [[Stats.md5Parity]] arm
    * under `seed`, [[armCounts]] per look, and the K-row look grid
    * left-joined so a look without events reads zeros. Output
    * (_k, _nc, _nt, _xc, _xt), one row per look.
    *
    * Scale shape (100 TB): ONE map-side-combinable grouped aggregate
    * over (look, arm); everything after rides the K-row grid.
    */
  private def lookFrame(events: DataFrame, idCol: String, tsCol: String,
      convCond: Column, looks: Int, lookDays: Int, seed: String): DataFrame = {
    val day = col(tsCol).cast("date")
    val minD = events.agg(min(day).as("_d0"))
    val perLook = events.crossJoin(broadcast(minD))
      .select(
        least(floor(datediff(day, col("_d0")) / lit(lookDays)) + 1,
          lit(looks.toLong)).cast("int").as("_k"),
        Stats.md5Parity(col(idCol), seed).as("_b"), convCond.cast("long").as("_c"))
      .groupBy(col("_k"))
      .agg(armCounts.head, armCounts.tail: _*)
    events.sparkSession.range(1, looks + 1)
      .select(col("id").cast("int").as("_k"))
      .join(perLook, Seq("_k"), "left")
      .select(col("_k"), coalesce(col("_nc"), lit(0L)).as("_nc"),
        coalesce(col("_nt"), lit(0L)).as("_nt"),
        coalesce(col("_xc"), lit(0L)).as("_xc"),
        coalesce(col("_xt"), lit(0L)).as("_xt"))
  }

  /** [[lookFrame]] with cumulative counts (_k, nc, nt, xc, xt) over
    * looks 1..k — a window over the K-row grid, bounded by
    * construction.
    */
  private def cumulativeLooks(events: DataFrame, idCol: String,
      tsCol: String, convCond: Column, looks: Int, lookDays: Int,
      seed: String): DataFrame = {
    val w = Window.orderBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    lookFrame(events, idCol, tsCol, convCond, looks, lookDays, seed)
      .select(col("_k"),
        sum(col("_nc")).over(w).as("nc"), sum(col("_nt")).over(w).as("nt"),
        sum(col("_xc")).over(w).as("xc"), sum(col("_xt")).over(w).as("xt"))
  }

  /** The stop-at-first-crossing fold over a [[lookFrame]]: cumulative
    * counts stay exact integers in a fold over the K-row list, z is
    * [[pooledZ]], and `judge(look, z)` gives the boundary fields
    * (typed `boundFields` in the path struct), the decision and
    * whether it stops. Rows stop AT the first stopping look — the
    * sequential contract, like sprtDaily. Output (look, n_c, n_t, x_c,
    * x_t, z, readout…, decision), z round(6).
    */
  private def crossingFold(perLook: DataFrame, boundFields: String,
      judge: (Column, Column) => (Seq[Column], Column, Column),
      readout: Seq[Column]): DataFrame = {
    val pathT = "array<struct<look:int,n_c:bigint,n_t:bigint,x_c:bigint," +
      s"x_t:bigint,z:double,$boundFields,decision:string>>"
    val zero = struct(lit(0L).as("nc"), lit(0L).as("nt"), lit(0L).as("xc"),
      lit(0L).as("xt"), lit(false).as("stop"), array().cast(pathT).as("path"))
    perLook
      .agg(sort_array(collect_list(struct(col("_k"), col("_nc"), col("_nt"),
        col("_xc"), col("_xt")))).as("_l"))
      .select(aggregate(col("_l"), zero, (acc, e) => {
        val nc = acc.getField("nc") + e.getField("_nc")
        val nt = acc.getField("nt") + e.getField("_nt")
        val xc = acc.getField("xc") + e.getField("_xc")
        val xt = acc.getField("xt") + e.getField("_xt")
        val z = pooledZ(nc, nt, xc, xt)
        val (bounds, dec, stop) = judge(e.getField("_k"), z)
        val appended = concat(acc.getField("path"),
          array(struct(Seq(e.getField("_k").as("look"), nc.as("n_c"),
            nt.as("n_t"), xc.as("x_c"), xt.as("x_t"), z.as("z")) ++ bounds :+
            dec.as("decision"): _*)))
        when(acc.getField("stop"), acc).otherwise(
          struct(nc.as("nc"), nt.as("nt"), xc.as("xc"), xt.as("xt"),
            stop.as("stop"), appended.as("path")))
      }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .select(Seq(col("_e.look").as("look"), col("_e.n_c").as("n_c"),
        col("_e.n_t").as("n_t"), col("_e.x_c").as("x_c"),
        col("_e.x_t").as("x_t"),
        (round(col("_e.z"), 6) + lit(0.0)).as("z")) ++ readout :+
        col("_e.decision").as("decision"): _*)
  }

  /** Always-valid inference via the mixture SPRT (Johari, Koomen,
    * Pekelis & Walsh '17/'22, "Peeking at A/B tests"; Robbins '70) —
    * the monitor that made continuous dashboard peeking safe and the
    * modern complement of [[sprtDaily]]'s simple-vs-simple walk: with
    * a normal mixing prior N(0, τ²) over the effect, the mixture
    * likelihood ratio against H0: δ = 0 has the closed form
    *
    *   Λ_n = √(V_n/(V_n+τ²)) · exp( δ̂_n²·τ² / (2·V_n·(V_n+τ²)) ),
    *
    * where δ̂_n is the cumulative two-proportion arm difference and
    * V_n its pooled variance, and p_n = min(p_{n-1}, 1/Λ_n) is an
    * ALWAYS-VALID p-value: P(∃n: p_n ≤ α) ≤ α under H0, at any
    * stopping rule whatsoever ([[msprtStep]]). Arms are the
    * [[Stats.md5Parity]] assignment of the sibling monitors; days fold in
    * order with exact cumulative BIGINT counts (the [[sprtDaily]] fold
    * — no data-sized window), the double readout fixed-order on both
    * engines (sqrt/exp ride the Nelson-Aalen precedent; no Φ is needed
    * at all). All days are emitted — the always-valid guarantee is
    * exactly what makes a no-stop readout sound.
    *
    * Output: (day, n_c, n_t, x_c, x_t, lambda, p_av, decision) with
    * decision ∈ reject/continue at level `alpha`; lambda/p_av carry
    * (null, running min) while an arm is empty or V = 0.
    *
    * Scale shape (100 TB): one (day, arm) map-side-combinable
    * aggregate, then a fold over the |days| list — bounded by the
    * calendar, never row cardinality.
    */
  def msprtDaily(events: DataFrame, userCol: String, tsCol: String,
      convCond: Column, tau: Double = 0.05,
      alpha: Double = 0.05): DataFrame = {
    require(tau > 0, s"msprtDaily: need tau > 0, got $tau")
    require(alpha > 0 && alpha < 1, s"msprtDaily: need alpha in (0,1), got $alpha")
    val daily = events
      .select(col(tsCol).cast("date").as("_day"),
        Stats.md5Parity(col(userCol), "ab").as("_b"), convCond.cast("long").as("_c"))
      .groupBy(col("_day"))
      .agg(armCounts.head, armCounts.tail: _*)
    val pathT = "array<struct<day:date,n_c:bigint,n_t:bigint,x_c:bigint," +
      "x_t:bigint,lambda:double,p_av:double,decision:string>>"
    val zero = struct(lit(0L).as("nc"), lit(0L).as("nt"), lit(0L).as("xc"),
      lit(0L).as("xt"), lit(1.0).as("pmin"), array().cast(pathT).as("path"))
    daily
      .agg(sort_array(collect_list(struct(col("_day"), col("_nc"), col("_nt"),
        col("_xc"), col("_xt")))).as("_l"))
      .select(aggregate(col("_l"), zero, (acc, e) => {
        val nc = acc.getField("nc") + e.getField("_nc")
        val nt = acc.getField("nt") + e.getField("_nt")
        val xc = acc.getField("xc") + e.getField("_xc")
        val xt = acc.getField("xt") + e.getField("_xt")
        val ncD = nc.cast("double"); val ntD = nt.cast("double")
        val delta = xt.cast("double") / ntD - xc.cast("double") / ncD
        val pp = (xc + xt).cast("double") / (nc + nt).cast("double")
        val v = pp * (lit(1.0) - pp) * (lit(1.0) / ncD + lit(1.0) / ntD)
        val (lam, pmin, dec) = msprtStep(acc.getField("pmin"),
          nc > 0L && nt > 0L, delta, v, tau * tau, alpha)
        val appended = concat(acc.getField("path"),
          array(struct(e.getField("_day").as("day"), nc.as("n_c"),
            nt.as("n_t"), xc.as("x_c"), xt.as("x_t"), lam.as("lambda"),
            pmin.as("p_av"), dec.as("decision"))))
        struct(nc.as("nc"), nt.as("nt"), xc.as("xc"), xt.as("xt"),
          pmin.as("pmin"), appended.as("path"))
      }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .select(col("_e.day").as("day"), col("_e.n_c").as("n_c"),
        col("_e.n_t").as("n_t"), col("_e.x_c").as("x_c"),
        col("_e.x_t").as("x_t"),
        (round(col("_e.lambda"), 6) + lit(0.0)).as("lambda"),
        (round(col("_e.p_av"), 6) + lit(0.0)).as("p_av"),
        col("_e.decision").as("decision"))
  }

  /** [[msprtDaily]] for a MEAN metric (the common case: revenue per
    * unit, latency, tokens) — the same normal-mixture likelihood ratio
    * with δ̂_n the cumulative arm difference of means and V_n its
    * pooled-variance standard error. Exactness discipline: the metric
    * is quantized to integer cents up front, so the cumulative
    * Σv and Σv² fold as EXACT integers (BIGINT / DECIMAL(38,0) —
    * HUGEINT on the oracle side) and every double appears only in the
    * final fixed-order readout:
    *
    *   s²_pooled = (ssd_c + ssd_t) / (n_c + n_t − 2),
    *   ssd_a = Σv²_a − (Σv_a)²/n_a (computed in doubles, same order
    *   both engines), V = s²_pooled·(1/n_c + 1/n_t),
    *
    * and Λ, p as in [[msprtStep]]. τ is on the cents scale.
    *
    * Output: (day, n_c, n_t, mean_c, mean_t, lambda, p_av, decision);
    * lambda/p carry while either arm has < 2 units or V = 0.
    */
  def msprtValueDaily(events: DataFrame, userCol: String, tsCol: String,
      valueCol: Column, tau: Double = 100.0,
      alpha: Double = 0.05): DataFrame = {
    require(tau > 0, s"msprtValueDaily: need tau > 0, got $tau")
    require(alpha > 0 && alpha < 1, s"msprtValueDaily: need alpha in (0,1), got $alpha")
    val cents = round(coalesce(valueCol, lit(0.0)) * 100).cast("long")
    val daily = events
      .select(col(tsCol).cast("date").as("_day"),
        Stats.md5Parity(col(userCol), "ab").as("_b"), cents.as("_v"))
      .groupBy(col("_day"))
      .agg(sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("_nc"),
        sum(when(col("_b") =!= 0L, 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_b") === 0L, col("_v")).otherwise(0L)).as("_sc"),
        sum(when(col("_b") =!= 0L, col("_v")).otherwise(0L)).as("_st"),
        sum(when(col("_b") === 0L,
          col("_v").cast("decimal(19,0)") * col("_v").cast("decimal(19,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("_qc"),
        sum(when(col("_b") =!= 0L,
          col("_v").cast("decimal(19,0)") * col("_v").cast("decimal(19,0)"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("_qt"))
    val pathT = "array<struct<day:date,n_c:bigint,n_t:bigint,mean_c:double," +
      "mean_t:double,lambda:double,p_av:double,decision:string>>"
    val zero = struct(lit(0L).as("nc"), lit(0L).as("nt"),
      lit(0L).as("sc"), lit(0L).as("st"),
      lit(0).cast("decimal(38,0)").as("qc"), lit(0).cast("decimal(38,0)").as("qt"),
      lit(1.0).as("pmin"), array().cast(pathT).as("path"))
    daily
      .agg(sort_array(collect_list(struct(col("_day"), col("_nc"), col("_nt"),
        col("_sc"), col("_st"), col("_qc"), col("_qt")))).as("_l"))
      .select(aggregate(col("_l"), zero, (acc, e) => {
        val nc = acc.getField("nc") + e.getField("_nc")
        val nt = acc.getField("nt") + e.getField("_nt")
        val sc = acc.getField("sc") + e.getField("_sc")
        val st = acc.getField("st") + e.getField("_st")
        val qc = (acc.getField("qc") + e.getField("_qc")).cast("decimal(38,0)")
        val qt = (acc.getField("qt") + e.getField("_qt")).cast("decimal(38,0)")
        val ncD = nc.cast("double"); val ntD = nt.cast("double")
        val scD = sc.cast("double"); val stD = st.cast("double")
        val mc = scD / ncD; val mt = stD / ntD
        val ssc = qc.cast("double") - scD * scD / ncD
        val sst = qt.cast("double") - stD * stD / ntD
        val s2p = (ssc + sst) / (ncD + ntD - lit(2.0))
        val v = s2p * (lit(1.0) / ncD + lit(1.0) / ntD)
        val (lam, pmin, dec) = msprtStep(acc.getField("pmin"),
          nc > 1L && nt > 1L, mt - mc, v, tau * tau, alpha)
        val appended = concat(acc.getField("path"),
          array(struct(e.getField("_day").as("day"), nc.as("n_c"),
            nt.as("n_t"),
            when(nc > 0L, mc).as("mean_c"), when(nt > 0L, mt).as("mean_t"),
            lam.as("lambda"), pmin.as("p_av"), dec.as("decision"))))
        struct(nc.as("nc"), nt.as("nt"), sc.as("sc"), st.as("st"),
          qc.as("qc"), qt.as("qt"), pmin.as("pmin"), appended.as("path"))
      }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .select(col("_e.day").as("day"), col("_e.n_c").as("n_c"),
        col("_e.n_t").as("n_t"),
        (round(col("_e.mean_c"), 6) + lit(0.0)).as("mean_c"),
        (round(col("_e.mean_t"), 6) + lit(0.0)).as("mean_t"),
        (round(col("_e.lambda"), 6) + lit(0.0)).as("lambda"),
        (round(col("_e.p_av"), 6) + lit(0.0)).as("p_av"),
        col("_e.decision").as("decision"))
  }

  /** Group-sequential monitor with per-look efficacy bounds — the
    * K-look interim-analysis complement of [[sprtDaily]]'s
    * fully-sequential walk, and the boundary shape clinical trials and
    * large A/B platforms actually ship: the experiment is examined at
    * K = bounds.length equally-spaced looks ([[lookFrame]]), and at
    * look k the pooled two-proportion z between md5-parity arms is
    * compared against `bounds(k-1)`; rows stop AT the first |z| > u_k
    * ([[crossingFold]]).
    *
    * `bounds` is the boundary shape as frozen driver-side literals. The
    * default is O'Brien-Fleming '79 at K = 5, u_k = c_K·√(K/k) with
    * c_5(0.05) = 2.04 — near-unspendable early (u_1 ≈ 4.56), ≈
    * fixed-horizon at the final look. Pocock '77 is a flat c_K
    * (c_5(0.05) = 2.413 — equal spend at every look: easier early
    * stops, a pricier final look), and [[groupSequentialLanDeMets]]
    * passes spending-function bounds.
    *
    * Output: (look, n_c, n_t, x_c, x_t, z, bound, decision) per look
    * up to and including the first crossing; decision ∈ reject /
    * continue; z null while either arm is empty or the pooled rate is
    * degenerate (never a rejection).
    *
    * Scale shape (100 TB): ONE map-side-combinable grouped aggregate
    * over (look, arm); everything after rides the K-row grid.
    */
  def groupSequentialObf(events: DataFrame, idCol: String, tsCol: String,
      convCond: Column,
      bounds: Seq[Double] = (1 to 5).map(k => 2.04 * math.sqrt(5.0 / k)),
      lookDays: Int = 6, seed: String = "gs"): DataFrame = {
    val looks = bounds.length
    require(looks >= 2 && lookDays >= 1,
      s"groupSequentialObf: need >= 2 bounds, lookDays>=1, got $looks/$lookDays")
    val bs = bounds.toArray
    crossingFold(lookFrame(events, idCol, tsCol, convCond, looks, lookDays, seed),
      "bound:double", (k, z) => {
        val bound = element_at(lit(bs), k)
        val dec = when(z.isNotNull && abs(z) > bound, lit("reject"))
          .otherwise(lit("continue"))
        (Seq(bound.as("bound")), dec, dec === "reject")
      }, Seq(round(col("_e.bound"), 6).as("bound")))
  }

  /** Lan-DeMets alpha-spending group-sequential monitor — the
    * spending-function generalization of the OBF/Pocock pair: the
    * per-look critical values come from [[AlphaSpending.ldBoundaries]]
    * (OBF-like or Pocock-like spending at overall level `alpha`),
    * computed driver-side as frozen deterministic literals, and the
    * data path is [[groupSequentialObf]]'s one [[lookFrame]] aggregate
    * + K-row [[crossingFold]] with stop-at-first-crossing.
    */
  def groupSequentialLanDeMets(events: DataFrame, idCol: String,
      tsCol: String, convCond: Column, looks: Int = 5, lookDays: Int = 6,
      alpha: Double = 0.05, spending: String = "obf",
      seed: String = "gs"): DataFrame =
    groupSequentialObf(events, idCol, tsCol, convCond,
      AlphaSpending.ldBoundaries(looks, alpha, spending).toSeq, lookDays, seed)

  /** Group-sequential monitor with NON-BINDING FUTILITY — the
    * one-sided completion of [[groupSequentialLanDeMets]]: per look k
    * the pooled two-proportion z (treatment minus control, ONE-SIDED —
    * the design asks "is treatment better", so only an upper efficacy
    * crossing rejects) is compared against BOTH boundaries from
    * [[AlphaSpending.futilityBoundaries]]: z ≥ upper_k stops for
    * efficacy, z < lower_k stops for futility (the trial cannot win —
    * beta-spending under the powered-for drift), otherwise continue.
    * Rows stop at the first crossing of either bound. Boundaries are
    * driver-side frozen literals (the ldBoundaries discipline); an A/A
    * split drifts near z≈0, which sits below the rising futility bound
    * by mid-trial — the monitor demonstrably stops a null effect EARLY
    * without spending the full horizon, the operational point of the
    * futility side.
    *
    * Output: (look, n_c, n_t, x_c, x_t, z, upper, lower, decision)
    * with decision ∈ stop_efficacy | stop_futility | continue.
    *
    * Scale shape (100 TB): one [[lookFrame]] aggregate and a K-row
    * [[crossingFold]].
    */
  def groupSequentialFutility(events: DataFrame, idCol: String,
      tsCol: String, convCond: Column, looks: Int = 5, lookDays: Int = 6,
      alpha: Double = 0.025, beta: Double = 0.1,
      spendingU: String = "obf", spendingL: String = "hsd",
      seed: String = "gs"): DataFrame = {
    require(looks >= 2 && lookDays >= 1,
      s"groupSequentialFutility: need looks>=2, lookDays>=1, got $looks/$lookDays")
    val (us, ls, _) = AlphaSpending.futilityBoundaries(
      looks, alpha, beta, spendingU, spendingL)
    crossingFold(lookFrame(events, idCol, tsCol, convCond, looks, lookDays, seed),
      "upper:double,lower:double", (k, z) => {
        val up = element_at(lit(us), k)
        val lo = element_at(lit(ls), k)
        val dec = when(z.isNotNull && z >= up, lit("stop_efficacy"))
          .when(z.isNotNull && z < lo, lit("stop_futility"))
          .otherwise(lit("continue"))
        (Seq(up.as("upper"), lo.as("lower")), dec, dec =!= "continue")
      }, Seq(round(col("_e.upper"), 6).as("upper"),
        (round(col("_e.lower"), 6) + lit(0.0)).as("lower")))
  }

  /** Conditional power / B-value monitor (Lan & Wittes '88 B-values;
    * Proschan-Hunsberger conditional power; gsDesign ssrCP's readout) —
    * the "how is the trial trending" companion the stopping monitors
    * above don't answer: at look k with information fraction t_k and
    * one-sided z_k, the B-value B_k = z_k·√t_k walks a Brownian path
    * whose endpoint decides the trial, and conditional power is the
    * probability of finishing above the final efficacy bound u_K:
    *
    *   CP(θ) = 1 − Φ( (u_K − B_k − θ·(1−t_k)) / √(1−t_k) ),
    *
    * reported under the CURRENT TREND θ̂ = B_k/t_k (`cp_trend` — the
    * sample-size-re-estimation input) and under H0 θ=0 (`cp_null` —
    * the curtailment readout). At the final look the conditioning
    * collapses: CP = 1 if z_K ≥ u_K else 0.
    *
    * Φ on these DATA-DEPENDENT arguments is [[graft.functions.Normal]]
    * (A&S 26.2.17 — fixed-order IEEE arithmetic + the one exp the
    * suite already trusts cross-engine), NOT libm erf; u_K is the
    * frozen [[AlphaSpending.oneSidedBoundaries]] literal. No stopping
    * fold — all K looks are emitted (a monitoring readout, not a
    * decision rule; pair with [[groupSequentialFutility]] to act).
    *
    * Output: (look, n_c, n_t, x_c, x_t, z, b_value, cp_trend, cp_null).
    *
    * Scale shape (100 TB): the ONE [[lookFrame]] aggregate of every
    * monitor here; the [[cumulativeLooks]] pass rides the K-row grid
    * (bounded window by construction).
    */
  def conditionalPower(events: DataFrame, idCol: String, tsCol: String,
      convCond: Column, looks: Int = 5, lookDays: Int = 6,
      alpha: Double = 0.025, spendingU: String = "obf",
      seed: String = "gs"): DataFrame = {
    require(looks >= 2 && lookDays >= 1,
      s"conditionalPower: need looks>=2, lookDays>=1, got $looks/$lookDays")
    val uK = AlphaSpending.oneSidedBoundaries(looks, alpha, spendingU).last
    val z = pooledZ(col("nc"), col("nt"), col("xc"), col("xt"))
    val tk = col("_k").cast("double") / lit(looks.toDouble)
    val b = z * sqrt(tk)
    val rem = lit(1.0) - tk
    val sr = sqrt(rem)
    val cpNull = lit(1.0) - graft.functions.Normal.cdf((lit(uK) - b) / sr)
    val cpTrend = lit(1.0) -
      graft.functions.Normal.cdf((lit(uK) - b - (b / tk) * rem) / sr)
    val atEnd = col("_k") === looks
    val endCp = when(z >= lit(uK), lit(1.0)).otherwise(lit(0.0))
    cumulativeLooks(events, idCol, tsCol, convCond, looks, lookDays, seed)
      .select(col("_k").as("look"), col("nc").as("n_c"), col("nt").as("n_t"),
        col("xc").as("x_c"), col("xt").as("x_t"),
        (round(z, 6) + lit(0.0)).as("z"),
        (round(b, 6) + lit(0.0)).as("b_value"),
        (round(when(atEnd, endCp).otherwise(cpTrend), 6) + lit(0.0)).as("cp_trend"),
        (round(when(atEnd, endCp).otherwise(cpNull), 6) + lit(0.0)).as("cp_null"))
      .orderBy("look")
  }

  /** Sample-size re-estimation on conditional power (Mehta & Pocock
    * '11 "promising zone", Cui-Hung-Wang '99 weighting; gsDesign's
    * ssrCP) — the DECISION layer on top of [[conditionalPower]]'s
    * readout: at each interim look the trial is classified by its
    * conditional power under the current trend θ̂ = B_k/t_k into
    *
    *   favorable    CP ≥ 1−β            — on track, no change;
    *   promising    cpMin ≤ CP < 1−β    — underpowered but salvageable:
    *                re-estimate the remaining information so CP returns
    *                to 1−β;
    *   unfavorable  CP < cpMin          — re-estimation would demand an
    *                unrealistic inflation; leave the design alone.
    *
    * In the promising zone the second-stage inflation has a CLOSED
    * FORM under CHW weighting (the final statistic keeps the original
    * weights √t_k, √(1−t_k), so the type-I error is preserved without
    * re-solving the boundary): the re-weighted conditional power at
    * second-stage inflation r is
    *
    *   CP(r) = 1 − Φ( (u_K − B_k)/√(1−t_k) − θ̂·√(r·(1−t_k)) ),
    *
    * and CP(r) = 1−β solves to
    *
    *   r* = ( (u_K − B_k)/(1−t_k) + z_{1−β}/√(1−t_k) )² / θ̂²,
    *
    * clamped into [1, (maxTotal − t_k)/(1−t_k)] — the Mehta-Pocock
    * n_max cap (default: at most double the planned total
    * information). r = 1 outside the promising zone; at r = 1 the CHW
    * statistic is the ordinary one and CP(1) is exactly
    * [[conditionalPower]]'s cp_trend (the identity EventsSpec pins).
    *
    * Emits all K looks (a monitoring readout, not a stopping rule —
    * pair with [[groupSequentialFutility]] to act): (look, n_c, n_t,
    * x_c, x_t, z, b_value, cp_trend, zone, inflation, t_new, cp_adj)
    * where t_new = t_k + r·(1−t_k) is the re-estimated total
    * information fraction and cp_adj = CP(r) (≈ 1−β inside the zone
    * unless the cap bound it). At the final look the conditioning
    * collapses (zone 'final', r = 1, cp = 1 if z_K ≥ u_K else 0).
    *
    * Φ on data-dependent arguments is [[graft.functions.Normal]]
    * (A&S 26.2.17, mirrored verbatim in the oracle); u_K and z_{1−β}
    * are FROZEN driver-side literals (the ldBoundaries discipline).
    *
    * Scale shape (100 TB): identical to [[conditionalPower]] — ONE
    * [[lookFrame]] aggregate, the [[cumulativeLooks]] K-row window,
    * then per-row arithmetic; the re-estimation itself touches no
    * data.
    */
  def ssrCP(events: DataFrame, idCol: String, tsCol: String,
      convCond: Column, looks: Int = 5, lookDays: Int = 6,
      alpha: Double = 0.025, spendingU: String = "obf",
      beta: Double = 0.1, cpMin: Double = 0.365, maxTotal: Double = 2.0,
      seed: String = "gs"): DataFrame = {
    require(looks >= 2 && lookDays >= 1,
      s"ssrCP: need looks>=2, lookDays>=1, got $looks/$lookDays")
    require(beta > 0 && beta < 0.5, s"ssrCP: need beta in (0,0.5), got $beta")
    require(cpMin > 0 && cpMin < 1 - beta,
      s"ssrCP: need 0 < cpMin < 1-beta, got $cpMin vs ${1 - beta}")
    require(maxTotal > 1.0, s"ssrCP: need maxTotal > 1, got $maxTotal")
    val uK = AlphaSpending.oneSidedBoundaries(looks, alpha, spendingU).last
    // frozen driver-side literal: z_{1-beta} via the same commons-math
    // quantile the boundary solvers use — embedded as a Double literal
    // in both engines, so its last ulp cannot split hashes
    val zPow = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
      .inverseCumulativeProbability(1.0 - beta)
    // The CHW cascade is STAGED through projections (the pqEncode
    // discipline): z → B/t → θ̂ → CP(trend) → r* → r → CP(r) each
    // materialize as a multi-referenced non-cheap alias, which
    // CollapseProject keeps — inlining them as nested Column trees
    // made the ANALYZED plan copy the whole cascade once per
    // reference (two Φ polynomials deep) and plan compilation alone
    // cost ~20 s per build (measured; 13 MiB task binaries).
    val st1 = cumulativeLooks(events, idCol, tsCol, convCond, looks, lookDays, seed)
      .withColumn("_z", pooledZ(col("nc"), col("nt"), col("xc"), col("xt")))
      .withColumn("_tk", col("_k").cast("double") / lit(looks.toDouble))
    val st2 = st1
      .withColumn("_b", col("_z") * sqrt(col("_tk")))
      .withColumn("_rem", lit(1.0) - col("_tk"))
    // every staged division that hits rem = 0 at the final look (or
    // θ̂ = 0 on an exact tie) is when()-guarded — ANSI double division
    // by zero THROWS, and a staged column evaluates unconditionally
    // where the old nested form rode the CaseWhen short-circuit
    val st3 = st2
      .withColumn("_sr", sqrt(col("_rem")))
      .withColumn("_th", col("_b") / col("_tk"))
      .withColumn("_mid", col("_k") < looks)
    val st4 = st3
      .withColumn("_cpt", when(col("_mid"), lit(1.0) -
        graft.functions.Normal.cdf(
          (lit(uK) - col("_b") - col("_th") * col("_rem")) / col("_sr"))))
      .withColumn("_base", when(col("_mid"),
        (lit(uK) - col("_b")) / col("_rem") + lit(zPow) / col("_sr")))
    val st5 = st4
      .withColumn("_prom", col("_cpt") >= lit(cpMin) &&
        col("_cpt") < lit(1.0 - beta) && col("_th") > lit(0.0))
      .withColumn("_rstar", when(col("_th") > lit(0.0) && col("_mid"),
        (col("_base") * col("_base")) / (col("_th") * col("_th"))))
    val st6 = st5
      .withColumn("_r", when(col("_prom"),
        least(greatest(col("_rstar"), lit(1.0)),
          (lit(maxTotal) - col("_tk")) / col("_rem"))).otherwise(lit(1.0)))
    val st7 = st6
      .withColumn("_cpadj", when(col("_mid"), lit(1.0) -
        graft.functions.Normal.cdf(
          (lit(uK) - col("_b")) / col("_sr") -
            col("_th") * sqrt(col("_r") * col("_rem")))))
    val zone = when(col("_cpt") >= lit(1.0 - beta), lit("favorable"))
      .when(col("_prom"), lit("promising"))
      .otherwise(lit("unfavorable"))
    val atEnd = col("_k") === looks
    val endCp = when(col("_z") >= lit(uK), lit(1.0)).otherwise(lit(0.0))
    st7.select(col("_k").as("look"), col("nc").as("n_c"), col("nt").as("n_t"),
        col("xc").as("x_c"), col("xt").as("x_t"),
        (round(col("_z"), 6) + lit(0.0)).as("z"),
        (round(col("_b"), 6) + lit(0.0)).as("b_value"),
        (round(when(atEnd, endCp).otherwise(col("_cpt")), 6) + lit(0.0)).as("cp_trend"),
        when(col("_z").isNull, lit(null).cast("string"))
          .when(atEnd, lit("final")).otherwise(zone).as("zone"),
        (round(when(col("_z").isNull, lit(null).cast("double"))
          .when(atEnd, lit(1.0)).otherwise(col("_r")), 6) + lit(0.0)).as("inflation"),
        (round(when(col("_z").isNull, lit(null).cast("double")).when(atEnd, lit(1.0))
          .otherwise(col("_tk") + col("_r") * col("_rem")), 6) + lit(0.0)).as("t_new"),
        (round(when(atEnd, endCp).otherwise(col("_cpadj")), 6) + lit(0.0)).as("cp_adj"))
      .orderBy("look")
  }

  /** Nelson-Aalen cumulative hazard (Nelson '72, Aalen '78) — the
    * additive companion to [[kaplanMeier]]'s multiplicative survival:
    * H(t) = Σ_{tᵢ<=t} dᵢ/nᵢ over event-time buckets, plus the
    * Fleming-Harrington survival estimate S̃ = exp(−H) (a better
    * small-sample estimator than KM and the standard input to hazard
    * plots). Identical scale shape and float discipline as KM: a
    * t-ordered fold over the same [[deathBuckets]] list with exact
    * BIGINT risk counts — hazard increments
    * d/n are IEEE-exact divisions accumulated in t order, exp at the
    * round(6) readout only.
    *
    * Output: (t, n_risk, deaths, cum_hazard, survival_fh) per bucket
    * with deaths > 0.
    */
  def nelsonAalen(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, unitMicros: Long = 3600000000L): DataFrame = {
    require(unitMicros >= 1, s"nelsonAalen: need unitMicros>=1, got $unitMicros")
    val pathT = "array<struct<t:bigint,nr:bigint,d:bigint,h:double>>"
    deathBuckets(events, userCol, tsCol, deathCond, unitMicros)
      .select(aggregate(col("_l"),
        struct(col("_n").as("rem"), lit(0.0).as("h"),
          array().cast(pathT).as("path")),
        (acc, x) => {
          val nr = acc.getField("rem")
          val h2 = acc.getField("h") +
            x.getField("_d").cast("double") / nr.cast("double")
          struct(
            (nr - x.getField("_d") - x.getField("_c")).as("rem"),
            h2.as("h"),
            concat(acc.getField("path"),
              array(struct(x.getField("_t").as("t"), nr.as("nr"),
                x.getField("_d").as("d"), h2.as("h")))).as("path"))
        }).getField("path").as("_p"))
      .select(explode(col("_p")).as("_e"))
      .filter(col("_e.d") > 0)
      .select(col("_e.t").as("t"), col("_e.nr").as("n_risk"),
        col("_e.d").as("deaths"), round(col("_e.h"), 6).as("cum_hazard"),
        round(exp(lit(0.0) - col("_e.h")), 6).as("survival_fh"))
  }

  /** Two-group log-rank test (Mantel '66) — the significance companion
    * to [[kaplanMeier]]: are the two arms' time-to-event curves the
    * same? Per death-time bucket t, group 1 is expected to carry
    * e1_t = d_t·n1_t/n_t of the d_t deaths under H0, with
    * hypergeometric variance v_t = d_t·p·(1−p)·(n_t−d_t)/(n_t−1),
    * p = n1_t/n_t; z = (O1 − E1)/√V. This is the one-stratum case of
    * [[logRankStratified]], without its `n_strata` column.
    *
    * Output one row: (n1, n2, o1, e1, v, z); z null when V = 0.
    */
  def logRankTest(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, group1: Column,
      unitMicros: Long = 3600000000L): DataFrame =
    logRankStratified(events, userCol, tsCol, deathCond, group1, lit(0),
      unitMicros).drop("n_strata")

  /** Markov removal-effect attribution (Anderl et al. '14 — the
    * "data-driven attribution" model): journeys become a first-order
    * Markov chain over START → channels → {CONV, NULL}; a channel's
    * credit is its REMOVAL EFFECT — how much total conversion
    * probability disappears when the channel is deleted (its
    * transitions redirected to NULL) — normalized into shares. The
    * position/Shapley rules divide credit among touched channels only;
    * the Markov model also prices a channel's role as a PATHWAY.
    *
    * The absorbing-chain solve is a |channels|×|channels| linear
    * system — metadata-sized at ANY corpus scale — solved driver-side
    * on the counts of ONE distributed aggregate (the
    * stratified-allocation driver-read precedent, Sampling.scala:101).
    * The solve is Cramer's rule over FIXED-ORDER Leibniz determinants
    * ([[MarkovSolve]]), not Gaussian elimination: pivoting picks its
    * float path from data values, while the Leibniz term order is a
    * constant of m — so the oracle SQL generated from the same
    * permutation enumeration replays the solve bit-for-bit and the
    * declared query is hash-checked, not rows-only. Requires
    * |channels| <= 6 (m! terms per determinant).
    *
    * Output: (channel, removal_conv, effect, share) per channel,
    * each quantized by the portable floor(x*1e6 + 0.5)/1e6 half-up
    * grid (math.rint's half-even tie rule has no DuckDB twin).
    *
    * Scale shape (100 TB): the user-key window + the ≤(n+1)(n+2)-cell
    * transition aggregate are the only corpus-sized work; the driver
    * sees one tiny count matrix.
    */
  def markovRemovalAttribution(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, convType: String,
      channels: Seq[String]): DataFrame = {
    val n = channels.length
    require(n >= 1 && n <= 6 && !channels.contains(convType),
      "markovRemovalAttribution: need 1..6 channels excluding convType")
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val spark = events.sparkSession
    // conversion time per user (null = never converts)
    val conv = events.groupBy(col(userCol).as("_u"))
      .agg(min(when(col(typeCol) === convType, micros)).as("_cts"))
    val touches = events.filter(col(typeCol).isin(channels: _*))
      .select(col(userCol).as("_tu"), col(typeCol).as("_ty"),
        micros.as("_ts"), col(idCol).as("_id"))
      .join(conv, col("_tu") === col("_u"))
      .filter(col("_cts").isNull || col("_ts") < col("_cts"))
    val w = Window.partitionBy(col("_tu")).orderBy(col("_ts"), col("_id"))
    val seq0 = touches
      .withColumn("_next", lead(col("_ty"), 1).over(w))
      .withColumn("_rn", row_number().over(w))
    // channel->channel plus last->absorber; START->first from _rn=1;
    // users with no touches: START->absorber directly
    val chTrans = seq0.select(col("_ty").as("_from"),
      coalesce(col("_next"),
        when(col("_cts").isNotNull, lit("CONV")).otherwise(lit("NULL")))
        .as("_to"))
    val startTrans = seq0.filter(col("_rn") === 1)
      .select(lit("START").as("_from"), col("_ty").as("_to"))
    val bare = conv.join(touches.select(col("_tu")).distinct(),
        col("_u") === col("_tu"), "left_anti")
      .select(lit("START").as("_from"),
        when(col("_cts").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("_to"))
    // the transition key space is structurally (n+2)² — channels plus
    // {START, CONV, NULL} — because every _from/_to rides the isin
    // filter; the limit+require makes that bound a HARD driver-read
    // guarantee a refactor can't silently lose (100 TB misuse fails
    // loudly instead of collecting a data-sized map)
    val maxCells = (n + 2) * (n + 2)
    val counts = graft.core.Util.boundedCollect(
        chTrans.unionByName(startTrans).unionByName(bare)
          .groupBy("_from", "_to").agg(count(lit(1)).as("_c")),
        maxCells, "markovRemovalAttribution transition matrix")
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // driver-side: row-normalize, absorption via (I - M) a = pConv
    val states = "START" +: channels
    def p(f: String, t: String): Double = {
      val tot = counts.collect { case ((`f`, _), c) => c }.sum
      if (tot == 0L) 0.0 else counts.getOrElse((f, t), 0L).toDouble / tot
    }
    def convProb(removed: Set[String]): Double = {
      // redirect transitions into removed channels to NULL; solve the
      // m x m (I - M) a = pConv by Cramer over fixed-order Leibniz
      // determinants (engine-portable), then propagate through START
      val live = channels.filterNot(removed)
      val m = live.size
      def aEnt(i: Int, j: Int): Double =
        (if (i == j) 1.0 else 0.0) - p(live(i), live(j))
      def bEnt(i: Int): Double = p(live(i), "CONV")
      val dA = MarkovSolve.det(m, aEnt)
      val sol = (0 until m).map { k =>
        if (math.abs(dA) > 1e-12)
          MarkovSolve.det(m, (i, j) => if (j == k) bEnt(i) else aEnt(i, j)) / dA
        else 0.0
      }
      p("START", "CONV") +
        live.zipWithIndex.map { case (c, i) => p("START", c) * sol(i) }.sum
    }
    val base = convProb(Set.empty)
    val effects = channels.map(c => c -> (base - convProb(Set(c))))
    val totEff = effects.map(_._2).sum
    // portable half-up quantization (+0.0 normalizes any signed zero)
    def q6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6 + 0.0
    import spark.implicits._
    effects.map { case (c, e) =>
      (c, q6(base - e), q6(e), if (totEff > 0) q6(e / totEff) else 0.0)
    }.toDF("channel", "removal_conv", "effect", "share")
  }

  /** STRATIFIED log-rank test (Mantel-Haenszel form) — the
    * [[logRankTest]] comparison run WITHIN strata with the O/E/V
    * contributions summed across them: the arm comparison stays valid
    * when the strata (e.g. customer segment) have different baseline
    * hazards that would confound the pooled test; one constant stratum
    * is the pooled test. `stratum` must be constant per user (taken as
    * min() over the user's rows — deterministic). At-risk counts are
    * EXACT BIGINTs — per-stratum prefix sums over the time-grid bucket
    * aggregate (no fold needed); E/V accumulate as (stratum, t)-ordered
    * float folds (engine-portable); O1 is an exact integer.
    *
    * Output one row: (n_strata, n1, n2, o1, e1, v, z); z null at V=0.
    *
    * Scale shape (100 TB): the [[observations]] pass is the only
    * corpus-sized exchange, and it runs once: its (stratum, t) bucket
    * aggregate feeds one stratum-partitioned window (sizes and risk
    * sets) and one global aggregate (strata, sizes, O and the E/V
    * lists). No global window at all, and the folds ride the
    * OBSERVATION-WINDOW grid, never rows.
    */
  def logRankStratified(events: DataFrame, userCol: String, tsCol: String,
      deathCond: Column, group1: Column, stratum: Column,
      unitMicros: Long = 3600000000L): DataFrame = {
    require(unitMicros >= 1, s"logRankStratified: need unitMicros>=1")
    val obs = observations(events, userCol, tsCol, deathCond, unitMicros,
        min(stratum).as("_st"))(
      (t, died) => Seq(col("_st"), t, died.as("_death"), group1.as("_g1")))
    val b = obs.groupBy(col("_st"), col("_t")).agg(
      sum(when(col("_g1") && col("_death"), 1L).otherwise(0L)).as("_d1"),
      sum(when(col("_g1") && !col("_death"), 1L).otherwise(0L)).as("_c1"),
      sum(when(!col("_g1") && col("_death"), 1L).otherwise(0L)).as("_d2"),
      sum(when(!col("_g1") && !col("_death"), 1L).otherwise(0L)).as("_c2"))
    // subjects leaving each group at t; per stratum, ordered by t: the
    // group sizes and the subjects gone before t (a stratum's first
    // bucket has none before it: null)
    val out1 = col("_d1") + col("_c1")
    val out2 = col("_d2") + col("_c2")
    val byT = Window.partitionBy(col("_st")).orderBy(col("_t"))
    val all = byT.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val before = byT.rowsBetween(Window.unboundedPreceding, -1)
    val risk = b.select(col("*"),
        sum(out1).over(all).as("_N1"), sum(out2).over(all).as("_N2"),
        sum(out1).over(before).as("_b1"), sum(out2).over(before).as("_b2"))
      .withColumn("_n1", col("_N1") - coalesce(col("_b1"), lit(0L)))
      .withColumn("_n2", col("_N2") - coalesce(col("_b2"), lit(0L)))
    val dt = (col("_d1") + col("_d2")).cast("double")
    val nt = (col("_n1") + col("_n2")).cast("double")
    val p = col("_n1").cast("double") / nt
    val e1t = dt * p
    val vt = when(col("_n1") + col("_n2") > 1L,
      dt * p * (lit(1.0) - p) *
        ((nt - dt) / (nt - lit(1.0)))).otherwise(lit(0.0))
    // one global aggregate over the (stratum, t) grid: the strata and
    // group sizes over every bucket, the O/E/V terms over the buckets
    // with a death
    val death = col("_d1") + col("_d2") > 0L
    val folded = risk.agg(
      count(when(col("_b1").isNull, 1)).as("n_strata"),
      sum(out1).as("n1"), sum(out2).as("n2"),
      sum(when(death, col("_d1"))).as("o1"),
      collect_list(when(death, struct(col("_st"), col("_t"),
        e1t.as("_e"), vt.as("_v")))).as("_l"))
    def osum(f: String) =
      aggregate(transform(sort_array(col("_l")), x => x.getField(f)),
        lit(0.0), (acc, x) => acc + x)
    folded
      .select(col("n_strata"), col("n1"), col("n2"), col("o1"),
        round(osum("_e"), 6).as("e1"), round(osum("_v"), 6).as("v"),
        when(osum("_v") > 0.0,
          round((col("o1").cast("double") - osum("_e")) / sqrt(osum("_v")), 6))
          .as("z"))
  }

  /** Difference-in-differences (Card-Krueger '94 shape) on two event
    * types' daily count series around a literal cutover date: the
    * causal-reading companion to cusum's detection — CUSUM says WHEN
    * the error series shifted, DiD says HOW MUCH of the shift survives
    * after subtracting whatever moved the control series too.
    * did = (ȳ_treated,post − ȳ_treated,pre) − (ȳ_control,post −
    * ȳ_control,pre); all four means are exact BIGINT/BIGINT divisions
    * from ONE conditional aggregate (no joins, no second scan), the
    * three subtractions are fixed-order IEEE, round(6) readouts.
    *
    * Output one row: (n_days_pre, n_days_post, treated_pre,
    * treated_post, control_pre, control_post, did).
    *
    * Scale shape (100 TB): the daily roll-up is the only corpus-sized
    * exchange; the DiD algebra runs on a 1-row global aggregate.
    */
  def diffInDiff(events: DataFrame, typeCol: String, tsCol: String,
      treated: String, control: String, cutover: String): DataFrame = {
    require(treated != control, "diffInDiff: treated must differ from control")
    val daily = events
      .filter(col(typeCol).isin(treated, control))
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_post", col("_day") >= lit(cutover).cast("date"))
    def s(t: String, post: Boolean) =
      sum(when(col("_t") === t && col("_post") === post, col("_cnt"))
        .otherwise(0L))
    def n(post: Boolean) =
      sum(when(col("_t") === treated && col("_post") === post, 1L)
        .otherwise(0L))
    val agg = daily.agg(
      n(false).as("n_days_pre"), n(true).as("n_days_post"),
      s(treated, false).as("_tp0"), s(treated, true).as("_tp1"),
      s(control, false).as("_cp0"), s(control, true).as("_cp1"),
      sum(when(col("_t") === control && !col("_post"), 1L).otherwise(0L))
        .as("_nc0"),
      sum(when(col("_t") === control && col("_post"), 1L).otherwise(0L))
        .as("_nc1"))
    val tPre = col("_tp0").cast("double") / col("n_days_pre").cast("double")
    val tPost = col("_tp1").cast("double") / col("n_days_post").cast("double")
    val cPre = col("_cp0").cast("double") / col("_nc0").cast("double")
    val cPost = col("_cp1").cast("double") / col("_nc1").cast("double")
    agg.select(col("n_days_pre"), col("n_days_post"),
      round(tPre, 6).as("treated_pre"), round(tPost, 6).as("treated_post"),
      round(cPre, 6).as("control_pre"), round(cPost, 6).as("control_post"),
      // + 0.0: the double difference can hit IEEE −0.0; normalized
      // identically in the oracle SQL
      (round((tPost - tPre) - (cPost - cPre), 6) + lit(0.0)).as("did"))
  }

  /** EXACT Shapley-value channel attribution (Shapley '53 applied to
    * the marketing coalition game, cf. Zhao et al. '18) — the
    * axiomatically fair division position rules approximate: each
    * converting user contributes their PRE-conversion channel SET to a
    * 2^n-subset game with v(S) = #conversions reachable using channels
    * in S alone (masks ⊆ S), and channel i gets
    * Σ_{S∌i} |S|!(n−1−|S|)!·(v(S∪i)−v(S)) / n!. With n = |channels|
    * small (the real-world case), everything after ONE user-level
    * distinct is arithmetic on a 2^n-row frame: factorial weights are
    * integer literals, v() differences exact BIGINTs, and the single
    * division by n! happens at the round(6) readout. Efficiency axiom
    * (Σ shapley = v(full) − v(∅)) is spec-asserted.
    *
    * Output: (channel, numer, shapley) per channel — numer the exact
    * integer numerator (×n!), the auditable half.
    *
    * Scale shape (100 TB): conv join + per-user distinct are the only
    * corpus-sized exchanges (the attribution_join shape); the subset
    * game rides 2^n- and n·2^(n−1)-row literals.
    */
  def shapleyAttribution(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, convType: String, channels: Seq[String]): DataFrame = {
    val n = channels.length
    require(n >= 1 && n <= 16 && !channels.contains(convType),
      s"shapleyAttribution: need 1..16 channels excluding convType")
    val spark = events.sparkSession
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val conv = events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("_u")).agg(min(micros).as("_cts"))
    val touched = events.filter(col(typeCol).isin(channels: _*))
      .select(col(userCol).as("_tu"), col(typeCol).as("_ty"), micros.as("_ts"))
      .join(conv, col("_tu") === col("_u"))
      .filter(col("_ts") < col("_cts"))
      .select(col("_tu"), col("_ty")).distinct()
    val bitOf = channels.zipWithIndex
      .map { case (c, i) => when(col("_ty") === c, lit(1L << i)).otherwise(0L) }
      .reduce(_ + _)
    val masks = conv.join(touched, col("_u") === col("_tu"), "left")
      .groupBy(col("_u"))
      .agg(coalesce(sum(when(col("_ty").isNotNull, bitOf)), lit(0L)).as("_mask"))
    val m = masks.groupBy(col("_mask")).agg(count(lit(1)).as("_c"))
    val subsets = spark.range(0, 1L << n).select(col("id").as("_sv"))
    // no broadcast hint on m: it IS 2^n-bounded (mask domain), but the
    // planner can't know that — AQE sees the 16-row aggregate at
    // runtime and broadcasts on its own
    val v = subsets.join(m,
        col("_mask").bitwiseAND(col("_sv")) === col("_mask"), "left")
      .groupBy(col("_sv")).agg(coalesce(sum(col("_c")), lit(0L)).as("_v"))
      .withColumn("_pc", expr("bit_count(_sv)"))
    def fact(k: Int): Long = (1 to k).foldLeft(1L)(_ * _)
    val wCase = (1 until n).foldLeft(
        when(col("vs._pc") === 0, lit(fact(0) * fact(n - 1)))) { (acc, s0) =>
      acc.when(col("vs._pc") === s0, lit(fact(s0) * fact(n - 1 - s0)))
    }
    import spark.implicits._
    val ch = channels.zipWithIndex.map { case (c, i) => (c, 1L << i) }
      .toDF("channel", "_bit")
    val terms = ch.join(v.as("vs"),
        col("vs._sv").bitwiseAND(col("_bit")) === 0L)
      .join(v.as("vi"),
        col("vi._sv") === col("vs._sv").bitwiseOR(col("_bit")))
      .select(col("channel"),
        (wCase * (col("vi._v") - col("vs._v"))).as("_t"))
    terms.groupBy(col("channel")).agg(sum(col("_t")).as("numer"))
      .select(col("channel"), col("numer"),
        round(col("numer").cast("double") / lit(fact(n).toDouble), 6)
          .as("shapley"))
  }

  /** Additive Holt-Winters triple exponential smoothing (Winters '60)
    * over the per-type daily count series, period `m` — the seasonal
    * extension of [[holtDaily]] (which a weekly-cycled series defeats:
    * its trend chases the cycle). Deterministic init from the FIRST m
    * observed days: level = their mean, trend = 0, seasonal_j = y_j −
    * level; from day m+1 the classic recursion runs as an expression
    * fold over the |days|-bounded per-type grid, carrying the m
    * seasonal indices as a rotating array. `fitted` is the one-step-
    * ahead forecast (s + b + c_{t−m}) made BEFORE seeing y_t — the
    * honest backtest column. All smoothing constants and complements
    * are SEPARATE literals (α'=1−α etc.) so the oracle's recursive CTE
    * replays the float sequence bitwise; emissions round(6).
    *
    * Output: (typeCol, day, cnt, level, trend, seasonal, fitted) for
    * observed days after the init season, ordered by the caller.
    *
    * Scale shape (100 TB): identical to holtDaily — ONE daily roll-up
    * shuffle, then a per-type fold whose state is m+2 doubles; the
    * sequential recursion is inherent to the model, bounded by |days|,
    * never by rows.
    */
  def holtWintersDaily(events: DataFrame, typeCol: String, tsCol: String,
      m: Int = 7,
      alpha: Double = 0.3, alphaC: Double = 0.7,
      beta: Double = 0.2, betaC: Double = 0.8,
      gamma: Double = 0.1, gammaC: Double = 0.9): DataFrame = {
    require(m >= 2, s"holtWintersDaily: need m>=2, got $m")
    require(math.abs(alpha + alphaC - 1.0) < 1e-9 &&
      math.abs(beta + betaC - 1.0) < 1e-9 &&
      math.abs(gamma + gammaC - 1.0) < 1e-9,
      "holtWintersDaily: complements must pair to 1")
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
    val pathT = "array<struct<day:date,cnt:bigint,s:double,b:double," +
      "cn:double,fit:double>>"
    val zero = struct(
      array().cast("array<double>").as("buf"),
      lit(0.0).as("s"), lit(0.0).as("b"),
      array().cast("array<double>").as("c"),
      array().cast(pathT).as("path"))
    daily.groupBy(col("_t"))
      .agg(sort_array(collect_list(struct(col("_day"), col("_cnt")))).as("_l"))
      .select(col("_t"),
        aggregate(col("_l"), zero, (acc, x) => {
          val y = x.getField("_cnt").cast("double")
          val buf = acc.getField("buf")
          val c = acc.getField("c")
          val s = acc.getField("s")
          val b = acc.getField("b")
          // phase 3 (run): rotate seasonals, emit a path row
          val c0 = element_at(c, 1)
          val fit = s + b + c0
          val s2 = lit(alpha) * (y - c0) + lit(alphaC) * (s + b)
          val b2 = lit(beta) * (s2 - s) + lit(betaC) * b
          val cn = lit(gamma) * (y - s2) + lit(gammaC) * c0
          val run = struct(buf.as("buf"), s2.as("s"), b2.as("b"),
            concat(slice(c, 2, m - 1), array(cn)).as("c"),
            concat(acc.getField("path"), array(struct(
              x.getField("_day").as("day"), x.getField("_cnt").as("cnt"),
              s2.as("s"), b2.as("b"), cn.as("cn"), fit.as("fit")))).as("path"))
          // phase 2 (init completes): first m values known -> level/seasonals
          val ys = concat(buf, array(y))
          val s0 = aggregate(ys, lit(0.0), (a, v) => a + v) / lit(m.toDouble)
          val init = struct(buf.as("buf"), s0.as("s"), lit(0.0).as("b"),
            transform(ys, v => v - s0).as("c"),
            acc.getField("path").as("path"))
          // phase 1 (buffering the first season)
          val buffer = struct(concat(buf, array(y)).as("buf"), s.as("s"),
            b.as("b"), c.as("c"), acc.getField("path").as("path"))
          when(size(c) > 0, run)
            .when(size(buf) === m - 1, init)
            .otherwise(buffer)
        }).getField("path").as("_p"))
      .select(col("_t").as(typeCol), explode(col("_p")).as("_e"))
      .select(col(typeCol), col("_e.day").as("day"), col("_e.cnt").as("cnt"),
        // + 0.0 after round: trend/seasonal are subtraction-derived and
        // can land on IEEE −0.0 (r8 failed on exactly one such sign
        // bit) — normalize at emission on BOTH engines
        (round(col("_e.s"), 6) + lit(0.0)).as("level"),
        (round(col("_e.b"), 6) + lit(0.0)).as("trend"),
        (round(col("_e.cn"), 6) + lit(0.0)).as("seasonal"),
        (round(col("_e.fit"), 6) + lit(0.0)).as("fitted"))
  }

  /** Rolling Pearson correlation of two event types' DAILY counts over
    * a trailing `windowDays` frame — the dashboard question "are errors
    * tracking clicks this week?". Both series come out of ONE daily
    * roll-up (conditional sums — no join of two filtered scans); the
    * six window sums (n, Σx, Σy, Σx², Σy², Σxy) are exact BIGINTs over
    * one shared RANGE frame; r = (nΣxy − ΣxΣy) / (√(nΣx²−Σx²)·
    * √(nΣy²−Σy²)) is a fixed-order double expression at the readout
    * (sqrt and division are IEEE-exact on identical operands),
    * round(6), null when either variance is 0. The squared-moment
    * window sums carry as DECIMAL(38,0), and the readout's cross
    * products (n·Σx² − (Σx)² etc.) form over DECIMAL operands too —
    * a bare Σx·Σx stays BIGINT and overflows once a 7-day window sum
    * passes ~3e9 (~4e8 events/day), far below the moment sums' own
    * bound. With both hardened the pipeline is exact to ~10¹⁸ of
    * window mass.
    *
    * Output: (day, x, y, n_days, corr).
    *
    * Scale shape (100 TB): the corpus-sized work is the single daily
    * roll-up (map-side combinable); the ordered window rides the
    * |days|-bounded GRID — the rolling_revenue_7d class.
    */
  def rollingCorrDaily(events: DataFrame, typeCol: String, tsCol: String,
      typeA: String, typeB: String, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 2, s"rollingCorrDaily: need windowDays>=2, got $windowDays")
    val daily = events
      .groupBy(datediff(col(tsCol).cast("date"), to_date(lit("1970-01-01")))
        .cast("long").as("_d"))
      .agg(sum(when(col(typeCol) === typeA, 1L).otherwise(0L)).as("x"),
        sum(when(col(typeCol) === typeB, 1L).otherwise(0L)).as("y"))
    val w = Window.orderBy(col("_d")).rangeBetween(-(windowDays - 1), 0)
    val m = daily.select(col("_d"), col("x"), col("y"),
      count(lit(1)).over(w).as("_n"),
      sum(col("x")).over(w).as("_sx"), sum(col("y")).over(w).as("_sy"),
      sum(col("x").cast("decimal(19,0)") * col("x")).over(w).as("_sxx"),
      sum(col("y").cast("decimal(19,0)") * col("y")).over(w).as("_syy"),
      sum(col("x").cast("decimal(19,0)") * col("y")).over(w).as("_sxy"))
    val sxd = col("_sx").cast("decimal(19,0)")
    val syd = col("_sy").cast("decimal(19,0)")
    val vx = col("_n") * col("_sxx") - sxd * sxd
    val vy = col("_n") * col("_syy") - syd * syd
    val num = (col("_n") * col("_sxy") - sxd * syd).cast("double")
    m.select(
      date_add(to_date(lit("1970-01-01")), col("_d").cast("int")).as("day"),
      col("x"), col("y"), col("_n").as("n_days"),
      when(vx > 0 && vy > 0,
        round(num / (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))), 6))
        .as("corr"))
  }

  /** Position-based (U-shaped) multi-touch attribution: for each user
    * that converted, the touch events STRICTLY BEFORE the first
    * conversion share credit 40% first touch / 40% last / 20% split
    * across the middles (1 touch → 1.0, 2 touches → 0.5 each — the
    * degenerate cases where first and last collide). The last-touch
    * complement of `attribution_join`'s interval join. Per-touch
    * weights are round(9)-quantized to exact DECIMAL so the per-type
    * credit sums are order-free; readout round(6).
    *
    * Output per touch type: (typeCol, n_touches, credit).
    *
    * Scale shape (100 TB): one conversion-time aggregate + an equi-join
    * back on the user key, one user-keyed rank window over the touch
    * rows, one map-side-combinable credit groupBy. Journey length only
    * bounds the WINDOW partition, never driver state.
    */
  def positionAttribution(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, convType: String,
      touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "positionAttribution: touchTypes must be non-empty and exclude convType")
    val micros = unix_micros(col(tsCol).cast("timestamp"))
    val conv = events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("_u")).agg(min(micros).as("_cts"))
    val touches = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(typeCol), micros.as("_ts"), col(idCol))
      .join(conv, col(userCol) === col("_u"))
      .filter(col("_ts") < col("_cts"))
    val w = Window.partitionBy(col(userCol)).orderBy(col("_ts"), col(idCol))
    val weighted = touches
      .withColumn("_rn", row_number().over(w))
      .withColumn("_m", count(lit(1)).over(Window.partitionBy(col(userCol))))
      .withColumn("_wt",
        when(col("_m") === 1, lit(1.0))
          .when(col("_m") === 2, lit(0.5))
          .when(col("_rn") === 1 || col("_rn") === col("_m"), lit(0.4))
          .otherwise(lit(0.2) / (col("_m") - 2).cast("double")))
    weighted
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_touches"),
        sum(round(col("_wt"), 9).cast("decimal(20,9)")).as("_c"))
      .select(col(typeCol), col("n_touches"),
        round(col("_c").cast("double"), 6).as("credit"))
  }

  /** Frequent consecutive length-3 event-type sequences (the
    * sequential-pattern readout event_transitions' bigram matrix can't
    * see): per user, events in total (ts, idCol) order yield every
    * consecutive (e₁,e₂,e₃) window; patterns are counted corpus-wide
    * and reported with support = cnt / total windows. Top `k` under
    * the (cnt DESC, s1, s2, s3) total order.
    *
    * Scale shape (100 TB): ONE shuffle on the user key (the lead
    * window), then a map-side-combinable pattern groupBy over the
    * |types|³-bounded key space; total-window count rides a broadcast
    * 1-row aggregate; top-k compiles to TakeOrderedAndProject.
    */
  def tripleSequences(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, idCol: String, k: Int = 20): DataFrame = {
    require(k > 0, s"tripleSequences: need k>0, got $k")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val triples = events
      .select(col(userCol), col(typeCol).as("s1"), col(tsCol), col(idCol))
      .withColumn("s2", lead(col("s1"), 1).over(w))
      .withColumn("s3", lead(col("s1"), 2).over(w))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
    val counts = triples.groupBy("s1", "s2", "s3")
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("_tot"))
    counts.crossJoin(broadcast(total))
      .select(col("s1"), col("s2"), col("s3"), col("cnt"),
        round(col("cnt").cast("double") / col("_tot").cast("double"), 6)
          .as("support"))
      .orderBy(col("cnt").desc, col("s1"), col("s2"), col("s3"))
      .limit(k)
  }

  /** Day-of-week-adjusted volume anomalies: a Monday spike should be
    * judged against Mondays (weekly seasonality would otherwise drown
    * or fake alarms). Per (type, dow) cell the residual is carried as
    * the EXACT integer n·x − S (the n-scaled form — the rational
    * dow-mean never becomes a float), MAD = the exact
    * percentile_disc median of |n·x − S| within the cell (rank
    * arithmetic, [[graft.operators.Stats]] mad_outliers discipline),
    * and a day flags when |n·x − S| > mult·MAD with MAD > 0. Dow from
    * integer epoch-day arithmetic ((day + 4) % 7 — engine builtins
    * disagree on numbering).
    *
    * Output: (typeCol, day, cnt, n_dow, resid_scaled, mad_scaled),
    * flagged days only.
    *
    * Scale shape (100 TB): one daily roll-up (map-side combinable);
    * everything downstream — dow stats, rank window, MAD join — rides
    * the |days|-bounded aggregate.
    */
  def dowAdjustedAnomalies(events: DataFrame, typeCol: String, tsCol: String,
      madMult: Double = 3.0): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_x"))
      .withColumn("_dow",
        pmod(datediff(col("_day"), to_date(lit("1970-01-01"))) + 4, lit(7)))
    val stats = daily.groupBy(col("_t"), col("_dow"))
      .agg(count(lit(1)).as("_nd"), sum(col("_x")).as("_sd"))
    val resid = daily.join(stats, Seq("_t", "_dow"))
      .withColumn("_r", col("_nd") * col("_x") - col("_sd"))
    val wRank = Window.partitionBy(col("_t"), col("_dow")).orderBy(abs(col("_r")))
    val wN = Window.partitionBy(col("_t"), col("_dow"))
    val mad = resid
      .withColumn("_rn", row_number().over(wRank))
      .withColumn("_n", count(lit(1)).over(wN))
      .filter(col("_rn") * 2 >= col("_n") && (col("_rn") - 1) * 2 < col("_n"))
      .select(col("_t"), col("_dow"), abs(col("_r")).as("_mad"))
    resid.join(mad, Seq("_t", "_dow"))
      .filter(col("_mad") > 0 &&
        abs(col("_r")).cast("double") > lit(madMult) * col("_mad").cast("double"))
      .select(col("_t").as(typeCol), col("_day").as("day"), col("_x").as("cnt"),
        col("_nd").as("n_dow"), col("_r").as("resid_scaled"),
        col("_mad").as("mad_scaled"))
  }

  /** Type-2 slowly-changing-dimension build (SCD2) from a change
    * stream: per key, consecutive events with the SAME attribute value
    * collapse into one validity interval [valid_from, valid_to) —
    * valid_to is the NEXT regime's start, null while current. The
    * islands come from the gaps-and-islands idiom (change flag →
    * running change count → group), under the suite's TOTAL
    * (ts, idCol) order so regime boundaries are deterministic under
    * timestamp ties.
    *
    * Output: (keyCol, attrCol, valid_from, valid_to, n_events).
    *
    * Scale shape (100 TB): both windows and the island roll-up
    * partition by the entity key — one hash exchange on keyCol reused
    * across all three steps, no global sort anywhere.
    */
  def scd2Islands(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val marked = events
      .select(col(keyCol), col(tsCol), col(idCol), col(attrCol))
      .withColumn("_prev", lag(col(attrCol), 1).over(w))
      .withColumn("_chg",
        when(col("_prev").isNull || col("_prev") =!= col(attrCol), 1L)
          .otherwise(0L))
      .withColumn("_grp",
        sum(col("_chg")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val islands = marked
      .groupBy(col(keyCol), col("_grp"), col(attrCol))
      .agg(min(col(tsCol)).as("valid_from"), count(lit(1)).as("n_events"))
    val wIsl = Window.partitionBy(col(keyCol)).orderBy(col("_grp"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wIsl))
      .select(col(keyCol), col(attrCol), col("valid_from"), col("valid_to"),
        col("n_events"))
  }

  /** Fano factor (index of dispersion) of each type's daily count
    * series: variance/mean = (n·Σx² − S²)/(n·S) — 1 for a Poisson
    * process, >1 for bursty arrivals, <1 for regular ones. All three
    * moment sums are exact BIGINTs (order-free); the single division
    * happens at the readout, round(6). Types with zero total have no
    * defined factor (null).
    *
    * Output: (typeCol, days, mean, fano).
    *
    * Scale shape (100 TB): one daily roll-up, one |types|-row
    * aggregate on top — both map-side combinable.
    */
  def fanoDaily(events: DataFrame, typeCol: String, tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_x"))
    val agg0 = daily.groupBy(col("_t"))
      .agg(count(lit(1)).as("days"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(19,0)") * col("_x")).as("_q"))
    val nD = col("days").cast("double")
    val sD = col("_s").cast("double")
    agg0.select(col("_t").as(typeCol), col("days"),
      when(col("_s") > 0, round(sD / nD, 6)).as("mean"),
      when(col("_s") > 0,
        round((nD * col("_q").cast("double") - sD * sD) / (nD * sD), 6))
        .as("fano"))
  }

  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val pairs = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("_from"))
      .withColumn("_to", lead(col("_from"), 1).over(w))
      .filter(col("_to").isNotNull)
      .groupBy(col("_from"), col("_to"))
      .agg(count(lit(1)).as("cnt"))
    val norm = Window.partitionBy(col("_from"))
    pairs
      .withColumn("prob",
        col("cnt").cast("double") / sum(col("cnt")).over(norm).cast("double"))
      .select(col("_from").as("from_type"), col("_to").as("to_type"),
        col("cnt"), col("prob"))
  }

  /** Conditional next-step entropy H(next | cur) per source state of
    * the user journey — the predictability readout the raw transition
    * matrix ([[eventTransitions]]) doesn't surface (a state whose
    * followers are uniform is a dead signal for sequence models; one
    * near-deterministic is a rule). Same (ts, id)-total-ordered lead
    * lineage; per-state entropy −Σ (c/n)·ln(c/n) runs as an ordered
    * fold over the next-type-sorted cell list (engine-portable float
    * sum), round(6) per the ln discipline.
    *
    * Output: (from_type, n, k_next, h_next) — n = transitions out,
    * k_next = distinct successors, h_next in nats.
    *
    * Scale shape (100 TB): one user-key window shuffle (shared with the
    * transition matrix), then a |types|²-bounded cell aggregate — the
    * fold list has one entry per successor TYPE, never per event.
    */
  def transitionEntropy(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val cells = events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol).as("_from"))
      .withColumn("_to", lead(col("_from"), 1).over(w))
      .filter(col("_to").isNotNull)
      .groupBy(col("_from"), col("_to"))
      .agg(count(lit(1)).as("_c"))
    val m = Window.partitionBy(col("_from"))
    val p = col("_c").cast("double") / col("n").cast("double")
    cells
      .withColumn("n", sum(col("_c")).over(m))
      .select(col("_from"), col("n"), struct(col("_to"), (-p * log(p)).as("_t")).as("_s"))
      .groupBy(col("_from"), col("n"))
      .agg(count(lit(1)).as("k_next"), collect_list(col("_s")).as("_l"))
      .select(col("_from").as("from_type"), col("n"), col("k_next"),
        round(aggregate(transform(sort_array(col("_l")), x => x.getField("_t")),
          lit(0.0), (acc, x) => acc + x), 6).as("h_next"))
  }

  /** Backtest of the two no-parameter forecasters every real series
    * gets compared against — naive (yesterday) and seasonal-naive
    * (same weekday last week) — on the per-type daily count series.
    * Errors are exact BIGINT |y − ŷ| over the days where BOTH lags
    * exist (row_number > season over observed days); MAE and the MASE
    * ratio (MAE_snaive / MAE_naive — is weekly seasonality worth
    * modeling at all?) are IEEE-exact divisions; sMAPE's per-day
    * 2|e|/(y+ŷ) terms (each an exact int/int division) fold in day
    * order. All readouts round(6); MASE null when MAE_naive = 0.
    *
    * Output: (event_type, n_eval, mae_naive, mae_snaive, mase,
    * smape_snaive).
    *
    * Scale shape (100 TB): the daily roll-up is the only corpus-sized
    * shuffle (map-side combinable); lags ride a |types|·|days| frame.
    */
  def forecastEval(events: DataFrame, typeCol: String, tsCol: String,
      season: Int = 7): DataFrame = {
    require(season >= 1, s"forecastEval: need season>=1, got $season")
    val daily = events
      .groupBy(col(typeCol).as("_t"), col(tsCol).cast("date").as("_day"))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col("_t")).orderBy(col("_day"))
    val lagged = daily
      .withColumn("_p1", lag(col("_cnt"), 1).over(w))
      .withColumn("_ps", lag(col("_cnt"), season).over(w))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > season)
    val smTerm = lit(2.0) * abs(col("_cnt") - col("_ps")).cast("double") /
      (col("_cnt") + col("_ps")).cast("double")
    val agg = lagged
      .select(col("_t"), abs(col("_cnt") - col("_p1")).as("_a1"),
        abs(col("_cnt") - col("_ps")).as("_as"),
        struct(col("_day"), smTerm.as("_m")).as("_s"))
      .groupBy("_t")
      .agg(count(lit(1)).as("n_eval"), sum(col("_a1")).as("_s1"),
        sum(col("_as")).as("_ss"), collect_list(col("_s")).as("_l"))
    agg.select(col("_t").as(typeCol), col("n_eval"),
      round(col("_s1").cast("double") / col("n_eval").cast("double"), 6)
        .as("mae_naive"),
      round(col("_ss").cast("double") / col("n_eval").cast("double"), 6)
        .as("mae_snaive"),
      when(col("_s1") > 0L,
        round(col("_ss").cast("double") / col("_s1").cast("double"), 6))
        .as("mase"),
      round(aggregate(transform(sort_array(col("_l")), x => x.getField("_m")),
        lit(0.0), (acc, x) => acc + x) / col("n_eval").cast("double"), 6)
        .as("smape_snaive"))
  }
}
