package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Column profiling & scalar statistics (reference `utils.py:760-808`
  * column_stats, `algorithm.py:95-115` weighted_average, `utils.py:375-448`
  * fillna family).
  */
object Stats {

  /** Per-column profile: dtype, non-null distinct count, null count, top
    * two values with their counts (`utils.py:760-808`).
    *
    * The reference fans out one pandas job per column (`papply`); here all
    * requested columns are profiled in ONE shuffle: rows are exploded to
    * (column, value-as-string) pairs via `stack`, grouped once, and the
    * per-column rollups (null count, distinct count, top-2 by
    * (count desc, value asc) — deterministic under ties) are derived from
    * the grouped counts. At 100 TB this is a single map-side-combined
    * aggregation instead of #cols full scans.
    */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val schema = df.schema
    val dtypes = cols.map(c => c -> schema(c).dataType.simpleString).toMap
    val stackArgs = cols
      .map(c => s"'$c', cast(`$c` as string)")
      .mkString(s"stack(${cols.size}, ", ", ", ") as (column, value)")
    val pairs = df.selectExpr(stackArgs)
    val grouped = pairs.groupBy("column", "value").agg(count(lit(1)).as("cnt"))
    val perCol = grouped
      .groupBy("column")
      .agg(
        sum(when(col("value").isNull, col("cnt")).otherwise(lit(0L))).as("n_null"),
        sum(when(col("value").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_unique"))
    val w = Window
      .partitionBy("column")
      .orderBy(col("cnt").desc, col("value").asc)
    val top2 = grouped
      .filter(col("value").isNotNull)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= 2)
      .groupBy("column")
      .agg(
        max(when(col("_rk") === 1, col("value"))).as("top_value"),
        max(when(col("_rk") === 1, col("cnt"))).as("top_count"),
        max(when(col("_rk") === 2, col("value"))).as("second_value"),
        max(when(col("_rk") === 2, col("cnt"))).as("second_count"))
    val dtypeCol = dtypes.foldLeft(lit(null).cast("string")) { case (acc, (c, t)) =>
      when(col("column") === lit(c), lit(t)).otherwise(acc)
    }
    perCol
      .join(top2, Seq("column"), "left")
      .withColumn("dtype", dtypeCol)
      .select("column", "dtype", "n_unique", "n_null",
        "top_value", "top_count", "second_value", "second_count")
      .orderBy("column")
  }

  /** Σ(x·w)/Σw (`algorithm.py:95-115`). Pure expression — single partial+
    * final aggregation, no custom class needed (SURVEY §4.3).
    */
  def weightedAverage(df: DataFrame, x: String, w: String): Column =
    sum(col(x) * col(w)) / sum(col(w))

  def weightedAverageDf(df: DataFrame, x: String, w: String): DataFrame =
    df.agg((sum(col(x) * col(w)) / sum(col(w))).as("weighted_avg"))

  /** Robust fill (`utils.py:375-448`): scalar or per-column fill values via
    * coalesce. The reference's callable-per-NA and dtype-widening behaviors
    * don't map to typed Spark columns (SURVEY §7.4.2/.5): fill values must
    * cast to the column type; a per-NA fresh mutable object is meaningless
    * when every generated value is independent.
    */
  def fillna(df: DataFrame, values: Map[String, Any]): DataFrame =
    values.foldLeft(df) { case (acc, (c, v)) =>
      acc.withColumn(c, coalesce(col(c), lit(v).cast(acc.schema(c).dataType)))
    }

  /** fillna with arbitrary Column fill values — the reference's
    * `fillna(df, {'B': list, 'C': dict})` container fills
    * (`tests/test_utils.py:45-51`) map to typed empty arrays/maps here
    * (e.g. `typedlit(Seq.empty[Int])`); any expression works.
    */
  def fillnaCols(df: DataFrame, values: Map[String, Column]): DataFrame =
    values.foldLeft(df) { case (acc, (c, v)) =>
      acc.withColumn(c, coalesce(col(c), v))
    }

  /** Pearson correlation as a 1-row frame (`plot.py:333`). */
  def corrDf(df: DataFrame, x: String, y: String): DataFrame =
    df.agg(corr(col(x), col(y)).as("corr"))

  /** Sketch-based profile for the 100 TB path (Spark-native per SURVEY
    * §2.3 — the reference keeps all counts exact; these are the scale
    * substitutes, one pass, fixed memory): HLL distinct counts and
    * approximate quantiles per numeric column.
    */
  def approxProfile(df: DataFrame, cols: Seq[String], rsd: Double = 0.05): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        approx_count_distinct(col(c), rsd).as(s"${c}_approx_distinct"),
        percentile_approx(col(c).cast("double"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
          .as(s"${c}_quartiles"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Join-key skew diagnostic — the numbers that tell you whether a key
    * needs [[Scale.saltedJoin]] before the 100 TB run: distinct-key
    * count, hottest-key share, and the exact Gini coefficient of the
    * per-key frequency distribution (0 = uniform, ->1 = one hot key).
    * The global frequency rank rides
    * [[Relational.twoPhaseDenseIds]] (range partition + local ranks +
    * collected offsets — never a partition-less window over the
    * data-sized count frame), S1/N/T are exact integer sums, and the
    * Gini is four mirrored IEEE ops over them — hash-portable.
    */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("_k")).agg(count(lit(1)).as("_c"))
    val ranked = Relational.twoPhaseDenseIds(counts, Seq("_c", "_k"), as = "_r")
    ranked
      .agg(count(lit(1)).as("n_keys"), sum("_c").as("total"),
        max("_c").as("max_cnt"),
        sum(col("_r").cast("decimal(19,0)") * col("_c")).as("_s1"))
      .select(col("n_keys"), col("total"), col("max_cnt"),
        (col("max_cnt").cast("double") / col("total").cast("double"))
          .as("top1_share"),
        ((lit(2.0) * col("_s1").cast("double")) /
          (col("n_keys").cast("double") * col("total").cast("double")) -
          (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
          .as("gini"))
  }

  /** EXACT per-group percentile bands (the P50/P95/P99 dashboard row):
    * discrete percentile_disc semantics — the value at rank ceil(q*n)
    * within each group's ascending order. Ranks are exact integer
    * arithmetic from (numerator, denominator) rationals and the picked
    * value is a row value (never interpolated), so the result is
    * engine-portable with no float discipline. One shuffle: the rank
    * window and count share the group-key partition; the tiny quantile
    * table rides a broadcast nested-loop join.
    */
  def percentileBands(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall { case (n, d) => n > 0 && n <= d },
      "quantiles must be rationals in (0, 1]")
    val s = df.sparkSession
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol))
    val ranked = df
      .select(col(groupCol), col(valueCol))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val targets = s.createDataFrame(qs.map { case (qn, qd) =>
      (qn.toDouble / qd, qn.toLong, qd.toLong)
    }).toDF("q", "_qn", "_qd")
    ranked
      .join(broadcast(targets),
        col("_rn") * col("_qd") >= col("_qn") * col("_n") &&
          (col("_rn") - 1) * col("_qd") < col("_qn") * col("_n"))
      .select(col(groupCol), col("q"), col(valueCol).as("value"))
  }

  /** Interpolated grouped percentiles — the PERCENTILE_CONT twin of
    * [[percentileBands]] (which is PERCENTILE_DISC). SQL-standard
    * position p = q·(n−1): the bracket row is found by EXACT integer
    * rank arithmetic on the rational q = qn/qd ((rn−1)·qd ≤ qn·(n−1) <
    * rn·qd), the fractional part is an exact integer remainder over qd
    * (one division — same ints, same double on any engine), and the
    * interpolation v_lo + frac·(v_hi − v_lo) is fixed-operand-order.
    * v_hi rides every row as a lead() over the SAME group window — no
    * second lookup join. Output: (groupCol, q, value).
    *
    * Scale shape: identical to [[percentileBands]] — one keyed-window
    * rank pass + a broadcast |qs|-row target join.
    */
  def percentileBandsCont(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[(Int, Int)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall { case (n, d) => n >= 0 && n <= d && d > 0 },
      "quantiles must be rationals in [0, 1]")
    val s = df.sparkSession
    val w = Window.partitionBy(groupCol).orderBy(col("_v"))
    val ranked = df
      .select(col(groupCol), col(valueCol).cast("double").as("_v"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_vn", lead(col("_v"), 1).over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val targets = s.createDataFrame(qs.map { case (qn, qd) =>
      (qn.toDouble / qd, qn.toLong, qd.toLong)
    }).toDF("q", "_qn", "_qd")
    val pos = col("_qn") * (col("_n") - 1) // integer position*qd
    ranked
      .join(broadcast(targets),
        (col("_rn") - 1) * col("_qd") <= pos && pos < col("_rn") * col("_qd"))
      .withColumn("_rem", pos - (col("_rn") - 1) * col("_qd"))
      .select(col(groupCol), col("q"),
        (col("_v") + (col("_rem").cast("double") / col("_qd").cast("double"))
          * (coalesce(col("_vn"), col("_v")) - col("_v"))).as("value"))
  }

  /** Robust per-group outliers via the MAD modified z-score
    * (Iglewicz-Hoaglin '93): M = 0.6745·(x − median) / MAD with
    * |M| > cutoff flagged — immune to the outliers themselves (unlike
    * a mean/stddev z-score, where one 10⁶x spike inflates σ and hides
    * its siblings). Median and MAD are EXACT percentile_disc elements
    * at integer rank ceil(n/2) of the group's ascending (value, id)
    * list and ascending |value − median| list (nulls first, n counts
    * them), so the only floats are the deviations and the final
    * fixed-operand-order subtract/multiply/divide — engine-portable.
    * Groups with MAD = 0 (a majority-constant column) are excluded: M
    * is undefined there, the documented Iglewicz-Hoaglin edge. Rows
    * with a null group key are dropped.
    *
    * Scale shape (100 TB): ONE grouped pass — the input is read once,
    * map-side partial collects feed one exchange on the group key, and
    * each group's sorted (value, id) list yields median, MAD and its
    * flagged rows. No window, join or pin. Each group's pairs are held
    * by one task — the one-task-per-group placement of a keyed window,
    * but in memory with no spill — so one group must fit in executor
    * memory.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, cutoff: Double = 3.5): DataFrame = {
    require(cutoff > 0, s"madOutliers: need cutoff>0, got $cutoff")
    val rank = shiftright(size(col("_l")) + 1, 1) // ceil(n/2), 1-based
    df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col(valueCol).cast("double").as("v"),
        col(idCol).as("id")))).as("_l"))
      .withColumn("_med", element_at(col("_l"), rank).getField("v"))
      .withColumn("_mad", element_at(sort_array(
        transform(col("_l"), e => abs(e.getField("v") - col("_med")))), rank))
      // flag inside the list and explode only flagged rows (none when
      // MAD = 0): a Filter over _med/_mad would be pushed below their
      // projection and sort the deviations a second time
      .select(col(groupCol), col("_med"), col("_mad"),
        explode(when(col("_mad") > 0.0, filter(
          transform(col("_l"), e => e.withField("mz",
            (lit(0.6745) * (e.getField("v") - col("_med"))) / col("_mad"))),
          e => abs(e.getField("mz")) > cutoff))).as("_e"))
      .select(col(groupCol), col("_e.id").as(idCol), col("_e.v").as(valueCol),
        col("_med").as("med"), col("_mad").as("mad"), col("_e.mz").as("mz"))
  }

  /** Ordered left fold of a double field over a SORTED struct list —
    * the engine-portable float-sum idiom (both engines add the same
    * terms in the same ascending key order; a hash aggregate would sum
    * in partition order and diverge bitwise).
    */
  private[graft] def orderedSum(structs: Column, field: String): Column =
    aggregate(transform(sort_array(structs), x => x.getField(field)),
      lit(0.0), (acc, x) => acc + x)

  /** Survey raking / iterative proportional fitting (Deming & Stephan
    * '40; the post-stratification weighting behind every weighted
    * survey estimate): given a POPULATION cell grid over two
    * categorical keys and a SAMPLE sub-population, find per-cell
    * weights whose weighted sample margins match the population
    * margins on both keys. The classical algorithm alternates row and
    * column scaling of the weighted cell masses m_ij:
    *
    *   row pass: m_ij *= R_i / Σ_j m_ij;  col pass: m_ij *= C_j / Σ_i m_ij
    *
    * run here for a FIXED `iters` sweeps (deterministic — convergence
    * on a 2-way grid is geometric, 8 sweeps ≈ machine precision), with
    * a scale factor of 1 wherever a margin has no sample mass (the
    * non-response guard; ANSI division stays clean).
    *
    * Float discipline: cells iterate in ascending (i, j) string order;
    * row sums fold ascending j inside i, column sums ascending i
    * inside j — the same sequential order as the DuckDB mirror's
    * `list_sum(list(m ORDER BY ...))`, so 16 multiplicative passes
    * stay bitwise-identical across engines.
    *
    * Output: (row_key, col_key, n_sample, weighted_n, weight) for
    * cells with sample mass; weight = m_ij / n_sample_ij, the per-unit
    * raked weight.
    *
    * Scale shape (100 TB): ONE map-side-combinable cell aggregate;
    * margins are tiny aggregates joined back (AQE broadcast); the IPF
    * sweeps themselves run DRIVER-SIDE on the boundedCollect'ed cell
    * grid (category cardinality, never row cardinality — the
    * stratified-allocation / Markov-matrix discipline; a misuse on an
    * id-like key raises instead of OOMing). An in-engine formulation
    * was tried and rejected: 16 chained higher-order-function
    * projections blew the driver heap at optimization time for a
    * 35-cell grid — a metadata-sized solve does not belong in the
    * plan.
    */
  def rakeWeights(df: DataFrame, rowKey: Column, colKey: Column,
      sampleCond: Column, iters: Int = 8, maxCells: Int = 65536): DataFrame = {
    require(iters >= 1 && iters <= 32, s"rakeWeights: need 1<=iters<=32, got $iters")
    val spark = df.sparkSession
    val cells = df
      .groupBy(rowKey.cast("string").as("_i"), colKey.cast("string").as("_j"))
      .agg(count(lit(1)).as("_np"),
        sum(when(sampleCond, 1L).otherwise(0L)).as("_ns"))
    val rt = cells.groupBy(col("_i")).agg(sum(col("_np")).as("_rt"))
    val ct = cells.groupBy(col("_j")).agg(sum(col("_np")).as("_ct"))
    val seeded = cells.join(rt, Seq("_i")).join(ct, Seq("_j"))
      .filter(col("_ns") > 0L)
      .select(col("_i"), col("_j"), col("_ns"), col("_rt"), col("_ct"))
      .orderBy(col("_i"), col("_j"))
    val collected = graft.core.Util.boundedCollect(seeded, maxCells, "rakeWeights")
    val is = collected.map(_.getString(0))
    val js = collected.map(_.getString(1))
    val ns = collected.map(_.getLong(2))
    val rtA = collected.map(_.getLong(3))
    val ctA = collected.map(_.getLong(4))
    val m = ns.map(_.toDouble)
    val n = m.length
    def scale(key: Array[String], tgt: Array[Long]): Unit = {
      // sequential fold in array order == ascending (i, j): rows sum
      // ascending j inside i, columns ascending i inside j — the
      // oracle's list_sum order
      val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var k = 0
      while (k < n) { sums(key(k)) = sums.getOrElse(key(k), 0.0) + m(k); k += 1 }
      k = 0
      while (k < n) {
        val s = sums(key(k))
        if (s > 0.0) m(k) = m(k) * (tgt(k).toDouble / s)
        k += 1
      }
    }
    (1 to iters).foreach { _ => scale(is, rtA); scale(js, ctA) }
    val out = (0 until n).map(k => (is(k), js(k), ns(k), m(k)))
    spark.createDataFrame(out)
      .toDF("row_key", "col_key", "n_sample", "_m")
      .select(col("row_key"), col("col_key"), col("n_sample"),
        (round(col("_m"), 6) + lit(0.0)).as("weighted_n"),
        (round(col("_m") / col("n_sample").cast("double"), 6) + lit(0.0))
          .as("weight"))
      .orderBy("row_key", "col_key")
  }

  /** Empirical-Bayes shrinkage of per-segment rates (Robbins '56 /
    * beta-binomial method of moments; the James-Stein move every
    * per-segment conversion dashboard needs): small segments' raw
    * rates are noisy, so each rate is shrunk toward the cross-segment
    * mean with strength set by how much of the observed cross-segment
    * variance is sampling noise. With p̄ and s² the (equally-weighted,
    * ordered-fold) mean and variance of the segment rates, the
    * beta-binomial prior strength is
    *
    *   κ = p̄(1−p̄)/s² − 1,  α = p̄·κ,  β = (1−p̄)·κ,
    *
    * and the posterior-mean rate for a segment with x of n is
    * (x + α)/(n + κ). Degenerate cases (s² = 0 — identical rates; or
    * s² ≥ p̄(1−p̄) — variance beyond Bernoulli, κ ≤ 0) emit the raw
    * rate with null κ.
    *
    * Output: (segment, n, x, p_raw, p_shrunk, kappa), round(6).
    *
    * Scale shape (100 TB): one segment aggregate; the moment fold
    * rides a |segments|-bounded sorted list on one row.
    */
  def ebShrinkRates(df: DataFrame, segCol: Column, convCond: Column): DataFrame = {
    val seg = df.groupBy(segCol.cast("string").as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(convCond, 1L).otherwise(0L)).as("_x"))
      .select(struct(col("_s").as("s"), col("_n").as("n"), col("_x").as("x"),
        (col("_x").cast("double") / col("_n").cast("double")).as("p")).as("_c"))
    val st = seg.agg(sort_array(collect_list(col("_c"))).as("_l"))
      .withColumn("_k", size(col("_l")).cast("double"))
      .withColumn("_pbar",
        aggregate(transform(col("_l"), _.getField("p")), lit(0.0),
          (a, x) => a + x) / col("_k"))
      .withColumn("_s2", when(col("_k") > lit(1.0),
        aggregate(transform(col("_l"),
          e => (e.getField("p") - col("_pbar")) * (e.getField("p") - col("_pbar"))),
          lit(0.0), (a, x) => a + x) / (col("_k") - lit(1.0))))
      .withColumn("_pq", col("_pbar") * (lit(1.0) - col("_pbar")))
      .withColumn("_kap", when(col("_s2") > lit(0.0) && col("_s2") < col("_pq"),
        col("_pq") / col("_s2") - lit(1.0)))
    st.select(explode(col("_l")).as("_e"), col("_pbar"), col("_kap"))
      .select(col("_e.s").as("segment"), col("_e.n").as("n"),
        col("_e.x").as("x"),
        (round(col("_e.p"), 6) + lit(0.0)).as("p_raw"),
        (round(when(col("_kap").isNotNull,
          (col("_e.x").cast("double") + col("_pbar") * col("_kap")) /
            (col("_e.n").cast("double") + col("_kap")))
          .otherwise(col("_e.p")), 6) + lit(0.0)).as("p_shrunk"),
        (round(col("_kap"), 6) + lit(0.0)).as("kappa"))
      .orderBy("segment")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between two groups, with the
    * midrank tie correction — the nonparametric two-sample test. The
    * computation is CELL-BASED: samples collapse to one row per
    * distinct value (bounded by the measurement grid, not the row
    * count), midranks come from a cumulative window over that cell
    * table, and R_a = Σ na_i·midrank_i sums terms that are all exact
    * dyadic doubles (integers and half-integers far below 2^52), so
    * the float sum is EXACT and order-independent — no ordered-fold
    * machinery needed. The tie term Σ(t³−t) is pure integer, carried
    * as DECIMAL(38,0) (int128 in the mirror — N³ breaks BIGINT past
    * N ≈ 2.1e6, the spearman sf1 overflow class; decimal is exact to
    * N ≈ 2.9e12). z uses
    * the tie-corrected variance (n_a·n_b/12)·((N+1) − T/(N(N−1))).
    * Output one row: (n_a, n_b, u_a, z), z round(6).
    *
    * Scale shape (100 TB): one value-cell groupBy (map-side
    * combinable), the cumulative window over the GRID-bounded cell
    * table, one global aggregate.
    */
  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "mannWhitney: groups must differ")
    val s = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("_v"),
        (col(groupCol) === groupA).cast("long").as("_a"))
    val cells = s.groupBy(col("_v"))
      .agg(sum(col("_a")).as("_na"), sum(lit(1L) - col("_a")).as("_nb"))
      .withColumn("_t", col("_na") + col("_nb"))
    val wcum = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("_cb",
      coalesce(sum(col("_t")).over(wcum), lit(0L)))
    val agg0 = ranked.agg(
      sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"),
      sum(col("_na").cast("double") *
        (col("_cb").cast("double") + (col("_t").cast("double") + 1) / 2)).as("_ra"),
      // decimal tie term: Σ(t³−t) ≤ N³ overflows BIGINT past N ≈ 2.1e6
      // (the spearman sf1 lesson); internal only — z casts it to double
      sum(col("_t").cast("decimal(13,0)") * col("_t") * col("_t")
        - col("_t")).as("_tt"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val nn = (col("n_a") + col("n_b")).cast("double")
    val ua = col("_ra") - na * (na + 1) / 2
    val varU = (na * nb / 12) *
      ((nn + 1) - col("_tt").cast("double") / (nn * (nn - 1)))
    agg0.select(col("n_a"), col("n_b"), ua.as("u_a"),
      round((ua - na * nb / 2) / sqrt(varU), 6).as("z"))
  }

  /** Simple OLS y ~ a + b·x from EXACT integer moments: the caller
    * maps x and y to integer units (hours, cents); Σx, Σy, Σxy, Σx²,
    * Σy² aggregate as exact BIGINTs (map-side combinable, one pass),
    * and slope/intercept/r² combine the five sums in doubles at the
    * END in fixed operand order — the moment sums are
    * order-independent integers, so there is no float-aggregation
    *-order hazard anywhere. The second-moment sums carry as
    * DECIMAL(38,0) (Σx² ≤ n·x_max² passes BIGINT at ~10⁶ rows of
    * 1e7-unit values — the spearman sf1 overflow class), and the
    * n·Σxy − Σx·Σy numerators are formed AFTER the double cast.
    * Output one row: (n, slope, intercept, r2), round(6).
    *
    * Scale shape (100 TB): one global aggregate, nothing else.
    */
  def olsSimple(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val agg0 = df.select(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("_sx"),
        sum(col("_y")).as("_sy"),
        sum(col("_x").cast("decimal(19,0)") * col("_y")).as("_sxy"),
        sum(col("_x").cast("decimal(19,0)") * col("_x")).as("_sxx"),
        sum(col("_y").cast("decimal(19,0)") * col("_y")).as("_syy"))
    val nD = col("n").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val sxy = col("_sxy").cast("double")
    val sxx = col("_sxx").cast("double")
    val syy = col("_syy").cast("double")
    val covN = nD * sxy - sx * sy
    val varXN = nD * sxx - sx * sx
    val varYN = nD * syy - sy * sy
    // degenerate-variance guards (ANSI x/0): constant x -> no fit,
    // constant y -> r2 undefined
    agg0.select(col("n"),
      when(varXN > 0, round(covN / varXN, 6)).as("slope"),
      when(varXN > 0, round((sy - (covN / varXN) * sx) / nD, 6)).as("intercept"),
      when(varXN > 0 && varYN > 0, round((covN * covN) / (varXN * varYN), 6))
        .as("r2"))
  }

  /** Bit 0 of the portable md5 hash of `seed:id` — the deterministic
    * 50/50 split the A/B operators assign arms by (re-runnable on any
    * engine/cluster — assignment is data, not RNG state) and
    * [[Sketches.amsF2]] its ±1 signs by. The oracles spell it
    * `(instr('0123456789abcdef', substr(md5('seed:' || id), 16, 1)) - 1) % 2`.
    */
  def md5Parity(id: Column, seed: String): Column =
    graft.functions.TextFunctions.md5Bits64(
      concat(lit(seed + ":"), id.cast("string"))).bitwiseAND(lit(1L))

  /** Two-proportion z-test over a DETERMINISTIC 50/50 md5 split (the
    * A/B harness statistic): units are assigned arm by [[md5Parity]] of
    * `idCol` under `seed`, conversions counted exactly, and the pooled
    * z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) computed in fixed
    * operand order (division/sqrt are IEEE-exact). With no real
    * treatment this is an A/A calibration readout — |z| should be
    * small. Output one row: (n_a, n_b, x_a, x_b, p_a, p_b, z), rates
    * and z round(6); an empty arm has a null rate and a null z, and z
    * is null when the pooled rate is 0 or 1.
    *
    * Scale shape (100 TB): ONE map-side-combinable global aggregate —
    * no join, no window, no shuffle beyond the 1-row combine.
    */
  def abTestProportions(df: DataFrame, idCol: String, convCond: Column,
      seed: String = "ab"): DataFrame = {
    val agg0 = df
      .select(md5Parity(col(idCol), seed).as("_b"), convCond.cast("long").as("_x"))
      .agg(sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_b") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_b") === 0L, col("_x")).otherwise(0L)).as("x_a"),
        sum(when(col("_b") === 1L, col("_x")).otherwise(0L)).as("x_b"))
    val hasA = col("n_a") > 0L; val hasB = col("n_b") > 0L
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    // nested when, NOT a 3-way && — the conjunction does not guard the
    // divisions, which throw under ANSI while an arm is empty
    agg0.select(col("n_a"), col("n_b"), col("x_a"), col("x_b"),
      round(when(hasA, pa), 6).as("p_a"), round(when(hasB, pb), 6).as("p_b"),
      round(when(hasA, when(hasB, when(se > lit(0.0), (pa - pb) / se))), 6)
        .as("z"))
  }

  /** CUPED variance reduction (Deng et al. WSDM'13 — the standard
    * pre-experiment covariate adjustment next to [[abTestProportions]]):
    * given one INTEGER-valued pre-period covariate x and post-period
    * metric y per experiment unit plus a 0/1 arm, θ = cov(x,y)/var(x)
    * from POOLED exact moments and the adjusted effect via linearity —
    * mean_arm(y_adj) = mean_arm(y) − θ·(mean_arm(x) − mean(x)), so
    * diff_cuped = (ȳ₁−ȳ₀) − θ·(x̄₁−x̄₀). No per-unit float is ever
    * summed: everything reduces to per-arm integer sums plus the five
    * pooled moment sums (DECIMAL(38,0), the spearman discipline),
    * combined in fixed operand order at the 1-row readout. The
    * achieved variance reduction is ρ²(x,y) — reported so an A/A run
    * shows how much a real experiment would save.
    *
    * Output one row: (n_c, n_t, diff_raw, theta, diff_cuped, rho2),
    * doubles round(6); theta/diff_cuped/rho2 null when var(x) or
    * var(y) is 0.
    *
    * Scale shape (100 TB): the caller's per-unit roll-up is the only
    * corpus-sized stage (map-side combinable); this operator is ONE
    * global aggregate over it — no join, no window.
    */
  def cuped(units: DataFrame, xCol: String, yCol: String,
      armCol: String): DataFrame = {
    val u = units.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"), col(armCol).cast("long").as("_b"))
    val xD = col("_x").cast("decimal(19,0)")
    val yD = col("_y").cast("decimal(19,0)")
    val agg0 = u.agg(
      sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("n_c"),
      sum(when(col("_b") =!= 0L, 1L).otherwise(0L)).as("n_t"),
      sum(when(col("_b") === 0L, col("_x")).otherwise(0L)).as("_xc"),
      sum(when(col("_b") =!= 0L, col("_x")).otherwise(0L)).as("_xt"),
      sum(when(col("_b") === 0L, col("_y")).otherwise(0L)).as("_yc"),
      sum(when(col("_b") =!= 0L, col("_y")).otherwise(0L)).as("_yt"),
      sum(xD * yD).as("_sxy"), sum(xD * xD).as("_sxx"),
      sum(yD * yD).as("_syy"))
    val nD = (col("n_c") + col("n_t")).cast("double")
    val sx = (col("_xc") + col("_xt")).cast("double")
    val sy = (col("_yc") + col("_yt")).cast("double")
    val covN = nD * col("_sxy").cast("double") - sx * sy
    val varXN = nD * col("_sxx").cast("double") - sx * sx
    val varYN = nD * col("_syy").cast("double") - sy * sy
    val mYt = col("_yt").cast("double") / col("n_t").cast("double")
    val mYc = col("_yc").cast("double") / col("n_c").cast("double")
    val mXt = col("_xt").cast("double") / col("n_t").cast("double")
    val mXc = col("_xc").cast("double") / col("n_c").cast("double")
    val theta = covN / varXN
    agg0.select(col("n_c"), col("n_t"),
      (round(mYt - mYc, 6) + lit(0.0)).as("diff_raw"),
      when(varXN > 0, round(theta, 6) + lit(0.0)).as("theta"),
      when(varXN > 0,
        round((mYt - mYc) - theta * (mXt - mXc), 6) + lit(0.0)).as("diff_cuped"),
      when(varXN > 0 && varYN > 0,
        round(covN * covN / (varXN * varYN), 6)).as("rho2"))
  }

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938; the
    * standard forensic-accounting screen): observed leading-digit
    * shares of a positive amount column vs the Benford expectation
    * p_d = log10(1 + 1/d), with the per-digit χ² contribution. The
    * digit is extracted in EXACT integer arithmetic — amounts go to
    * integer cents via the portable round-away-from-zero, and the
    * leading digit is cents div 10^(digits−1) with the digit count
    * from the integer's string length (never float log10, whose 1-ulp
    * error flips the digit at exact powers of ten). Expectations are
    * compile-time literals shared with the oracle.
    *
    * Output: (digit, cnt, obs_p, exp_p, chi_term), 9 rows.
    *
    * Scale shape (100 TB): one map-side-combinable 9-group aggregate;
    * the total rides back as a 1-row broadcast cross.
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val cents = round(col(valueCol).cast("double") * 100).cast("long")
    val lead = floor(col("_c") / pow(lit(10.0),
      length(col("_c").cast("string")) - 1)).cast("int")
    val counts = df
      .select(cents.as("_c"))
      .filter(col("_c") > 0)
      .select(lead.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("_n"))
    val expP = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
    val expCol = expP.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
      when(col("digit") === d, lit(p)).otherwise(acc)
    }
    counts.crossJoin(broadcast(tot))
      .withColumn("_e", col("_n").cast("double") * expCol)
      .select(col("digit"), col("cnt"),
        round(col("cnt").cast("double") / col("_n").cast("double"), 6).as("obs_p"),
        round(expCol, 6).as("exp_p"),
        round((col("cnt").cast("double") - col("_e"))
          * (col("cnt").cast("double") - col("_e")) / col("_e"), 6).as("chi_term"))
  }

  /** Contingency-table analysis of two categorical columns: mutual
    * information, normalized MI, the chi-squared independence statistic
    * and Cramér's V, from EXACT cell/margin counts. χ² uses the
    * observed-cells identity Σ_all (o−e)²/e = n·Σ_obs o²/(r_a·c_b) − n,
    * so empty cells never need materializing — no category-grid
    * cross-join anywhere. Float sums run as ordered folds over the
    * (a, b)-sorted cell list (engine-portable bitwise); final stats are
    * round(6)-quantized per the suite's ln discipline. NMI is null when
    * either marginal entropy is 0 (a single-category column). A row
    * with a null key belongs to no cell and no total, as in pandas'
    * crosstab (in n but not in the cell terms, it would push χ² < 0).
    *
    * Output (one row): (n, dof, mi, nmi, chi2, cramers_v).
    *
    * Scale shape (100 TB): ONE corpus-sized shuffle — the (a, b) cell
    * groupBy (map-side combinable). Margins, totals, entropies and the
    * folds all run over the bounded cell/margin aggregates; the joins
    * of cells against margins are AQE-decided; every crossJoin is
    * against a broadcast 1-row aggregate.
    */
  def contingencyAnalysis(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_o"))
    val ra = cells.groupBy("_a").agg(sum("_o").as("_ra"))
    val cb = cells.groupBy("_b").agg(sum("_o").as("_cb"))
    // the category counts come from the margins: two count_distinct
    // aggregates would plan an Expand whose group order moves with
    // earlier queries' expression ids
    val tots = ra.agg(sum("_ra").as("_n"), count("_a").as("_ka"))
      .crossJoin(cb.agg(count("_b").as("_kb")))
    val o = col("_o").cast("double")
    val n = col("_n").cast("double")
    val raD = col("_ra").cast("double")
    val cbD = col("_cb").cast("double")
    val terms = cells.join(ra, Seq("_a")).join(cb, Seq("_b"))
      .crossJoin(broadcast(tots))
      .select(struct(col("_a"), col("_b"),
        ((o / n) * log((o * n) / (raD * cbD))).as("_mt"),
        ((o * o) / (raD * cbD)).as("_ct")).as("_s"),
        col("_n"), col("_ka"), col("_kb"))
    val folded = terms
      .agg(collect_list(col("_s")).as("_l"),
        max(col("_n")).as("_n"), max(col("_ka")).as("_ka"),
        max(col("_kb")).as("_kb"))
      .select(col("_n"), col("_ka"), col("_kb"),
        orderedSum(col("_l"), "_mt").as("_mi"),
        (col("_n").cast("double") * orderedSum(col("_l"), "_ct")
          - col("_n").cast("double")).as("_chi2"))
    def marginEntropy(m: DataFrame, key: String, tot: String) = m
      .crossJoin(broadcast(tots.select("_n")))
      .select(struct(col(key),
        (lit(0.0) - (col(tot).cast("double") / col("_n").cast("double"))
          * log(col(tot).cast("double") / col("_n").cast("double"))).as("_ht"))
        .as("_s"))
      .agg(collect_list(col("_s")).as("_l"))
      .select(orderedSum(col("_l"), "_ht").as("h"))
    val ha = marginEntropy(ra, "_a", "_ra").withColumnRenamed("h", "_hA")
    val hb = marginEntropy(cb, "_b", "_cb").withColumnRenamed("h", "_hB")
    folded.crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("_n").as("n"),
        ((col("_ka") - 1) * (col("_kb") - 1)).as("dof"),
        round(col("_mi"), 6).as("mi"),
        when(col("_hA") > 0.0 && col("_hB") > 0.0,
          round(col("_mi") / sqrt(col("_hA") * col("_hB")), 6)).as("nmi"),
        round(col("_chi2"), 6).as("chi2"),
        // min(ka,kb)=1 (a single-category column) => V undefined (null),
        // and ANSI mode would otherwise raise on the 0 divisor
        when(least(col("_ka"), col("_kb")) > 1,
          round(sqrt(col("_chi2") /
            (col("_n").cast("double") * (least(col("_ka"), col("_kb")) - 1))), 6))
          .as("cramers_v"))
  }

  /** Spearman rank correlation of two INTEGER-valued columns (the
    * caller maps measurements to integer units — counts, cents), with
    * midrank tie handling. Ranks are carried as the EXACT integer
    * 2·midrank (= 2·cum_before + tie_count + 1, always whole), and
    * Pearson is affine-invariant so ρ over 2·rank equals ρ over rank.
    * The five moment sums (Σc·r2x, Σc·r2x·r2y, …) are exact BIGINTs
    * over the (x,y) CELL table (one row per distinct pair — bounded by
    * the measurement grid, not the row count); doubles appear only in
    * the final fixed-operand-order combination, exactly the
    * [[olsSimple]] discipline. The moment sums are DECIMAL(38,0) —
    * Σc·r2² ≤ 4n³ needs exact integers past BIGINT's n ≈ 1.3e6 (the
    * sf1 sweep caught the overflow at 6M rows), and scale-0 decimals
    * stay exact to 4n³ < 10³⁸, i.e. n ≈ 2.9e12 rows; past that,
    * coarsen the value grid (quantize) before ranking — the estimator
    * is rank-based, so any order-preserving quantization that keeps
    * ties distinct is exact. Only (n, rho) are emitted, so the
    * engine-side integer representation (decimal here, int128 in the
    * mirror) never touches the hash: both cast the same exact integer
    * to the same nearest double.
    *
    * Output one row: (n, rho), rho round(6), null when either margin
    * is constant (zero rank variance).
    *
    * Scale shape (100 TB): one (x,y)-cell groupBy (map-side
    * combinable); the two marginal rank windows ride GRID-bounded
    * marginal tables; one global aggregate. No per-row sort anywhere.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    // cells persisted (r13): the frame feeds BOTH marginal roll-ups and
    // the moment join — exchange reuse shares only the shuffle, not the
    // final aggregation above it, so without the persist the cell
    // aggregate ran 3x per execution (profiled at sf0.1)
    val pairs = df.select(xCol.cast("long").as("_x"), yCol.cast("long").as("_y"))
      .groupBy("_x", "_y").agg(count(lit(1)).as("_c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // 2·midrank over a marginal. twoPhase = the mergeable range-
    // partitioned rank (the tdigestCentroids discipline, r12): local
    // prefix sums per value-range partition + an O(#partitions) offset
    // collect — used for the UNBOUNDED marginal (e.g. price cents, which
    // grows with the measurement range), where a global-order window
    // would funnel every cell through one task. The caller's bounded
    // marginal (quantity, a <=50-value grid) keeps the single tiny
    // window. Merged rank is partition-invariant: range partitioning is
    // globally key-ordered, so local-cum + offset = global cum, and the
    // emitted integer is bit-identical to the windowed form.
    def rank2(marg: DataFrame, key: String, out: String,
        twoPhase: Boolean): DataFrame = {
      if (!twoPhase) {
        val w = Window.orderBy(col(key)).rowsBetween(Window.unboundedPreceding, -1)
        return marg.withColumn("_cb", coalesce(sum(col("_m")).over(w), lit(0L)))
          .select(col(key),
            (lit(2L) * col("_cb") + col("_m") + lit(1L)).as(out))
      }
      val s = marg.sparkSession
      val nParts = s.sessionState.conf.numShufflePartitions
      // one materialization pins the sampled range boundaries
      // (Relational.scala:255 — a lost block must fail loudly, not
      // silently re-rank under fresh boundaries)
      val local = marg.repartitionByRange(nParts, col(key))
        .withColumn("_pid", spark_partition_id())
        .withColumn("_cb", coalesce(
          sum(col("_m")).over(Window.partitionBy(col("_pid")).orderBy(col(key))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .localCheckpoint(true)
      val partTotals = local.groupBy(col("_pid")).agg(sum(col("_m")).as("_pt"))
        .orderBy("_pid").collect().map(r => (r.getInt(0), r.getLong(1)))
      val cum = partTotals.scanLeft(0L)(_ + _._2)
      val offsets = partTotals.indices.map(i => (partTotals(i)._1, cum(i)))
      val offsetDf = s.createDataFrame(offsets).toDF("_pid", "_off")
      local.join(broadcast(offsetDf), Seq("_pid"))
        .select(col(key),
          (lit(2L) * (col("_cb") + col("_off")) + col("_m") + lit(1L)).as(out))
    }
    val rx = rank2(pairs.groupBy("_x").agg(sum("_c").as("_m")), "_x", "_r2x",
      twoPhase = false)
    val ry = rank2(pairs.groupBy("_y").agg(sum("_c").as("_m")), "_y", "_r2y",
      twoPhase = true)
    // decimal(13,0) operands: products reach (38,0) with scale intact,
    // so c·r2x·r2y stays EXACT to 4n³ < 10³⁸ where the long product
    // overflowed at n = 6M (ANSI kills the query; legacy silently
    // corrupts rho)
    val cD = col("_c").cast("decimal(13,0)")
    val rxD = col("_r2x").cast("decimal(13,0)")
    val ryD = col("_r2y").cast("decimal(13,0)")
    val agg0 = pairs.join(rx, Seq("_x")).join(ry, Seq("_y"))
      .agg(sum(col("_c")).as("n"),
        sum(cD * rxD).as("_sx"),
        sum(cD * ryD).as("_sy"),
        sum(cD * rxD * ryD).as("_sxy"),
        sum(cD * rxD * rxD).as("_sxx"),
        sum(cD * ryD * ryD).as("_syy"))
    val nD = col("n").cast("double")
    val sx = col("_sx").cast("double")
    val sy = col("_sy").cast("double")
    val covN = nD * col("_sxy").cast("double") - sx * sy
    val varXN = nD * col("_sxx").cast("double") - sx * sx
    val varYN = nD * col("_syy").cast("double") - sy * sy
    agg0.select(col("n"),
      when(varXN > 0 && varYN > 0,
        round(covN / sqrt(varXN * varYN), 6)).as("rho"))
  }

  /** Two-sample Kolmogorov-Smirnov test between two groups of a value
    * column: D = max_v |F_a(v) − F_b(v)|, computed EXACTLY — the max
    * runs over the integer cross-products |ca·n_b − cb·n_a| (never a
    * float CDF), and only the final readout divides. Cell-based like
    * [[mannWhitney]]: one row per distinct value, cumulative counts
    * from inclusive windows over the grid-bounded cell table. The
    * rejection readout compares D against the asymptotic 5% critical
    * value c(0.05)·sqrt((n_a+n_b)/(n_a·n_b)), c = 1.358 — every float
    * op is a correctly-rounded single step on exact integers, so both
    * engines produce bit-identical doubles.
    *
    * Output one row: (n_a, n_b, d_num, d, d_crit, reject) with
    * d_num the exact integer max |ca·n_b − cb·n_a|, d and d_crit
    * round(6).
    *
    * Scale shape (100 TB): one value-cell groupBy (map-side
    * combinable), two windows over the GRID-bounded cell table, one
    * global aggregate.
    */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    require(groupA != groupB, "ksTest: groups must differ")
    val s = df.filter(col(groupCol).isin(groupA, groupB))
      .select(col(valueCol).as("_v"),
        (col(groupCol) === groupA).cast("long").as("_a"))
    val cells = s.groupBy(col("_v"))
      .agg(sum(col("_a")).as("_na"), sum(lit(1L) - col("_a")).as("_nb"))
    val wIncl = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = cells
      .withColumn("_ca", sum(col("_na")).over(wIncl))
      .withColumn("_cb", sum(col("_nb")).over(wIncl))
      .withColumn("_ta", sum(col("_na")).over(wAll))
      .withColumn("_tb", sum(col("_nb")).over(wAll))
    val agg0 = cum.agg(
      max(col("_ta")).as("n_a"), max(col("_tb")).as("n_b"),
      max(abs(col("_ca") * col("_tb") - col("_cb") * col("_ta"))).as("d_num"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val d = col("d_num").cast("double") / (na * nb)
    val dCrit = lit(1.358) * sqrt((na + nb) / (na * nb))
    agg0.select(col("n_a"), col("n_b"), col("d_num"),
      round(d, 6).as("d"), round(dCrit, 6).as("d_crit"),
      (d > dCrit).as("reject"))
  }

  /** Gini coefficient of an integer-valued non-negative amount column
    * (cents, tokens): G = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over the
    * ascending-sorted amounts — computed entirely in EXACT BIGINTs
    * from the VALUE-CELL table. A cell (v, c) whose c ties occupy
    * ranks cb+1 … cb+c contributes v·(c·cb + c(c+1)/2) to Σ i·x₍ᵢ₎
    * (c(c+1) is always even — the shift is exact). Only the final
    * G readout divides. The rank-weighted sum reaches n²·v̄ and is
    * carried as DECIMAL(38,0) (int128 in the mirror) — exact to
    * n²·total ≈ 10³⁸; `total` itself stays BIGINT (a ledger past
    * 9.2e18 cents faults loudly at the emission cast).
    *
    * Output one row: (n, total, gini), gini round(6), null when the
    * total is 0 (all-zero amounts have no Lorenz curve).
    *
    * Scale shape (100 TB): one value-cell groupBy (map-side
    * combinable), one cumulative window over the GRID-bounded cell
    * table, one global aggregate.
    */
  def gini(df: DataFrame, valueCol: Column): DataFrame = {
    val cells = df.select(valueCol.cast("long").as("_v"))
      .groupBy("_v").agg(count(lit(1)).as("_c"))
    val w = Window.orderBy(col("_v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("_cb", coalesce(sum(col("_c")).over(w), lit(0L)))
    // the rank-weighted sum reaches v·n² — DECIMAL keeps it exact past
    // BIGINT's n²·v̄ ≈ 9.2e18 bound (the spearman sf1 overflow class);
    // the tie block c(c+1)/2 halves the even factor BEFORE multiplying
    // so no long product ever forms
    val cD = col("_c").cast("decimal(19,0)")
    val agg0 = ranked.agg(
      sum(col("_c")).as("n"),
      sum(col("_v") * col("_c")).as("total"),
      sum(col("_v").cast("decimal(19,0)") * (cD * col("_cb") +
        when(col("_c").bitwiseAND(lit(1L)) === 0L,
          shiftright(col("_c"), 1).cast("decimal(19,0)") * (col("_c") + 1L))
          .otherwise(cD * shiftright(col("_c") + 1L, 1)))).as("_sr"))
    val nD = col("n").cast("double")
    val sD = col("total").cast("double")
    agg0.select(col("n"), col("total"),
      when(col("total") > 0,
        round((lit(2.0) * col("_sr").cast("double") - (nD + 1) * sD) / (nD * sD), 6))
        .as("gini"))
  }

  /** One-way ANOVA F across k groups of an INTEGER-valued measurement
    * (the caller maps to integer units — cents, counts), the parametric
    * twin of [[kruskalWallis]]. Per-group n_g, Σx, Σx² aggregate as
    * exact BIGINTs in ONE map-side-combinable pass; the only
    * order-sensitive float reduction — Σ_g (Σx_g)²/n_g over the k
    * group rows — runs as an ordered fold over the group-sorted struct
    * list (the [[contingencyAnalysis]] idiom). SSB = Σ_g S_g²/n_g −
    * S²/N and SSW = Q − Σ_g S_g²/n_g then combine exact totals with
    * the folded term in fixed operand order. BIGINT bound: Σx² ≤
    * n·x_max² — safe while n·x_max² < 9.2e18; coarsen units past that.
    *
    * Output one row: (k, n, ssb, ssw, f), round(6); f null when k < 2
    * or SSW = 0 (no within-group variance).
    *
    * Scale shape (100 TB): one grouped moment aggregate (map-side
    * combinable); the fold list has one entry per GROUP.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val grp = df.select(col(groupCol).as("_g"), valueCol.cast("long").as("_x"))
      .groupBy("_g")
      .agg(count(lit(1)).as("_ng"), sum(col("_x")).as("_sg"),
        sum(col("_x") * col("_x")).as("_qg"))
    val term = col("_sg").cast("double") * col("_sg").cast("double") /
      col("_ng").cast("double")
    val folded = grp
      .select(struct(col("_g"), term.as("_at")).as("_s"),
        col("_ng"), col("_sg"), col("_qg"))
      .agg(collect_list(col("_s")).as("_l"), count(lit(1)).as("k"),
        sum(col("_ng")).as("n"), sum(col("_sg")).as("_stot"),
        sum(col("_qg")).as("_qtot"))
      .select(col("k"), col("n"), col("_stot"), col("_qtot"),
        orderedSum(col("_l"), "_at").as("_rr"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("_rr") - col("_stot").cast("double") *
      col("_stot").cast("double") / nD
    val ssw = col("_qtot").cast("double") - col("_rr")
    folded.select(col("k"), col("n"),
      round(ssb, 6).as("ssb"), round(ssw, 6).as("ssw"),
      when(col("k") > 1 && ssw > 0,
        round((ssb / (kD - 1)) / (ssw / (nD - kD)), 6)).as("f"))
  }

  /** ROC-AUC from scores and binary labels via the rank identity
    * AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) — the Mann-Whitney U statistic
    * normalized, with midrank tie handling (ties contribute ½, the
    * standard trapezoidal convention). CELL-based like [[mannWhitney]]:
    * one row per distinct score (bounded by the score grid — quantized
    * model outputs, not row count), every float term an exact dyadic,
    * so the rank sum is exact and order-free.
    *
    * Output one row: (n_pos, n_neg, auc), auc round(6), null when
    * either class is empty.
    *
    * Scale shape (100 TB): one score-cell groupBy (map-side
    * combinable), one cumulative window over the GRID-bounded cell
    * table, one global aggregate.
    */
  def aucRank(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val s = df.select(scoreCol.as("_v"), labelCol.cast("long").as("_p"))
    val cells = s.groupBy(col("_v"))
      .agg(sum(col("_p")).as("_np"), sum(lit(1L) - col("_p")).as("_nn"))
      .withColumn("_t", col("_np") + col("_nn"))
    val wcum = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells.withColumn("_cb",
      coalesce(sum(col("_t")).over(wcum), lit(0L)))
    val agg0 = ranked.agg(
      sum(col("_np")).as("n_pos"), sum(col("_nn")).as("n_neg"),
      sum(col("_np").cast("double") *
        (col("_cb").cast("double") + (col("_t").cast("double") + 1) / 2)).as("_rp"))
    val np = col("n_pos").cast("double")
    val nn = col("n_neg").cast("double")
    agg0.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round((col("_rp") - np * (np + 1) / 2) / (np * nn), 6)).as("auc"))
  }

  /** Confusion-matrix metrics of a binary prediction against a binary
    * label: exact TP/FP/FN/TN counts from ONE map-side-combinable
    * aggregate, with precision, recall, F1 and accuracy each as a
    * SINGLE division of exact integers (F1 via the 2TP/(2TP+FP+FN)
    * identity — never the p·r composition, which would stack three
    * rounded float ops), round(6); a zero denominator yields null.
    *
    * Output one row: (tp, fp, fn, tn, precision, recall, f1, accuracy).
    */
  def binaryClassMetrics(df: DataFrame, predCol: Column, labelCol: Column): DataFrame = {
    val agg0 = df.select(predCol.cast("boolean").as("_y"),
        labelCol.cast("boolean").as("_l"))
      .agg(
        sum(when(col("_y") && col("_l"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("_y") && !col("_l"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("_y") && col("_l"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("_y") && !col("_l"), 1L).otherwise(0L)).as("tn"))
    def ratio(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den.cast("double"), 6))
    agg0.select(col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"),
      ratio(col("tp") + col("tn"),
        col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy"))
  }

  /** Theil-Sen robust slope of an integer series (x strictly ordered
    * integer positions, y integer values): the MEDIAN of all pairwise
    * slopes (y_j−y_i)/(x_j−x_i) — outlier-resistant where OLS is not
    * (breakdown point 29%). The pair stage is a self-join over the
    * SERIES GRID (days, hours — bounded, never raw rows; n_pairs =
    * g(g−1)/2), each slope ONE exact-integer division, and the median
    * picked by the suite's exact rank arithmetic (rn·2 ≥ n ∧
    * (rn−1)·2 < n) under a TOTAL (slope, x_i, x_j) order so ties are
    * deterministic.
    *
    * Output one row: (n_pairs, sen_slope), slope round(6).
    *
    * Scale shape (100 TB): the caller aggregates raw rows to the grid
    * first (one map-side roll-up); the pair join and rank window ride
    * the |grid|² pair table — 365 days is 66k pairs, trivial forever.
    */
  def theilSen(series: DataFrame, xCol: String, yCol: String,
      maxGrid: Int = 100000): DataFrame = {
    // theilSen is a GRID operator — the caller aggregates raw rows to
    // the series grid first. Enforce that loudly (one count action),
    // then bound the broadcast side with a LIMIT the validation makes
    // vacuous: the plan carries a structural row bound (never a hint
    // on an unbounded aggregate), and a misused raw frame fails here
    // instead of broadcasting a corpus
    val n = series.count()
    require(n <= maxGrid,
      s"theilSen: series has $n rows — aggregate to the grid first (max $maxGrid)")
    val a = series.select(col(xCol).cast("long").as("_xa"),
      col(yCol).cast("long").as("_ya"))
    val b = series.select(col(xCol).cast("long").as("_xb"),
      col(yCol).cast("long").as("_yb")).limit(maxGrid)
    // the pair stage is grid × grid: broadcast one side so the plan is
    // a BroadcastNestedLoopJoin over the bounded grid, never a
    // CartesianProduct shuffle
    val slopes = a.join(broadcast(b), col("_xa") < col("_xb"))
      .select((col("_yb") - col("_ya")).cast("double")
          ./((col("_xb") - col("_xa")).cast("double")).as("_s"),
        col("_xa"), col("_xb"))
    val w = Window.orderBy(col("_s"), col("_xa"), col("_xb"))
    slopes
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("_rn") * 2 >= col("_n") && (col("_rn") - 1) * 2 < col("_n"))
      .select(col("_n").as("n_pairs"), round(col("_s"), 6).as("sen_slope"))
  }

  /** Grid quantile regression (Koenker-Bassett '78 pinball loss) of an
    * integer series: for each requested quantile τ, the line
    * y = a + b·x minimizing Σᵢ pinball_τ(yᵢ − a − b·xᵢ) over a
    * data-derived (intercept × slope) grid — the distribution-EDGE
    * complement of [[theilSen]]'s median trend (τ=0.9 tracks the
    * busy-day envelope, τ=0.5 the robust center). Intercepts span
    * [ymin, ymax] in `aSteps` steps; slopes span ±(yspan/xspan) in
    * `bSteps` steps — every grid value is ≤2 correctly-rounded IEEE
    * ops from the series' EXACT integer extremes, so an engine
    * replaying the same formulas lands on bit-identical candidates.
    * Each candidate's loss is the exact DECIMAL sum of
    * round(6)-quantized per-point pinball terms (order-free where a
    * double SUM is not), and the argmin is picked under the TOTAL
    * (loss, j, k) order so grid ties are deterministic.
    *
    * Output |taus| rows: (tau, a, b, loss), round(6).
    *
    * Scale shape (100 TB): the caller aggregates raw rows to the
    * series grid first (one map-side roll-up — enforced by the same
    * count guard as [[theilSen]]); the search rides a broadcast
    * nested loop of |series| × |grid|×|taus| rows — 31 days × 2 τ
    * × 231 cells is 14k rows, trivial forever.
    */
  def quantileRegressionGrid(series: DataFrame, xCol: String, yCol: String,
      taus: Seq[Double] = Seq(0.5, 0.9), aSteps: Int = 10, bSteps: Int = 20,
      maxGrid: Int = 100000): DataFrame = {
    require(taus.nonEmpty && taus.forall(t0 => t0 > 0.0 && t0 < 1.0),
      s"quantileRegressionGrid: taus must lie in (0,1), got $taus")
    require(aSteps >= 1 && bSteps >= 2 && bSteps % 2 == 0,
      s"quantileRegressionGrid: need aSteps>=1 and even bSteps>=2, got $aSteps/$bSteps")
    val n = series.count()
    require(n <= maxGrid,
      s"quantileRegressionGrid: series has $n rows — aggregate to the grid first (max $maxGrid)")
    val s0 = series.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val ext = s0.agg(min("_x").as("_xmin"), max("_x").as("_xmax"),
      min("_y").as("_ymin"), max("_y").as("_ymax"))
    val e = ext.head()
    require(e.getLong(1) > e.getLong(0),
      "quantileRegressionGrid: need at least two distinct x positions")
    val bHalf = bSteps / 2
    val yspanD = (col("_ymax") - col("_ymin")).cast("double")
    val xspanD = (col("_xmax") - col("_xmin")).cast("double")
    // a_j = ymin + yspan·(j/aSteps); b_k = (yspan/xspan)·((k−bHalf)/bHalf)
    // — written operation-for-operation like the SQL mirror
    val grid = ext
      .withColumn("_j", explode(sequence(lit(0), lit(aSteps))))
      .withColumn("_k", explode(sequence(lit(0), lit(bSteps))))
      .withColumn("_tau", explode(array(taus.map(lit(_)): _*)))
      .select(col("_tau"), col("_j").cast("long").as("_j"),
        col("_k").cast("long").as("_k"),
        (col("_ymin").cast("double") +
          yspanD * (col("_j").cast("double") / lit(aSteps.toDouble))).as("_a"),
        ((yspanD / xspanD) *
          ((col("_k") - lit(bHalf)).cast("double") / lit(bHalf.toDouble))).as("_b"))
    val r = col("_y").cast("double") - col("_a") - col("_b") * col("_x").cast("double")
    val pin = greatest(col("_tau") * r, (col("_tau") - lit(1.0)) * r)
    val scored = s0.crossJoin(broadcast(grid))
      .select(col("_tau"), col("_j"), col("_k"), col("_a"), col("_b"),
        round(pin, 6).cast("decimal(28,6)").as("_p"))
      .groupBy("_tau", "_j", "_k", "_a", "_b")
      .agg(sum(col("_p")).as("_loss"))
    val w = Window.partitionBy(col("_tau"))
      .orderBy(col("_loss"), col("_j"), col("_k"))
    scored.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("_tau").as("tau"),
        (round(col("_a"), 6) + lit(0.0)).as("a"),
        (round(col("_b"), 6) + lit(0.0)).as("b"),
        (round(col("_loss").cast("double"), 6) + lit(0.0)).as("loss"))
      .orderBy("tau")
  }

  /** Kruskal-Wallis one-way rank ANOVA across k groups, with midrank
    * ties and the tie correction — the k-sample extension of
    * [[mannWhitney]]. Per-group rank sums are carried as the exact
    * integer Σc·(2·midrank) over the (group, value) cell table; the
    * only order-sensitive float reduction — Σ_g R_g²/n_g over the k
    * group rows — runs as an ordered fold over the group-sorted struct
    * list (engine-portable bitwise, the [[contingencyAnalysis]]
    * idiom; k is bounded by the category count, so the fold list is
    * tiny). H = 12/(N(N+1))·Σ_g R_g²/n_g − 3(N+1), then divided by
    * the tie factor 1 − Σ(t³−t)/(N³−N). The tie term and rank sums
    * carry as DECIMAL(38,0) (int128 in the mirror): N³ breaks BIGINT
    * past N ≈ 2.1e6 — the spearman sf1 overflow class — and scale-0
    * decimals stay exact to N ≈ 2.9e12.
    *
    * Output one row: (k, n, h), h round(6), null when every value is
    * tied (tie factor 0).
    *
    * Scale shape (100 TB): one (group,value)-cell groupBy (map-side
    * combinable); the rank window rides the GRID-bounded value
    * marginal; the fold list has one entry per GROUP.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val cells = df.select(col(groupCol).as("_g"), col(valueCol).as("_v"))
      .groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val vm = cells.groupBy("_v").agg(sum("_c").as("_t"))
    val w = Window.orderBy(col("_v")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vm.withColumn("_cbv", coalesce(sum(col("_t")).over(w), lit(0L)))
      .select(col("_v"),
        (lit(2L) * col("_cbv") + col("_t") + lit(1L)).as("_r2"),
        col("_t"))
    val grp = cells.join(ranked.select("_v", "_r2"), Seq("_v"))
      .groupBy("_g")
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c").cast("decimal(13,0)") * col("_r2")).as("_r2g"))
    val ties = ranked.agg(
      sum(col("_t").cast("decimal(13,0)") * col("_t") * col("_t")
        - col("_t")).as("_tt"))
    // per-group term (R2g/2)²/ng = R2g²/(4·ng), folded in group order
    val term = (col("_r2g").cast("double") * col("_r2g").cast("double"))
      ./(lit(4.0))./(col("_ng").cast("double"))
    val folded = grp
      .select(struct(col("_g"), term.as("_kt")).as("_s"), col("_ng"))
      .agg(collect_list(col("_s")).as("_l"),
        sum(col("_ng")).as("n"), count(lit(1)).as("k"))
      .select(col("k"), col("n"),
        orderedSum(col("_l"), "_kt").as("_rr"))
    val nD = col("n").cast("double")
    val h0 = lit(12.0) / (nD * (nD + 1)) * col("_rr") - lit(3.0) * (nD + 1)
    val tieF = lit(1.0) - col("_tt").cast("double") /
      (nD * nD * nD - nD)
    folded.crossJoin(broadcast(ties))
      .select(col("k"), col("n"),
        when(tieF > 0, round(h0 / tieF, 6)).as("h"))
  }

  /** Cohen's kappa (Cohen 1960) — chance-corrected agreement between
    * two binary raters (the labeling-pipeline QA metric: does the
    * heuristic rater agree with the model rater beyond what their
    * marginals force?). All four confusion cells and both marginals are
    * exact BIGINT counts from ONE pass; p_o, p_e and kappa are three
    * divisions at the readout (IEEE-deterministic given identical exact
    * operands), round(6)-quantized.
    *
    * Output one row: (n, n11, n10, n01, n00, po, pe, kappa); kappa is
    * null when p_e = 1 (both raters constant — agreement undefined).
    *
    * Scale shape (100 TB): a single map-side-combinable aggregate; the
    * result is one row. Nothing else.
    */
  def cohenKappa(df: DataFrame, raterA: Column, raterB: Column): DataFrame = {
    val cells = df.select(raterA.cast("boolean").as("_a"),
        raterB.cast("boolean").as("_b"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("_a") && col("_b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("_a") && !col("_b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("_a") && col("_b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("_a") && !col("_b"), 1L).otherwise(0L)).as("n00"))
    val nD = col("n").cast("double")
    val po = (col("n11") + col("n00")).cast("double") / nD
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
        (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double") /
      (nD * nD)
    cells.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("po"), round(pe, 6).as("pe"),
      when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Per-group winsorized mean — the robust location estimate that
    * clamps (never drops) tails: values below the qLo percentile are
    * raised to it, values above qHi lowered to it, then averaged.
    * Percentiles are EXACT percentile_disc picks via the suite's
    * integer rank arithmetic (rn·qd ≥ qn·n ∧ (rn−1)·qd < qn·n) on an
    * exact-integer value column; the clamped sum is a BIGINT, so the
    * only float is the one round(6) division at the readout.
    *
    * Output per group: (groupCol, n, lo, hi, wmean).
    *
    * Scale shape (100 TB): the rank window and the final aggregate
    * share the group-key partition (one shuffle + exchange reuse); the
    * two cut points come from conditional aggregation on the SAME
    * ranked pass — no quantile-table join, no second scan.
    */
  def winsorizedMean(df: DataFrame, groupCol: String, value: Column,
      qLo: (Int, Int) = (1, 20), qHi: (Int, Int) = (19, 20)): DataFrame = {
    require(qLo._1 > 0 && qLo._1 <= qLo._2 && qHi._1 > 0 && qHi._1 <= qHi._2,
      s"winsorizedMean: quantiles must be rationals in (0,1], got $qLo $qHi")
    val w = Window.partitionBy(groupCol).orderBy(col("_v"))
    val ranked = df.select(col(groupCol), value.cast("long").as("_v"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
    def pick(qn: Int, qd: Int): Column =
      max(when(col("_rn") * qd >= lit(qn) * col("_n") &&
        (col("_rn") - 1) * qd < lit(qn) * col("_n"), col("_v")))
    val cuts = ranked.groupBy(groupCol)
      .agg(pick(qLo._1, qLo._2).as("lo"), pick(qHi._1, qHi._2).as("hi"))
    ranked.join(cuts, Seq(groupCol))
      .select(col(groupCol), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("_v"))).as("_c"))
      .groupBy(groupCol, "lo", "hi")
      .agg(count(lit(1)).as("n"), sum(col("_c")).as("_s"))
      .select(col(groupCol), col("n"), col("lo"), col("hi"),
        round(col("_s").cast("double") / col("n").cast("double"), 6)
          .as("wmean"))
  }

  /** Per-group Simpson diversity (Simpson 1949, the unbiased finite-
    * sample form): 1 − Σ nᵢ(nᵢ−1) / (N(N−1)) over category counts —
    * the probability two draws WITHOUT replacement differ. 0 for a
    * single-category group, → 1 under many even categories. Entirely
    * exact-integer until the one round(6) division (groups of one row
    * report null — no pair to draw).
    *
    * Output per group: (groupCol, n, k_cats, simpson).
    *
    * Scale shape (100 TB): two map-side-combinable roll-ups
    * ((group, cat) counts then group moments) — the hapax/vocab shape.
    */
  def simpsonDiversity(df: DataFrame, groupCol: String, catCol: String): DataFrame =
    df.groupBy(col(groupCol), col(catCol)).agg(count(lit(1)).as("_c"))
      .groupBy(groupCol)
      .agg(sum(col("_c")).as("n"), count(lit(1)).as("k_cats"),
        sum(col("_c") * (col("_c") - 1L)).as("_pp"))
      .select(col(groupCol), col("n"), col("k_cats"),
        when(col("n") >= 2,
          round(lit(1.0) - col("_pp").cast("double") /
            (col("n") * (col("n") - 1L)).cast("double"), 6)).as("simpson"))

  /** Per-group χ² divergence of a categorical distribution from the
    * corpus-wide marginal (goodness-of-fit screening — "which sources'
    * language mix drifted?"). Uses the observed-cells identity
    * Σ_all (o−e)²/e = Σ_obs o²·N/(n_g·tot_c) − n_g (empty cells
    * contribute o²/e = 0, so no category grid is materialized — the
    * [[contingencyAnalysis]] discipline). All counts exact BIGINTs;
    * each term is one fixed-order double expression; the per-group sum
    * folds over the category-sorted struct list (bounded by the
    * category count) so the float reduction is engine-portable.
    *
    * Output per group: (groupCol, n, chi2), chi2 round(6). Degrees of
    * freedom = (categories − 1) are the caller's lookup.
    *
    * Scale shape (100 TB): one (group, cat) cell groupBy (map-side
    * combinable), two marginal roll-ups, a broadcast 1-row total; the
    * fold list has one entry per OBSERVED category of the group.
    */
  def chi2Divergence(df: DataFrame, groupCol: String, catCol: String): DataFrame = {
    val cells = df.groupBy(col(groupCol).as("_g"), col(catCol).as("_c"))
      .agg(count(lit(1)).as("_o"))
    val ng = cells.groupBy("_g").agg(sum("_o").as("_ng"))
    val tc = cells.groupBy("_c").agg(sum("_o").as("_tc"))
    val tot = cells.agg(sum("_o").as("_n"))
    val term = (col("_o") * col("_o")).cast("double") * col("_n").cast("double") /
      (col("_ng").cast("double") * col("_tc").cast("double"))
    cells.join(ng, Seq("_g")).join(tc, Seq("_c")).crossJoin(broadcast(tot))
      .select(col("_g"), col("_ng"), struct(col("_c"), term.as("_t")).as("_s"))
      .groupBy("_g", "_ng")
      .agg(collect_list(col("_s")).as("_l"))
      .select(col("_g").as(groupCol), col("_ng").as("n"),
        round(orderedSum(col("_l"), "_t") - col("_ng").cast("double"), 6)
          .as("chi2"))
  }

  /** Smoothed (Bayesian) target encoding of a categorical column
    * (Micci-Barreca 2001 — the standard leakage-averse categorical
    * feature for tabular training pipelines): per category,
    * enc = (sum_y + m·global_mean) / (n + m), shrinking small
    * categories toward the global mean. `y` must be an exact integer
    * column (the suite's cents/scaled convention) so both sums are
    * order-free BIGINTs; global_mean and the encoding are divisions at
    * the readout, round(6)-quantized.
    *
    * Output per category: (catCol, n, mean, enc).
    *
    * Scale shape (100 TB): one map-side-combinable groupBy over the
    * category key plus a 1-row global aggregate broadcast back — two
    * exchanges total, no window, no skew exposure (the groupBy key IS
    * the category, and the per-category state is two longs).
    */
  def targetEncode(df: DataFrame, catCol: String, y: Column,
      m: Double = 10.0): DataFrame = {
    require(m >= 0, s"targetEncode: need m>=0, got $m")
    val per = df.select(col(catCol), y.cast("long").as("_y"))
      .groupBy(catCol)
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("_sy"))
    val glob = per.agg(sum(col("n")).as("_tn"), sum(col("_sy")).as("_ty"))
    per.crossJoin(broadcast(glob))
      .select(col(catCol), col("n"),
        round(col("_sy").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        round((col("_sy").cast("double") + lit(m) *
            (col("_ty").cast("double") / col("_tn").cast("double"))) /
          (col("n").cast("double") + lit(m)), 6).as("enc"))
  }

  /** Population Stability Index (the scorecard-monitoring standard,
    * Siddiqi 2006) between a reference and a current population of one
    * numeric column over FIXED literal bin edges — the distribution-
    * drift audit next to [[graft.operators.Ann.meanVectorDrift]]'s
    * embedding-space monitor. Bin id = #edges <= value (a branch-free
    * sum of comparisons — identical arithmetic on both engines); both
    * period counts come from ONE pass (conditional sums); p_ref/p_cur
    * are exact BIGINT/BIGINT divisions; the PSI contribution
    * (p_cur − p_ref)·ln((p_cur+ε)/(p_ref+ε)) uses ε = 1e-6 so empty
    * bins stay finite, round(6) per the suite's ln discipline.
    *
    * Output: (bin, n_ref, n_cur, p_ref, p_cur, psi_term) per bin.
    *
    * Scale shape (100 TB): one map-side-combinable groupBy on a
    * |edges|+1-bounded key; totals ride a broadcast 1-row aggregate.
    */
  def psi(df: DataFrame, value: Column, isRef: Column,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      s"psi: edges must be non-empty ascending, got $edges")
    val bin = edges.map(e => when(value >= lit(e), 1L).otherwise(0L))
      .reduce(_ + _)
    val c = df.select(bin.as("bin"), isRef.as("_r"))
      .groupBy("bin")
      .agg(sum(when(col("_r"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(!col("_r"), 1L).otherwise(0L)).as("n_cur"))
    val tot = c.agg(sum(col("n_ref")).as("_tr"), sum(col("n_cur")).as("_tc"))
    val pr = col("n_ref").cast("double") / col("_tr").cast("double")
    val pc = col("n_cur").cast("double") / col("_tc").cast("double")
    c.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(pr, 6).as("p_ref"), round(pc, 6).as("p_cur"),
        round((pc - pr) * log((pc + lit(1e-6)) / (pr + lit(1e-6))), 6)
          .as("psi_term"))
  }

  /** Per-segment Welch z uplift (the heterogeneous-treatment-effect
    * readout on top of [[abTestProportions]]'s global proportion test):
    * a deterministic md5 arm assignment, then per segment the
    * difference of CONTINUOUS means with the Welch standard error
    * √(s²_a/n_a + s²_b/n_b). First and second moments are exact
    * DECIMAL sums on the 2-decimal value grid (order-free — value² is
    * exact at 4 decimals); variances/means/z are fixed-order double
    * expressions at the readout, round(6); z null unless both arms
    * have n ≥ 2 and the SE is positive.
    *
    * Output per segment: (segCol, n_a, n_b, mean_a, mean_b, uplift, z).
    *
    * Scale shape (100 TB): ONE map-side-combinable segment aggregate
    * after the caller's join; nothing else.
    */
  def welchUplift(df: DataFrame, segCol: String, arm: Column,
      value: Column): DataFrame = {
    val x = value.cast("decimal(15,2)")
    val agg0 = df
      .select(col(segCol), arm.as("_b"), x.as("_x"), (x * x).as("_xx"))
      .groupBy(col(segCol))
      .agg(
        sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("_b") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("_b") === 0L, col("_x"))).cast("double").as("_sxa"),
        sum(when(col("_b") === 1L, col("_x"))).cast("double").as("_sxb"),
        sum(when(col("_b") === 0L, col("_xx"))).cast("double").as("_ssa"),
        sum(when(col("_b") === 1L, col("_xx"))).cast("double").as("_ssb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("_sxa") / na
    val mb = col("_sxb") / nb
    val va = (col("_ssa") - col("_sxa") * col("_sxa") / na) / (na - lit(1.0))
    val vb = (col("_ssb") - col("_sxb") * col("_sxb") / nb) / (nb - lit(1.0))
    val se2 = va / na + vb / nb
    agg0.select(col(segCol), col("n_a"), col("n_b"),
      round(ma, 6).as("mean_a"), round(mb, 6).as("mean_b"),
      round(mb - ma, 6).as("uplift"),
      when(col("n_a") >= 2L && col("n_b") >= 2L && se2 > 0.0,
        round((mb - ma) / sqrt(se2), 6)).as("z"))
  }

  /** Cumulative Poisson(1) thresholds used by [[poissonBootstrapCI]] —
    * computed once here and embedded as the SAME double literals in
    * both engines (Double.toString round-trips, so the SQL literal
    * parses back bit-identically).
    */
  val PoissonCum: Seq[Double] = {
    val pmf = Iterator.iterate((math.exp(-1.0), 1)) { case (p, k) =>
      (p / k, k + 1) }.map(_._1).take(9).toSeq
    pmf.scanLeft(0.0)(_ + _).tail
  }

  /** Deterministic Poisson bootstrap CI (Chamandy et al. '12 — THE
    * distributed bootstrap: resampling with replacement needs global
    * coordination, but Binomial(n, 1/n) → Poisson(1) per row makes
    * every replicate weight a LOCAL draw) for the per-group mean of a
    * value column. Replicate weights are md5-derived (seed:b:group:key
    * → uint48/2^48 → inverse Poisson CDF via the literal [[PoissonCum]]
    * thresholds, a branch-free comparison sum) so the SAME data always
    * yields the SAME CI — engine-portable, no RNG state anywhere.
    * Replicate means are exact BIGINT·weight sums with ONE division;
    * the CI picks are percentile_disc rank arithmetic over the B
    * replicate means under a (mean, b) total order, with INTEGER
    * ceil-rank computation (never float — ceil(0.025·200) in doubles
    * is 6, not 5).
    *
    * Output per group: (groupCol, n_rows, n_reps, mean_obs, ci_lo,
    * ci_hi) at the given two-sided confidence.
    *
    * Scale shape (100 TB): input is expected GROUPED (a daily/cell
    * aggregate — grid-bounded); the replicate explosion is
    * |grid|·B rows of longs, map-side generated (explode, no join);
    * one (group, b) roll-up + a per-group B-row rank window.
    */
  def poissonBootstrapCI(df: DataFrame, groupCol: String, keyCol: String,
      value: Column, reps: Int = 200, confPct: Int = 95,
      seed: String = "42"): DataFrame = {
    require(reps >= 40 && confPct >= 50 && confPct < 100,
      s"poissonBootstrapCI: need reps>=40, 50<=confPct<100; got $reps/$confPct")
    val base = df.select(col(groupCol).as("_g"), col(keyCol).as("_k"),
      value.cast("long").as("_x"))
    val obs = base.groupBy("_g").agg(count(lit(1)).as("n_rows"),
      sum(col("_x")).as("_sx"))
    val u = conv(substring(md5(concat_ws(":", lit(seed),
        col("_b").cast("string"), col("_g").cast("string"),
        col("_k").cast("string"))), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(2, 48))
    val w = PoissonCum.map(t => when(u >= lit(t), 1L).otherwise(0L))
      .reduce(_ + _)
    val means = base
      .withColumn("_b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("_w", w)
      .groupBy(col("_g"), col("_b"))
      .agg(sum(col("_w")).as("_sw"),
        sum(col("_w").cast("decimal(19,0)") * col("_x")).as("_swx"))
      .filter(col("_sw") > 0L)
      .select(col("_g"),
        (col("_swx").cast("double") / col("_sw").cast("double")).as("_mb"),
        col("_b"))
    val rw = Window.partitionBy(col("_g")).orderBy(col("_mb"), col("_b"))
    val tail = (100 - confPct) * 5L // per-side permille: e.g. 95 -> 25
    val ranked = means.withColumn("_rn", row_number().over(rw))
      .withColumn("_nb", count(lit(1)).over(Window.partitionBy(col("_g"))))
    val loR = ceilDiv(col("_nb") * tail, lit(1000L))
    val hiR = ceilDiv(col("_nb") * (1000L - tail), lit(1000L))
    ranked.groupBy(col("_g"))
      .agg(max(col("_nb")).as("n_reps"),
        max(when(col("_rn") === loR, col("_mb"))).as("_lo"),
        max(when(col("_rn") === hiR, col("_mb"))).as("_hi"))
      .join(obs, Seq("_g"))
      .select(col("_g").as(groupCol), col("n_rows"), col("n_reps"),
        round(col("_sx").cast("double") / col("n_rows").cast("double"), 6)
          .as("mean_obs"),
        round(col("_lo"), 6).as("ci_lo"), round(col("_hi"), 6).as("ci_hi"))
  }

  /** Exact integer ceil(a / b) on BIGINT columns without a data-sized
    * sort or an ANSI division hazard: (a+b−1) is rounded down to a
    * multiple of b via pmod, and the final double division of exact
    * multiples below 2^53 is IEEE-exact.
    */
  private def ceilDiv(a: Column, b: Column): Column =
    ((a + b - 1 - pmod(a + b - 1, b)) / b).cast("long")

  /** Cumulative gain & lift by score decile (the campaign-targeting
    * readout next to classifier_auc's rank view). Semantics = NTILE
    * over rows ordered (score DESC, label DESC) — remainder rows
    * land in the earlier buckets, ties resolve label-first, and rows
    * WITHIN a (score, label) cell are interchangeable (every decile
    * readout is cell-count arithmetic, so no per-row tiebreaker is
    * needed or taken) — but the
    * plan never sorts rows: rows within a (round(6) score, label) CELL
    * are interchangeable under that order, so the NTILE geometry
    * (first n%B buckets hold n/B+1 rows) is replayed arithmetically
    * over cell spans — each cell's global position range splits across
    * the <= B buckets it straddles, the same trick classifier_auc uses
    * for rank sums. All counts exact BIGINT; gain = cum_pos/total_pos
    * and lift = gain/(cum_n/total_n) are IEEE-exact divisions, round(6).
    *
    * Output: (decile, n, n_pos, cum_n, cum_pos, gain, lift).
    *
    * Scale shape (100 TB): ONE map-side-combinable cell aggregate; the
    * partition-less windows ride the score-GRID-bounded cell list and
    * the B-row decile frame, never rows. CONTRACT: `score` must be
    * quantized to a bounded grid (e.g. round(score, 6) over a bounded
    * range — <= ~2M cells x 2 labels); a continuous raw score makes
    * the cell list row-sized and the partition-less window a
    * single-task sort. Enforced at execution: the plan raises once the
    * cell count (a 1-row aggregate already in the plan) exceeds
    * `maxCells` — fail-fast, not a silent mega-task.
    */
  def liftGain(df: DataFrame, score: Column, label: Column,
      buckets: Int = 10, maxCells: Long = 4000000L): DataFrame = {
    require(buckets >= 2, s"liftGain: need buckets>=2, got $buckets")
    require(maxCells >= 1, s"liftGain: need maxCells>=1, got $maxCells")
    val cells = df.select(score.as("_s"), label.cast("boolean").as("_y"))
      .groupBy("_s", "_y").agg(count(lit(1)).as("_c"))
    val cw = Window.orderBy(col("_s").desc, col("_y").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum(col("_c")).as("_n"),
      sum(when(col("_y"), col("_c")).otherwise(0L)).as("_tp"),
      count(lit(1)).as("_m"))
    // NTILE geometry from the 1-row total: q = n div B, r = n mod B;
    // bucket b covers positions ((b-1)q + min(b-1,r), bq + min(b,r)]
    val q = col("_q")
    val r = col("_r")
    def bucketOf(p: Column): Column =
      when(p <= r * (q + 1L), ceilDiv(p, q + 1L))
        .otherwise(r + ceilDiv(p - r * (q + 1L), greatest(q, lit(1L))))
    val spans = cells
      .withColumn("_end", sum(col("_c")).over(cw))
      .withColumn("_start", col("_end") - col("_c") + 1L)
      .crossJoin(broadcast(tot))
      // assert_true is null when it passes, so the coalesce adds an
      // exact 0 — the guard rides a column the plan needs (pruning
      // can't drop it) and costs one broadcast comparison per cell row
      .withColumn("_q", expr(s"_n div ${buckets}L") +
        coalesce(assert_true(col("_m") <= lit(maxCells),
          lit(s"liftGain: score cells exceed maxCells=$maxCells -- " +
            "quantize the score (e.g. round(score, 6) on a bounded " +
            "range) or raise maxCells")).cast("long"), lit(0L)))
      .withColumn("_r", col("_n") % lit(buckets.toLong))
      .withColumn("decile", explode(sequence(bucketOf(col("_start")),
        bucketOf(col("_end")))))
      .withColumn("_bs",
        (col("decile") - 1L) * q + least(col("decile") - 1L, r) + 1L)
      .withColumn("_be", col("decile") * q + least(col("decile"), r))
      .withColumn("_ov", least(col("_end"), col("_be")) -
        greatest(col("_start"), col("_bs")) + 1L)
    val d = spans.groupBy("decile")
      .agg(sum(col("_ov")).as("n"),
        sum(when(col("_y"), col("_ov")).otherwise(0L)).as("n_pos"),
        first(col("_n")).as("_tn"), first(col("_tp")).as("_tpp"))
    val dw = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gain = col("cum_pos").cast("double") / col("_tpp").cast("double")
    d.withColumn("cum_n", sum(col("n")).over(dw))
      .withColumn("cum_pos", sum(col("n_pos")).over(dw))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"), round(gain, 6).as("gain"),
        round(gain / (col("cum_n").cast("double") / col("_tn").cast("double")),
          6).as("lift"))
  }

  /** √(2π) frozen as a literal shared by both engines' normal-CDF
    * replay (Double.toString round-trips bit-exactly). */
  val Sqrt2Pi: Double = math.sqrt(2.0 * math.Pi)

  /** Benjamini-Hochberg FDR over a battery of one-vs-rest Welch z
    * tests — the "which segments actually differ" readout that a naive
    * per-test alpha would overcall m times. Per group: Welch z of
    * `value` vs the pooled REST (rest moments = exact decimal global
    * minus group sums — one corpus pass, no second scan), two-sided
    * p via the Abramowitz-Stegun 26.2.17 normal-CDF polynomial
    * evaluated in Horner form (identical literal coefficients on both
    * engines; exp parity at the round(6) grid is suite-proven), then
    * BH: sort p ascending, q_i = min_{j>=i}(p_j·m/j) computed as m
    * fresh suffix folds over the collected battery (m = |groups|,
    * tiny) — never a data-sized window.
    *
    * Output: (group, n, mean, z, p, rank, q, significant) per group,
    * p/q on the round(6) grid, rank on (p, group).
    *
    * Scale shape (100 TB): ONE decimal-moment aggregate is the only
    * corpus-sized exchange; the battery is |groups| rows collected
    * into a single struct list.
    */
  def bhFdrWelch(df: DataFrame, groupCol: String, value: Column,
      alpha: Double = 0.05): DataFrame = {
    val x = value.cast("decimal(15,2)")
    val g = df.filter(value.isNotNull)
      .select(col(groupCol).as("_g"), x.as("_x"), (x * x).as("_xx"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_sx"),
        sum(col("_xx")).as("_ss"))
    val glob = g.agg(sum(col("_n")).as("_tn"), sum(col("_sx")).as("_ts"),
      sum(col("_ss")).as("_tss"))
    val j = g.crossJoin(broadcast(glob))
    val na = col("_n").cast("double")
    val nb = (col("_tn") - col("_n")).cast("double")
    val sa = col("_sx").cast("double")
    val sb = (col("_ts") - col("_sx")).cast("double")
    val ssa = col("_ss").cast("double")
    val ssb = (col("_tss") - col("_ss")).cast("double")
    val ma = sa / na
    val mb = sb / nb
    val va = (ssa - sa * sa / na) / (na - lit(1.0))
    val vb = (ssb - sb * sb / nb) / (nb - lit(1.0))
    val se2 = va / na + vb / nb
    val z = (ma - mb) / sqrt(se2)
    // two-sided p = 2·φ(|z|)·AS-polynomial(t), t = 1/(1+0.2316419|z|),
    // Horner form — the float path is identical character-for-character
    // in the SQL mirror
    val az = abs(z)
    val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = ((((lit(1.330274429) * tt + lit(-1.821255978)) * tt +
      lit(1.781477937)) * tt + lit(-0.356563782)) * tt + lit(0.319381530)) * tt
    val p2 = lit(2.0) * (exp(lit(-0.5) * az * az) / lit(Sqrt2Pi)) * poly
    // both sides need >= 2 rows or the Welch variance divides by
    // (n-1) <= 0; z and mean are subtraction-derived → signed-zero
    // normalization on the round(6) grid (invariant #47)
    val scored = j.filter(col("_n") >= 2L && col("_tn") - col("_n") >= 2L)
      .select(col("_g"), col("_n"),
        (round(ma, 6) + lit(0.0)).as("_mean"), (round(z, 6) + lit(0.0)).as("_z"),
        round(p2, 6).as("_p"))
    val packed = scored
      .agg(sort_array(collect_list(struct(col("_p"), col("_g"), col("_n"),
        col("_mean"), col("_z")))).as("_l"))
    packed.select(posexplode(col("_l")).as(Seq("_i0", "_e")), col("_l"))
      .withColumn("_rk", col("_i0") + 1)
      .select(col("_e").getField("_g").as(groupCol),
        col("_e").getField("_n").as("n"),
        col("_e").getField("_mean").as("mean"),
        col("_e").getField("_z").as("z"),
        col("_e").getField("_p").as("p"),
        col("_rk").cast("int").as("rank"),
        round(least(lit(1.0),
          aggregate(sequence(col("_rk"), size(col("_l")).cast("long")),
            lit(Double.MaxValue), (acc, jj) =>
              least(acc, element_at(col("_l"), jj.cast("int")).getField("_p") *
                size(col("_l")).cast("double") / jj.cast("double")))), 6)
          .as("q"))
      .withColumn("significant", col("q") <= lit(alpha))
  }

  /** Isotonic calibration (pool-adjacent-violators) of a classifier
    * score — the nonparametric companion to the reliability diagram:
    * the monotone step function closest (L2) to the per-bin observed
    * rates. Computed by the MINIMAX identity rather than the stack
    * algorithm: iso_k = max_{i<=k} min_{j>=k} mean(pos)/mean(n) over
    * the cell span [i..j] — PAV's sequential merge loop has a
    * data-dependent float path no SQL engine replays, while minimax is
    * min/max (order-free, exact comparisons) over IEEE quotients of
    * exact BIGINT prefix-sum differences: both engines see the
    * identical value set, so the fit is bit-portable. O(m³) over
    * m <= `bins` score cells — the fold rides the GRID, never rows.
    *
    * Output per occupied bin: (bin, n, n_pos, raw_rate, iso_rate),
    * iso_rate monotone non-decreasing in bin.
    *
    * Scale shape (100 TB): ONE (bin, label) cell aggregate; everything
    * after is arithmetic on a <= bins-length array in one row.
    */
  def isotonicCalibration(df: DataFrame, score: Column, label: Column,
      bins: Int = 100): DataFrame = {
    require(bins >= 2 && bins <= 512,
      s"isotonicCalibration: need 2<=bins<=512 (O(bins^3) fold), got $bins")
    // clamp BOTH ends: scores outside [0,1] must land in bin 0 or
    // bins-1, never a negative bin
    val cells = df.select(
        greatest(lit(0L),
          least(floor(score * bins), lit((bins - 1).toLong))).cast("long").as("_b"),
        label.cast("long").as("_y"))
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_p"))
    val packed = cells
      .agg(sort_array(collect_list(struct(col("_b"), col("_n"), col("_p"))))
        .as("_l"))
    val m = size(col("_l"))
    // prefix-sum arrays, entry t = sum of the first t-1 cells (exact)
    def pref(field: String) = transform(sequence(lit(0), m), i =>
      aggregate(slice(col("_l"), lit(1), i), lit(0L),
        (a, x) => a + x.getField(field)))
    val withP = packed.withColumn("_pn", pref("_n")).withColumn("_pp", pref("_p"))
    def avgD(i: Column, j: Column): Column =
      (element_at(col("_pp"), (j + 1).cast("int")) -
        element_at(col("_pp"), i.cast("int"))).cast("double") /
        (element_at(col("_pn"), (j + 1).cast("int")) -
          element_at(col("_pn"), i.cast("int"))).cast("double")
    val isoArr = transform(sequence(lit(1), m), k =>
      aggregate(sequence(lit(1), k), lit(-1.0), (best, i) =>
        greatest(best, aggregate(sequence(k, m), lit(2.0), (mn, j) =>
          least(mn, avgD(i, j))))))
    withP.select(posexplode(col("_l")).as(Seq("_i0", "_e")), isoArr.as("_iso"))
      .select(col("_e").getField("_b").as("bin"),
        col("_e").getField("_n").as("n"),
        col("_e").getField("_p").as("n_pos"),
        round(col("_e").getField("_p").cast("double") /
          col("_e").getField("_n").cast("double"), 6).as("raw_rate"),
        round(element_at(col("_iso"), (col("_i0") + 1).cast("int")), 6)
          .as("iso_rate"))
  }

  /** Fisher's exact test, one-sided greater (the 2×2 companion the
    * asymptotic chi2/z tests can't replace at small or skewed cells):
    * P[X >= a] for X ~ Hypergeom(n, r1, c1). All counts come from ONE
    * corpus aggregate; the hypergeometric tail is computed on that
    * single row as exact arithmetic with an engine-portable float
    * path — ln-factorials as ascending ordered folds (Σ ln i, the
    * list_sum-over-range idiom), the anchor pmf via one exp, and the
    * tail by the term-ratio recursion t_{k+1} = t_k·(r1−k)(c1−k) /
    * ((k+1)(r2−c1+k+1)) folded k = a..kmax — every multiply/divide on
    * identical operands in identical order, so the DuckDB recursive
    * CTE replays it bit-for-bit (round(6) absorbs exp's last-ulp).
    *
    * Output one row: (a, r1, r2, c1, n, odds_ratio, p_greater).
    *
    * Scale shape (100 TB): one aggregate; the tail fold is
    * min(r1,c1)−a terms on a 1-row frame — driver-free, data-free.
    */
  def fisherExactGreater(df: DataFrame, arm: Column,
      outcome: Column): DataFrame = {
    val cnt = df.select(arm.cast("long").as("_b"),
        outcome.cast("boolean").as("_y"))
      .agg(
        sum(when(col("_b") === 0L && col("_y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("_b") === 0L, 1L).otherwise(0L)).as("r1"),
        sum(when(col("_b") =!= 0L, 1L).otherwise(0L)).as("r2"),
        sum(when(col("_y"), 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("n"))
    def lf(c: Column): Column =
      when(c >= 2L, aggregate(sequence(lit(2L), c), lit(0.0),
        (acc, i) => acc + log(i.cast("double")))).otherwise(lit(0.0))
    val a = col("a"); val r1 = col("r1"); val r2 = col("r2")
    val c1 = col("c1"); val n = col("n")
    // one flat left-associative chain — mirrored character-for-character
    val lnp = lf(r1) - lf(a) - lf(r1 - a) + lf(r2) - lf(c1 - a) -
      lf(r2 - c1 + a) - lf(n) + lf(c1) + lf(n - c1)
    val t0 = exp(lnp)
    val kmax = least(r1, c1)
    val stT = "struct<t:double,s:double>"
    val p = when(kmax >= a + 1L,
      aggregate(sequence(a + 1L, kmax),
        struct(t0.as("t"), t0.as("s")).cast(stT), (st, k) => {
          val num = ((r1 - k + 1L) * (c1 - k + 1L)).cast("double")
          val den = (k * (r2 - c1 + k)).cast("double")
          val t2 = st.getField("t") * (num / den)
          struct(t2.as("t"), (st.getField("s") + t2).as("s")).cast(stT)
        }).getField("s"))
      .otherwise(t0)
    val or = when(r1 - a > 0L && c1 - a > 0L,
      round((a * (r2 - c1 + a)).cast("double") /
        ((r1 - a) * (c1 - a)).cast("double"), 6))
    cnt.select(a, r1, r2, c1, n, or.as("odds_ratio"),
      round(p, 6).as("p_greater"))
  }

  /** t-closeness audit (Li et al. '07) — the distributional member of
    * the privacy trio next to k-anonymity (group size) and l-diversity
    * (distinct count): per quasi-identifier group, the Earth Mover's
    * Distance between the group's ORDERED sensitive-attribute
    * distribution and the global one, EMD = (1/(m−1))·Σᵢ|Σ_{j≤i}(pⱼ−qⱼ)|
    * over the m ordered levels. A group can be large (k-safe) and
    * varied (l-safe) yet still leak — e.g. every member in the top
    * spending band — which only the EMD sees.
    *
    * `sensitiveCol` must be LOW-CARDINALITY ordered (a banded/bucketed
    * attribute — caller contract): the level table rides a 1-row
    * GLOBAL aggregate (broadcast-safe by the bounded-hint rule), each
    * group folds its own level map against it, and the O(m²) prefix
    * re-folds stay engine-portable (no window prefix sum, whose
    * tree-aggregated float order DuckDB does not guarantee).
    *
    * Output: top-`topK` worst groups (qi..., n, t_emd), ranked on the
    * round(6) grid with the qi tie-break — TakeOrderedAndProject,
    * never a global sort.
    *
    * Scale shape (100 TB): ONE (qi, level) cell aggregate is the only
    * corpus-sized exchange; groups fold m-length arrays; top-k is a
    * limit, not a sort.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      topK: Int = 10): DataFrame = {
    require(qiCols.nonEmpty && topK >= 1,
      s"tCloseness: need qi columns and topK>=1")
    val q = qiCols.map(col)
    val cells = df.groupBy((q :+ col(sensitiveCol).as("_lvl")): _*)
      .agg(count(lit(1)).as("_c"))
    val glob = cells.groupBy(col("_lvl")).agg(sum(col("_c")).as("_gc"))
      .agg(sort_array(collect_list(struct(col("_lvl"), col("_gc")))).as("_gl"),
        sum(col("_gc")).as("_n"))
    val groups = cells.groupBy(q: _*)
      .agg(sum(col("_c")).as("_ng"),
        map_from_entries(collect_list(struct(col("_lvl"), col("_c"))))
          .as("_cm"))
    val withD = groups.crossJoin(broadcast(glob))
      .withColumn("_dl", transform(col("_gl"), x =>
        coalesce(element_at(col("_cm"), x.getField("_lvl")), lit(0L))
          .cast("double") / col("_ng").cast("double") -
          x.getField("_gc").cast("double") / col("_n").cast("double")))
      .withColumn("_m", size(col("_dl")))
    // EMD as m fresh prefix folds (m is tiny): each |Σ_{j<=i} d_j| is an
    // ordered left fold over the level-sorted slice — bit-portable,
    // unlike a cumulative window whose float association is engine-internal
    val emd = when(col("_m") > 1,
      aggregate(sequence(lit(1), col("_m")), lit(0.0), (acc, i) =>
        acc + abs(aggregate(slice(col("_dl"), lit(1), i), lit(0.0),
          (a, d) => a + d))) / (col("_m") - 1).cast("double"))
      .otherwise(lit(0.0))
    withD
      .select((q :+ col("_ng").as("n") :+ round(emd, 6).as("t_emd")): _*)
      .orderBy((col("t_emd").desc +: q.map(_.asc)): _*)
      .limit(topK)
  }
}
