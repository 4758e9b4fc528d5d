package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** One-pass sketch operators — the approximate-analytics layer a 100 TB
  * corpus pass needs where the exact formulation's shuffle is the
  * bottleneck (reference: the profiling/quality surface around
  * epic_pandas/utils.py `column_stats`/`value_counts`, re-expressed as
  * mergeable sketches; algorithms are the published HyperLogLog
  * [Flajolet et al. 2007] and Misra-Gries frequent-items
  * [Misra & Gries 1982; merge rule from Agarwal et al., "Mergeable
  * Summaries", PODS 2012]).
  *
  * Every sketch here is ENGINE-PORTABLE by construction — hashes derive
  * from md5 (replayable in any engine with an `md5()` builtin), and all
  * estimator arithmetic is either exact integer math or single IEEE
  * double operations mirrored verbatim in the oracle SQL — so the
  * declared queries hash-check against DuckDB with no tolerance.
  */
object Sketches {

  // ---------------------------------------------------------------------
  // HyperLogLog over the portable md5 hash
  // ---------------------------------------------------------------------

  /** Number of registers (2^P); P=8 keeps the per-group state at 256
    * rows — small enough that the grouped sketch shuffles a constant
    * `|groups| * 256` rows regardless of input size.
    */
  val HllP = 8
  val HllM: Int = 1 << HllP
  /** rho ranges over [1, 49]: the rank of the first set bit in the
    * 48-bit window below the register byte (49 = window all zeros).
    * 48 bits = 12 hex nibbles, so the oracle reconstructs the window
    * exactly from the md5 hex (16^12 = 2^48 stays below double's 2^53
    * integer range for the nibble-weighted sum).
    */
  val HllWBits = 48
  private val RhoMax = HllWBits + 1

  /** alpha_m * m^2 * 2^49 for m=256 — the numerator of the raw HLL
    * estimate over the 2^49-scaled exact-integer harmonic denominator.
    * Evaluated HERE and interpolated into the oracle SQL as a literal
    * (shortest round-trip decimal), so both engines divide the same
    * double by the same exact integer.
    */
  val HllAlphaNum: Double = {
    val m = HllM.toDouble
    (0.7213 / (1.0 + 1.079 / m)) * m * m * math.pow(2.0, RhoMax.toDouble)
  }

  /** Linear-counting lookup: lc(z) = m * ln(m / z) for z = 1..m-1
    * empty registers. Precomputed so neither engine evaluates `ln` at
    * query time — StrictMath here, a literal array there; the small-range
    * branch stays bit-portable.
    */
  val HllLinearCounting: IndexedSeq[Double] =
    (1 until HllM).map(z => HllM.toDouble * StrictMath.log(HllM.toDouble / z))

  /** Register index: top byte of the portable 64-bit md5 hash. */
  def hllRegister(value: Column): Column =
    shiftrightunsigned(TextFunctions.md5Bits64(value.cast("string")), 64 - HllP)

  /** rho: 49 - bit-length of the 48-bit window under the register byte.
    * `length(bin(w))` is the exact integer bit-length (no float log2),
    * special-cased to 49 when the window is all zeros.
    */
  def hllRho(value: Column): Column = {
    val w = shiftrightunsigned(TextFunctions.md5Bits64(value.cast("string")), 8)
      .bitwiseAND(lit((1L << HllWBits) - 1))
    when(w === 0L, lit(RhoMax)).otherwise(lit(RhoMax) - length(bin(w)))
  }

  /** Grouped approximate COUNT(DISTINCT valueCol): two cheap shuffles —
    * (group, register) max-rho, then per-group register fold — versus
    * the exact form's full distinct-pair exchange. Map-side partial
    * aggregation collapses duplicate values before anything moves, so
    * the exchange carries at most |groups| * 256 rows at ANY input
    * scale; sketches merge associatively, so the same frame computes on
    * a 1000-executor cluster with no plan change.
    *
    * Output: groupCols, est_distinct (double; raw HLL with the
    * standard small-range linear-counting correction, every arithmetic
    * step mirrored in the oracle), plus the exact-integer estimator
    * internals (denom, zero_regs) that make the result auditable.
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame =
    hllFinalize(hllRegisterFrame(df, groupCols, valueCol), groupCols)

  /** The mergeable state: per (group, register) max-rho. This frame is
    * what a STREAMING aggregation maintains incrementally
    * ([[graft.streaming.StreamOps.hllWindowRegisters]]) — max is
    * monotone, so update-mode micro-batches converge to exactly the
    * batch frame, and [[hllFinalize]] turns either into estimates.
    */
  def hllRegisterFrame(df: DataFrame, groupCols: Seq[String], valueCol: Column): DataFrame =
    df.groupBy((groupCols.map(col) :+ hllRegister(valueCol).as("reg")): _*)
      .agg(max(hllRho(valueCol)).as("rmax"))

  /** Estimator fold over a register frame (reg, rmax per group). */
  def hllFinalize(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = regs
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("present"),
        // 2^(49-rmax) <= 2^48: the double power is integer-exact, the
        // cast-back makes the harmonic denominator an exact BIGINT sum
        sum(pow(lit(2.0), lit(RhoMax) - col("rmax")).cast("long")).as("dpresent"))
      .withColumn("zero_regs", lit(HllM.toLong) - col("present"))
      .withColumn("denom",
        col("dpresent") + col("zero_regs") * lit(1L << RhoMax))
    val rawE = lit(HllAlphaNum) / col("denom").cast("double")
    val lc = element_at(
      array(HllLinearCounting.map(lit): _*),
      greatest(col("zero_regs"), lit(1L)).cast("int"))
    g.withColumn("est_distinct",
        when(col("zero_regs") > 0 && rawE <= lit(2.5 * HllM), lc).otherwise(rawE))
      .drop("present", "dpresent")
  }

  /** The oracle-side HLL replay for one value expression `valExpr`
    * (VARCHAR) grouped by `groupExpr` over `from` — generated from the
    * SAME constants as the Spark path, so the two engines agree
    * bit-for-bit. Kept here (not in SparkEntry) so a constant change
    * cannot desynchronize the engines.
    */
  def hllOracleSql(from: String, groupExpr: String, groupName: String,
      valExpr: String): String = {
    val nib = (k: Int) => s"(instr('0123456789abcdef', substr(hx, $k, 1)) - 1)"
    // 12 nibbles below the register byte -> exact 48-bit window
    val wTerms = (3 to 14)
      .map(k => s"${nib(k)} * power(16, ${14 - k})").mkString(" + ")
    val rhoCase = s"CASE WHEN w <= 0 THEN $RhoMax " +
      (1 to HllWBits).map(r => s"WHEN w >= ${1L << (HllWBits - r)} THEN $r")
        .mkString(" ") + " END"
    // `e0` suffix: DuckDB types bare decimal literals as DECIMAL and the
    // decimal->double conversion can lose the last ulp; e-notation is a
    // DOUBLE literal parsed by strtod (exact shortest-round-trip)
    val lcList = HllLinearCounting.map(d => s"${d}e0").mkString("[", ", ", "]")
    s"""WITH v AS (SELECT $groupExpr AS g, md5($valExpr) AS hx FROM $from),
       | b AS (SELECT g, ${nib(1)} * 16 + ${nib(2)} AS reg,
       |         CAST($wTerms AS BIGINT) AS w FROM v),
       | r AS (SELECT g, reg, MAX($rhoCase) AS rmax FROM b GROUP BY 1, 2),
       | a AS (SELECT g, COUNT(*) AS present,
       |         CAST(SUM(CAST(power(2, $RhoMax - rmax) AS BIGINT)) AS BIGINT) AS dpresent
       |       FROM r GROUP BY 1),
       | f AS (SELECT g, $HllM - present AS zero_regs,
       |         dpresent + ($HllM - present) * ${1L << RhoMax} AS denom FROM a),
       | e AS (SELECT g, zero_regs, denom,
       |         $HllAlphaNum / CAST(denom AS DOUBLE) AS rawe,
       |         list_extract($lcList,
       |           CAST(greatest(zero_regs, 1) AS INT)) AS lc FROM f)
       |SELECT g AS $groupName, CAST(zero_regs AS BIGINT) AS zero_regs,
       |       CAST(denom AS BIGINT) AS denom,
       |       CASE WHEN zero_regs > 0 AND rawe <= ${2.5 * HllM} THEN lc
       |            ELSE rawe END AS est_distinct
       |FROM e""".stripMargin
  }

  /** Two-set distinct overlap from ONE pass: per-set HLL estimates, a
    * register-max union merge, and inclusion-exclusion intersection /
    * Jaccard estimates. This is the identity that makes HLL the right
    * sketch for cross-corpus overlap at 100 TB — the union of two
    * sketches is the elementwise register max [Flajolet et al. 2007,
    * §4], so overlap between corpora costs one scan of each and
    * |sets|*256 rows of exchanged state, never a distinct-join. The
    * union rows are derived from the SAME register frame by a max
    * re-group (at most 2*256 rows), so the input is scanned once.
    *
    * Output: one row — (set_a, set_b, est_a, est_b, est_union,
    * est_intersection, est_jaccard). Intersection can come back
    * negative on disjoint sets (inclusion-exclusion over noisy
    * estimates — reported as-is, the standard estimator).
    */
  def hllOverlap(df: DataFrame, setCol: String, valueCol: Column,
      setA: String, setB: String): DataFrame = {
    val regs = hllRegisterFrame(
      df.filter(col(setCol).isin(setA, setB)), Seq(setCol), valueCol)
    val unionRegs = regs.groupBy("reg").agg(max("rmax").as("rmax"))
      .select(lit("__union").as(setCol), col("reg"), col("rmax"))
    val est = hllFinalize(regs.unionByName(unionRegs), Seq(setCol))
    est.agg(
        max(when(col(setCol) === setA, col("est_distinct"))).as("est_a"),
        max(when(col(setCol) === setB, col("est_distinct"))).as("est_b"),
        max(when(col(setCol) === "__union", col("est_distinct")))
          .as("est_union"))
      .withColumn("est_intersection",
        (col("est_a") + col("est_b")) - col("est_union"))
      .withColumn("est_jaccard", col("est_intersection") / col("est_union"))
      .select(lit(setA).as("set_a"), lit(setB).as("set_b"), col("est_a"),
        col("est_b"), col("est_union"), col("est_intersection"),
        col("est_jaccard"))
  }

  /** Oracle replay of [[hllOverlap]] — same register/estimator SQL as
    * [[hllOracleSql]] with a union re-group spliced between `r` and the
    * finalize chain; generated from the same constants so the engines
    * agree bit-for-bit (the +,-,/ of the inclusion-exclusion step are
    * single IEEE double ops in both engines, in the same order).
    */
  def hllOverlapOracleSql(from: String, setExpr: String, valExpr: String,
      setA: String, setB: String): String = {
    val nib = (k: Int) => s"(instr('0123456789abcdef', substr(hx, $k, 1)) - 1)"
    val wTerms = (3 to 14)
      .map(k => s"${nib(k)} * power(16, ${14 - k})").mkString(" + ")
    val rhoCase = s"CASE WHEN w <= 0 THEN $RhoMax " +
      (1 to HllWBits).map(r => s"WHEN w >= ${1L << (HllWBits - r)} THEN $r")
        .mkString(" ") + " END"
    val lcList = HllLinearCounting.map(d => s"${d}e0").mkString("[", ", ", "]")
    s"""WITH v AS (SELECT $setExpr AS g, md5($valExpr) AS hx FROM $from
       |           WHERE $setExpr IN ('$setA', '$setB')),
       | b AS (SELECT g, ${nib(1)} * 16 + ${nib(2)} AS reg,
       |         CAST($wTerms AS BIGINT) AS w FROM v),
       | r AS (SELECT g, reg, MAX($rhoCase) AS rmax FROM b GROUP BY 1, 2),
       | ru AS (SELECT '__union' AS g, reg, MAX(rmax) AS rmax FROM r GROUP BY 2),
       | rr AS (SELECT * FROM r UNION ALL SELECT * FROM ru),
       | a AS (SELECT g, COUNT(*) AS present,
       |         CAST(SUM(CAST(power(2, $RhoMax - rmax) AS BIGINT)) AS BIGINT) AS dpresent
       |       FROM rr GROUP BY 1),
       | f AS (SELECT g, $HllM - present AS zero_regs,
       |         dpresent + ($HllM - present) * ${1L << RhoMax} AS denom FROM a),
       | e AS (SELECT g, zero_regs, denom,
       |         $HllAlphaNum / CAST(denom AS DOUBLE) AS rawe,
       |         list_extract($lcList,
       |           CAST(greatest(zero_regs, 1) AS INT)) AS lc FROM f),
       | est AS (SELECT g,
       |         CASE WHEN zero_regs > 0 AND rawe <= ${2.5 * HllM} THEN lc
       |              ELSE rawe END AS est FROM e),
       | sel AS (SELECT MAX(CASE WHEN g = '$setA' THEN est END) AS est_a,
       |                MAX(CASE WHEN g = '$setB' THEN est END) AS est_b,
       |                MAX(CASE WHEN g = '__union' THEN est END) AS est_union
       |         FROM est)
       |SELECT '$setA' AS set_a, '$setB' AS set_b, est_a, est_b, est_union,
       |       (est_a + est_b) - est_union AS est_intersection,
       |       ((est_a + est_b) - est_union) / est_union AS est_jaccard
       |FROM sel""".stripMargin
  }

  /** Set-DIFFERENCE readout over the same two HLL sketches as
    * [[hllOverlap]]: est(A∖B) = est(A∪B) − est(B) and symmetrically —
    * the inclusion-exclusion identity one step further. Nothing new is
    * scanned or shuffled: the registers, union re-group and estimator
    * are [[hllOverlap]]'s, and each difference is ONE extra IEEE
    * subtraction of already-final doubles (engine-portable bitwise).
    * Negative estimates are possible at small cardinality (HLL noise);
    * they are emitted raw — clamping is a presentation choice the
    * caller owns.
    */
  def hllSetDiff(df: DataFrame, setCol: String, valueCol: Column,
      setA: String, setB: String): DataFrame =
    hllOverlap(df, setCol, valueCol, setA, setB)
      .withColumn("est_diff_a", col("est_union") - col("est_b"))
      .withColumn("est_diff_b", col("est_union") - col("est_a"))

  /** Oracle twin of [[hllSetDiff]] — wraps [[hllOverlapOracleSql]] and
    * applies the same two subtractions. */
  def hllSetDiffOracleSql(from: String, setExpr: String, valExpr: String,
      setA: String, setB: String): String =
    s"""SELECT *, est_union - est_b AS est_diff_a,
       |       est_union - est_a AS est_diff_b
       |FROM (${hllOverlapOracleSql(from, setExpr, valExpr, setA, setB)}) o""".stripMargin

  // ---------------------------------------------------------------------
  // K-minimum-values (bottom-k) sketch
  // ---------------------------------------------------------------------

  /** Bottom-k sketch [Bar-Yossef et al. 2002]: per group, the k smallest
    * md5-hash priorities over the DISTINCT values. One structure, two
    * readouts: (a) a deterministic, partition-invariant uniform sample
    * of distinct values (bottom-k of a union is the bottom-k of the
    * bottom-ks — mergeable, so map-side partial aggregation bounds the
    * exchange at |groups|*k rows), and (b) the KMV distinct estimate
    * (k-1)/u_k from the k-th smallest priority. The priority is the
    * first 48 md5 bits as a double in [0,1) — the same hash-to-uniform
    * replay as Corpus.assignSplit, exact in any engine.
    * Output: (groupCols..., rank, value, u), rank 1..k by (u, value).
    */
  def kmvBottomK(df: DataFrame, groupCols: Seq[String], valueCol: Column,
      k: Int, seed: String = "42"): DataFrame = {
    require(k >= 2, s"kmvBottomK: need k>=2, got $k")
    val d = df.select((groupCols.map(col) :+ valueCol.cast("string").as("value")): _*)
      .distinct()
    val u = conv(substring(md5(concat(lit(seed + ":"), col("value"))), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(2, 48))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("u"), col("value"))
    d.withColumn("u", u)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** KMV distinct estimate from a [[kmvBottomK]] frame: exact n_kept
    * when the group has fewer than k distinct values (the sketch holds
    * all of them), else (k-1)/u_k. */
  def kmvDistinct(bottomK: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    bottomK.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("u")).as("_umax"))
      .withColumn("est_distinct",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("_umax")))
      .drop("_umax")

  // ---------------------------------------------------------------------
  // Misra-Gries heavy hitters
  // ---------------------------------------------------------------------

  /** Misra-Gries frequent-items sketch with capacity k-1: any item with
    * true frequency strictly above n/k is GUARANTEED to survive as a
    * candidate, and the merge rule (sum, then subtract the k-th largest
    * count and drop non-positives — Agarwal et al. 2012) preserves that
    * bound across partitions, so the map-side state is k-1 counters per
    * task and the exchange carries one tiny map per partition instead
    * of the full item domain.
    */
  class MisraGriesAgg(k: Int)
      extends Aggregator[String, mutable.HashMap[String, Long], Map[String, Long]] {
    require(k >= 2, s"Misra-Gries needs k >= 2, got $k")

    override def zero: mutable.HashMap[String, Long] = mutable.HashMap.empty

    private def shrink(b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
      if (b.size < k) return b
      // subtract the k-th largest count from everything, drop <= 0
      val counts = b.values.toArray
      java.util.Arrays.sort(counts)
      val pivot = counts(counts.length - k)
      b.filterInPlace((_, c) => c > pivot).mapValuesInPlace((_, c) => c - pivot)
      b
    }

    override def reduce(b: mutable.HashMap[String, Long], item: String): mutable.HashMap[String, Long] = {
      if (item == null) return b
      b.updateWith(item) { case Some(c) => Some(c + 1L); case None => Some(1L) }
      shrink(b)
    }

    override def merge(a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
      val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
      small.foreach { case (item, c) =>
        big.updateWith(item) { case Some(c0) => Some(c0 + c); case None => Some(c) }
      }
      shrink(big)
    }

    override def finish(b: mutable.HashMap[String, Long]): Map[String, Long] = b.toMap

    override def bufferEncoder =
      org.apache.spark.sql.Encoders.kryo[mutable.HashMap[String, Long]]
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** EXACT heavy hitters at threshold n/k, found at sketch cost: one
    * Misra-Gries pass yields <= k-1 candidates (provably a superset of
    * every item with count * k > n), then an exact recount of ONLY the
    * candidate rows — a broadcast semi-join plus a <= k-1 group
    * aggregate — replaces the full-domain groupBy. The result is
    * bit-identical to the exact `GROUP BY ... HAVING cnt * k > n`
    * (which is the oracle), but at 100 TB the exchange carries k
    * counters per task rather than the whole vocabulary.
    *
    * `itemCol` must be a column of `df` (the frame is scanned twice:
    * sketch+count, then recount — both scans prune to the one column).
    */
  def heavyHitters(df: DataFrame, itemCol: String, k: Int): DataFrame = {
    import df.sparkSession.implicits._
    val items = df.select(col(itemCol).as("item")).na.drop()
    val agg = new MisraGriesAgg(k).toColumn
    // one pass: total n + the MG candidate map (both global aggregates)
    val row = items.select(count(lit(1)).as("n")).crossJoin(
      items.as[String](org.apache.spark.sql.Encoders.STRING)
        .select(agg.name("mg"))).head()
    val n = row.getLong(0)
    val cands = row.getMap[String, Long](1).keys.toSeq
    items
      .join(broadcast(cands.toDF("item")), Seq("item"), "left_semi")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > n)
      .orderBy(col("cnt").desc, col("item"))
  }

  // ---------------------------------------------------------------------
  // Binned quantiles (fixed integer grid)
  // ---------------------------------------------------------------------

  /** Approximate quantiles of an INTEGER column from a fixed 256-bin
    * histogram: two scans (min/max/count, then a groupBy that exchanges
    * at most 256 rows after map-side combine) replace the exact
    * formulation's full sort — the scale path for percentiles over
    * 100 TB. Binning is EXACT integer arithmetic
    * (`(x - min) * B div span`), ranks are exact ceil(q*n) integers,
    * and the only floats are the final two-division interpolation,
    * mirrored verbatim in the oracle — so even the approximation is
    * hash-portable.
    *
    * `qs` are (numerator, denominator) rationals to keep rank math
    * exact. Output: q (double), est (interpolated value), n.
    */
  /** Static t-digest (Dunning & Ertl, "Computing extremely accurate
    * quantiles using t-digests", 2019): cluster a value column into at
    * most `delta` centroids whose WIDTH follows a tail-concentrating
    * scale function, so quantile reads are sharp at the tails (p99,
    * p999) where fixed-width histograms ([[binnedQuantiles]]) blur.
    * Here the digest is built by the direct k-scale assignment: each
    * distinct value cell gets its midpoint quantile q = (2·below +
    * m) / (2n), and lands in centroid floor(K(q)·δ) where K is the
    * scale function — the "clustering by quantile bands" the merging
    * construction converges to, computed in one pass.
    *
    * PORTABILITY is why K is the cubic two-sided polynomial
    * K(q) = (q³ + 1 − (1−q)³)/2 rather than Dunning's asin/log k₁-k₃:
    * asin/log route through libm, whose last-ulp behavior differs
    * between engines, and one ulp at a centroid boundary flips a
    * bucket; the cubic uses only IEEE-exact +,·,/ on a q that is itself
    * one exact division of integers, so BOTH engines assign every cell
    * to the same centroid bit-for-bit. K′(q) = 3(q² + (1−q)²)/2 is
    * 2× larger at the tails than at the median — the same
    * tail-concentration property (k-size bound ~ 1/K′ inverted),
    * giving ~2× finer centroids at the extremes.
    *
    * Output: (centroid, weight, mean, v_min, v_max) per non-empty
    * centroid, centroid-ordered; weights sum to n; means are exact
    * DECIMAL sums divided once at the readout (round 6, `+ 0.0` to
    * normalize a -0.0 that Spark's BigDecimal round would never emit
    * but DuckDB's ROUND preserves — both readouts add it).
    *
    * Scale shape (100 TB): one map-side-combinable value-cell
    * aggregate; the rank-below-each-cell is the MERGEABLE two-phase
    * formulation (the unique_row_ids discipline, Relational.scala):
    * value-range-partitioned per-partition prefix sums, merged by
    * adding per-partition totals in ascending partition order — an
    * O(#partitions) bounded collect, never a global single-task sort,
    * so an unbounded value domain (ids, epoch-micros) keeps every
    * partition's window local and parallel. The centroid roll-up is a
    * ≤δ-group aggregate. Client-side quantile reads interpolate the
    * ≤δ-row result — driver-sized forever. The merge order is
    * deterministic (partition ranges are value-ordered) and the merged
    * rank is partition-invariant, so the output is bit-identical to
    * the single-sort formulation the oracle replays.
    */
  def tdigestCentroids(df: DataFrame, valueCol: Column,
      delta: Int = 64): DataFrame = {
    require(delta >= 2 && delta <= 4096,
      s"tdigestCentroids: need 2<=delta<=4096, got $delta")
    val cells = df.select(valueCol.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .groupBy("_v").agg(count(lit(1)).as("_m"))
    val n1 = cells.agg(sum(col("_m")).as("_n"))
    // --- two-phase distributed rank (cumulative count strictly below
    // each cell). Range partitioning samples boundaries afresh per
    // execution, so the local prefix sums and the collected offsets
    // MUST come from one materialization: localCheckpoint severs the
    // lineage so a lost block fails loudly instead of silently
    // re-ranking under new boundaries (unique_row_ids, Relational
    // .scala:255 — the same failure mode, the same cure).
    val nParts = df.sparkSession.sessionState.conf.numShufflePartitions
    val local = cells.repartitionByRange(nParts, col("_v"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcb", coalesce(
        sum(col("_m")).over(Window.partitionBy(col("_pid")).orderBy(col("_v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .localCheckpoint(true)
    // one row per non-empty partition — O(#shuffle-partitions) metadata
    val partTotals = local.groupBy(col("_pid")).agg(sum(col("_m")).as("_pt"))
      .orderBy("_pid").collect().map(r => (r.getInt(0), r.getLong(1)))
    val cum = partTotals.scanLeft(0L)(_ + _._2)
    val offsets = partTotals.indices.map(i => (partTotals(i)._1, cum(i)))
    val offsetDf = df.sparkSession.createDataFrame(offsets).toDF("_pid", "_off")
    val q = local.join(broadcast(offsetDf), Seq("_pid"))
      .withColumn("_cb", col("_lcb") + col("_off"))
      .crossJoin(broadcast(n1))
      .withColumn("_q", (lit(2L) * col("_cb") + col("_m")).cast("double") /
        (lit(2L) * col("_n")).cast("double"))
    val oneMq = lit(1.0) - col("_q")
    val k = (col("_q") * col("_q") * col("_q") + lit(1.0)
      - oneMq * oneMq * oneMq) / lit(2.0)
    q.withColumn("centroid",
        least(lit(delta - 1), floor(k * lit(delta.toDouble)).cast("int")))
      .groupBy("centroid")
      .agg(sum(col("_m")).as("weight"),
        (round(sum(col("_v").cast("decimal(19,0)") * col("_m").cast("decimal(13,0)"))
          .cast("double") / sum(col("_m")).cast("double"), 6) + lit(0.0)).as("mean"),
        min(col("_v")).as("v_min"), max(col("_v")).as("v_max"))
      .orderBy("centroid")
  }

  val QuantileBins = 256

  def binnedQuantiles(df: DataFrame, colName: String,
      qs: Seq[(Int, Int)]): DataFrame = {
    val s = df.sparkSession
    val x = col(colName).cast("long")
    val mm = df.agg(min(x).as("mn"), max(x).as("mx"), count(x).as("n")).head()
    val (mn, mx, n) = (mm.getLong(0), mm.getLong(1), mm.getLong(2))
    val span = mx - mn + 1
    val hist = df
      // `div` (not `/`): exact integer binning, no float-quotient edges
      .groupBy(expr(s"(CAST($colName AS BIGINT) - ${mn}L) * $QuantileBins div ${span}L").as("bin"))
      .agg(count(lit(1)).as("cnt"))
      // 256 rows: the single-partition window is over the HISTOGRAM,
      // never the data — bounded by construction
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)))
    val targets = s.createDataFrame(qs.map { case (qn, qd) =>
      (qn.toDouble / qd, (qn * n + qd - 1) / qd) // exact ceil(q*n)
    }).toDF("q", "r")
    val chosen = targets.join(hist, col("cum") >= col("r"))
      .groupBy("q", "r").agg(min(col("bin")).as("bin"))
      .join(hist, Seq("bin"))
    // est = mn + (bin + (r - cum_below)/cnt) * span/B — every float op
    // a single IEEE operation in fixed order, mirrored in the SQL
    chosen.select(
        col("q"),
        (lit(mn.toDouble) +
          (col("bin").cast("double") +
            (col("r") - (col("cum") - col("cnt"))).cast("double") /
              col("cnt").cast("double")) *
          lit(span.toDouble / QuantileBins)).as("est"),
        lit(n).as("n"))
      .orderBy("q")
  }

  /** Oracle replay of [[binnedQuantiles]] — same grid, same rationals,
    * min/max/count recomputed in SQL (they are exact integers, so the
    * engines agree with the Spark side's driver-collected literals).
    */
  def binnedQuantilesOracleSql(from: String, colName: String,
      qs: Seq[(Int, Int)]): String = {
    val B = QuantileBins
    val qRows = qs.map { case (qn, qd) =>
      s"(CAST($qn AS DOUBLE) / $qd, ($qn * (SELECT n FROM mm) + $qd - 1) // $qd)"
    }.mkString(", ")
    s"""WITH mm AS (SELECT MIN(CAST($colName AS BIGINT)) AS mn,
       |              MAX(CAST($colName AS BIGINT)) AS mx,
       |              COUNT($colName) AS n FROM $from),
       | h0 AS (SELECT (CAST($colName AS BIGINT) - (SELECT mn FROM mm)) * $B
       |          // ((SELECT mx FROM mm) - (SELECT mn FROM mm) + 1) AS bin,
       |        COUNT(*) AS cnt FROM $from GROUP BY 1),
       | h AS (SELECT bin, cnt,
       |         SUM(cnt) OVER (ORDER BY bin
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |       FROM h0),
       | t(q, r) AS (VALUES $qRows),
       | c AS (SELECT q, r, MIN(bin) AS bin FROM t JOIN h ON cum >= r
       |       GROUP BY 1, 2)
       |SELECT c.q,
       |  CAST((SELECT mn FROM mm) AS DOUBLE) +
       |    (CAST(c.bin AS DOUBLE) +
       |      CAST(c.r - (h.cum - h.cnt) AS DOUBLE) / CAST(h.cnt AS DOUBLE)) *
       |    (CAST((SELECT mx FROM mm) - (SELECT mn FROM mm) + 1 AS DOUBLE) / $B)
       |    AS est,
       |  (SELECT n FROM mm) AS n
       |FROM c JOIN h ON c.bin = h.bin ORDER BY q""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Count-Min sketch
  // ---------------------------------------------------------------------

  /** Count-Min sketch [Cormode & Muthukrishnan 2005] over the portable
    * md5 hash: `CmsDepth` rows of `w` counters (w a power of two so the
    * bucket is a bit-mask, replayable from md5 hex nibbles). The counter
    * table is d*w rows TOTAL — after map-side combine the exchange is
    * constant-size at any input scale, and point-frequency estimates
    * (min over the d counters, never an undercount) come from a
    * broadcast join against it. The estimate arithmetic is all exact
    * integers, so the oracle matches bit-for-bit including collision
    * overcounts.
    */
  val CmsDepth = 3

  def cmsBucket(item: Column, row: Int, w: Int): Column = {
    require(w > 0 && (w & (w - 1)) == 0, s"w must be a power of two, got $w")
    TextFunctions.md5Bits64(concat(lit(s"$row:"), item))
      .bitwiseAND(lit((w - 1).toLong))
  }

  /** One scan -> the d*w counter table (row, bucket, cnt). */
  def cmsCounters(items: DataFrame, itemCol: String, w: Int): DataFrame =
    items
      .select(explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("row"), cmsBucket(col(itemCol), j, w).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for `probes` (a frame with `itemCol`): min over the
    * d counters, 0 for never-hashed buckets — an upper bound on the true
    * count by construction.
    */
  def cmsEstimates(counters: DataFrame, probes: DataFrame, itemCol: String,
      w: Int): DataFrame =
    probes
      .select(col(itemCol), explode(array((0 until CmsDepth).map(j =>
        struct(lit(j).as("row"), cmsBucket(col(itemCol), j, w).as("bucket"))): _*)).as("rb"))
      .join(counters,
        col("rb.row") === counters("row") && col("rb.bucket") === counters("bucket"),
        "left")
      .groupBy(itemCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  /** Oracle-side bucket for w=64: the low 6 bits of the md5-derived
    * 64-bit hash, read off hex nibbles 15-16 (shared shape with
    * [[graft.operators.Scale.shardOf]]'s oracle).
    */
  def cmsBucket64OracleExpr(hexExpr: String): String =
    s"((instr('0123456789abcdef', substr($hexExpr, 15, 1)) - 1) % 4) * 16" +
      s" + (instr('0123456789abcdef', substr($hexExpr, 16, 1)) - 1)"

  /** CMS join-cardinality estimate: |A ⋈_k B| = Σ_k f_A(k)·f_B(k) is
    * estimated by min_j Σ_b a_j[b]·b_j[b] — the inner product of the
    * two sides' row-j counters (the sketch-dot-product identity of
    * Cormode-Muthukrishnan §4.2). Collisions only ADD mass, so each
    * row's product overcounts and the min over the d rows is — like the
    * point estimate — an upper bound that never undercounts. All exact
    * integer arithmetic; the oracle replays bit-for-bit.
    *
    * Scale shape (100 TB): each side collapses to d·w counters in one
    * map-side-combinable pass; the product + min run over two
    * CONSTANT-size sketches. This answers "how big would this join be"
    * without shuffling either fact table on the join key — the
    * pre-flight check before committing a cluster to the real join.
    */
  def cmsJoinSize(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
      w: Int): DataFrame = {
    val ca = cmsCounters(a.select(col(aCol).cast("string").as("_it")), "_it", w)
    val cb = cmsCounters(b.select(col(bCol).cast("string").as("_it")), "_it", w)
      .withColumnRenamed("cnt", "cntb")
    ca.join(cb, Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("cnt").cast("decimal(19,0)") * col("cntb")).as("_ip"))
      // internal inner products are exact decimal; the emission contract
      // stays BIGINT (ANSI faults loudly past 9.2e18)
      .agg(min(col("_ip")).cast("long").as("est"))
  }

  /** AMS (tug-of-war) F2 sketch: d independent ±1 sign functions from
    * the portable md5 hash; each estimator is S_j = Σ_x sign_j(x) over
    * every OCCURRENCE, and E[S_j²] = F2 = Σ_v f(v)² — the self-join
    * size (Alon-Matias-Szegedy '96). The returned estimate is the
    * median of the d squares (d odd → an exact integer element, no
    * interpolation). Output: one row (est).
    *
    * Scale shape (100 TB): the whole sketch is d running signed sums —
    * a map-side-combinable aggregate whose exchange carries d rows at
    * any stream length; the self-join size is estimated without ever
    * grouping on the key.
    */
  def amsF2(df: DataFrame, itemCol: String, d: Int = 5): DataFrame = {
    require(d >= 1 && d % 2 == 1, s"amsF2: need odd d>=1, got $d")
    def sign(j: Int): Column =
      lit(1L) - lit(2L) * Stats.md5Parity(col(itemCol), s"s$j")
    df.select(explode(array((0 until d).map(j =>
        struct(lit(j).as("row"), sign(j).as("s"))): _*)).as("rs"))
      .groupBy(col("rs.row").as("row"))
      .agg(sum(col("rs.s")).as("_S"))
      .agg(sort_array(collect_list(col("_S") * col("_S"))).as("_e"))
      .select(element_at(col("_e"), (d + 1) / 2).as("est"))
  }

  /** Oracle-side ±1 sign for [[amsF2]]: parity of md5 hex nibble 16 =
    * bit 0 of the big-endian 64-bit prefix [[TextFunctions.md5Bits64]]
    * reads.
    */
  def amsSignOracleExpr(hexExpr: String): String =
    s"1 - 2 * ((instr('0123456789abcdef', substr($hexExpr, 16, 1)) - 1) % 2)"

  // ---------------------------------------------------------------------
  // Z-order (Morton) interleaving
  // ---------------------------------------------------------------------

  /** Morton code: interleave the low `bits` bits of x (even positions)
    * and y (odd positions) — exact integer bit arithmetic composed from
    * codegen'd builtins, identically replayable in any SQL engine with
    * `>>`/`&`. 21 bits each keeps the code in 42 bits (well under the
    * exact-double 2^53 for the oracle's literal-weighted sum).
    */
  def zOrderValue(x: Column, y: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftrightunsigned(x.cast("long"), i).bitwiseAND(lit(1L)), 2 * i),
        shiftleft(shiftrightunsigned(y.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
    terms.reduce(_ + _)
  }

  /** Oracle-side Morton code over expressions xe/ye (BIGINT). */
  def zOrderOracleExpr(xe: String, ye: String, bits: Int = 21): String =
    (0 until bits).flatMap { i =>
      Seq(s"(($xe >> $i) & 1) * ${1L << (2 * i)}",
        s"(($ye >> $i) & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
}
