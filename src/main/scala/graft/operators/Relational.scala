package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed-table relational operators re-expressing the reference's
  * index-algebra surface (epic-pandas `utils.py`) Spark-first.
  *
  * Scale notes (100 TB rule): no operator here collects row data to the
  * driver; the only driver-side actions are O(#strata)/O(#labels) metadata
  * lookups that the reference itself treats as small. Totals are computed
  * as 1-row aggregates joined back via broadcast, never via an
  * all-rows-to-one-partition window.
  */
object Relational {

  /** Histogram of a column -> (value, cnt, fraction[, TOTAL row]).
    * Reference: `utils.py:281-320` (value_counts). The synthetic TOTAL row
    * label escalates (`TOTAL` -> `=TOTAL=` -> `==TOTAL==` ...) when the
    * data itself contains the label (`utils.py:316-319`).
    *
    * Values are cast to string so the TOTAL label can share the column.
    * fraction sums to 1.0 over the non-TOTAL rows.
    */
  def valueCounts(
      df: DataFrame,
      c: String,
      sort: Boolean = true,
      ascending: Boolean = false,
      dropna: Boolean = true,
      total: Boolean = false): DataFrame = {
    val base = if (dropna) df.filter(col(c).isNotNull) else df
    // The aggregated counts frame (|distinct values| rows — small by
    // construction) is reused by the fraction, TOTAL and label-probe
    // branches; persisting it keeps the raw input at ONE scan instead of
    // one per branch (the 100 TB rule). Lifecycle note: operator-internal
    // persists here and in VizPrep/Dedup are MEMORY_AND_DISK and LRU-
    // evictable; a long-lived session looping over many operators can
    // reclaim eagerly with spark.catalog.clearCache().
    val counts = base
      .groupBy(col(c).cast("string").as("value"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // total = 1-row aggregate, broadcast back (no Window.over() single-
    // partition collapse; this survives any input size).
    val tot = counts.agg(sum("cnt").as("_grand"))
    val withFrac = counts
      .crossJoin(broadcast(tot))
      .withColumn("fraction", col("cnt").cast("double") / col("_grand"))
      .select(col("value"), col("cnt"), col("fraction"))
    val (out, totalLabel) =
      if (!total) (withFrac, None)
      else {
        // Label-clash probe: tiny driver action over the aggregated (small)
        // counts, mirroring the reference's in-memory index check.
        val taken = counts
          .filter(col("value").rlike("^=*TOTAL=*$"))
          .select("value")
          .collect()
          .map(_.getString(0))
          .toSet
        val label = Iterator
          .iterate("TOTAL")(l => s"=$l=")
          .dropWhile(taken.contains)
          .next()
        val totalRow = tot.select(
          lit(label).as("value"),
          col("_grand").as("cnt"),
          lit(1.0).as("fraction"))
        (withFrac.unionByName(totalRow), Some(label))
      }
    if (!sort) out
    else {
      val cnt = if (ascending) col("cnt").asc else col("cnt").desc
      totalLabel match {
        // only the synthetic row is pinned last — a DATA value that merely
        // looks like "TOTAL" sorts like any other value
        case Some(l) => out.orderBy((col("value") === lit(l)).asc, cnt, col("value"))
        case None => out.orderBy(cnt, col("value"))
      }
    }
  }

  /** Numeric value_counts with equi-width bins (`utils.py:312`,
    * `pd.value_counts(bins=k)`): global [min,max] split into k buckets,
    * output one row per bucket with bounds + count + fraction.
    * Two-pass plan: 1-row min/max aggregate broadcast into the bucketing
    * expression, then a single hash aggregation — the same shape holds at
    * any scale.
    */
  def valueCountsBinned(df: DataFrame, c: String, bins: Int): DataFrame = {
    require(bins > 0, "bins must be positive")
    val mm = df.agg(
      min(col(c)).cast("double").as("_lo"),
      max(col(c)).cast("double").as("_hi"))
    val bucket = least(
      floor((col(c).cast("double") - col("_lo")) / (col("_hi") - col("_lo")) * bins),
      lit(bins - 1)).cast("int")
    val binned = df
      .filter(col(c).isNotNull)
      .crossJoin(broadcast(mm))
      .withColumn("bucket", bucket)
    // the grouped frame is <= bins rows but derives from a full scan and
    // is read twice (rows + grand total): an EAGER localCheckpoint runs
    // the scan once and stores only the tiny result, released by the
    // ContextCleaner when the frame is collected — no persist, so no
    // caller-side clearCache contract
    val counts = binned
      .groupBy(col("bucket"), col("_lo"), col("_hi"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
      .withColumn("lo", col("_lo") + (col("_hi") - col("_lo")) / bins * col("bucket"))
      .withColumn("hi", col("_lo") + (col("_hi") - col("_lo")) / bins * (col("bucket") + 1))
    val tot = counts.agg(sum("cnt").as("_grand"))
    counts
      .crossJoin(broadcast(tot))
      .withColumn("fraction", col("cnt").cast("double") / col("_grand"))
      .select("bucket", "lo", "hi", "cnt", "fraction")
      .orderBy("bucket")
  }

  /** Insert-or-update by key (`utils.py:469-489`): rows of `orig` whose key
    * is absent from `updates`, plus all of `updates`. Order not guaranteed
    * (the reference documents the same, `utils.py:487`). The anti-join
    * broadcasts automatically when `updates` is small (AQE/stats); both
    * sides shuffle on the key otherwise — the minimal possible movement.
    */
  def upsert(orig: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    orig
      .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)

  /** Partition-pruned upsert — the Delta-MERGE shape (SURVEY §2.1 #12
    * "at scale: Delta MERGE", `utils.py:469-489`): same result set as
    * [[upsert]], but the key anti-join runs ONLY over partitions that
    * actually contain updates. `updates`' distinct partition values are
    * a broadcast (they are few by construction — that's why partCol is
    * a partition column), untouched partitions stream through a
    * map-side broadcast anti-join with no key shuffle, and the
    * expensive wide-key anti-join input shrinks from |orig| to
    * |touched partitions|. Over storage partitioned by `partCol` the
    * same semi-join is what lets the engine skip untouched files
    * entirely (dynamic partition pruning); a Delta/Iceberg writer
    * would then rewrite only the touched partitions.
    */
  def upsertPruned(orig: DataFrame, updates: DataFrame, keys: Seq[String],
      partCol: String): DataFrame = {
    val parts = updates.select(col(partCol)).distinct()
    val untouched = orig.join(broadcast(parts), Seq(partCol), "left_anti")
    val touched = orig.join(broadcast(parts), Seq(partCol), "left_semi")
    untouched
      .unionByName(touched
        .join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti"))
      .unionByName(updates)
      // the USING-joins moved partCol first; restore orig's column order
      .select(orig.columns.map(col).toIndexedSeq: _*)
  }

  sealed trait Keep
  object Keep {
    case object First extends Keep
    case object Last extends Keep
    case object None extends Keep
    case object Any extends Keep
  }

  /** Key-dedup with keep in {first,last,none,any} (`utils.py:352-372`).
    * first/last/none need an explicit ordering (Spark has no row order);
    * pass enough columns to make it total or ties resolve arbitrarily.
    * `Any` maps to the cheaper `dropDuplicates`. One shuffle on the key
    * either way.
    */
  def dropDuplicatesByKey(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[String],
      keep: Keep): DataFrame = keep match {
    case Keep.Any => df.dropDuplicates(keys)
    case _ =>
      val w = Window.partitionBy(keys.map(col): _*)
      val tagged = keep match {
        case Keep.First =>
          df.withColumn("_rn", row_number().over(w.orderBy(order.map(col(_).asc): _*)))
            .filter(col("_rn") === 1)
        case Keep.Last =>
          df.withColumn("_rn", row_number().over(w.orderBy(order.map(col(_).desc): _*)))
            .filter(col("_rn") === 1)
        case Keep.None => df.withColumn("_n", count(lit(1)).over(w)).filter(col("_n") === 1)
        case Keep.Any => throw new IllegalStateException("unreachable")
      }
      tagged.drop("_rn", "_n")
  }

  /** Diagonal of a long-form (row, col, value) matrix: entries whose row
    * key equals the column key (`utils.py:323-338`). A pushed-down filter —
    * no shuffle at all.
    */
  def diag(coo: DataFrame, rowCol: String, colCol: String): DataFrame =
    coo.filter(col(rowCol) === col(colCol))

  /** Can two keyed frames be exactly aligned (`utils.py:492-513`)?
    * Both key sets unique and set-equal — equivalently: in the union
    * tagged by side, EVERY key group contains exactly one row from each
    * side. That reformulation makes it ONE aggregation job (single
    * shuffle on the key) instead of two distinct-counts plus two
    * anti-join emptiness probes.
    */
  def alignable(a: DataFrame, b: DataFrame, keys: Seq[String]): Boolean = {
    val ka = a.select(keys.map(col): _*).withColumn("_side", lit(1))
    val kb = b.select(keys.map(col): _*).withColumn("_side", lit(2))
    val row = ka.unionByName(kb)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("_side") === 1, 1L).otherwise(0L)).as("ca"),
        sum(when(col("_side") === 2, 1L).otherwise(0L)).as("cb"))
      .agg(max(when(col("ca") =!= 1L || col("cb") =!= 1L, 1L).otherwise(0L)).as("bad"))
      .collect()(0)
    row.isNullAt(0) || row.getLong(0) == 0L // empty frames align trivially
  }

  /** Dense 1..n ids over an already-DISTINCT frame in `cols` sort order —
    * the two-phase global rank shared by [[uniqueRowIds]] and
    * `Coo.sliceAt`: range-repartition (ordered, non-overlapping ranges),
    * row_number per partition, then per-partition prefix-sum offsets
    * (O(#partitions) driver metadata). Identical to a global dense_rank
    * for any boundary placement because the input rows are distinct; the
    * single-task partition-less Window this replaces is the scale
    * bottleneck.
    */
  def twoPhaseDenseIds(distinctRows: DataFrame, cols: Seq[String],
      as: String = "row_id"): DataFrame = {
    val parted = distinctRows
      .repartitionByRange(cols.map(col): _*)
      .withColumn("_pid", spark_partition_id())
    // localCheckpoint BEFORE the counts collect: RangePartitioner
    // boundaries come from a fresh reservoir sample on every execution
    // (and AQE may re-coalesce), so re-executing this plan could assign
    // rows to different partitions than the ones the offsets were
    // computed from — duplicate/non-dense ids. A plain persist is not
    // enough at cluster scale: losing a cached block silently recomputes
    // it under NEW boundaries. localCheckpoint severs the lineage, so a
    // lost block fails the job LOUDLY (rerun) instead of corrupting ids
    // — the right trade for an id-assignment primitive.
    val local = parted.withColumn("_lrn",
      row_number().over(Window.partitionBy(col("_pid")).orderBy(cols.map(col): _*)))
      .localCheckpoint(true)
    // one row per non-empty partition — O(#shuffle-partitions) metadata
    val counts = local.groupBy("_pid").agg(count(lit(1)).as("_cnt"))
      .orderBy("_pid").collect().map(r => (r.getInt(0), r.getLong(1)))
    val cum = counts.scanLeft(0L)(_ + _._2) // rows in all earlier partitions
    val offsets = counts.indices.map(i => (counts(i)._1, cum(i)))
    val offsetDf = distinctRows.sparkSession
      .createDataFrame(offsets).toDF("_pid", "_off")
    local.join(broadcast(offsetDf), Seq("_pid"))
      .withColumn(as, (col("_lrn") + col("_off")).cast("long"))
      .drop("_pid", "_lrn", "_off")
  }

  /** Assign each distinct combination of `cols` a dense Long id
    * (`utils.py:811-841` unique_row_ids). Scale shape: distinct first
    * (shuffle that shrinks the data), rank only the distinct set, then join
    * the ids back (broadcast when the distinct set is small — the common
    * case the reference optimizes with factorize).
    *
    * The global rank is TWO-PHASE, never a single-partition sort:
    * range-repartition the distinct set on the sort key (globally
    * ordered, non-overlapping ranges), row_number within each partition,
    * then add per-partition offsets (a prefix sum over ONE count per
    * partition — driver metadata like the sampling strata collects).
    * Rank values are identical to a global dense_rank for any range
    * boundary placement: rows are distinct, so local row_number is the
    * local dense rank, and ordered ranges make offsets exact.
    */
  def uniqueRowIds(df: DataFrame, cols: Seq[String]): DataFrame = {
    val ids = twoPhaseDenseIds(df.select(cols.map(col): _*).distinct(), cols)
    // null-SAFE join back: distinct() treats null tuples as a group and
    // they carry an id too — a plain equi-join would never match them.
    // No broadcast hint: AQE picks broadcast when the distinct set is
    // small and falls back to a shuffle join when it is not (a forced
    // hint would be a >8GB-broadcast failure point on high-cardinality keys).
    val renamed = cols.foldLeft(ids)((acc, c) => acc.withColumnRenamed(c, s"_r_$c"))
    val cond = cols.map(c => col(c) <=> col(s"_r_$c")).reduce(_ && _)
    df.join(renamed, cond, "left")
      .drop(cols.map(c => s"_r_$c"): _*)
  }

  /** IdentitySeries (`utils.py:630-723`): a keyed frame whose value IS the
    * key — a pure projection, zero cost.
    */
  def identitySeries(df: DataFrame, key: String, castTo: String = "string"): DataFrame =
    df.select(col(key), col(key).cast(castTo).as("value"))

  /** Zip several key columns into one struct key (`utils.py:611-627`
    * stack_indices / MultiIndex construction).
    */
  def stackIndices(df: DataFrame, keys: Seq[String], as: String = "key"): DataFrame =
    df.withColumn(as, struct(keys.map(col): _*))

  /** Deterministic top-k: sort + limit (never a driver-side collect-sort).
    * `tieBreak` makes the result stable under ties.
    */
  def topK(df: DataFrame, k: Int, by: Column, tieBreak: Column): DataFrame =
    df.orderBy(by, tieBreak).limit(k)

  /** Bounded-state GROUPED top-k: a mergeable aggregate that keeps at
    * most ~2k (value, id) pairs per group per task, so map-side partial
    * aggregation bounds the exchange at `|groups| * k` rows — where the
    * window-rank formulation shuffles and sorts EVERY row of every
    * group. Exact and deterministic: ordering is (value desc, id asc),
    * a total order, and compaction/merge preserve the true top-k
    * regardless of partitioning. The declared `topk_per_segment` query
    * pits it against the plain ROW_NUMBER oracle bit-for-bit.
    */
  class TopKAgg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[
      (Double, Long), scala.collection.mutable.ArrayBuffer[(Double, Long)],
      Seq[(Double, Long)]] {
    require(k >= 1, s"k must be positive, got $k")
    private def byRank(t: (Double, Long)) = (-t._1, t._2)
    private def compact(b: scala.collection.mutable.ArrayBuffer[(Double, Long)]) = {
      if (b.length > k) {
        val top = b.sortInPlaceBy(byRank).take(k)
        b.clear(); b ++= top
      }
      b
    }
    override def zero = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
    override def reduce(b: scala.collection.mutable.ArrayBuffer[(Double, Long)],
        in: (Double, Long)) = {
      b += in
      // amortize: compact at 2k, not every row
      if (b.length >= 2 * k) compact(b) else b
    }
    override def merge(a: scala.collection.mutable.ArrayBuffer[(Double, Long)],
        b: scala.collection.mutable.ArrayBuffer[(Double, Long)]) =
      compact(a ++= b)
    override def finish(b: scala.collection.mutable.ArrayBuffer[(Double, Long)]): Seq[(Double, Long)] =
      b.sortInPlaceBy(byRank).take(k).toSeq
    override def bufferEncoder =
      org.apache.spark.sql.Encoders.kryo[scala.collection.mutable.ArrayBuffer[(Double, Long)]]
    override def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** Grouped top-k over (groupCol, valueCol desc, idCol asc) via
    * [[TopKAgg]]; output one row per kept element with its 1-based rank.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ds = df.select(col(groupCol).cast("string"), col(valueCol).cast("double"),
        col(idCol).cast("long"))
      .as[(String, Double, Long)]
    ds.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAgg(k).toColumn.name("tops"))
      .flatMap { case (g, tops) =>
        tops.iterator.zipWithIndex.map { case ((v, id), i) => (g, i + 1, id, v) }
      }
      .toDF(groupCol, "rank", idCol, valueCol)
  }

  /** Aligned column concat (`utils.py:726-757` canonize_df_and_cols series
    * path + `concat(axis=1)` at `utils.py:432-435`): validate pairwise
    * alignability against the first frame, then multi-way equi-join on the
    * key. With `strict=false` skips the validation jobs and inner-joins
    * directly (the reference's trusting `concat`).
    */
  def concatAligned(frames: Seq[DataFrame], keys: Seq[String],
      strict: Boolean = true): DataFrame = {
    require(frames.nonEmpty, "need at least one frame")
    if (strict) {
      frames.tail.foreach { f =>
        require(alignable(frames.head, f, keys),
          "frames are not alignable on " + keys.mkString(","))
      }
    }
    frames.reduce((a, b) => a.join(b, keys, "inner"))
  }

  /** 2-D skyline (Pareto frontier, Börzsönyi ICDE'01): rows not
    * dominated under (minimize `costCol`, maximize `gainCol`) — row p is
    * dominated iff some q has cost <= p.cost AND gain >= p.gain with at
    * least one strict. Ties on both dimensions are co-frontier (no
    * strict dominance either way).
    *
    * Algorithm (never the O(n²) NOT-EXISTS): aggregate to the DISTINCT
    * cost grid with max gain per cost, sweep ONE running-max window over
    * the grid (strictly-cheaper best gain), then join the verdict back.
    * A point survives iff it holds its cost level's max gain AND beats
    * every strictly cheaper level's max.
    *
    * Scale shape (100 TB): the raw-row work is one map-side-combinable
    * groupBy(cost) and one equi-join back; the ordered window runs over
    * the distinct-cost GRID only (domain-bounded — catalog prices, SLA
    * tiers — never row-cardinality), the same bounded-grid contract as
    * theilSen. The spec asserts equivalence to the brute-force dominance
    * definition.
    */
  def skyline2d(df: DataFrame, costCol: String, gainCol: String,
      maxGrid: Int = 1000000): DataFrame = {
    val grid = df.groupBy(col(costCol))
      .agg(max(col(gainCol)).as("_mg"))
    // the sweep window is partition-less BY DESIGN but runs over the
    // distinct-cost GRID, not rows — enforce the bounded-grid contract
    // loudly (one count action over the aggregate), the theilSen idiom
    val g = grid.count()
    require(g <= maxGrid,
      s"skyline2d: $g distinct $costCol levels — the sweep grid must be " +
        s"domain-bounded (max $maxGrid); bucket the cost dimension first")
    val w = Window.orderBy(col(costCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val verdict = grid.withColumn("_rm", max(col("_mg")).over(w))
    df.join(verdict, Seq(costCol))
      .filter(col(gainCol) === col("_mg") &&
        (col("_rm").isNull || col("_rm") < col(gainCol)))
      .drop("_mg", "_rm")
  }
}
