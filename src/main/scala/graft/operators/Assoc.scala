package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining (EXT per SURVEY north star; no
  * reference analog — the classic Agrawal-Srikant '94 support/
  * confidence statistics, the co-occurrence layer under recommenders
  * and query-expansion tables).
  *
  * The miner is deliberately the two-stage SQL shape, not FP-growth:
  * at 100 TB the bottleneck is the pair exchange, and the pair count is
  * Σ_basket |b|·(|b|-1)/2 — linear in the data for bounded basket
  * sizes (enforced by `maxBasket`), so the hash-aggregate formulation
  * is the scalable one. Tree-building single-machine FP-growth would
  * serialize exactly the part Spark parallelizes for free.
  */
object Assoc {

  /** Distinct unordered co-occurrence pairs with counts: one row per
    * (a < b) item pair appearing together in at least `minCount`
    * baskets. Stage 1 dedups (basket, item); stage 2 self-joins on the
    * basket key (co-partitioned — ONE exchange feeds both sides);
    * stage 3 is a map-side-combinable pair roll-up.
    *
    * `maxBasket` drops baskets larger than the bound BEFORE the pair
    * explosion — the skew guard: a single 10⁶-item basket would emit
    * 5·10¹¹ pairs. Probed adversarially (sf0.1 lineitem + ONE
    * injected 12k-item basket, BENCH_NOTES.md): capped stays at the
    * clean-corpus 2.4 s, uncapped takes 234.7 s through the 72M
    * poisoned pairs — the guard is load-bearing, not defensive.
    */
  def coOccurrencePairs(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 1L, maxBasket: Int = 256): DataFrame =
    pairsFromItems(
      df.select(col(basketCol).as("_bk"), col(itemCol).as("_it")).distinct(),
      minCount, maxBasket)

  /** The maxBasket size guard over an already-deduped (_bk, _it)
    * frame — shared by the pair and triple stages.
    */
  private def sizedItems(items: DataFrame, maxBasket: Int): DataFrame =
    items
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("_bk")))
      .filter(col("_n") <= maxBasket)
      .select("_bk", "_it")

  /** Pair stage over an ALREADY-deduped (_bk, _it) frame — shared with
    * [[associationRules]] so the dedup shuffle (and its persist) runs
    * once per query, not once per consumer.
    */
  private def pairsFromItems(items: DataFrame, minCount: Long,
      maxBasket: Int): DataFrame = {
    // r14 (guide §4/§2): pair emission is a per-basket combination
    // kernel over the collected (maxBasket-capped, already-distinct)
    // item list instead of a basket-key self-join — same (a < b) pair
    // multiset (the kernel sorts with Spark's own element ordering), no
    // sort-merge probe, no join-row materialization, and one fewer
    // shuffle consumer on the basket key. collect_list state is bounded
    // because sizedItems filters BEFORE the aggregation (the
    // colorGroups discipline). explode_outer per the winnow lesson
    // (single-item baskets produce empty arrays -> null, filtered).
    val sized = sizedItems(items, maxBasket)
    val lists = sized.groupBy(col("_bk"))
      .agg(collect_list(col("_it")).as("_is"))
    lists
      .select(explode_outer(graft.functions.ArrayFunctions.ltPairs(col("_is"))).as("_p"))
      .filter(col("_p").isNotNull)
      .groupBy(col("_p.a").as("item_a"), col("_p.b").as("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minCount)
  }

  /** Frequent ordered triples (a < b < c) — the order-3 itemset stage:
    * three-way self-join on the co-partitioned basket key (the one
    * exchange still feeds every side), C(|b|,3) rows per basket, so
    * `maxBasket` matters cubically here (default tightened to 64:
    * C(64,3) ≈ 42k rows per worst-case basket vs C(256,3) ≈ 2.7M).
    *
    * Spec-only (no declared query): the synthetic order/part space has
    * NO repeated triple at bench SF (probed: max triple count 1 at
    * sf0.1 — collision probability falls as the part space grows), and
    * the oracle's three-way join would dominate Verify wall-clock for
    * an empty answer. The mechanism is covered by AssocSpec; a real
    * retail corpus would declare this exactly like the pair query.
    */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minCount: Long = 2L, maxBasket: Int = 64): DataFrame = {
    val sized = sizedItems(
      df.select(col(basketCol).as("_bk"), col(itemCol).as("_it")).distinct(),
      maxBasket)
    val b = sized.select(col("_bk"), col("_it").as("_it2"))
    val c = sized.select(col("_bk"), col("_it").as("_it3"))
    sized.join(b, Seq("_bk")).filter(col("_it") < col("_it2"))
      .join(c, Seq("_bk")).filter(col("_it2") < col("_it3"))
      .groupBy(col("_it").as("item_a"), col("_it2").as("item_b"),
        col("_it3").as("item_c"))
      .agg(count(lit(1)).as("triple_cnt"))
      .filter(col("triple_cnt") >= minCount)
  }

  /** Association rules a -> b over the co-occurrence pairs: BOTH
    * directions of every qualifying pair, with
    * support = pair/n, confidence = pair/cnt(a), lift = conf/(cnt(b)/n).
    * All three are single divisions/products of exact BIGINTs in a
    * fixed operand order — engine-portable doubles, no float
    * aggregation anywhere.
    *
    * Scale shape: item counts are one roll-up of the deduped
    * (basket, item) frame; the join of |pairs| against |items| is
    * AQE-decided (the item side is a data-sized grouped aggregate —
    * never hinted); n_baskets rides in as a 1-row broadcast cross.
    */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2L, maxBasket: Int = 256): DataFrame = {
    // ONE deduped frame feeds n_baskets, item counts AND the pair
    // stage. Deliberately NOT persisted: the three branches share the
    // dedup's exchange via ReuseExchange, and an A/B showed persist
    // pure overhead here (2.33 -> 2.66 s on sf0.1 lineitem, 3-iter
    // medians — materialization cost with no recompute saved).
    val items = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .distinct()
    val nB = items.select(col("_bk")).distinct()
      .agg(count(lit(1)).as("_n"))
    val itemCnt = items.groupBy(col("_it")).agg(count(lit(1)).as("_ic"))
    val pairs = pairsFromItems(items, minPairCount, maxBasket)
    val both = pairs.select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("pair_cnt"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("pair_cnt")))
    both
      .join(itemCnt.select(col("_it").as("antecedent"), col("_ic").as("_ca")),
        Seq("antecedent"))
      .join(itemCnt.select(col("_it").as("consequent"), col("_ic").as("_cb")),
        Seq("consequent"))
      .crossJoin(broadcast(nB))
      .select(col("antecedent"), col("consequent"), col("pair_cnt"),
        (col("pair_cnt").cast("double") / col("_n").cast("double")).as("support"),
        (col("pair_cnt").cast("double") / col("_ca").cast("double")).as("confidence"),
        ((col("pair_cnt").cast("double") * col("_n").cast("double"))
          / (col("_ca").cast("double") * col("_cb").cast("double"))).as("lift"))
  }

  /** Item-item cosine similarity with per-item top-k — the
    * neighborhood model under "customers also bought" recommenders
    * (Sarwar et al. '01), the normalized complement of
    * [[associationRules]]'s directional confidence/lift: cosine
    * = pair_cnt / √(cnt_a·cnt_b) treats each item as a binary basket
    * vector, so mega-popular items stop dominating every neighbor
    * list. The BIGINT count product is exact below 2^53 and feeds ONE
    * sqrt and one division (IEEE-exact, engine-portable raw); ranking
    * happens on the round(6) cosine grid with a neighbor-id tie-break
    * (total order — never raw-float rank).
    *
    * Output: (item, neighbor, pair_cnt, cosine, rank) for rank <= k,
    * both directions of every pair. Item popularity (the cosine
    * denominator) is the UN-guarded per-item basket count — true
    * popularity, same convention as [[associationRules]]'s ic —
    * while pair counts come from the maxBasket-guarded frame; the
    * oracle mirrors both choices.
    *
    * Scale shape (100 TB): the pair stage is [[coOccurrencePairs]]'s
    * co-partitioned basket self-join behind the maxBasket skew guard;
    * the top-k window partitions BY ITEM (never global); popularity
    * joins are AQE-decided against the grouped item roll-up.
    */
  def itemSimilarity(df: DataFrame, basketCol: String, itemCol: String,
      k: Int = 5, minPairCount: Long = 2L, maxBasket: Int = 256): DataFrame = {
    require(k >= 1, s"itemSimilarity: need k>=1, got $k")
    val items = df.select(col(basketCol).as("_bk"), col(itemCol).as("_it"))
      .distinct()
    val itemCnt = items.groupBy(col("_it")).agg(count(lit(1)).as("_ic"))
    val pairs = pairsFromItems(items, minPairCount, maxBasket)
    val both = pairs.select(col("item_a").as("item"),
        col("item_b").as("neighbor"), col("pair_cnt"))
      .unionByName(pairs.select(col("item_b").as("item"),
        col("item_a").as("neighbor"), col("pair_cnt")))
    val scored = both
      .join(itemCnt.select(col("_it").as("item"), col("_ic").as("_ca")),
        Seq("item"))
      .join(itemCnt.select(col("_it").as("neighbor"), col("_ic").as("_cb")),
        Seq("neighbor"))
      .select(col("item"), col("neighbor"), col("pair_cnt"),
        round(col("pair_cnt").cast("double") /
          sqrt((col("_ca") * col("_cb")).cast("double")), 6).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }
}
