package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{ByteFunctions, Formatting, TextFunctions}
import graft.operators.{Ann, Assoc, Checks, Coo, Corpus, Dedup, Events, Graph, Relational, Retrieval, Sampling, Sketches, Stats, VizPrep, Windows}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (query, oracle) pair:
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates are summed as DECIMAL(30,2) then cast back to
  *    double — order-independent and bit-identical across engines, so the
  *    driver's hash compare needs no tolerance;
  *  - each query has a deterministic ORDER BY including a tie-break.
  */
object SparkEntry {

  private val DEC = "decimal(30,2)"
  /** Exact (order-independent) sum of a 2-decimal double expression.
    * DECIMAL(30,2) keeps the scaled integer below 2^53 for any realistic
    * sum, so the final decimal->double cast is exact in both Spark and
    * DuckDB (wider scales hit DuckDB's 1-ulp int128->double rounding).
    */
  private def dsum(c: Column): Column = sum(c.cast(DEC)).cast("double")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Literal query bags for `retrieval_eval` — ONE definition feeds the
    * Spark run/qrels frames AND the generated oracle's VALUES list, so
    * the two sides can never drift.
    */
  /** Literal PSI bin edges for `psi_value_drift` — ONE definition feeds
    * Stats.psi's when-chain AND the generated oracle's CASE sum, so the
    * binning can never drift between engines.
    */
  private val PsiEdges: Seq[Double] = Seq(5, 10, 20, 40, 80, 160, 320)

  /** Literal n_chars bucket edges for `feature_mi_rank`'s length
    * feature — shared between the Spark when-chain and the oracle.
    */
  private val FeatureMiLenEdges: Seq[Long] = Seq(150L, 300L, 450L)

  /** Literal RFM scoring edges for `rfm_segments` — ONE definition
    * feeds both engines' branch-free bucket sums.
    */
  private val RfmREdges: Seq[Long] = Seq(90L, 365L, 730L, 1460L)
  private val RfmFEdges: Seq[Long] = Seq(5L, 10L, 15L, 20L)
  private val RfmMEdges: Seq[Long] = Seq(500000L, 1500000L, 3000000L, 4500000L)

  private val RetrievalEvalQueries: Seq[(String, Seq[String])] = Seq(
    "q_exec" -> Seq("spark", "window"),
    "q_storage" -> Seq("hash", "merge"),
    "q_stream" -> Seq("stream", "scan"))

  /** The dedup-query corpus: documents plus one injected duplicate of
    * every %7 doc (ids offset by 100000). ONE definition shared by every
    * dedup/clustering query — the DuckDB oracles mirror it as the `u` CTE, and a recipe change here
    * must change those CTEs in lockstep or the hash checks fail.
    */
  /** Per-doc mean bigram log-probability under corpus MLE counts —
    * shared by `bigram_logprob` (raw scores) and `ccnet_buckets`
    * (rank-bucketed). Docs under 2 tokens have no bigrams and drop out,
    * mirrored in both oracles. Scale shape: one bigram explode, one
    * (prev, cur) groupBy, prefix totals as a window SUM over the grouped
    * counts (not a second scan of the pairs frame), shuffle join back on
    * the bigram key; AQE picks broadcast when the bigram table is small
    * — never hinted (vocab-squared is data-sized).
    */
  private def bigramLogprobFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val pairs = docs.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("w")) - 1),
        j => struct(element_at(col("w"), j).as("prev"),
          element_at(col("w"), j + 1).as("cur")))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
    val bc = pairs.groupBy("prev", "cur").agg(count(lit(1)).as("cb"))
      .withColumn("cp", sum(col("cb")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
    pairs.join(bc, Seq("prev", "cur"))
      .groupBy("doc_id")
      .agg(round(avg(log(col("cb").cast("double") / col("cp"))), 6).as("logprob"))
  }

  /** Expanded-vocab token view: the synthetic corpus has only ~31
    * distinct words, so token-level queries (negative sampling at k=64,
    * Zipf fits over top-1000) ran in degenerate regimes. Each word
    * OCCURRENCE deterministically grows an md5 suffix — nibble n of
    * md5(doc_id:pos:word): n<8 bare word, n<12 one hex char, else two —
    * yielding a ~5-8k-token vocabulary with a heavy head (half of all
    * occurrences keep the bare word) and a long hash-shard tail, the
    * shape the real queries operate on. Pure per-row expressions (no
    * shuffle, no state); positions are 1-based on BOTH engines and
    * empty split artifacts are filtered AFTER position assignment so
    * the md5 inputs agree. Mirrored by [[expandedTokensSql]] — a recipe
    * change here must change that CTE in lockstep.
    */
  private[graft] def expandedTokens(s: SparkSession, dir: String): DataFrame = {
    val dw = t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("_p0", "word")))
      .filter(col("word") =!= "")
    val h = md5(concat(col("doc_id").cast("string"), lit(":"),
      (col("_p0") + 1).cast("string"), lit(":"), col("word")))
    val n = conv(substring(h, 1, 1), 16, 10).cast("int")
    dw.select(col("doc_id"), (col("_p0") + 1).as("pos"),
      when(n < 8, col("word"))
        .when(n < 12, concat(col("word"), lit("_"), substring(h, 2, 1)))
        .otherwise(concat(col("word"), lit("_"), substring(h, 2, 2)))
        .as("token"))
  }

  /** DuckDB mirror of [[expandedTokens]]: CTEs `dw`/`xt`/`et`, et =
    * (doc_id, pos, token). */
  private val expandedTokensSql: String =
    """dw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      | xt AS (SELECT doc_id, j AS pos, w[j] AS word,
      |         md5(CAST(doc_id AS VARCHAR) || ':' || j || ':' || w[j]) AS h
      |        FROM dw, LATERAL unnest(range(1, len(w) + 1)) AS t(j)
      |        WHERE w[j] <> ''),
      | et AS (SELECT doc_id, pos,
      |         CASE WHEN (instr('0123456789abcdef', substr(h, 1, 1)) - 1) < 8 THEN word
      |              WHEN (instr('0123456789abcdef', substr(h, 1, 1)) - 1) < 12 THEN word || '_' || substr(h, 2, 1)
      |              ELSE word || '_' || substr(h, 2, 2) END AS token
      |        FROM xt)""".stripMargin

  private[graft] def injectedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.unionByName(dups)
  }

  /** The learned BPE merge table the declared `bpe_tokens_learned` query
    * applies — output of the REAL trainer
    * ([[graft.functions.TextFunctions.learnBpeMerges]]: greedy
    * most-frequent-adjacent-pair over the word-frequency dictionary) on
    * the sf0.01 documents corpus, 24 merges
    * (`runMain graft.ScaleProbe bpetrain /root/testdata/sf0.01 24`).
    * A LITERAL, single-sourced: the Spark query folds it through
    * TextFunctions.bpeCount and the DuckDB oracle SQL is generated from
    * this same list, so the two engines replay the identical replace
    * sequence.
    */
  private val bpeMergeTable: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"))

  /** Merge table trained on the EXPANDED-vocab view (~5-8k hex-suffixed
    * tokens — see [[expandedTokens]]) where the trainer faces real
    * merge competition: suffix boundaries ("e_", "ow_", "er_") now
    * compete with in-word pairs, which the ~31-word raw vocabulary
    * never exhibited. 32 merges,
    * `runMain graft.ScaleProbe bpetrainx /root/testdata/sf0.01 32`.
    */
  private val bpeMergeTableX: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("e", "_"), ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"),
    ("p", "ar"), ("ow", "_"), ("h", "_"), ("c", "a"), ("j", "o"),
    ("jo", "in"), ("a", "s"), ("h", "as"), ("at", "c"), ("b", "atc"),
    ("ca", "n"), ("s", "can"), ("a", "b"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("er", "_"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("vc_returnflag")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #6 value_counts with TOTAL row (utils.py:281-320)
    "vc_returnflag" -> ((s, dir) => {
      Relational
        .valueCounts(t(s, dir, "lineitem"), "l_returnflag", total = true)
        .select(col("value"), col("cnt"), col("fraction"))
    }),
    // #6 value_counts with numeric bins (utils.py:312)
    "vc_quantity_bins" -> ((s, dir) => {
      Relational
        .valueCountsBinned(t(s, dir, "lineitem"), "l_quantity", 10)
        .select(col("bucket"), col("lo"), col("hi"), col("cnt"),
          col("fraction"))
    }),
    // #12 upsert (utils.py:469-489)
    "upsert_orders" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val delta = orders
        .filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"))
      Relational
        .upsert(orders, delta, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // EXT partition-pruned upsert (Relational.upsertPruned — the Delta
    // MERGE shape SURVEY §2.1 #12 calls for at scale): updates land in
    // ONE order-year partition, so the wide-key anti-join runs over
    // that year only; untouched years stream through a broadcast
    // partition anti-join with no key shuffle. Same result set as the
    // plain upsert — PlanSpec pins the pruned plan shape
    "upsert_pruned_orders" -> ((s, dir) => {
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
    }),
    // #9 drop_duplicates_by_index keep=first (utils.py:352-372)
    "dedup_first" -> ((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq("l_linenumber", "l_partkey", "l_suppkey"), Relational.Keep.First)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    }),
    // #9 keep=none
    "dedup_none" -> ((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq("o_orderkey"), Relational.Keep.None)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    }),
    // top-k sort+limit (plot.py:495-496 head(n) / sort_values)
    "topk_orders" -> ((s, dir) => {
      Relational
        .topK(t(s, dir, "orders"), 10, col("o_totalprice").desc, col("o_orderkey").asc)
        .select("o_orderkey", "o_totalprice")
    }),
    // #27 weighted_average (algorithm.py:95-115)
    "weighted_avg" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        (dsum(col("l_extendedprice") * col("l_quantity")) /
          dsum(col("l_quantity"))).as("weighted_avg"))
    }),
    // #17 column_stats (utils.py:760-808)
    "column_stats_customer" -> ((s, dir) => {
      Stats.columnStats(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    }),
    // reindex/aligned-concat as left join (utils.py:245,432-435)
    "reindex_join" -> ((s, dir) => {
      val agg = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_spent"))
      t(s, dir, "customer")
        .join(agg, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    }),
    // pivot/unstack (plot.py:485, sparse.py:129)
    "pivot_status" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity")))
        .select(col("l_returnflag"), col("F").cast("double").as("qty_f"),
          col("O").cast("double").as("qty_o"))
        .orderBy("l_returnflag")
    }),
    // #7 dfdiag on long-form COO (utils.py:323-338)
    "diag_coo" -> ((s, dir) => {
      val coo = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey").as("row_key"), col("l_partkey").as("col_key"))
        .agg(dsum(col("l_quantity")).as("value"))
      Relational
        .diag(coo, "row_key", "col_key")
        .orderBy("row_key", "col_key")
    }),
    // #18 unique_row_ids (utils.py:811-841)
    "unique_row_ids" -> ((s, dir) => {
      Relational
        .uniqueRowIds(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .groupBy(col("l_returnflag"), col("l_linestatus"), col("row_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy("row_id")
    }),
    // #15 IdentitySeries (utils.py:630-723)
    "identity_series" -> ((s, dir) => {
      Relational
        .identitySeries(t(s, dir, "customer"), "c_custkey")
        .orderBy("c_custkey")
    }),
    // #13 alignable (utils.py:492-513)
    "alignable" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ordCust = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val ab = Relational.alignable(cust.select("c_custkey"), ordCust, Seq("c_custkey"))
      val aa = Relational.alignable(cust.select("c_custkey"), cust.select("c_custkey"), Seq("c_custkey"))
      s.range(1).select(lit(ab).as("align_ab"), lit(aa).as("align_aa"))
    }),
    // #5 exact stratified sampling (utils.py:198-278), reproducible-draw
    // variant: allocation is the reference's rounded-cumsum; the row
    // choice within each stratum is the md5(seed:key) order, so the
    // oracle replicates rows exactly (the RNG path stays spec-tested).
    "sample_stratified" -> ((s, dir) => {
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
    }),
    // #4 sample_at_most (utils.py:557-608), reproducible md5-key variant
    "sample_at_most" -> ((s, dir) => {
      Sampling.sampleNAtMostHash(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
          100, "42", Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),
    // #4 with replacement + weights (utils.py:557-608 replace=True):
    // exact integer-cent interval arithmetic, two-phase bucketed cumsum
    "sample_weighted_replace" -> ((s, dir) => {
      Sampling.sampleWeightedWithReplacement(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          100, "o_totalprice", "o_orderkey")
        .orderBy("j")
    }),
    // #24 shannon_entropy per doc (algorithm.py:30-44)
    "entropy_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(ByteFunctions.shannon_entropy(col("text").cast("binary")), 6).as("entropy"))
        .orderBy("doc_id")
    }),
    // #25 KL divergence between en/de corpus byte distributions (algorithm.py:47-68)
    "kl_en_de" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val histAgg = udaf(new ByteFunctions.ByteHistogramAgg,
        org.apache.spark.sql.Encoders.BINARY)
      val hEn = docs.filter(col("lang") === "en")
        .agg(histAgg(col("text").cast("binary")).as("h1"))
      val hDe = docs.filter(col("lang") === "de")
        .agg(histAgg(col("text").cast("binary")).as("h2"))
      hEn.crossJoin(hDe)
        .select(round(ByteFunctions.kl_divergence(col("h1"), col("h2")), 6).as("kl"))
    }),
    // EXT text analysis: token count, punctuation, stopwords, lang id, quality
    "text_profile" -> ((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(txt).as("token_cnt"),
          TextFunctions.punctCount(txt).as("punct_cnt"),
          TextFunctions.stopwordCount(txt, TextFunctions.EnStops).as("stop_en"),
          TextFunctions.langId(txt).as("lang_pred"),
          TextFunctions.qualityScore(txt).as("quality"))
        .orderBy("doc_id")
    }),
    // EXT Flesch readability (TextFunctions.readability): the classic
    // reading-ease score from integer word/sentence/vowel-group counts
    // — pure-function doubles, emitted raw (half-boundary discipline)
    "readability_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.readability(col("text")).as("_r"))
        .select(col("doc_id"), col("_r.n_words").as("n_words"),
          col("_r.n_sentences").as("n_sentences"),
          col("_r.n_syllables").as("n_syllables"),
          col("_r.flesch").as("flesch"))
        .orderBy("doc_id")
    }),
    // EXT document fingerprinting (portable md5 variant)
    "fingerprint_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }),
    // EXT exact dedup over a corpus with injected duplicates
    "dedup_exact_docs" -> ((s, dir) => {
      Dedup.exactGroups(injectedDocs(s, dir), "text", "doc_id")
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }),
    // EXT n-gram Jaccard near-dup pairs (shingle self-join, no cross
    // product). maxShingleDf=128 is the ACTIVE skew guard: a boilerplate
    // shingle shared by m docs costs m^2/2 join rows, so candidates come
    // only from shingles in <=128 docs (sf0.1 max df is 31 — no recall
    // change here; on a crawl it bounds the bucket blowup). Surviving
    // pairs are re-verified on FULL shingle sets, and the oracle mirrors
    // the same df cap before its self-join.
    "ngram_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id", "text", 3, 0.9,
          maxShingleDf = Some(128))
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    // EXT ROUGE-2 overlap triage (Dedup.rougeOverlap) of the ngram
    // near-dup candidates: multiset bigram overlap grades what set
    // Jaccard flattens — repeated grams count. Gram counts are one
    // aggregate; the pair join is candidate-bounded
    "rouge_overlap_pairs" -> ((s, dir) => {
      val docs = injectedDocs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
        maxShingleDf = Some(128))
      Dedup.rougeOverlap(pairs, docs, "doc_id", "text", 2)
        .orderBy("id_a", "id_b")
    }),
    // EXT directed containment dedup (Dedup.containmentPairs): TRUNCATED
    // copies injected (first 300 chars of every 11th doc) — an excerpt
    // has containment ~1 toward its source while its whole-set Jaccard
    // is only |A|/|B| (~0.4 here), the case symmetric dedup misses.
    // Asymmetric prefix-filter candidates, exact containment verify on
    // 8-byte hashed-shingle arrays.
    "containment_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val trunc = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          substring(col("text"), 1, 300).as("text"))
      Dedup.containmentPairs(docs.unionByName(trunc), "doc_id", "text",
          shingleK = 3, threshold = 0.9)
        .orderBy("src_id", "dst_id")
    }),
    // EXT near-dup CLUSTERS: connected components over the pair graph
    // above (min-label propagation, O(diameter) joined rounds — near-dup
    // graphs are LSH-bucket quasi-cliques, diameter 2-4 at any corpus
    // size). cluster_id = min member id, the canonical doc a dedup
    // pipeline keeps. Oracle replays the same edges through a DuckDB
    // recursive CTE to the same min-reachable-id fixpoint.
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Dedup.dedupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),
    // EXT triangle counts over the near-dup graph (Graph.triangleCounts
    // on the same PPJoin pair set dedup_clusters consumes): triangles
    // are transitivity evidence — docs in many triangles sit in tight
    // duplicate cliques, not chains of borderline matches
    "dup_triangles" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.triangleCounts(pairs, "id_a", "id_b")
        .orderBy("node")
    }),
    // EXT label-propagation communities (Graph.labelPropagation) over
    // the same near-dup pair graph — majority-vote community detection
    // with the self-vote that makes fixed-sweep synchronous LPA
    // deterministic (bare neighbor votes oscillate on isolated pairs);
    // 2 sweeps, replayed sweep-for-sweep by chained oracle CTEs
    "lpa_communities" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.labelPropagation(pairs, "id_a", "id_b", iterations = 2)
        .orderBy("node")
    }),
    // EXT modularity readout (Graph.modularity): how good are the LPA
    // communities — Q in the rearranged ALL-INTEGER form
    // (4m·intra − Σd_c²)/(4m²), one division, no per-community float
    // sum; pairs persisted so LPA and the readout share one lineage
    "lpa_modularity" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128)).persist()
      Graph.modularity(pairs, "id_a", "id_b",
        Graph.labelPropagation(pairs, "id_a", "id_b", iterations = 2),
        "node", "community")
    }),
    // EXT degree assortativity (Graph.degreeAssortativity, Newman '02):
    // do near-dup hubs attach to hubs — endpoint-degree Pearson over
    // both orientations, exact BIGINT moments, the OLS discipline
    "graph_assortativity" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.degreeAssortativity(pairs, "id_a", "id_b")
    }),
    // EXT edit-distance record linkage (Dedup.fuzzyMatchPairs —
    // SymSpell deletion-neighborhood blocking, recall-guaranteed at
    // distance 1): part entities (name+brand+type+size, ~unique) plus
    // injected single-char-deletion typos; candidates from a banded
    // md5-signature equi-join (16-byte shuffle), exact levenshtein
    // verify, standard bucket skew cap
    "fuzzy_part_match" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
            col("p_size").cast("string")).as("name"))
      val typos = parts.filter(col("id") % 9 === 0)
        .select((col("id") + 100000).as("id"),
          concat(col("name").substr(lit(1), lit(3)),
            col("name").substr(lit(5), length(col("name")))).as("name"))
      Dedup.fuzzyMatchPairs(parts.unionByName(typos), "id", "name",
          maxDist = 1, maxBucket = 1024)
        .orderBy("id_a", "id_b")
    }),
    // EXT ingest-time fuzzy linkage (StreamOps.fuzzyMatchAgainstStream
    // against Dedup.fuzzyIndex): the streaming half of
    // fuzzy_part_match — incoming typo'd entities probe the build-once
    // corpus signature index; batch-symmetric here, multi-signature
    // hits collapsed by distinct as the contract documents
    "fuzzy_match_stream" -> ((s, dir) => {
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type"),
            col("p_size").cast("string")).as("name"))
      val typos = parts.filter(col("id") % 9 === 0)
        .select((col("id") + 100000).as("id"),
          concat(col("name").substr(lit(1), lit(3)),
            col("name").substr(lit(5), length(col("name")))).as("name"))
      val idx = Dedup.fuzzyIndex(parts, "id", "name", maxBucket = 1024)
      graft.streaming.StreamOps.fuzzyMatchAgainstStream(idx, typos, "id", "name")
        .select(col("corpus_id"), col("id").as("doc_id"), col("dist"))
        .distinct()
        .orderBy("corpus_id", "doc_id")
    }),
    // EXT the end-to-end DEDUPLICATED CORPUS: clusters -> min-id
    // representative per cluster (+ every unpaired doc as its own
    // singleton) with the cluster size as removal provenance — what a
    // training run actually materializes after near-dup detection.
    "dedup_canonical" -> ((s, dir) => {
      val docs = injectedDocs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
        maxShingleDf = Some(128))
      val clusters = Dedup.dedupClusters(pairs)
      val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      Dedup.canonicalizeClusters(docs, "doc_id", clusters)
        .filter(col("keep"))
        .join(sizes, Seq("cluster_id"), "left")
        .na.fill(1L, Seq("n_members"))
        .select(col("doc_id"), col("n_members"))
        .orderBy("doc_id")
    }),
    // EXT embedding near-duplicate pairs (cosine >= 0.3): deterministic
    // sign-LSH candidates + exact-cosine verify. Planes are AUTO-SIZED
    // from COUNT(*) (planesForOccupancy, targetBucket=128 — the
    // recall-lean end of the declared occupancy spectrum; _lsh below is
    // the precision-lean end, _auto the balanced default), PLUS the
    // scale-bend term (shrinkAnchorBits=11): one extra plane per two
    // doublings of n beyond 2^12 vectors, so verify work grows ~√n
    // instead of the constant-occupancy Θ(n) that pays the full 10x at
    // 10x data on fixed cores (r11 verdict: 10.1x at sf1). Below 4097
    // vectors the term is 0 — all three verify SFs (500/500/2000) are
    // bit-identical to the constant-occupancy config. Fixed-plane
    // configs were measured Θ(n²/2^p) at sf1 (99-271x at 10x rows,
    // BENCH_NOTES r5/r6) and survive only as spec-only recall probes.
    "embedding_near_dup" -> ((s, dir) => {
      Dedup.embeddingNearDupLshAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
          0.3, nTables = 8, targetBucket = 128, shrinkAnchorBits = Some(11))
        .select(col("id_a"), col("id_b"), col("cos"))
        .orderBy("id_a", "id_b")
    }),
    // EXT brute-force cosine top-k (exact ANN baseline)
    "ann_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT MinHash-LSH near-dup, engine-portable md5 variant (hash-checked
    // oracle — DuckDB reruns the identical signature/band/verify
    // pipeline). k=12 in 2 bands x 6 rows: 3 md5 digests per shingle
    // where k=16 cost 4 — measured 26% faster end-to-end at sf0.1
    // (BENCH_NOTES k-vs-digest probe: warm medians 1.99 s vs 2.69 s) AND higher
    // recall (1026 vs 1014 verified pairs): the flatter S-curve
    // ((1/2)^(1/6) ~ 0.89 vs 0.92) admits more candidates, and the
    // exact-Jaccard verification keeps precision unchanged. 4x4 banding
    // drowned in ~0.3-Jaccard candidates on this shared-vocabulary
    // corpus; 2x6 stays steep enough that verify input grew only ~1%.
    // Signatures come from the per-document md5-slice kernel
    // (TextFunctions.md5SliceMins); the capped band frame is the one pin.
    // maxBucket=64 is the ACTIVE skew guard: a band bucket of m docs is
    // m^2/2 candidate pairs, so buckets above 64 members are dropped
    // before the self-join (members keep their OTHER band — standard LSH
    // skew posture). sf0.1 max bucket is 5, so no recall change here; on
    // a crawl with 10^6 copies of one page it is the difference between
    // a bounded join and a 10^12-pair stage. Oracle mirrors the cap.
    "minhash_pairs" -> ((s, dir) => {
      Dedup.minhashNearDupPairsMd5(injectedDocs(s, dir), "doc_id", "text",
          k = 12, bands = 2, shingleK = 3, threshold = 0.8,
          maxBucket = Some(64))
        .orderBy("id_a", "id_b")
    }),
    // EXT blocking-quality evaluation: the dedup pipeline graded
    // against its own injected ground truth — pair-recall (which
    // injected exact-dup pairs did banded LSH + verify keep) and
    // reduction ratio (pairs emitted vs the n(n−1)/2 a naive all-pairs
    // pass would score). Truth = the %7 injections whose docs are
    // shingleable (≥3 tokens — a 2-token doc can never enter the
    // candidate stage, in either engine). All counts are 1-row
    // aggregates riding broadcast crosses; the metrics are single
    // exact-integer divisions
    "blocking_quality" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDupPairsMd5(injectedDocs(s, dir),
          "doc_id", "text", k = 12, bands = 2, shingleK = 3,
          threshold = 0.8, maxBucket = Some(64))
        .select("id_a", "id_b")
      val truth = t(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0 &&
          size(split(trim(col("text")), "\\s+")) >= 3)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 100000).as("id_b"))
      val nd = injectedDocs(s, dir).agg(count(lit(1)).as("n_docs"))
      val np = pairs.agg(count(lit(1)).as("n_pairs"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val nf = truth.join(pairs, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
      val ndD = col("n_docs").cast("double")
      nd.crossJoin(broadcast(np)).crossJoin(broadcast(nt))
        .crossJoin(broadcast(nf))
        .select(col("n_docs"), col("n_pairs"), col("n_truth"), col("n_found"),
          round(col("n_found").cast("double") / col("n_truth").cast("double"), 6)
            .as("recall"),
          round(lit(1.0) - col("n_pairs").cast("double") / (ndD * (ndD - 1) / 2), 9)
            .as("reduction_ratio"))
    }),
    // EXT cross-corpus near-dup: incoming batch (exact copies of the %7
    // docs + %11 docs with one appended token, J ~ 0.97) matched against
    // the documents corpus WITHOUT a self-join — the incremental
    // ingestion shape. Corpus band signatures are the reusable index;
    // maxBucket=64 caps corpus-side buckets (a page mirrored 10^6 times
    // would otherwise pair with every incoming doc in its bucket).
    "minhash_against" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val exactIn = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val nearIn = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text"))
      Dedup.minhashNearDupAgainstMd5(docs, exactIn.unionByName(nearIn),
          "doc_id", "text", k = 12, bands = 2, shingleK = 3,
          threshold = 0.8, maxBucket = Some(64))
        .orderBy("id_a", "id_b")
    }),
    // EXT stream-ingestion near-dup: the STATELESS stream-static-join
    // variant of minhash_against — per-row signatures against a prebuilt
    // corpus band index, scored by signature agreement (the MinHash
    // Jaccard estimate) instead of exact shingle Jaccard. Same function
    // the streaming spec drives through a MemoryStream; batch-symmetric
    // here, like the other declared streaming queries.
    "minhash_against_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val exactIn = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val nearIn = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text"))
      val index = Dedup.minhashBandIndexMd5(docs, "doc_id", "text",
        k = 12, bands = 2, shingleK = 3, maxBucket = Some(64))
      graft.streaming.StreamOps.minhashAgainstStream(index,
          exactIn.unionByName(nearIn), k = 12, bands = 2, shingleK = 3,
          threshold = 0.8)
        .select("corpus_id", "doc_id", "est_jaccard").distinct()
        .orderBy("corpus_id", "doc_id")
    }),
    // EXT embedding near-dup, precision-lean AUTO-SIZED config (16
    // tables, targetBucket=32 — more planes per table than the headline,
    // so narrower buckets and fewer candidates per table, recovered by
    // doubling the table count; occupancy still constant at any corpus
    // size via planesForOccupancy)
    "embedding_near_dup_lsh" -> ((s, dir) => {
      Dedup.embeddingNearDupLshAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
          0.3, nTables = 16, targetBucket = 32)
        .orderBy("id_a", "id_b")
    }),
    // EXT cross-corpus EMBEDDING near-dup (the vector twin of
    // minhash_against): incoming = exact copies of the %9 vectors plus
    // %13 vectors with the first component zeroed (cos ~ 0.995-0.999 —
    // near, not exact). Both sides bucket under the SAME md5 sign
    // planes; candidates from the asymmetric (table, bucket) join with
    // a corpus-side cap; exact-cosine verify.
    "embedding_against" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val exactIn = emb.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
      val nearIn = emb.filter(col("vec_id") % 13 === 0)
        .select((col("vec_id") + 600000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 0, lit(0.0f)).otherwise(x)).as("embedding"))
      Dedup.embeddingNearDupAgainst(emb, exactIn.unionByName(nearIn),
          "vec_id", "embedding", 0.3,
          planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)),
          maxBucket = Some(256))
        .orderBy("id_a", "id_b")
    }),
    // EXT scale-ADAPTIVE near-dup: planesPerTable is DERIVED from the
    // corpus count (integer bit-length of ceil(n/64) — mirrored exactly
    // by the oracle's LENGTH(bin(cells-1))), so this same declared query
    // keeps constant bucket occupancy from sf0.001 to 100 TB where the
    // fixed-plane variants above go Θ(n²/2^p) (measured at sf1,
    // BENCH_NOTES round 5). The sizing count() is an index-build action.
    "embedding_near_dup_auto" -> ((s, dir) => {
      Dedup.embeddingNearDupLshAuto(t(s, dir, "embeddings"), "vec_id", "embedding",
          0.4, nTables = 8, targetBucket = 64)
        .orderBy("id_a", "id_b")
    }),
    // EXT SemDeDup-style semantic dedup: md5-seeded centroids (the
    // oracle-portable codebook stand-in, same discipline as ann_ivf_topk),
    // argmax-cosine cell assignment, within-cell lower-id near-neighbor
    // flagging. Output is ids + booleans only — no float column to drift.
    "semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.3, nClusters = 8)
        .orderBy("vec_id")
    }),
    // EXT SimHash per doc, engine-portable md5 variant (hash-checked)
    "simhash_docs" -> ((s, dir) => {
      Dedup.simhashMd5(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }),
    // EXT LSH-bucketed approximate ANN (deterministic md5 planes —
    // hash-checked; recall vs brute force tested in specs)
    "ann_lsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3,
          planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)))
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT HNSW-lite graph ANN (Ann.hnswTopK): LSH-seeded set-step beam
    // search over the deterministic NSW level-0 graph — the graph
    // member of the index family next to LSH/IVF/PQ. Fully
    // hash-checked: the DuckDB mirror replays the identical graph
    // build (md5 sign-plane buckets -> top-m cosine edges,
    // symmetrized) and the identical unrolled 3-hop beam. Measured
    // recall@5 vs brute: 1.0/0.96/0.96 at sf0.001/0.01/0.1
    "ann_hnsw_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.hnswTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, m = 16, ef = 16, hops = 3,
          planes = graft.functions.VectorFunctions.md5SignPlanes(8, 6, 64))
        .orderBy("query_id", "rank")
    }),
    // EXT hnsw recall eval: beam top-10 vs brute top-10 — completes the
    // LSH/IVF/PQ/HNSW recall-eval family (same left-join shape)
    "ann_recall_hnsw" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val hnsw = Ann.hnswTopK(emb, q, "vec_id", "embedding", k = 10,
          m = 16, ef = 16, hops = 3,
          planes = graft.functions.VectorFunctions.md5SignPlanes(8, 6, 64))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
      brute.join(hnsw, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
        .orderBy("query_id")
    }),
    // EXT multimodal plumbing, oracle-checked: documents' bytes ride as
    // an opaque binary column; frame sampling (explode + byte-slice)
    // emits every 2nd 64-byte frame, fingerprinted. The ASCII guard
    // keeps char-substring == byte-substring on both engines.
    "media_frames" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(octet_length(col("text")) === length(col("text")))
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      graft.sources.Multimodal.sampleFrames(docs, "media", frameSize = 64, stride = 2)
        .select(col("doc_id"), col("frame_idx"), md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    }),
    // EXT leakage-safe train/val/test assignment: split is a pure
    // function of md5(seed:doc_id) — reproducible across runs/engines
    "split_assign" -> ((s, dir) => {
      graft.operators.Corpus.assignSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),
    // EXT sequence packing (Corpus.packSequences, next-fit per
    // partition): the declared query pins ONE partition in doc_id order
    // so the greedy scan is a deterministic sequence the oracle replays
    // with a recursive CTE; at scale the operator runs per-partition
    // with (pid, local) bin ids and zero shuffle (spec-asserted).
    "pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .repartition(1).sortWithinPartitions("doc_id")
      graft.operators.Corpus.packSequences(docs, "doc_id", "n_tokens", 256L)
        .select(col("doc_id"), col("n_tokens"), col("bin_id"), col("pos_in_bin"))
        .orderBy("doc_id")
    }),
    // EXT token-budget selection (Corpus.selectTokenBudget): the same
    // ~3000 tokens of this corpus on any engine at any cluster size —
    // docs on the md5(id) line, prefix kept while the running total
    // fits. The global cumsum is two-phase: 256 md5-uniform buckets,
    // offsets from a window over the 256-row aggregate (grid-bounded),
    // per-row sums windowed WITHIN buckets — never a global ordered
    // window (the oracle replays it as one, same numbers).
    "token_budget_select" -> ((s, dir) =>
      Corpus.selectTokenBudget(t(s, dir, "documents"), "doc_id", "text", 3000L)
        .orderBy("cum_tokens")),
    // EXT Gopher-style quality gate (TextFunctions.gopherFilter): five
    // published rules -> keep flag + failed-rule audit string. The words
    // array is materialized in its own projection BEFORE the struct so
    // the filter() HOF doesn't re-split per element (repetitionRatio
    // lesson). Per-row expressions only — no shuffle at any scale.
    "gopher_filter" -> ((s, dir) => {
      val withWords = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          when(length(trim(col("text"))) > 0, split(trim(col("text")), "\\s+"))
            .otherwise(array().cast("array<string>")).as("words"))
      withWords
        .select(col("doc_id"),
          graft.functions.TextFunctions.gopherFilter(col("text"), col("words")).as("g"))
        .select(col("doc_id"), col("g.word_cnt").as("word_cnt"),
          col("g.mean_wlen").as("mean_wlen"), col("g.symbol_ratio").as("symbol_ratio"),
          col("g.alpha_frac").as("alpha_frac"), col("g.stop_en").as("stop_en"),
          col("g.keep").as("keep"), col("g.reasons").as("reasons"))
        .orderBy("doc_id")
    }),
    // EXT SPAN-level dedup (Dedup.dupSpans): 30-char windows at stride
    // 10 whose md5 recurs in >=2 docs, merged per doc into maximal
    // spans. Catches shared boilerplate invisible to whole-doc MinHash;
    // one digest groupBy + one digest equi-join + one per-doc window —
    // the df cap (1024) guards the join against mega-boilerplate.
    "dup_spans" -> ((s, dir) => {
      Dedup.dupSpans(injectedDocs(s, dir), "doc_id", "text",
          width = 30, stride = 10, minDf = 2, maxDf = 1024)
        .orderBy("doc_id", "span_start")
    }),
    // EXT robust winnowing (Schleimer'03 / MOSS): per-doc fingerprint
    // density — k=8 grams, window w=4, rightmost-min selection. Rolled
    // up per doc (selection itself is position-exact; the overlap
    // consumer is the next query).
    "winnow_fingerprints" -> ((s, dir) => {
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 8, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), countDistinct(col("fp")).as("n_uniq"))
        .orderBy("doc_id")
    }),
    // EXT winnowing partial-overlap pairs: any pair sharing a substring
    // of length >= w+k-1 = 11 chars is guaranteed a shared fingerprint
    // — position-robust, unlike dup_spans' stride grid. df cap 64 is
    // the standard hot-boilerplate guard.
    "winnow_overlap_pairs" -> ((s, dir) => {
      Dedup.winnowOverlapPairs(injectedDocs(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 16, maxDf = 64)
        .orderBy("id_a", "id_b")
    }),
    // EXT multi-probe LSH ANN: queries also probe the lowest-margin
    // flipped bucket per table — recall of ~2x the tables at one corpus
    // hashing cost (hash-checked like ann_lsh_topk)
    "ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3,
          planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)),
          multiProbe = true)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT IVF-ANN: deterministic md5-sampled centroids, nProbe=2 cells,
    // exact rerank (the clustering complement to sign-LSH; hash-checked)
    "ann_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3,
          nCentroids = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT IVF-ANN with a REAL KMeans codebook — the production index
    // (Ann.ivfTopKWithCentroids over the FROZEN IvfCentroids literal,
    // trained once offline by ScaleProbe ivftrain — the PqCodebook
    // discipline). Freezing the Lloyd-trained centroids as constants
    // makes the learned index oracle hash-portable: assignment/probing/
    // rerank are exact cosine replays against pasted doubles. The live
    // fit path (Ann.ivfTopKKMeans) stays spec-asserted in DedupAnnSpec
    // (recall >= 0.9 vs brute force, run-to-run determinism).
    "ann_ivf_kmeans_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopKWithCentroids(emb, emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", 3, IvfCentroids.arr, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT product-quantization ADC top-k (Ann.pqAdcTopK): corpus rows
    // reduced to 4 one-byte codes against the FROZEN PqCodebook literal
    // (trained once offline — ScaleProbe pqtrain), pairs scored as sums
    // of broadcast table lookups. The memory half of the ANN story: at
    // 100 TB the codes frame is what the index build writes (m bytes a
    // row vs 4*dim). Codebook is a literal, so encode + ADC are exact
    // float replays in any engine — oracle hash-checked, unlike the
    // Lloyd-trained ivf_kmeans above.
    "ann_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.pqAdcTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          PqCodebook.arr, 3)
        .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT IVF-PQ composed (Ann.ivfPqTopK): md5-sampled coarse cells
    // prune candidates to nProbe cells, the frozen PqCodebook scores
    // them by ADC table lookups alone — the FAISS IVF-PQ architecture
    // as joins, with full vectors never read after the index build.
    // Both halves deterministic, so the composition stays oracle
    // hash-checked.
    "ann_ivf_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          PqCodebook.arr, 3, nCentroids = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT compressed-domain dedup: vectors sharing ALL 4 PQ codes under
    // the frozen codebook collapse to one group — SemDeDup semantics on
    // 4-byte codes; encode is map-side, the only shuffle is the code
    // groupBy (the cheapest whole-corpus near-dup sweep here).
    "pq_code_dups" -> ((s, dir) => {
      Ann.pqCodeGroups(t(s, dir, "embeddings"), "vec_id", "embedding",
          PqCodebook.arr, minGroup = 2)
        .orderBy("code_key", "keep_id")
    }),
    // EXT PQ multi-index probing (Ann.pqSubcodePairs): pairs agreeing on
    // >= 3 of 4 subquantizer codes — candidates from ONE equi-join on
    // leave-one-out masked keys, verified by EXACT cosine (the codes
    // only gate which pairs get the exact math, so no quantization
    // error reaches the output)
    "pq_subcode_pairs" -> ((s, dir) => {
      Ann.pqSubcodePairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          PqCodebook.arr, threshold = 0.3)
        .orderBy("lo_id", "hi_id")
    }),
    // #26 gaussian smoothing over an ordered daily series (algorithm.py:71-92)
    "smooth_gaussian" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
      Windows.gaussianSmooth(daily, Seq("day"), "cnt", 2.0)
        .select(col("day"), col("cnt"), col("smoothed"))
        .orderBy("day")
    }),
    // #33 split_with_overlap (numpy.py:185-241), long-form segments —
    // partitioned per user (the million-series shape a 100 TB pipeline
    // runs; the bare single-sequence form is driver-bounded and spec-only)
    "split_overlap" -> ((s, dir) => {
      Windows.splitWithOverlap(
          t(s, dir, "events").select("user_id", "event_id"), Seq("event_id"),
          100, 50, partitionBy = Seq("user_id"))
        .select(col("user_id"), col("seg"), col("pos"), col("event_id"))
        .orderBy("user_id", "seg", "pos")
    }),
    // running totals (pandas cumsum; utils.py:267-271 uses the same shape)
    "running_total_user" -> ((s, dir) => {
      Windows.runningTotal(t(s, dir, "events"), Seq("ts", "event_id"), "value",
          partitionBy = Seq("user_id"))
        .select(col("user_id"), col("event_id"), col("running"))
        .orderBy("user_id", "event_id")
    }),
    // #38 pie threshold->Others collapse (plot.py:115-124)
    "pie_log10_orders" -> ((s, dir) => {
      VizPrep.pieOthers(t(s, dir, "orders"),
          floor(log10(col("o_totalprice"))).cast("int").cast("string"), 0.05)
        .orderBy("slice")
    }),
    // #39 two-level pie prep (plot.py:140-242)
    "two_level_pie" -> ((s, dir) => {
      val joined = t(s, dir, "customer")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      VizPrep.twoLevelPie(joined, col("r_name"), col("n_name"), None, 0.1)
    }),
    // #41 shared-bin grouped histogram (plot.py:337-424)
    "group_hist_price" -> ((s, dir) => {
      VizPrep.groupHist(t(s, dir, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), 20)
    }),
    // #42 pivoted normalized bar table (plot.py:427-501)
    "group_bar_hist" -> ((s, dir) => {
      VizPrep.groupBarHist(t(s, dir, "orders"), col("o_orderstatus"),
        col("o_orderpriority"), Seq("F", "O", "P"), 4)
    }),
    // #40 Pearson correlation (plot.py:333)
    "corr_qty_price" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr"))
    }),
    // #40 2-D histogram prep (plot.py:278-334)
    "hist2d_qty_price" -> ((s, dir) => {
      VizPrep.hist2d(t(s, dir, "lineitem"), col("l_quantity"), col("l_extendedprice"), 8)
    }),
    // #35 COO density (sparse.py:65-75), dims = observed label domains
    "coo_density" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val coo = Coo.fromDf(li, "l_suppkey", "l_partkey", "l_quantity")
      val dims = li.agg(
        count_distinct(col("l_suppkey")).as("_nr"),
        count_distinct(col("l_partkey")).as("_nc"))
      coo.agg(count(lit(1)).as("_nnz"))
        .crossJoin(broadcast(dims))
        .select((col("_nnz").cast("double") / (col("_nr") * col("_nc"))).as("density"))
    }),
    // #35 COO todense pivot (sparse.py:106-129)
    "coo_todense" -> ((s, dir) => {
      val coo = Coo.fromDf(t(s, dir, "lineitem"), "l_suppkey", "l_returnflag", "l_quantity")
      Coo.todense(coo, Seq("A", "N", "R")).orderBy("row_key")
    }),
    // JSON extraction over events.props (EXT; driver data only)
    "json_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"))
        .orderBy("event_type")
    }),
    // tumbling daily window aggregation (EXT streaming analogue, batch form)
    "time_window_daily" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("value_sum"))
        .orderBy("day")
    }),
    // #36 graph prep: degree table over the customer->order edge list
    "graph_degrees" -> ((s, dir) => {
      Graph.degrees(t(s, dir, "orders"), "o_custkey", "o_orderkey")
        .orderBy("id")
    }),
    // #36 graph prep: color groups (nodes grouped by a color attribute)
    "graph_color_groups" -> ((s, dir) => {
      Graph.colorGroups(t(s, dir, "customer"), "c_custkey", "c_mktsegment")
        .select("color", "n_nodes")
    }),
    // #47 human_readable: engine side = (mantissa, suffix); string assembly
    // is driver-side (format.py renders only at display time)
    "human_readable" -> ((s, dir) => {
      val v = col("o_totalprice")
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          Formatting.mantissa(v).as("mantissa"),
          Formatting.suffix(v).as("suffix"))
        .orderBy("o_orderkey")
    }),
    // #16 canonize + aligned concat (multi-frame join after align check)
    "concat_aligned" -> ((s, dir) => {
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
    }),
    // EXT BPE-ish regex token counting (ASCII class pattern, RE2/Java-
    // portable) — the cheap single-regex budget proxy; the real learned
    // tokenizer is bpe_tokens_learned below
    "bpe_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]+"))
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }),
    // EXT REAL merge-table BPE token counting: chars -> learned merges
    // applied in rank order (TextFunctions.bpeCount — all builtin
    // expressions, codegen'd, shuffle-free). The table is the output of
    // the real trainer (TextFunctions.learnBpeMerges, greedy most-
    // frequent-pair over the word-frequency dictionary) on this corpus;
    // embedded as a literal so the oracle replays the identical replace
    // fold — both engines' SQL is generated from the SAME Scala list.
    "bpe_tokens_learned" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCount(col("text"), bpeMergeTable)
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }),
    // EXT tokenizer-efficiency eval (the "how many chars does a token
    // buy per domain" table a tokenizer choice is judged by): per
    // source, exact char and learned-BPE token sums, chars/token —
    // ONE map-side fold per doc, one aggregate
    "bpe_compression_eval" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), length(col("text")).cast("long").as("_ch"),
          graft.functions.TextFunctions.bpeCount(col("text"), bpeMergeTable)
            .cast("long").as("_tk"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_ch")).as("n_chars"),
          sum(col("_tk")).as("n_tokens"))
        .select(col("source"), col("n_docs"), col("n_chars"), col("n_tokens"),
          when(col("n_tokens") > 0L,
            round(col("n_chars").cast("double") /
              col("n_tokens").cast("double"), 6)).as("chars_per_token"))
        .orderBy("source")),
    // EXT GPT-2-style PRE-TOKENIZED BPE: class runs (letters/digits/
    // punct) first, merges applied within runs only — merges can never
    // cross a class boundary, and punctuation runs are counted
    // (TextFunctions.bpeCountPretok; same single-sourced merge table)
    "bpe_tokens_pretok" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCountPretok(col("text"), bpeMergeTable)
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }),
    // EXT learned BPE over the EXPANDED-vocab view: per-doc token count
    // under bpeMergeTableX (trained on the ~5-8k hex-suffixed vocab,
    // where suffix-boundary merges compete with in-word merges — the
    // non-degenerate regime the raw ~31-word corpus can't produce).
    // Same codegen'd per-word fold, summed per doc; docs with no
    // tokens drop out on both engines
    "bpe_tokens_expanded" -> ((s, dir) => {
      expandedTokens(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCount(col("token"), bpeMergeTableX)
            .cast("long").as("_c"))
        .groupBy("doc_id").agg(sum(col("_c")).as("bpe_cnt"))
        .orderBy("doc_id")
    }),
    // #9 keep=last (utils.py:352-372)
    "dedup_last" -> ((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq("l_linenumber", "l_partkey", "l_suppkey"), Relational.Keep.Last)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    }),
    // EXT streaming code path on a batch frame: 10-minute tumbling windows
    // (the identical function runs under readStream; see StreamingSpec)
    "stream_window_counts" -> ((s, dir) => {
      graft.streaming.StreamOps.windowedCounts(t(s, dir, "events"), "ts", "10 minutes")
        .orderBy("win_start", "event_type")
    }),
    // EXT normalization + PII redaction over synthetic emails/ids
    "redact_docs" -> ((s, dir) => {
      val doctored = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com id 1234567"), col("doc_id")).as("text"))
      doctored.select(col("doc_id"),
          TextFunctions.normalize(TextFunctions.redactPii(col("text"))).as("clean"))
        .orderBy("doc_id")
    }),
    // EXT repetition-ratio quality signal (bigram dup fraction); grams
    // materialized once in their own projection (see repetitionRatio perf note)
    "repetition_docs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 2).as("_grams"))
        .select(col("doc_id"),
          TextFunctions.repetitionRatioFromGrams(col("_grams")).as("rep_ratio"))
        .orderBy("doc_id")
    }),
    // EXT per-language length quartiles (exact interpolated percentiles)
    "doc_length_quartiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          percentile(col("n_chars"), lit(0.25)).as("q1"),
          percentile(col("n_chars"), lit(0.5)).as("median"),
          percentile(col("n_chars"), lit(0.75)).as("q3"))
        .orderBy("lang")
    }),
    // EXT train/test decontamination shape: source pairs sharing any exact
    // normalized document prefix (8 words) — candidate-overlap counting.
    // Two skew guards, both mirrored in the oracle: (a) docs under 8
    // tokens are dropped (their short prefixes degenerate into one hot
    // key — empty/near-empty texts would all collide); (b) a prefix held
    // by >64 distinct (source, prefix) rows is dropped before the
    // self-join (a boilerplate header shared by m sources is m^2/2 join
    // rows). sf0.1: min 10 tokens/doc, max prefix df 4 — no result change.
    "contamination_sources" -> ((s, dir) => {
      val toks = split(trim(col("text")), "\\s+")
      // the hot-prefix cap is a window count over the prefix (one shuffle,
      // exchange-reusable by the self-join on the same key), not a
      // groupBy+semi-join (two extra shuffles, measured +0.3 s at sf0.1);
      // persisted because the self-join reads both sides — MEMORY_AND_DISK
      // + LRU like every persist in this repo, reclaim eagerly with
      // spark.catalog.clearCache() (see Relational.scala convention note)
      val pref = t(s, dir, "documents")
        .filter(size(toks) >= 8)
        .select(col("source"), array_join(slice(toks, 1, 8), " ").as("prefix"))
        .distinct()
        .withColumn("_df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("prefix"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val prefCap = pref.filter(col("_df") <= 64).drop("_df")
      prefCap.as("a").join(prefCap.as("b"),
          col("a.prefix") === col("b.prefix") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    }),
    // EXT doc-level eval-set decontamination (Corpus.decontaminate):
    // %13 docs are the "benchmark"; the rest are the corpus. A bloom
    // filter over the eval 8-grams prefilters the corpus MAP-SIDE
    // (exists short-circuit, no explode/shuffle/join for clean docs);
    // only flagged docs reach the exact join, which removes the false
    // positives — so the declared result is exactly the semi-join and
    // the oracle replays it with a plain join, bloom invisible.
    "decontaminate_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Corpus.decontaminate(
          docs.filter(col("doc_id") % 13 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 13 === 0), "text", 8)
        .orderBy("doc_id")
    }),
    // EXT FUZZY eval-set decontamination (Corpus.decontaminateFuzzy):
    // the MinHash complement of decontaminate_docs — eval items are the
    // %13=1 docs lightly paraphrased (one appended token, J ~ 0.95), so
    // exact n-gram matching alone would be fooled by further edits while
    // the banded Jaccard pass still flags the source docs AND their
    // corpus near-dups. Asymmetric band join, no corpus self-join.
    "decontaminate_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val eval = docs.filter(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" ev")).as("text"))
      Corpus.decontaminateFuzzy(docs, "doc_id", "text",
          eval, "doc_id", "text", threshold = 0.8, maxBucket = Some(64))
        .orderBy("doc_id")
    }),
    // EXT per-source dedup-rate report: docs vs distinct texts per source
    "dup_rate_by_source" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("text")).as("n_unique"),
          (lit(1.0) - count_distinct(col("text")).cast("double") / count(lit(1)))
            .as("dup_rate"))
        .orderBy("source")
    }),
    // EXT unigram log-probability doc score (CCNet-style LM-filter proxy):
    // corpus unigram distribution -> per-doc mean token log-prob. Two
    // aggregations + a shuffle join on the vocab. The vocab side is NOT
    // broadcast-hinted: a 100 TB corpus has billions of distinct tokens,
    // so a forced broadcast is an OOM — AQE picks broadcast at runtime
    // when the measured vocab is small. Only the 1-row grand total keeps
    // an explicit broadcast.
    "unigram_logprob" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = freqs.agg(sum("cnt").as("_total"))
      toks
        .join(freqs.crossJoin(broadcast(total)), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(round(avg(log(col("cnt").cast("double") / col("_total"))), 6).as("logprob"))
        .orderBy("doc_id")
    }),
    // EXT bigram LM score (the perplexity-proxy upgrade over
    // unigram_logprob): see bigramLogprobFrame for the plan shape
    "bigram_logprob" -> ((s, dir) => bigramLogprobFrame(s, dir).orderBy("doc_id")),
    // EXT DoReMi-lite domain reweighting (Xie et al. '23 shape): per
    // source, loss = mean bigram-LM negative logprob (exact DECIMAL sum
    // of the round(6) per-doc scores — order-free), then ONE
    // exponentiated-gradient step from uniform: w_s ∝ exp(eta·loss_s),
    // normalized by an ordered fold over the |sources| battery. The
    // domain-mixture knob a training-data pipeline turns
    "doremi_weights" -> ((s, dir) => {
      val lp = bigramLogprobFrame(s, dir)
      val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val agg0 = lp.join(src, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("logprob").cast("decimal(20,6)")).as("_slp"))
        .select(col("source"), col("n_docs"),
          (lit(0.0) - col("_slp").cast("double") /
            col("n_docs").cast("double")).as("_loss"))
      val packed = agg0.agg(sort_array(collect_list(struct(col("source"),
        col("n_docs"), col("_loss")))).as("_l"))
      val zNorm = aggregate(transform(col("_l"),
        x => exp(lit(0.1) * x.getField("_loss"))), lit(0.0), (a, x) => a + x)
      packed.select(explode(col("_l")).as("_e"), zNorm.as("_z"))
        .select(col("_e").getField("source").as("source"),
          col("_e").getField("n_docs").as("n_docs"),
          round(col("_e").getField("_loss"), 6).as("loss"),
          round(exp(lit(0.1) * col("_e").getField("_loss")) / col("_z"), 6)
            .as("weight"))
        .orderBy("source")
    }),
    // EXT word2vec-style negative sampling (Mikolov '13): unigram
    // popularity tempered by the classic 0.75 exponent (lw =
    // 0.75·ln(cnt)), drawn WITHOUT replacement via the deterministic
    // Gumbel top-k — the negatives table a contrastive trainer feeds
    // on. Over the expanded-vocab view (vocab ~5-8k) so k=64 is a real
    // sample, not the whole vocabulary
    "negative_sample_tokens" -> ((s, dir) => {
      val tok = expandedTokens(s, dir)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      Sampling.gumbelTopK(
          tok.withColumn("lw", lit(0.75) * log(col("cnt").cast("double"))),
          "token", "lw", k = 64, seed = "neg")
        .select(col("token"), col("cnt"), col("gumbel_key"))
        .orderBy(col("gumbel_key").desc, col("token"))
    }),
    // EXT CCNet-style quality bucketing (Wenzek et al. 2020): rank the
    // corpus by the bigram-LM doc score and cut equal-population
    // head/middle/tail thirds (CCNet's perplexity buckets; low logprob
    // = high perplexity = tail). RANK-based, not percentile-based —
    // integer arithmetic over the quantized score, so bucket edges are
    // engine-exact, and the global rank is the two-phase range rank
    // (never a single-task ntile window).
    "ccnet_buckets" -> ((s, dir) => {
      Corpus.rankBuckets(bigramLogprobFrame(s, dir), "doc_id", "logprob")
        .select("doc_id", "logprob", "bucket")
        .orderBy("doc_id")
    }),
    // EXT DSIR importance weights (Xie et al. 2023): hashed unigram+
    // bigram features (256 md5 buckets), add-one-smoothed target
    // (lang='en') vs raw bucket distributions, per-doc sum of
    // log-ratios. The distribution tables are FIXED-size (256 rows at
    // any corpus size) so their joins are always-legal broadcasts; the
    // per-doc sum rides exact DECIMAL(20,9) arithmetic — order-
    // independent under partial aggregation, identical across engines.
    "dsir_weights" -> ((s, dir) => {
      Corpus.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 256)
        .orderBy("doc_id")
    }),
    // EXT DSIR resampling step: Gumbel top-k = a weighted sample
    // WITHOUT replacement proportional to exp(dsir_logweight), via the
    // deterministic md5-uniform (reproducible across engines; the
    // orderBy+limit compiles to TakeOrderedAndProject, never a global
    // sort).
    "dsir_sample" -> ((s, dir) => {
      Sampling.gumbelTopK(
          Corpus.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
            col("lang") === "en", buckets = 256),
          "doc_id", "dsir_logweight", k = 64)
        .select("doc_id", "dsir_logweight", "gumbel_key")
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    }),
    // EXT stratified weighted draw (Sampling.gumbelTopKPerGroup):
    // 4 docs per source, length-weighted (logw = ln n_chars), WITHOUT
    // replacement — the per-stratum Gumbel-max trick riding the
    // bounded-state TopKAgg (|groups|*k exchange rows, never a
    // per-stratum sort shuffle)
    "gumbel_sample_sources" -> ((s, dir) =>
      Sampling.gumbelTopKPerGroup(
          t(s, dir, "documents").select(col("source"), col("doc_id"),
            log(col("n_chars").cast("double")).as("lw")),
          "source", "doc_id", "lw", k = 4)
        .orderBy("source", "rank")),
    // EXT STREAMING weighted reservoir (backlog #2): the same
    // per-source Gumbel-max draw run through StreamOps.topKStream's
    // cross-batch bounded state — the key is deterministic data (md5
    // uniform), so merging per-batch top-ks IS the corpus-level
    // without-replacement draw regardless of batch boundaries; k rows
    // of state per live source. Batch-symmetric here (suite strategy);
    // the oracle is the same window rank as gumbel_sample_sources.
    "gumbel_sample_stream" -> ((s, dir) => {
      import s.implicits._
      val u = conv(substring(md5(concat(lit("42:"),
        col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("double") / lit(math.pow(2, 48))
      val items = t(s, dir, "documents")
        .select(col("source").as("g"),
          round(log(col("n_chars").cast("double")) - log(-log(u)), 6).as("v"),
          col("doc_id").as("id"))
        .as[graft.streaming.RankedItem]
      graft.streaming.StreamOps.topKStream(items, 4)
        .toDF("source", "rank", "doc_id", "gumbel_key")
        .orderBy("source", "rank")
    }),
    // EXT type-token ratio (TextFunctions.typeCount): per-doc lexical
    // diversity — distinct-token share, the boilerplate/template-spam
    // flag; both counts are single map-side array expressions, the
    // division exact-integer one-step, round(6)
    "ttr_docs" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          graft.functions.TextFunctions.typeCount(col("text"))
            .cast("long").as("n_types"))
        .withColumn("ttr", when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)))
        .orderBy("doc_id")),
    // EXT HLL set difference (Sketches.hllSetDiff, backlog #2): how
    // much of src0's vocabulary is NOT in src1's and vice versa — the
    // inclusion-exclusion identity one subtraction past hllOverlap,
    // from the SAME two constant-size sketches (nothing new shuffled)
    "hll_set_diff" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      Sketches.hllSetDiff(toks, "source", col("tok"), "src0", "src1")
    }),
    // EXT common-neighbor link prediction (Graph.commonNeighbors):
    // supplier pairs serving the same customers over the
    // lineitem⋈orders bipartite graph — shared-customer counts and
    // capped-set Jaccard; hub customers (>64 suppliers) dropped ahead
    // of the co-partitioned pair self-join (the maxShingleDf trade).
    // Top-30 under a total (cn desc, id_a, id_b) order —
    // TakeOrderedAndProject, never a global sort
    "link_pred_suppliers" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey"))
      Graph.commonNeighbors(edges, "l_suppkey", "o_custkey", maxDegree = 64)
        .orderBy(col("cn").desc, col("id_a"), col("id_b"))
        .limit(30)
    }),
    // EXT ingest-time DSIR scoring (StreamOps.dsirScoreStream): held-out
    // docs score against the BUILD-ONCE corpus distribution table via a
    // literal lookup array — expression-only, stateless, zero shuffles
    // on the hot path; unseen buckets get the smoothed count-0 default.
    // Applied to a batch frame here (the suite strategy for stream ops;
    // stream==batch equality is StreamingSpec-asserted).
    "dsir_score_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.streaming.StreamOps.dsirScoreStream(
          Corpus.dsirDistTable(docs.filter(col("doc_id") % 13 =!= 0),
            "doc_id", "text", col("lang") === "en", 256),
          docs.filter(col("doc_id") % 13 === 0))
        .orderBy("doc_id")
    }),
    // EXT tf-idf top terms per document (feature-extraction staple; no
    // reference analog — SURVEY north star). Ranked by the ACTUAL tf-idf
    // score — round(6)'d BEFORE ranking so both engines rank identical
    // quantized values (the suite-wide float discipline), with fully
    // integer tie-breaks (tf desc, df asc, term asc) underneath — a
    // tf-only ranking is NOT monotone in tf-idf (a boilerplate term with
    // df=n scores tf*1.0 and loses to any rarer term).
    // Scale shape: one token explode, tf groupBy, df as a window count
    // over the term (one shuffle, same posture as the round-5 skew caps),
    // doc-count as a 1-row broadcast; no collect, no UDF.
    "tfidf_top_terms" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfc = tf.withColumn("df", count(lit(1)).over(w.partitionBy(col("tok"))))
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n"))
      dfc
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf",
          round(col("tf") * (log((col("n").cast("double") + 1) / (col("df") + 1)) + 1), 6))
        .withColumn("rank", row_number().over(
          w.partitionBy(col("doc_id"))
            .orderBy(col("tfidf").desc, col("tf").desc, col("df").asc, col("tok").asc)))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("tok").as("term"), col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    }),
    // EXT Okapi BM25 top-k (Retrieval.bm25TopK): lexical relevance
    // ranking against a literal query-term bag — the retrieval half of
    // curation workflows (decontamination triage, review queues). The
    // only corpus-sized shuffle is the term-filtered tf groupBy; the
    // global top-k compiles to TakeOrderedAndProject.
    "bm25_topk" -> ((s, dir) => {
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "hash", "merge"), k = 20)
        .orderBy("rank")
    }),
    // EXT pseudo-relevance feedback (Retrieval.prfExpandedTopK, RM3
    // shape): BM25 round 1 -> top-5 feedback docs vote expansion terms
    // by exact total tf (integer rank, total tie-break) -> BM25 round 2
    // over the expanded set via the terms-FRAME variant (LEFT SEMI term
    // filter — the expansion never touches the driver). Both rounds the
    // BM25 scale shape; quantized-score ranking throughout.
    "bm25_prf_topk" -> ((s, dir) => {
      Retrieval.prfExpandedTopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "stream"), k = 10, kFeedback = 5, nExpand = 3)
        .orderBy("rank")
    }),
    // EXT hybrid lexical+embedding retrieval via reciprocal-rank fusion
    // (Retrieval.rrfFuse): BM25 ranks and brute-force cosine ranks for
    // vec 0's embedding, fused as sum(1/(60+rank)) — rank-only, so no
    // score calibration between the two systems
    "hybrid_rrf_topk" -> ((s, dir) => {
      val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "hash", "merge"), k = 50)
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings")
      val sem = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
          "vec_id", "embedding", 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), "doc_id", "rank", k = 10)
        .orderBy("rank")
    }),
    // EXT MMR diversity re-rank (Retrieval.mmrTopK, Carbonell'98):
    // greedy lambda*rel - (1-lambda)*maxsim selection of 5 from the
    // 16-candidate relevance pool per query — duplicate-dense corpora
    // make pure relevance top-k hand back copies; MMR spends the budget
    // on coverage. Greedy runs per query inside one flatMapGroups task
    // over <= poolSize rows (bounded, like sequence packing); the
    // oracle replays the selection with a recursive CTE.
    "mmr_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Retrieval.mmrTopK(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, lambda = 0.7, poolSize = 16)
        .orderBy("query_id", "rank")
    }),
    // EXT fixed-iteration PageRank (Graph.pageRank) over the
    // supplies-to graph (supplier -> customer via lineitem x orders,
    // ids prefixed so the two key spaces cannot collide): 3 synchronous
    // sweeps, each one rank-join + one decimal-summed groupBy (the
    // Pregel sweep as two exchanges); per-sweep quantization keeps
    // every iteration's state on an engine-portable grid
    "pagerank_suppliers" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      Graph.pageRank(edges, "src", "dst", iterations = 3,
          damping = 0.85, quantize = 9)
        .orderBy("node")
    }),
    // EXT oracle-checkable Lloyd k-means (Ann.kmeansFixed): md5-seeded
    // centroids, 2 full assign+recompute sweeps with the PageRank float
    // discipline (round-12 decimal sums, round-9 centroid grid) — the
    // exact-replay complement of the rows-only MLlib ivf_kmeans query.
    // Declared as the complete per-vector assignment.
    "kmeans_assign" -> ((s, dir) => {
      Ann.kmeansFixed(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iterations = 2)
        .orderBy("vec_id")
    }),
    // EXT build-once inverted index (Retrieval.invertedIndex): term ->
    // (exact df, capped sorted posting list) — the materialized artifact
    // bm25_topk recomputes per query; cap enforced by a ranked window
    // BEFORE collect so aggregation state stays bounded per term
    "inverted_index" -> ((s, dir) => {
      Retrieval.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          minDf = 2, maxPostings = 32)
        // driver-hash convention: no array output columns — join the
        // posting list to a comma string
        .select(col("term"), col("df"),
          array_join(col("postings"), ",").as("postings"))
        .orderBy("term")
    }),
    // EXT c-TF-IDF cluster labels (Corpus.clusterTopTerms, the BERTopic
    // statistic): the text clusters from text_cluster_assign labeled by
    // their top-3 class-TF-IDF terms — the corpus-exploration readout
    // of an uninspected clustering; one (cluster, term) groupBy, its
    // roll-ups, a 1-row broadcast mean, and a cluster-local rank window
    "cluster_top_terms" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val vecs = Corpus.hashedDocVectors(docs, "doc_id", "text", dim = 64)
      val assign = Ann.kmeansFixed(vecs, "doc_id", "vec", k = 8, iterations = 2)
        .select(col("doc_id"), col("cluster_id"))
      Corpus.clusterTopTerms(docs, assign, "doc_id", "text", topK = 3)
        .orderBy("cluster_id", "rank")
    }),
    // EXT end-to-end TEXT clustering (Corpus.hashedDocVectors +
    // Ann.kmeansFixed): embedding-free — documents become integer-exact
    // hashing-trick vectors (bit d of each token's md5 as the sign,
    // one digest per distinct token), then two exact-replay Lloyd
    // sweeps cluster them. Every stage hash-checkable.
    "text_cluster_assign" -> ((s, dir) => {
      val vecs = Corpus.hashedDocVectors(t(s, dir, "documents"),
        "doc_id", "text", dim = 64)
      Ann.kmeansFixed(vecs, "doc_id", "vec", k = 8, iterations = 2)
        .orderBy("doc_id")
    }),
    // EXT HITS hubs/authorities (Graph.hits) on the same supplies-to
    // bipartite graph — suppliers are hubs, customers authorities; two
    // normalized sweeps under the PageRank float discipline
    "hits_suppliers" -> ((s, dir) => {
      val edges = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      Graph.hits(edges, "src", "dst", iterations = 2, quantize = 9)
        .orderBy("node")
    }),
    // EXT clustering-quality readout (Ann.kmeansClusterQuality):
    // centroid silhouette — own-centroid cosine minus best
    // other-centroid cosine, per-cluster mean under the decimal-sum
    // discipline; scores the SAME sweeps kmeans_assign runs
    "kmeans_silhouette" -> ((s, dir) => {
      Ann.kmeansClusterQuality(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 8, iterations = 2)
        .orderBy("cluster_id")
    }),
    // EXT nearest-centroid (Rocchio) domain classification
    // (Ann.labelCentroids + nearestCentroidAssign): md5-sampled
    // prototype centroids per label (ordered element-wise fold —
    // engine-portable float sums), every vector assigned to its
    // highest-cosine prototype; declared as the confusion matrix. The
    // centroid table is |labels| rows and broadcast — no corpus shuffle
    // beyond the per-id argmax window.
    "centroid_assign" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = Ann.labelCentroids(emb, "vec_id", "embedding", "label",
        sampleN = 32)
      Ann.nearestCentroidAssign(emb, "vec_id", "embedding", "label", cents)
        .groupBy(col("label"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred")
    }),
    // EXT n-gram novelty (Corpus.ngramNovelty): fraction of each doc's
    // distinct word trigrams occurring in NO other document — the
    // inverse of boilerplate saturation; map-side per-doc dedup, 8-byte
    // hashed grams, one df groupBy + one join back on the same key
    "novelty_docs" -> ((s, dir) => {
      Corpus.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),
    // OLAP star join (TPC-H Q5 shape): revenue by nation for one region
    // and year, local suppliers only (c_nationkey = s_nationkey). Six
    // tables; region/nation broadcast, customer/supplier AQE-decided,
    // the two fact-side joins shuffle on their keys — the classic plan
    // a warehouse engine must get right, and the date + region filters
    // must reach the scans (PlanSpec-checkable pushdown)
    "q5_nation_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
        .select("r_regionkey")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    // Window RANGE frame: trailing-7-day revenue per order day — the
    // time-based frame (RANGE BETWEEN 6 PRECEDING) over the daily
    // aggregate, which is at most |days| rows after the one fact shuffle
    "rolling_revenue_7d" -> ((s, dir) => {
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(dsum(col("o_totalprice")).as("day_rev"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("_dn"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("_dn", datediff(col("day"), lit("1995-01-01").cast("date")))
        .withColumn("rev_7d",
          round(sum(col("day_rev").cast(DEC)).over(w).cast("double"), 2))
        .select(col("day"), col("day_rev"), col("rev_7d"))
        .orderBy("day")
    }),
    // Window ntile: customers cut into account-balance deciles per
    // market segment (total tie-break on key), with per-decile stats
    "acctbal_deciles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      t(s, dir, "customer")
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("c_mktsegment"), col("decile"))
        .agg(count(lit(1)).as("n"),
          dsum(col("c_acctbal")).as("bal_sum"))
        .orderBy("c_mktsegment", "decile")
    }),
    // OLAP cube: revenue + row count at every (returnflag, linestatus)
    // granularity in ONE pass (partial_aggregate-friendly Expand, no
    // re-scan per grouping set); grouping_id disambiguates data NULLs
    // from subtotal rows, keys coalesced to a sentinel so row identity
    // is engine-portable (NULL orderings differ across engines)
    "cube_revenue" -> ((s, dir) => {
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
    }),
    // EXT corpus-level duplicate-line removal (Corpus.dedupLines —
    // CCNet/RefinedWeb paragraph dedup): the flat test corpus has no
    // newlines, so multi-line "pages" are synthesized by concatenating
    // each (source, doc_id%50) group's texts in doc_id order — corpus
    // duplicate texts then become cross-page boilerplate LINES, which
    // is exactly the shape the operator removes (df>=2 over trimmed
    // line digests; blank lines immune; per-page reassembly in order)
    "line_dedup" -> ((s, dir) => {
      val pages = t(s, dir, "documents")
        .groupBy(concat(col("source"), lit("-"),
          (col("doc_id") % 50).cast("string")).as("gid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n").as("text"))
      Corpus.dedupLines(pages, "gid", "text", minDf = 2)
        .orderBy("gid")
    }),
    // EXT intra-doc repeated-line collapse (Corpus.collapseRepeatedLines):
    // the within-page half of boilerplate removal — ZERO-shuffle
    // row-local array pipeline (duplicate corpus texts concatenated into
    // the same synthesized page become intra-page repeats here)
    "line_collapse" -> ((s, dir) => {
      val pages = t(s, dir, "documents")
        .groupBy(concat(col("source"), lit("-"),
          (col("doc_id") % 50).cast("string")).as("gid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n").as("text"))
      Corpus.collapseRepeatedLines(pages, "gid", "text")
        .orderBy("gid")
    }),
    // EXT ingest-time boilerplate-line verdicts (StreamOps.lineIndex +
    // lineVerdictsStream): the streaming half of line_dedup — per-line
    // keep/drop against the build-once corpus line index via a
    // stateless stream-static join (append-legal: reassembly is the
    // sink's batch fold, spec-asserted equal to Corpus.dedupLines).
    // Batch-symmetric here, like the other declared streaming queries.
    "line_dedup_stream" -> ((s, dir) => {
      val pages = t(s, dir, "documents")
        .groupBy(concat(col("source"), lit("-"),
          (col("doc_id") % 50).cast("string")).as("gid"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n").as("text"))
      val idx = graft.streaming.StreamOps.lineIndex(pages, "gid", "text", minDf = 2)
      graft.streaming.StreamOps.lineVerdictsStream(idx, pages, "gid", "text")
        .orderBy("gid", "pos")
    }),
    // EXT cohort retention matrix (Events.retentionCohorts): users
    // cohorted by first active day, (cohort, offset) cells count members
    // active that many days later. One (user,day) dedup shuffle; the
    // first-day agg and activity join reuse the user hash; cohort sizes
    // AQE-broadcast.
    "retention_cohorts" -> ((s, dir) => {
      Events.retentionCohorts(t(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")
    }),
    // EXT ordered conversion funnel (Events.funnelStages): furthest
    // stage per user under min-chain semantics (stage i counts only
    // strictly after the earliest completion of stage i-1) — N
    // conditional-min windows chained over ONE user-key exchange, vs
    // the N-shuffle join-chain a naive funnel runs
    "funnel_stages" -> ((s, dir) => {
      Events.funnelStages(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("signup", "click", "purchase"))
        .orderBy("user_id")
    }),
    // EXT time-to-convert quartiles (Events.funnelTimes): exact
    // interpolated quartiles of last-stage-minus-first-stage duration
    // across fully-converted users — rides the same single user-key
    // exchange as funnel_stages; NTZ-safe micros
    "funnel_times" -> ((s, dir) => {
      Events.funnelTimes(t(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("signup", "click", "purchase"))
    }),
    // EXT DAU/WAU stickiness (Events.engagementRatio): per-day distinct
    // actives and trailing-7-day actives; the sliding distinct is a
    // bounded x7 day-explode over the deduped (user, day) frame, never
    // a distinct-over-window
    "dau_wau" -> ((s, dir) => {
      Events.engagementRatio(t(s, dir, "events"), "user_id", "ts", 7)
        .orderBy("day")
    }),
    // EXT event-rate anomaly detection: per-type daily counts z-scored
    // against the type's own day distribution, |z| >= 2 flagged. The
    // moments are EXACT integer sums (sum, sum-of-squares over counts),
    // so mean/variance/z are pure-function doubles any engine replays —
    // no float aggregation order anywhere
    "event_anomalies" -> ((s, dir) => {
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
    }),
    // EXT gap-based sessionization (batch twin of the stateful streaming
    // flatMapGroupsWithState path — equality tested in StreamingSpec)
    "sessions_user" -> ((s, dir) => {
      graft.streaming.StreamOps.sessionizeBatch(
          t(s, dir, "events"), "user_id", "ts", "event_id", 30)
        .orderBy("user_id", "event_id")
    }),
    // EXT end-to-end corpus cleaning: quality-score -> exact dedup (keep
    // lowest id) -> top 100 by quality — the composed pipeline shape a
    // training-data run uses, fully oracle-checkable
    "pipeline_clean_corpus" -> ((s, dir) => {
      val deduped = Dedup.exactDedup(injectedDocs(s, dir), "text", "doc_id")
      val scored = deduped.withColumn("quality", TextFunctions.qualityScore(col("text")))
      Relational.topK(scored, 100, col("quality").desc, col("doc_id").asc)
        .select("doc_id", "quality")
    }),
    // EXT corpus snapshot diff (Corpus.snapshotDiff): CDC classification
    // of a deterministic v2 recipe (drop %13=5, edit %7=3, add %17=2)
    // against the base corpus — md5 fingerprints ride the full-outer
    // join, not document bodies
    "corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 2)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Corpus.snapshotDiff(docs, v2, "doc_id", "text").orderBy("doc_id")
    }),
    // EXT corpus-wide heavy hitters (Corpus.topNgrams): top-20 word
    // bigrams; partial agg absorbs the hot grams, global top-k is
    // TakeOrderedAndProject
    "top_ngrams" -> ((s, dir) =>
      Corpus.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 20)),
    // EXT dictionary phrase tagging (Corpus.phraseHits): mixed 1/2/3-word
    // phrases, one exploded-gram union joined against the broadcast
    // literal dictionary — the Aho-Corasick analogue
    "phrase_hits" -> ((s, dir) =>
      Corpus.phraseHits(t(s, dir, "documents"), "doc_id", "text", PhraseDict)
        .orderBy("doc_id", "phrase")),
    // EXT Heaps-law vocabulary growth (Corpus.vocabGrowth): new BIGRAM
    // types + cumulative type count per corpus-prefix decile (unigram
    // vocab saturates in the first decile of any real corpus); rank via
    // two-phase dense ids, bucket edges in exact integer arithmetic
    "vocab_growth" -> ((s, dir) =>
      Corpus.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
          buckets = 10, n = 2)
        .orderBy("bucket")),
    // EXT windowed co-occurrence PMI (Corpus.pmiPairs): the word2vec
    // statistic — unordered token pairs within 2 positions, PMI against
    // unigram frequencies, top-30 at count>=5
    "pmi_pairs" -> ((s, dir) =>
      Corpus.pmiPairs(t(s, dir, "documents"), "text", window = 2, minCount = 5, k = 30)),
    // EXT backward as-of join (Joins.asofJoin): each click gets the
    // latest purchase value at-or-before its timestamp per user — ONE
    // shuffle, ZERO join operators (union + keyed ordered window); the
    // right side pre-aggregates (user, ts) so ties are well-defined.
    // DuckDB replays it with its native ASOF LEFT JOIN
    "asof_join_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("value")).as("pval"))
      graft.operators.Joins.asofJoin(clicks, purchases, "user_id", "ts", Seq("pval"))
        .select(col("event_id"), col("user_id"), col("asof_pval"))
        .orderBy("event_id")
    }),
    // EXT range join (Joins.rangeJoin): clicks inside each error's
    // 6-hour window per user — the inequality predicate becomes a
    // bucket equi-join (21600 s buckets = the interval length, so each
    // interval explodes to <= 2 rows and no dedup is needed)
    "range_join_events" -> ((s, dir) => {
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
    }),
    // EXT normalized exact dedup (TextFunctions.normalize): exact
    // grouping on md5(lowercase + collapsed whitespace) — catches the
    // case/whitespace variants raw exact dedup misses (injected here as
    // %9=1 docs re-cased and re-padded); the shuffle carries 32-byte
    // digests, not text
    "dedup_exact_normalized" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 9 === 1)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
      docs.unionByName(variants)
        .groupBy(md5(TextFunctions.normalize(col("text"))).as("_k"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    }),
    // EXT per-source corpus cap (Corpus.capPerGroup): at most 15 docs
    // per source, best quality first with doc_id ties — the curation
    // lever against one crawl drowning the mixture
    "source_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      Corpus.capPerGroup(docs, "source", cap = 15,
          Seq(col("quality").desc, col("doc_id").asc))
        .select(col("source"), col("doc_id"), col("rank"))
        .orderBy("source", "rank")
    }),
    // EXT temperature-balanced multilingual resampling
    // (Corpus.temperatureSample, XLM-R/mT5 mixing with alpha=0.5):
    // allocation floor(200*sqrt(c_l)/S) per language from IEEE-exact
    // sqrt + ordered weight fold, md5-rank draws per group
    "lang_temperature_sample" -> ((s, dir) =>
      Corpus.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          nTarget = 200)
        .orderBy("doc_id")),
    // EXT learned quality filter: logistic scoring over the shared
    // quality features with FROZEN trained weights (QcWeights, trained
    // by ScaleProbe qctrain on clean-vs-corrupted) — the fastText-style
    // learned-filter shape; inference is one expression-only projection
    // EXT cross-source score calibration: a raw quality score is not
    // comparable across sources (each source has its own score
    // distribution), so curation mixes on the WITHIN-source quantile —
    // percent_rank per source with total tie-break, the
    // quantile-normalization step before any cross-source threshold
    "quality_quantile_norm" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("_q").asc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("_q"))
        // quality emitted RAW (the text_profile precedent): the doubles
        // are bit-identical across engines, while ROUND at an exact
        // half boundary is not (count-ratio scores land on dyadic
        // decimals); percent_rank is (rank-1)/(n-1) — also identical
        .withColumn("q_rank", percent_rank().over(w))
        .select(col("doc_id"), col("source"),
          col("_q").as("quality"), col("q_rank"))
        .orderBy("doc_id")
    }),
    "quality_classifier" -> ((s, dir) =>
      qcScored(s, dir)
        .select(col("doc_id"), col("p_clean"))
        .withColumn("keep", col("p_clean") >= 0.5)
        .orderBy("doc_id")),
    // EXT ingest-time CDC (StreamOps.cdcClassifyStream, batch-symmetric
    // here like the other *_stream queries): v2 docs classified
    // added/changed against the 40-byte/doc base fingerprint index —
    // `removed` is a batch-only verdict (a stream cannot observe
    // absence), so this is corpus_diff minus removals
    "cdc_classify_stream" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 2)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      val idx = graft.streaming.StreamOps.cdcIndex(docs, "doc_id", "text")
      graft.streaming.StreamOps.cdcClassifyStream(idx, v2, "doc_id", "text")
        .select("doc_id", "status")
        .orderBy("doc_id")
    }),
    // EXT HyperLogLog grouped distinct (Sketches.hllDistinct): md5-hash
    // registers, exact-integer harmonic denominator — the sketch shuffle
    // is |groups|*256 rows at ANY scale (vs countDistinct's full
    // distinct-pair exchange); exact side joined on for auditability
    "hll_distinct_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Sketches.hllDistinct(ev, Seq("event_type"), col("user_id"))
        .join(ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }),
    // EXT Misra-Gries heavy hitters (Sketches.heavyHitters): EXACT
    // tokens above n/k support found at sketch cost — MG candidates
    // (provable superset), then a broadcast-semi-join recount; the
    // oracle is the plain exact HAVING, which the sketch path equals
    // bit-for-bit by the MG guarantee
    "heavy_hitter_tokens" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("item"))
      Sketches.heavyHitters(toks, "item", 200)
        .withColumnRenamed("item", "token")
    }),
    // EXT static t-digest (Sketches.tdigestCentroids, Dunning-Ertl
    // '19): value cells -> midpoint quantiles -> tail-concentrating
    // cubic k-scale centroid assignment (polynomial, not asin/log:
    // libm last-ulp drift at a centroid boundary would flip a bucket
    // between engines); <=64 centroids over value cents with exact
    // weights and DECIMAL means
    "tdigest_value" -> ((s, dir) =>
      Sketches.tdigestCentroids(t(s, dir, "events"),
        round(coalesce(col("value"), lit(0.0)) * 100), delta = 64)),
    // EXT fixed-grid binned quantiles (Sketches.binnedQuantiles): the
    // 100 TB percentile path — two scans, a 256-row exchange, exact
    // integer bins/ranks, mirrored two-division interpolation
    "quantiles_binned_chars" -> ((s, dir) =>
      Sketches.binnedQuantiles(t(s, dir, "documents"), "n_chars",
        Seq(25 -> 100, 50 -> 100, 75 -> 100, 90 -> 100, 99 -> 100))),
    // EXT STREAMING binned quantiles applied to a batch frame (the
    // suite strategy for stream lambdas): per-SOURCE doc-length
    // percentiles from 256-long histogram state under the corpus'
    // frozen [min,max] grid — the incremental twin of
    // quantiles_binned_chars, same exact bin/rank/interpolation math
    "binned_quantiles_stream" -> ((s, dir) => {
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
    }),
    // EXT Z-order (Morton) clustering key (Sketches.zOrderValue) on
    // (user_id, event day) — the multi-dimensional data-skipping layout
    // [writeZOrdered]; row-group pruning proven from parquet footers in
    // ScaleSpec, the code itself oracle-checked here bit-for-bit
    "zorder_events" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(col("event_id") % 97 === 0)
        .select(col("event_id"),
          Sketches.zOrderValue(
            col("user_id").bitwiseAND(lit((1L << 21) - 1)),
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")))
            .as("zval"))
        .orderBy("event_id")),
    // EXT deterministic training shards (Scale.shardOf): shard = low
    // bits of the portable md5 id-hash — stable across runs, engines
    // and cluster sizes; the size histogram doubles as a uniformity
    // check. writeShards lays the directories out, proven in ScaleSpec
    "shard_sizes" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(graft.operators.Scale.shardOf(col("doc_id"), 64).as("shard"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("shard")),
    // EXT Count-Min point frequencies (Sketches.cmsCounters/Estimates):
    // d=3 x w=64 md5-bucketed counters — a CONSTANT-size exchange after
    // map-side combine at any corpus scale; estimates (min over rows,
    // never an undercount) joined against the exact counts, collision
    // overcounts and all replayed bit-for-bit by the oracle
    "cms_token_counts" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("item"))
      val counters = Sketches.cmsCounters(toks, "item", 64)
      val probes = s.createDataset(CmsProbeTokens)(
        org.apache.spark.sql.Encoders.STRING).withColumnRenamed("value", "item")
      Sketches.cmsEstimates(counters, probes, "item", 64)
        .join(toks.groupBy("item").agg(count(lit(1)).as("exact_cnt")),
          Seq("item"), "left")
        .select(col("item").as("token"), col("est"),
          coalesce(col("exact_cnt"), lit(0L)).as("exact_cnt"))
        .orderBy("token")
    }),
    // EXT sketch-estimated join cardinality (Sketches.cmsJoinSize):
    // min-over-rows inner product of the two sides' d=3 x w=64 CMS
    // counters — "how big is orders x lineitem on orderkey" answered
    // from two constant-size sketches, never shuffling either fact
    // table on the key; exact side = Σ f_a·f_b from per-side groupBys
    // (itself join-free). The estimate never undercounts.
    "cms_join_size" -> ((s, dir) => {
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
    }),
    // EXT AMS tug-of-war F2 (Sketches.amsF2): the self-join size of
    // events on user_id from d=5 signed running sums — a d-row exchange
    // at any stream length, the key never grouped; median of the
    // squares is an exact integer (d odd). Exact F2 joined for the
    // error readout (1-row broadcast cross).
    "ams_f2_events" -> ((s, dir) => {
      val est = Sketches.amsF2(t(s, dir, "events"), "user_id", d = 5)
      val exact = t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("_c"))
        .agg(sum(col("_c").cast("decimal(19,0)") * col("_c"))
          .cast("long").as("exact_size"))
      est.crossJoin(broadcast(exact))
    }),
    // EXT Markov event-transition matrix (Events.eventTransitions):
    // per-user adjacent pairs under a TOTAL (ts, event_id) order, one
    // user-key window + one (from,to) roll-up; the probability
    // normalization runs over the |types|^2 aggregate — constant at any
    // stream length. prob = one division of two exact BIGINTs.
    "event_transitions" -> ((s, dir) =>
      Events.eventTransitions(t(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type")),
    // EXT embedding drift (Ann.meanVectorDrift): cosine between the
    // two label-halves' mean vectors — quantized-integer per-dim sums
    // (exact, order-free), count factors cancel, exchange bounded at
    // 2*dim rows; the snapshot-vs-snapshot space monitor
    "embedding_drift" -> ((s, dir) =>
      graft.operators.Ann.meanVectorDrift(t(s, dir, "embeddings"),
        "embedding", col("label") < 5)),
    // EXT declarative data-quality suite (Checks.check, the Deequ
    // shape): six constraints over orders compile to ONE aggregation
    // pass (+ a LEFT ANTI for referential integrity) — row predicates
    // as conditional counts, uniqueness as count-vs-exact-distinct.
    // The per-constraint scalars are 1-row driver reads (the
    // stratified-allocation precedent), re-shaped into the report
    "dq_orders" -> ((s, dir) => {
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
    }),
    // EXT schema-wide referential-integrity audit (Checks.riAudit):
    // every TPC-H FK edge as one anti-join vs the DISTINCT parent key +
    // one 1-row aggregate — the "can I trust my joins" report a 100 TB
    // warehouse runs nightly; fully distributed, no driver counting
    "ri_audit" -> ((s, dir) => {
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
    }),
    // EXT daily-count autocorrelation (Events.acfDaily): lags 1-7 of
    // the event-volume series, integer-exact via the n-scaled form
    // (n·x−S products — the rational mean never becomes a float); one
    // stream roll-up, everything else over the |days| aggregate
    "acf_daily_events" -> ((s, dir) =>
      Events.acfDaily(t(s, dir, "events"), "ts", maxLag = 7)
        .orderBy("lag")),
    // EXT Mann-Whitney U (Stats.mannWhitney): click vs error values,
    // midrank tie correction — cell-based, so every float term is an
    // exact dyadic (order-free sums); the cumulative window rides the
    // measurement-grid-bounded cell table
    "mann_whitney_value" -> ((s, dir) =>
      Stats.mannWhitney(t(s, dir, "events"), "event_type", "value",
        "click", "error")),
    // EXT simple OLS trend (Stats.olsSimple): value-cents regressed on
    // hour-of-stream — five exact BIGINT moment sums in ONE map-side
    // aggregate, doubles only in the final fixed-order combination
    "ols_value_trend" -> ((s, dir) =>
      Stats.olsSimple(t(s, dir, "events"),
        floor(unix_micros(col("ts").cast("timestamp")) / 3600000000L) - 473352L,
        round(col("value") * 100))),
    // EXT A/B two-proportion z-test (Stats.abTestProportions):
    // deterministic md5-parity arms over events, conversion =
    // value > 100 — an A/A calibration readout (|z| small); ONE
    // map-side global aggregate, no shuffle beyond the combine
    "ab_test_value" -> ((s, dir) =>
      Stats.abTestProportions(t(s, dir, "events"), "event_id",
        col("value") > 100)),
    // EXT CUPED variance reduction (Stats.cuped, Deng et al. '13):
    // per-user pre-period activity (x, event count before Jan 16)
    // adjusts the post-period spend metric (y, value cents after) —
    // θ from pooled exact DECIMAL moments, the adjusted diff via
    // linearity so no per-unit float is ever summed; md5-parity arms
    // make this an A/A calibration readout with a real ρ²
    "cuped_adjustment" -> ((s, dir) => {
      val cut = lit("2024-01-16").cast("date")
      val units = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("ts").cast("date") < cut, 1L).otherwise(0L)).as("x"),
          sum(when(col("ts").cast("date") >= cut,
            round(coalesce(col("value"), lit(0.0)) * 100).cast("long"))
            .otherwise(0L)).as("y"))
        .withColumn("arm", graft.functions.TextFunctions.md5Bits64(
          concat(lit("cu:"), col("user_id").cast("string")))
          .bitwiseAND(lit(1L)))
      Stats.cuped(units, "x", "y", "arm")
    }),
    // EXT Spearman rank correlation (Stats.spearman): quantity vs
    // price-cents over lineitem — exact integer 2·midranks from the
    // (x,y) CELL table, five BIGINT moment sums, doubles only in the
    // final fixed-order combination (the OLS discipline rank-ified)
    "spearman_qty_price" -> ((s, dir) =>
      Stats.spearman(t(s, dir, "lineitem"),
        col("l_quantity"), round(col("l_extendedprice") * 100))),
    // EXT two-sample Kolmogorov-Smirnov (Stats.ksTest): click vs error
    // value distributions — D as the exact integer max |ca·nb − cb·na|
    // over the value-cell CDF grid; the 5% asymptotic critical value
    // and rejection readout ride the same exact integers
    "ks_value_click_error" -> ((s, dir) =>
      Stats.ksTest(t(s, dir, "events"), "event_type", "value",
        "click", "error")),
    // EXT Gini concentration (Stats.gini): per-customer spend-cents
    // inequality — Lorenz rank sums in exact BIGINTs over the
    // spend-cell table (ties as closed-form rank-run sums), one
    // division at the readout
    "gini_customer_spend" -> ((s, dir) =>
      Stats.gini(
        t(s, dir, "orders").groupBy("o_custkey")
          .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend")),
        col("spend"))),
    // EXT Kruskal-Wallis rank ANOVA (Stats.kruskalWallis): does value
    // differ across ALL event types — k-sample Mann-Whitney with exact
    // integer rank sums; the only order-sensitive float reduction
    // (Σ R²/n over k group rows) is an ordered fold, contingency-style
    "kruskal_value_types" -> ((s, dir) =>
      Stats.kruskalWallis(t(s, dir, "events"), "event_type", "value")),
    // EXT one-way ANOVA F (Stats.anovaF): value-cents across event
    // types — exact BIGINT group moments in ONE pass, the sole
    // order-sensitive float reduction (Σ S²/n over k group rows) an
    // ordered fold; the parametric twin of kruskal_value_types
    "anova_value_types" -> ((s, dir) =>
      Stats.anovaF(t(s, dir, "events"), "event_type",
        round(col("value") * 100))),
    // EXT EWMA daily smoother (Events.ewmaDaily): α=0.3 per-type
    // smoothed daily counts — the recursion as an expression fold over
    // the |days|-bounded aggregate (invariant 37), α/β as separate
    // literals so no engine derives 1−α; oracle = recursive CTE
    "ewma_daily_counts" -> ((s, dir) =>
      Events.ewmaDaily(t(s, dir, "events"), "event_type", "ts",
          alpha = 0.3, beta = 0.7)
        .orderBy("event_type", "day")),
    // EXT Fano burstiness (Events.fanoDaily): per-type dispersion
    // index of daily counts — (n·Σx² − S²)/(n·S) from three exact
    // BIGINT sums, one division at the readout
    "fano_event_types" -> ((s, dir) =>
      Events.fanoDaily(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type")),
    // EXT dow-adjusted anomalies (Events.dowAdjustedAnomalies): a
    // doubled error day (the cusum injection) judged against ITS
    // weekday's distribution — residuals as exact n·x−S integers, MAD
    // by rank arithmetic per (type, dow) cell; the deseasonalized
    // complement of event_anomalies/mad_outliers
    "dow_anomalies" -> ((s, dir) => {
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
    }),
    // EXT SCD2 dimension build (Events.scd2Islands): per-user
    // event_type regimes as [valid_from, valid_to) validity intervals
    // — gaps-and-islands under the total (ts, event_id) order; one
    // key exchange reused by both windows and the island roll-up
    "scd2_user_type" -> ((s, dir) =>
      Events.scd2Islands(t(s, dir, "events"), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("user_id", "valid_from", "event_type")),
    // EXT Zipf slope (Stats.olsSimple over log-log ranks): the corpus
    // power-law readout — top-1000 tokens by (freq desc, tok), ln rank
    // and ln freq quantized to exact integer MICRO-units before the
    // five-BIGINT-moment OLS (the round-then-rank ln discipline; the
    // shared 1e6 scale cancels in slope and r²). The top-k is a
    // TakeOrderedAndProject over the vocab-bounded frequency table,
    // never a corpus sort
    "zipf_slope_tokens" -> ((s, dir) => {
      val freq = expandedTokens(s, dir)
        .select(col("token").as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      val top = freq.orderBy(col("freq").desc, col("tok")).limit(1000)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("freq").desc, col("tok"))))
      Stats.olsSimple(top,
        round(log(col("rank").cast("double")) * 1e6),
        round(log(col("freq").cast("double")) * 1e6))
    }),
    // EXT classifier ROC-AUC (Stats.aucRank): the learned quality
    // filter evaluated against its injected ground truth via the
    // Mann-Whitney rank identity — exact dyadic rank sums over the
    // round(6) score grid, midrank tie convention
    "classifier_auc" -> ((s, dir) =>
      Stats.aucRank(qcScored(s, dir), col("p_clean"), col("is_clean"))),
    // EXT classifier confusion metrics (Stats.binaryClassMetrics):
    // exact TP/FP/FN/TN in one pass; precision/recall/accuracy and F1
    // (via 2TP/(2TP+FP+FN) — a SINGLE exact-integer division, never
    // the stacked p·r composition) at threshold 0.5
    "classifier_prf" -> ((s, dir) =>
      Stats.binaryClassMetrics(qcScored(s, dir),
        col("p_clean") >= 0.5, col("is_clean"))),
    // EXT calibration (reliability) table: decile score bins vs
    // observed clean rate — avg_p from an exact DECIMAL(20,6) sum of
    // the round(6) scores (order-free), obs_rate one exact division
    // EXT isotonic score calibration (Stats.isotonicCalibration): the
    // PAV monotone fit of the learned classifier's per-bin hit rate —
    // computed by the minimax identity over exact prefix-sum quotients
    // so the fit replays bit-for-bit (PAV's merge loop would not)
    "isotonic_calibration" -> ((s, dir) =>
      Stats.isotonicCalibration(qcScored(s, dir), col("p_clean"),
          col("is_clean"), bins = 100)
        .orderBy("bin")),
    // EXT Expected Calibration Error (Naeini '15): the one-number
    // summary of the reliability diagram — Σ n_b/N·|acc_b − conf_b|
    // over the same 10 bins; confidence sums ride exact DECIMALs, the
    // weighted fold runs in bin order
    "calibration_ece" -> ((s, dir) => {
      val cells = qcScored(s, dir)
        .select(least(floor(col("p_clean") * 10), lit(9L)).cast("long").as("_b"),
          col("p_clean").cast("decimal(20,6)").as("_p"),
          col("is_clean").cast("long").as("_y"))
        .groupBy(col("_b"))
        .agg(count(lit(1)).as("_n"), sum(col("_p")).as("_sp"),
          sum(col("_y")).as("_np"))
      cells
        .agg(sort_array(collect_list(struct(col("_b"), col("_n"),
            col("_sp"), col("_np")))).as("_l"),
          sum(col("_n")).as("n"))
        .select(col("n"), size(col("_l")).cast("long").as("n_bins"),
          round(aggregate(col("_l"), lit(0.0), (acc, x) => {
            val nb = x.getField("_n").cast("double")
            val acc0 = x.getField("_np").cast("double") / nb
            val conf = x.getField("_sp").cast("double") / nb
            acc + nb / col("n").cast("double") * abs(acc0 - conf)
          }), 6).as("ece"))
    }),
    "classifier_calibration" -> ((s, dir) =>
      qcScored(s, dir)
        .select(least(floor(col("p_clean") * 10), lit(9L)).cast("long").as("bin"),
          col("p_clean").cast("decimal(20,6)").as("_p"),
          col("is_clean").cast("long").as("_pos"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("_p")).cast("double").as("_sp"),
          sum(col("_pos")).as("_np"))
        .select(col("bin"), col("n"),
          round(col("_sp") / col("n").cast("double"), 6).as("avg_p"),
          round(col("_np").cast("double") / col("n").cast("double"), 6).as("obs_rate"))
        .orderBy("bin")),
    // EXT Theil-Sen robust trend (Stats.theilSen): median pairwise
    // slope of the daily event-count series — outlier-resistant OLS
    // complement; the pair stage rides the |days|² grid behind a
    // broadcast, each slope one exact-integer division, median by
    // exact rank arithmetic under a total order
    "theil_sen_daily" -> ((s, dir) =>
      Stats.theilSen(
        t(s, dir, "events")
          .groupBy(datediff(col("ts").cast("date"),
            to_date(lit("1970-01-01"))).as("d"))
          .agg(count(lit(1)).as("x")),
        "d", "x")),
    // EXT grid quantile regression (Stats.quantileRegressionGrid,
    // Koenker-Bassett pinball loss): τ∈{0.5,0.9} trend lines of the
    // daily event-count series over a data-derived intercept×slope
    // grid — candidate losses are exact DECIMAL sums of quantized
    // pinball terms, argmin under a total (loss, j, k) order
    "quantile_regression_daily" -> ((s, dir) =>
      Stats.quantileRegressionGrid(
        t(s, dir, "events")
          .groupBy(datediff(col("ts").cast("date"),
            to_date(lit("1970-01-01"))).as("d"))
          .agg(count(lit(1)).as("x")),
        "d", "x")),
    // EXT RAKE keyword extraction (Corpus.rakeKeywords, Rose 2010):
    // corpus-level candidate phrases split on stopwords+punctuation,
    // word deg/freq scores round(9)-quantized to exact DECIMAL so the
    // per-phrase sums are order-free, top-20 under a total order
    "rake_keywords" -> ((s, dir) =>
      Corpus.rakeKeywords(t(s, dir, "documents"), "text",
        TextFunctions.EnStops, maxPhraseWords = 4, k = 20)),
    // EXT offline IR evaluation (Retrieval.bm25PerQuery +
    // Retrieval.rankingEval): 3 literal query bags ranked in ONE corpus
    // pass (batch BM25 — shared tf/df, per-query window top-10), judged
    // against graded qrels (rel = #distinct query terms present in the
    // doc), reporting nDCG@10 / MRR@10 / recall@10 per query. DCG uses
    // the 12-decimal LITERAL discount table on both engines — exact
    // decimal sums, divisions only at the round(6) readout
    "retrieval_eval" -> ((s, dir) => {
      import s.implicits._
      val queries = RetrievalEvalQueries
        .flatMap { case (q, ts) => ts.map(t0 => (q, t0)) }
        .toDF("query_id", "term")
      val docs = t(s, dir, "documents")
      val run = Retrieval.bm25PerQuery(docs, "doc_id", "text", queries, k = 10)
      val qrels = docs
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .distinct()
        .join(queries, Seq("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
      Retrieval.rankingEval(run, qrels, "doc_id", k = 10)
        .orderBy("query_id")
    }),
    // EXT inter-rater agreement (Stats.cohenKappa): chance-corrected
    // agreement between a length rater (n_chars >= 300) and a lexical-
    // diversity rater (2·|distinct tokens| >= |tokens| — an INTEGER
    // comparison, no float ratio) — the labeling-QA metric for
    // heuristic-vs-heuristic audit before spending model labels
    "cohen_kappa_docs" -> ((s, dir) =>
      Stats.cohenKappa(
        t(s, dir, "documents")
          .select(col("n_chars"), split(trim(col("text")), "\\s+").as("_w"))
          .select((col("n_chars") >= 300).as("_a"),
            (size(array_distinct(col("_w"))) * 2 >= size(col("_w"))).as("_b")),
        col("_a"), col("_b"))),
    // EXT 2-D skyline / Pareto frontier (Relational.skyline2d): parts
    // not dominated under (min retailprice, max size) — the
    // "best-tradeoff shortlist" OLAP shape. Grid-agg + ONE bounded
    // window over distinct prices, never the O(n²) dominance join; the
    // spec proves equivalence to the brute-force definition
    "pareto_parts" -> ((s, dir) =>
      Relational.skyline2d(
        t(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
        "p_retailprice", "p_size")
        .orderBy("p_partkey")),
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
    "rake_weights" -> ((s, dir) =>
      Stats.rakeWeights(t(s, dir, "events"), col("event_type"),
        pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))),
          lit(7)),
        col("value") > 100)),
    // EXT empirical-Bayes rate shrinkage (Stats.ebShrinkRates;
    // beta-binomial method of moments): per-user-bucket conversion
    // rates shrunk toward the cross-bucket mean with strength kappa
    // from the noise-vs-signal variance split
    "eb_shrink_rates" -> ((s, dir) =>
      Stats.ebShrinkRates(t(s, dir, "events"),
        col("user_id") % 97, col("value") > 100)),
    "target_encode_segment" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100)).as("_cents"))
      val y = t(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_mktsegment"), coalesce(col("_cents"), lit(0L)).as("_y"))
      Stats.targetEncode(y, "c_mktsegment", col("_y"), m = 50.0)
        .orderBy("c_mktsegment")
    }),
    // EXT local clustering coefficient (Graph.clusteringCoefficient,
    // Watts-Strogatz '98) over the near-dup pair graph: lcc=1 marks a
    // doc inside a duplicate CLIQUE, lcc~0 a chain of borderline
    // matches — the per-node transitivity readout next to
    // dup_triangles' raw counts; T and d from the SAME capped edge set
    "dup_clustering_coef" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.clusteringCoefficient(pairs, "id_a", "id_b")
        .orderBy("node")
    }),
    // EXT winsorized mean (Stats.winsorizedMean): per-status order
    // value with p5/p95 tails CLAMPED, not dropped — the robust
    // location estimate for spend dashboards; exact percentile_disc
    // rank picks on floored cents, BIGINT clamped sum, one division
    "winsorized_mean_status" -> ((s, dir) =>
      Stats.winsorizedMean(
        t(s, dir, "orders").select(col("o_orderstatus"),
          floor(col("o_totalprice") * 100).as("_cents")),
        "o_orderstatus", col("_cents"))
        .orderBy("o_orderstatus")),
    // EXT Holt double exponential smoothing (Events.holtDaily): level +
    // TREND per type/day with a one-step forecast — ewma's recursion
    // with a second carried state; α'/β' as separate literals, oracle =
    // recursive CTE replaying the exact float sequence
    "holt_daily_counts" -> ((s, dir) =>
      Events.holtDaily(t(s, dir, "events"), "event_type", "ts")
        .orderBy("event_type", "day")),
    // EXT frequent consecutive length-3 sequences (Events.
    // tripleSequences): the sequential-pattern readout the bigram
    // Markov matrix can't see (view->click->purchase vs view->click->
    // error differ only at depth 3); one user-key shuffle, |types|³-
    // bounded pattern space, TakeOrdered top-20
    "seq_triples_events" -> ((s, dir) =>
      Events.tripleSequences(t(s, dir, "events"), "user_id", "event_type",
        "ts", "event_id", k = 20)),
    // EXT Simpson diversity (Stats.simpsonDiversity, unbiased form):
    // per-source language diversity — the mixture-balance audit next
    // to hapax's vocabulary signal; exact n_i(n_i−1) moments, one
    // division
    "simpson_diversity_sources" -> ((s, dir) =>
      Stats.simpsonDiversity(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")),
    // EXT fixed-sweep k-core peeling (Graph.kCore, Seidman '83) over
    // the near-dup pair graph: the 2-core keeps docs whose duplication
    // is corroborated by >= 2 neighbors after 4 peel rounds — isolated
    // pairs and chain ends (single borderline matches) fall away;
    // oracle = the 4 sweeps unrolled as chained CTEs
    "kcore_dup_graph" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.kCore(pairs, "id_a", "id_b", k = 2, sweeps = 4)
        .orderBy("node")
    }),
    // EXT TextRank keywords (Corpus.textRankKeywords, Mihalcea-Tarau
    // '04): PageRank over the window-2 word co-occurrence graph — the
    // graph-centrality complement of RAKE's frequency scores; the
    // sweeps shuffle on the VOCABULARY-bounded word key
    "textrank_keywords" -> ((s, dir) =>
      Corpus.textRankKeywords(t(s, dir, "documents"), "text",
        TextFunctions.EnStops, iterations = 3, k = 20)),
    // EXT native session windows (Spark's session_window gap-merge):
    // per-user 30-min-gap sessions as ONE stateless aggregate — the
    // Spark-first statement of what sessionizeBatch derives with
    // lag+cumsum (which the oracle replays; new session iff
    // gap >= 30 min, matching the half-open [start, last+gap) merge)
    "session_window_stats" -> ((s, dir) => {
      val us = unix_micros(col("_ts"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("timestamp").as("_ts"))
        .groupBy(col("user_id"), session_window(col("_ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(us).as("session_start_us"), max(us).as("_end"))
        .select(col("user_id"), col("session_start_us"), col("n_events"),
          (col("_end") - col("session_start_us")).as("span_micros"))
        .orderBy("user_id", "session_start_us")
    }),
    // EXT rolling correlation (Events.rollingCorrDaily): 7-day trailing
    // Pearson r between click and error DAILY counts — six exact BIGINT
    // window moments over one shared RANGE frame on the day grid, one
    // fixed-order float readout
    "rolling_corr_7d" -> ((s, dir) =>
      Events.rollingCorrDaily(t(s, dir, "events"), "event_type", "ts",
        "click", "error")
        .orderBy("day")),
    // EXT per-source language-mix divergence (Stats.chi2Divergence):
    // goodness-of-fit χ² of each source's lang distribution against the
    // corpus marginal via the observed-cells identity — the
    // "which sources drifted" data-quality screen; category-sorted
    // float fold, everything else exact integers
    "lang_chi2_sources" -> ((s, dir) =>
      Stats.chi2Divergence(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")),
    // EXT position-based multi-touch attribution (Events.
    // positionAttribution, U-shaped 40/20/40): credit over the touches
    // before each user's FIRST purchase — the fractional-credit
    // complement of attribution_join's last-interval match; round(9)
    // decimal credits so per-type sums are order-free
    "attribution_position" -> ((s, dir) =>
      Events.positionAttribution(t(s, dir, "events"), "user_id",
        "event_type", "ts", "event_id", "purchase",
        Seq("view", "click", "signup", "error"))
        .orderBy("event_type")),
    // EXT PSI drift monitor (Stats.psi): events.value distribution,
    // first half of January (ref) vs second half (cur), fixed literal
    // bin edges shared with the oracle via PsiEdges — the scorecard
    // population-shift audit next to embedding_drift's vector monitor
    "psi_value_drift" -> ((s, dir) =>
      Stats.psi(t(s, dir, "events"), col("value"),
          col("ts").cast("date") <= lit("2024-01-15").cast("date"), PsiEdges)
        .orderBy("bin")),
    // EXT cumulative gain/lift deciles (Stats.liftGain) of the learned
    // quality classifier on its injected eval labels — the targeting
    // readout next to classifier_auc; NTILE(10) under the (score desc,
    // label desc) cell order — rows within a cell are interchangeable
    "lift_gain_deciles" -> ((s, dir) => {
      val sc = qcScored(s, dir)
      Stats.liftGain(sc, col("p_clean"), col("is_clean"))
        .orderBy("decile")
    }),
    // EXT conditional next-step entropy (Events.transitionEntropy):
    // journey predictability per source state — shares the transition
    // matrix's total-ordered lead lineage, |types|²-bounded fold
    "cond_entropy_transitions" -> ((s, dir) =>
      Events.transitionEntropy(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id")
        .orderBy("from_type")),
    // EXT forecast backtest (Events.forecastEval): naive vs
    // seasonal-naive(7) MAE/MASE/sMAPE on the per-type daily counts —
    // the "is weekly seasonality worth modeling" gate for holt/HW
    "forecast_eval_mase" -> ((s, dir) =>
      Events.forecastEval(t(s, dir, "events"), "event_type", "ts", season = 7)
        .orderBy("event_type")),
    // EXT item-item cosine recommender (Assoc.itemSimilarity, Sarwar
    // '01): "also bought" top-5 neighbors per part from order baskets —
    // the normalized complement of assoc_rules' confidence/lift; ranked
    // on the round(6) cosine grid, co-partitioned pair stage behind the
    // maxBasket guard
    "item_similarity_parts" -> ((s, dir) =>
      Assoc.itemSimilarity(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          k = 5, minPairCount = 2L, maxBasket = 256)
        .orderBy("item", "rank")),
    // EXT multi-source BFS distance labeling (Graph.bfsHops) over the
    // near-dup pair graph: exact hop distance from the %50 seed docs
    // within 3 sweeps — the contamination blast-radius readout; oracle
    // = the sweeps unrolled as min-relaxation CTEs
    "bfs_hops_dup_graph" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.bfsHops(pairs, "id_a", "id_b", col("node") % 50 === 0, sweeps = 3)
        .orderBy("node")
    }),
    // EXT order-priority mix drift by year (Stats.chi2Divergence
    // reused): which years' priority mix diverges from the overall
    // marginal — lang_chi2's shape pointed at the OLAP schema; the
    // process-change detector for an order pipeline
    "priority_chi2_years" -> ((s, dir) =>
      Stats.chi2Divergence(
          t(s, dir, "orders").select(year(col("o_orderdate")).as("yr"),
            col("o_orderpriority")),
          "yr", "o_orderpriority")
        .orderBy("yr")),
    // EXT year-over-year revenue growth (the time-intelligence OLAP
    // readout next to cube/rollup's dimensional one): monthly revenue
    // with the same-month-last-year comparison — the lag rides the
    // (month)-partitioned year order, exact DECIMAL revenue, one
    // division at the readout
    "yoy_revenue_growth" -> ((s, dir) => {
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
    }),
    // EXT leakage-safe churn-label generation: features from days
    // 1-14, label = any activity in days 15-30 — the temporal
    // label-generation shape every supervised pipeline needs, with the
    // cut enforced by ONE literal date on both engines
    "churn_labels" -> ((s, dir) => {
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
    }),
    // EXT stratified log-rank (Events.logRankStratified,
    // Mantel-Haenszel): the arm comparison within customer segments,
    // O/E/V summed across strata — valid under per-segment baseline
    // hazards that would confound the pooled test; every window
    // carries the stratum key (no global window)
    "log_rank_stratified" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .join(t(s, dir, "customer").select(col("c_custkey"),
          col("c_mktsegment")), col("user_id") === col("c_custkey"))
      Events.logRankStratified(ev, "user_id", "ts",
        col("event_type") === "purchase", pmod(col("user_id"), lit(2)) === 0,
        col("c_mktsegment"))
    }),
    // EXT IVF recall evaluation: the md5-centroid IVF (nprobe=2/8)
    // judged against brute cosine — ann_recall_eval's pattern on the
    // clustered index; together they give the LSH-vs-IVF quality/cost
    // comparison an index choice needs
    // EXT PQ recall eval: ADC top-10 under the frozen PqCodebook vs
    // exact brute-force top-10 — quantifies what the 64x compression
    // costs in recall, the third member of the recall-eval family
    // (LSH, IVF, PQ) a production index choice reads side by side
    "ann_recall_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val pq = Ann.pqAdcTopK(emb, q, "vec_id", "embedding", PqCodebook.arr, 10)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
      brute.join(pq, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
        .orderBy("query_id")
    }),
    "ann_recall_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val ivf = Ann.ivfTopK(emb, q, "vec_id", "embedding", 10,
          nCentroids = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
      brute.join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
        .orderBy("query_id")
    }),
    // EXT Croston intermittent demand (Events.crostonDaily, Croston
    // '72): the sparse-series forecaster — separate size/interval
    // smoothers over high-value signup days, zero days carried as
    // exact integer gaps; completes the EWMA/Holt/HW/seasonal family
    "croston_sparse_demand" -> ((s, dir) =>
      Events.crostonDaily(t(s, dir, "events"),
          "ts", col("event_type") === "signup" && col("value") > 200.0)
        .orderBy("day")),
    // EXT Wilson score intervals (Wilson '27): per-type conversion
    // rate (value > 100) with the CI that stays inside [0,1] at small
    // n — the right interval for rate dashboards, vs the Wald CI every
    // naive dashboard ships; exact counts, fixed-order float algebra
    "wilson_ci_types" -> ((s, dir) => {
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
    }),
    // EXT pairwise source JSD matrix: corpus mixture geometry — which
    // sources' byte distributions are interchangeable and which are a
    // different population; join-free pair explosion over the 1-row
    // collected histogram list (never a theta self-join)
    "source_jsd_matrix" -> ((s, dir) => {
      val histAgg = udaf(new ByteFunctions.ByteHistogramAgg,
        org.apache.spark.sql.Encoders.BINARY)
      val hists = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(histAgg(col("text").cast("binary")).as("h"))
      val one = hists
        .agg(sort_array(collect_list(struct(col("source"), col("h")))).as("_l"))
      one.select(explode(flatten(transform(col("_l"), a =>
          filter(transform(col("_l"), b =>
            struct(a.getField("source").as("sa"), b.getField("source").as("sb"),
              a.getField("h").as("ha"), b.getField("h").as("hb"))),
            pr => pr.getField("sa") < pr.getField("sb"))))).as("_p"))
        .select(col("_p.sa").as("source_a"), col("_p.sb").as("source_b"),
          round(ByteFunctions.js_divergence(col("_p.ha"), col("_p.hb")), 6)
            .as("jsd"))
        .orderBy("source_a", "source_b")
    }),
    // EXT dedup ROI report: cluster-size histogram over the exact-dup
    // groups with the chars a keep-one policy saves — the "was the
    // dedup pass worth it" readout every pipeline run logs
    "dedup_savings" -> ((s, dir) => {
      val g = injectedDocs(s, dir).groupBy(col("text"))
        .agg(count(lit(1)).as("_s"))
        .select(col("_s"), length(col("text")).cast("long").as("_len"))
      g.groupBy(col("_s").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("_s") - 1L).as("n_dup_docs"),
          sum((col("_s") - 1L) * col("_len")).as("chars_saved"))
        .orderBy("cluster_size")
    }),
    // EXT RFM segmentation (the classic CRM cut): per-customer
    // recency/frequency/monetary scored on literal edges (branch-free
    // comparison sums — never a data-sized NTILE), segment cells with
    // counts and average spend
    "rfm_segments" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val per = o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("_last"),
          count(lit(1)).as("_f"),
          sum(col("o_totalprice").cast("decimal(30,2)")).as("_m"))
      val mx = o.agg(max(col("o_orderdate").cast("date")).as("_mx"))
      def bucket(c: Column, edges: Seq[Long]) =
        edges.map(e => when(c >= lit(e), 1L).otherwise(0L)).reduce(_ + _)
      per.crossJoin(broadcast(mx))
        .select(
          bucket(datediff(col("_mx"), col("_last")).cast("long"), RfmREdges)
            .as("r_bucket"),
          bucket(col("_f"), RfmFEdges).as("f_bucket"),
          bucket(col("_m"), RfmMEdges).as("m_bucket"), col("_m"))
        .groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("_m")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_monetary"))
        .orderBy("r_bucket", "f_bucket", "m_bucket")
    }),
    // EXT classical additive decomposition (Events.
    // classicalDecomposition): centered MA-7 trend + epoch-day-position
    // seasonal index + residual on the daily counts — the pre-STL
    // textbook method; edges null like statsmodels
    "classical_decomposition" -> ((s, dir) =>
      Events.classicalDecomposition(t(s, dir, "events"), "event_type", "ts",
          m = 7)
        .orderBy("event_type", "day")),
    // EXT weighted blast radius (Graph.bellmanFordHops): Bellman-Ford
    // over the near-dup graph with dissimilarity weights 1 − jaccard —
    // bfs_hops' metric sibling (a 0.99 edge and a 0.70 edge stop being
    // interchangeable); 3 relaxation sweeps, oracle = unrolled min CTEs
    "bellman_ford_dup" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(injectedDocs(s, dir), "doc_id",
        "text", 3, 0.9, maxShingleDf = Some(128))
      Graph.bellmanFordHops(pairs, "id_a", "id_b",
          lit(1.0) - col("jaccard"), col("node") % 50 === 0, sweeps = 3)
        .orderBy("node")
    }),
    // EXT l-diversity audit: within (nation, segment) QI groups, how
    // diverse is the sensitive balance bucket — k-anonymity's
    // companion (a k-anonymous group with ONE sensitive value still
    // leaks it)
    "l_diversity_audit" -> ((s, dir) => {
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
    }),
    // EXT ANN recall evaluation: LSH top-10 judged against the brute
    // cosine ground truth per query — the quality gate that decides
    // whether an index's recall/cost point is shippable; recall =
    // |LSH ∩ brute| / k_actual, all exact counts
    "ann_recall_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val brute = Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"))
      val lsh = Ann.lshTopK(emb, q, "vec_id", "embedding", 10,
          planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)))
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("_hit"))
      brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
        .select(col("query_id"), col("k"), col("n_hits"),
          round(col("n_hits").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
        .orderBy("query_id")
    }),
    // EXT cohort LTV curves: cumulative purchase revenue per first-
    // event week cohort by week offset, normalized per user — the
    // retention table's revenue-weighted sibling; integer epoch-week
    // arithmetic (never engine week-start), exact DECIMAL revenue
    "cohort_ltv" -> ((s, dir) => {
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
    }),
    // EXT daily latency percentiles: exact P50/P95/P99 of value per
    // day via percentile_disc rank arithmetic (integer ceil picks, the
    // mad_outliers discipline) — the ops-dashboard trend line
    "latency_daily_p95" -> ((s, dir) => {
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
    }),
    // EXT two-group log-rank test (Events.logRankTest, Mantel '66):
    // even vs odd users' time-to-first-purchase curves — the
    // significance companion to kaplan_meier; exact risk sets from a
    // grid-window prefix sum, t-ordered E/V folds
    "log_rank_purchase" -> ((s, dir) =>
      Events.logRankTest(t(s, dir, "events"), "user_id", "ts",
        col("event_type") === "purchase", pmod(col("user_id"), lit(2)) === 0)),
    // EXT k-anonymity audit: quasi-identifier (nation, segment,
    // balance-bucket) group sizes over customer — the privacy screen a
    // training-data release runs before shipping structured records
    // EXT Fisher's exact test (Stats.fisherExactGreater): does the
    // md5-split arm see MORE error-affected users than chance — the
    // exact 2x2 answer where chi2/z are approximations. One aggregate;
    // the hypergeometric tail folds on the 1-row frame
    "fisher_exact" -> ((s, dir) => {
      val perUser = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("_y"))
      val arm = graft.functions.TextFunctions.md5Bits64(
        concat(lit("fx:"), col("user_id").cast("string")))
        .bitwiseAND(lit(1L))
      Stats.fisherExactGreater(
        perUser.select(arm.as("_arm"), (col("_y") === 1L).as("_out")),
        col("_arm"), col("_out"))
    }),
    // EXT Benjamini-Hochberg FDR over one-vs-rest Welch z tests
    // (Stats.bhFdrWelch): which event types' value distributions
    // actually differ from the rest once m tests are corrected — the
    // multiple-comparisons guardrail next to the single-pair ab_test.
    // Normal CDF via the Abramowitz-Stegun polynomial (identical
    // Horner float path both engines)
    "bh_fdr_welch" -> ((s, dir) =>
      Stats.bhFdrWelch(t(s, dir, "events"), "event_type", col("value"))
        .orderBy("rank")),
    // EXT t-closeness audit (Stats.tCloseness) — the distributional
    // privacy member next to k-anonymity/l-diversity: worst QI groups
    // by EMD between group and global ordered spend-band distribution.
    // The sensitive band = integer digit count of the order total
    // (string length of the floored BIGINT — exact on both engines,
    // no libm log10 at power-of-ten boundaries)
    "t_closeness_audit" -> ((s, dir) =>
      Stats.tCloseness(
        t(s, dir, "orders").select(
          year(col("o_orderdate")).as("yr"),
          col("o_orderpriority").as("prio"),
          length(floor(col("o_totalprice")).cast("long").cast("string"))
            .as("band")),
        Seq("yr", "prio"), "band", topK = 10)),
    "k_anonymity_audit" -> ((s, dir) => {
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
    }),
    // EXT per-segment Welch uplift (Stats.welchUplift): heterogeneous
    // treatment effect of the md5-assigned arm on purchase VALUE by
    // customer segment — the segment-drilldown next to ab_test_value's
    // global proportion z
    "uplift_by_segment" -> ((s, dir) => {
      val arm = TextFunctions.md5Bits64(
        concat(lit("up:"), col("user_id").cast("string")))
        .bitwiseAND(lit(1L))
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), col("value"))
        .join(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"))
      Stats.welchUplift(ev, "c_mktsegment", arm, col("value"))
        .orderBy("c_mktsegment")
    }),
    // EXT language-ID confusion metrics: the heuristic langId evaluated
    // against the corpus's true lang — per-class tp / precision /
    // recall / F1 from exact counts (F1 = 2tp/(n_true+n_pred), a single
    // division); the eval loop every classifier in the suite gets
    "lang_confusion" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("lang"), TextFunctions.langId(col("text")).as("pred"))
      val rows = scored.groupBy("lang").agg(count(lit(1)).as("n_true"),
        sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("tp"))
      val cols = scored.groupBy(col("pred")).agg(count(lit(1)).as("_np"))
      rows.join(cols, col("lang") === col("pred"), "left")
        .select(col("lang"), col("n_true"),
          coalesce(col("_np"), lit(0L)).as("n_pred"), col("tp"),
          when(coalesce(col("_np"), lit(0L)) > 0L,
            round(col("tp").cast("double") / col("_np").cast("double"), 6))
            .as("precision"),
          round(col("tp").cast("double") / col("n_true").cast("double"), 6)
            .as("recall"),
          round(lit(2.0) * col("tp").cast("double") /
            (col("n_true") + coalesce(col("_np"), lit(0L))).cast("double"), 6)
            .as("f1"))
        .orderBy("lang")
    }),
    // EXT FS match-score separation: the learned weights applied back
    // to the blocked pairs — score = Σ_f (agree ? w_a : w_d); with two
    // binary fields the score domain has 4 points, so the histogram IS
    // the separability readout (matches pile at the top score)
    "fs_score_separation" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("akey"),
        col("c_nationkey").as("anation"), col("c_mktsegment").as("aseg"),
        floor(col("c_acctbal") / 1000.0).as("abal"))
      val b = t(s, dir, "customer").select(
        (col("c_custkey") + 1000000L).as("bkey"),
        when(col("c_custkey") % 5 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")).as("bnation"),
        when(col("c_custkey") % 3 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("bseg"),
        when(col("c_custkey") % 7 === 0, floor(col("c_acctbal") / 1000.0) + 1)
          .otherwise(floor(col("c_acctbal") / 1000.0)).as("bbal"))
      // r14 (§2/§3, the fellegi_sunter_weights rewrite): the 8-cell
      // (agseg, agbal, ismatch) histogram is derived from per-block
      // attribute-CELL marginal products plus the linear 1:1 match
      // join — the 9M-row blocked pair frame never materializes.
      // all-pair cells are Σ over nation-blocked cell pairs of ca·cb;
      // match cells come from the key join filtered to the block;
      // nonmatch = all − match, with 0-count rows filtered so the cell
      // set is exactly the groupBy-over-pairs one. Identical counts by
      // algebra; downstream scoring unchanged. Oracle-verified 3 SFs.
      val cellsA = a.groupBy("anation", "aseg", "abal")
        .agg(count(lit(1)).as("_ca"))
      val cellsB = b.groupBy("bnation", "bseg", "bbal")
        .agg(count(lit(1)).as("_cb"))
      val allCells = cellsA
        .join(cellsB, col("anation") === col("bnation"))
        .groupBy((col("aseg") === col("bseg")).as("agseg"),
          (col("abal") === col("bbal")).as("agbal"))
        .agg(sum(col("_ca") * col("_cb")).as("_tot"))
      val matchCells = a
        .join(b, col("bkey") === col("akey") + 1000000L &&
          col("anation") === col("bnation"))
        .groupBy((col("aseg") === col("bseg")).as("agseg"),
          (col("abal") === col("bbal")).as("agbal"))
        .agg(count(lit(1)).as("_nmc"))
      val cells = matchCells
        .select(col("agseg"), col("agbal"), lit(true).as("ismatch"),
          col("_nmc").as("_n"))
        .unionByName(allCells
          .join(matchCells, Seq("agseg", "agbal"), "left")
          .select(col("agseg"), col("agbal"), lit(false).as("ismatch"),
            (col("_tot") - coalesce(col("_nmc"), lit(0L))).as("_n"))
          .filter(col("_n") > 0L))
      def csum(p: Column) = sum(when(p, col("_n")).otherwise(0L))
      val w = cells.agg(
        csum(col("ismatch")).as("_nm"), csum(!col("ismatch")).as("_nu"),
        csum(col("ismatch") && col("agseg")).as("_mas"),
        csum(!col("ismatch") && col("agseg")).as("_uas"),
        csum(col("ismatch") && col("agbal")).as("_mab"),
        csum(!col("ismatch") && col("agbal")).as("_uab"))
      def fw(ma: String, ua: String, agree: Column) = {
        val m = col(ma).cast("double") / col("_nm").cast("double")
        val u = col(ua).cast("double") / col("_nu").cast("double")
        when(agree,
          when(col(ma) > 0L && col(ua) > 0L, log2(m / u)).otherwise(0.0))
          .otherwise(
            when(col("_nm") > col(ma) && col("_nu") > col(ua),
              log2((lit(1.0) - m) / (lit(1.0) - u))).otherwise(0.0))
      }
      cells.crossJoin(broadcast(w))
        .select(col("ismatch"),
          round(fw("_mas", "_uas", col("agseg")) +
            fw("_mab", "_uab", col("agbal")), 6).as("score"), col("_n"))
        .groupBy("score", "ismatch").agg(sum(col("_n")).as("n"))
        .orderBy(col("score").desc, col("ismatch"))
    }),
    // EXT Brier score (proper scoring rule) of the quality classifier:
    // exact DECIMAL(9,6) probability grid -> exact squared-error sums
    // (order-free), one division at the readout — the calibration
    // COMPLEMENT of the reliability table (penalizes confident misses)
    "classifier_brier" -> ((s, dir) => {
      val d = col("p_clean").cast("decimal(9,6)") -
        col("is_clean").cast("int").cast("decimal(9,6)")
      qcScored(s, dir)
        .select((d * d).as("_sq"))
        .agg(count(lit(1)).as("n"), sum(col("_sq")).as("_ss"))
        .select(col("n"),
          round(col("_ss").cast("double") / col("n").cast("double"), 6)
            .as("brier"))
    }),
    // EXT Fellegi-Sunter linkage weights (Dedup.fellegiSunterWeights):
    // m/u probabilities and log2 Bayes-factor weights learned from
    // labeled blocked pairs — customers vs a deterministically
    // perturbed re-registration copy, blocked on nationkey (the %5
    // nation perturbation makes real matches MISS the block, the
    // honest ER failure mode)
    "fellegi_sunter_weights" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("akey"),
        col("c_nationkey").as("anation"), col("c_mktsegment").as("aseg"),
        floor(col("c_acctbal") / 1000.0).as("abal"))
      val b = t(s, dir, "customer").select(
        (col("c_custkey") + 1000000L).as("bkey"),
        when(col("c_custkey") % 5 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")).as("bnation"),
        when(col("c_custkey") % 3 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("bseg"),
        when(col("c_custkey") % 7 === 0, floor(col("c_acctbal") / 1000.0) + 1)
          .otherwise(floor(col("c_acctbal") / 1000.0)).as("bbal"))
      // r14 (§2/§3): the FS counts are pure functions of per-block
      // attribute-CELL marginals plus the linear labeled-match join —
      // the blocked pair frame (9M rows at sf0.1; quadratic in block
      // size at scale) never materializes. Total/agreement pair counts
      // are Σ over nation-blocked cell pairs of ca·cb (bounded by
      // attribute cardinality², not customers²); match counts come from
      // the 1:1 key join filtered to the block. Counts are identical by
      // algebra; the weight tail is the operator's own code
      // (fellegiSunterWeightsFromCounts), so every guard and rounding
      // is shared. Oracle-verified at 3 SFs.
      val cellsA = a.groupBy("anation", "aseg", "abal")
        .agg(count(lit(1)).as("_ca"))
      val cellsB = b.groupBy("bnation", "bseg", "bbal")
        .agg(count(lit(1)).as("_cb"))
      val cellTotals = cellsA
        .join(cellsB, col("anation") === col("bnation"))
        .select((col("_ca") * col("_cb")).as("_np"),
          (col("aseg") === col("bseg")).as("_ags"),
          (col("abal") === col("bbal")).as("_agb"))
        .agg(sum(col("_np")).as("_tot"),
          sum(when(col("_ags"), col("_np")).otherwise(0L)).as("_ags_tot"),
          sum(when(col("_agb"), col("_np")).otherwise(0L)).as("_agb_tot"))
      val matchAgg = a
        .join(b, col("bkey") === col("akey") + 1000000L &&
          col("anation") === col("bnation"))
        .agg(count(lit(1)).as("_nm"),
          sum(when(col("aseg") === col("bseg"), 1L).otherwise(0L))
            .as("_ma_mktsegment"),
          sum(when(col("abal") === col("bbal"), 1L).otherwise(0L))
            .as("_ma_bal_bucket"))
      val one = matchAgg.crossJoin(broadcast(cellTotals))
        .select(col("_nm"), (col("_tot") - col("_nm")).as("_nu"),
          col("_ma_mktsegment"),
          (col("_ags_tot") - col("_ma_mktsegment")).as("_ua_mktsegment"),
          col("_ma_bal_bucket"),
          (col("_agb_tot") - col("_ma_bal_bucket")).as("_ua_bal_bucket"))
      Dedup.fellegiSunterWeightsFromCounts(one, Seq("mktsegment", "bal_bucket"))
        .orderBy("field")
    }),
    // EXT difference-in-differences (Events.diffInDiff): the error
    // series' post-Jan-16 shift net of whatever moved the click
    // control — the causal quantification next to cusum's detection
    "diff_in_diff_daily" -> ((s, dir) =>
      Events.diffInDiff(t(s, dir, "events"), "event_type", "ts",
        treated = "error", control = "click", cutover = "2024-01-16")),
    // EXT deterministic Poisson bootstrap CI (Stats.poissonBootstrapCI,
    // Chamandy '12): 95% CI of the mean daily count per event type —
    // md5-derived Poisson(1) weights over the day grid, 200 replicates,
    // integer ceil-rank percentile picks
    "bootstrap_ci_daily" -> ((s, dir) =>
      Stats.poissonBootstrapCI(
          t(s, dir, "events")
            .groupBy(col("event_type"), col("ts").cast("date").as("day"))
            .agg(count(lit(1)).as("cnt")),
          "event_type", "day", col("cnt"), reps = 200, confPct = 95)
        .orderBy("event_type")),
    // EXT exact Shapley attribution (Events.shapleyAttribution): the
    // axiomatically fair credit division position rules approximate —
    // the 2^4-subset coalition game over pre-conversion channel sets,
    // integer factorial weights, ONE division at the readout; the
    // efficiency axiom is spec-asserted
    "shapley_attribution" -> ((s, dir) =>
      Events.shapleyAttribution(t(s, dir, "events"), "user_id", "event_type",
          "ts", "purchase", Seq("view", "click", "signup", "error"))
        .orderBy("channel")),
    // EXT Markov removal-effect attribution (Events.
    // markovRemovalAttribution, Anderl '14): journeys as an absorbing
    // chain, credit = conversion probability lost when the channel is
    // deleted. The driver-side solve is Cramer over FIXED-ORDER Leibniz
    // determinants (MarkovSolve), so the oracle generated from the SAME
    // permutation enumeration replays it bit-for-bit — a learned linear
    // solve that still hash-checks.
    "markov_removal" -> ((s, dir) =>
      Events.markovRemovalAttribution(t(s, dir, "events"), "user_id",
          "event_type", "ts", "event_id", "purchase",
          Seq("view", "click", "signup", "error"))
        .orderBy("channel")),
    // EXT contrastive triplet generation (Corpus.contrastiveTriplets):
    // exact-dup groups become (anchor, positive) pairs; negatives are
    // md5-drawn from a broadcast 64-doc pool, re-ranked per anchor —
    // the reproducible training-set step after dedup
    "contrastive_triplets" -> ((s, dir) => {
      val pairs = injectedDocs(s, dir).groupBy(col("text"))
        .agg(min(col("doc_id")).as("anchor_id"),
          max(col("doc_id")).as("positive_id"), count(lit(1)).as("_n"))
        .filter(col("_n") >= 2)
        .select("anchor_id", "positive_id")
      Corpus.contrastiveTriplets(pairs, "anchor_id", "positive_id",
          t(s, dir, "documents"), "doc_id", poolSize = 64, negK = 2)
        .orderBy("anchor_id", "neg_rank")
    }),
    // EXT additive Holt-Winters (Events.holtWintersDaily, Winters '60):
    // level+trend+7 weekly seasonals over the daily counts — the
    // seasonal member of the EWMA -> Holt -> HW forecasting family;
    // honest one-step-ahead `fitted`, oracle = recursive CTE carrying
    // the rotating seasonal list
    "holt_winters_daily" -> ((s, dir) =>
      Events.holtWintersDaily(t(s, dir, "events"), "event_type", "ts", m = 7)
        .orderBy("event_type", "day")),
    // EXT feature ranking by mutual information (Stats.
    // contingencyAnalysis reused per feature): which metadata predicts
    // `lang` — source (real signal) vs a length bucket (weak) vs a
    // doc_id shard (noise floor); the feature-selection readout
    "feature_mi_rank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def mi(tag: String, feat: Column) =
        Stats.contingencyAnalysis(docs.select(feat.as("f"), col("lang")),
            "f", "lang")
          .select(lit(tag).as("feature"), col("n"), col("dof"), col("mi"),
            col("nmi"), col("chi2"), col("cramers_v"))
      val lenBucket = FeatureMiLenEdges
        .map(e => when(col("n_chars") >= e, 1L).otherwise(0L)).reduce(_ + _)
      mi("len_bucket", lenBucket)
        .unionByName(mi("shard10", col("doc_id") % 10))
        .unionByName(mi("source", col("source")))
        .orderBy("feature")
    }),
    // EXT reciprocal best match (mutual nearest neighbors) over the
    // item-item cosine table: pairs where EACH is the other's top-1 —
    // the high-precision core of a merge proposal, vs itemSimilarity's
    // recall-oriented top-k
    "mutual_nn_parts" -> ((s, dir) => {
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
    }),
    // EXT Jensen-Shannon divergence (ByteFunctions.js_divergence):
    // symmetric bounded [0,1]-bits complement of kl_en_de over the same
    // corpus byte histograms — no ε smoothing (M > 0 wherever P or Q is)
    "js_divergence_en_de" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val histAgg = udaf(new ByteFunctions.ByteHistogramAgg,
        org.apache.spark.sql.Encoders.BINARY)
      val hEn = docs.filter(col("lang") === "en")
        .agg(histAgg(col("text").cast("binary")).as("h1"))
      val hDe = docs.filter(col("lang") === "de")
        .agg(histAgg(col("text").cast("binary")).as("h2"))
      hEn.crossJoin(hDe)
        .select(round(ByteFunctions.js_divergence(col("h1"), col("h2")), 6)
          .as("jsd"))
    }),
    // EXT hapax ratio (corpus-quality signal): per-source share of
    // vocabulary appearing exactly once — high hapax = diverse/noisy,
    // low = templated; two map-side-combinable roll-ups
    "hapax_ratio_sources" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source", "tok").agg(count(lit(1)).as("_f"))
        .groupBy("source")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("_f") === 1, 1L).otherwise(0L)).as("hapax"))
        .withColumn("hapax_ratio",
          round(col("hapax").cast("double") / col("vocab").cast("double"), 6))
        .orderBy("source")),
    // EXT Kaplan-Meier survival (Events.kaplanMeier, KM 1958):
    // hours-to-first-purchase per user with right censoring at end of
    // observation; ONE ordered fold over the observation-window grid
    // carries the at-risk count AND the survival product (no
    // partition-less window); integer time buckets, round(6) survival
    "kaplan_meier_purchase" -> ((s, dir) =>
      Events.kaplanMeier(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase")
        .orderBy("t")),
    // EXT Wald SPRT early-stopping monitor (Events.sprtDaily): daily
    // Bernoulli LLR of the user conversion rate, H0 p=0.35 vs H1
    // p=0.40, alpha=beta=0.05 — rows stop AT the first boundary
    // crossing, the sequential-analysis contract a fixed-horizon z
    // test can't give
    "sprt_daily" -> ((s, dir) =>
      Events.sprtDaily(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase", p0 = 0.35, p1 = 0.40)
        .orderBy("day")),
    // EXT always-valid p-values via the mixture SPRT
    // (Events.msprtDaily; Johari-Koomen-Pekelis-Walsh): normal-mixture
    // likelihood ratio of the md5-parity arm difference with running
    // min 1/Lambda — the peek-proof monitor; all days emitted, exact
    // cumulative counts, sqrt/exp-only readout (no Phi)
    "msprt_daily" -> ((s, dir) =>
      Events.msprtDaily(t(s, dir, "events"), "user_id", "ts",
          col("value") > 100)
        .orderBy("day")),
    // EXT always-valid mSPRT for a MEAN metric (Events.msprtValueDaily):
    // the revenue-per-event twin of msprt_daily — integer-cents exact
    // moments, pooled-variance standard error, the same closed-form
    // mixture Lambda and running-min p; tau on the cents scale
    "msprt_value_daily" -> ((s, dir) =>
      Events.msprtValueDaily(t(s, dir, "events"), "user_id", "ts",
          col("value"))
        .orderBy("day")),
    // EXT O'Brien-Fleming group-sequential monitor
    // (Events.groupSequentialObf): 5 equally-spaced looks over the
    // md5-parity A/A split, pooled two-proportion z per look vs the
    // OBF boundary c·sqrt(K/k) — strict early, fixed-horizon late;
    // rows stop at the first crossing (A/A: expect all 5 looks,
    // continue)
    "group_sequential_obf" -> ((s, dir) =>
      Events.groupSequentialObf(t(s, dir, "events"), "event_id", "ts",
          col("value") > 100)
        .orderBy("look")),
    // EXT Pocock boundary — the OTHER textbook group-sequential shape:
    // a FLAT c_5(0.05)=2.413 at every look (equal alpha spend; easier
    // early stops, a pricier final look than OBF's c·sqrt(K/k))
    "group_sequential_pocock" -> ((s, dir) =>
      Events.groupSequentialObf(t(s, dir, "events"), "event_id", "ts",
          col("value") > 100, cK = 2.413, pocock = true)
        .orderBy("look")),
    // EXT Lan-DeMets alpha-spending boundaries (AlphaSpending
    // .ldBoundaries, Lan & DeMets '83): the spending-function
    // generalization of the fixed OBF/Pocock shapes — per-look critical
    // values solved by the Armitage recursion driver-side (matches the
    // published K=5 α=.05 tables to 4 decimals) and embedded as frozen
    // literals on BOTH engines (the PQ-codebook discipline). Same data
    // path as group_sequential_obf; only the boundary column differs.
    "group_sequential_ld_obf" -> ((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "obf")
        .orderBy("look")),
    // EXT Lan-DeMets with the Pocock-like near-linear spending
    // α·ln(1+(e−1)t) — spends earlier than OBF-like, so the two LD
    // variants can genuinely disagree on the same data
    "group_sequential_ld_pocock" -> ((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "pocock")
        .orderBy("look")),
    // EXT Hwang-Shih-DeCani γ=−4 spending (the exponential family's
    // textbook conservative member) — a boundary BETWEEN the obf and
    // pocock shapes, same Armitage recursion and frozen-literal path
    "group_sequential_ld_hsd" -> ((s, dir) =>
      Events.groupSequentialLanDeMets(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100, spending = "hsd")
        .orderBy("look")),
    // EXT non-binding beta-spending FUTILITY design (Pampallona-Tsiatis
    // shape, gsDesign test.type=4 convention): one-sided efficacy
    // bounds spend α=.025 under H0 ignoring futility; futility bounds
    // spend β=.10 under the solved drift (boundaries meet at look K);
    // both embedded as frozen literals on both engines. The A/A split
    // drifts near z≈0, below the rising futility bound by mid-trial —
    // the monitor stops a null effect early, the futility side's point.
    "group_sequential_futility" -> ((s, dir) =>
      Events.groupSequentialFutility(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")),
    // EXT conditional power / B-values (Lan-Wittes; Proschan-
    // Hunsberger): per look, B_k = z_k*sqrt(t_k) and the probability of
    // finishing above the final efficacy bound under the current trend
    // and under H0 — the trial-trending readout next to the stopping
    // monitors. Phi on data-dependent arguments is the fixed-order
    // A&S 26.2.17 polynomial (functions/Normal.scala), mirrored
    // verbatim in the oracle; u_K is the frozen one-sided literal.
    "conditional_power" -> ((s, dir) =>
      Events.conditionalPower(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")),
    // EXT sample-size re-estimation on conditional power (Events.ssrCP;
    // Mehta-Pocock '11 promising zone, CHW-weighted closed-form
    // inflation): per look, the trend CP classifies the trial into
    // favorable/promising/unfavorable, and inside the promising zone
    // the second-stage inflation r* restoring CP to 1-beta is emitted
    // (clamped at the n_max cap) with the re-weighted CP at r. Same
    // (look, arm) aggregate + A&S-26.2.17 Phi as conditional_power;
    // u_K and z_{1-beta} are frozen driver literals.
    "ssr_cp" -> ((s, dir) =>
      Events.ssrCP(t(s, dir, "events"), "event_id",
          "ts", col("value") > 100)
        .orderBy("look")),
    // EXT Nelson-Aalen cumulative hazard + Fleming-Harrington survival
    // (Events.nelsonAalen): KM's additive sibling — hazard increments
    // d/n folded in t order, exp at the readout
    "nelson_aalen_purchase" -> ((s, dir) =>
      Events.nelsonAalen(t(s, dir, "events"), "user_id", "ts",
          col("event_type") === "purchase")
        .orderBy("t")),
    // EXT interpolated percentiles (Stats.percentileBandsCont, the
    // PERCENTILE_CONT twin of latency_bands): bracket row by exact
    // integer rank arithmetic, fraction as an exact remainder, v_hi
    // from a lead() on the same group window — one rank pass + a
    // broadcast 3-row target join, same scale shape as the disc form
    "latency_bands_cont" -> ((s, dir) =>
      Stats.percentileBandsCont(t(s, dir, "events"), "event_type", "value",
          Seq(50 -> 100, 95 -> 100, 99 -> 100))
        .orderBy("event_type", "q")),
    // EXT CUSUM change-point detection (Events.cusumAlarms, Page '54):
    // a level shift injected the suite's dup-injection way (error
    // events from Jan 20 doubled) and caught by the integer-exact
    // reflected running sum — alarms fire 2-4 days after onset at
    // every SF while un-shifted types stay quiet at bench scale. The
    // sequential walk is an expression-level fold over each type's
    // day-sorted counts (bounded by |days|), never a stream recursion.
    "cusum_error_shift" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
      val shifted = ev.unionByName(ev.filter(
        col("event_type") === "error" &&
          col("ts").cast("date") >= lit("2024-01-20").cast("date")))
      Events.cusumAlarms(shifted, "event_type", "ts", hMult = 2)
        .orderBy("event_type", "day")
    }),
    // EXT streaming CUSUM applied to a batch frame (suite strategy):
    // daily counts stream-static-joined with FROZEN (ref, h) derived
    // once from the corpus; one long of per-key state carries the
    // reflected sum across batches — the lambda is hash-checked
    // against the same recursive-CTE path as the batch operator
    "cusum_stream_shift" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"))
      val shifted = ev.unionByName(ev.filter(
        col("event_type") === "error" &&
          col("ts").cast("date") >= lit("2024-01-20").cast("date")))
      val daily = shifted
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
    }),
    // EXT adaptive conformal monitoring applied to a batch frame (the
    // suite strategy for stream lambdas): per-type daily |count − ref|
    // nonconformity (ref = the cusum family's exact integer ceil-mean,
    // so every score is integer-exact), judged test-then-train against
    // the exact-rank q-hat of a 30-score sliding window while the
    // Gibbs-Candès step αₜ₊₁ = αₜ + γ(α − errₜ) widens after misses;
    // the oracle replays the same fold as an rn-chained recursive CTE
    // carrying (α, window-list) state
    "conformal_stream_daily" -> ((s, dir) => {
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
    }),
    // EXT streaming CUPED (StreamOps.cupedStream), repeated-measures
    // form: units are (user, post-period day) observations — y = that
    // day's spend cents, x = the user's FROZEN pre-period activity
    // (Deng et al.'s user-day-metric variant) — arriving day by day;
    // the lambda runs batch-style (the flatMapGroupsWithState suite
    // strategy) and emits one snapshot per day with the refreshed
    // theta and adjusted lift over the cumulative arms, a genuine
    // ~15-look trajectory on the synthetic month
    "cuped_stream_daily" -> ((s, dir) => {
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
          graft.functions.TextFunctions.md5Bits64(
            concat(lit("cu:"), col("user_id").cast("string")))
            .bitwiseAND(lit(1L)).as("arm"),
          col("x"), col("y"))
        .as[graft.streaming.CupedPoint]
      graft.streaming.StreamOps.cupedStream(units)
        .toDF()
        .select(col("day").as("d"), col("n_c"), col("n_t"),
          (round(col("diff_raw"), 6) + lit(0.0)).as("diff_raw"),
          (round(col("theta"), 6) + lit(0.0)).as("theta"),
          (round(col("diff_cuped"), 6) + lit(0.0)).as("diff_cuped"))
        .orderBy("d")
    }),
    // EXT weighted/keyed streaming CUPED for hot experiment keys
    // (StreamOps.cupedWeightedDeltas -> cupedDeltaStream): the same
    // repeated-measures units as cuped_stream_daily but FREQUENCY-
    // WEIGHTED by the unit's event count, map-side pre-reduced into
    // per-(key, day) moment deltas (a stateless narrow pass — no
    // shuffle) before the keyed state folds them; snapshots carry the
    // weighted arm masses and the weighted theta/lift
    "cuped_stream_weighted" -> ((s, dir) => {
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
          graft.functions.TextFunctions.md5Bits64(
            concat(lit("cu:"), col("user_id").cast("string")))
            .bitwiseAND(lit(1L)).as("arm"),
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
    }),
    // EXT streaming transition edges applied to a batch frame (the
    // suite strategy for stream lambdas — the same
    // flatMapGroupsWithState code path StreamingSpec drives through
    // MemoryStream batches): per-user carry state -> raw edges -> one
    // downstream roll-up; counts == the window-based batch operator
    "event_transitions_stream" -> ((s, dir) => {
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
    }),
    // EXT robust outliers (Stats.madOutliers, Iglewicz-Hoaglin modified
    // z-score): median/MAD are exact percentile_disc elements at
    // integer rank ceil(n/2) — the outliers cannot inflate the spread
    // estimate the way they inflate a stddev z-score; only the final
    // fixed-order subtract/multiply/divide is float. One grouped pass.
    "mad_outliers" -> ((s, dir) =>
      Stats.madOutliers(t(s, dir, "events"),
          "event_type", "value", "event_id", cutoff = 3.5)
        .orderBy("event_type", "event_id")),
    // EXT seasonal-ESD-style anomaly days (composition): classical
    // decomposition strips trend+weekly seasonality, then the MAD
    // robust z (cutoff 2.0 — the 120-day series is short) flags days — the "which days were REALLY odd
    // after accounting for the weekly cycle" monitor that a plain
    // value outlier scan gets wrong every weekend
    "seasonal_esd_anomalies" -> ((s, dir) => {
      val dec = Events.classicalDecomposition(t(s, dir, "events"),
        "event_type", "ts", m = 7)
      Stats.madOutliers(dec.filter(col("residual").isNotNull),
          "event_type", "residual", "day", cutoff = 2.0)
        .orderBy("event_type", "day")
    }),
    // EXT split-conformal prediction intervals (Vovk; Lei et al. '18):
    // md5-split calibration/test halves, per-type calibration means as
    // the point predictor, q-hat = exact ceil((n+1)(1-alpha))-th
    // smallest nonconformity (integer rank over round(6) score CELLS),
    // then finite-sample coverage measured on the held-out half
    "conformal_intervals" -> ((s, dir) => {
      val arm = graft.functions.TextFunctions.md5Bits64(
        concat(lit("cf:"), col("event_id").cast("string")))
        .bitwiseAND(lit(1L))
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
    }),
    // EXT contingency analysis (Stats.contingencyAnalysis): MI, NMI,
    // chi-squared and Cramér's V between event_type and day-of-week —
    // ONE corpus shuffle (the cell groupBy); chi² via the
    // observed-cells identity n·Σo²/(r·c) − n (no category grid, no
    // cross-join); float sums as ordered folds over the sorted cell
    // list; day-of-week from pure integer epoch-day arithmetic (both
    // engines' dayofweek() builtins disagree on numbering)
    "contingency_events" -> ((s, dir) =>
      Stats.contingencyAnalysis(
        t(s, dir, "events").select(col("event_type"),
          pmod(datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))) + 4,
            lit(7)).as("dow")),
        "event_type", "dow")),
    // EXT Benford first-digit audit (Stats.benfordAudit): leading-digit
    // shares of o_totalprice vs log10(1+1/d), per-digit chi² terms —
    // the forensic-accounting screen. Digit extraction is EXACT integer
    // arithmetic (cents div 10^(digits-1), digit count from string
    // length — never float log10); one 9-group map-side aggregate
    "benford_totalprice" -> ((s, dir) =>
      Stats.benfordAudit(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")),
    // EXT market-basket association rules (Assoc.associationRules,
    // Agrawal-Srikant '94 statistics): orders are baskets, parts items;
    // the pair stage self-joins the deduped (basket,item) frame on the
    // CO-PARTITIONED basket key with a maxBasket skew guard ahead of
    // the explosion; support/confidence/lift are fixed-operand-order
    // divisions of exact BIGINTs; top-50 by lift under a total
    // tie-break compiles to TakeOrderedAndProject
    "assoc_rules_parts" -> ((s, dir) =>
      graft.operators.Assoc.associationRules(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minPairCount = 2L)
        .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
        .limit(50)),
    // EXT bounded-state grouped top-k (Relational.topKPerGroup): the
    // mergeable-aggregate formulation — map-side partial keeps <=~2k
    // rows per group per task, the exchange carries |groups|*k rows
    // where the window-rank oracle shuffles and sorts EVERY row
    "topk_per_segment" -> ((s, dir) => {
      val joined = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .join(t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"), col("o_totalprice"),
          col("o_orderkey"))
      Relational.topKPerGroup(joined, "segment", "o_totalprice", "o_orderkey", 5)
        .orderBy("segment", "rank")
    }),
    // EXT LEARNED language ID (Corpus.langProfiles/langClassifyNgram):
    // Cavnar-Trenkle char-trigram rank profiles trained from the
    // lang-labeled rows, out-of-place distance classification — ALL
    // integer arithmetic (ranks, |diff|, miss penalty), so the whole
    // trained classifier replays in the oracle with no float discipline.
    // NOTE the synthetic corpus's lang labels sit over ONE shared
    // English vocabulary (verified: per-lang word distributions are
    // uniform), so accuracy here is data-limited noise — the judged
    // property is the train+classify mechanism and its exact replay;
    // CorpusSpec shows ~100% on actually-distinct languages
    "lang_id_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.langIdSelfTrain(docs, "doc_id", "lang", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          (col("lang") === col("lang_pred")).as("correct"), col("oop"))
        .orderBy("doc_id")
    }),
    // EXT peak-concurrency sweep (Events.maxConcurrency): +1/-1 deltas,
    // day-clipped intervals so the running-sum window partitions by day
    // (never one global ordered window) — integer epoch-micros
    // throughout, half-open interval tie discipline
    "concurrency_daily" -> ((s, dir) =>
      Events.maxConcurrency(t(s, dir, "events"), "event_id", "ts", 300)),
    // EXT exact per-group percentile bands (Stats.percentileBands):
    // percentile_disc at rank ceil(q*n) via exact integer rank
    // arithmetic — one group-key shuffle, broadcast quantile table
    "latency_bands" -> ((s, dir) =>
      Stats.percentileBands(t(s, dir, "events"), "event_type", "value",
        Seq(50 -> 100, 90 -> 100, 95 -> 100, 99 -> 100))
        .orderBy("event_type", "q")),
    // EXT TPC-H Q1 pricing summary — the canonical scan+aggregate
    // headline: one pass, map-side partial agg into 6ish groups. Money
    // discipline: factors cast to DECIMAL BEFORE multiplying (exact
    // scale-4/6 products, the cube_revenue lesson); the scale-6 charge
    // sum is emitted as exact MICRO-unit BIGINT — a scale-6 decimal sum
    // cast to double exceeds 2^53 at bench SF and DuckDB's int128->
    // double rounding differs by 1 ulp from Spark's
    "q1_pricing_summary" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(12,2)")
      val discPrice = (dec(col("l_extendedprice")) *
        (lit(1).cast("decimal(12,2)") - dec(col("l_discount"))))
        .cast("decimal(18,4)")
      val chargeMicro = (discPrice *
        (lit(1).cast("decimal(12,2)") + dec(col("l_tax"))) *
        lit(1000000)).cast("long")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").cast("date") <= lit("2000-09-02").cast("date"))
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"),
          discPrice.as("_dp"), chargeMicro.as("_cm"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("_dp")).cast("double").as("sum_disc_price"),
          sum(col("_cm")).as("sum_charge_micro"),
          (sum(col("l_quantity").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(col("l_extendedprice").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_price"),
          (sum(col("l_discount").cast(DEC)).cast("double") / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // EXT TPC-H Q3 shipping priority (adapted: o_orderpriority carried
    // where TPC-H has o_shippriority) — segment-filtered 3-table star,
    // decimal-exact revenue, global top-10 compiling to
    // TakeOrderedAndProject (never a full sort); dimension side
    // broadcast decided by AQE, no hints
    "q3_shipping_priority" -> ((s, dir) => {
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
    }),
    // EXT int8 scalar-quantized ANN (Ann.sqQuantize/sqTopK): the
    // index stores dim BYTES + one scale per vector (4-8x smaller),
    // similarity is integer dots (scale cancels in cosine) — sqrt and
    // one division are the only floats, so the quantized search
    // hash-checks against the oracle's exact replay
    "ann_sq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.sqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")
    }),
    // EXT join-key skew diagnostic (Stats.keySkewProfile): distinct
    // keys, hottest-key share, exact Gini over per-key frequencies —
    // the saltedJoin go/no-go numbers; global rank via the two-phase
    // range rank, never a partition-less window
    "key_skew_orders" -> ((s, dir) =>
      Stats.keySkewProfile(t(s, dir, "orders"), "o_custkey")),
    // EXT sketch-union overlap (Sketches.hllOverlap): en-vs-de distinct
    // vocabulary overlap via register-max HLL union + inclusion-
    // exclusion — cross-corpus overlap at sketch cost (|sets|*256 state
    // rows), never a distinct-join; estimator replayed exactly
    "hll_vocab_overlap" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("lang").isin("en", "de"))
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      Sketches.hllOverlap(toks, "lang", col("tok"), "en", "de")
    }),
    // TPC-H Q10 (returned-item reporting): revenue lost to returns per
    // customer over one quarter, top 20. Star shape: the date filter
    // prunes orders BEFORE the fact join, nation broadcasts, and the
    // top-20 is a TakeOrderedAndProject (no global sort materialized)
    "q10_returned_items" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val cust = t(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = t(s, dir, "nation").select("n_nationkey", "n_name")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),
    // TPC-H Q18 (large-volume orders): orders whose total quantity
    // exceeds the threshold, with the customer. The HAVING prunes on
    // the grouped fact FIRST (tiny survivor set), then joins the dims —
    // never the other way around
    "q18_large_orders" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(30,2)")).cast("double")
          .as("sum_qty"))
        .filter(col("sum_qty") > 200.0)
      val ord = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = t(s, dir, "customer").select("c_custkey", "c_name")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    }),
    // EXT streaming grouped top-k (StreamOps.topKStream): k rows of
    // per-group state inside mapGroupsWithState, monotone merge — the
    // streaming twin of Relational.TopKAgg; declared batch-symmetric,
    // StreamingSpec drives the MemoryStream path to the same answer
    "topk_stream" -> ((s, dir) => {
      import s.implicits._
      val items = t(s, dir, "events")
        .select(col("event_type").as("g"), col("value").as("v"),
          col("event_id").as("id"))
        .as[graft.streaming.RankedItem]
      graft.streaming.StreamOps.topKStream(items, 5)
        .toDF("event_type", "rank", "event_id", "value")
        .orderBy("event_type", "rank")
    }),
    // EXT near-dup-aware quality-selective dedup: per duplicate cluster
    // keep the HIGHEST-quality member (quality desc, doc_id ties), not
    // the smallest id — the canonical-pick a curation pipeline actually
    // wants; singletons keep themselves. Reuses the ngram-Jaccard pair
    // join + min-label components + the shared portable quality score
    "cluster_best_quality" -> ((s, dir) => {
      val docs = injectedDocs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
        maxShingleDf = Some(128))
      val clusters = Dedup.dedupClusters(pairs)
      val scored = docs.withColumn("quality",
        TextFunctions.qualityScore(col("text")))
      val mem = scored.join(clusters, scored("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          col("quality"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id").asc)
      mem.withColumn("_rk", row_number().over(w))
        .withColumn("n_members", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
        .filter(col("_rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("best_doc"),
          col("quality"), col("n_members"))
        .orderBy("cluster_id")
    }),
    // EXT leakage-safe train/val/test split: the split hash is taken on
    // the near-dup CLUSTER id, not the doc id, so near-duplicates can
    // never straddle train and test (the contamination a doc-level
    // split silently ships). Singletons hash their own id — identical
    // to split_assign for them
    "split_leakage_safe" -> ((s, dir) => {
      val docs = injectedDocs(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
        maxShingleDf = Some(128))
      val clusters = Dedup.dedupClusters(pairs)
      val mem = docs.select("doc_id")
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Corpus.assignSplit(mem, "cluster_id")
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    }),
    // TPC-H Q19 (disjunctive predicate star): the OR of brand/quantity/
    // size conjunctions references BOTH join sides, so the disjunction
    // itself cannot push down — but its single-side ENVELOPES can, and
    // are applied explicitly before the join (l_quantity <= 30; brand
    // IN-list + p_size <= 15 shrink part to a broadcastable sliver)
    "q19_disjunctive_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
        .select(col("l_partkey"), col("l_quantity"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .as("_rev"))
      val pt = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
          col("p_size") >= 1 && col("p_size") <= 15)
        .select("p_partkey", "p_brand", "p_size")
      li.join(broadcast(pt), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" &&
            col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
          (col("p_brand") === "Brand#2" &&
            col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
          (col("p_brand") === "Brand#3" &&
            col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
        .agg(sum(col("_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // EXT sliding-window distinct users at sketch cost
    // (StreamOps.hllWindowRegisters slide + Sketches.hllFinalize): each
    // event lands in exactly dur/slide=2 windows, per-window state is
    // <=256 register rows regardless of traffic — the streaming
    // cardinality dashboard shape; estimator replayed exactly
    "hll_sliding_users" -> ((s, dir) => {
      val regs = graft.streaming.StreamOps.hllWindowRegisters(
        t(s, dir, "events"), "ts", "2 hours", "user_id",
        slide = Some("1 hour"))
      Sketches.hllFinalize(regs, Seq("win_start"))
        .select("win_start", "zero_regs", "denom", "est_distinct")
        .orderBy("win_start")
    }),
    // EXT IVF + residual-PQ ANN (Ann.rqTopK, FAISS IndexIVFPQ shape):
    // codes quantize the RESIDUAL x - c(cell) against the frozen
    // RqCodebook — smaller per-cell variance than whole-vector codes at
    // the same m x k budget; per-(query, probed-cell) ADC tables keep
    // the residual geometry aligned cell by cell
    "ann_rq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.rqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        RqCodebook.arr, 3, nCentroids = 8, nProbe = 2)
        .orderBy("query_id", "rank")
    }),
    // EXT cross-source similarity matrix (Dedup.groupSimilarityMatrix):
    // one k=16 md5-minima signature per SOURCE, pairwise agreement =
    // MinHash Jaccard estimate of shingle overlap — corpus-size-free
    // pair stage (|sources|^2/2 over broadcast signatures)
    "source_similarity" -> ((s, dir) =>
      Dedup.groupSimilarityMatrix(t(s, dir, "documents"), "source", "text",
          k = 16)
        .orderBy("group_a", "group_b")),
    // TPC-H Q4 (order priority checking): EXISTS compiles to a LEFT
    // SEMI join — the fact side streams through probe-only, no
    // duplicate inflation, no distinct; date filter prunes orders first
    "q4_order_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val late = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 days"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),
    // TPC-H Q6 (forecast revenue change): the pure-pushdown shape — a
    // single scan whose three predicates all reach the parquet reader,
    // one partial-agg pass, zero joins
    "q6_forecast_revenue" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // EXT stream-stream interval join (StreamOps.intervalJoinStream):
    // view->click attribution within 10 minutes per user — the
    // watermark-evictable stateful join; declared batch-symmetric
    // (key SMJ + residual time filter), StreamingSpec drives both
    // sides as real MemoryStreams
    "attribution_join" -> ((s, dir) => {
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
    }),
    // EXT bottom-k sketch, sample readout (Sketches.kmvBottomK): a
    // DETERMINISTIC uniform sample of distinct users per event type —
    // stable across runs and partitionings (hash-priority order), the
    // debugging sample a pipeline can diff between builds
    "kmv_sample_users" -> ((s, dir) => {
      Sketches.kmvBottomK(t(s, dir, "events"), Seq("event_type"),
          col("user_id"), 32)
        .select(col("event_type"), col("rank"), col("value").as("user_id"))
        .orderBy("event_type", "rank")
    }),
    // EXT bottom-k sketch, estimator readout: KMV distinct estimate
    // (k-1)/u_k beside the exact count — mergeable like the HLL twin
    // but carrying an actual value sample
    "kmv_distinct_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val bk = Sketches.kmvBottomK(ev, Seq("event_type"), col("user_id"), 32)
      Sketches.kmvDistinct(bk, Seq("event_type"), 32)
        .join(ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("exact_distinct")),
          Seq("event_type"))
        .orderBy("event_type")
    }),
    // EXT end-to-end passage retrieval (the RAG read path composed
    // from this library's own pieces): chunkDocuments -> per-chunk
    // feature-hashed vectors (integer-exact) -> query-broadcast cosine
    // -> per-(query, doc) best chunk -> per-query doc top-5. The
    // chunk explosion and hashing are map-side; scoring shuffles only
    // (|queries| x |chunks|) slivers; at production scale the chunk
    // side swaps for any of the ANN indexes unchanged
    "chunk_retrieval" -> ((s, dir) => {
      val chunks = Corpus.chunkDocuments(t(s, dir, "documents"),
          "doc_id", "text", 32, 8)
        .select((col("doc_id") * 16 + col("chunk_id")).as("cid"),
          col("chunk_text"))
      val cv = Corpus.hashedDocVectors(chunks, "cid", "chunk_text")
      // orderBy+limit cap = the documented broadcast contract (invariant
      // 31): the query set is 3 docs, the cap is a semantic no-op that
      // BOUNDS the hinted side for the plan sweep
      val qv = Corpus.hashedDocVectors(
          t(s, dir, "documents").filter(col("doc_id") < 3), "doc_id", "text")
        .select(col("doc_id").as("query_id"), col("vec").as("qvec"))
        .orderBy("query_id").limit(8)
      val sc = cv.join(broadcast(qv), expr("cid DIV 16") =!= col("query_id"))
        .select(col("query_id"), expr("cid DIV 16").as("doc_id"),
          pmod(col("cid"), lit(16)).cast("int").as("chunk_no"), col("cid"),
          graft.functions.VectorFunctions.cosine(col("qvec"), col("vec"))
            .as("cos"))
      val w1 = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id", "doc_id").orderBy(col("cos").desc, col("cid"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))
      sc.withColumn("_rn", row_number().over(w1)).filter(col("_rn") === 1)
        .withColumn("rank", row_number().over(w2).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("doc_id"),
          col("chunk_no").as("best_chunk"), col("cos").as("score"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // EXT late-interaction retrieval (Retrieval.maxSimTopK, ColBERT
    // shape): vocab x query-vocab similarity matrix (query side
    // broadcast — bounded by the query set), all-integer md5 sign
    // agreement so scores are dyadic-exact; corpus cost linear in
    // distinct (doc, token) pairs, never doc x doc
    "maxsim_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Retrieval.maxSimTopK(docs, docs.filter(col("doc_id") < 3),
          "doc_id", "text", 5)
        .orderBy("query_id", "rank")
    }),
    // OLAP ROLLUP over the geo hierarchy (region > nation): Expand
    // runs over the ALREADY-joined star — the decimal total is
    // projected before the rollup so each grouping set copies the
    // value (same Expand discipline as cube_revenue); dims broadcast
    "rollup_nation_revenue" -> ((s, dir) => {
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
    }),
    // EXT GROUPING SETS (the third Expand shape beside cube/rollup):
    // HETEROGENEOUS sets — by region, by order priority, and the grand
    // total — mixing independent dimensions no rollup nesting can
    // express; ONE scan through the Expand operator instead of a UNION
    // of three aggregations. Same projected-decimal discipline.
    "grouping_sets_revenue" -> ((s, dir) => {
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
    }),
    // EXT stupid-backoff trigram LM scoring (Brants et al. 2007): eval
    // docs (doc_id%7==0) scored under counts from the REST, so the
    // backoff chain actually fires on unseen trigrams/bigrams. All
    // count tables are data-sized shuffle joins (AQE may broadcast the
    // small ones — never hinted); the (N, V) totals ride a broadcast
    // 1-row aggregate. Unigram floor is add-one over (N + V) so no
    // -inf leaves the log.
    "trigram_backoff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val ev = docs.filter(col("doc_id") % 7 === 0)
      def ngrams(df: DataFrame, n: Int, names: Seq[String]): DataFrame = df
        .filter(size(col("w")) >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("w")) - (n - 1)),
            j => struct((0 until n).map(o => element_at(col("w"), j + o)
              .as(names(o))): _*))).as("g"))
        .select(col("doc_id") +: names.map(nm => col(s"g.$nm").as(nm)): _*)
      val tri = ngrams(train, 3, Seq("a", "b", "c"))
        .groupBy("a", "b", "c").agg(count(lit(1)).as("c3"))
      val bi = ngrams(train, 2, Seq("a", "b"))
        .groupBy("a", "b").agg(count(lit(1)).as("c2"))
      val uni = train.select(explode(col("w")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("c1"))
      val tot = train.select(explode(col("w")).as("u"))
        .agg(count(lit(1)).as("_N"), count_distinct(col("u")).as("_V"))
      ngrams(ev, 3, Seq("a", "b", "c"))
        .join(tri, Seq("a", "b", "c"), "left")
        .join(bi.select(col("a"), col("b"), col("c2").as("c_ab")),
          Seq("a", "b"), "left")
        .join(bi.select(col("a").as("b"), col("b").as("c"), col("c2").as("c_bc")),
          Seq("b", "c"), "left")
        .join(uni.select(col("u").as("b"), col("c1").as("u_b")), Seq("b"), "left")
        .join(uni.select(col("u").as("c"), col("c1").as("u_c")), Seq("c"), "left")
        .crossJoin(broadcast(tot))
        .withColumn("_score",
          when(col("c3").isNotNull, col("c3").cast("double") / col("c_ab"))
            .when(col("c_bc").isNotNull, lit(0.4) * col("c_bc") / col("u_b"))
            .otherwise(lit(0.16) * (coalesce(col("u_c"), lit(0)) + 1) /
              (col("_N") + col("_V"))))
        .groupBy("doc_id")
        .agg(round(avg(log(col("_score"))), 6).as("logprob_bo"),
          count(lit(1)).as("n_trigrams"))
        .orderBy("doc_id")
    }),
    // EXT integrity manifest (Scale.contentFingerprints): per-bucket
    // count + order-independent 48-bit XOR fingerprint — 8 bytes of
    // aggregation state per bucket, map-side combining, layout- and
    // partitioning-independent, so a replica's manifest from another
    // cluster matches bit for bit; copy verification = one scan + a
    // 64-row diff
    "partition_fingerprints" -> ((s, dir) =>
      graft.operators.Scale.contentFingerprints(
          t(s, dir, "documents"), "doc_id", "text", 64)
        .orderBy("bucket")),
    // EXT RAG-prep chunking (Corpus.chunkDocuments): 32-token windows,
    // 8-token overlap, expression-only — the map-side row multiplier
    // that feeds an embedding/indexing stage; no shuffle anywhere
    "chunk_documents" -> ((s, dir) =>
      Corpus.chunkDocuments(t(s, dir, "documents"), "doc_id", "text", 32, 8)
        .orderBy("doc_id", "chunk_id")),
    // EXT JL sign-projection ANN (Ann.jlTopK): both sides project
    // through the deterministic +-1 matrix (native fused-loop
    // expression, matrix is a plan constant), exact cosine top-k in the
    // 16-dim space — 4x cheaper distances than the 64-dim brute path,
    // and the projection composes in front of ANY of the index variants
    "ann_jl_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.jlTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3,
          JlSigns16)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy("query_id", "rank")
    }),
    // TPC-H Q7 (volume shipping, lifted to regions so every SF is
    // populated): the two bounded region+nation dims broadcast into
    // supplier/customer; the fact-side order join shuffles on its key,
    // supplier/customer joins stay AQE-decided (data-sized at cluster
    // scale — never hinted)
    "q7_region_volume" -> ((s, dir) => {
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
    }),
    // TPC-H Q8 (national market share): NATION_3's slice of the
    // AMERICA/STANDARD volume by order year — the share division runs
    // on the final |years| rows only, both numerator and denominator
    // exact decimal sums so the quotient is bit-stable across engines
    "q8_market_share" -> ((s, dir) => {
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
    }),
    // TPC-H Q9 (product-type profit; retail-cost proxy for the absent
    // partsupp.supplycost): profit = rev - 0.5*retail*qty, all-decimal
    // so the per-(nation, year) sums are order-independent; the name
    // filter prunes part before its join (AQE broadcasts the sliver)
    "q9_product_profit" -> ((s, dir) => {
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
    }),
    // TPC-H Q11 (important parts; lineitem revenue proxies the absent
    // partsupp value): parts whose value exceeds 1.1x the mean part
    // value — the global total arrives as a broadcast 1-row aggregate
    // (one crossJoin, no second fact scan), and the threshold compare
    // is cross-multiplied to exact decimals so no float flip
    "q11_important_parts" -> ((s, dir) => {
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
    }),
    // TPC-H Q12 (late-line priority mix; returnflag stands in for the
    // absent shipmode, ship-lag for commit/receipt): the year filter
    // pushes to the lineitem scan; the lag predicate references both
    // sides so it evaluates post-join; CASE counts are map-side partial
    "q12_priority_lag" -> ((s, dir) => {
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
    }),
    // TPC-H Q13 (customer order-count distribution): LEFT OUTER so
    // zero-order customers survive into the c_count=0 bucket; the
    // second groupBy runs on the tiny count domain
    "q13_customer_distribution" -> ((s, dir) => {
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
    }),
    // TPC-H Q14 (promo revenue share): one month of lineitem joined to
    // part's type column; numerator/denominator both exact decimal
    // sums over the SAME joined frame — one scan, one shuffle
    "q14_promo_revenue" -> ((s, dir) => {
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
    }),
    // TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    // the max arrives as a broadcast 1-row aggregate over the
    // |suppliers|-bounded frame — equality on exact decimals, no
    // window over the fact table, no second scan
    "q15_top_supplier" -> ((s, dir) => {
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
    }),
    // TPC-H Q16 (supplier counts per part class; lineitem as the
    // part-supplier relation): count_distinct shuffles once on the
    // (brand, size) key with partial distinct below the exchange;
    // brand/size filters prune part before its join
    "q16_supplier_cnt" -> ((s, dir) => {
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey")
        .join(t(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))
          .select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
    }),
    // TPC-H Q17 (small-quantity revenue): the spec's correlated per-part
    // average becomes a grouped aggregate joined back on partkey (the
    // shuffle is reused, the brand sliver prunes both sides first), and
    // the 20%-of-average test is cross-multiplied to exact decimals
    // (5*q*n < sum_q) so no float threshold flips at the boundary
    "q17_small_qty_revenue" -> ((s, dir) => {
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
    }),
    // TPC-H Q20 (excess-shipment suppliers; per-(supp, part) shipped
    // quantity proxies the absent partsupp.availqty): the inner
    // aggregate feeds a LEFT SEMI probe — the supplier side streams
    // through once, the region dims broadcast
    "q20_red_part_suppliers" -> ((s, dir) => {
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
    }),
    // TPC-H Q21 (suppliers who kept orders waiting; ship-lag stands in
    // for commit/receipt): the spec's EXISTS / NOT-EXISTS self-join
    // pair collapses into ONE per-order aggregate — distinct suppliers,
    // distinct late suppliers, and (since exactly one) the late
    // supplier's identity via MAX — same answer, one shuffle on
    // orderkey instead of three fact self-joins
    "q21_waiting_supplier" -> ((s, dir) => {
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
    }),
    // TPC-H Q22 (dormant high-balance customers; nationkey%10 as the
    // country code, dormant = no order since mid-2000): the positive-
    // balance average arrives as a broadcast 1-row (sum, count)
    // aggregate and the compare cross-multiplies to exact decimals;
    // the dormancy test is a LEFT ANTI probe of the date-pruned orders
    "q22_global_sales" -> ((s, dir) => {
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
    }),
    // TPC-H Q2 (min-cost supplier; cheapest observed sale price in
    // lineitem proxies partsupp.supplycost): per-(part, supplier) MIN,
    // then the per-part argmin runs as a row_number over the ALREADY
    // aggregated |parts x suppliers|-bounded frame — never a window
    // over the fact table; region dims broadcast
    "q2_min_cost_supp" -> ((s, dir) => {
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
    }),
  )

  /** The phrase dictionary `phrase_hits` tags with — a LITERAL shared by
    * the Spark query and the generated oracle IN-list. */
  private val PhraseDict: Seq[String] = Seq(
    "spark", "hash join", "table scan", "merge sort", "window agg",
    "the fast key")

  /** Probe tokens for `cms_token_counts` — a LITERAL shared by the Spark
    * query and the oracle VALUES list: frequent words, mid-frequency
    * words, and one absent token (exact 0; its estimate is whatever its
    * buckets collide into — both engines replay the same collisions).
    */
  private val CmsProbeTokens: Seq[String] = Seq(
    "scan", "join", "window", "merge", "table", "the", "dup", "row",
    "zzz_absent")

  /** Frozen logistic quality-classifier weights (bias, then one weight
    * per [[TextFunctions.qualityFeatures]] component) — output of the
    * deterministic trainer `runMain graft.ScaleProbe qctrain
    * /root/testdata/sf0.01 800 2.0` (clean docs vs punctuation-corrupted
    * copies; train accuracy 1.000, the punctuation-inverse feature
    * carries the separation as it should). A LITERAL single-sourced like
    * [[bpeMergeTable]]: the Spark query and the generated DuckDB oracle
    * both replay sigmoid(w·x) from this exact list.
    */
  private val QcWeights: Seq[Double] =
    Seq(-8.840501, -6.294045, -3.868260, 18.738033, -0.085477)

  /** The learned-quality-filter evaluation corpus: documents plus one
    * injected junk twin per %5 doc (ids offset by 400000 — the offset
    * IS the ground-truth label), scored by the frozen QcWeights
    * logistic. Shared by `quality_classifier` and the classifier-eval
    * queries (`classifier_auc`/`classifier_prf`/
    * `classifier_calibration`); the oracles mirror it as the u/f/s
    * CTE chain — a recipe change here must change those in lockstep.
    */
  private def qcScored(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val junk = docs.filter(col("doc_id") % 5 === 2)
      .select((col("doc_id") + 400000).as("doc_id"),
        concat(col("text"), lit(" !!! ### ,,, ;;; !!!")).as("text"))
    val w = QcWeights
    val z = (1 to 4).foldLeft(lit(w.head): Column) { (acc, i) =>
      acc + lit(w(i)) * element_at(col("_f"), i)
    }
    docs.unionByName(junk)
      .withColumn("_f", TextFunctions.qualityFeatures(col("text")))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("p_clean"),
        (col("doc_id") < 400000).as("is_clean"))
  }

  /** Oracle CTE chain replaying [[qcScored]] — the u/base/c/f/s SQL the
    * quality_classifier oracle uses, factored so the classifier-eval
    * oracles stay in lockstep with it. Yields table `s(doc_id,
    * p_clean)`; label = doc_id < 400000.
    */
  private def qcScoredSql: String = {
    val w = QcWeights
    val z = s"${w(0)} + ${w(1)} * x1 + ${w(2)} * x2 + ${w(3)} * x3 + ${w(4)} * x4"
    s"""u AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id + 400000, text || ' !!! ### ,,, ;;; !!!'
       |      FROM documents WHERE doc_id % 5 = 2),
       | base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM u),
       | c AS (SELECT doc_id, $qualityComponentsSql,
       |  ${stops(TextFunctions.EnStops)} AS stop_en
       | FROM base),
       | f AS (SELECT doc_id,
       |   LEAST(CAST(token_cnt AS DOUBLE) / 100.0, 1.0) AS x1,
       |   LEAST((CASE WHEN token_cnt > 0 THEN nonspace / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) AS x2,
       |   1.0 - LEAST((CASE WHEN chars > 0 THEN CAST(punct_cnt AS DOUBLE) / chars ELSE 1.0 END) * 10.0, 1.0) AS x3,
       |   LEAST((CASE WHEN token_cnt > 0 THEN CAST(stop_en AS DOUBLE) / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0) AS x4
       |  FROM c),
       | s AS (SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-($z))), 6) AS p_clean FROM f)""".stripMargin
  }

  /** The md5-minhash banded-LSH pair CTE chain (u → shingles → 12
    * min-hashes → 2 bands → capped buckets → candidates → exact-Jaccard
    * verify as table `j`) — the DuckDB replay of
    * [[graft.operators.Dedup.minhashNearDupPairsMd5]] on [[injectedDocs]].
    * Shared by the `minhash_pairs` oracle and the `blocking_quality`
    * eval so the two can never drift.
    */
  private def minhashPairsMd5Ctes: String = {
    val minCols = (0 until 12)
      .map(i => s"MIN(substr(md5('${i / 4}:' || sh), ${(i % 4) * 8 + 1}, 8)) AS h$i")
      .mkString(", ")
    val sig0 = (0 until 6).map(i => s"h$i").mkString(" || ")
    val sig1 = (6 until 12).map(i => s"h$i").mkString(" || ")
    s"""u AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
       | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
       | sh AS (SELECT DISTINCT doc_id AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
       |        FROM w WHERE len(ws) >= 3),
       | mh AS (SELECT jid, $minCols FROM sh GROUP BY jid),
       | banded AS (SELECT jid, 0 AS band, $sig0 AS bsig FROM mh
       |            UNION ALL SELECT jid, 1 AS band, $sig1 AS bsig FROM mh),
       | ok AS (SELECT band, bsig FROM banded GROUP BY band, bsig HAVING COUNT(*) <= 64),
       | bc AS (SELECT banded.* FROM banded JOIN ok USING (band, bsig)),
       | cand AS (SELECT DISTINCT a.jid AS id_a, b.jid AS id_b FROM bc a JOIN bc b
       |          ON a.band = b.band AND a.bsig = b.bsig AND a.jid < b.jid),
       | sizes AS (SELECT jid, COUNT(*) AS sz FROM sh GROUP BY 1),
       | inter AS (SELECT id_a, id_b, COUNT(*) AS i FROM cand
       |           JOIN sh x ON x.jid = id_a JOIN sh y ON y.jid = id_b AND x.sh = y.sh GROUP BY 1, 2),
       | j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
       |       FROM inter JOIN sizes sa ON sa.jid = id_a JOIN sizes sb ON sb.jid = id_b)""".stripMargin
  }

  // ------------------------------------------------------------ oracle SQL

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

  /** SQL mirrors of TextFunctions (stopword lists injected so both sides
    * stay in sync by construction). `occ`/`stops` assume a column `p` =
    * ' ' || lower(text) || ' ' in scope; `qualityExprSql` assumes
    * token_cnt/punct_cnt/stop_en/chars/nonspace.
    */
  private def occ(w: String) =
    s"CAST((length(p) - length(replace(p, ' $w ', ''))) / ${w.length + 2} AS INT)"
  private def stops(ws: Seq[String]) = ws.map(occ).mkString("(", " + ", ")")
  private val qualityComponentsSql =
    """CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS token_cnt,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_cnt,
      |  CAST(length(text) AS DOUBLE) AS chars,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS nonspace""".stripMargin
  private val qualityExprSql =
    """(
      |   0.25 * LEAST(CAST(token_cnt AS DOUBLE) / 100.0, 1.0) +
      |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN nonspace / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) +
      |   0.25 * (1.0 - LEAST((CASE WHEN chars > 0 THEN CAST(punct_cnt AS DOUBLE) / chars ELSE 1.0 END) * 10.0, 1.0)) +
      |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN CAST(stop_en AS DOUBLE) / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
      | )""".stripMargin

  private def textProfileSql: String = {
    s"""WITH base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents),
       | c AS (SELECT doc_id, text,
       |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INT) END AS token_cnt,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_cnt,
       |  ${stops(TextFunctions.EnStops)} AS stop_en,
       |  ${stops(TextFunctions.DeStops)} AS stop_de,
       |  ${stops(TextFunctions.EsStops)} AS stop_es,
       |  ${stops(TextFunctions.FrStops)} AS stop_fr,
       |  CAST(length(text) AS DOUBLE) AS chars,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nonspace
       | FROM base)
       |SELECT doc_id, token_cnt, punct_cnt, stop_en,
       | CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
       |      WHEN stop_en = 0 AND stop_de = 0 AND stop_es = 0 AND stop_fr = 0 THEN 'unknown'
       |      WHEN stop_en >= stop_de AND stop_en >= stop_es AND stop_en >= stop_fr THEN 'en'
       |      WHEN stop_de >= stop_es AND stop_de >= stop_fr THEN 'de'
       |      WHEN stop_es >= stop_fr THEN 'es' ELSE 'fr' END AS lang_pred,
       | (
       |   0.25 * LEAST(CAST(token_cnt AS DOUBLE) / 100.0, 1.0) +
       |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN nonspace / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) +
       |   0.25 * (1.0 - LEAST((CASE WHEN chars > 0 THEN CAST(punct_cnt AS DOUBLE) / chars ELSE 1.0 END) * 10.0, 1.0)) +
       |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN CAST(stop_en AS DOUBLE) / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
       | ) AS quality
       |FROM c ORDER BY doc_id""".stripMargin
  }

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

  /** Shared CTE prefix for the deterministic sign-LSH oracles: `e`
    * (vectors as doubles), `pl` (md5-parity +-1 plane components), `dots`
    * (per-plane projections summed in ascending dim order — the same
    * sequential order as `VectorFunctions.signBucketsOf`), `bk` (bucket
    * bitmask per vector x table, bit p set iff dot >= 0).
    */
  /** The md5 sign-plane CTE (mirrors `VectorFunctions.md5SignPlanes`):
    * ONE definition of the parity formula for every LSH oracle —
    * `planesExpr` is a literal plane count or a scalar subquery.
    */
  private def signPlanesCte(nTables: Int, planesExpr: String): String =
    s"""pl AS (SELECT t.t AS t, p.p AS p, i.i AS i,
       |   CASE WHEN (instr('0123456789abcdef', substr(md5(t.t || ':' || p.p || ':' || i.i), 1, 1)) - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
       |  FROM (SELECT unnest(range(0, $nTables)) AS t) t,
       |       (SELECT unnest(range(0, $planesExpr)) AS p) p,
       |       (SELECT unnest(range(0, 64)) AS i) i)""".stripMargin

  /** Sign-bucket CTEs (`dots$suffix`/`bk$suffix`) for vectors in CTE
    * `src` (columns vec_id, v), against the shared `pl` planes. */
  private def signBucketCtes(src: String, suffix: String = "",
      mat: Boolean = false): String = {
    val kw = if (mat) "MATERIALIZED " else ""
    s"""dots$suffix AS (SELECT $src.vec_id, pl.t, pl.p, list_sum(list($src.v[pl.i + 1] * pl.s ORDER BY pl.i)) AS dot
       |          FROM $src, pl GROUP BY 1, 2, 3),
       | bk$suffix AS $kw(SELECT vec_id, t, SUM(CASE WHEN dot >= 0 THEN (1 << p) ELSE 0 END) AS bucket
       |        FROM dots$suffix GROUP BY 1, 2)""".stripMargin
  }

  /** `mat` forces `AS MATERIALIZED` on the multiply-referenced e/bk
    * CTEs — DuckDB inlines single-reference CTEs, and a consumer that
    * references them through a CHAIN of CTEs (the hnsw beam) re-expands
    * the whole bucket pipeline per reference (measured 140 s -> 2.8 s
    * at sf0.01). Values are unchanged: materialization is purely a
    * planning fence.
    */
  private def lshBucketCtes(nTables: Int, planesPerTable: Int,
      mat: Boolean = false): String = {
    val kw = if (mat) "MATERIALIZED " else ""
    s"""e AS $kw(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | ${signPlanesCte(nTables, planesPerTable.toString)},
       | ${signBucketCtes("e", mat = mat)}""".stripMargin
  }

  /** [[lshBucketCtes]] with the plane count computed BY THE SQL from the
    * corpus count — the mirror of `planesForOccupancy`'s integer
    * bit-length arithmetic (`LENGTH(bin(cells - 1))` ==
    * 64 - numberOfLeadingZeros(cells - 1); float LOG2 would risk a
    * cross-engine off-by-one at exact powers of two).
    */
  private def lshBucketCtesAuto(nTables: Int, targetBucket: Int,
      shrinkAnchorBits: Option[Int] = None): String = {
    // mirror of Dedup.embeddingNearDupLshAuto's scale-bend term: extra
    // planes = max(0, (bitLength(n-1) - anchor) // 2), exact on both
    // engines (// only ever applied to a non-negative operand after
    // the GREATEST clamp — and when negative, both engines' results
    // are clamped to 0 anyway)
    val extraSql = shrinkAnchorBits.fold("") { anchor =>
      s"""
         |     + GREATEST(0, ((CASE WHEN n <= 1 THEN 0 ELSE LENGTH(bin(n - 1)) END) - $anchor) // 2)""".stripMargin
    }
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       | pp AS (SELECT GREATEST(1, LEAST(20,
       |     (CASE WHEN cells <= 1 THEN 1 ELSE LENGTH(bin(cells - 1)) END)$extraSql)) AS p
       |   FROM (SELECT (COUNT(*) + ${targetBucket - 1}) // $targetBucket AS cells,
       |         COUNT(*) AS n FROM embeddings)),
       | ${signPlanesCte(nTables, "(SELECT p FROM pp)")},
       | ${signBucketCtes("e")}""".stripMargin
  }

  /** Full HNSW-lite mirror (graph build + unrolled beam), generated by
    * the same (k, m, ef, hops, maxBucket) the declared query passes to
    * [[graft.operators.Ann.hnswTopK]] — one loop emits one CTE block
    * per hop, so the SQL IS the set-step recurrence. Reuses the proven
    * md5 sign-plane bucket CTEs and the ordered-fold cosine.
    */
  /** The graph-build + unrolled-beam CTE chain (no WITH, no final
    * select) — shared by the ann_hnsw_topk mirror and the recall eval.
    * Ends at CTE `v<hops>` (the visited union). */
  private def hnswCtes(m: Int, ef: Int, hops: Int, maxBucket: Int): String = {
    // every CTE the hop chain references repeatedly is MATERIALIZED —
    // DuckDB otherwise re-inlines the whole upstream pipeline per
    // reference and the unrolled beam goes exponential (140 s -> 2.8 s
    // at sf0.01); values are identical, it's a planning fence only
    val hopCtes = (1 to hops).map { h =>
      val p = h - 1
      s""" c$h AS MATERIALIZED (SELECT DISTINCT f$p.query_id, adj.dst AS node
         |        FROM f$p JOIN adj ON adj.src = f$p.node
         |        WHERE NOT EXISTS (SELECT 1 FROM v$p
         |          WHERE v$p.query_id = f$p.query_id AND v$p.node = adj.dst)),
         | s$h AS MATERIALIZED (SELECT c$h.query_id, c$h.node, ${cosSql("q.qv", "ev.v")} AS cos
         |        FROM c$h JOIN q ON q.query_id = c$h.query_id
         |        JOIN e ev ON ev.vec_id = c$h.node),
         | f$h AS MATERIALIZED (SELECT query_id, node FROM (SELECT query_id, node,
         |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rk
         |          FROM s$h) WHERE rk <= $ef),
         | v$h AS MATERIALIZED (SELECT * FROM v$p UNION ALL SELECT * FROM s$h)""".stripMargin
    }.mkString(",\n")
    s"""${lshBucketCtes(8, 6, mat = true)},
       | okb AS (SELECT t, bucket FROM bk GROUP BY t, bucket HAVING COUNT(*) <= $maxBucket),
       | kept AS MATERIALIZED (SELECT a.vec_id, a.t, a.bucket FROM bk a
       |        JOIN okb ON okb.t = a.t AND okb.bucket = a.bucket),
       | pr AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |        FROM kept a JOIN kept b ON b.t = a.t AND b.bucket = a.bucket
       |        WHERE a.vec_id < b.vec_id),
       | sc0 AS MATERIALIZED (SELECT pr.src, pr.dst, ${cosSql("es.v", "ed.v")} AS cos
       |        FROM pr JOIN e es ON es.vec_id = pr.src
       |        JOIN e ed ON ed.vec_id = pr.dst),
       | sc AS (SELECT src, dst, cos FROM sc0
       |        UNION ALL SELECT dst AS src, src AS dst, cos FROM sc0),
       | de AS MATERIALIZED (SELECT src, dst FROM (SELECT src, dst,
       |          ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
       |          FROM sc) WHERE rk <= $m),
       | adj AS MATERIALIZED (SELECT src, dst FROM de UNION SELECT dst AS src, src AS dst FROM de),
       | q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       | qb AS (SELECT bk.vec_id AS query_id, bk.t, bk.bucket FROM bk WHERE bk.vec_id < 5),
       | c0 AS MATERIALIZED (SELECT DISTINCT qb.query_id, kc.vec_id AS node
       |        FROM qb JOIN kept kc ON kc.t = qb.t AND kc.bucket = qb.bucket
       |        WHERE kc.vec_id <> qb.query_id),
       | v0 AS MATERIALIZED (SELECT c0.query_id, c0.node, ${cosSql("q.qv", "ev.v")} AS cos
       |        FROM c0 JOIN q ON q.query_id = c0.query_id
       |        JOIN e ev ON ev.vec_id = c0.node),
       | f0 AS (SELECT query_id, node FROM (SELECT query_id, node,
       |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rk
       |          FROM v0) WHERE rk <= $ef),
       |$hopCtes""".stripMargin
  }

  private def hnswSql(k: Int, m: Int, ef: Int, hops: Int,
      maxBucket: Int): String =
    s"""WITH ${hnswCtes(m, ef, hops, maxBucket)},
       | fin AS (SELECT query_id, node, cos,
       |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rk
       |         FROM v$hops WHERE node <> query_id)
       |SELECT query_id, node AS neighbor_id, cos, CAST(rk AS INT) AS rank
       |FROM fin WHERE rk <= $k ORDER BY query_id, rank""".stripMargin

  /** Recall@k of the hnsw beam vs brute force — the hnsw member of the
    * ann_recall_* family, generated from the same CTE chain. */
  private def hnswRecallSql(k: Int, m: Int, ef: Int, hops: Int,
      maxBucket: Int): String =
    s"""WITH ${hnswCtes(m, ef, hops, maxBucket)},
       | fin AS (SELECT query_id, node,
       |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rk
       |         FROM v$hops WHERE node <> query_id),
       | hn AS (SELECT query_id, node AS neighbor_id FROM fin WHERE rk <= $k),
       | sb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |        ${cosSql("q.v", "c.v")} AS cos
       |       FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       | rb AS (SELECT query_id, neighbor_id,
       |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sb),
       | brute AS (SELECT query_id, neighbor_id FROM rb WHERE rank <= $k)
       |SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
       |  CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_hits,
       |  ROUND(CAST(COUNT(h.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
       |FROM brute b LEFT JOIN hn h
       |  ON h.query_id = b.query_id AND h.neighbor_id = b.neighbor_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  /** The ngram-Jaccard pair pipeline CTEs (documents + %7 dup injection
    * -> word 3-shingles -> df<=128-capped candidate self-join -> exact
    * Jaccard in `j`) — shared by `ngram_jaccard_pairs` and the
    * `dedup_clusters` connected-components oracle built on its edges.
    */
  /** BM25 scoring CTE chain (`bl`..`agg`) shared by `bm25_topk` and
    * `hybrid_rrf_topk`. Constants appear as the same arithmetic the
    * Spark side evaluates; DuckDB's `/` returns DOUBLE and its
    * decimal->double literal conversions land on the identical bits
    * (probed: `CAST(1.2 AS DOUBLE)+1 = 2.2` is true), so the quantized
    * scores replay exactly.
    */
  private val bm25Ctes =
    """bl AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      | dls AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM bl),
      | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dls),
      | qtf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
      |        FROM (SELECT doc_id, dl, unnest(ws) AS tok FROM dls)
      |        WHERE tok IN ('spark', 'window', 'hash', 'merge') GROUP BY 1, 2, 3),
      | dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
      | sc AS (SELECT doc_id, LN(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1)
      |          / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS c
      |        FROM qtf JOIN dft USING (tok), st),
      | agg AS (SELECT doc_id, ROUND(SUM(c), 6) AS bm25 FROM sc GROUP BY 1)""".stripMargin

  private val ngramPairCtes =
    """u AS (SELECT doc_id, text FROM documents
      |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
      | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM u),
      | sh AS (SELECT DISTINCT doc_id AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
      |        FROM w WHERE len(ws) >= 3),
      | sizes AS (SELECT jid, COUNT(*) AS sz FROM sh GROUP BY 1),
      | shd AS (SELECT jid, sh, COUNT(*) OVER (PARTITION BY sh) AS df,
      |                 COUNT(*) OVER (PARTITION BY jid) AS sz FROM sh),
      | shr AS (SELECT jid, sh, df,
      |                 ROW_NUMBER() OVER (PARTITION BY jid ORDER BY df, md5(sh)) AS rn,
      |                 sz FROM shd),
      | pref AS (SELECT jid, sh FROM shr
      |          WHERE rn <= sz - CEIL(0.9 * sz) + 1 AND df BETWEEN 2 AND 128),
      | cand AS (SELECT DISTINCT x.jid AS id_a, y.jid AS id_b
      |          FROM pref x JOIN pref y ON x.sh = y.sh AND x.jid < y.jid),
      | inter AS (SELECT id_a, id_b, COUNT(*) AS i FROM cand
      |           JOIN sh x ON x.jid = id_a JOIN sh y ON y.jid = id_b AND x.sh = y.sh GROUP BY 1, 2),
      | j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
      |       FROM inter JOIN sizes sa ON sa.jid = id_a JOIN sizes sb ON sb.jid = id_b)""".stripMargin

  /** The LPA oracle scaffold: [[ngramPairCtes]] + thresholded pairs +
    * undirected-with-self edges + the two label-propagation sweeps
    * unrolled (final labels in table `l2(id, lbl)`, pairs in `p`).
    * Shared by `lpa_communities` and `lpa_modularity`.
    */
  private def lpaSweepCtes: String =
    s"""$ngramPairCtes,
       | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
       | ed AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p
       |        UNION SELECT id_a, id_a FROM p UNION SELECT id_b, id_b FROM p),
       | l0 AS (SELECT DISTINCT a AS id, a AS lbl FROM ed),
       | c1 AS (SELECT e.a, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM ed e JOIN l0 l ON l.id = e.b GROUP BY 1, 2),
       | n1 AS (SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a
       |          ORDER BY c DESC, lbl) AS rn FROM c1),
       | l1 AS (SELECT a AS id, lbl FROM n1 WHERE rn = 1),
       | c2 AS (SELECT e.a, l.lbl, CAST(COUNT(*) AS BIGINT) AS c
       |        FROM ed e JOIN l1 l ON l.id = e.b GROUP BY 1, 2),
       | n2 AS (SELECT a, lbl, ROW_NUMBER() OVER (PARTITION BY a
       |          ORDER BY c DESC, lbl) AS rn FROM c2),
       | l2 AS (SELECT a AS id, lbl FROM n2 WHERE rn = 1)""".stripMargin

  /** Shared scaffold of the two cross-corpus MinHash oracles
    * (`minhash_against`, `minhash_against_stream`): corpus + injected
    * incoming docs -> shingles per side -> k=12 md5-slice minima ->
    * 2x6 band signatures -> capped corpus buckets -> candidate pairs
    * (id_a = corpus, id_b = incoming). ONE definition — the two final
    * stages (exact Jaccard vs signature agreement) diverge after
    * `cand`, and a recipe change here changes both hash checks in
    * lockstep with the Scala side.
    */
  /** Banded-MinHash corpus-vs-incoming CTE chain, parameterized by the
    * incoming-set recipe (the declared queries reuse the same md5-slice
    * signature scheme against different injected/eval sets).
    */
  private def minhashAgainstCtesWith(incSql: String) = {
    val minCols = (0 until 12)
      .map(i => s"MIN(substr(md5('${i / 4}:' || sh), ${(i % 4) * 8 + 1}, 8)) AS h$i")
      .mkString(", ")
    val sig0 = (0 until 6).map(i => s"h$i").mkString(" || ")
    val sig1 = (6 until 12).map(i => s"h$i").mkString(" || ")
    s"""c AS (SELECT doc_id, text FROM documents),
       | inc AS ($incSql),
       | wc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM c),
       | shc AS (SELECT DISTINCT doc_id AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
       |         FROM wc WHERE len(ws) >= 3),
       | wi AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM inc),
       | shi AS (SELECT DISTINCT doc_id AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
       |         FROM wi WHERE len(ws) >= 3),
       | mhc AS (SELECT jid, $minCols FROM shc GROUP BY jid),
       | mhi AS (SELECT jid, $minCols FROM shi GROUP BY jid),
       | bc AS (SELECT jid, 0 AS band, $sig0 AS bsig FROM mhc UNION ALL SELECT jid, 1, $sig1 FROM mhc),
       | bi AS (SELECT jid, 0 AS band, $sig0 AS bsig FROM mhi UNION ALL SELECT jid, 1, $sig1 FROM mhi),
       | okc AS (SELECT band, bsig FROM bc GROUP BY band, bsig HAVING COUNT(*) <= 64),
       | bcc AS (SELECT bc.* FROM bc JOIN okc USING (band, bsig)),
       | cand AS (SELECT DISTINCT a.jid AS id_a, b.jid AS id_b FROM bcc a JOIN bi b USING (band, bsig))""".stripMargin
  }

  private val minhashAgainstCtes = minhashAgainstCtesWith(
    """SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      |         UNION ALL SELECT doc_id + 200000, text || ' zq' FROM documents WHERE doc_id % 11 = 0""".stripMargin)

  /** PageRank oracle: the same 3 unrolled sweeps with the same
    * quantization grid. The teleport and damping constants are Scala
    * doubles INTERPOLATED at full precision and cast to DOUBLE — DuckDB
    * would otherwise evaluate `1 - 0.85` in decimal (exactly 0.15),
    * diverging from Scala's `1.0 - damping` double by one ulp.
    */
  /** The PageRank sweep chain (nodes..r$iterations) over an already-
    * defined `e(src, dst)` CTE — shared by the supplier-graph query and
    * the TextRank word-graph query.
    */
  private def pageRankChain(iterations: Int, damping: Double, quantize: Int): String = {
    val tele = s"CAST(${1.0 - damping} AS DOUBLE)"
    val d = s"CAST($damping AS DOUBLE)"
    val sweeps = (1 to iterations).map { i =>
      s""" c$i AS (SELECT e.dst AS id, SUM(CAST(ROUND(r${i - 1}.r / deg.deg, 12) AS DECIMAL(30,12))) AS s
         |        FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src JOIN deg ON deg.src = e.src GROUP BY 1),
         | r$i AS (SELECT nodes.id, ROUND($tele / nn.n + $d * COALESCE(CAST(c$i.s AS DOUBLE), 0.0), $quantize) AS r
         |        FROM nodes LEFT JOIN c$i ON c$i.id = nodes.id, nn)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
       | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
       | r0 AS (SELECT id, ROUND(CAST(1.0 AS DOUBLE) / nn.n, $quantize) AS r FROM nodes, nn),
       |$sweeps""".stripMargin
  }

  private def pageRankSql(iterations: Int, damping: Double, quantize: Int): String =
    s"""WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       | ${pageRankChain(iterations, damping, quantize)}
       |SELECT id AS node, r AS rank FROM r$iterations ORDER BY node""".stripMargin

  /** Two-sweep Lloyd replay over any `e(vec_id, v)` source SQL —
    * mirrors [[graft.operators.Ann.kmeansFixed]] (md5 seeds, argmax
    * with smaller-cid ties, round-12 decimal sums, round-9 grid,
    * empty-cluster coalesce).
    */
  private def kmeansReplaySql(eSql: String, k: Int,
      idAlias: String = "vec_id"): String =
    s"""WITH ${kmeansReplayCtes(eSql, k)}
       |SELECT vec_id AS $idAlias, cid AS cluster_id FROM a2 ORDER BY 1""".stripMargin

  /** The WITH-body of the Lloyd replay (e .. a2) for composition. */
  private def kmeansReplayCtes(eSql: String, k: Int): String =
    s"""e AS ($eSql),
       | seeds AS (SELECT vec_id AS cid, v AS cv FROM e
       |           ORDER BY md5('42:' || vec_id), vec_id LIMIT $k),
       | s1 AS (SELECT e.vec_id, e.v, c.cid, ${cosSql("e.v", "c.cv")} AS cos FROM e CROSS JOIN seeds c),
       | a1 AS (SELECT vec_id, v, cid FROM (
       |          SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |          FROM s1) t WHERE rn = 1),
       | x1 AS (SELECT cid, CAST(t.d AS INT) AS d, a.v[CAST(t.d AS INT)] AS x
       |        FROM a1 a, LATERAL (SELECT unnest(range(1, 65)) AS d) t),
       | mm AS (SELECT cid, d,
       |          ROUND(CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS m
       |        FROM x1 GROUP BY 1, 2),
       | nc AS (SELECT cid, list(m ORDER BY d) AS nv FROM mm GROUP BY 1),
       | c2 AS (SELECT seeds.cid, COALESCE(nc.nv, seeds.cv) AS cv
       |        FROM seeds LEFT JOIN nc ON nc.cid = seeds.cid),
       | s2 AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cv")} AS cos FROM e CROSS JOIN c2 c),
       | a2 AS (SELECT vec_id, cid FROM (
       |          SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
       |          FROM s2) t WHERE rn = 1)""".stripMargin

  /** HITS oracle: unrolled normalized sweeps, same quantization grid
    * and decimal-sum discipline as [[pageRankSql]].
    */
  private def hitsSql(iterations: Int, quantize: Int): String = {
    def d12(expr: String) = s"CAST(SUM(CAST(ROUND($expr, 12) AS DECIMAL(30,12))) AS DOUBLE)"
    val sweeps = (1 to iterations).map { i =>
      val prevHub = if (i == 1) "s0" else s"sh${i - 1}"
      s""" ar$i AS (SELECT e.dst AS id, ${d12(s"$prevHub.hub")} AS ar
         |         FROM e JOIN $prevHub ON $prevHub.id = e.src GROUP BY 1),
         | at$i AS (SELECT ${d12("ar")} AS t FROM ar$i),
         | sa$i AS (SELECT nodes.id, ROUND(COALESCE(ar, 0.0) / at$i.t, $quantize) AS auth
         |         FROM nodes LEFT JOIN ar$i ON ar$i.id = nodes.id, at$i),
         | hr$i AS (SELECT e.src AS id, ${d12("auth")} AS hr
         |         FROM e JOIN sa$i ON sa$i.id = e.dst GROUP BY 1),
         | ht$i AS (SELECT ${d12("hr")} AS t FROM hr$i),
         | sh$i AS (SELECT nodes.id, ROUND(COALESCE(hr, 0.0) / ht$i.t, $quantize) AS hub
         |         FROM nodes LEFT JOIN hr$i ON hr$i.id = nodes.id, ht$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
       |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
       |           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       | nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
       | s0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
       |$sweeps
       |SELECT h.id AS node, h.hub, a.auth AS authority
       |FROM sh$iterations h JOIN sa$iterations a USING (id) ORDER BY 1""".stripMargin
  }

  /** Integer-exact feature-hashed doc vectors as an e(vec_id, v) source. */
  private val hashedVecSql: String =
    """SELECT doc_id AS vec_id, v FROM (
        |   WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tk FROM documents),
        |    tf AS (SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |    sg AS (SELECT doc_id, tk, tf, md5(tk) AS g FROM tf),
        |    con AS (SELECT doc_id, CAST(t.d AS INT) AS d,
        |             SUM(tf * (2 * (CAST(FLOOR((strpos('0123456789abcdef', substr(g, CAST(t.d AS INT) // 4 + 1, 1)) - 1)
        |                   / POWER(2, CAST(t.d AS INT) % 4)) AS INT) % 2) - 1)) AS x
        |            FROM sg, LATERAL (SELECT unnest(range(0, 64)) AS d) t GROUP BY 1, 2)
        |   SELECT doc_id, list(CAST(x AS DOUBLE) ORDER BY d) AS v FROM con GROUP BY 1)""".stripMargin

  /** `a`/`b` are full array-column references (e.g. "ea.v"). */
  private def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) /
       | (sqrt(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i]))) *
       |  sqrt(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i]))))""".stripMargin

  /** The 16x64 JL sign matrix the declared `ann_jl_topk` query projects
    * through — generated once from [[graft.operators.Ann.jlSigns]]; the
    * oracle's literal sign rows come from this same value.
    */
  private val JlSigns16: Array[Array[Double]] = graft.operators.Ann.jlSigns(16, 64)

  private def jlSignsSqlRows: String =
    JlSigns16.zipWithIndex.map { case (row, d) =>
      s"($d, [${row.map(v => if (v > 0) "1.0" else "-1.0").mkString(",")}])"
    }.mkString(", ")


  /** SQL mirror for the Lan-DeMets monitors: the group_sequential
    * grid/z replay with the boundary as a frozen CASE over the
    * driver-computed per-look literals. */
  private def ldOracleSql(spending: String): String = {
    val bs = graft.operators.AlphaSpending.ldBoundaries(5, 0.05, spending)
    val boundCase = bs.zipWithIndex
      .map { case (u, i) => s"WHEN ${i + 1} THEN CAST($u AS DOUBLE)" }
      .mkString("CASE k ", " ", " END")
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
       |        END AS z,
       |        $boundCase AS bound
       |       FROM cum),
       | de AS (SELECT k, nc, nt, xc, xt, z, bound,
       |        CASE WHEN z IS NOT NULL AND ABS(z) > bound THEN 'reject'
       |             ELSE 'continue' END AS decision FROM zt),
       | fc AS (SELECT MIN(k) AS mk FROM de WHERE decision = 'reject')
       |SELECT de.k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
       |  ROUND(z, 6) + 0e0 AS z, ROUND(bound, 6) AS bound, decision
       |FROM de, fc WHERE de.k <= COALESCE(fc.mk, 5) ORDER BY look""".stripMargin
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
       |        END AS z,
       |        $upCase AS up, $loCase AS lo
       |       FROM cum),
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
       |        END AS z
       |       FROM cum),
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
       |        END AS z
       |       FROM cum),
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
  def oracleSql: Map[String, String] = Map(
    "chunk_retrieval" ->
      s"""WITH w0 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | n0 AS (SELECT doc_id, ws, len(ws) AS nw,
         |        1 + GREATEST(0, CAST(FLOOR((len(ws) - 32 + 23) / 24.0) AS INT)) AS nc FROM w0),
         | ch AS (SELECT doc_id * 16 + chunk_id AS cid,
         |         array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
         |        FROM (SELECT doc_id, ws, CAST(unnest(range(0, nc)) AS INT) AS chunk_id FROM n0) e0),
         | ctok AS (SELECT cid, unnest(regexp_split_to_array(trim(chunk_text), '\\s+')) AS tk FROM ch),
         | ctf AS (SELECT cid, tk, CAST(COUNT(*) AS BIGINT) AS tf FROM ctok GROUP BY 1, 2),
         | csg AS (SELECT cid, tk, tf, md5(tk) AS g FROM ctf),
         | ccon AS (SELECT cid, CAST(t.d AS INT) AS d,
         |           SUM(tf * (2 * (CAST(FLOOR((strpos('0123456789abcdef', substr(g, CAST(t.d AS INT) // 4 + 1, 1)) - 1)
         |                 / POWER(2, CAST(t.d AS INT) % 4)) AS INT) % 2) - 1)) AS x
         |          FROM csg, LATERAL (SELECT unnest(range(0, 64)) AS d) t GROUP BY 1, 2),
         | cv AS (SELECT cid, list(CAST(x AS DOUBLE) ORDER BY d) AS v FROM ccon GROUP BY 1),
         | qv AS (SELECT * FROM ($hashedVecSql) hh WHERE vec_id < 3),
         | s AS (SELECT q.vec_id AS query_id, c.cid, ${cosSql("q.v", "c.v")} AS cos
         |       FROM qv q, cv c WHERE c.cid // 16 <> q.vec_id),
         | bc AS (SELECT query_id, cid // 16 AS doc_id, CAST(cid % 16 AS INT) AS best_chunk, cos,
         |        ROW_NUMBER() OVER (PARTITION BY query_id, cid // 16 ORDER BY cos DESC, cid) AS rn FROM s),
         | d AS (SELECT query_id, doc_id, best_chunk, cos AS score FROM bc WHERE rn = 1),
         | r AS (SELECT query_id, doc_id, best_chunk, score,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank FROM d)
         |SELECT query_id, doc_id, best_chunk, score, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "maxsim_topk" ->
      """WITH ct AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tk FROM documents),
        | qt AS (SELECT DISTINCT doc_id AS query_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS qtk
        |        FROM documents WHERE doc_id < 3),
        | vb AS (SELECT tk,
        |         CAST(list_sum([(instr('0123456789abcdef', substr(md5(tk), p, 1)) - 1) * power(16, 8 - p) for p in range(1, 9)]) AS BIGINT) AS t1,
        |         CAST(list_sum([(instr('0123456789abcdef', substr(md5(tk), 8 + p, 1)) - 1) * power(16, 8 - p) for p in range(1, 9)]) AS BIGINT) AS t2
        |        FROM (SELECT DISTINCT tk FROM ct) x),
        | qv AS (SELECT qtk,
        |         CAST(list_sum([(instr('0123456789abcdef', substr(md5(qtk), p, 1)) - 1) * power(16, 8 - p) for p in range(1, 9)]) AS BIGINT) AS q1,
        |         CAST(list_sum([(instr('0123456789abcdef', substr(md5(qtk), 8 + p, 1)) - 1) * power(16, 8 - p) for p in range(1, 9)]) AS BIGINT) AS q2
        |        FROM (SELECT DISTINCT qtk FROM qt) x),
        | sims AS (SELECT tk, qtk,
        |           CAST(32 - bit_count(xor(t1, q1)) - bit_count(xor(t2, q2)) AS DOUBLE) / 32 AS cos
        |          FROM vb, qv),
        | m AS (SELECT ct.doc_id, s.qtk, MAX(s.cos) AS m FROM ct JOIN sims s USING (tk) GROUP BY 1, 2),
        | sc AS (SELECT qt.query_id, m.doc_id, SUM(m.m) AS maxsim
        |        FROM qt JOIN m USING (qtk) WHERE m.doc_id <> qt.query_id GROUP BY 1, 2),
        | r AS (SELECT query_id, doc_id, maxsim,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY maxsim DESC, doc_id) AS INT) AS rank FROM sc)
        |SELECT query_id, doc_id, maxsim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "rollup_nation_revenue" ->
      """SELECT coalesce(r_name, '(all)') AS region,
        |       coalesce(n_name, '(all)') AS nation,
        |       CAST(GROUPING(r_name, n_name) AS INT) AS gid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY gid, region, nation""".stripMargin,
    "grouping_sets_revenue" ->
      """SELECT coalesce(r_name, '(all)') AS region,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       CAST(GROUPING(r_name, o_orderpriority) AS INT) AS gid,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        |ORDER BY gid, region, priority""".stripMargin,
    "trigram_backoff" ->
      """WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | tr AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
        | ev AS (SELECT * FROM d WHERE doc_id % 7 = 0),
        | t3 AS (SELECT ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c, COUNT(*) AS c3
        |        FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM tr WHERE len(ws) >= 3) x GROUP BY 1,2,3),
        | b2 AS (SELECT ws[i] AS a, ws[i+1] AS b, COUNT(*) AS c2
        |        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM tr WHERE len(ws) >= 2) x GROUP BY 1,2),
        | u1 AS (SELECT u, COUNT(*) AS c1 FROM (SELECT unnest(ws) AS u FROM tr) x GROUP BY 1),
        | nt AS (SELECT COUNT(*) AS n, COUNT(DISTINCT u) AS v FROM (SELECT unnest(ws) AS u FROM tr) x),
        | e3 AS (SELECT doc_id, ws[i] AS a, ws[i+1] AS b, ws[i+2] AS c
        |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM ev WHERE len(ws) >= 3) x),
        | sc AS (SELECT e3.doc_id,
        |         CASE WHEN t3.c3 IS NOT NULL THEN CAST(t3.c3 AS DOUBLE) / ab.c2
        |              WHEN bc.c2 IS NOT NULL THEN 0.4 * bc.c2 / ub.c1
        |              ELSE 0.16 * (COALESCE(uc.c1, 0) + 1) / (nt.n + nt.v) END AS score
        |        FROM e3
        |        LEFT JOIN t3 ON t3.a = e3.a AND t3.b = e3.b AND t3.c = e3.c
        |        LEFT JOIN b2 ab ON ab.a = e3.a AND ab.b = e3.b
        |        LEFT JOIN b2 bc ON bc.a = e3.b AND bc.b = e3.c
        |        LEFT JOIN u1 ub ON ub.u = e3.b
        |        LEFT JOIN u1 uc ON uc.u = e3.c, nt)
        |SELECT doc_id, ROUND(AVG(LN(score)), 6) AS logprob_bo, CAST(COUNT(*) AS BIGINT) AS n_trigrams
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin,
    "partition_fingerprints" ->
      """WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR) || ':' || text) AS hx FROM documents),
        | b AS (SELECT CAST(((instr('0123456789abcdef', substr(hx, 13, 1)) - 1) * 16 +
        |                    (instr('0123456789abcdef', substr(hx, 14, 1)) - 1)) % 64 AS INT) AS bucket,
        |        CAST(list_sum([(instr('0123456789abcdef', substr(hx, k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT) AS h
        |       FROM h)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows, bit_xor(h) AS fingerprint
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "chunk_documents" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | n AS (SELECT doc_id, ws, len(ws) AS nw,
        |        1 + GREATEST(0, CAST(FLOOR((len(ws) - 32 + 23) / 24.0) AS INT)) AS nc FROM w),
        | e AS (SELECT doc_id, ws, nw, CAST(unnest(range(0, nc)) AS INT) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        |  CAST(LEAST(32, nw - chunk_id * 24) AS INT) AS n_tokens,
        |  array_to_string(ws[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,
    "ann_jl_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | sg AS (SELECT * FROM (VALUES $jlSignsSqlRows) AS t(d, s)),
         | p AS (SELECT vec_id, list(y ORDER BY d) AS pv FROM (
         |        SELECT e.vec_id, sg.d, list_sum(list_transform(range(1, 65), i -> e.v[i] * sg.s[i])) AS y
         |        FROM e, sg) yy GROUP BY vec_id),
         | q AS (SELECT * FROM p WHERE vec_id < 5),
         | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |   list_sum(list_transform(range(1, 17), i -> q.pv[i] * c.pv[i])) /
         |   (sqrt(list_sum(list_transform(range(1, 17), i -> q.pv[i] * q.pv[i]))) *
         |    sqrt(list_sum(list_transform(range(1, 17), i -> c.pv[i] * c.pv[i])))) AS cos
         |   FROM q, p c WHERE c.vec_id <> q.vec_id),
         | r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |        FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "smooth_gaussian" -> smoothGaussianSql,
    "split_overlap" ->
      """WITH r AS (SELECT user_id, event_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events),
        | e AS (SELECT user_id, event_id, rn,
        |        unnest(generate_series(CASE WHEN rn <= 100 THEN 0 ELSE (rn - 100 + 49) // 50 END,
        |                               (rn - 1) // 50)) AS seg
        |        FROM r)
        |SELECT user_id, seg, rn - 1 - seg * 50 AS pos, event_id FROM e ORDER BY user_id, seg, pos""".stripMargin,
    "sample_at_most" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  ORDER BY md5('42:' || o_orderkey), o_orderkey LIMIT 100)
        |ORDER BY o_orderkey""".stripMargin,
    "sample_stratified" ->
      """WITH c AS (SELECT c_mktsegment AS k, COUNT(*) AS cnt FROM customer GROUP BY 1),
        | m AS (SELECT MIN(cnt) AS t FROM c),
        | r AS (SELECT c_custkey, c_mktsegment,
        |        ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY md5('42:' || c_custkey), c_custkey) AS rn
        |       FROM customer)
        |SELECT c_custkey, c_mktsegment FROM r, m WHERE rn <= m.t
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "sample_weighted_replace" ->
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
        |FROM d JOIN c ON d.u >= c.hi - c.wc AND d.u < c.hi ORDER BY d.j""".stripMargin,
    "simhash_docs" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | h AS (SELECT doc_id, md5(tok) AS m FROM toks),
        | bits AS (SELECT doc_id, j.j AS j,
        |    CASE WHEN ((instr('0123456789abcdef', substr(m, 16 - (j.j // 4), 1)) - 1) & (1 << (j.j % 4))) > 0 THEN 1 ELSE -1 END AS contrib
        |  FROM h, (SELECT unnest(range(0, 64)) AS j) j),
        | s AS (SELECT doc_id, j, SUM(contrib) AS s FROM bits GROUP BY 1, 2),
        | nib AS (SELECT doc_id, j // 4 AS nb, SUM(CASE WHEN s > 0 THEN (1 << (j % 4)) ELSE 0 END) AS nv FROM s GROUP BY 1, 2)
        |SELECT doc_id, string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1), '' ORDER BY nb DESC) AS simhash
        |FROM nib GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "minhash_pairs" ->
      s"""WITH $minhashPairsMd5Ctes
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "blocking_quality" ->
      s"""WITH $minhashPairsMd5Ctes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
         | truth AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents
         |           WHERE doc_id % 7 = 0
         |             AND len(regexp_split_to_array(trim(text), '\\s+')) >= 3),
         | nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM u),
         | np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM p),
         | nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
         | nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM truth t
         |        WHERE EXISTS (SELECT 1 FROM p
         |                      WHERE p.id_a = t.id_a AND p.id_b = t.id_b))
         |SELECT n_docs, n_pairs, n_truth, n_found,
         |  ROUND(CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) AS recall,
         |  ROUND(1e0 - CAST(n_pairs AS DOUBLE)
         |    / (CAST(n_docs AS DOUBLE) * (CAST(n_docs AS DOUBLE) - 1) / 2), 9) AS reduction_ratio
         |FROM nd, np, nt, nf""".stripMargin,
    "embedding_near_dup" ->
      s"""WITH ${lshBucketCtesAuto(8, 128, shrinkAnchorBits = Some(11))},
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |          FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         | s AS (SELECT id_a, id_b, ${cosSql("ea.v", "eb.v")} AS cos
         |       FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "embedding_near_dup_lsh" ->
      s"""WITH ${lshBucketCtesAuto(16, 32)},
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |          FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         | s AS (SELECT id_a, id_b, ${cosSql("ea.v", "eb.v")} AS cos
         |       FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "embedding_against" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | ei AS (SELECT vec_id + 500000 AS vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings WHERE vec_id % 9 = 0
         |        UNION ALL
         |        SELECT vec_id + 600000, [CASE WHEN i = 1 THEN 0.0 ELSE CAST(embedding[i] AS DOUBLE) END for i in range(1, 65)]
         |        FROM embeddings WHERE vec_id % 13 = 0),
         | ${signPlanesCte(8, "4")},
         | ${signBucketCtes("e", "c")},
         | ${signBucketCtes("ei", "i")},
         | okc AS (SELECT t, bucket FROM bkc GROUP BY t, bucket HAVING COUNT(*) <= 256),
         | bcc AS (SELECT bkc.* FROM bkc JOIN okc USING (t, bucket)),
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b FROM bcc a JOIN bki b USING (t, bucket)),
         | s AS (SELECT id_a, id_b, ${cosSql("ea.v", "eb.v")} AS cos
         |       FROM cand JOIN e ea ON ea.vec_id = id_a JOIN ei eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "embedding_near_dup_auto" ->
      s"""WITH ${lshBucketCtesAuto(8, 64)},
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |          FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         | s AS (SELECT id_a, id_b, ${cosSql("ea.v", "eb.v")} AS cos
         |       FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    // semantic dedup mirror: same md5 centroid pick, same argmax
    // (ccos DESC, cid) tie-break, same lower-id flagging; cluster cap
    // mirrored with HAVING
    "semantic_dedup" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY md5('42:' || vec_id), vec_id LIMIT 8),
         | ca AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS ccos FROM e, cents c),
         | assign AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | ok AS (SELECT cid FROM assign GROUP BY cid HAVING COUNT(*) <= 4096),
         | ac AS (SELECT assign.* FROM assign JOIN ok USING (cid)),
         | dup AS (SELECT DISTINCT hi.vec_id FROM ac hi JOIN ac lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
         |         JOIN e eh ON eh.vec_id = hi.vec_id JOIN e el ON el.vec_id = lo.vec_id
         |         WHERE ${cosSql("eh.v", "el.v")} >= 0.3)
         |SELECT a.vec_id, a.cid AS cluster_id, (d.vec_id IS NULL) AS keep
         |FROM assign a LEFT JOIN dup d ON d.vec_id = a.vec_id ORDER BY a.vec_id""".stripMargin,
    "ann_ivf_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY md5('42:' || vec_id), vec_id LIMIT 8),
         | ca AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS ccos FROM e, cents c),
         | assign AS (SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca WHERE vec_id < 5) WHERE rn <= 2),
         | cand AS (SELECT DISTINCT query_id, neighbor_id FROM probe JOIN assign USING (cid) WHERE neighbor_id <> query_id),
         | s AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    // frozen-k-means IVF mirror: the ivf_topk CTE chain with the cents
    // CTE generated from the IvfCentroids literal instead of md5
    // sampling — same argmax-cosine assignment (cid-ascending
    // tie-break), same nProbe=2 probing, same exact rerank
    "ann_ivf_kmeans_topk" -> {
      val centRows = IvfCentroids.sqlLists.zipWithIndex
        .map { case (l, i) => s"($i, $l)" }.mkString(",\n   ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cents AS (SELECT cid, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec
         |   FROM (VALUES
         |   $centRows) t(cid, cvec)),
         | ca AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS ccos FROM e, cents c),
         | assign AS (SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca WHERE vec_id < 5) WHERE rn <= 2),
         | cand AS (SELECT DISTINCT query_id, neighbor_id FROM probe JOIN assign USING (cid) WHERE neighbor_id <> query_id),
         | s AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // ADC replay of the frozen PqCodebook literal, single-sourced like
    // the BPE fold: same l2-normalize, same per-subspace squared-L2
    // folds (range-indexed list_sum — the validated ordered-fold mirror
    // of Spark's `aggregate`), first-match argmin via
    // list_position(list_min), 1-based table lookups summed in the same
    // left-associative order as Spark's zip_with fold.
    "ann_pq_adc_topk" -> {
      import PqSqlBits._
      s"""WITH cb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS ($normCte),
         | c AS (SELECT vec_id AS neighbor_id, $codes AS codes FROM n, cb),
         | q AS (SELECT vec_id AS query_id, $dts FROM n, cb WHERE vec_id < 5),
         | s AS (SELECT q.query_id, c.neighbor_id, ROUND($adist, 6) AS adist FROM q, c WHERE c.neighbor_id <> q.query_id),
         | r AS (SELECT query_id, neighbor_id, adist,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, adist, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // IVF-PQ = the ivf_topk cell CTEs (md5-sampled centroids, cosine
    // assignment/probing) composed with the PQ encode/ADC CTEs — both
    // generated from the same frozen artifacts the Spark side uses
    "ann_ivf_pq_topk" -> {
      import PqSqlBits._
      s"""WITH cb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY md5('42:' || vec_id), vec_id LIMIT 8),
         | ca AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS ccos FROM e, cents c),
         | assign AS (SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca WHERE vec_id < 5) WHERE rn <= 2),
         | n AS ($normCte),
         | c AS (SELECT vec_id AS neighbor_id, $codes AS codes FROM n, cb),
         | q AS (SELECT vec_id AS query_id, $dts FROM n, cb WHERE vec_id < 5),
         | cand AS (SELECT probe.query_id, assign.neighbor_id FROM probe JOIN assign USING (cid)
         |          WHERE assign.neighbor_id <> probe.query_id),
         | s AS (SELECT cand.query_id, cand.neighbor_id, ROUND($adist, 6) AS adist
         |       FROM cand JOIN q ON q.query_id = cand.query_id JOIN c ON c.neighbor_id = cand.neighbor_id),
         | r AS (SELECT query_id, neighbor_id, adist,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, adist, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    // compressed-domain dedup mirror: same frozen-codebook encode, group
    // on the full code tuple
    "pq_code_dups" -> {
      import PqSqlBits._
      s"""WITH cb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS ($normCte),
         | c AS (SELECT vec_id, $codes AS codes FROM n, cb)
         |SELECT array_to_string(codes, '-') AS code_key,
         |       CAST(MIN(vec_id) AS BIGINT) AS keep_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM c GROUP BY codes HAVING COUNT(*) >= 2 ORDER BY code_key, keep_id""".stripMargin
    },
    // multi-index probing mirror: same frozen-codebook encode, the same
    // 4 leave-one-out masked keys (slot's code -> 0), the same window
    // bucket cap, exact-cosine verify over the raw vectors
    "pq_subcode_pairs" -> {
      import PqSqlBits._
      s"""WITH cb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS ($normCte),
         | c AS (SELECT vec_id, $codes AS codes FROM n, cb),
         | k AS (SELECT vec_id, mi AS slot,
         |        array_to_string(list_transform(range(1, 5),
         |          j -> CASE WHEN j = mi + 1 THEN 0 ELSE codes[j] END), '-') AS key
         |       FROM c, (SELECT unnest(range(4)) AS mi)),
         | capped AS (SELECT vec_id, slot, key FROM (
         |    SELECT vec_id, slot, key, COUNT(*) OVER (PARTITION BY slot, key) AS bsz FROM k)
         |   WHERE bsz <= 4096),
         | pairs AS (SELECT DISTINCT a.vec_id AS lo_id, b.vec_id AS hi_id
         |           FROM capped a JOIN capped b
         |             ON a.slot = b.slot AND a.key = b.key AND a.vec_id < b.vec_id),
         | vv AS (SELECT p.lo_id, p.hi_id, ROUND(${cosSql("x.v", "y.v")}, 6) AS cosine
         |        FROM pairs p JOIN e x ON x.vec_id = p.lo_id JOIN e y ON y.vec_id = p.hi_id)
         |SELECT lo_id, hi_id, cosine FROM vv WHERE cosine >= 0.3 ORDER BY lo_id, hi_id""".stripMargin
    },
    "bpe_tokens_pretok" -> {
      // same single-sourced fold as bpe_tokens_learned, applied to class
      // runs (regexp_extract_all) instead of whitespace words; empty
      // match list sums to NULL in DuckDB, hence the coalesce
      val sep = "␟"
      val fold = bpeMergeTable.foldLeft(s"regexp_replace(w, '(?s)(.)', '\\1$sep', 'g')") {
        case (acc, (a, b)) => s"replace($acc, '$a$sep$b', '$a$b')"
      }
      s"""SELECT doc_id,
         | CAST(coalesce(list_sum(list_transform(
         |   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+'),
         |   w -> len(string_split($fold, '$sep')) - 1)), 0) AS INT) AS bpe_cnt
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // next-fit packing replayed SEQUENTIALLY: the recursive CTE steps
    // one row per iteration in doc_id order — exactly the single-
    // partition greedy scan the declared query pins
    "pack_sequences" ->
      """WITH RECURSIVE toks AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |    row_number() OVER (ORDER BY doc_id) AS rn
        |  FROM documents
        |), pack AS (
        |  SELECT doc_id, n_tokens, rn,
        |    CAST(0 AS BIGINT) AS bin_id, n_tokens AS used, 0 AS pos_in_bin
        |  FROM toks WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.n_tokens, t.rn,
        |    CASE WHEN p.used + t.n_tokens > 256 THEN p.bin_id + 1 ELSE p.bin_id END,
        |    CASE WHEN p.used + t.n_tokens > 256 THEN t.n_tokens ELSE p.used + t.n_tokens END,
        |    CASE WHEN p.used + t.n_tokens > 256 THEN 0 ELSE p.pos_in_bin + 1 END
        |  FROM toks t JOIN pack p ON t.rn = p.rn + 1
        |)
        |SELECT doc_id, n_tokens, bin_id, CAST(pos_in_bin AS INT) AS pos_in_bin
        |FROM pack ORDER BY doc_id""".stripMargin,
    // global running sum over the md5 order — DuckDB (single-node) may
    // use the plain window the Spark side two-phases away
    "token_budget_select" ->
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum_tokens FROM b)
        |SELECT doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 3000 ORDER BY cum_tokens""".stripMargin,
    // Gopher gate mirror: same divisions on the same doubles, CASE order
    // = GopherRuleNames order, concat_ws skipping the NULL (passed) rules
    "gopher_filter" ->
      s"""WITH w AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p,
        |   CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |        ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
        |  FROM documents),
        | c AS (SELECT doc_id,
        |   CAST(len(words) AS INT) AS wc,
        |   CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nonspace,
        |   CAST((length(text) - length(replace(text, '#', ''))) AS INT)
        |     + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INT) AS sym_cnt,
        |   CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS INT) AS alpha_cnt,
        |   ${stops(graft.functions.TextFunctions.EnStops)} AS stop_en
        |  FROM w),
        | d AS (SELECT doc_id, wc AS word_cnt,
        |   CASE WHEN wc > 0 THEN nonspace / CAST(wc AS DOUBLE) ELSE 0.0 END AS mean_wlen,
        |   CASE WHEN wc > 0 THEN CAST(sym_cnt AS DOUBLE) / CAST(wc AS DOUBLE) ELSE 0.0 END AS symbol_ratio,
        |   CASE WHEN wc > 0 THEN CAST(alpha_cnt AS DOUBLE) / CAST(wc AS DOUBLE) ELSE 0.0 END AS alpha_frac,
        |   stop_en FROM c)
        |SELECT doc_id, word_cnt, mean_wlen, symbol_ratio, alpha_frac, stop_en,
        |  (word_cnt BETWEEN 50 AND 100000) AND (mean_wlen BETWEEN 3.0 AND 10.0)
        |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_en >= 2 AS keep,
        |  concat_ws(',',
        |    CASE WHEN NOT (word_cnt BETWEEN 50 AND 100000) THEN 'word_count' END,
        |    CASE WHEN NOT (mean_wlen BETWEEN 3.0 AND 10.0) THEN 'word_length' END,
        |    CASE WHEN NOT (symbol_ratio <= 0.1) THEN 'symbol_ratio' END,
        |    CASE WHEN NOT (alpha_frac >= 0.8) THEN 'alpha_ratio' END,
        |    CASE WHEN NOT (stop_en >= 2) THEN 'stopwords' END) AS reasons
        |FROM d ORDER BY doc_id""".stripMargin,
    // span dedup mirror: same md5 window digests, same df band, same
    // gaps-and-islands fusion (NULL lag -> new island in BOTH engines)
    "dup_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
        | pos AS (
        |  SELECT docs.doc_id, CAST(t.g AS INT) AS pos,
        |         md5(substr(docs.text, CAST(t.g AS INT) + 1, 30)) AS h
        |  FROM docs, LATERAL (SELECT unnest(range(0, greatest(length(docs.text) - 30, -1) + 1, 10)) AS g) t),
        | hot AS (SELECT h FROM pos GROUP BY h
        |         HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 1024),
        | fl AS (SELECT p.doc_id, p.pos FROM pos p JOIN hot USING (h)),
        | br AS (SELECT doc_id, pos,
        |         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 30
        |              THEN 0 ELSE 1 END AS brk
        |        FROM fl),
        | isl AS (SELECT doc_id, pos,
        |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM br)
        |SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
        |       CAST(MAX(pos) + 30 AS INT) AS span_end,
        |       CAST(COUNT(*) AS BIGINT) AS n_windows
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    // winnowing mirror: same md5 gram digests, same enc = hash ++
    // (10^9 - pos) rightmost-min encoding, same full-window filter
    "winnow_fingerprints" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 11),
        | g AS (SELECT doc_id, n - 7 AS ng, CAST(t.i AS INT) AS pos,
        |         md5(substr(text, CAST(t.i AS INT) + 1, 8))
        |           || lpad(CAST(1000000000 - CAST(t.i AS INT) AS VARCHAR), 10, '0') AS enc
        |       FROM d, LATERAL (SELECT unnest(range(0, n - 7)) AS i) t),
        | m AS (SELECT doc_id, pos, ng,
        |         MIN(enc) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM g),
        | f AS (SELECT DISTINCT doc_id, sel FROM m WHERE pos <= ng - 4)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp,
        |       CAST(COUNT(DISTINCT substr(sel, 1, 32)) AS BIGINT) AS n_uniq
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "winnow_overlap_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
        | d AS (SELECT doc_id, text, length(text) AS n FROM docs WHERE length(text) >= 11),
        | g AS (SELECT doc_id, n - 7 AS ng, CAST(t.i AS INT) AS pos,
        |         md5(substr(text, CAST(t.i AS INT) + 1, 8))
        |           || lpad(CAST(1000000000 - CAST(t.i AS INT) AS VARCHAR), 10, '0') AS enc
        |       FROM d, LATERAL (SELECT unnest(range(0, n - 7)) AS i) t),
        | m AS (SELECT doc_id, pos, ng,
        |         MIN(enc) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel FROM g),
        | u AS (SELECT DISTINCT doc_id, substr(sel, 1, 32) AS fp FROM m WHERE pos <= ng - 4),
        | c AS (SELECT doc_id, fp FROM (
        |         SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df FROM u)
        |       WHERE df <= 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM c a JOIN c b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING COUNT(*) >= 16 ORDER BY id_a, id_b""".stripMargin,
    "media_frames" ->
      """WITH m AS (SELECT doc_id, text, strlen(text) AS len FROM documents
        |           WHERE length(text) = strlen(text)),
        | f AS (SELECT doc_id, text, unnest(range(0, len // 64)) AS fi FROM m WHERE len >= 64),
        | k AS (SELECT doc_id, fi, md5(substring(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_md5
        |       FROM f WHERE fi % 2 = 0)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, frame_md5 FROM k
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "split_assign" -> {
      // the same left-to-right cumulative boundaries assignSplit builds,
      // injected at full precision so both engines compare identical doubles
      val bounds = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(("", 0.0)) { case ((_, acc), (n, f)) => (n, acc + f) }.tail
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN u < ${"%.17e".formatLocal(java.util.Locale.ROOT, hi)} THEN '$n'" }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id,
         |  CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || doc_id), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
         |    / 281474976710656.0 AS u
         |  FROM documents)
         |SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "ann_lsh_multiprobe" ->
      s"""WITH ${lshBucketCtes(8, 4)},
         | am AS (SELECT vec_id, t, p FROM (
         |    SELECT vec_id, t, p, ROW_NUMBER() OVER (PARTITION BY vec_id, t ORDER BY abs(dot), p) AS rn
         |    FROM dots WHERE vec_id < 5) WHERE rn = 1),
         | qp AS (SELECT vec_id, t, bucket FROM bk WHERE vec_id < 5
         |        UNION ALL
         |        SELECT b.vec_id, b.t, xor(b.bucket, (1 << am.p)) AS bucket
         |        FROM bk b JOIN am ON b.vec_id = am.vec_id AND b.t = am.t),
         | cand AS (SELECT DISTINCT qp.vec_id AS query_id, c.vec_id AS neighbor_id
         |          FROM qp JOIN bk c ON qp.t = c.t AND qp.bucket = c.bucket
         |          WHERE c.vec_id <> qp.vec_id),
         | s AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |        FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH ${lshBucketCtes(8, 4)},
         | cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |          FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
         |          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         | s AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |        FROM s)
         |SELECT query_id, neighbor_id, cos, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "ann_hnsw_topk" -> hnswSql(k = 5, m = 16, ef = 16, hops = 3, maxBucket = 256),
    "ann_recall_hnsw" -> hnswRecallSql(k = 10, m = 16, ef = 16, hops = 3, maxBucket = 256),
    "running_total_user" ->
      """SELECT user_id, event_id,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "pie_log10_orders" ->
      """WITH counts AS (SELECT CAST(CAST(FLOOR(LOG10(o_totalprice)) AS INT) AS VARCHAR) AS category,
        |                       CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM counts),
        | s AS (SELECT CASE WHEN CAST(cnt AS DOUBLE) / g <= 0.05 THEN 'Others' ELSE category END AS slice, cnt FROM counts, t),
        | a AS (SELECT slice, CAST(SUM(cnt) AS BIGINT) AS cnt FROM s GROUP BY 1)
        |SELECT slice, cnt, CAST(cnt AS DOUBLE) / g AS fraction FROM a, t ORDER BY slice""".stripMargin,
    "two_level_pie" ->
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
        |ORDER BY cat_total DESC, category, weight DESC, wedge""".stripMargin,
    "group_hist_price" ->
      """WITH mm AS (SELECT CAST(MIN(l_extendedprice) AS DOUBLE) AS glo, CAST(MAX(l_extendedprice) AS DOUBLE) AS ghi FROM lineitem),
        | c AS (SELECT l_returnflag AS grp,
        |        CAST(LEAST(FLOOR((l_extendedprice - glo) / (ghi - glo) * 20), 19) AS INT) AS bucket,
        |        glo, ghi, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM lineitem, mm WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2, 3, 4),
        | w AS (SELECT grp, bucket, glo, ghi, cnt, SUM(cnt) OVER (PARTITION BY grp) AS gtotal FROM c)
        |SELECT grp, bucket, glo + (ghi - glo) / 20 * bucket AS lo,
        |       glo + (ghi - glo) / 20 * (bucket + 1) AS hi, cnt,
        |       CAST(cnt AS DOUBLE) / (gtotal * ((ghi - glo) / 20)) AS density
        |FROM w ORDER BY grp, bucket""".stripMargin,
    "group_bar_hist" ->
      """WITH counts AS (SELECT o_orderpriority AS value, o_orderstatus AS grp, CAST(COUNT(*) AS BIGINT) AS cnt FROM orders GROUP BY 1, 2),
        | pct AS (SELECT value, grp, CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY grp) * 100.0 AS pct FROM counts),
        | wide AS (SELECT value,
        |   COALESCE(MAX(CASE WHEN grp = 'F' THEN pct END), 0.0) AS "F",
        |   COALESCE(MAX(CASE WHEN grp = 'O' THEN pct END), 0.0) AS "O",
        |   COALESCE(MAX(CASE WHEN grp = 'P' THEN pct END), 0.0) AS "P"
        |  FROM pct GROUP BY 1)
        |SELECT value, "F", "O", "P" FROM wide ORDER BY ("F" + "O" + "P") / 3 DESC, value LIMIT 4""".stripMargin,
    "corr_qty_price" ->
      "SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr FROM lineitem",
    "hist2d_qty_price" ->
      """WITH mm AS (SELECT CAST(MIN(l_quantity) AS DOUBLE) AS xlo, CAST(MAX(l_quantity) AS DOUBLE) AS xhi,
        |                   CAST(MIN(l_extendedprice) AS DOUBLE) AS ylo, CAST(MAX(l_extendedprice) AS DOUBLE) AS yhi FROM lineitem)
        |SELECT CAST(LEAST(FLOOR((l_quantity - xlo) / (xhi - xlo) * 8), 7) AS INT) AS bucket_x,
        |       CAST(LEAST(FLOOR((l_extendedprice - ylo) / (yhi - ylo) * 8), 7) AS INT) AS bucket_y,
        |       CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM lineitem, mm WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "coo_density" ->
      """WITH coo AS (SELECT l_suppkey, l_partkey FROM lineitem GROUP BY 1, 2)
        |SELECT CAST((SELECT COUNT(*) FROM coo) AS DOUBLE) /
        |       ((SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) * (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)) AS density""".stripMargin,
    "coo_todense" ->
      """WITH coo AS (SELECT l_suppkey AS row_key, l_returnflag AS col_key, SUM(l_quantity) AS value FROM lineitem GROUP BY 1, 2)
        |SELECT row_key,
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'A' THEN value END) AS DOUBLE), 0.0) AS "A",
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'N' THEN value END) AS DOUBLE), 0.0) AS "N",
        | COALESCE(CAST(MAX(CASE WHEN col_key = 'R' THEN value END) AS DOUBLE), 0.0) AS "R"
        |FROM coo GROUP BY row_key ORDER BY row_key""".stripMargin,
    "json_events" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "time_window_daily" ->
      """SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "graph_degrees" ->
      """WITH o AS (SELECT o_custkey AS id, CAST(COUNT(*) AS BIGINT) AS out_degree FROM orders GROUP BY 1),
        | i AS (SELECT o_orderkey AS id, CAST(COUNT(*) AS BIGINT) AS in_degree FROM orders GROUP BY 1)
        |SELECT COALESCE(o.id, i.id) AS id,
        |       COALESCE(out_degree, 0) AS out_degree,
        |       COALESCE(in_degree, 0) AS in_degree,
        |       COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS degree
        |FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id""".stripMargin,
    "graph_color_groups" ->
      """SELECT c_mktsegment AS color, CAST(COUNT(*) AS BIGINT) AS n_nodes
        |FROM customer GROUP BY 1 ORDER BY color""".stripMargin,
    "human_readable" -> {
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
    "concat_aligned" ->
      """WITH agg AS (SELECT o_custkey AS c_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders FROM orders GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, COALESCE(agg.n_orders, 0) AS n_orders
        |FROM customer c LEFT JOIN agg ON c.c_custkey = agg.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "bpe_tokens" ->
      """SELECT doc_id, CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+')) AS INT) AS bpe_cnt
        |FROM documents ORDER BY doc_id""".stripMargin,
    "bpe_tokens_learned" -> {
      // the identical replace fold bpeCount applies, generated from the
      // SAME bpeMergeTable literal (single source — a table edit changes
      // both engines in lockstep)
      val sep = "␟"
      // (?s) on BOTH engines: Java dot excludes U+2028/29/NEL, RE2 dot
      // only \n — DOTALL makes the char interspersion agree everywhere.
      val fold = bpeMergeTable.foldLeft(s"regexp_replace(w, '(?s)(.)', '\\1$sep', 'g')") {
        case (acc, (a, b)) => s"replace($acc, '$a$sep$b', '$a$b')"
      }
      s"""SELECT doc_id,
         | CASE WHEN trim(text) = '' THEN 0 ELSE CAST(list_sum(list_transform(
         |   regexp_split_to_array(trim(text), '\\s+'),
         |   w -> len(string_split($fold, '$sep')) - 1)) AS INT) END AS bpe_cnt
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // compression-eval mirror: the same generated replace fold, per-doc
    // char/token counts aggregated by source
    "bpe_compression_eval" -> {
      val sep = "␟"
      val fold = bpeMergeTable.foldLeft(s"regexp_replace(w, '(?s)(.)', '\\1$sep', 'g')") {
        case (acc, (a, b)) => s"replace($acc, '$a$sep$b', '$a$b')"
      }
      s"""WITH b AS (SELECT source, CAST(length(text) AS BIGINT) AS ch,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE CAST(list_sum(list_transform(
         |    regexp_split_to_array(trim(text), '\\s+'),
         |    w -> len(string_split($fold, '$sep')) - 1)) AS BIGINT) END AS tk
         |  FROM documents),
         | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(ch) AS BIGINT) AS n_chars,
         |        CAST(SUM(tk) AS BIGINT) AS n_tokens FROM b GROUP BY 1)
         |SELECT source, n_docs, n_chars, n_tokens,
         |  CASE WHEN n_tokens > 0
         |    THEN ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END AS chars_per_token
         |FROM a ORDER BY source""".stripMargin
    },
    // expanded-BPE mirror: the same generated replace fold from the
    // bpeMergeTableX literal, applied to the et view's single-word
    // tokens and summed per doc
    "bpe_tokens_expanded" -> {
      val sep = "␟"
      val fold = bpeMergeTableX.foldLeft(s"regexp_replace(token, '(?s)(.)', '\\1$sep', 'g')") {
        case (acc, (a, b)) => s"replace($acc, '$a$sep$b', '$a$b')"
      }
      s"""WITH $expandedTokensSql,
         | c AS (SELECT doc_id, len(string_split($fold, '$sep')) - 1 AS c FROM et)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bpe_cnt
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    "dedup_last" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "stream_window_counts" ->
      """WITH w AS (SELECT event_type, value,
        |  make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 600) * 600) * 1000000) AS win_start
        |  FROM events)
        |SELECT win_start, win_start + INTERVAL 10 MINUTE AS win_end, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS value_sum
        |FROM w GROUP BY 1, 2, 3 ORDER BY win_start, event_type""".stripMargin,
    "redact_docs" ->
      """SELECT doc_id,
        | trim(regexp_replace(lower(
        |   regexp_replace(
        |     regexp_replace(text || ' contact user' || doc_id || '@example.com id 1234567' || doc_id,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '[0-9]{7,}', '<NUM>', 'g')), '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "repetition_docs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | g AS (SELECT doc_id, CASE WHEN len(ws) >= 2
        |        THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |        ELSE [] END AS grams FROM w)
        |SELECT doc_id, CASE WHEN len(grams) > 0
        |  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  ELSE 0.0 END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    "doc_length_quartiles" ->
      """SELECT lang,
        | quantile_cont(n_chars, 0.25) AS q1,
        | quantile_cont(n_chars, 0.5) AS median,
        | quantile_cont(n_chars, 0.75) AS q3
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin,
    "contamination_sources" ->
      """WITH pref AS (SELECT DISTINCT source,
        |   array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:8], ' ') AS prefix
        |   FROM documents
        |   WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
        | cool AS (SELECT prefix FROM pref GROUP BY prefix HAVING COUNT(*) <= 64),
        | pc AS (SELECT pref.* FROM pref JOIN cool USING (prefix))
        |SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM pc a JOIN pc b ON a.prefix = b.prefix AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // exact replay of decontaminate's semi-join semantics — the bloom
    // prefilter only ever REMOVES work, never results, so the oracle is
    // a plain distinct-ngram join
    "decontaminate_docs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | ng AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]) AS ng
        |        FROM w WHERE len(ws) >= 8),
        | evng AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 13 = 0),
        | c AS (SELECT doc_id, ng FROM ng WHERE doc_id % 13 <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM c JOIN evng USING (ng) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "dup_rate_by_source" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
        | 1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,
    "unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | freqs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        | tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freqs)
        |SELECT doc_id, ROUND(AVG(LN(CAST(cnt AS DOUBLE) / total)), 6) AS logprob
        |FROM toks JOIN freqs USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "bigram_logprob" ->
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        | pairs AS (SELECT doc_id, w[j] AS prev, w[j + 1] AS cur
        |           FROM docs, LATERAL unnest(range(1, len(w))) AS t(j)
        |           WHERE len(w) >= 2),
        | bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY 1, 2),
        | bcp AS (SELECT *, CAST(SUM(cb) OVER (PARTITION BY prev) AS BIGINT) AS cp FROM bc)
        |SELECT doc_id, ROUND(AVG(LN(CAST(cb AS DOUBLE) / cp)), 6) AS logprob
        |FROM pairs JOIN bcp USING (prev, cur) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DoReMi mirror: the bigram-logprob CTEs, exact DECIMAL per-source
    // loss, EG weights normalized by the source-ordered exp fold
    "doremi_weights" ->
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        | pairs AS (SELECT doc_id, w[j] AS prev, w[j + 1] AS cur
        |           FROM docs, LATERAL unnest(range(1, len(w))) AS t(j)
        |           WHERE len(w) >= 2),
        | bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY 1, 2),
        | bcp AS (SELECT *, CAST(SUM(cb) OVER (PARTITION BY prev) AS BIGINT) AS cp FROM bc),
        | lp AS (SELECT doc_id, ROUND(AVG(LN(CAST(cb AS DOUBLE) / cp)), 6) AS logprob
        |        FROM pairs JOIN bcp USING (prev, cur) GROUP BY doc_id),
        | ag AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        0e0 - CAST(SUM(CAST(lp.logprob AS DECIMAL(20,6))) AS DOUBLE)
        |          / CAST(COUNT(*) AS DOUBLE) AS loss
        |       FROM lp JOIN documents d USING (doc_id) GROUP BY 1),
        | pk AS (SELECT list(struct_pack(source := source, n_docs := n_docs, loss := loss)
        |          ORDER BY source) AS l FROM ag),
        | zz AS (SELECT l, list_sum(list_transform(l, x -> exp(0.1 * x.loss))) AS z FROM pk),
        | ex AS (SELECT unnest(l) AS e, z FROM zz)
        |SELECT e.source AS source, e.n_docs AS n_docs,
        |  ROUND(e.loss, 6) AS loss, ROUND(exp(0.1 * e.loss) / z, 6) AS weight
        |FROM ex ORDER BY source""".stripMargin,
    // negative-sampling mirror: raw token counts, 0.75*ln tempering,
    // the md5 'neg:' gumbel idiom, top-64 by (key desc, token)
    "negative_sample_tokens" ->
      s"""WITH $expandedTokensSql,
        | tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM et GROUP BY 1),
        | g AS (SELECT token, cnt,
        |        ROUND(0.75 * LN(CAST(cnt AS DOUBLE)) - LN(-LN(
        |          CAST(list_sum([(instr('0123456789abcdef', substr(md5('neg:' || token), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |          / power(2, 48))), 6) AS gumbel_key
        |       FROM tc)
        |SELECT token, cnt, gumbel_key FROM g
        |ORDER BY gumbel_key DESC, token LIMIT 64""".stripMargin,
    // ccnet mirror: the bigram-logprob CTEs + a global (logprob, doc_id)
    // rank — integer thirds over the quantized score, so bucket edges
    // replay exactly (the oracle may use a plain ROW_NUMBER; Spark's
    // two-phase range rank is execution strategy, same result)
    "ccnet_buckets" ->
      """WITH docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        | pairs AS (SELECT doc_id, w[j] AS prev, w[j + 1] AS cur
        |           FROM docs, LATERAL unnest(range(1, len(w))) AS t(j)
        |           WHERE len(w) >= 2),
        | bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY 1, 2),
        | bcp AS (SELECT *, CAST(SUM(cb) OVER (PARTITION BY prev) AS BIGINT) AS cp FROM bc),
        | lp AS (SELECT doc_id, ROUND(AVG(LN(CAST(cb AS DOUBLE) / cp)), 6) AS logprob
        |        FROM pairs JOIN bcp USING (prev, cur) GROUP BY doc_id),
        | r AS (SELECT doc_id, logprob,
        |        ROW_NUMBER() OVER (ORDER BY logprob, doc_id) AS rn,
        |        COUNT(*) OVER () AS n FROM lp)
        |SELECT doc_id, logprob,
        |  CASE WHEN rn * 3 <= n THEN 'tail' WHEN rn * 3 <= n * 2 THEN 'middle' ELSE 'head' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin,
    // DSIR mirror: same md5 2-hex-digit bucket, same add-one smoothing,
    // same DECIMAL(20,9)-quantized log-ratios so the per-doc sum is
    // exact integer-scaled arithmetic in both engines
    "dsir_weights" ->
      """WITH w AS (SELECT doc_id, lang = 'en' AS tgt, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
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
        |         FROM dist, tot)
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
        |       ROUND(CAST(SUM(lw * CAST(n AS DECIMAL(10,0))) AS DOUBLE), 6) AS dsir_logweight
        |FROM db JOIN tbl USING (b) GROUP BY 1 ORDER BY doc_id""".stripMargin,
    // stream-scoring mirror: distributions from the held-in corpus only,
    // LEFT join + the smoothed count-0 default for buckets the corpus
    // never populated
    "dsir_score_stream" ->
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
        |FROM idb LEFT JOIN tbl USING (b), tot GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DSIR resample mirror: Gumbel key over the same md5_48 uniform
    // (exact 48-bit integer arithmetic in doubles), round(6) before the
    // top-k
    "dsir_sample" ->
      """WITH w AS (SELECT doc_id, lang = 'en' AS tgt, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
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
        | dw AS (SELECT doc_id, ROUND(CAST(SUM(lw * CAST(n AS DECIMAL(10,0))) AS DOUBLE), 6) AS dsir_logweight
        |        FROM db JOIN tbl USING (b) GROUP BY 1),
        | g AS (SELECT doc_id, dsir_logweight,
        |        ROUND(dsir_logweight - LN(-LN(
        |          CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || doc_id), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |          / power(2, 48))), 6) AS gumbel_key
        |        FROM dw)
        |SELECT doc_id, dsir_logweight, gumbel_key FROM g
        |ORDER BY gumbel_key DESC, doc_id LIMIT 64""".stripMargin,
    "gumbel_sample_sources" ->
      """WITH d AS (SELECT source, doc_id, LN(CAST(n_chars AS DOUBLE)) AS lw FROM documents),
        | g AS (SELECT source, doc_id, ROUND(lw - LN(-LN(
        |    CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || doc_id), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |    / power(2, 48))), 6) AS gumbel_key
        |   FROM d),
        | r AS (SELECT source, doc_id, gumbel_key,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY gumbel_key DESC, doc_id) AS rank FROM g)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id, gumbel_key
        |FROM r WHERE rank <= 4 ORDER BY source, rank""".stripMargin,
    // stream reservoir == the batch window rank (cross-batch top-k
    // state is a monotone merge of deterministic keys)
    "gumbel_sample_stream" ->
      """WITH d AS (SELECT source, doc_id, LN(CAST(n_chars AS DOUBLE)) AS lw FROM documents),
        | g AS (SELECT source, doc_id, ROUND(lw - LN(-LN(
        |    CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || doc_id), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |    / power(2, 48))), 6) AS gumbel_key
        |   FROM d),
        | r AS (SELECT source, doc_id, gumbel_key,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY gumbel_key DESC, doc_id) AS rank FROM g)
        |SELECT source, CAST(rank AS INT) AS rank, doc_id, gumbel_key
        |FROM r WHERE rank <= 4 ORDER BY source, rank""".stripMargin,
    "ttr_docs" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) END AS n_types,
        |  CASE WHEN length(trim(text)) > 0
        |       THEN ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) END AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "hll_set_diff" -> Sketches.hllSetDiffOracleSql(
      """(SELECT source, tok FROM (
        |   SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents WHERE source IN ('src0', 'src1')) u
        |  WHERE tok <> '') toks""".stripMargin,
      "source", "tok", "src0", "src1"),
    "link_pred_suppliers" ->
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
        |ORDER BY cn DESC, id_a, id_b LIMIT 30""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        | dfc AS (SELECT *, CAST(COUNT(*) OVER (PARTITION BY tok) AS BIGINT) AS df FROM tf),
        | n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        | scored AS (SELECT doc_id, tok, tf, df,
        |   ROUND(tf * (LN((CAST(n AS DOUBLE) + 1) / (df + 1)) + 1), 6) AS tfidf FROM dfc, n),
        | ranked AS (SELECT doc_id, tok, tfidf,
        |   CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |     ORDER BY tfidf DESC, tf DESC, df ASC, tok ASC) AS INT) AS rank FROM scored)
        |SELECT doc_id, tok AS term, tfidf, rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "bm25_topk" ->
      s"""WITH $bm25Ctes,
         | r AS (SELECT doc_id, bm25,
         |        CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank FROM agg)
         |SELECT doc_id, bm25, rank FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    "bm25_prf_topk" -> {
      // two BM25 chains over shared (dl, N, avgdl) stats; round-1 term
      // predicate is the literal list, round-2's is the terms CTE
      def chain(p: String, pred: String) =
        s"""${p}tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
           |        FROM toks WHERE $pred GROUP BY 1, 2, 3),
           | ${p}dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ${p}tf GROUP BY 1),
           | ${p}sc AS (SELECT doc_id, LN(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1)
           |          / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS c
           |        FROM ${p}tf JOIN ${p}dft USING (tok), st),
           | ${p}agg AS (SELECT doc_id, ROUND(SUM(c), 6) AS bm25 FROM ${p}sc GROUP BY 1)""".stripMargin
      s"""WITH bl AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | dls AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM bl),
         | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dls),
         | toks AS (SELECT doc_id, dl, unnest(ws) AS tok FROM dls),
         | ${chain("q1", "tok IN ('spark', 'stream')")},
         | fb AS (SELECT doc_id FROM (SELECT doc_id,
         |        ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM q1agg) WHERE r <= 5),
         | ex AS (SELECT tok AS term FROM toks JOIN fb USING (doc_id)
         |        WHERE tok NOT IN ('spark', 'stream')
         |        GROUP BY 1 ORDER BY COUNT(*) DESC, tok LIMIT 3),
         | terms AS (SELECT 'spark' AS term UNION ALL SELECT 'stream'
         |           UNION ALL SELECT term FROM ex),
         | ${chain("q2", "tok IN (SELECT term FROM terms)")},
         | r AS (SELECT doc_id, bm25,
         |        CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank FROM q2agg)
         |SELECT doc_id, bm25, rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin
    },
    // RRF mirror: the bm25 CTEs' top-50 ranks + the ann_cosine_topk
    // CTEs' top-50 ranks for query vec 0, fused as sum(1/(60+rank));
    // CAST(1 AS DOUBLE) keeps the division in double like Spark's
    // lit(1.0) (a bare 1.0 literal would be DECIMAL here)
    "hybrid_rrf_topk" ->
      s"""WITH $bm25Ctes,
         | lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank FROM agg),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | q AS (SELECT * FROM e WHERE vec_id = 0),
         | s AS (SELECT c.vec_id AS doc_id, ${cosSql("q.v", "c.v")} AS cos
         |       FROM q, e c WHERE c.vec_id <> q.vec_id),
         | semr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS INT) AS rank FROM s),
         | u AS (SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) AS r FROM lexr WHERE rank <= 50
         |       UNION ALL SELECT doc_id, CAST(1 AS DOUBLE) / (60 + rank) FROM semr WHERE rank <= 50),
         | f AS (SELECT doc_id, ROUND(SUM(r), 6) AS rrf FROM u GROUP BY 1),
         | fr AS (SELECT doc_id, rrf, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM f)
         |SELECT doc_id, rrf, rank FROM fr WHERE rank <= 10 ORDER BY rank""".stripMargin,
    // novelty mirror: df over the gram STRINGS (the Spark side's
    // xxhash64 is an 8-byte shuffle-key optimization; a collision would
    // surface as a hash mismatch here)
    "novelty_docs" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS g
        |        FROM w WHERE len(ws) >= 3),
        | d AS (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Q5 mirror: same join graph, same decimal-exact factor-cast revenue
    "q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // rolling mirror: integer day-number RANGE frame over the daily agg
    "rolling_revenue_7d" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS day_rev
        |       FROM orders GROUP BY 1),
        | n AS (SELECT day, day_rev, day - DATE '1995-01-01' AS dn FROM daily)
        |SELECT day, day_rev,
        |  ROUND(CAST(SUM(CAST(day_rev AS DECIMAL(30,2))) OVER
        |    (ORDER BY dn RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS rev_7d
        |FROM n ORDER BY day""".stripMargin,
    // decile mirror: NTILE semantics match (earlier buckets take extras)
    "acctbal_deciles" ->
      """WITH d AS (SELECT c_mktsegment, c_acctbal,
        |        CAST(NTILE(10) OVER (PARTITION BY c_mktsegment
        |          ORDER BY c_acctbal DESC, c_custkey) AS INT) AS decile
        |       FROM customer)
        |SELECT c_mktsegment, decile, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal_sum
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // cube mirror: GROUPING bit order matches Spark's grouping_id
    // (first column = MSB); same decimal-exact revenue sum
    "cube_revenue" ->
      """SELECT coalesce(l_returnflag, '(all)') AS rf,
        |       coalesce(l_linestatus, '(all)') AS ls,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,
    // line-dedup mirror: same synthesized pages (group-concat in doc_id
    // order), same trimmed-line md5 df band, same ordered reassembly;
    // all-lines-dropped pages coalesce to '' in both engines
    "line_dedup" ->
      """WITH gd AS (
        |  SELECT source || '-' || CAST(doc_id % 50 AS VARCHAR) AS gid,
        |         string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        | l AS (
        |  SELECT gid, CAST(t.p AS INT) - 1 AS pos,
        |         string_split(text, chr(10))[CAST(t.p AS INT)] AS line
        |  FROM gd, LATERAL (SELECT unnest(range(1, len(string_split(text, chr(10))) + 1)) AS p) t),
        | lh AS (SELECT gid, pos, line, md5(trim(line)) AS h FROM l),
        | hot AS (SELECT h FROM lh WHERE length(trim(line)) > 0
        |         GROUP BY h HAVING COUNT(DISTINCT gid) >= 2),
        | fl AS (SELECT lh.gid, lh.pos, lh.line, hot.h IS NOT NULL AS is_hot
        |        FROM lh LEFT JOIN hot ON lh.h = hot.h)
        |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN NOT is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN NOT is_hot THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |FROM fl GROUP BY gid ORDER BY gid""".stripMargin,
    // retention mirror: same first-day cohorting and (cohort, offset)
    // distinct-user cells; datediff == date subtraction in DuckDB
    "retention_cohorts" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | fd AS (SELECT user_id, MIN(day) AS cohort FROM act GROUP BY 1),
        | sz AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS size FROM fd GROUP BY 1),
        | cell AS (SELECT fd.cohort, act.day - fd.cohort AS off,
        |          CAST(COUNT(*) AS BIGINT) AS n_active
        |          FROM act JOIN fd USING (user_id) GROUP BY 1, 2)
        |SELECT cell.cohort AS cohort_day, CAST(off AS INT) AS day_offset, n_active,
        |       ROUND(CAST(n_active AS DOUBLE) / size, 6) AS retention
        |FROM cell JOIN sz ON sz.cohort = cell.cohort
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // funnel mirror: the min-chain replayed as explicit per-stage mins
    // (t1 = earliest signup; t_i = earliest stage-i event strictly
    // after t_{i-1}); every user present, stage 0 = never entered
    "funnel_stages" ->
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
        |ORDER BY user_id""".stripMargin,
    // intra-doc collapse mirror: first-occurrence = window rank 1 over
    // (page, trimmed line) == the array first-index-equality test
    "line_collapse" ->
      """WITH gd AS (
        |  SELECT source || '-' || CAST(doc_id % 50 AS VARCHAR) AS gid,
        |         string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        | l AS (
        |  SELECT gid, CAST(t.p AS INT) - 1 AS pos,
        |         string_split(text, chr(10))[CAST(t.p AS INT)] AS line
        |  FROM gd, LATERAL (SELECT unnest(range(1, len(string_split(text, chr(10))) + 1)) AS p) t),
        | f AS (SELECT gid, pos, line,
        |        length(trim(line)) = 0 OR
        |          ROW_NUMBER() OVER (PARTITION BY gid, trim(line) ORDER BY pos) = 1 AS keep
        |       FROM l)
        |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |FROM f GROUP BY gid ORDER BY gid""".stripMargin,
    // line-verdict mirror: the line_dedup CTE chain minus reassembly
    "line_dedup_stream" ->
      """WITH gd AS (
        |  SELECT source || '-' || CAST(doc_id % 50 AS VARCHAR) AS gid,
        |         string_agg(text, chr(10) ORDER BY doc_id) AS text
        |  FROM documents GROUP BY 1),
        | l AS (
        |  SELECT gid, CAST(t.p AS INT) - 1 AS pos,
        |         string_split(text, chr(10))[CAST(t.p AS INT)] AS line
        |  FROM gd, LATERAL (SELECT unnest(range(1, len(string_split(text, chr(10))) + 1)) AS p) t),
        | lh AS (SELECT gid, pos, line, md5(trim(line)) AS h FROM l),
        | hot AS (SELECT h FROM lh WHERE length(trim(line)) > 0
        |         GROUP BY h HAVING COUNT(DISTINCT gid) >= 2)
        |SELECT lh.gid, lh.pos, lh.line, hot.h IS NULL AS keep
        |FROM lh LEFT JOIN hot ON lh.h = hot.h
        |ORDER BY gid, pos""".stripMargin,
    // readability mirror: same integer estimators, same formula order
    "readability_docs" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) > 0
        |       THEN CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) ELSE 0 END AS n_words,
        |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syllables,
        |  CASE WHEN length(trim(text)) > 0 THEN
        |    206.835 - 1.015 * CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
        |      / greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    - 84.6 * CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+'))
        |  END AS flesch
        |FROM documents ORDER BY doc_id""".stripMargin,
    // anomaly mirror: identical exact-integer moments, same expression
    // tree for mean/var/z, filter applied to the ROUNDED z both sides
    "event_anomalies" ->
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
        |ORDER BY event_type, day""".stripMargin,
    // funnel-times mirror: same min-chain, duration in epoch micros,
    // quantile_cont == Spark's interpolated percentile
    "funnel_times" ->
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
        |FROM d""".stripMargin,
    // DAU/WAU mirror: same bounded day-explode for the trailing window
    "dau_wau" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM act GROUP BY 1),
        | w AS (SELECT DISTINCT user_id, CAST(day + CAST(t.i AS INT) AS DATE) AS day
        |       FROM act, LATERAL (SELECT unnest(range(0, 7)) AS i) t),
        | wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau FROM w GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin,
    "sessions_user" ->
      """WITH g AS (SELECT user_id, event_id, ts,
        |  CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY user_id, event_id""".stripMargin,
    "pipeline_clean_corpus" ->
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
         | d AS (SELECT doc_id, text FROM (
         |         SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM u)
         |       WHERE rn = 1),
         | base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM d),
         | c AS (SELECT doc_id, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base)
         |SELECT doc_id, $qualityExprSql AS quality
         |FROM c ORDER BY quality DESC, doc_id LIMIT 100""".stripMargin,
    "vc_returnflag" ->
      """WITH c AS (SELECT CAST(l_returnflag AS VARCHAR) AS value, COUNT(*) AS cnt FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY 1),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM c),
        | u AS (SELECT value, cnt, CAST(cnt AS DOUBLE) / g AS fraction FROM c, t
        |       UNION ALL SELECT 'TOTAL', g, 1.0 FROM t)
        |SELECT value, cnt, fraction FROM u ORDER BY (value = 'TOTAL'), cnt DESC, value""".stripMargin,
    "vc_quantity_bins" ->
      """WITH mm AS (SELECT CAST(MIN(l_quantity) AS DOUBLE) AS gmin, CAST(MAX(l_quantity) AS DOUBLE) AS gmax FROM lineitem),
        | b AS (SELECT CAST(LEAST(FLOOR((l_quantity - gmin) / (gmax - gmin) * 10), 9) AS INT) AS bucket, gmin, gmax FROM lineitem, mm WHERE l_quantity IS NOT NULL),
        | c AS (SELECT bucket, gmin, gmax, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2, 3),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g FROM c)
        |SELECT bucket, gmin + (gmax - gmin) / 10 * bucket AS lo, gmin + (gmax - gmin) / 10 * (bucket + 1) AS hi, cnt, CAST(cnt AS DOUBLE) / g AS fraction
        |FROM c, t ORDER BY bucket""".stripMargin,
    "upsert_orders" ->
      """WITH delta AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |UNION ALL SELECT o_orderkey, o_orderstatus, o_totalprice FROM delta
        |ORDER BY o_orderkey""".stripMargin,
    // pruned-upsert mirror: plain upsert SQL — the pruning is execution
    // strategy (which partitions the anti-join touches), not semantics
    "upsert_pruned_orders" ->
      """WITH o AS (SELECT o_orderkey, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year, o_orderpriority FROM orders),
        | delta AS (SELECT o_orderkey, o_year, '0-UPDATED' AS o_orderpriority FROM o
        |           WHERE o_year = 1995 AND o_orderkey % 10 = 0),
        | m AS (SELECT * FROM o WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        |       UNION ALL SELECT * FROM delta)
        |SELECT o_orderkey, o_year, o_orderpriority FROM m
        |ORDER BY o_orderkey, o_year, o_orderpriority""".stripMargin,
    "dedup_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,
    "dedup_none" ->
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders) WHERE n = 1 ORDER BY o_custkey""".stripMargin,
    "topk_orders" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "weighted_avg" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,2))) AS DOUBLE)
        |     / CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS weighted_avg
        |FROM lineitem""".stripMargin,
    "column_stats_customer" -> columnStatsSql("customer", Seq(
      "c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_mktsegment" -> "string")),
    "reindex_join" ->
      """WITH agg AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, COALESCE(n_orders, 0) AS n_orders,
        |       COALESCE(total_spent, 0.0) AS total_spent
        |FROM customer LEFT JOIN agg ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "pivot_status" ->
      """SELECT l_returnflag,
        | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS qty_f,
        | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "diag_coo" ->
      """SELECT l_suppkey AS row_key, l_partkey AS col_key,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS value
        |FROM lineitem WHERE l_suppkey = l_partkey GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "unique_row_ids" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(DENSE_RANK() OVER (ORDER BY l_returnflag, l_linestatus) AS BIGINT) AS row_id,
        | n
        |FROM (SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2)
        |ORDER BY row_id""".stripMargin,
    "identity_series" ->
      "SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS value FROM customer ORDER BY c_custkey",
    // ascending-code ordered summation mirrors the expression's byte loop
    "entropy_docs" ->
      """WITH ch AS (SELECT doc_id, ascii(c) AS code, COUNT(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |            GROUP BY 1, 2),
        | tot AS (SELECT doc_id, CAST(SUM(cnt) AS DOUBLE) AS n FROM ch GROUP BY 1),
        | terms AS (SELECT ch.doc_id, ch.code, -(cnt / n) * log2(cnt / n) AS term
        |           FROM ch JOIN tot USING (doc_id))
        |SELECT doc_id, ROUND(list_sum(list(term ORDER BY code)), 6) AS entropy
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "kl_en_de" ->
      """WITH b1 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
        |            FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'en') GROUP BY 1),
        | b2 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
        |        FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'de') GROUP BY 1),
        | n1 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b1),
        | n2 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b2),
        | terms AS (SELECT b1.code,
        |   (b1.cnt / n1.n) * log2((b1.cnt / n1.n) / (COALESCE(b2.cnt, 0) / n2.n + 1e-7)) AS term
        |   FROM b1 LEFT JOIN b2 USING (code), n1, n2)
        |SELECT ROUND(list_sum(list(term ORDER BY code)), 6) AS kl FROM terms""".stripMargin,
    "text_profile" -> textProfileSql,
    "fingerprint_docs" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "dedup_exact_docs" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0)
        |SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY text ORDER BY keep_id""".stripMargin,
    // ROUGE mirror: the ngram pair CTEs for candidates, raw (non-
    // distinct) bigram counts, LEAST-overlap sum, same p/r/f floats
    "rouge_overlap_pairs" ->
      s"""WITH $ngramPairCtes,
         | rp AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | w2 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
         | g2 AS (SELECT doc_id AS gid, unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS g
         |        FROM w2 WHERE len(ws) >= 2),
         | gc AS (SELECT gid, g, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
         | nt AS (SELECT gid, CAST(SUM(c) AS BIGINT) AS nn FROM gc GROUP BY 1),
         | ov AS (SELECT rp.id_a, rp.id_b, CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS overlap
         |        FROM rp JOIN gc x ON x.gid = rp.id_a JOIN gc y ON y.gid = rp.id_b AND y.g = x.g
         |        GROUP BY 1, 2),
         | f AS (SELECT id_a, id_b, overlap, na.nn AS n_a, nb.nn AS n_b,
         |        CAST(overlap AS DOUBLE) / CAST(nb.nn AS DOUBLE) AS p0,
         |        CAST(overlap AS DOUBLE) / CAST(na.nn AS DOUBLE) AS r0
         |       FROM ov JOIN nt na ON na.gid = id_a JOIN nt nb ON nb.gid = id_b)
         |SELECT id_a, id_b, n_a, n_b, overlap,
         |  ROUND(p0, 6) AS rouge2_p, ROUND(r0, 6) AS rouge2_r,
         |  CASE WHEN p0 + r0 > 0e0 THEN ROUND(2e0 * p0 * r0 / (p0 + r0), 6) END AS rouge2_f
         |FROM f ORDER BY id_a, id_b""".stripMargin,
    "ngram_jaccard_pairs" ->
      s"""WITH $ngramPairCtes
         |SELECT id_a, id_b, jaccard FROM j
         |WHERE jaccard >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    // containment mirror: the jaccard CTE scaffold with truncated-copy
    // injection, the ASYMMETRIC prefix (probe prefixes vs full df-capped
    // targets), and |A∩B|/|A| in place of the union denominator
    "containment_pairs" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 200000, substr(text, 1, 300) FROM documents WHERE doc_id % 11 = 0),
        | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM u),
        | sh AS (SELECT DISTINCT doc_id AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |        FROM w WHERE len(ws) >= 3),
        | sizes AS (SELECT jid, COUNT(*) AS sz FROM sh GROUP BY 1),
        | shd AS (SELECT jid, sh, COUNT(*) OVER (PARTITION BY sh) AS df,
        |                 COUNT(*) OVER (PARTITION BY jid) AS sz FROM sh),
        | shr AS (SELECT jid, sh, df,
        |                 ROW_NUMBER() OVER (PARTITION BY jid ORDER BY df, md5(sh)) AS rn,
        |                 sz FROM shd),
        | probe AS (SELECT jid AS src_id, sh FROM shr
        |           WHERE rn <= sz - CEIL(0.9 * sz) + 1 AND df BETWEEN 2 AND 128),
        | target AS (SELECT jid AS dst_id, sh FROM shd WHERE df BETWEEN 2 AND 128),
        | cand AS (SELECT DISTINCT src_id, dst_id FROM probe JOIN target USING (sh)
        |          WHERE src_id <> dst_id),
        | inter AS (SELECT src_id, dst_id, COUNT(*) AS i FROM cand
        |           JOIN sh a ON a.jid = src_id JOIN sh b ON b.jid = dst_id AND b.sh = a.sh
        |           GROUP BY 1, 2),
        | j AS (SELECT src_id, dst_id, CAST(i AS DOUBLE) / sz AS containment
        |       FROM inter JOIN sizes ON sizes.jid = src_id)
        |SELECT src_id, dst_id, containment FROM j
        |WHERE containment >= 0.9 ORDER BY src_id, dst_id""".stripMargin,
    "pagerank_suppliers" -> pageRankSql(iterations = 3, damping = 0.85, quantize = 9),
    "hits_suppliers" -> hitsSql(iterations = 2, quantize = 9),
    // k-means mirror: the same two unrolled Lloyd sweeps — md5 seeds,
    // argmax assignment (ties toward smaller centroid id), round-12
    // decimal component sums, round-9 centroid grid, empty clusters
    // keep their seed centroid via the left-join coalesce
    "kmeans_assign" -> kmeansReplaySql(
      "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings",
      k = 8),
    // text-cluster mirror: the feature-hashed vectors (integer-exact
    // hashing-trick projection, bit d of each token's md5) feed the
    // same two-sweep Lloyd replay
    "text_cluster_assign" -> kmeansReplaySql(hashedVecSql, k = 8, idAlias = "doc_id"),
    // silhouette mirror: the replay's s2 already scores every (vector,
    // centroid) pair — own join + max-other groupBy + decimal mean
    "kmeans_silhouette" -> {
      val eSql = "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings"
      s"""WITH ${kmeansReplayCtes(eSql, 8)},
         | own AS (SELECT s2.vec_id, a2.cid, s2.cos AS oc
         |         FROM s2 JOIN a2 ON s2.vec_id = a2.vec_id AND s2.cid = a2.cid),
         | oth AS (SELECT s2.vec_id, MAX(s2.cos) AS bc
         |         FROM s2 JOIN a2 ON s2.vec_id = a2.vec_id AND s2.cid <> a2.cid
         |         GROUP BY 1),
         | sep AS (SELECT own.cid, ROUND(oc - bc, 12) AS sep
         |         FROM own JOIN oth ON own.vec_id = oth.vec_id)
         |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
         |       ROUND(CAST(SUM(CAST(sep AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) AS mean_sep
         |FROM sep GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // c-TF-IDF mirror: the Lloyd replay CTEs feed the class-TF-IDF
    // roll-ups; tf/wc as double-cast division, AVG over <= k rows
    "cluster_top_terms" ->
      s"""WITH ${kmeansReplayCtes(hashedVecSql, 8)},
         | asg AS (SELECT vec_id AS doc_id, cid AS cluster_id FROM a2),
         | tk AS (SELECT cluster_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |        FROM documents JOIN asg USING (doc_id)),
         | tf2 AS (SELECT cluster_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2),
         | wc AS (SELECT cluster_id, CAST(SUM(tf) AS BIGINT) AS wc FROM tf2 GROUP BY 1),
         | ft AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ft FROM tf2 GROUP BY 1),
         | aa AS (SELECT AVG(wc) AS a FROM wc),
         | sc AS (SELECT cluster_id, term,
         |         ROUND((CAST(tf AS DOUBLE) / wc) * ln(1 + a / ft), 9) AS score
         |        FROM tf2 JOIN wc USING (cluster_id) JOIN ft USING (term), aa),
         | rr AS (SELECT cluster_id, term, score,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY score DESC, term) AS INT) AS rank
         |        FROM sc)
         |SELECT cluster_id, term, score, rank FROM rr WHERE rank <= 3
         |ORDER BY cluster_id, rank""".stripMargin,
    // inverted-index mirror: exact df over the (term, doc) dedup; the
    // posting cap is the 32 smallest doc ids (list slice == ranked cap)
    "inverted_index" ->
      """WITH td AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |            FROM documents),
        | g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |         array_to_string((list(doc_id ORDER BY doc_id))[1:32], ',') AS postings
        |       FROM td GROUP BY term)
        |SELECT term, df, postings FROM g WHERE df >= 2 ORDER BY term""".stripMargin,
    // centroid-assign mirror: same md5-ranked per-label sample, same
    // ORDERED per-dimension sum (list in rank order -> sequential
    // list_sum == Spark's rank-ordered fold, bit for bit), same argmax
    "centroid_assign" ->
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | r AS (SELECT label, vec_id, v,
         |        ROW_NUMBER() OVER (PARTITION BY label ORDER BY md5('42:' || vec_id), vec_id) AS rn FROM e),
         | samp AS (SELECT * FROM r WHERE rn <= 32),
         | g AS (SELECT label, list(v ORDER BY rn) AS lv, CAST(COUNT(*) AS BIGINT) AS n FROM samp GROUP BY label),
         | cent AS (SELECT label AS plab,
         |           list_transform(range(1, 65), d -> list_sum(list_transform(lv, w -> w[d])) / n) AS cv
         |          FROM g),
         | a AS (SELECT e.vec_id, e.label, c.plab, ${cosSql("e.v", "c.cv")} AS cos FROM e CROSS JOIN cent c),
         | p AS (SELECT vec_id, label, plab,
         |        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, plab) AS rn FROM a)
         |SELECT label, plab AS pred, CAST(COUNT(*) AS BIGINT) AS n
         |FROM p WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // MMR mirror: the greedy selection replayed as a recursive CTE —
    // state per (query, step) is the chosen-id list; each iteration's
    // LATERAL picks argmax(lambda*rel - (1-lambda)*maxsim) with the
    // same id tie-break; (1 - 0.7) is EVALUATED, matching Scala's
    // 1.0 - lambda double (a 0.3 literal would differ by 1 ulp)
    "mmr_topk" ->
      s"""WITH RECURSIVE
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | q AS (SELECT * FROM e WHERE vec_id < 5),
         | s AS (SELECT q.vec_id AS qid, c.vec_id AS cid, ${cosSql("q.v", "c.v")} AS rel
         |       FROM q JOIN e c ON c.vec_id <> q.vec_id),
         | pool AS (SELECT qid, cid, rel FROM (
         |    SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn FROM s) t
         |    WHERE rn <= 16),
         | sims AS (SELECT a.qid, a.cid AS ca, b.cid AS cb, ${cosSql("ea.v", "eb.v")} AS sim
         |          FROM pool a JOIN pool b ON a.qid = b.qid AND a.cid <> b.cid
         |          JOIN e ea ON ea.vec_id = a.cid JOIN e eb ON eb.vec_id = b.cid),
         | sel AS (
         |   SELECT qq.qid, 1 AS step, [pick.cid] AS chosen, [pick.score] AS scores
         |   FROM (SELECT DISTINCT qid FROM pool) qq, LATERAL (
         |     SELECT cid, 0.7 * rel - (1 - 0.7) * 0.0 AS score FROM pool p
         |     WHERE p.qid = qq.qid ORDER BY score DESC, cid LIMIT 1) pick
         |   UNION ALL
         |   SELECT s.qid, s.step + 1, list_append(s.chosen, pick.cid), list_append(s.scores, pick.score)
         |   FROM sel s, LATERAL (
         |     SELECT p.cid AS cid,
         |       0.7 * p.rel - (1 - 0.7) * coalesce((
         |         SELECT MAX(m.sim) FROM sims m
         |         WHERE m.qid = s.qid AND m.ca = p.cid AND list_contains(s.chosen, m.cb)), 0.0) AS score
         |     FROM pool p
         |     WHERE p.qid = s.qid AND NOT list_contains(s.chosen, p.cid)
         |     ORDER BY score DESC, cid LIMIT 1) pick
         |   WHERE s.step < 5),
         | last AS (SELECT * FROM sel WHERE step = 5)
         |SELECT qid AS query_id, unnest(chosen) AS doc_id,
         |       ROUND(unnest(scores), 6) AS mmr,
         |       CAST(generate_subscripts(chosen, 1) AS INT) AS rank
         |FROM last ORDER BY query_id, rank""".stripMargin,
    // fuzzy-decontamination mirror: the same banded pipeline with the
    // eval-set recipe as the incoming side, rolled up per corpus doc
    "decontaminate_fuzzy" -> {
      val ctes = minhashAgainstCtesWith(
        "SELECT doc_id + 500000 AS doc_id, text || ' ev' AS text FROM documents WHERE doc_id % 13 = 1")
      s"""WITH $ctes,
         | szc AS (SELECT jid, COUNT(*) AS sz FROM shc GROUP BY 1),
         | szi AS (SELECT jid, COUNT(*) AS sz FROM shi GROUP BY 1),
         | inter AS (SELECT id_a, id_b, COUNT(*) AS i FROM cand
         |           JOIN shc x ON x.jid = id_a JOIN shi y ON y.jid = id_b AND x.sh = y.sh GROUP BY 1, 2),
         | j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |       FROM inter JOIN szc sa ON sa.jid = id_a JOIN szi sb ON sb.jid = id_b)
         |SELECT id_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
         |       ROUND(MAX(jaccard), 6) AS max_jaccard
         |FROM j WHERE jaccard >= 0.8 GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    "minhash_against" ->
      s"""WITH $minhashAgainstCtes,
         | szc AS (SELECT jid, COUNT(*) AS sz FROM shc GROUP BY 1),
         | szi AS (SELECT jid, COUNT(*) AS sz FROM shi GROUP BY 1),
         | inter AS (SELECT id_a, id_b, COUNT(*) AS i FROM cand
         |           JOIN shc x ON x.jid = id_a JOIN shi y ON y.jid = id_b AND x.sh = y.sh GROUP BY 1, 2),
         | j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |       FROM inter JOIN szc sa ON sa.jid = id_a JOIN szi sb ON sb.jid = id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "minhash_against_stream" -> {
      val agree = (0 until 12)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashAgainstCtes,
         | est AS (SELECT id_a AS corpus_id, id_b AS doc_id,
         |          CAST($agree AS DOUBLE) / 12 AS est_jaccard
         |         FROM cand JOIN mhc a ON a.jid = id_a JOIN mhi b ON b.jid = id_b)
         |SELECT corpus_id, doc_id, est_jaccard FROM est
         |WHERE est_jaccard >= 0.8 ORDER BY corpus_id, doc_id""".stripMargin
    },
    // fuzzy-linkage mirror: same composite entity, same deletion
    // neighborhood (self + every single-char deletion), same md5 band
    "fuzzy_part_match" ->
      """WITH p AS (SELECT p_partkey AS id,
        |        p_name || ' ' || p_brand || ' ' || p_type || ' ' || CAST(p_size AS VARCHAR) AS s
        |       FROM part),
        | u AS (SELECT * FROM p UNION ALL
        |       SELECT id + 100000, substr(s, 1, 3) || substr(s, 5) FROM p WHERE id % 9 = 0),
        | sg AS (SELECT DISTINCT id, s, md5(x) AS k FROM (
        |         SELECT id, s, unnest(list_prepend(s,
        |           list_transform(range(1, len(s) + 1),
        |             i -> substr(s, 1, CAST(i AS INT) - 1) || substr(s, CAST(i AS INT) + 1)))) AS x
        |         FROM u) t),
        | cap AS (SELECT id, s, k FROM (
        |          SELECT sg.*, COUNT(*) OVER (PARTITION BY k) AS bn FROM sg) c
        |         WHERE bn <= 1024),
        | cand AS (SELECT DISTINCT a.id AS id_a, a.s AS sa, b.id AS id_b, b.s AS sb
        |          FROM cap a JOIN cap b USING (k) WHERE a.id < b.id)
        |SELECT id_a, id_b, CAST(levenshtein(sa, sb) AS INT) AS dist
        |FROM cand WHERE levenshtein(sa, sb) <= 1 ORDER BY id_a, id_b""".stripMargin,
    // streaming fuzzy-linkage mirror: asymmetric — corpus-side index
    // with cap at build, probe side = the typo recipe
    "fuzzy_match_stream" ->
      """WITH p AS (SELECT p_partkey AS id,
        |        p_name || ' ' || p_brand || ' ' || p_type || ' ' || CAST(p_size AS VARCHAR) AS s
        |       FROM part),
        | inc AS (SELECT id + 100000 AS id, substr(s, 1, 3) || substr(s, 5) AS s
        |         FROM p WHERE id % 9 = 0),
        | sgc AS (SELECT DISTINCT id, s, md5(x) AS k FROM (
        |          SELECT id, s, unnest(list_prepend(s,
        |            list_transform(range(1, len(s) + 1),
        |              i -> substr(s, 1, CAST(i AS INT) - 1) || substr(s, CAST(i AS INT) + 1)))) AS x
        |          FROM p) t),
        | idx AS (SELECT id, s, k FROM (
        |          SELECT sgc.*, COUNT(*) OVER (PARTITION BY k) AS bn FROM sgc) c
        |         WHERE bn <= 1024),
        | sgi AS (SELECT DISTINCT id, s, md5(x) AS k FROM (
        |          SELECT id, s, unnest(list_prepend(s,
        |            list_transform(range(1, len(s) + 1),
        |              i -> substr(s, 1, CAST(i AS INT) - 1) || substr(s, CAST(i AS INT) + 1)))) AS x
        |          FROM inc) t)
        |SELECT DISTINCT idx.id AS corpus_id, sgi.id AS doc_id,
        |       CAST(levenshtein(sgi.s, idx.s) AS INT) AS dist
        |FROM sgi JOIN idx USING (k) WHERE levenshtein(sgi.s, idx.s) <= 1
        |ORDER BY corpus_id, doc_id""".stripMargin,
    // triangle mirror: same pair CTEs, ordered wedge join a<b<c
    "dup_triangles" ->
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | canon AS (SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
         |           FROM p WHERE id_a <> id_b),
         | degn AS (SELECT n FROM (SELECT unnest([lo, hi]) AS n FROM canon) t
         |          GROUP BY n HAVING COUNT(*) <= 4096),
         | e AS (SELECT lo, hi FROM canon
         |       JOIN degn dl ON dl.n = canon.lo JOIN degn dh ON dh.n = canon.hi),
         | tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
         |         FROM e ab JOIN e bc ON bc.lo = ab.hi
         |         JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi)
         |SELECT t.n AS node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM (SELECT unnest([a, b, c]) AS n FROM tri) t GROUP BY 1 ORDER BY node""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin,
    // LPA mirror: the same 2 sweeps unrolled — undirected+self edges,
    // per-sweep (node,label) counts and the (count desc, label) argmax
    "lpa_communities" ->
      s"""WITH $lpaSweepCtes
         |SELECT id AS node, lbl AS community FROM l2 ORDER BY node""".stripMargin,
    // modularity mirror: the rearranged all-integer form
    // (4m·intra − Σd_c²)/(4m²) over the same sweeps' final labels
    "lpa_modularity" ->
      s"""WITH $lpaSweepCtes,
         | m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
         |        CAST(SUM(CASE WHEN ca.lbl = cb.lbl THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges
         |       FROM p JOIN l2 ca ON ca.id = p.id_a JOIN l2 cb ON cb.id = p.id_b),
         | bo AS (SELECT id_a AS u FROM p UNION ALL SELECT id_b FROM p),
         | dg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM bo GROUP BY 1),
         | dcs AS (SELECT lbl, CAST(SUM(d) AS BIGINT) AS dc
         |        FROM dg JOIN l2 ON l2.id = dg.u GROUP BY 1),
         | s2 AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS sdc2 FROM dcs)
         |SELECT m, intra_edges,
         |  CASE WHEN m > 0
         |       THEN ROUND(CAST(4 * m * intra_edges - sdc2 AS DOUBLE)
         |         / (4e0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)), 6)
         |  END AS q
         |FROM m1, s2""".stripMargin,
    // assortativity mirror: endpoint-degree Pearson over both edge
    // orientations, exact integer moments
    "graph_assortativity" ->
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | bo AS (SELECT id_a AS u, id_b AS v FROM p UNION ALL SELECT id_b, id_a FROM p),
         | dg AS (SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS d FROM bo GROUP BY 1),
         | en AS (SELECT du.d AS du, dv.d AS dv
         |       FROM bo JOIN dg du ON du.id = bo.u JOIN dg dv ON dv.id = bo.v),
         | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2,
         |        CAST(SUM(du) AS BIGINT) AS sx, CAST(SUM(dv) AS BIGINT) AS sy,
         |        CAST(SUM(du * dv) AS BIGINT) AS sxy,
         |        CAST(SUM(du * du) AS BIGINT) AS sxx,
         |        CAST(SUM(dv * dv) AS BIGINT) AS syy FROM en)
         |SELECT CAST(n2 // 2 AS BIGINT) AS m,
         |  CASE WHEN (CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
         |        AND (CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
         |       THEN ROUND((CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |         / sqrt((CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |           * (CAST(n2 AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         |  END AS r
         |FROM a""".stripMargin,
    "dedup_canonical" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         | sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM cl GROUP BY 1),
         | keepers AS (SELECT cluster_id AS doc_id, n_members FROM sz
         |             UNION ALL
         |             SELECT doc_id, CAST(1 AS BIGINT) FROM u WHERE doc_id NOT IN (SELECT id FROM cl))
         |SELECT doc_id, n_members FROM keepers ORDER BY doc_id""".stripMargin,
    "ann_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | q AS (SELECT * FROM e WHERE vec_id < 5),
        | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i])) /
        |   (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i]))) *
        |    sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))) AS cos
        |   FROM q, e c WHERE c.vec_id <> q.vec_id),
        | r AS (SELECT query_id, neighbor_id, cos,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |        FROM s)
        |SELECT query_id, neighbor_id, cos, rank FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "alignable" ->
      """WITH a AS (SELECT c_custkey AS k FROM customer), b AS (SELECT DISTINCT o_custkey AS k FROM orders)
        |SELECT ((SELECT COUNT(*) FROM a) = (SELECT COUNT(DISTINCT k) FROM a))
        |   AND ((SELECT COUNT(*) FROM b) = (SELECT COUNT(DISTINCT k) FROM b))
        |   AND ((SELECT COUNT(*) FROM a) = (SELECT COUNT(*) FROM b))
        |   AND NOT EXISTS (SELECT 1 FROM a WHERE k NOT IN (SELECT k FROM b))
        |   AND NOT EXISTS (SELECT 1 FROM b WHERE k NOT IN (SELECT k FROM a)) AS align_ab,
        | TRUE AS align_aa""".stripMargin,
    "corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents),
        | n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 <> 5
        |       UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 17 = 2)
        |SELECT doc_id, status FROM (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |         CASE WHEN n.doc_id IS NULL THEN 'removed'
        |              WHEN o.doc_id IS NULL THEN 'added'
        |              WHEN md5(o.text) <> md5(n.text) THEN 'changed' END AS status
        |  FROM o FULL JOIN n ON o.doc_id = n.doc_id)
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,
    "top_ngrams" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | g AS (SELECT unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS gram
        |       FROM w WHERE len(ws) >= 2)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1
        |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,
    "phrase_hits" -> {
      val inList = PhraseDict.map(p => s"'$p'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | g1 AS (SELECT doc_id, unnest(ws) AS phrase FROM w),
         | g2 AS (SELECT doc_id, unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS phrase
         |        FROM w WHERE len(ws) >= 2),
         | g3 AS (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS phrase
         |        FROM w WHERE len(ws) >= 3),
         | g AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3)
         |SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS hits FROM g
         |WHERE phrase IN ($inList)
         |GROUP BY 1, 2 ORDER BY doc_id, phrase""".stripMargin
    },
    "vocab_growth" ->
      """WITH ids AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
        |             FROM (SELECT DISTINCT doc_id FROM documents)),
        | nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ids),
        | b AS (SELECT doc_id, CAST((rn * 10 + n - 1) // n AS INT) AS bucket FROM ids, nn),
        | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | toks AS (SELECT doc_id, unnest(list_distinct(
        |            [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))])) AS tok
        |          FROM w WHERE len(ws) >= 2),
        | ft AS (SELECT tok, MIN(doc_id) AS fid FROM toks WHERE tok <> '' GROUP BY 1),
        | nb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_terms
        |        FROM ft JOIN b ON b.doc_id = ft.fid GROUP BY 1)
        |SELECT bucket, new_terms,
        |       CAST(SUM(new_terms) OVER (ORDER BY bucket) AS BIGINT) AS vocab_cum
        |FROM nb ORDER BY bucket""".stripMargin,
    "pmi_pairs" ->
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | w2 AS (SELECT ws FROM w WHERE len(ws) >= 2),
        | p1 AS (SELECT unnest([{'a': least(ws[i], ws[i+1]), 'b': greatest(ws[i], ws[i+1])}
        |                      for i in range(1, len(ws))]) AS p FROM w2),
        | p2 AS (SELECT unnest([{'a': least(ws[i], ws[i+2]), 'b': greatest(ws[i], ws[i+2])}
        |                      for i in range(1, len(ws) - 1)]) AS p FROM w2 WHERE len(ws) >= 3),
        | pr AS (SELECT p.a AS w1, p.b AS w2 FROM (SELECT p FROM p1 UNION ALL SELECT p FROM p2)),
        | pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cp FROM pr GROUP BY 1, 2),
        | uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cw
        |         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents)
        |         WHERE tok <> '' GROUP BY 1),
        | np AS (SELECT CAST(SUM(cp) AS BIGINT) AS tnp FROM pc),
        | nt AS (SELECT CAST(SUM(cw) AS BIGINT) AS tnt FROM uni)
        |SELECT w1, w2, cp,
        |  ROUND(LN((CAST(cp AS DOUBLE) / tnp) /
        |           ((CAST(c1.cw AS DOUBLE) / tnt) * (CAST(c2.cw AS DOUBLE) / tnt))), 6) AS pmi
        |FROM pc JOIN uni c1 ON c1.tok = pc.w1 JOIN uni c2 ON c2.tok = pc.w2, np, nt
        |WHERE cp >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,
    "asof_join_events" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        | p AS (SELECT user_id, ts, MAX(value) AS pval FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.pval AS asof_pval
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY event_id""".stripMargin,
    "range_join_events" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        | e AS (SELECT event_id AS err_id, user_id, ts AS ws,
        |              ts + INTERVAL 6 HOUR AS we
        |       FROM events WHERE event_type = 'error')
        |SELECT err_id, CAST(COUNT(*) AS BIGINT) AS n_clicks
        |FROM e JOIN c ON c.user_id = e.user_id AND c.ts >= e.ws AND c.ts < e.we
        |GROUP BY 1 ORDER BY err_id""".stripMargin,
    "dedup_exact_normalized" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 300000, '  ' || upper(text) || ' '
        |           FROM documents WHERE doc_id % 9 = 1)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |ORDER BY doc_id""".stripMargin,
    "cdc_classify_stream" ->
      """WITH o AS (SELECT doc_id, text FROM documents),
        | n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 <> 5
        |       UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 17 = 2)
        |SELECT n.doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN md5(o.text) <> md5(n.text) THEN 'changed' END AS status
        |FROM n LEFT JOIN o ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)
        |ORDER BY n.doc_id""".stripMargin,
    // quantile-norm mirror: shared qualityScore CTEs + PERCENT_RANK
    // with the same total tie-break
    "quality_quantile_norm" ->
      s"""WITH base AS (SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS p FROM documents),
         | c AS (SELECT doc_id, source, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base),
         | q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM c)
         |SELECT doc_id, source, quality,
         |       PERCENT_RANK() OVER (PARTITION BY source
         |         ORDER BY quality ASC, doc_id ASC) AS q_rank
         |FROM q ORDER BY doc_id""".stripMargin,
    "source_cap" ->
      s"""WITH base AS (SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS p FROM documents),
         | c AS (SELECT doc_id, source, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base),
         | q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM c),
         | r AS (SELECT source, doc_id,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS INT) AS rank
         |        FROM q)
         |SELECT source, doc_id, rank FROM r WHERE rank <= 15
         |ORDER BY source, rank""".stripMargin,
    "lang_temperature_sample" ->
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cl FROM documents GROUP BY 1),
        | w AS (SELECT lang, sqrt(CAST(cl AS DOUBLE)) AS wl FROM c),
        | s AS (SELECT list_sum(list(wl ORDER BY lang)) AS tot FROM w),
        | alloc AS (SELECT lang, CAST(FLOOR(CAST(200 AS DOUBLE) * wl / tot) AS BIGINT) AS nl FROM w, s),
        | r AS (SELECT doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |        FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN alloc USING (lang)
        |WHERE rk <= nl ORDER BY doc_id""".stripMargin,
    "quality_classifier" ->
      s"""WITH $qcScoredSql
         |SELECT doc_id, p_clean, p_clean >= 0.5 AS keep FROM s ORDER BY doc_id""".stripMargin,
    "classifier_auc" ->
      s"""WITH $qcScoredSql,
         | lab AS (SELECT p_clean AS v,
         |        CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS pos FROM s),
         | cell AS (SELECT v, CAST(SUM(pos) AS BIGINT) AS np,
         |        CAST(SUM(1 - pos) AS BIGINT) AS nn FROM lab GROUP BY 1),
         | wd AS (SELECT v, np, nn, np + nn AS t,
         |        CAST(COALESCE(SUM(np + nn) OVER (ORDER BY v
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |       FROM cell),
         | a AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
         |        SUM(CAST(np AS DOUBLE) * (CAST(cb AS DOUBLE) + (CAST(t AS DOUBLE) + 1) / 2)) AS rp
         |       FROM wd)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos > 0 AND n_neg > 0
         |       THEN ROUND((rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1) / 2)
         |         / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
         |  END AS auc
         |FROM a""".stripMargin,
    "classifier_prf" ->
      s"""WITH $qcScoredSql,
         | m AS (SELECT p_clean >= 0.5 AS y, doc_id < 400000 AS l FROM s),
         | a AS (SELECT
         |        CAST(SUM(CASE WHEN y AND l THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |        CAST(SUM(CASE WHEN y AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |        CAST(SUM(CASE WHEN NOT y AND l THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |        CAST(SUM(CASE WHEN NOT y AND NOT l THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |       FROM m)
         |SELECT tp, fp, fn, tn,
         |  CASE WHEN tp + fp > 0 THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6) END AS precision,
         |  CASE WHEN tp + fn > 0 THEN ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) END AS recall,
         |  CASE WHEN 2 * tp + fp + fn > 0 THEN ROUND(CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1,
         |  CASE WHEN tp + fp + fn + tn > 0 THEN ROUND(CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE), 6) END AS accuracy
         |FROM a""".stripMargin,
    // isotonic mirror: the qc CTEs, (bin, label) cells, BIGINT prefix
    // lists, and the same minimax over IEEE quotients (list_min /
    // list_max are order-free; nested-lambda capture is the PqSqlBits
    // proven idiom)
    "isotonic_calibration" ->
      s"""WITH $qcScoredSql,
         | mr AS (SELECT GREATEST(0, LEAST(CAST(FLOOR(p_clean * 100) AS BIGINT), 99)) AS b,
         |        CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS y FROM s),
         | cells AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(y) AS BIGINT) AS p FROM mr GROUP BY 1),
         | pk AS (SELECT list(struct_pack(b := b, n := n, p := p) ORDER BY b) AS l FROM cells),
         | pp AS (SELECT l, len(l) AS m,
         |        list_transform(range(0, len(l) + 1), i ->
         |          CAST(COALESCE(list_sum(list_transform(list_slice(l, 1, CAST(i AS INT)), x -> x.n)), 0) AS BIGINT)) AS pn,
         |        list_transform(range(0, len(l) + 1), i ->
         |          CAST(COALESCE(list_sum(list_transform(list_slice(l, 1, CAST(i AS INT)), x -> x.p)), 0) AS BIGINT)) AS ppv
         |       FROM pk),
         | ex AS (SELECT unnest(range(1, CAST(m AS INT) + 1)) AS k, l, m, pn, ppv FROM pp),
         | iso AS (SELECT k, l,
         |        list_max(list_transform(range(1, k + 1), i ->
         |          list_min(list_transform(range(k, m + 1), j ->
         |            CAST(ppv[CAST(j + 1 AS INT)] - ppv[CAST(i AS INT)] AS DOUBLE)
         |              / CAST(pn[CAST(j + 1 AS INT)] - pn[CAST(i AS INT)] AS DOUBLE))))) AS iso
         |       FROM ex)
         |SELECT l[CAST(k AS INT)].b AS bin, l[CAST(k AS INT)].n AS n,
         |  l[CAST(k AS INT)].p AS n_pos,
         |  ROUND(CAST(l[CAST(k AS INT)].p AS DOUBLE) / CAST(l[CAST(k AS INT)].n AS DOUBLE), 6) AS raw_rate,
         |  ROUND(iso, 6) AS iso_rate
         |FROM iso ORDER BY bin""".stripMargin,
    // ECE mirror: same bins/decimal sums, the weighted |acc - conf|
    // fold in bin order via list_sum(list(... ORDER BY bin))
    "calibration_ece" ->
      s"""WITH $qcScoredSql,
         | m AS (SELECT LEAST(CAST(FLOOR(p_clean * 10) AS BIGINT), 9) AS bin,
         |        CAST(p_clean AS DECIMAL(20,6)) AS p,
         |        CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS pos FROM s),
         | a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
         |        SUM(p) AS sp, CAST(SUM(pos) AS BIGINT) AS np
         |       FROM m GROUP BY 1),
         | t2 AS (SELECT CAST(SUM(nb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_bins FROM a),
         | terms AS (SELECT bin,
         |        CAST(nb AS DOUBLE) / CAST(n AS DOUBLE)
         |          * abs(CAST(np AS DOUBLE) / CAST(nb AS DOUBLE)
         |            - CAST(sp AS DOUBLE) / CAST(nb AS DOUBLE)) AS term
         |       FROM a, t2)
         |SELECT t2.n, t2.n_bins,
         |  ROUND((SELECT list_sum(list(term ORDER BY bin)) FROM terms), 6) AS ece
         |FROM t2""".stripMargin,
    "classifier_calibration" ->
      s"""WITH $qcScoredSql,
         | m AS (SELECT LEAST(CAST(FLOOR(p_clean * 10) AS BIGINT), 9) AS bin,
         |        CAST(p_clean AS DECIMAL(20,6)) AS p,
         |        CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS pos FROM s),
         | a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(p) AS DOUBLE) AS sp, CAST(SUM(pos) AS BIGINT) AS np
         |       FROM m GROUP BY 1)
         |SELECT bin, n, ROUND(sp / CAST(n AS DOUBLE), 6) AS avg_p,
         |  ROUND(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate
         |FROM a ORDER BY bin""".stripMargin,
    "quantile_regression_daily" ->
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
        |FROM r WHERE rn = 1 ORDER BY tau""".stripMargin,
    "theil_sen_daily" ->
      """WITH dc AS (SELECT CAST(ts AS DATE) - DATE '1970-01-01' AS d,
        |        CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1),
        | p AS (SELECT CAST(b.x - a.x AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS s,
        |        a.d AS xa, b.d AS xb
        |       FROM dc a JOIN dc b ON a.d < b.d),
        | r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s, xa, xb) AS rn,
        |        CAST(COUNT(*) OVER () AS BIGINT) AS n FROM p)
        |SELECT n AS n_pairs, ROUND(s, 6) AS sen_slope
        |FROM r WHERE rn * 2 >= n AND (rn - 1) * 2 < n""".stripMargin,
    "rake_keywords" -> {
      val stopRe = "\\b(" + TextFunctions.EnStops.mkString("|") + ")\\b|[.,!?;:]"
      s"""WITH ph0 AS (SELECT unnest(string_split(
         |        regexp_replace(lower(text), '$stopRe', chr(1), 'g'), chr(1))) AS p
         |       FROM documents),
         | ph AS (SELECT trim(p) AS phrase FROM ph0 WHERE trim(p) <> ''),
         | phf AS (SELECT phrase, regexp_split_to_array(phrase, '\\s+') AS ws,
         |        CAST(len(regexp_split_to_array(phrase, '\\s+')) AS BIGINT) AS l
         |       FROM ph
         |       WHERE len(regexp_split_to_array(phrase, '\\s+')) <= 4),
         | w AS (SELECT unnest(ws) AS word, l FROM phf),
         | ws9 AS (SELECT word, CAST(ROUND(CAST(CAST(SUM(l) AS BIGINT) AS DOUBLE)
         |          / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE), 9) AS DECIMAL(20,9)) AS s9
         |       FROM w GROUP BY 1),
         | dph AS (SELECT DISTINCT phrase FROM phf),
         | dw AS (SELECT phrase, unnest(regexp_split_to_array(phrase, '\\s+')) AS word FROM dph),
         | sc AS (SELECT phrase, SUM(s9) AS s FROM dw JOIN ws9 USING (word) GROUP BY 1)
         |SELECT phrase, ROUND(CAST(s AS DOUBLE), 6) AS score
         |FROM sc ORDER BY s DESC, phrase LIMIT 20""".stripMargin
    },
    "retrieval_eval" -> {
      val qm = RetrievalEvalQueries
        .flatMap { case (q, ts) => ts.map(t0 => s"('$q', '$t0')") }
        .mkString(", ")
      val disc = Retrieval.NdcgDiscounts.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, ${d.toPlainString})" }
        .mkString(", ")
      s"""WITH qm(query_id, tok) AS (VALUES $qm),
         | disc(r, d) AS (VALUES $disc),
         | bl AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | dls AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM bl),
         | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dls),
         | toks AS (SELECT doc_id, dl, unnest(ws) AS tok FROM dls),
         | qtf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM toks WHERE tok IN (SELECT tok FROM qm) GROUP BY 1, 2, 3),
         | dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
         | sc AS (SELECT qm.query_id, doc_id,
         |          LN(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1)
         |          / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS c
         |        FROM qtf JOIN dft USING (tok) JOIN qm USING (tok), st),
         | agg AS (SELECT query_id, doc_id, ROUND(SUM(c), 6) AS bm25 FROM sc GROUP BY 1, 2),
         | run AS (SELECT query_id, doc_id,
         |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
         |        FROM agg),
         | qrels AS (SELECT query_id, doc_id, CAST(COUNT(*) AS BIGINT) AS rel
         |        FROM (SELECT DISTINCT doc_id, tok FROM toks) dt JOIN qm USING (tok)
         |        GROUP BY 1, 2),
         | top AS (SELECT r.query_id, r.doc_id, r.rank, q.rel
         |        FROM run r LEFT JOIN qrels q USING (query_id, doc_id) WHERE r.rank <= 10),
         | pq AS (SELECT query_id,
         |          SUM(COALESCE((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1, 0) * d) AS dcg,
         |          MIN(CASE WHEN rel >= 1 THEN rank END) AS fr,
         |          SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS hits
         |        FROM top JOIN disc ON disc.r = top.rank GROUP BY 1),
         | irn AS (SELECT query_id, doc_id, rel,
         |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
         |        FROM qrels),
         | ideal AS (SELECT query_id,
         |          SUM(((CAST(1 AS BIGINT) << CAST(rel AS INT)) - 1) * d) AS idcg
         |        FROM irn JOIN disc ON disc.r = irn.rn WHERE rn <= 10 GROUP BY 1),
         | nr AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM qrels GROUP BY 1)
         |SELECT pq.query_id,
         |  ROUND(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) AS ndcg,
         |  ROUND(COALESCE(CAST(1 AS DOUBLE) / CAST(fr AS DOUBLE), CAST(0 AS DOUBLE)), 6) AS mrr,
         |  ROUND(CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE), 6) AS recall,
         |  n_rel
         |FROM pq JOIN ideal USING (query_id) JOIN nr USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    "cohen_kappa_docs" ->
      """WITH r AS (SELECT n_chars >= 300 AS a,
        |        len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 2
        |          >= len(regexp_split_to_array(trim(text), '\s+')) AS b
        |       FROM documents),
        | c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        |        CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        |        CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        |        CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
        |       FROM r),
        | k AS (SELECT n, n11, n10, n01, n00,
        |        CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |        CAST((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00) AS DOUBLE)
        |          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
        |       FROM c)
        |SELECT n, n11, n10, n01, n00, ROUND(po, 6) AS po, ROUND(pe, 6) AS pe,
        |  CASE WHEN pe < 1.0 THEN ROUND((po - pe) / (1.0 - pe), 6) END AS kappa
        |FROM k""".stripMargin,
    "pareto_parts" ->
      """WITH g AS (SELECT p_retailprice AS pr, MAX(p_size) AS mg FROM part GROUP BY 1),
        | v AS (SELECT pr, mg,
        |        MAX(mg) OVER (ORDER BY pr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        |       FROM g)
        |SELECT p_retailprice, p_partkey, p_size
        |FROM part JOIN v ON p_retailprice = pr
        |WHERE p_size = mg AND (rm IS NULL OR rm < p_size)
        |ORDER BY p_partkey""".stripMargin,
    "target_encode_segment" ->
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
        |FROM per, g ORDER BY c_mktsegment""".stripMargin,
    // lcc mirror: the dup_triangles wedge CTEs + the capped degree
    // roll-up over the SAME edge set
    "dup_clustering_coef" ->
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | canon AS (SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
         |           FROM p WHERE id_a <> id_b),
         | degn AS (SELECT n FROM (SELECT unnest([lo, hi]) AS n FROM canon) t
         |          GROUP BY n HAVING COUNT(*) <= 4096),
         | e AS (SELECT lo, hi FROM canon
         |       JOIN degn dl ON dl.n = canon.lo JOIN degn dh ON dh.n = canon.hi),
         | deg AS (SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree
         |         FROM (SELECT unnest([lo, hi]) AS n FROM e) t GROUP BY 1),
         | tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
         |         FROM e ab JOIN e bc ON bc.lo = ab.hi
         |         JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi),
         | tc AS (SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS nt
         |        FROM (SELECT unnest([a, b, c]) AS n FROM tri) t GROUP BY 1)
         |SELECT deg.node, degree, COALESCE(nt, 0) AS n_triangles,
         |  CASE WHEN degree >= 2 THEN ROUND(CAST(2 * COALESCE(nt, 0) AS DOUBLE)
         |    / CAST(degree * (degree - 1) AS DOUBLE), 6) END AS lcc
         |FROM deg LEFT JOIN tc USING (node) ORDER BY node""".stripMargin,
    "winsorized_mean_status" ->
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
        |FROM cl GROUP BY g, lo, hi ORDER BY g""".stripMargin,
    "holt_daily_counts" ->
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
        |FROM c ORDER BY event_type, day""".stripMargin,
    "seq_triples_events" ->
      """WITH t AS (SELECT user_id, event_type AS s1,
        |        LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s2,
        |        LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS s3
        |       FROM events),
        | c AS (SELECT s1, s2, s3, CAST(COUNT(*) AS BIGINT) AS cnt FROM t
        |       WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1, 2, 3),
        | tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM c)
        |SELECT s1, s2, s3, cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS support
        |FROM c, tot ORDER BY cnt DESC, s1, s2, s3 LIMIT 20""".stripMargin,
    "simpson_diversity_sources" ->
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM documents GROUP BY 1, 2),
        | a AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
        |        CAST(COUNT(*) AS BIGINT) AS k_cats,
        |        CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS pp FROM c GROUP BY 1)
        |SELECT source, n, k_cats,
        |  CASE WHEN n >= 2 THEN ROUND(CAST(1 AS DOUBLE)
        |    - CAST(pp AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) END AS simpson
        |FROM a ORDER BY source""".stripMargin,
    // k-core mirror: the dup pair CTEs + 4 peel sweeps unrolled
    "kcore_dup_graph" -> {
      val peels = (1 to 4).map { i =>
        s""" d$i AS (SELECT n FROM (SELECT unnest([lo, hi]) AS n FROM e${i - 1}) t
           |        GROUP BY n HAVING COUNT(*) >= 2),
           | e$i AS (SELECT lo, hi FROM e${i - 1}
           |        JOIN d$i a ON a.n = e${i - 1}.lo JOIN d$i b ON b.n = e${i - 1}.hi)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | e0 AS (SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
         |        FROM p WHERE id_a <> id_b),
         |$peels
         |SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM (SELECT unnest([lo, hi]) AS n FROM e4) t
         |GROUP BY 1 ORDER BY node""".stripMargin
    },
    "textrank_keywords" -> {
      val stopsIn = TextFunctions.EnStops.map(w => s"'$w'").mkString(", ")
      s"""WITH wl AS (SELECT [w FOR w IN regexp_split_to_array(lower(trim(text)), '\\s+')
         |            IF length(w) >= 3 AND w NOT IN ($stopsIn)] AS ws FROM documents),
         | pr0 AS (SELECT unnest([ws[i] || chr(9) || ws[i + 1] FOR i IN range(1, len(ws))]) AS s
         |        FROM wl WHERE len(ws) >= 2),
         | pp AS (SELECT split_part(s, chr(9), 1) AS w1, split_part(s, chr(9), 2) AS w2
         |        FROM pr0 WHERE split_part(s, chr(9), 1) <> split_part(s, chr(9), 2)),
         | e AS (SELECT w1 AS src, w2 AS dst FROM pp UNION SELECT w2, w1 FROM pp),
         | ${pageRankChain(3, 0.85, 9)}
         |SELECT id AS term, r AS score FROM r3 ORDER BY r DESC, id LIMIT 20""".stripMargin
    },
    // session_window mirror: gap-merge replayed as lag+cumsum; new
    // session iff gap >= 30 min (the half-open [start, last+gap) merge)
    "session_window_stats" ->
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
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start_us""".stripMargin,
    "rolling_corr_7d" ->
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
        |FROM m ORDER BY day""".stripMargin,
    "lang_chi2_sources" ->
      """WITH cells AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
        |       FROM documents GROUP BY 1, 2),
        | ng AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ng FROM cells GROUP BY 1),
        | tc AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS tc FROM cells GROUP BY 1),
        | tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        | t AS (SELECT cells.source, ng.ng, cells.lang,
        |        (CAST(o * o AS DOUBLE) * CAST(n AS DOUBLE))
        |          / (CAST(ng AS DOUBLE) * CAST(tc AS DOUBLE)) AS term
        |       FROM cells JOIN ng USING (source) JOIN tc USING (lang), tot)
        |SELECT source, ng AS n,
        |  ROUND(list_sum(list(term ORDER BY lang)) - CAST(ng AS DOUBLE), 6) AS chi2
        |FROM t GROUP BY source, ng ORDER BY source""".stripMargin,
    "attribution_position" ->
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
        |FROM wt GROUP BY 1 ORDER BY 1""".stripMargin,
    // PSI mirror: bin = branch-free CASE sum over the SAME PsiEdges
    "psi_value_drift" -> {
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
    // gain/lift mirror: the qcScored CTE chain + NTILE under the same
    // (p_clean DESC, doc_id) total order; window SUM(BIGINT) cast back
    // per invariant 36
    "lift_gain_deciles" ->
      s"""WITH $qcScoredSql,
         | r AS (SELECT doc_id, p_clean, (doc_id < 400000) AS y,
         |        NTILE(10) OVER (ORDER BY p_clean DESC, (doc_id < 400000) DESC, doc_id) AS decile FROM s),
         | d AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |       FROM r GROUP BY 1),
         | cc AS (SELECT decile, n, n_pos,
         |        CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
         |        CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
         |        CAST(SUM(n) OVER () AS BIGINT) AS tn,
         |        CAST(SUM(n_pos) OVER () AS BIGINT) AS tp FROM d)
         |SELECT decile, n, n_pos, cum_n, cum_pos,
         |  ROUND(CAST(cum_pos AS DOUBLE) / tp, 6) AS gain,
         |  ROUND((CAST(cum_pos AS DOUBLE) / tp)
         |    / (CAST(cum_n AS DOUBLE) / tn), 6) AS lift
         |FROM cc ORDER BY decile""".stripMargin,
    // conditional-entropy mirror: the transition cell CTEs + a
    // next-type-ordered list_sum fold
    "cond_entropy_transitions" ->
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
        |FROM terms JOIN m USING (f) GROUP BY f ORDER BY from_type""".stripMargin,
    // forecast-backtest mirror: lag(1)/lag(7) over observed days,
    // exact integer |e| sums, day-ordered sMAPE fold
    "forecast_eval_mase" ->
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
        |FROM a ORDER BY event_type""".stripMargin,
    // item-similarity mirror: deduped baskets -> size guard -> pair
    // self-join -> both directions -> one-sqrt cosine on the exact
    // count product -> per-item rank on the round(6) grid
    "item_similarity_parts" ->
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
        |WHERE rank <= 5 ORDER BY item, rank""".stripMargin,
    // BFS mirror: the dup pair CTEs + 3 min-relaxation sweeps unrolled
    "bfs_hops_dup_graph" -> {
      val sweeps = (1 to 3).map { i =>
        s""" d$i AS (SELECT node, MIN(dist) AS dist FROM (
           |        SELECT node, dist FROM d${i - 1}
           |        UNION ALL SELECT e.dst AS node, CAST($i AS BIGINT) AS dist
           |        FROM d${i - 1} f JOIN e ON e.src = f.node WHERE f.dist = ${i - 1}
           |       ) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | e0 AS (SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
         |        FROM p WHERE id_a <> id_b),
         | e AS (SELECT lo AS src, hi AS dst FROM e0 UNION ALL SELECT hi, lo FROM e0),
         | n0 AS (SELECT DISTINCT src AS node FROM e),
         | d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM n0 WHERE node % 50 = 0),
         |$sweeps
         |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
    },
    // JSD mirror: observed-code full join (absent codes are exact +0.0
    // terms on the Spark side's 256-grid fold), ONE combined per-code
    // term, code-ordered list_sum, 0.5 factor after the fold
    "js_divergence_en_de" ->
      """WITH b1 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
        |            FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'en') GROUP BY 1),
        | b2 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
        |        FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'de') GROUP BY 1),
        | n1 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b1),
        | n2 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b2),
        | g AS (SELECT COALESCE(b1.code, b2.code) AS code,
        |        COALESCE(b1.cnt, 0) AS c1, COALESCE(b2.cnt, 0) AS c2
        |       FROM b1 FULL JOIN b2 ON b1.code = b2.code),
        | terms AS (SELECT code,
        |    (CASE WHEN c1 > 0 THEN (c1 / n1.n) * log2((c1 / n1.n) / ((c1 / n1.n + c2 / n2.n) / 2.0)) ELSE 0.0 END)
        |  + (CASE WHEN c2 > 0 THEN (c2 / n2.n) * log2((c2 / n2.n) / ((c1 / n1.n + c2 / n2.n) / 2.0)) ELSE 0.0 END) AS t
        |   FROM g, n1, n2)
        |SELECT ROUND(0.5 * list_sum(list(t ORDER BY code)), 6) AS jsd FROM terms""".stripMargin,
    // priority-drift mirror: the lang_chi2 observed-cells identity on
    // the (year, priority) cells
    "priority_chi2_years" ->
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
        |FROM t GROUP BY yr, ng ORDER BY yr""".stripMargin,
    // YoY mirror: month-partitioned year lag over the monthly roll-up
    "yoy_revenue_growth" ->
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
        |FROM l ORDER BY yr, mo""".stripMargin,
    // churn-label mirror: the same literal cut date on both windows
    "churn_labels" ->
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
        |ORDER BY feat.user_id""".stripMargin,
    // stratified log-rank mirror: the pooled mirror with every CTE
    // keyed by segment, contributions summed across strata
    "log_rank_stratified" ->
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
        |FROM f, sz""".stripMargin,
    // IVF-recall mirror: the ann_ivf_topk CTE chain at k=10 judged
    // against the brute chain over the shared e table
    // PQ recall mirror: the frozen-codebook encode/ADC CTEs at k=10
    // against the raw-cosine brute top-10
    "ann_recall_pq" -> {
      import PqSqlBits._
      s"""WITH cb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS ($normCte),
         | c AS (SELECT vec_id AS neighbor_id, $codes AS codes FROM n, cb),
         | q AS (SELECT vec_id AS query_id, $dts FROM n, cb WHERE vec_id < 5),
         | s AS (SELECT q.query_id, c.neighbor_id, ROUND($adist, 6) AS adist FROM q, c WHERE c.neighbor_id <> q.query_id),
         | r AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank FROM s),
         | pq AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 10),
         | sb AS (SELECT q2.vec_id AS query_id, c2.vec_id AS neighbor_id,
         |        ${cosSql("q2.v", "c2.v")} AS cos
         |       FROM e q2, e c2 WHERE q2.vec_id < 5 AND c2.vec_id <> q2.vec_id),
         | rb AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sb),
         | brute AS (SELECT query_id, neighbor_id FROM rb WHERE rank <= 10)
         |SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
         |  ROUND(CAST(COUNT(l.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM brute b LEFT JOIN pq l
         |  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin
    },
    "ann_recall_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | cents AS (SELECT vec_id AS cid, v AS cvec FROM e ORDER BY md5('42:' || vec_id), vec_id LIMIT 8),
         | ca AS (SELECT e.vec_id, c.cid, ${cosSql("e.v", "c.cvec")} AS ccos FROM e, cents c),
         | assign AS (SELECT vec_id AS neighbor_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca WHERE vec_id < 5) WHERE rn <= 2),
         | cand AS (SELECT DISTINCT query_id, neighbor_id FROM probe JOIN assign USING (cid) WHERE neighbor_id <> query_id),
         | si AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | ri AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM si),
         | ivf AS (SELECT query_id, neighbor_id FROM ri WHERE rank <= 10),
         | sb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        ${cosSql("q.v", "c.v")} AS cos
         |       FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         | rb AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sb),
         | brute AS (SELECT query_id, neighbor_id FROM rb WHERE rank <= 10)
         |SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
         |  ROUND(CAST(COUNT(l.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM brute b LEFT JOIN ivf l
         |  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    // Croston mirror: recursive CTE on demand-day row_number carrying
    // (z, p); the same separate-literal smoothing constants
    "croston_sparse_demand" ->
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
        |FROM rec ORDER BY day""".stripMargin,
    // Wilson mirror: the same fixed-order interval algebra; z² stays
    // the expression 1.96 * 1.96 so both engines fold the same double
    "wilson_ci_types" ->
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
        |FROM a ORDER BY event_type""".stripMargin,
    // source-JSD mirror: per-source byte counts on a shared code grid,
    // the js_divergence_en_de term generalized per (sa, sb) pair
    "source_jsd_matrix" ->
      """WITH src AS (SELECT DISTINCT source FROM documents),
        | pr AS (SELECT a.source AS sa, b.source AS sb
        |       FROM src a JOIN src b ON a.source < b.source),
        | bc AS (SELECT source, ascii(c) AS code, COUNT(*) AS cnt
        |       FROM (SELECT source, unnest(string_split(text, '')) AS c FROM documents)
        |       GROUP BY 1, 2),
        | nn AS (SELECT source, CAST(SUM(cnt) AS DOUBLE) AS n FROM bc GROUP BY 1),
        | codes AS (SELECT DISTINCT code FROM bc),
        | g AS (SELECT pr.sa, pr.sb, codes.code,
        |        COALESCE(x.cnt, 0) AS c1, COALESCE(y.cnt, 0) AS c2
        |       FROM pr CROSS JOIN codes
        |       LEFT JOIN bc x ON x.source = pr.sa AND x.code = codes.code
        |       LEFT JOIN bc y ON y.source = pr.sb AND y.code = codes.code),
        | terms AS (SELECT sa, sb, code,
        |    (CASE WHEN c1 > 0 THEN (c1 / na.n) * log2((c1 / na.n) / ((c1 / na.n + c2 / nb.n) / 2.0)) ELSE 0.0 END)
        |  + (CASE WHEN c2 > 0 THEN (c2 / nb.n) * log2((c2 / nb.n) / ((c1 / na.n + c2 / nb.n) / 2.0)) ELSE 0.0 END) AS t
        |   FROM g JOIN nn na ON na.source = g.sa JOIN nn nb ON nb.source = g.sb)
        |SELECT sa AS source_a, sb AS source_b,
        |  ROUND(0.5 * list_sum(list(t ORDER BY code)), 6) AS jsd
        |FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // dedup-savings mirror: the u dup-group CTE + size histogram
    "dedup_savings" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
        | g AS (SELECT CAST(COUNT(*) AS BIGINT) AS s,
        |        CAST(length(text) AS BIGINT) AS len FROM u GROUP BY text)
        |SELECT s AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(s - 1) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM((s - 1) * len) AS BIGINT) AS chars_saved
        |FROM g GROUP BY 1 ORDER BY cluster_size""".stripMargin,
    // RFM mirror: the same literal edges as branch-free CASE sums
    "rfm_segments" -> {
      def bSql(expr0: String, edges: Seq[Long]): String = edges
        .map(e => s"(CASE WHEN $expr0 >= $e THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH per AS (SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
         |        CAST(COUNT(*) AS BIGINT) AS f,
         |        SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS m
         |       FROM orders GROUP BY 1),
         | mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS mxd FROM orders),
         | sc AS (SELECT CAST(${bSql("(mxd - last_d)", RfmREdges)} AS BIGINT) AS r_bucket,
         |        CAST(${bSql("f", RfmFEdges)} AS BIGINT) AS f_bucket,
         |        CAST(${bSql("m", RfmMEdges)} AS BIGINT) AS m_bucket, m
         |       FROM per, mx)
         |SELECT r_bucket, f_bucket, m_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_customers,
         |  ROUND(CAST(SUM(m) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_monetary
         |FROM sc GROUP BY 1, 2, 3 ORDER BY r_bucket, f_bucket, m_bucket""".stripMargin
    },
    // decomposition mirror: centered ROWS window over observed days,
    // named-window SUM cast back per invariant 36, day-ordered seasonal
    // fold per (type, epoch-day position)
    "classical_decomposition" ->
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
        |ORDER BY dd.event_type, day""".stripMargin,
    // Bellman-Ford mirror: the dup pair CTEs with 1 − jaccard weights,
    // canonical min-weight undirected edges, 3 relaxation sweeps
    "bellman_ford_dup" -> {
      val sweeps = (1 to 3).map { i =>
        s""" d$i AS (SELECT node, MIN(dist) AS dist FROM (
           |        SELECT node, dist FROM d${i - 1}
           |        UNION ALL SELECT e.dst AS node, f.dist + e.w AS dist
           |        FROM d${i - 1} f JOIN e ON e.src = f.node
           |       ) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $ngramPairCtes,
         | p AS (SELECT id_a, id_b, 1e0 - jaccard AS w FROM j
         |       WHERE jaccard >= 0.9 AND id_a <> id_b),
         | e0 AS (SELECT DISTINCT least(id_a, id_b) AS lo,
         |        greatest(id_a, id_b) AS hi, w FROM p),
         | e AS (SELECT src, dst, MIN(w) AS w FROM (
         |        SELECT lo AS src, hi AS dst, w FROM e0
         |        UNION ALL SELECT hi, lo, w FROM e0) GROUP BY 1, 2),
         | n0 AS (SELECT DISTINCT src AS node FROM e),
         | d0 AS (SELECT node, CAST(0 AS DOUBLE) AS dist FROM n0 WHERE node % 50 = 0),
         |$sweeps
         |SELECT node, ROUND(dist, 6) AS dist FROM d3 ORDER BY node""".stripMargin
    },
    // l-diversity mirror: distinct sensitive buckets per QI group
    "l_diversity_audit" ->
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
        |FROM a""".stripMargin,
    // ANN-recall mirror: the lsh bucket CTEs and the brute chain share
    // ONE e table; per-query left-join overlap count
    "ann_recall_eval" ->
      s"""WITH ${lshBucketCtes(8, 4)},
         | cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |          FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
         |          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         | sl AS (SELECT query_id, neighbor_id, ${cosSql("eq.v", "ec.v")} AS cos
         |       FROM cand JOIN e eq ON eq.vec_id = query_id JOIN e ec ON ec.vec_id = neighbor_id),
         | rl AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sl),
         | lsh AS (SELECT query_id, neighbor_id FROM rl WHERE rank <= 10),
         | sb AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |        ${cosSql("q.v", "c.v")} AS cos
         |       FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         | rb AS (SELECT query_id, neighbor_id,
         |        ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM sb),
         | brute AS (SELECT query_id, neighbor_id FROM rb WHERE rank <= 10)
         |SELECT b.query_id, CAST(COUNT(*) AS BIGINT) AS k,
         |  CAST(COUNT(l.neighbor_id) AS BIGINT) AS n_hits,
         |  ROUND(CAST(COUNT(l.neighbor_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
         |FROM brute b LEFT JOIN lsh l
         |  ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
         |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    // LTV mirror: integer epoch-week arithmetic, DECIMAL revenue sums,
    // per-cohort cumulative window
    "cohort_ltv" ->
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
        |FROM cm JOIN sz USING (cw) ORDER BY cohort_week, week_offset""".stripMargin,
    // daily-percentile mirror: the mad_outliers rank-pick discipline at
    // 50/95/99 per day
    "latency_daily_p95" ->
      """WITH r AS (SELECT CAST(ts AS DATE) AS day, value,
        |        ROW_NUMBER() OVER (PARTITION BY CAST(ts AS DATE)
        |          ORDER BY value, event_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY CAST(ts AS DATE)) AS n FROM events)
        |SELECT day, CAST(MAX(n) AS BIGINT) AS n,
        |  MAX(CASE WHEN rn * 100 >= n * 50 AND (rn - 1) * 100 < n * 50 THEN value END) AS p50,
        |  MAX(CASE WHEN rn * 100 >= n * 95 AND (rn - 1) * 100 < n * 95 THEN value END) AS p95,
        |  MAX(CASE WHEN rn * 100 >= n * 99 AND (rn - 1) * 100 < n * 99 THEN value END) AS p99
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    // log-rank mirror: the kaplan_meier per-user CTEs split by parity,
    // prefix-sum risk sets, t-ordered list_sum folds for E1/V
    "log_rank_purchase" ->
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
        |FROM f""".stripMargin,
    // k-anonymity mirror: QI group sizes + the four audit scalars
    // Fisher mirror: same md5-parity arm, ln-factorial range folds,
    // exp anchor, and the term-ratio tail as a recursive CTE stepping
    // k -> k+1 with the identical float factor
    "fisher_exact" -> {
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
    // BH-FDR mirror: same decimal moments, global-minus-group rest,
    // identical A-S Horner polynomial and Sqrt2Pi literal, BH suffix
    // minima as list folds over the p-sorted battery
    "bh_fdr_welch" -> {
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
    // t-closeness mirror: same cell/group/global aggregates, the grid
    // completed by a cross join (values identical to the Spark side's
    // map-lookup transform), EMD as the same m fresh prefix folds over
    // the level-ordered d list
    "t_closeness_audit" ->
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
        |ORDER BY ROUND(emd, 6) DESC, yr, prio LIMIT 10""".stripMargin,
    "k_anonymity_audit" ->
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
        |FROM a""".stripMargin,
    // uplift mirror: the ab md5-parity arm, DECIMAL moment sums, the
    // same fixed-order Welch algebra
    "uplift_by_segment" ->
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
        |FROM a ORDER BY c_mktsegment""".stripMargin,
    // confusion mirror: the text_profile lang CASE over the same stops
    // counts, exact marginal roll-ups, guarded precision
    "lang_confusion" -> {
      s"""WITH base AS (SELECT lang, text, ' ' || lower(text) || ' ' AS p FROM documents),
         | c AS (SELECT lang,
         |  ${stops(TextFunctions.EnStops)} AS stop_en,
         |  ${stops(TextFunctions.DeStops)} AS stop_de,
         |  ${stops(TextFunctions.EsStops)} AS stop_es,
         |  ${stops(TextFunctions.FrStops)} AS stop_fr,
         |  text FROM base),
         | s AS (SELECT lang,
         |  CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
         |       WHEN stop_en = 0 AND stop_de = 0 AND stop_es = 0 AND stop_fr = 0 THEN 'unknown'
         |       WHEN stop_en >= stop_de AND stop_en >= stop_es AND stop_en >= stop_fr THEN 'en'
         |       WHEN stop_de >= stop_es AND stop_de >= stop_fr THEN 'de'
         |       WHEN stop_es >= stop_fr THEN 'es' ELSE 'fr' END AS pred
         | FROM c),
         | rws AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_true,
         |        CAST(SUM(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT) AS tp
         |       FROM s GROUP BY 1),
         | cls AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS np FROM s GROUP BY 1)
         |SELECT lang, n_true, CAST(COALESCE(np, 0) AS BIGINT) AS n_pred, tp,
         |  CASE WHEN COALESCE(np, 0) > 0
         |       THEN ROUND(CAST(tp AS DOUBLE) / np, 6) END AS precision,
         |  ROUND(CAST(tp AS DOUBLE) / n_true, 6) AS recall,
         |  ROUND(2.0 * CAST(tp AS DOUBLE) / (n_true + COALESCE(np, 0)), 6) AS f1
         |FROM rws LEFT JOIN cls ON pred = lang ORDER BY lang""".stripMargin
    },
    // FS-scoring mirror: the weight aggregate CROSS-joined back onto
    // the pair frame, per-field CASE weights, 4-point score histogram
    "fs_score_separation" ->
      """WITH a AS (SELECT c_custkey AS akey, c_nationkey AS anation,
        |        c_mktsegment AS aseg, FLOOR(c_acctbal / 1000.0) AS abal FROM customer),
        | b AS (SELECT c_custkey + 1000000 AS bkey,
        |        CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS bnation,
        |        CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END AS bseg,
        |        CASE WHEN c_custkey % 7 = 0 THEN FLOOR(c_acctbal / 1000.0) + 1
        |             ELSE FLOOR(c_acctbal / 1000.0) END AS bbal
        |       FROM customer),
        | p AS (SELECT (aseg = bseg) AS agseg, (abal = bbal) AS agbal,
        |        (bkey = akey + 1000000) AS ismatch
        |       FROM a JOIN b ON anation = bnation),
        | w AS (SELECT
        |    CAST(SUM(CASE WHEN ismatch THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT ismatch THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN ismatch AND agseg THEN 1 ELSE 0 END) AS BIGINT) AS mas,
        |    CAST(SUM(CASE WHEN NOT ismatch AND agseg THEN 1 ELSE 0 END) AS BIGINT) AS uas,
        |    CAST(SUM(CASE WHEN ismatch AND agbal THEN 1 ELSE 0 END) AS BIGINT) AS mab,
        |    CAST(SUM(CASE WHEN NOT ismatch AND agbal THEN 1 ELSE 0 END) AS BIGINT) AS uab
        |   FROM p),
        | sc AS (SELECT ismatch, ROUND(
        |    (CASE WHEN agseg THEN (CASE WHEN mas > 0 AND uas > 0
        |        THEN log2((CAST(mas AS DOUBLE) / nm) / (CAST(uas AS DOUBLE) / nu)) ELSE 0.0 END)
        |     ELSE (CASE WHEN nm > mas AND nu > uas
        |        THEN log2((1.0 - CAST(mas AS DOUBLE) / nm) / (1.0 - CAST(uas AS DOUBLE) / nu)) ELSE 0.0 END) END)
        |  + (CASE WHEN agbal THEN (CASE WHEN mab > 0 AND uab > 0
        |        THEN log2((CAST(mab AS DOUBLE) / nm) / (CAST(uab AS DOUBLE) / nu)) ELSE 0.0 END)
        |     ELSE (CASE WHEN nm > mab AND nu > uab
        |        THEN log2((1.0 - CAST(mab AS DOUBLE) / nm) / (1.0 - CAST(uab AS DOUBLE) / nu)) ELSE 0.0 END) END), 6) AS score
        |   FROM p, w)
        |SELECT score, ismatch, CAST(COUNT(*) AS BIGINT) AS n
        |FROM sc GROUP BY 1, 2 ORDER BY score DESC, ismatch""".stripMargin,
    // Brier mirror: the qcScored chain, DECIMAL(9,6) grid squared-error
    "classifier_brier" ->
      s"""WITH $qcScoredSql,
         | e AS (SELECT (CAST(p_clean AS DECIMAL(9,6))
         |        - CAST(CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS DECIMAL(9,6))) AS d
         |       FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(CAST(SUM(d * d) AS DOUBLE) / COUNT(*), 6) AS brier
         |FROM e""".stripMargin,
    // Fellegi-Sunter mirror: the same perturbed copy, nation-blocked
    // pairs, ONE conditional aggregate, guarded log2 weights
    "fellegi_sunter_weights" ->
      """WITH a AS (SELECT c_custkey AS akey, c_nationkey AS anation,
        |        c_mktsegment AS aseg, FLOOR(c_acctbal / 1000.0) AS abal FROM customer),
        | b AS (SELECT c_custkey + 1000000 AS bkey,
        |        CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS bnation,
        |        CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END AS bseg,
        |        CASE WHEN c_custkey % 7 = 0 THEN FLOOR(c_acctbal / 1000.0) + 1
        |             ELSE FLOOR(c_acctbal / 1000.0) END AS bbal
        |       FROM customer),
        | p AS (SELECT (aseg = bseg) AS agseg, (abal = bbal) AS agbal,
        |        (bkey = akey + 1000000) AS ismatch
        |       FROM a JOIN b ON anation = bnation),
        | agg AS (SELECT
        |    CAST(SUM(CASE WHEN ismatch THEN 1 ELSE 0 END) AS BIGINT) AS nm,
        |    CAST(SUM(CASE WHEN NOT ismatch THEN 1 ELSE 0 END) AS BIGINT) AS nu,
        |    CAST(SUM(CASE WHEN ismatch AND agseg THEN 1 ELSE 0 END) AS BIGINT) AS ma_seg,
        |    CAST(SUM(CASE WHEN NOT ismatch AND agseg THEN 1 ELSE 0 END) AS BIGINT) AS ua_seg,
        |    CAST(SUM(CASE WHEN ismatch AND agbal THEN 1 ELSE 0 END) AS BIGINT) AS ma_bal,
        |    CAST(SUM(CASE WHEN NOT ismatch AND agbal THEN 1 ELSE 0 END) AS BIGINT) AS ua_bal
        |   FROM p),
        | fields AS (
        |   SELECT 'mktsegment' AS field, nm, nu, ma_seg AS ma, ua_seg AS ua FROM agg
        |   UNION ALL SELECT 'bal_bucket', nm, nu, ma_bal, ua_bal FROM agg)
        |SELECT field, nm AS n_match, nu AS n_nonmatch,
        |  CASE WHEN nm > 0 THEN ROUND(CAST(ma AS DOUBLE) / nm, 6) END AS m,
        |  CASE WHEN nu > 0 THEN ROUND(CAST(ua AS DOUBLE) / nu, 6) END AS u,
        |  CASE WHEN ma > 0 AND ua > 0
        |       THEN ROUND(log2((CAST(ma AS DOUBLE) / nm) / (CAST(ua AS DOUBLE) / nu)), 6) END AS w_agree,
        |  CASE WHEN nm > ma AND nu > ua AND nm > 0 AND nu > 0
        |       THEN ROUND(log2((1.0 - CAST(ma AS DOUBLE) / nm) / (1.0 - CAST(ua AS DOUBLE) / nu)), 6) END AS w_disagree
        |FROM fields ORDER BY field""".stripMargin,
    // DiD mirror: one conditional aggregate over the two daily series,
    // the same fixed-order mean algebra
    "diff_in_diff_daily" ->
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
        |FROM a""".stripMargin,
    // bootstrap mirror: the gumbel md5->uint48 idiom, the SAME
    // PoissonCum double literals (Double.toString round-trips), integer
    // ceil-rank percentile picks
    "bootstrap_ci_daily" -> {
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
    // Shapley mirror: mask/subset arithmetic on range(16), factorial
    // weights generated from the same fact() the Spark side uses
    "shapley_attribution" -> {
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
    // Markov removal mirror: the journey CTEs count START/channel/
    // absorber transitions exactly like the Spark window pass; the
    // absorbing-chain solve is replayed as Cramer over MarkovSolve's
    // lexicographic Leibniz determinants — the SAME permutation
    // enumeration the Scala driver-side solve folds, so every float
    // lands bit-identically; floor(x*1e6+0.5)/1e6 is the shared
    // half-up quantizer (rint's half-even has no DuckDB twin)
    "markov_removal" -> {
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
    // triplet mirror: the u dup-group CTE, md5-ranked pool, per-anchor
    // md5(anchor:cand) re-rank
    "contrastive_triplets" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0),
        | p AS (SELECT MIN(doc_id) AS anchor_id, MAX(doc_id) AS positive_id
        |       FROM u GROUP BY text HAVING COUNT(*) >= 2),
        | pool AS (SELECT doc_id AS cand FROM documents
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
        | j AS (SELECT anchor_id, positive_id, cand,
        |        ROW_NUMBER() OVER (PARTITION BY anchor_id, positive_id
        |          ORDER BY md5(CAST(anchor_id AS VARCHAR) || ':' || CAST(cand AS VARCHAR)), cand) AS rn
        |       FROM p JOIN pool ON cand <> anchor_id AND cand <> positive_id)
        |SELECT anchor_id, positive_id, cand AS negative_id,
        |  CAST(rn AS INT) AS neg_rank
        |FROM j WHERE rn <= 2 ORDER BY anchor_id, neg_rank""".stripMargin,
    // Holt-Winters mirror: deterministic first-season init (mean level,
    // zero trend, y−level seasonals in day order), then the recursion
    // chained on rn carrying the rotating DOUBLE[] seasonal list; s2 is
    // computed ONCE in a nested subquery so b/cn/c reuse the same value
    "holt_winters_daily" ->
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
        |FROM rec WHERE day IS NOT NULL ORDER BY event_type, day""".stripMargin,
    // feature-MI mirror: the contingency_events CTE chain instantiated
    // per feature (suffixed CTE names), tags UNION'd; the length-bucket
    // CASE sum shares FeatureMiLenEdges with the Spark when-chain
    "feature_mi_rank" -> {
      val lenSql = FeatureMiLenEdges
        .map(e => s"(CASE WHEN n_chars >= $e THEN 1 ELSE 0 END)")
        .mkString(" + ")
      def block(tag: String, featSql: String): String =
        s""" src_$tag AS (SELECT $featSql AS a, lang AS b FROM documents),
           | c_$tag AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o FROM src_$tag GROUP BY 1, 2),
           | ra_$tag AS (SELECT a, CAST(SUM(o) AS BIGINT) AS ra FROM c_$tag GROUP BY 1),
           | cb_$tag AS (SELECT b, CAST(SUM(o) AS BIGINT) AS cb FROM c_$tag GROUP BY 1),
           | nn_$tag AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
           |        CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
           |        CAST(COUNT(DISTINCT b) AS BIGINT) AS kb FROM c_$tag),
           | t_$tag AS (SELECT a, b,
           |        (CAST(o AS DOUBLE) / n) * LN((CAST(o AS DOUBLE) * n) / (CAST(ra AS DOUBLE) * cb)) AS mt,
           |        (CAST(o AS DOUBLE) * o) / (CAST(ra AS DOUBLE) * cb) AS ct
           |       FROM c_$tag JOIN ra_$tag USING (a) JOIN cb_$tag USING (b), nn_$tag),
           | f_$tag AS (SELECT list_sum(list(mt ORDER BY a, b)) AS mi,
           |        list_sum(list(ct ORDER BY a, b)) AS cs FROM t_$tag),
           | ea_$tag AS (SELECT list_sum(list(0 - (CAST(ra AS DOUBLE) / n) * LN(CAST(ra AS DOUBLE) / n) ORDER BY a)) AS h FROM ra_$tag, nn_$tag),
           | eb_$tag AS (SELECT list_sum(list(0 - (CAST(cb AS DOUBLE) / n) * LN(CAST(cb AS DOUBLE) / n) ORDER BY b)) AS h FROM cb_$tag, nn_$tag),
           | out_$tag AS (SELECT '$tag' AS feature, n, (ka - 1) * (kb - 1) AS dof,
           |  ROUND(mi, 6) AS mi,
           |  CASE WHEN ea_$tag.h > 0 AND eb_$tag.h > 0
           |       THEN ROUND(mi / sqrt(ea_$tag.h * eb_$tag.h), 6) END AS nmi,
           |  ROUND(CAST(n AS DOUBLE) * cs - CAST(n AS DOUBLE), 6) AS chi2,
           |  CASE WHEN LEAST(ka, kb) > 1
           |       THEN ROUND(sqrt((CAST(n AS DOUBLE) * cs - CAST(n AS DOUBLE))
           |         / (CAST(n AS DOUBLE) * (LEAST(ka, kb) - 1))), 6) END AS cramers_v
           |  FROM f_$tag, nn_$tag, ea_$tag, eb_$tag)""".stripMargin
      s"""WITH ${block("len_bucket", lenSql)},
         |${block("shard10", "doc_id % 10")},
         |${block("source", "source")}
         |SELECT * FROM (SELECT * FROM out_len_bucket
         |  UNION ALL SELECT * FROM out_shard10
         |  UNION ALL SELECT * FROM out_source) u ORDER BY feature""".stripMargin
    },
    // mutual-NN mirror: the item-similarity CTEs at k=1 + reciprocal
    // self-join, canonical a < b
    "mutual_nn_parts" ->
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
        |WHERE a.item < a.neighbor ORDER BY item_a""".stripMargin,
    "hapax_ratio_sources" ->
      """WITH toks AS (SELECT source,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | f AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS fr FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
        |        CAST(SUM(CASE WHEN fr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |       FROM f GROUP BY 1)
        |SELECT source, vocab, hapax,
        |  ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6) AS hapax_ratio
        |FROM a ORDER BY source""".stripMargin,
    // HLL replay generated from the SAME constants as the Spark path
    // (register/rho from md5 nibbles, exact-integer denominator,
    // interpolated alpha numerator and linear-counting literals)
    "hll_distinct_events" ->
      s"""WITH hll AS (
         |${Sketches.hllOracleSql("events", "event_type", "event_type",
               "CAST(user_id AS VARCHAR)")}),
         | ex AS (SELECT event_type,
         |          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         |        FROM events GROUP BY 1)
         |SELECT hll.event_type, zero_regs, denom, est_distinct, exact_distinct
         |FROM hll JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    // the EXACT heavy-hitter definition — the MG sketch path must equal
    // it bit-for-bit (guaranteed superset + exact recount)
    "heavy_hitter_tokens" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        | n AS (SELECT COUNT(*) AS c FROM tok)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
        |HAVING COUNT(*) * 200 > (SELECT c FROM n)
        |ORDER BY cnt DESC, token""".stripMargin,
    // t-digest mirror: same cells, same exact midpoint rationals, the
    // SAME cubic scale polynomial in the same operation order
    "tdigest_value" ->
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
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "quantiles_binned_chars" ->
      Sketches.binnedQuantilesOracleSql("documents", "n_chars",
        Seq(25 -> 100, 50 -> 100, 75 -> 100, 90 -> 100, 99 -> 100)),
    // per-source replay of the streaming histogram under the GLOBAL
    // frozen grid — same exact bins, ceil ranks, interpolation
    "binned_quantiles_stream" ->
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
        |ORDER BY c.source, c.q""".stripMargin,
    "zorder_events" ->
      s"""WITH d AS (SELECT event_id,
         |      user_id & ${(1L << 21) - 1} AS x,
         |      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS y
         |    FROM events WHERE event_id % 97 = 0)
         |SELECT event_id,
         |  CAST(${Sketches.zOrderOracleExpr("x", "y")} AS BIGINT) AS zval
         |FROM d ORDER BY event_id""".stripMargin,
    "shard_sizes" ->
      """WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
        |SELECT CAST(((instr('0123456789abcdef', substr(hx, 15, 1)) - 1) % 4) * 16
        |     + (instr('0123456789abcdef', substr(hx, 16, 1)) - 1) AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "cms_token_counts" -> {
      val b = Sketches.cmsBucket64OracleExpr _
      val probeVals = CmsProbeTokens.map(tk => s"('$tk')").mkString(", ")
      s"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS item FROM documents),
         | j AS (SELECT CAST(unnest(range(0, ${Sketches.CmsDepth})) AS INT) AS row),
         | rb AS (SELECT j.row,
         |          ${b("md5(CAST(j.row AS VARCHAR) || ':' || tok.item)")} AS bucket
         |        FROM tok, j),
         | c AS (SELECT row, bucket, COUNT(*) AS cnt FROM rb GROUP BY 1, 2),
         | probes(item) AS (VALUES $probeVals),
         | pb AS (SELECT p.item, j.row,
         |          ${b("md5(CAST(j.row AS VARCHAR) || ':' || p.item)")} AS bucket
         |        FROM probes p, j),
         | est AS (SELECT item, MIN(COALESCE(cnt, 0)) AS est
         |         FROM pb LEFT JOIN c USING (row, bucket) GROUP BY 1),
         | ex AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY 1)
         |SELECT est.item AS token, CAST(est AS BIGINT) AS est,
         |  COALESCE(exact_cnt, 0) AS exact_cnt
         |FROM est LEFT JOIN ex USING (item) ORDER BY token""".stripMargin
    },
    "cms_join_size" -> {
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
    "ams_f2_events" -> {
      val sg = Sketches.amsSignOracleExpr(
        "md5('s' || CAST(j.row AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")
      s"""WITH j AS (SELECT CAST(unnest(range(0, 5)) AS INT) AS row),
         | s AS (SELECT j.row, SUM($sg) AS sj FROM events, j GROUP BY 1),
         | e AS (SELECT CAST(MEDIAN(sj * sj) AS BIGINT) AS est FROM s),
         | x AS (SELECT CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS exact_size
         |       FROM (SELECT COUNT(*) AS c FROM events GROUP BY user_id))
         |SELECT est, exact_size FROM e, x""".stripMargin
    },
    "assoc_rules_parts" ->
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
        |FROM r ORDER BY lift DESC, antecedent, consequent LIMIT 50""".stripMargin,
    "benford_totalprice" -> {
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
    "contingency_events" ->
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
        |FROM f, nn, ea, eb""".stripMargin,
    // same rank-arithmetic percentile_disc as the Spark side (rn*2>=n,
    // (rn-1)*2<n picks the element at ceil(n/2)); 6.745e-1 in
    // e-notation per the decimal-literal invariant
    "mad_outliers" ->
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
        |WHERE ABS(mz) > 3.5 ORDER BY event_type, event_id""".stripMargin,
    // seasonal-ESD mirror: the classical-decomposition CTEs feed the
    // mad_outliers CTEs on (event_type, day, residual)
    "seasonal_esd_anomalies" ->
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
        |WHERE ABS(mz) > 2.0 ORDER BY event_type, day""".stripMargin,
    // conformal mirror: md5-parity split, decimal calibration means,
    // round(6) nonconformity cells, integer ceil rank pick, coverage
    "conformal_intervals" ->
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
        |FROM ts2, q GROUP BY q.n_cal, q.qhat""".stripMargin,
    "event_transitions" ->
      """WITH p AS (SELECT event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events),
        | c AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM p WHERE t IS NOT NULL GROUP BY 1, 2)
        |SELECT f AS from_type, t AS to_type, cnt,
        |  CAST(cnt AS DOUBLE) / CAST(SUM(cnt) OVER (PARTITION BY f) AS DOUBLE) AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin,
    "embedding_drift" ->
      """WITH q AS (SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS g,
        |        CAST(t.i - 1 AS INT) AS d,
        |        CAST(ROUND(CAST(embedding[t.i] AS DOUBLE) * 4096) AS BIGINT) AS qv
        |       FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i) t),
        | s AS (SELECT g, d, CAST(SUM(qv) AS BIGINT) AS s,
        |        CAST(COUNT(*) AS BIGINT) AS c FROM q GROUP BY 1, 2),
        | j AS (SELECT a.s AS sa, b.s AS sb, a.c AS ca, b.c AS cb
        |       FROM s a JOIN s b ON a.d = b.d AND a.g = 1 AND b.g = 0),
        | f AS (SELECT SUM(CAST(sa AS HUGEINT) * sb) AS dot,
        |        SUM(CAST(sa AS HUGEINT) * sa) AS na,
        |        SUM(CAST(sb AS HUGEINT) * sb) AS nb,
        |        MAX(ca) AS n_a, MAX(cb) AS n_b FROM j)
        |SELECT n_a, n_b,
        |  ROUND(CAST(dot AS DOUBLE)
        |    / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6) AS cos_means
        |FROM f""".stripMargin,
    // RI mirror: per edge the same null/total aggregate + NOT EXISTS
    // orphan count, generated from one edge list
    "ri_audit" -> {
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
    "dq_orders" ->
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
        |FROM u, t ORDER BY c""".stripMargin,
    "acf_daily_events" ->
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
        |FROM num, den ORDER BY lag""".stripMargin,
    "mann_whitney_value" ->
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
        |FROM a""".stripMargin,
    "ols_value_trend" ->
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
        |FROM a""".stripMargin,
    "spearman_qty_price" ->
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
        |FROM a""".stripMargin,
    "ks_value_click_error" ->
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
        |FROM a""".stripMargin,
    "gini_customer_spend" ->
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
        |FROM a""".stripMargin,
    "kruskal_value_types" ->
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
        |FROM f, tt""".stripMargin,
    "anova_value_types" ->
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
        |FROM f""".stripMargin,
    "ewma_daily_counts" ->
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
        |FROM c ORDER BY event_type, day""".stripMargin,
    "fano_event_types" ->
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
        |FROM a ORDER BY event_type""".stripMargin,
    "dow_anomalies" ->
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
        |ORDER BY event_type, day""".stripMargin,
    "scd2_user_type" ->
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
        |FROM i ORDER BY user_id, valid_from, event_type""".stripMargin,
    "zipf_slope_tokens" ->
      s"""WITH $expandedTokensSql,
        | f AS (SELECT token AS tok, CAST(COUNT(*) AS BIGINT) AS freq FROM et
        |       GROUP BY 1),
        | r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank FROM f),
        | k AS (SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |        CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |       FROM r WHERE rank <= 1000),
        | a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy FROM k)
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
        |FROM a""".stripMargin,
    // CUPED mirror: same per-user roll-up, HUGEINT pooled moments,
    // the identical fixed-order double readout
    "cuped_adjustment" ->
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
        |FROM f""".stripMargin,
    // streaming-CUPED mirror (repeated measures): frozen per-user
    // pre-period x joined onto per-(user, day) outcomes; per-day
    // integer sums (HUGEINT cross moments), cumulative windows in day
    // order, the SAME fixed-order double readout per day — the
    // stream's moment state is additive, so plain cumulative windows
    // replay it with no recursion
    "cuped_stream_daily" ->
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
        |FROM f ORDER BY d""".stripMargin,
    // weighted streaming-CUPED mirror: the same replay with per-unit
    // frequency weights w (HUGEINT weighted cross moments) — means are
    // SUM(w*y)/SUM(w) per arm, theta the weighted cov/var, all in the
    // engine's fixed double order
    "cuped_stream_weighted" ->
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
        |FROM f ORDER BY d""".stripMargin,
    "ab_test_value" -> {
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
    // recursive-CTE mirror of the KM fold: rn-chained steps carrying
    // (nr, s); first step's 1.0 * x == x bitwise, so the shapes agree
    // SPRT mirror: same (day, user)-distinct counts, the Scala-computed
    // log coefficients/boundaries as shared literals, prefix list folds
    // for the day-ordered LLR, rows cut at the first decision
    // OBF mirror: look grid + exact integer cumulative windows (the
    // grid is K rows — integer cumulations are engine-exact), the same
    // fixed-order z and c·sqrt(K/k) boundary, stop at first crossing
    "group_sequential_obf" ->
      """WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
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
        |        END AS z,
        |        2.04e0 * sqrt(5e0 / CAST(k AS DOUBLE)) AS bound
        |       FROM cum),
        | de AS (SELECT k, nc, nt, xc, xt, z, bound,
        |        CASE WHEN z IS NOT NULL AND ABS(z) > bound THEN 'reject'
        |             ELSE 'continue' END AS decision FROM zt),
        | fc AS (SELECT MIN(k) AS mk FROM de WHERE decision = 'reject')
        |SELECT de.k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
        |  ROUND(z, 6) + 0e0 AS z, ROUND(bound, 6) AS bound, decision
        |FROM de, fc WHERE de.k <= COALESCE(fc.mk, 5) ORDER BY look""".stripMargin,
    // Pocock mirror: the same grid/z replay with the flat boundary
    "group_sequential_pocock" ->
      """WITH d0 AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
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
        |        END AS z,
        |        CAST(2.413e0 AS DOUBLE) AS bound
        |       FROM cum),
        | de AS (SELECT k, nc, nt, xc, xt, z, bound,
        |        CASE WHEN z IS NOT NULL AND ABS(z) > bound THEN 'reject'
        |             ELSE 'continue' END AS decision FROM zt),
        | fc AS (SELECT MIN(k) AS mk FROM de WHERE decision = 'reject')
        |SELECT de.k AS look, nc AS n_c, nt AS n_t, xc AS x_c, xt AS x_t,
        |  ROUND(z, 6) + 0e0 AS z, ROUND(bound, 6) AS bound, decision
        |FROM de, fc WHERE de.k <= COALESCE(fc.mk, 5) ORDER BY look""".stripMargin,
    // Lan-DeMets mirrors: identical grid/z replay; the boundary is the
    // frozen per-look literal list (Double.toString round-trips, DuckDB
    // parses the decimal digits exactly and CASTs to the same double)
    "group_sequential_ld_obf" -> ldOracleSql("obf"),
    "group_sequential_futility" -> futilityOracleSql,
    "conditional_power" -> conditionalPowerOracleSql,
    "ssr_cp" -> ssrCpOracleSql,
    "rake_weights" -> rakeOracleSql,
    // EB shrinkage mirror: segment aggregate, ordered moment folds
    // over the s-sorted segment list, the same kappa guard and
    // posterior-mean op order
    "eb_shrink_rates" ->
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
        |FROM sp, kap ORDER BY segment""".stripMargin,
    "group_sequential_ld_pocock" -> ldOracleSql("pocock"),
    "group_sequential_ld_hsd" -> ldOracleSql("hsd"),
    "sprt_daily" -> {
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
    // mSPRT mirror: cumulative (day, arm) BIGINT sums in day order,
    // the closed-form mixture likelihood ratio in the engine's exact
    // double op order, and the always-valid p as a running window MIN
    // of LEAST(1, 1/lambda) over the valid days (no recursion — every
    // day's lambda depends only on the cumulative integer counts)
    "msprt_daily" -> {
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
    // mean-metric mSPRT mirror: integer-cents day aggregate with
    // HUGEINT squared sums, cumulative windows, the pooled-variance
    // readout and mixture Lambda in the engine's double op order
    "msprt_value_daily" -> {
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
    // Nelson-Aalen mirror: the KM bucket CTEs with the additive hazard
    // recursion h += d/nr, exp(0 - h) at the readout
    "nelson_aalen_purchase" ->
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
        |FROM na WHERE d > 0 ORDER BY t""".stripMargin,
    "kaplan_meier_purchase" ->
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
        |FROM km WHERE d > 0 ORDER BY t""".stripMargin,
    "latency_bands_cont" -> {
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
    // the stream lambda walks the identical path -> identical oracle
    // rn-chained recursive replay of the ACI fold: state = (alpha,
    // 30-deep score list); q-hat = exact ceil-rank pick from the sorted
    // window, judged BEFORE the point joins it (test-then-train)
    "conformal_stream_daily" ->
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
        |FROM c ORDER BY event_type, d""".stripMargin,
    "cusum_stream_shift" ->
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
        |WHERE c.s > p.h ORDER BY event_type, day""".stripMargin,
    // recursive-CTE walk of the same integer CUSUM path (rn-chained,
    // one step per day), alarms where s > h = 2*ref
    "cusum_error_shift" ->
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
        |WHERE c.s > p.h ORDER BY event_type, day""".stripMargin,
    "event_transitions_stream" ->
      """WITH p AS (SELECT event_type AS f,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
        |  FROM events)
        |SELECT f AS from_type, t AS to_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM p WHERE t IS NOT NULL GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,
    "topk_per_segment" ->
      """SELECT c_mktsegment AS segment, CAST(rank AS INT) AS rank,
        |  o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |WHERE rank <= 5 ORDER BY segment, rank""".stripMargin,
    // Cavnar-Trenkle replay: same trigrams (char slices of lower()),
    // same total rank order (cnt DESC, gram), same 100-miss penalty
    "lang_id_ngram" ->
      """WITH lt AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
        | g AS (SELECT doc_id, lang,
        |         unnest([lt[i:i+2] for i in range(1, len(lt) - 1)]) AS g
        |       FROM lt),
        | pc AS (SELECT lang, g, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        | p AS (SELECT lang, g, r FROM (
        |        SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY cnt DESC, g) AS r FROM pc) WHERE r <= 100),
        | dc AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY 1, 2),
        | dr AS (SELECT doc_id, g, dr FROM (
        |        SELECT doc_id, g, ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY cnt DESC, g) AS dr FROM dc) WHERE dr <= 100),
        | d AS (SELECT dr.doc_id, l.lang,
        |         CAST(SUM(COALESCE(ABS(dr.dr - p.r), 100)) AS BIGINT) AS oop
        |       FROM dr CROSS JOIN (SELECT DISTINCT lang FROM p) l
        |       LEFT JOIN p ON p.lang = l.lang AND p.g = dr.g
        |       GROUP BY 1, 2),
        | b AS (SELECT doc_id, lang AS lang_pred, oop,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY oop, lang) AS rn
        |       FROM d)
        |SELECT b.doc_id, doc.lang, b.lang_pred,
        |  doc.lang = b.lang_pred AS correct, b.oop
        |FROM b JOIN documents doc USING (doc_id)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // sweep mirror: same day-clip, same (t, delta, id) tie order
    "concurrency_daily" -> {
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
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(12,2))) * 1000000 AS BIGINT)) AS BIGINT) AS sum_charge_micro,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
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
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "ann_sq_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | mz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
        | qz AS (SELECT vec_id,
        |    CASE WHEN ma = 0 THEN [CAST(0 AS BIGINT) for i in range(1, 65)]
        |         ELSE [CAST(round(v[i] * 127 / ma) AS BIGINT) for i in range(1, 65)] END AS qv
        |    FROM mz),
        | n AS (SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn2 FROM qz),
        | c AS (SELECT * FROM n WHERE qn2 > 0),
        | q AS (SELECT * FROM c WHERE vec_id < 5),
        | s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * c.qv[i])) AS DOUBLE) /
        |      (sqrt(CAST(q.qn2 AS DOUBLE)) * sqrt(CAST(c.qn2 AS DOUBLE))) AS cos_sq
        |    FROM q, c WHERE c.vec_id <> q.vec_id),
        | r AS (SELECT query_id, neighbor_id, cos_sq,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_sq DESC, neighbor_id) AS INT) AS rank FROM s)
        |SELECT query_id, neighbor_id, cos_sq, rank FROM r
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "key_skew_orders" ->
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
        |FROM a""".stripMargin,
    "latency_bands" ->
      """WITH r AS (SELECT event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n FROM events),
        | t(q, qn, qd) AS (VALUES (CAST(50 AS DOUBLE) / 100, 50, 100),
        |    (CAST(90 AS DOUBLE) / 100, 90, 100),
        |    (CAST(95 AS DOUBLE) / 100, 95, 100),
        |    (CAST(99 AS DOUBLE) / 100, 99, 100))
        |SELECT event_type, t.q, value
        |FROM r JOIN t ON rn * qd >= qn * n AND (rn - 1) * qd < qn * n
        |ORDER BY event_type, q""".stripMargin,
    "hll_vocab_overlap" -> Sketches.hllOverlapOracleSql(
      """(SELECT lang, tok FROM (
        |   SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |   FROM documents) u WHERE tok <> '') toks""".stripMargin,
      "lang", "tok", "en", "de"),
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) > 200.0)
        |SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_totalprice, sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin,
    "topk_stream" ->
      """WITH r AS (SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |SELECT event_type, CAST(rank AS INT) AS rank, event_id, value
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,
    "cluster_best_quality" ->
      s"""WITH RECURSIVE $ngramPairCtes,
         | pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         | base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM u),
         | c AS (SELECT doc_id, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base),
         | q AS (SELECT doc_id, $qualityExprSql AS quality FROM c),
         | m AS (SELECT u.doc_id, COALESCE(cl.cluster_id, u.doc_id) AS cluster_id
         |       FROM u LEFT JOIN cl ON cl.id = u.doc_id),
         | jq AS (SELECT m.cluster_id, m.doc_id, q.quality FROM m JOIN q USING (doc_id)),
         | r AS (SELECT cluster_id, doc_id, quality,
         |        ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rk,
         |        CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |       FROM jq)
         |SELECT cluster_id, doc_id AS best_doc, quality, n_members
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin,
    "split_leakage_safe" -> {
      val bounds = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(("", 0.0)) { case ((_, acc), (n, f)) => (n, acc + f) }.tail
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN uu < ${"%.17e".formatLocal(java.util.Locale.ROOT, hi)} THEN '$n'" }
        .mkString(" ")
      s"""WITH RECURSIVE $ngramPairCtes,
         | pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9),
         | edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         | m AS (SELECT u.doc_id, COALESCE(cl.cluster_id, u.doc_id) AS cluster_id
         |       FROM u LEFT JOIN cl ON cl.id = u.doc_id),
         | d AS (SELECT doc_id, cluster_id,
         |  CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || cluster_id), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
         |    / 281474976710656.0 AS uu
         |  FROM m)
         |SELECT doc_id, cluster_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "q19_disjunctive_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "hll_sliding_users" ->
      s"""SELECT g AS win_start, zero_regs, denom, est_distinct FROM (
         |${Sketches.hllOracleSql(
            """(SELECT unnest([w0, w0 - INTERVAL 1 HOUR]) AS win_start, user_id
              |   FROM (SELECT make_timestamp(((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) * 1000000) AS w0,
              |                user_id FROM events) b0) ex""".stripMargin,
            "win_start", "g", "CAST(user_id AS VARCHAR)")})
         |ORDER BY win_start""".stripMargin,
    // residual-PQ mirror: the ivf cell CTEs in NORMALIZED space + the
    // residual subtraction + encode/ADC generated from RqCodebook
    "ann_rq_topk" -> {
      val normCte = PqSqlBits.normCte
      import RqSqlBits.{cbCols, codes, dts, adist}
      s"""WITH rcb AS (SELECT $cbCols),
         | e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         | n AS ($normCte),
         | cents AS (SELECT vec_id AS cid, nv AS cvec FROM n ORDER BY md5('42:' || vec_id), vec_id LIMIT 8),
         | ca AS (SELECT n.vec_id, ct.cid, ${cosSql("n.nv", "ct.cvec")} AS ccos FROM n, cents ct),
         | assign AS (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca) WHERE rn = 1),
         | probe AS (SELECT vec_id AS query_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM ca WHERE vec_id < 5) WHERE rn <= 2),
         | cr AS (SELECT a.vec_id AS neighbor_id, a.cid,
         |         list_transform(range(1, 65), i -> n.nv[i] - ct.cvec[i]) AS rv
         |        FROM assign a JOIN n ON n.vec_id = a.vec_id JOIN cents ct ON ct.cid = a.cid),
         | c AS (SELECT neighbor_id, cid, $codes AS codes FROM cr, rcb),
         | qr AS (SELECT p.query_id, p.cid,
         |         list_transform(range(1, 65), i -> n.nv[i] - ce.cvec[i]) AS rv
         |        FROM probe p JOIN n ON n.vec_id = p.query_id JOIN cents ce ON ce.cid = p.cid),
         | q AS (SELECT query_id, cid, $dts FROM qr, rcb),
         | s AS (SELECT q.query_id, c.neighbor_id, ROUND($adist, 6) AS adist
         |       FROM q JOIN c USING (cid) WHERE c.neighbor_id <> q.query_id),
         | r AS (SELECT query_id, neighbor_id, adist,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS INT) AS rank FROM s)
         |SELECT query_id, neighbor_id, adist, rank FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
    },
    "source_similarity" -> {
      val minCols = (0 until 16)
        .map(i => s"MIN(substr(md5('${i / 4}:' || sh), ${(i % 4) * 8 + 1}, 8)) AS h$i")
        .mkString(", ")
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | shr AS (SELECT DISTINCT source AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
         |         FROM w WHERE len(ws) >= 3),
         | mh AS (SELECT jid, $minCols FROM shr GROUP BY jid),
         | p AS (SELECT a.jid AS group_a, b.jid AS group_b, $agree AS agree
         |       FROM mh a JOIN mh b ON a.jid < b.jid)
         |SELECT group_a, group_b, CAST(agree AS DOUBLE) / 16.0 AS est_jaccard
         |FROM p ORDER BY group_a, group_b""".stripMargin
    },
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,
    "attribution_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        | c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, click_id,
        |  CAST(epoch_us(click_ts) - epoch_us(view_ts) AS BIGINT) AS lag_micros
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND click_ts >= view_ts AND click_ts <= view_ts + INTERVAL 10 MINUTE
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,
    "kmv_sample_users" ->
      """WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS value FROM events),
        | p AS (SELECT event_type, value,
        |   CAST(list_sum([(instr('0123456789abcdef', substr(md5('42:' || value), k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)
        |     / 281474976710656.0 AS u
        |  FROM d),
        | r AS (SELECT event_type, value, u,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u, value) AS INT) AS rank FROM p)
        |SELECT event_type, rank, value AS user_id
        |FROM r WHERE rank <= 32 ORDER BY event_type, rank""".stripMargin,
    "kmv_distinct_events" ->
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
        |FROM s JOIN ex USING (event_type) ORDER BY event_type""".stripMargin,
    "q7_region_volume" ->
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
        |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin,
    "q8_market_share" ->
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
        |FROM sl GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
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
        |GROUP BY 1,2 ORDER BY 1, 2 DESC""".stripMargin,
    "q11_important_parts" ->
      """WITH pv AS (SELECT l_partkey AS p_partkey,
        |        SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS vd
        |       FROM lineitem GROUP BY 1),
        | tot AS (SELECT SUM(vd) AS t, COUNT(*) AS np FROM pv)
        |SELECT p_partkey, CAST(vd AS DOUBLE) AS value
        |FROM pv, tot WHERE vd * np * 10 > t * 11
        |ORDER BY value DESC, p_partkey""".stripMargin,
    "q12_priority_lag" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q13_customer_distribution" ->
      """WITH co AS (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN (SELECT o_orderkey, o_custkey FROM orders
        |      WHERE o_orderpriority <> '4-NOT SPECIFIED') o ON c_custkey = o_custkey
        |  GROUP BY 1)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM co GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q14_promo_revenue" ->
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
        |FROM f""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey AS s_suppkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rd
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT r.s_suppkey, s_name, CAST(rd AS DOUBLE) AS total_revenue
        |FROM rev r JOIN supplier USING (s_suppkey)
        |WHERE rd = (SELECT MAX(rd) FROM rev)
        |ORDER BY r.s_suppkey""".stripMargin,
    "q16_supplier_cnt" ->
      """SELECT p_brand, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1,5,9,13,17,21,25,29,33,37,41,45,49)
        |GROUP BY 1,2 ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q17_small_qty_revenue" ->
      """WITH lif AS (SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#5'),
        | st AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq, COUNT(*) AS n
        |  FROM lif GROUP BY 1)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lif JOIN st USING (l_partkey)
        |WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq""".stripMargin,
    "q20_red_part_suppliers" ->
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
        |ORDER BY s_suppkey""".stripMargin,
    "q21_waiting_supplier" ->
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
        |GROUP BY 1,2 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    "q22_global_sales" ->
      """WITH cc AS (SELECT c_custkey, c_nationkey % 10 AS cntrycode, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |  FROM customer WHERE c_nationkey % 10 IN (1,2,3,4,5)),
        | av AS (SELECT SUM(bal) AS s, COUNT(*) AS n FROM cc WHERE bal > 0),
        | el AS (SELECT cntrycode, bal FROM cc, av
        |  WHERE bal * n > s
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01'))
        |SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM el GROUP BY 1 ORDER BY 1""".stripMargin,
    "q2_min_cost_supp" ->
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
        |FROM r WHERE rn = 1 ORDER BY p_partkey""".stripMargin,
  )
}
