package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Candidate row for [[Retrieval.mmrTopK]]'s per-query greedy stage —
  * top-level (not nested/private) because the Dataset encoder's
  * generated deserializer must instantiate it.
  */
case class MmrCand(qid: Long, cid: Long, rel: Double,
    sims: Seq[(Long, Double)])

/** Corpus-retrieval scoring for the training-data pipeline (EXT per
  * SURVEY north star; no reference analog): data curation at 100 TB
  * constantly *queries* its own corpus — "pull the k docs most relevant
  * to this eval prompt" (decontamination triage), "rank candidates for
  * human review", "seed a domain mixture from exemplar queries". BM25 is
  * the standard lexical ranker, and reciprocal-rank fusion is the
  * standard way to combine it with an embedding ranker without score
  * calibration.
  */
object Retrieval {

  /** Okapi BM25 top-k (Robertson et al., TREC-3; the Lucene-default
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))` variant, always
    * non-negative) of `docs` against a literal bag of query `terms`.
    * Output: (idCol, bm25, rank), rank by (bm25 desc, id asc) after
    * quantizing to 6 decimals — the suite-wide quantize-before-rank
    * float discipline.
    *
    * Scale shape (100 TB): doc length is computed map-side from the
    * token array (no extra shuffle); the only corpus-sized shuffle is
    * the (doc, term) tf groupBy AFTER filtering tokens to the query
    * terms — rows surviving that filter are proportional to query-term
    * occurrences, not corpus tokens. Per-term df and the (N, avgdl)
    * scalars are one-row/`|terms|`-row aggregates joined back broadcast.
    * The global top-k compiles to TakeOrderedAndProject (never a global
    * sort); rank is a window over the k collected rows only.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK: need at least one query term")
    require(k > 0 && k1 > 0 && b >= 0 && b <= 1,
      s"bm25TopK: need k>0, k1>0, 0<=b<=1; got k=$k k1=$k1 b=$b")
    val qterms = terms.distinct
    bm25Global(docs, idCol, textCol, k, k1, b)(
      _.filter(col("_tok").isin(qterms: _*)))
  }

  /** The BM25 scorer every variant shares: the per-(doc, term) Okapi
    * contribution `_c` (columns `_tok`, `_id`, `_dl`, `_tf`, `_df`, `_n`,
    * `_avgdl`, `_idf`, `_c`) for the tokens `keepTerms` lets through the
    * exploded (`_id`, `_dl`, `_tok`) frame. `bm25TopK` passes a literal
    * `isin` filter, the frame variants a LEFT SEMI join.
    *
    * r14: the tokenized corpus (`_id`, `_toks`, `_dl`) is persisted —
    * (N, avgdl) and the tf pass both read it, so the corpus would be
    * tokenized TWICE per round — and it is plan-equal across calls, so a
    * PRF query's round 2 reads round 1's cache (§5).
    */
  private def bm25Contributions(docs: DataFrame, idCol: String,
      textCol: String, k1: Double, b: Double)(
      keepTerms: DataFrame => DataFrame): DataFrame = {
    val base = docs.select(col(idCol).as("_id"),
        split(trim(col(textCol)), "\\s+").as("_toks"))
      .withColumn("_dl", size(col("_toks")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // (N, avgdl) in ONE pass over the lengths; broadcast 1-row frame
    val stats = base.agg(count(lit(1)).as("_n"), avg(col("_dl")).as("_avgdl"))
    val tf = keepTerms(base
        .select(col("_id"), col("_dl"), explode(col("_toks")).as("_tok")))
      .groupBy(col("_id"), col("_dl"), col("_tok"))
      .agg(count(lit(1)).as("_tf"))
    // per-term document frequency: tf already has one row per (doc, term).
    // No broadcast hint on the grouped aggregate (suite rule — the key's
    // boundedness is invisible to a static sweep); it is <= |terms| rows,
    // so AQE picks broadcast at runtime.
    val dfT = tf.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    tf.join(dfT, Seq("_tok"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_c",
        col("_idf") * col("_tf") * lit(k1 + 1) /
          (col("_tf") + lit(k1) * (lit(1 - b) + lit(b) * col("_dl") / col("_avgdl"))))
  }

  /** The global BM25 top-k over the terms `keepTerms` keeps: the
    * scorer's contributions summed per doc, quantized to 6 decimals.
    */
  private def bm25Global(docs: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double, b: Double)(
      keepTerms: DataFrame => DataFrame): DataFrame =
    topK(bm25Contributions(docs, idCol, textCol, k1, b)(keepTerms)
      .groupBy(col("_id"))
      .agg(round(sum(col("_c")), 6).as("bm25")), idCol, "bm25", k)

  /** The global top-k tail of a scored (`_id`, `score`) frame: top `k` by
    * (score desc, id asc) as a TakeOrderedAndProject, then `rank` by a
    * window over the k collected rows only. Output: (idCol, score, rank).
    */
  private def topK(scored: DataFrame, idCol: String, score: String,
      k: Int): DataFrame =
    scored.orderBy(col(score).desc, col("_id").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col(score).desc, col("_id").asc)))
      .select(col("_id").as(idCol), col(score), col("rank"))

  /** [[bm25TopK]] against a term FRAME (one `term` column) instead of a
    * literal bag — the shape query-expansion pipelines need, where the
    * term set is itself the output of a ranking stage and never touches
    * the driver. The token filter becomes a LEFT SEMI join; the caller
    * guarantees the frame is bounded (a literal set, a LIMIT, a
    * grouped-agg-over-limit) so AQE broadcasts it at runtime — no hint,
    * per the suite's hint rule.
    */
  def bm25TopKTerms(docs: DataFrame, idCol: String, textCol: String,
      termsDf: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0 && k1 > 0 && b >= 0 && b <= 1,
      s"bm25TopKTerms: need k>0, k1>0, 0<=b<=1; got k=$k k1=$k1 b=$b")
    // the scorer's persisted corpus is plan-equal to bm25TopK's, so a
    // PRF round 2 reuses round 1's cache
    bm25Global(docs, idCol, textCol, k, k1, b)(
      _.join(termsDf.select(col("term").as("_tok")).distinct(),
        Seq("_tok"), "left_semi"))
  }

  /** Pseudo-relevance-feedback retrieval (RM3 shape, Lavrenko-Croft
    * relevance models simplified to the integer-portable core): round 1
    * ranks with [[bm25TopK]]; the top `kFeedback` docs "vote" expansion
    * terms by TOTAL term frequency across the feedback set (exact
    * integers, (cnt DESC, term) total order, top `nExpand`, original
    * terms excluded); round 2 re-ranks the corpus with the expanded
    * term set. Unweighted union of original + expansion is the
    * documented simplification (RM3's interpolation weight λ would put
    * a float on every score; the ranking behavior — recall widening via
    * co-occurring vocabulary — is preserved).
    *
    * Scale shape (100 TB): both rounds are the BM25 shape (corpus
    * shuffle only on query-term-matching tokens); the feedback-doc text
    * fetch is a LEFT SEMI join against a k-row TakeOrdered result;
    * expansion is a groupBy over k documents' tokens. Nothing touches
    * the driver.
    */
  def prfExpandedTopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, kFeedback: Int = 5, nExpand: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(kFeedback > 0 && nExpand >= 0,
      s"prfExpandedTopK: need kFeedback>0, nExpand>=0, got $kFeedback/$nExpand")
    val spark = docs.sparkSession
    import spark.implicits._
    val r1 = bm25TopK(docs, idCol, textCol, terms, kFeedback, k1, b)
    val fb = docs.join(r1.select(col(idCol)), Seq(idCol), "left_semi")
    val expansion = fb
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(!col("term").isin(terms.distinct: _*))
      .groupBy("term").agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("term")).limit(nExpand)
      .select("term")
    val allTerms = terms.distinct.toDF("term").unionByName(expansion)
    bm25TopKTerms(docs, idCol, textCol, allTerms, k, k1, b)
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Buettcher, SIGIR'09):
    * fuse pre-ranked lists — each `(name, frame)` must expose `idCol`
    * and an integer `rankCol` — by `sum over lists of 1/(kRrf + rank)`,
    * ignoring lists that miss the id (the published definition). Output:
    * (idCol, rrf, rank) for the fused top `k`, rrf quantized to 6
    * decimals, ties by id.
    *
    * RRF needs no score calibration between systems — only ranks — which
    * is exactly why it is the default lexical+embedding fusion. Scale
    * shape: inputs are already top-k lists (tiny); union + one groupBy.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k > 0 && kRrf >= 0, s"rrfFuse: need k>0, kRrf>=0; got $k, $kRrf")
    val parts = rankings.map(_.select(col(idCol).as("_id"),
      (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol))).as("_r")))
    topK(parts.reduce(_ unionAll _)
      .groupBy(col("_id"))
      .agg(round(sum(col("_r")), 6).as("rrf")), idCol, "rrf", k)
  }

  /** Build-once INVERTED INDEX (the artifact [[bm25TopK]] recomputes on
    * the fly — materialize it when the corpus is queried repeatedly):
    * one row per term with its document frequency and a doc-id posting
    * list. Output: (term, df, postings), postings sorted ascending and
    * CAPPED at `maxPostings` (df stays exact beyond the cap — the
    * standard stop-word guard: a term in every document would otherwise
    * collect a corpus-sized array into one aggregation buffer).
    *
    * Scale shape (100 TB): the (term, doc) dedup is one shuffle; df and
    * the capped collect share the term key (exchange reuse); the cap is
    * enforced BEFORE collect_list by a ranked window, so aggregation
    * state is bounded per term (the colorGroups discipline).
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 1, maxPostings: Int = 1024): DataFrame = {
    require(minDf >= 1 && maxPostings >= 1,
      s"invertedIndex: need minDf>=1, maxPostings>=1; got $minDf, $maxPostings")
    val td = docs
      .select(col(idCol).as("_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .distinct()
    val dfT = td.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("term")).orderBy(col("_id").asc)
    val capped = td.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxPostings)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(col("_id"))).as("postings"))
    dfT.join(capped, Seq("term"))
      .filter(col("df") >= minDf)
      .select(col("term"), col("df"), col("postings"))
  }

  /** Maximal-marginal-relevance top-k (Carbonell/Goldstein, SIGIR'98):
    * greedily select `k` of the `poolSize` most-relevant candidates,
    * each step maximizing `lambda * rel - (1-lambda) * max sim to the
    * already-selected set` — the standard diversity re-rank (a pure
    * relevance top-k hands a curation reviewer five copies of the same
    * near-duplicate document; MMR spends the same budget on coverage).
    * Output: (query_id, doc_id, mmr, rank) — `mmr` is the score at
    * selection time, quantized to 6; rank is selection order.
    *
    * Determinism: relevance and candidate-pair cosines are computed by
    * the same sequential-accumulation kernel the ANN family uses, the
    * greedy argmax breaks score ties toward the smaller id, and
    * `(1-lambda)` is evaluated (not a rounded literal) so any engine
    * replaying the same arithmetic — e.g. a DuckDB recursive CTE —
    * reproduces the selection bit for bit.
    *
    * Scale shape (100 TB): the only corpus-sized stage is the relevance
    * front-end ([[Ann.bruteForceTopK]] here; any banded ANN in the
    * family substitutes — same (query_id, neighbor_id, cos) contract).
    * Everything after is bounded by queries x poolSize: the candidate
    * pair grid is poolSize^2 per query, and the greedy loop runs inside
    * one `flatMapGroups` task per query over at most poolSize rows —
    * the iterative selection is genuinely sequential (each pick depends
    * on the previous), so a bounded per-group loop is the honest
    * distributed shape, exactly like sequence packing.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, lambda: Double = 0.7,
      poolSize: Int = 16): DataFrame = {
    require(k > 0 && k <= poolSize,
      s"mmrTopK: need 0 < k <= poolSize; got k=$k poolSize=$poolSize")
    require(lambda >= 0 && lambda <= 1, s"mmrTopK: need 0<=lambda<=1, got $lambda")
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(idCol).cast("long").as("_vid"),
      col(vecCol).cast("array<double>").as("_v"))
    val pool = Ann.bruteForceTopK(corpus, queries, idCol, vecCol, poolSize)
      .select(col("query_id").cast("long").as("qid"),
        col("neighbor_id").cast("long").as("cid"), col("cos").as("rel"))
    // candidate-pair cosines: poolSize^2 rows per query; vectors joined
    // onto the (tiny) pool, never the reverse
    val pairSims = pool.select(col("qid"), col("cid").as("_ca"))
      .join(pool.select(col("qid"), col("cid").as("_cb")), Seq("qid"))
      .filter(col("_ca") =!= col("_cb"))
      .join(vecs.select(col("_vid").as("_ca"), col("_v").as("_va")), Seq("_ca"))
      .join(vecs.select(col("_vid").as("_cb"), col("_v").as("_vb")), Seq("_cb"))
      .select(col("qid"), col("_ca"),
        struct(col("_cb").as("_1"),
          graft.functions.VectorFunctions.cosine(col("_va"), col("_vb")).as("_2")).as("_s"))
      .groupBy(col("qid"), col("_ca"))
      .agg(collect_list(col("_s")).as("sims"))
    val cands = pool
      .join(pairSims.select(col("qid"), col("_ca").as("cid"), col("sims")),
        Seq("qid", "cid"), "left")
      .select(col("qid"), col("cid"), col("rel"),
        coalesce(col("sims"), array().cast("array<struct<_1:bigint,_2:double>>")).as("sims"))
      .as[MmrCand]
    cands.groupByKey(_.qid)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        val cs = it.toArray
        val rel = cs.map(c => c.cid -> c.rel).toMap
        val simOf = cs.map(c => c.cid -> c.sims.toMap).toMap
        val ids = cs.map(_.cid).sorted // ascending scan => ties pick smaller id
        val remaining = scala.collection.mutable.LinkedHashSet(ids: _*)
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
        var step = 1
        while (step <= k && remaining.nonEmpty) {
          var bestId = -1L
          var bestScore = Double.NegativeInfinity
          remaining.foreach { cid =>
            val maxSim =
              if (chosen.isEmpty) 0.0
              else chosen.map(simOf(cid).getOrElse(_, 0.0)).max
            val score = lambda * rel(cid) - (1.0 - lambda) * maxSim
            if (score > bestScore) { bestScore = score; bestId = cid }
          }
          out += ((qid, bestId, bestScore, step))
          remaining -= bestId
          chosen += bestId
          step += 1
        }
        out.iterator
      }
      .toDF("query_id", "doc_id", "_mmr", "rank")
      .select(col("query_id"), col("doc_id"), round(col("_mmr"), 6).as("mmr"),
        col("rank"))
  }

  /** ColBERT-style late-interaction MaxSim top-k (Khattab & Zaharia
    * 2020 shape, type-level): score(q, d) = sum over q's distinct
    * tokens of the max similarity to any of d's distinct tokens. Token
    * similarity here is the agreement of the two tokens' 64-bit md5
    * sign patterns, cos = (32 - hamming/2)/32... precisely
    * (32 - popcount(xor))/32 over two 32-bit halves — ALL-INTEGER until
    * one exact dyadic division, so scores are engine-portable with no
    * float discipline at all (sums of k/32 are exact in binary).
    *
    * Scale shape: the similarity matrix is VOCAB x QUERY-VOCAB — never
    * doc x doc, never positional. The query vocabulary (bounded by the
    * query set, small by definition) broadcasts; corpus token lists
    * join the matrix on the token key; the two aggregations shuffle on
    * (doc, qtoken) then (query, doc). Corpus cost is linear in distinct
    * (doc, token) pairs — the late-interaction contract.
    */
  def maxSimTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int = 5, maxQueryVocab: Int = 4096): DataFrame = {
    def toks(df: DataFrame, idAs: String, tkAs: String) = df
      .select(col(idCol).as(idAs),
        explode(split(trim(col(textCol)), "\\s+")).as(tkAs))
      .distinct()
    def bits(c: Column): (Column, Column) = {
      val h = md5(c.cast("binary"))
      (conv(substring(h, 1, 8), 16, 10).cast("long"),
        conv(substring(h, 9, 8), 16, 10).cast("long"))
    }
    // r14 note: persisting ct was A/B'd and REGRESSED 1.5 -> 8 s at
    // sf0.1 — the cached frame defeats the scan-level column pruning
    // that feeds the vocabulary distinct, so the crossJoin side reads
    // the full (doc, token) cache instead of a token-only scan. Left
    // recomputed deliberately.
    val ct = toks(corpus, "doc_id", "tk")
    val qt = toks(queries, "query_id", "qtk")
    val (t1, t2) = bits(col("tk"))
    val (q1, q2) = bits(col("qtk"))
    // `maxQueryVocab` is the broadcast contract made explicit (same
    // discipline as the langProfiles cap): MaxSim's cost model assumes
    // the QUERY vocabulary is small; the deterministic orderBy+limit
    // bounds the hinted side, and a query set big enough to hit it is
    // the caller using the wrong operator (scores for dropped tokens
    // would silently vanish — raise the cap consciously, not the size)
    val sims = ct.select("tk").distinct()
      .select(col("tk"), t1.as("_t1"), t2.as("_t2"))
      .crossJoin(broadcast(qt.select("qtk").distinct()
        .orderBy("qtk").limit(maxQueryVocab)
        .select(col("qtk"), q1.as("_q1"), q2.as("_q2"))))
      .select(col("tk"), col("qtk"),
        ((lit(32) - expr("bit_count(_t1 ^ _q1)") - expr("bit_count(_t2 ^ _q2)"))
          .cast("double") / 32).as("cos"))
    val m = ct.join(sims, Seq("tk"))
      .groupBy("doc_id", "qtk").agg(max(col("cos")).as("_m"))
    val scored = qt.join(m, Seq("qtk"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id").agg(sum(col("_m")).as("maxsim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("maxsim").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("maxsim"),
        col("rank").cast("int").as("rank"))
  }

  /** [[bm25TopK]] for a BATCH of queries in one corpus pass: `queries`
    * is a (query_id, term) frame (a literal bag per query); output is
    * (query_id, idCol, bm25, rank) with per-query top-k. Per-term df is
    * global (documents containing the term — query-independent), so tf
    * and df are computed ONCE across the union of all query vocabularies
    * and the per-query score sum is a groupBy after a broadcast join to
    * the (query_id, term) map. This is the batch-evaluation shape:
    * scoring q queries costs one corpus scan, not q.
    *
    * Scale shape (100 TB): the corpus-sized shuffle is the token-semi-
    * join-filtered tf groupBy (rows ∝ query-term occurrences); the
    * per-query rank is a window PARTITIONED BY query_id over only the
    * scored docs of that query — parallel across queries, never a
    * global sort.
    */
  def bm25PerQuery(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0 && k1 > 0 && b >= 0 && b <= 1,
      s"bm25PerQuery: need k>0, k1>0, 0<=b<=1; got k=$k k1=$k1 b=$b")
    val qmap = queries.select(col("query_id"), col("term").as("_tok")).distinct()
    val scored = bm25Contributions(docs, idCol, textCol, k1, b)(
        _.join(qmap.select("_tok").distinct(), Seq("_tok"), "left_semi"))
      .join(qmap, Seq("_tok")) // fan out per query containing the term
      .groupBy(col("query_id"), col("_id"))
      .agg(round(sum(col("_c")), 6).as("bm25"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("_id").as(idCol), col("bm25"),
        col("rank").cast("int").as("rank"))
  }

  /** nDCG@k discount table 1/log2(r+1), r = 1..10, as 12-decimal
    * LITERALS (not engine `log` calls): both Spark and the SQL oracle
    * multiply exact integer gains by the same decimal constants, so the
    * DCG sums are order-free exact decimals and the 1-ulp `ln`
    * divergence between JVM and DuckDB (invariant: never emit a raw
    * ln-derived double) cannot touch the result.
    */
  val NdcgDiscounts: Seq[java.math.BigDecimal] = Seq(
    "1.000000000000", "0.630929753571", "0.500000000000", "0.430676558073",
    "0.386852807235", "0.356207187108", "0.333333333333", "0.315464876786",
    "0.301029995664", "0.289064826318").map(new java.math.BigDecimal(_))

  /** Offline ranking-quality evaluation (the IR-eval half every
    * retrieval pipeline needs next to its ranker): given a `run`
    * (query_id, idCol, rank) and graded relevance judgments `qrels`
    * (query_id, idCol, rel >= 1), computes per query
    *   - nDCG@k with gains 2^rel - 1 and the literal discount table,
    *   - MRR@k (reciprocal rank of the first relevant hit, 0 if none),
    *   - recall@k (relevant retrieved / total relevant),
    *   - n_rel (judgment-set size).
    * Float discipline: DCG/IDCG are exact decimal sums of
    * int-gain x decimal-discount products; every division happens once
    * at the readout on doubles and is round(6)-quantized.
    *
    * Scale shape (100 TB): the run is at most q*k rows (tiny); qrels is
    * judgment-sized. Everything after the left join is per-query
    * aggregation; IDCG's window is partitioned by query over
    * judgment-set rows. No corpus-sized operation at all — corpus cost
    * lives in the ranker that produced the run.
    */
  def rankingEval(run: DataFrame, qrels: DataFrame, idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1 && k <= NdcgDiscounts.size,
      s"rankingEval: need 1<=k<=${NdcgDiscounts.size}, got $k")
    val disc = array(NdcgDiscounts.take(k).map(d => lit(d)): _*)
    // 2^rel − 1 as exact BIGINT (functions.shiftleft only takes a
    // literal shift amount, so go through the SQL form)
    val gain = (r: Column) => expr("shiftleft(cast(1 as bigint), " +
      s"cast(${r.toString} as int))") - lit(1L)
    val top = run.filter(col("rank") <= k)
      .join(qrels.select(col("query_id"), col(idCol), col("rel")),
        Seq("query_id", idCol), "left")
    val perQ = top.groupBy("query_id").agg(
      sum(coalesce(gain(col("rel")), lit(0L)) *
        element_at(disc, col("rank"))).as("_dcg"),
      min(when(col("rel") >= 1, col("rank"))).as("_first"),
      sum(when(col("rel") >= 1, 1L).otherwise(0L)).as("_hits"))
    val wid = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col(idCol).asc)
    val ideal = qrels
      .withColumn("_rn", row_number().over(wid))
      .filter(col("_rn") <= k)
      .groupBy("query_id")
      .agg(sum(gain(col("rel")) * element_at(disc, col("_rn"))).as("_idcg"))
    val nrel = qrels.groupBy("query_id").agg(count(lit(1)).as("n_rel"))
    perQ.join(ideal, Seq("query_id")).join(nrel, Seq("query_id"))
      .select(col("query_id"),
        round(col("_dcg").cast("double") / col("_idcg").cast("double"), 6)
          .as("ndcg"),
        round(coalesce(lit(1.0) / col("_first").cast("double"), lit(0.0)), 6)
          .as("mrr"),
        round(col("_hits").cast("double") / col("n_rel").cast("double"), 6)
          .as("recall"),
        col("n_rel"))
  }
}
