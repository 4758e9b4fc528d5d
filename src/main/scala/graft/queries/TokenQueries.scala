package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{ByteFunctions, TextFunctions}
import graft.operators.{Corpus, Dedup, Retrieval, Sampling, Sketches}

import Shared._

/** Token-level language models and tokenizers (n-gram log-probs, BPE),
  * per-document text metrics, sketches over tokens, corpus sampling and
  * mixing weights, and BM25 retrieval.
  */
object TokenQueries {
  val family: Family = Family(
    // EXT stupid-backoff trigram LM scoring (Brants et al. 2007): eval
    // docs (doc_id%7==0) scored under counts from the REST, so the
    // backoff chain actually fires on unseen trigrams/bigrams. All
    // count tables are data-sized shuffle joins (AQE may broadcast the
    // small ones — never hinted); the (N, V) totals ride a broadcast
    // 1-row aggregate. Unigram floor is add-one over (N + V) so no
    // -inf leaves the log.
    Query("trigram_backoff")((s, dir) => {
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
    }) {
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
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // EXT bigram LM score (the perplexity-proxy upgrade over
    // unigram_logprob): see bigramLogprobFrame for the plan shape
    Query("bigram_logprob")((s, dir) => bigramLogprobFrame(s, dir).orderBy("doc_id")) {
      s"""WITH $bigramLogprobCtes
         |SELECT doc_id, logprob FROM lp ORDER BY doc_id""".stripMargin
    },
    // EXT DoReMi-lite domain reweighting (Xie et al. '23 shape): per
    // source, loss = mean bigram-LM negative logprob (exact DECIMAL sum
    // of the round(6) per-doc scores — order-free), then ONE
    // exponentiated-gradient step from uniform: w_s ∝ exp(eta·loss_s),
    // normalized by an ordered fold over the |sources| battery. The
    // domain-mixture knob a training-data pipeline turns
    Query("doremi_weights")((s, dir) => {
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
    }) {
      // DoReMi mirror: the bigram-logprob CTEs, exact DECIMAL per-source
      // loss, EG weights normalized by the source-ordered exp fold
      s"""WITH $bigramLogprobCtes,
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
        |FROM ex ORDER BY source""".stripMargin
    },
    // EXT word2vec-style negative sampling (Mikolov '13): unigram
    // popularity tempered by the classic 0.75 exponent (lw =
    // 0.75·ln(cnt)), drawn WITHOUT replacement via the deterministic
    // Gumbel top-k — the negatives table a contrastive trainer feeds
    // on. Over the expanded-vocab view (vocab ~5-8k) so k=64 is a real
    // sample, not the whole vocabulary
    Query("negative_sample_tokens")((s, dir) => {
      val tok = expandedTokens(s, dir)
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      Sampling.gumbelTopK(
          tok.withColumn("lw", lit(0.75) * log(col("cnt").cast("double"))),
          "token", "lw", k = 64, seed = "neg")
        .select(col("token"), col("cnt"), col("gumbel_key"))
        .orderBy(col("gumbel_key").desc, col("token"))
    }) {
      // negative-sampling mirror: raw token counts, 0.75*ln tempering,
      // the md5 'neg:' gumbel idiom, top-64 by (key desc, token)
      s"""WITH $expandedTokensSql,
        | tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM et GROUP BY 1),
        | g AS (SELECT token, cnt,
        |        ROUND(0.75 * LN(CAST(cnt AS DOUBLE)) - LN(-LN(
        |          ${hex48Sql("md5('neg:' || token)")}
        |          / power(2, 48))), 6) AS gumbel_key
        |       FROM tc)
        |SELECT token, cnt, gumbel_key FROM g
        |ORDER BY gumbel_key DESC, token LIMIT 64""".stripMargin
    },
    // EXT BPE-ish regex token counting (ASCII class pattern, RE2/Java-
    // portable) — the cheap single-regex budget proxy; the real learned
    // tokenizer is bpe_tokens_learned below
    Query("bpe_tokens")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]+"))
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id, CAST(length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+')) AS INT) AS bpe_cnt
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT learned BPE over the EXPANDED-vocab view: per-doc token count
    // under bpeMergeTableX (trained on the ~5-8k hex-suffixed vocab,
    // where suffix-boundary merges compete with in-word merges — the
    // non-degenerate regime the raw ~31-word corpus can't produce).
    // Same codegen'd per-word fold, summed per doc; docs with no
    // tokens drop out on both engines
    Query("bpe_tokens_expanded")((s, dir) => {
      expandedTokens(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCount(col("token"), bpeMergeTableX)
            .cast("long").as("_c"))
        .groupBy("doc_id").agg(sum(col("_c")).as("bpe_cnt"))
        .orderBy("doc_id")
    }) {
      // expanded-BPE mirror: the same generated replace fold from the
      // bpeMergeTableX literal, applied to the et view's single-word
      // tokens and summed per doc
      s"""WITH $expandedTokensSql,
         | c AS (SELECT doc_id, ${bpeCountSql(bpeMergeTableX, "token")} AS c FROM et)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS bpe_cnt
         |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    // EXT REAL merge-table BPE token counting: chars -> learned merges
    // applied in rank order (TextFunctions.bpeCount — all builtin
    // expressions, codegen'd, shuffle-free). The table is the output of
    // the real trainer (TextFunctions.learnBpeMerges, greedy most-
    // frequent-pair over the word-frequency dictionary) on this corpus;
    // embedded as a literal so the oracle replays the identical replace
    // fold — both engines' SQL is generated from the SAME Scala list.
    Query("bpe_tokens_learned")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCount(col("text"), bpeMergeTable)
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }) {
      // the identical replace fold bpeCount applies, generated from the
      // SAME bpeMergeTable literal (single source — a table edit changes
      // both engines in lockstep)
      s"""SELECT doc_id,
         | CASE WHEN trim(text) = '' THEN 0 ELSE CAST(list_sum(list_transform(
         |   regexp_split_to_array(trim(text), '\\s+'),
         |   w -> ${bpeCountSql(bpeMergeTable, "w")})) AS INT) END AS bpe_cnt
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT GPT-2-style PRE-TOKENIZED BPE: class runs (letters/digits/
    // punct) first, merges applied within runs only — merges can never
    // cross a class boundary, and punctuation runs are counted
    // (TextFunctions.bpeCountPretok; same single-sourced merge table)
    Query("bpe_tokens_pretok")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.bpeCountPretok(col("text"), bpeMergeTable)
            .as("bpe_cnt"))
        .orderBy("doc_id")
    }) {
      // same single-sourced fold as bpe_tokens_learned, applied to class
      // runs (regexp_extract_all) instead of whitespace words; empty
      // match list sums to NULL in DuckDB, hence the coalesce
      s"""SELECT doc_id,
         | CAST(coalesce(list_sum(list_transform(
         |   regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]+'),
         |   w -> ${bpeCountSql(bpeMergeTable, "w")})), 0) AS INT) AS bpe_cnt
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT tokenizer-efficiency eval (the "how many chars does a token
    // buy per domain" table a tokenizer choice is judged by): per
    // source, exact char and learned-BPE token sums, chars/token —
    // ONE map-side fold per doc, one aggregate
    Query("bpe_compression_eval")((s, dir) =>
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
        .orderBy("source")) {
      // compression-eval mirror: the same generated replace fold, per-doc
      // char/token counts aggregated by source
      s"""WITH b AS (SELECT source, CAST(length(text) AS BIGINT) AS ch,
         |  CASE WHEN trim(text) = '' THEN 0 ELSE CAST(list_sum(list_transform(
         |    regexp_split_to_array(trim(text), '\\s+'),
         |    w -> ${bpeCountSql(bpeMergeTable, "w")})) AS BIGINT) END AS tk
         |  FROM documents),
         | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |        CAST(SUM(ch) AS BIGINT) AS n_chars,
         |        CAST(SUM(tk) AS BIGINT) AS n_tokens FROM b GROUP BY 1)
         |SELECT source, n_docs, n_chars, n_tokens,
         |  CASE WHEN n_tokens > 0
         |    THEN ROUND(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) END AS chars_per_token
         |FROM a ORDER BY source""".stripMargin
    },
    // #24 shannon_entropy per doc (algorithm.py:30-44)
    Query("entropy_docs")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(ByteFunctions.shannon_entropy(col("text").cast("binary")), 6).as("entropy"))
        .orderBy("doc_id")
    }) {
      // ascending-code ordered summation mirrors the expression's byte loop
      """WITH ch AS (SELECT doc_id, ascii(c) AS code, COUNT(*) AS cnt
        |            FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
        |            GROUP BY 1, 2),
        | tot AS (SELECT doc_id, CAST(SUM(cnt) AS DOUBLE) AS n FROM ch GROUP BY 1),
        | terms AS (SELECT ch.doc_id, ch.code, -(cnt / n) * log2(cnt / n) AS term
        |           FROM ch JOIN tot USING (doc_id))
        |SELECT doc_id, ROUND(list_sum(list(term ORDER BY code)), 6) AS entropy
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // EXT document fingerprinting (portable md5 variant)
    Query("fingerprint_docs")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    }) {
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id"
    },
    // EXT Gopher-style quality gate (TextFunctions.gopherFilter): five
    // published rules -> keep flag + failed-rule audit string. The words
    // array is materialized in its own projection BEFORE the struct so
    // the filter() HOF doesn't re-split per element (repetitionRatio
    // lesson). Per-row expressions only — no shuffle at any scale.
    Query("gopher_filter")((s, dir) => {
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
    }) {
      // Gopher gate mirror: same divisions on the same doubles, CASE order
      // = GopherRuleNames order, concat_ws skipping the NULL (passed) rules
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
        |FROM d ORDER BY doc_id""".stripMargin
    },
    // #25 KL divergence between en/de corpus byte distributions (algorithm.py:47-68)
    Query("kl_en_de")((s, dir) => {
      enDeHistograms(s, dir)
        .select(round(ByteFunctions.kl_divergence(col("h1"), col("h2")), 6).as("kl"))
    }) {
      s"""WITH $enDeHistogramCtes,
        | terms AS (SELECT b1.code,
        |   (b1.cnt / n1.n) * log2((b1.cnt / n1.n) / (COALESCE(b2.cnt, 0) / n2.n + 1e-7)) AS term
        |   FROM b1 LEFT JOIN b2 USING (code), n1, n2)
        |SELECT ROUND(list_sum(list(term ORDER BY code)), 6) AS kl FROM terms""".stripMargin
    },
    // EXT Jensen-Shannon divergence (ByteFunctions.js_divergence):
    // symmetric bounded [0,1]-bits complement of kl_en_de over the same
    // corpus byte histograms — no ε smoothing (M > 0 wherever P or Q is)
    Query("js_divergence_en_de")((s, dir) => {
      enDeHistograms(s, dir)
        .select(round(ByteFunctions.js_divergence(col("h1"), col("h2")), 6)
          .as("jsd"))
    }) {
      // JSD mirror: observed-code full join (absent codes are exact +0.0
      // terms on the Spark side's 256-grid fold), ONE combined per-code
      // term, code-ordered list_sum, 0.5 factor after the fold
      s"""WITH $enDeHistogramCtes,
        | g AS (SELECT COALESCE(b1.code, b2.code) AS code,
        |        COALESCE(b1.cnt, 0) AS c1, COALESCE(b2.cnt, 0) AS c2
        |       FROM b1 FULL JOIN b2 ON b1.code = b2.code),
        | terms AS (SELECT code,
        |    (CASE WHEN c1 > 0 THEN (c1 / n1.n) * log2((c1 / n1.n) / ((c1 / n1.n + c2 / n2.n) / 2.0)) ELSE 0.0 END)
        |  + (CASE WHEN c2 > 0 THEN (c2 / n2.n) * log2((c2 / n2.n) / ((c1 / n1.n + c2 / n2.n) / 2.0)) ELSE 0.0 END) AS t
        |   FROM g, n1, n2)
        |SELECT ROUND(0.5 * list_sum(list(t ORDER BY code)), 6) AS jsd FROM terms""".stripMargin
    },
    // EXT pairwise source JSD matrix: corpus mixture geometry — which
    // sources' byte distributions are interchangeable and which are a
    // different population; join-free pair explosion over the 1-row
    // collected histogram list (never a theta self-join)
    Query("source_jsd_matrix")((s, dir) => {
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
    }) {
      // source-JSD mirror: per-source byte counts on a shared code grid,
      // the js_divergence_en_de term generalized per (sa, sb) pair
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
        |FROM terms GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
    },
    // EXT normalization + PII redaction over synthetic emails/ids
    Query("redact_docs")((s, dir) => {
      val doctored = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com id 1234567"), col("doc_id")).as("text"))
      doctored.select(col("doc_id"),
          TextFunctions.normalize(TextFunctions.redactPii(col("text"))).as("clean"))
        .orderBy("doc_id")
    }) {
      """SELECT doc_id,
        | trim(regexp_replace(lower(
        |   regexp_replace(
        |     regexp_replace(text || ' contact user' || doc_id || '@example.com id 1234567' || doc_id,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '[0-9]{7,}', '<NUM>', 'g')), '\s+', ' ', 'g')) AS clean
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT Flesch readability (TextFunctions.readability): the classic
    // reading-ease score from integer word/sentence/vowel-group counts
    // — pure-function doubles, emitted raw (half-boundary discipline)
    Query("readability_docs")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.readability(col("text")).as("_r"))
        .select(col("doc_id"), col("_r.n_words").as("n_words"),
          col("_r.n_sentences").as("n_sentences"),
          col("_r.n_syllables").as("n_syllables"),
          col("_r.flesch").as("flesch"))
        .orderBy("doc_id")
    }) {
      // readability mirror: same integer estimators, same formula order
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
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT repetition-ratio quality signal (bigram dup fraction); grams
    // materialized once in their own projection (see repetitionRatio perf note)
    Query("repetition_docs")((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.wordShingles(col("text"), 2).as("_grams"))
        .select(col("doc_id"),
          TextFunctions.repetitionRatioFromGrams(col("_grams")).as("rep_ratio"))
        .orderBy("doc_id")
    }) {
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | g AS (SELECT doc_id, CASE WHEN len(ws) >= 2
        |        THEN [array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]
        |        ELSE [] END AS grams FROM w)
        |SELECT doc_id, CASE WHEN len(grams) > 0
        |  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  ELSE 0.0 END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin
    },
    // EXT text analysis: token count, punctuation, stopwords, lang id, quality
    Query("text_profile")((s, dir) => {
      val txt = col("text")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(txt).as("token_cnt"),
          TextFunctions.punctCount(txt).as("punct_cnt"),
          TextFunctions.stopwordCount(txt, TextFunctions.EnStops).as("stop_en"),
          TextFunctions.langId(txt).as("lang_pred"),
          TextFunctions.qualityScore(txt).as("quality"))
        .orderBy("doc_id")
    }) {
      textProfileSql
    },
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
    Query("tfidf_top_terms")((s, dir) => {
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
    }) {
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
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin
    },
    // EXT unigram log-probability doc score (CCNet-style LM-filter proxy):
    // corpus unigram distribution -> per-doc mean token log-prob. Two
    // aggregations + a shuffle join on the vocab. The vocab side is NOT
    // broadcast-hinted: a 100 TB corpus has billions of distinct tokens,
    // so a forced broadcast is an OOM — AQE picks broadcast at runtime
    // when the measured vocab is small. Only the 1-row grand total keeps
    // an explicit broadcast.
    Query("unigram_logprob")((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = freqs.agg(sum("cnt").as("_total"))
      toks
        .join(freqs.crossJoin(broadcast(total)), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(round(avg(log(col("cnt").cast("double") / col("_total"))), 6).as("logprob"))
        .orderBy("doc_id")
    }) {
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | freqs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        | tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freqs)
        |SELECT doc_id, ROUND(AVG(LN(CAST(cnt AS DOUBLE) / total)), 6) AS logprob
        |FROM toks JOIN freqs USING (tok), tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // EXT SimHash per doc, engine-portable md5 variant (hash-checked)
    Query("simhash_docs")((s, dir) => {
      Dedup.simhashMd5(t(s, dir, "documents"), "doc_id", "text").orderBy("doc_id")
    }) {
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | h AS (SELECT doc_id, md5(tok) AS m FROM toks),
        | bits AS (SELECT doc_id, j.j AS j,
        |    CASE WHEN ((instr('0123456789abcdef', substr(m, 16 - (j.j // 4), 1)) - 1) & (1 << (j.j % 4))) > 0 THEN 1 ELSE -1 END AS contrib
        |  FROM h, (SELECT unnest(range(0, 64)) AS j) j),
        | s AS (SELECT doc_id, j, SUM(contrib) AS s FROM bits GROUP BY 1, 2),
        | nib AS (SELECT doc_id, j // 4 AS nb, SUM(CASE WHEN s > 0 THEN (1 << (j % 4)) ELSE 0 END) AS nv FROM s GROUP BY 1, 2)
        |SELECT doc_id, string_agg(substr('0123456789abcdef', CAST(nv AS INT) + 1, 1), '' ORDER BY nb DESC) AS simhash
        |FROM nib GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // EXT leakage-safe train/val/test assignment: split is a pure
    // function of md5(seed:doc_id) — reproducible across runs/engines
    Query("split_assign")((s, dir) => {
      graft.operators.Corpus.assignSplit(
          t(s, dir, "documents").select("doc_id"), "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id")
    }) {
      // the same left-to-right cumulative boundaries assignSplit builds,
      // injected at full precision so both engines compare identical doubles
      val bounds = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(("", 0.0)) { case ((_, acc), (n, f)) => (n, acc + f) }.tail
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN u < ${"%.17e".formatLocal(java.util.Locale.ROOT, hi)} THEN '$n'" }
        .mkString(" ")
      s"""WITH d AS (SELECT doc_id,
         |  ${hex48Sql("md5('42:' || doc_id)")}
         |    / 281474976710656.0 AS u
         |  FROM documents)
         |SELECT doc_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM d ORDER BY doc_id""".stripMargin
    },
    // EXT sequence packing (Corpus.packSequences, next-fit per
    // partition): the declared query pins ONE partition in doc_id order
    // so the greedy scan is a deterministic sequence the oracle replays
    // with a recursive CTE; at scale the operator runs per-partition
    // with (pid, local) bin ids and zero shuffle (spec-asserted).
    Query("pack_sequences")((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
        .repartition(1).sortWithinPartitions("doc_id")
      graft.operators.Corpus.packSequences(docs, "doc_id", "n_tokens", 256L)
        .select(col("doc_id"), col("n_tokens"), col("bin_id"), col("pos_in_bin"))
        .orderBy("doc_id")
    }) {
      // next-fit packing replayed SEQUENTIALLY: the recursive CTE steps
      // one row per iteration in doc_id order — exactly the single-
      // partition greedy scan the declared query pins
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
        |FROM pack ORDER BY doc_id""".stripMargin
    },
    // EXT token-budget selection (Corpus.selectTokenBudget): the same
    // ~3000 tokens of this corpus on any engine at any cluster size —
    // docs on the md5(id) line, prefix kept while the running total
    // fits. The global cumsum is two-phase: 256 md5-uniform buckets,
    // offsets from a window over the 256-row aggregate (grid-bounded),
    // per-row sums windowed WITHIN buckets — never a global ordered
    // window (the oracle replays it as one, same numbers).
    Query("token_budget_select")((s, dir) =>
      Corpus.selectTokenBudget(t(s, dir, "documents"), "doc_id", "text", 3000L)
        .orderBy("cum_tokens")) {
      // global running sum over the md5 order — DuckDB (single-node) may
      // use the plain window the Spark side two-phases away
      """WITH b AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum_tokens FROM b)
        |SELECT doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 3000 ORDER BY cum_tokens""".stripMargin
    },
    // EXT CCNet-style quality bucketing (Wenzek et al. 2020): rank the
    // corpus by the bigram-LM doc score and cut equal-population
    // head/middle/tail thirds (CCNet's perplexity buckets; low logprob
    // = high perplexity = tail). RANK-based, not percentile-based —
    // integer arithmetic over the quantized score, so bucket edges are
    // engine-exact, and the global rank is the two-phase range rank
    // (never a single-task ntile window).
    Query("ccnet_buckets")((s, dir) => {
      Corpus.rankBuckets(bigramLogprobFrame(s, dir), "doc_id", "logprob")
        .select("doc_id", "logprob", "bucket")
        .orderBy("doc_id")
    }) {
      // ccnet mirror: the bigram-logprob CTEs + a global (logprob, doc_id)
      // rank — integer thirds over the quantized score, so bucket edges
      // replay exactly (the oracle may use a plain ROW_NUMBER; Spark's
      // two-phase range rank is execution strategy, same result)
      s"""WITH $bigramLogprobCtes,
        | r AS (SELECT doc_id, logprob,
        |        ROW_NUMBER() OVER (ORDER BY logprob, doc_id) AS rn,
        |        COUNT(*) OVER () AS n FROM lp)
        |SELECT doc_id, logprob,
        |  CASE WHEN rn * 3 <= n THEN 'tail' WHEN rn * 3 <= n * 2 THEN 'middle' ELSE 'head' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin
    },
    // EXT DSIR importance weights (Xie et al. 2023): hashed unigram+
    // bigram features (256 md5 buckets), add-one-smoothed target
    // (lang='en') vs raw bucket distributions, per-doc sum of
    // log-ratios. The distribution tables are FIXED-size (256 rows at
    // any corpus size) so their joins are always-legal broadcasts; the
    // per-doc sum rides exact DECIMAL(20,9) arithmetic — order-
    // independent under partial aggregation, identical across engines.
    Query("dsir_weights")((s, dir) => {
      Corpus.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 256)
        .orderBy("doc_id")
    }) {
      // DSIR mirror: same md5 2-hex-digit bucket, same add-one smoothing,
      // same DECIMAL(20,9)-quantized log-ratios so the per-doc sum is
      // exact integer-scaled arithmetic in both engines
      s"""WITH ${dsirTableSql("documents")}
        |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_feats,
        |       ROUND(CAST(SUM(lw * CAST(n AS DECIMAL(10,0))) AS DOUBLE), 6) AS dsir_logweight
        |FROM db JOIN tbl USING (b) GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    // EXT DSIR resampling step: Gumbel top-k = a weighted sample
    // WITHOUT replacement proportional to exp(dsir_logweight), via the
    // deterministic md5-uniform (reproducible across engines; the
    // orderBy+limit compiles to TakeOrderedAndProject, never a global
    // sort).
    Query("dsir_sample")((s, dir) => {
      Sampling.gumbelTopK(
          Corpus.dsirLogWeights(t(s, dir, "documents"), "doc_id", "text",
            col("lang") === "en", buckets = 256),
          "doc_id", "dsir_logweight", k = 64)
        .select("doc_id", "dsir_logweight", "gumbel_key")
        .orderBy(col("gumbel_key").desc, col("doc_id"))
    }) {
      // DSIR resample mirror: Gumbel key over the same md5_48 uniform
      // (exact 48-bit integer arithmetic in doubles), round(6) before the
      // top-k
      s"""WITH ${dsirTableSql("documents")},
        | dw AS (SELECT doc_id, ROUND(CAST(SUM(lw * CAST(n AS DECIMAL(10,0))) AS DOUBLE), 6) AS dsir_logweight
        |        FROM db JOIN tbl USING (b) GROUP BY 1),
        | g AS (SELECT doc_id, dsir_logweight,
        |        ROUND(dsir_logweight - LN(-LN(
        |          ${hex48Sql("md5('42:' || doc_id)")}
        |          / power(2, 48))), 6) AS gumbel_key
        |        FROM dw)
        |SELECT doc_id, dsir_logweight, gumbel_key FROM g
        |ORDER BY gumbel_key DESC, doc_id LIMIT 64""".stripMargin
    },
    // EXT stratified weighted draw (Sampling.gumbelTopKPerGroup):
    // 4 docs per source, length-weighted (logw = ln n_chars), WITHOUT
    // replacement — the per-stratum Gumbel-max trick riding the
    // bounded-state TopKAgg (|groups|*k exchange rows, never a
    // per-stratum sort shuffle)
    Query("gumbel_sample_sources")((s, dir) =>
      Sampling.gumbelTopKPerGroup(
          t(s, dir, "documents").select(col("source"), col("doc_id"),
            log(col("n_chars").cast("double")).as("lw")),
          "source", "doc_id", "lw", k = 4)
        .orderBy("source", "rank")) {
      gumbelSourcesSql
    },
    // EXT STREAMING weighted reservoir (backlog #2): the same
    // per-source Gumbel-max draw run through StreamOps.topKStream's
    // cross-batch bounded state — the key is deterministic data (md5
    // uniform), so merging per-batch top-ks IS the corpus-level
    // without-replacement draw regardless of batch boundaries; k rows
    // of state per live source. Batch-symmetric here (suite strategy);
    // the oracle is the same window rank as gumbel_sample_sources.
    Query("gumbel_sample_stream")((s, dir) => {
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
    }) {
      // stream reservoir == the batch window rank (cross-batch top-k
      // state is a monotone merge of deterministic keys)
      gumbelSourcesSql
    },
    // EXT HLL set difference (Sketches.hllSetDiff, backlog #2): how
    // much of src0's vocabulary is NOT in src1's and vice versa — the
    // inclusion-exclusion identity one subtraction past hllOverlap,
    // from the SAME two constant-size sketches (nothing new shuffled)
    Query("hll_set_diff")((s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      Sketches.hllSetDiff(toks, "source", col("tok"), "src0", "src1")
    }) {
      Sketches.hllSetDiffOracleSql(
        """(SELECT source, tok FROM (
          |   SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |   FROM documents WHERE source IN ('src0', 'src1')) u
          |  WHERE tok <> '') toks""".stripMargin,
        "source", "tok", "src0", "src1")
    },
    // EXT Okapi BM25 top-k (Retrieval.bm25TopK): lexical relevance
    // ranking against a literal query-term bag — the retrieval half of
    // curation workflows (decontamination triage, review queues). The
    // only corpus-sized shuffle is the term-filtered tf groupBy; the
    // global top-k compiles to TakeOrderedAndProject.
    Query("bm25_topk")((s, dir) => {
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "window", "hash", "merge"), k = 20)
        .orderBy("rank")
    }) {
      s"""WITH $bm25Ctes,
         | r AS (SELECT doc_id, bm25,
         |        CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank FROM agg)
         |SELECT doc_id, bm25, rank FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
    },
    // EXT pseudo-relevance feedback (Retrieval.prfExpandedTopK, RM3
    // shape): BM25 round 1 -> top-5 feedback docs vote expansion terms
    // by exact total tf (integer rank, total tie-break) -> BM25 round 2
    // over the expanded set via the terms-FRAME variant (LEFT SEMI term
    // filter — the expansion never touches the driver). Both rounds the
    // BM25 scale shape; quantized-score ranking throughout.
    Query("bm25_prf_topk")((s, dir) => {
      Retrieval.prfExpandedTopK(t(s, dir, "documents"), "doc_id", "text",
          Seq("spark", "stream"), k = 10, kFeedback = 5, nExpand = 3)
        .orderBy("rank")
    }) {
      // two BM25 chains over shared (dl, N, avgdl) stats; round-1 term
      // predicate is the literal list, round-2's is the terms CTE
      s"""WITH $bm25CorpusCtes,
         | ${bm25ScoreCtes("q1", "tok IN ('spark', 'stream')")},
         | fb AS (SELECT doc_id FROM (SELECT doc_id,
         |        ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r FROM q1agg) WHERE r <= 5),
         | ex AS (SELECT tok AS term FROM toks JOIN fb USING (doc_id)
         |        WHERE tok NOT IN ('spark', 'stream')
         |        GROUP BY 1 ORDER BY COUNT(*) DESC, tok LIMIT 3),
         | terms AS (SELECT 'spark' AS term UNION ALL SELECT 'stream'
         |           UNION ALL SELECT term FROM ex),
         | ${bm25ScoreCtes("q2", "tok IN (SELECT term FROM terms)")},
         | r AS (SELECT doc_id, bm25,
         |        CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank FROM q2agg)
         |SELECT doc_id, bm25, rank FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin
    },
    // EXT offline IR evaluation (Retrieval.bm25PerQuery +
    // Retrieval.rankingEval): 3 literal query bags ranked in ONE corpus
    // pass (batch BM25 — shared tf/df, per-query window top-10), judged
    // against graded qrels (rel = #distinct query terms present in the
    // doc), reporting nDCG@10 / MRR@10 / recall@10 per query. DCG uses
    // the 12-decimal LITERAL discount table on both engines — exact
    // decimal sums, divisions only at the round(6) readout
    Query("retrieval_eval")((s, dir) => {
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
    }) {
      val qm = RetrievalEvalQueries
        .flatMap { case (q, ts) => ts.map(t0 => s"('$q', '$t0')") }
        .mkString(", ")
      val disc = Retrieval.NdcgDiscounts.zipWithIndex
        .map { case (d, i) => s"(${i + 1}, ${d.toPlainString})" }
        .mkString(", ")
      s"""WITH qm(query_id, tok) AS (VALUES $qm),
         | disc(r, d) AS (VALUES $disc),
         | $bm25CorpusCtes,
         | ${bm25ScoreCtes("", "tok IN (SELECT tok FROM qm)", perQuery = true)},
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
    // EXT build-once inverted index (Retrieval.invertedIndex): term ->
    // (exact df, capped sorted posting list) — the materialized artifact
    // bm25_topk recomputes per query; cap enforced by a ranked window
    // BEFORE collect so aggregation state stays bounded per term
    Query("inverted_index")((s, dir) => {
      Retrieval.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          minDf = 2, maxPostings = 32)
        // driver-hash convention: no array output columns — join the
        // posting list to a comma string
        .select(col("term"), col("df"),
          array_join(col("postings"), ",").as("postings"))
        .orderBy("term")
    }) {
      // inverted-index mirror: exact df over the (term, doc) dedup; the
      // posting cap is the 32 smallest doc ids (list slice == ranked cap)
      """WITH td AS (SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |            FROM documents),
        | g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |         array_to_string((list(doc_id ORDER BY doc_id))[1:32], ',') AS postings
        |       FROM td GROUP BY term)
        |SELECT term, df, postings FROM g WHERE df >= 2 ORDER BY term""".stripMargin
    },
    // EXT Misra-Gries heavy hitters (Sketches.heavyHitters): EXACT
    // tokens above n/k support found at sketch cost — MG candidates
    // (provable superset), then a broadcast-semi-join recount; the
    // oracle is the plain exact HAVING, which the sketch path equals
    // bit-for-bit by the MG guarantee
    Query("heavy_hitter_tokens")((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("item"))
      Sketches.heavyHitters(toks, "item", 200)
        .withColumnRenamed("item", "token")
    }) {
      // the EXACT heavy-hitter definition — the MG sketch path must equal
      // it bit-for-bit (guaranteed superset + exact recount)
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents),
        | n AS (SELECT COUNT(*) AS c FROM tok)
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1
        |HAVING COUNT(*) * 200 > (SELECT c FROM n)
        |ORDER BY cnt DESC, token""".stripMargin
    },
    // EXT fixed-grid binned quantiles (Sketches.binnedQuantiles): the
    // 100 TB percentile path — two scans, a 256-row exchange, exact
    // integer bins/ranks, mirrored two-division interpolation
    Query("quantiles_binned_chars")((s, dir) =>
      Sketches.binnedQuantiles(t(s, dir, "documents"), "n_chars",
        Seq(25 -> 100, 50 -> 100, 75 -> 100, 90 -> 100, 99 -> 100))) {
      Sketches.binnedQuantilesOracleSql("documents", "n_chars",
        Seq(25 -> 100, 50 -> 100, 75 -> 100, 90 -> 100, 99 -> 100))
    },
    // EXT deterministic training shards (Scale.shardOf): shard = low
    // bits of the portable md5 id-hash — stable across runs, engines
    // and cluster sizes; the size histogram doubles as a uniformity
    // check. writeShards lays the directories out, proven in ScaleSpec
    Query("shard_sizes")((s, dir) =>
      t(s, dir, "documents")
        .groupBy(graft.operators.Scale.shardOf(col("doc_id"), 64).as("shard"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("shard")) {
      """WITH h AS (SELECT md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents)
        |SELECT CAST(((instr('0123456789abcdef', substr(hx, 15, 1)) - 1) % 4) * 16
        |     + (instr('0123456789abcdef', substr(hx, 16, 1)) - 1) AS BIGINT) AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // EXT Count-Min point frequencies (Sketches.cmsCounters/Estimates):
    // d=3 x w=64 md5-bucketed counters — a CONSTANT-size exchange after
    // map-side combine at any corpus scale; estimates (min over rows,
    // never an undercount) joined against the exact counts, collision
    // overcounts and all replayed bit-for-bit by the oracle
    Query("cms_token_counts")((s, dir) => {
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
    }) {
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
    Query("lang_id_ngram")((s, dir) => {
      val docs = t(s, dir, "documents")
      Corpus.langIdSelfTrain(docs, "doc_id", "lang", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lang_pred"),
          (col("lang") === col("lang_pred")).as("correct"), col("oop"))
        .orderBy("doc_id")
    }) {
      // Cavnar-Trenkle replay: same trigrams (char slices of lower()),
      // same total rank order (cnt DESC, gram), same 100-miss penalty
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
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    },
    // EXT language-ID confusion metrics: the heuristic langId evaluated
    // against the corpus's true lang — per-class tp / precision /
    // recall / F1 from exact counts (F1 = 2tp/(n_true+n_pred), a single
    // division); the eval loop every classifier in the suite gets
    Query("lang_confusion")((s, dir) => {
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
    }) {
      // confusion mirror: the text_profile lang CASE over the same stops
      // counts, exact marginal roll-ups, guarded precision
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
    // EXT sketch-union overlap (Sketches.hllOverlap): en-vs-de distinct
    // vocabulary overlap via register-max HLL union + inclusion-
    // exclusion — cross-corpus overlap at sketch cost (|sets|*256 state
    // rows), never a distinct-join; estimator replayed exactly
    Query("hll_vocab_overlap")((s, dir) => {
      val toks = t(s, dir, "documents")
        .filter(col("lang").isin("en", "de"))
        .select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      Sketches.hllOverlap(toks, "lang", col("tok"), "en", "de")
    }) {
      Sketches.hllOverlapOracleSql(
        """(SELECT lang, tok FROM (
          |   SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          |   FROM documents) u WHERE tok <> '') toks""".stripMargin,
        "lang", "tok", "en", "de")
    },
    // EXT late-interaction retrieval (Retrieval.maxSimTopK, ColBERT
    // shape): vocab x query-vocab similarity matrix (query side
    // broadcast — bounded by the query set), all-integer md5 sign
    // agreement so scores are dyadic-exact; corpus cost linear in
    // distinct (doc, token) pairs, never doc x doc
    Query("maxsim_topk")((s, dir) => {
      val docs = t(s, dir, "documents")
      Retrieval.maxSimTopK(docs, docs.filter(col("doc_id") < 3),
          "doc_id", "text", 5)
        .orderBy("query_id", "rank")
    }) {
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
        |SELECT query_id, doc_id, maxsim, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
  )

  /** Literal query bags for `retrieval_eval` — ONE definition feeds the
    * Spark run/qrels frames AND the generated oracle's VALUES list, so
    * the two sides can never drift.
    */
  private val RetrievalEvalQueries: Seq[(String, Seq[String])] = Seq(
    "q_exec" -> Seq("spark", "window"),
    "q_storage" -> Seq("hash", "merge"),
    "q_stream" -> Seq("stream", "scan"))

  /** DuckDB mirror of [[bigramLogprobFrame]]: CTEs `docs`, `pairs`,
    * the bigram counts `bc`/`bcp` (prefix totals `cp`) and the per-doc
    * scores `lp`(doc_id, logprob).
    */
  private val bigramLogprobCtes =
    """docs AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
      | pairs AS (SELECT doc_id, w[j] AS prev, w[j + 1] AS cur
      |           FROM docs, LATERAL unnest(range(1, len(w))) AS t(j)
      |           WHERE len(w) >= 2),
      | bc AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cb FROM pairs GROUP BY 1, 2),
      | bcp AS (SELECT *, CAST(SUM(cb) OVER (PARTITION BY prev) AS BIGINT) AS cp FROM bc),
      | lp AS (SELECT doc_id, ROUND(AVG(LN(CAST(cb AS DOUBLE) / cp)), 6) AS logprob
      |        FROM pairs JOIN bcp USING (prev, cur) GROUP BY doc_id)""".stripMargin

  /** The en and de corpus byte histograms `h1`/`h2` as one crossed row
    * (ByteFunctions.ByteHistogramAgg over each language's texts).
    */
  private def enDeHistograms(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val histAgg = udaf(new ByteFunctions.ByteHistogramAgg,
      org.apache.spark.sql.Encoders.BINARY)
    val hEn = docs.filter(col("lang") === "en")
      .agg(histAgg(col("text").cast("binary")).as("h1"))
    val hDe = docs.filter(col("lang") === "de")
      .agg(histAgg(col("text").cast("binary")).as("h2"))
    hEn.crossJoin(hDe)
  }

  /** DuckDB mirror of [[enDeHistograms]]: per-code counts `b1` (en) and
    * `b2` (de) and their totals `n1`/`n2`.
    */
  private val enDeHistogramCtes =
    """b1 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
      |            FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'en') GROUP BY 1),
      | b2 AS (SELECT ascii(c) AS code, COUNT(*) AS cnt
      |        FROM (SELECT unnest(string_split(text, '')) AS c FROM documents WHERE lang = 'de') GROUP BY 1),
      | n1 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b1),
      | n2 AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM b2)""".stripMargin

  /** The per-source Gumbel top-4 oracle shared by `gumbel_sample_sources`
    * and `gumbel_sample_stream`: key = round(ln n_chars - ln(-ln u), 6),
    * u the md5('42:' || doc_id) 48-bit uniform.
    */
  private val gumbelSourcesSql =
    s"""WITH d AS (SELECT source, doc_id, LN(CAST(n_chars AS DOUBLE)) AS lw FROM documents),
       | g AS (SELECT source, doc_id, ROUND(lw - LN(-LN(
       |    ${hex48Sql("md5('42:' || doc_id)")}
       |    / power(2, 48))), 6) AS gumbel_key
       |   FROM d),
       | r AS (SELECT source, doc_id, gumbel_key,
       |        ROW_NUMBER() OVER (PARTITION BY source
       |          ORDER BY gumbel_key DESC, doc_id) AS rank FROM g)
       |SELECT source, CAST(rank AS INT) AS rank, doc_id, gumbel_key
       |FROM r WHERE rank <= 4 ORDER BY source, rank""".stripMargin

  /** SQL token count of the word expression `w` under
    * TextFunctions.bpeCount's replace fold, generated from `table`: the
    * word interspersed with a separator char, each merge a `replace` in
    * rank order, pieces counted. (?s) on BOTH engines: Java dot excludes
    * U+2028/29/NEL, RE2 dot only \n — DOTALL makes the char
    * interspersion agree everywhere.
    */
  private def bpeCountSql(table: Seq[(String, String)], w: String): String = {
    val sep = "␟"
    val fold = table.foldLeft(s"regexp_replace($w, '(?s)(.)', '\\1$sep', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '$a$sep$b', '$a$b')"
    }
    s"len(string_split($fold, '$sep')) - 1"
  }

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

  /** The learned BPE merge table the declared `bpe_tokens_learned` query
    * applies — output of the REAL trainer
    * ([[graft.functions.TextFunctions.learnBpeMerges]]: greedy
    * most-frequent-adjacent-pair over the word-frequency dictionary) on
    * the sf0.01 documents corpus, 24 merges
    * (`runMain graft.ScaleProbe bpetrain <sf0.01 dir> 24`).
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
    * `runMain graft.ScaleProbe bpetrainx <sf0.01 dir> 32`.
    */
  private val bpeMergeTableX: Seq[(String, String)] = Seq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("e", "_"), ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"),
    ("p", "ar"), ("ow", "_"), ("h", "_"), ("c", "a"), ("j", "o"),
    ("jo", "in"), ("a", "s"), ("h", "as"), ("at", "c"), ("b", "atc"),
    ("ca", "n"), ("s", "can"), ("a", "b"), ("c", "o"), ("c", "u"),
    ("co", "lu"), ("colu", "m"), ("colum", "n"), ("cu", "st"),
    ("cust", "o"), ("custo", "mer"), ("er", "_"))

  /** Probe tokens for `cms_token_counts` — a LITERAL shared by the Spark
    * query and the oracle VALUES list: frequent words, mid-frequency
    * words, and one absent token (exact 0; its estimate is whatever its
    * buckets collide into — both engines replay the same collisions).
    */
  private val CmsProbeTokens: Seq[String] = Seq(
    "scan", "join", "window", "merge", "table", "the", "dup", "row",
    "zzz_absent")

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
}
