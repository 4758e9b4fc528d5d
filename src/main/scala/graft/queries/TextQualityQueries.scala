package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Corpus, Stats}

import Shared._

/** Token statistics, phrase and vocabulary queries, the frozen quality
  * classifier and its evaluation metrics (AUC, PRF, calibration).
  */
object TextQualityQueries {
  val family: Family = Family(
    // EXT corpus-wide heavy hitters (Corpus.topNgrams): top-20 word
    // bigrams; partial agg absorbs the hot grams, global top-k is
    // TakeOrderedAndProject
    Query("top_ngrams")((s, dir) =>
      Corpus.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 20)) {
      """WITH w AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | g AS (SELECT unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS gram
        |       FROM w WHERE len(ws) >= 2)
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM g GROUP BY 1
        |ORDER BY cnt DESC, gram LIMIT 20""".stripMargin
    },
    // EXT dictionary phrase tagging (Corpus.phraseHits): mixed 1/2/3-word
    // phrases, one exploded-gram union joined against the broadcast
    // literal dictionary — the Aho-Corasick analogue
    Query("phrase_hits")((s, dir) =>
      Corpus.phraseHits(t(s, dir, "documents"), "doc_id", "text", PhraseDict)
        .orderBy("doc_id", "phrase")) {
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
    // EXT Heaps-law vocabulary growth (Corpus.vocabGrowth): new BIGRAM
    // types + cumulative type count per corpus-prefix decile (unigram
    // vocab saturates in the first decile of any real corpus); rank via
    // two-phase dense ids, bucket edges in exact integer arithmetic
    Query("vocab_growth")((s, dir) =>
      Corpus.vocabGrowth(t(s, dir, "documents"), "doc_id", "text",
          buckets = 10, n = 2)
        .orderBy("bucket")) {
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
        |FROM nb ORDER BY bucket""".stripMargin
    },
    // EXT windowed co-occurrence PMI (Corpus.pmiPairs): the word2vec
    // statistic — unordered token pairs within 2 positions, PMI against
    // unigram frequencies, top-30 at count>=5
    Query("pmi_pairs")((s, dir) =>
      Corpus.pmiPairs(t(s, dir, "documents"), "text", window = 2, minCount = 5, k = 30)) {
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
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin
    },
    // EXT per-source corpus cap (Corpus.capPerGroup): at most 15 docs
    // per source, best quality first with doc_id ties — the curation
    // lever against one crawl drowning the mixture
    Query("source_cap")((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
      Corpus.capPerGroup(docs, "source", cap = 15,
          Seq(col("quality").desc, col("doc_id").asc))
        .select(col("source"), col("doc_id"), col("rank"))
        .orderBy("source", "rank")
    }) {
      s"""WITH base AS (SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS p FROM documents),
         | c AS (SELECT doc_id, source, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base),
         | q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM c),
         | r AS (SELECT source, doc_id,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS INT) AS rank
         |        FROM q)
         |SELECT source, doc_id, rank FROM r WHERE rank <= 15
         |ORDER BY source, rank""".stripMargin
    },
    // EXT temperature-balanced multilingual resampling
    // (Corpus.temperatureSample, XLM-R/mT5 mixing with alpha=0.5):
    // allocation floor(200*sqrt(c_l)/S) per language from IEEE-exact
    // sqrt + ordered weight fold, md5-rank draws per group
    Query("lang_temperature_sample")((s, dir) =>
      Corpus.temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          nTarget = 200)
        .orderBy("doc_id")) {
      """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cl FROM documents GROUP BY 1),
        | w AS (SELECT lang, sqrt(CAST(cl AS DOUBLE)) AS wl FROM c),
        | s AS (SELECT list_sum(list(wl ORDER BY lang)) AS tot FROM w),
        | alloc AS (SELECT lang, CAST(FLOOR(CAST(200 AS DOUBLE) * wl / tot) AS BIGINT) AS nl FROM w, s),
        | r AS (SELECT doc_id, lang,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |        FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN alloc USING (lang)
        |WHERE rk <= nl ORDER BY doc_id""".stripMargin
    },
    Query("quality_classifier")((s, dir) =>
      qcScored(s, dir)
        .select(col("doc_id"), col("p_clean"))
        .withColumn("keep", col("p_clean") >= 0.5)
        .orderBy("doc_id")) {
      s"""WITH $qcScoredSql
         |SELECT doc_id, p_clean, p_clean >= 0.5 AS keep FROM s ORDER BY doc_id""".stripMargin
    },
    // EXT learned quality filter: logistic scoring over the shared
    // quality features with FROZEN trained weights (QcWeights, trained
    // by ScaleProbe qctrain on clean-vs-corrupted) — the fastText-style
    // learned-filter shape; inference is one expression-only projection
    // EXT cross-source score calibration: a raw quality score is not
    // comparable across sources (each source has its own score
    // distribution), so curation mixes on the WITHIN-source quantile —
    // percent_rank per source with total tie-break, the
    // quantile-normalization step before any cross-source threshold
    Query("quality_quantile_norm")((s, dir) => {
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
    }) {
      // quantile-norm mirror: shared qualityScore CTEs + PERCENT_RANK
      // with the same total tie-break
      s"""WITH base AS (SELECT doc_id, source, text, ' ' || lower(text) || ' ' AS p FROM documents),
         | c AS (SELECT doc_id, source, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base),
         | q AS (SELECT doc_id, source, $qualityExprSql AS quality FROM c)
         |SELECT doc_id, source, quality,
         |       PERCENT_RANK() OVER (PARTITION BY source
         |         ORDER BY quality ASC, doc_id ASC) AS q_rank
         |FROM q ORDER BY doc_id""".stripMargin
    },
    // EXT classifier ROC-AUC (Stats.aucRank): the learned quality
    // filter evaluated against its injected ground truth via the
    // Mann-Whitney rank identity — exact dyadic rank sums over the
    // round(6) score grid, midrank tie convention
    Query("classifier_auc")((s, dir) =>
      Stats.aucRank(qcScored(s, dir), col("p_clean"), col("is_clean"))) {
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
         |FROM a""".stripMargin
    },
    // EXT classifier confusion metrics (Stats.binaryClassMetrics):
    // exact TP/FP/FN/TN in one pass; precision/recall/accuracy and F1
    // (via 2TP/(2TP+FP+FN) — a SINGLE exact-integer division, never
    // the stacked p·r composition) at threshold 0.5
    Query("classifier_prf")((s, dir) =>
      Stats.binaryClassMetrics(qcScored(s, dir),
        col("p_clean") >= 0.5, col("is_clean"))) {
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
         |FROM a""".stripMargin
    },
    Query("classifier_calibration")((s, dir) =>
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
        .orderBy("bin")) {
      s"""WITH $qcScoredSql,
         | m AS (SELECT LEAST(CAST(FLOOR(p_clean * 10) AS BIGINT), 9) AS bin,
         |        CAST(p_clean AS DECIMAL(20,6)) AS p,
         |        CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS pos FROM s),
         | a AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(p) AS DOUBLE) AS sp, CAST(SUM(pos) AS BIGINT) AS np
         |       FROM m GROUP BY 1)
         |SELECT bin, n, ROUND(sp / CAST(n AS DOUBLE), 6) AS avg_p,
         |  ROUND(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_rate
         |FROM a ORDER BY bin""".stripMargin
    },
    // EXT calibration (reliability) table: decile score bins vs
    // observed clean rate — avg_p from an exact DECIMAL(20,6) sum of
    // the round(6) scores (order-free), obs_rate one exact division
    // EXT isotonic score calibration (Stats.isotonicCalibration): the
    // PAV monotone fit of the learned classifier's per-bin hit rate —
    // computed by the minimax identity over exact prefix-sum quotients
    // so the fit replays bit-for-bit (PAV's merge loop would not)
    Query("isotonic_calibration")((s, dir) =>
      Stats.isotonicCalibration(qcScored(s, dir), col("p_clean"),
          col("is_clean"), bins = 100)
        .orderBy("bin")) {
      // isotonic mirror: the qc CTEs, (bin, label) cells, BIGINT prefix
      // lists, and the same minimax over IEEE quotients (list_min /
      // list_max are order-free; nested-lambda capture is the PqSqlBits
      // proven idiom)
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
         |FROM iso ORDER BY bin""".stripMargin
    },
    // EXT Expected Calibration Error (Naeini '15): the one-number
    // summary of the reliability diagram — Σ n_b/N·|acc_b − conf_b|
    // over the same 10 bins; confidence sums ride exact DECIMALs, the
    // weighted fold runs in bin order
    Query("calibration_ece")((s, dir) => {
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
    }) {
      // ECE mirror: same bins/decimal sums, the weighted |acc - conf|
      // fold in bin order via list_sum(list(... ORDER BY bin))
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
         |FROM t2""".stripMargin
    },
    // EXT cumulative gain/lift deciles (Stats.liftGain) of the learned
    // quality classifier on its injected eval labels — the targeting
    // readout next to classifier_auc; NTILE(10) under the (score desc,
    // label desc) cell order — rows within a cell are interchangeable
    Query("lift_gain_deciles")((s, dir) => {
      val sc = qcScored(s, dir)
      Stats.liftGain(sc, col("p_clean"), col("is_clean"))
        .orderBy("decile")
    }) {
      // gain/lift mirror: the qcScored CTE chain + NTILE under the same
      // (p_clean DESC, doc_id) total order; window SUM(BIGINT) cast back
      // per invariant 36
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
         |FROM cc ORDER BY decile""".stripMargin
    },
    // EXT Brier score (proper scoring rule) of the quality classifier:
    // exact DECIMAL(9,6) probability grid -> exact squared-error sums
    // (order-free), one division at the readout — the calibration
    // COMPLEMENT of the reliability table (penalizes confident misses)
    Query("classifier_brier")((s, dir) => {
      val d = col("p_clean").cast("decimal(9,6)") -
        col("is_clean").cast("int").cast("decimal(9,6)")
      qcScored(s, dir)
        .select((d * d).as("_sq"))
        .agg(count(lit(1)).as("n"), sum(col("_sq")).as("_ss"))
        .select(col("n"),
          round(col("_ss").cast("double") / col("n").cast("double"), 6)
            .as("brier"))
    }) {
      // Brier mirror: the qcScored chain, DECIMAL(9,6) grid squared-error
      s"""WITH $qcScoredSql,
         | e AS (SELECT (CAST(p_clean AS DECIMAL(9,6))
         |        - CAST(CASE WHEN doc_id < 400000 THEN 1 ELSE 0 END AS DECIMAL(9,6))) AS d
         |       FROM s)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  ROUND(CAST(SUM(d * d) AS DOUBLE) / COUNT(*), 6) AS brier
         |FROM e""".stripMargin
    },
    // EXT hapax ratio (corpus-quality signal): per-source share of
    // vocabulary appearing exactly once — high hapax = diverse/noisy,
    // low = templated; two map-side-combinable roll-ups
    Query("hapax_ratio_sources")((s, dir) =>
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
        .orderBy("source")) {
      """WITH toks AS (SELECT source,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
        | f AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS fr FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        | a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
        |        CAST(SUM(CASE WHEN fr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |       FROM f GROUP BY 1)
        |SELECT source, vocab, hapax,
        |  ROUND(CAST(hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 6) AS hapax_ratio
        |FROM a ORDER BY source""".stripMargin
    },
    // EXT inter-rater agreement (Stats.cohenKappa): chance-corrected
    // agreement between a length rater (n_chars >= 300) and a lexical-
    // diversity rater (2·|distinct tokens| >= |tokens| — an INTEGER
    // comparison, no float ratio) — the labeling-QA metric for
    // heuristic-vs-heuristic audit before spending model labels
    Query("cohen_kappa_docs")((s, dir) =>
      Stats.cohenKappa(
        t(s, dir, "documents")
          .select(col("n_chars"), split(trim(col("text")), "\\s+").as("_w"))
          .select((col("n_chars") >= 300).as("_a"),
            (size(array_distinct(col("_w"))) * 2 >= size(col("_w"))).as("_b")),
        col("_a"), col("_b"))) {
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
        |FROM k""".stripMargin
    },
    // EXT Simpson diversity (Stats.simpsonDiversity, unbiased form):
    // per-source language diversity — the mixture-balance audit next
    // to hapax's vocabulary signal; exact n_i(n_i−1) moments, one
    // division
    Query("simpson_diversity_sources")((s, dir) =>
      Stats.simpsonDiversity(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")) {
      """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS cnt
        |       FROM documents GROUP BY 1, 2),
        | a AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
        |        CAST(COUNT(*) AS BIGINT) AS k_cats,
        |        CAST(SUM(cnt * (cnt - 1)) AS BIGINT) AS pp FROM c GROUP BY 1)
        |SELECT source, n, k_cats,
        |  CASE WHEN n >= 2 THEN ROUND(CAST(1 AS DOUBLE)
        |    - CAST(pp AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE), 6) END AS simpson
        |FROM a ORDER BY source""".stripMargin
    },
    // EXT per-source language-mix divergence (Stats.chi2Divergence):
    // goodness-of-fit χ² of each source's lang distribution against the
    // corpus marginal via the observed-cells identity — the
    // "which sources drifted" data-quality screen; category-sorted
    // float fold, everything else exact integers
    Query("lang_chi2_sources")((s, dir) =>
      Stats.chi2Divergence(t(s, dir, "documents"), "source", "lang")
        .orderBy("source")) {
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
        |FROM t GROUP BY source, ng ORDER BY source""".stripMargin
    },
    // EXT feature ranking by mutual information (Stats.
    // contingencyAnalysis reused per feature): which metadata predicts
    // `lang` — source (real signal) vs a length bucket (weak) vs a
    // doc_id shard (noise floor); the feature-selection readout
    Query("feature_mi_rank")((s, dir) => {
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
    }) {
      // feature-MI mirror: the contingency_events CTE chain instantiated
      // per feature (suffixed CTE names), tags UNION'd; the length-bucket
      // CASE sum shares FeatureMiLenEdges with the Spark when-chain
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
    // EXT type-token ratio (TextFunctions.typeCount): per-doc lexical
    // diversity — distinct-token share, the boilerplate/template-spam
    // flag; both counts are single map-side array expressions, the
    // division exact-integer one-step, round(6)
    Query("ttr_docs")((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("n_tokens"),
          graft.functions.TextFunctions.typeCount(col("text"))
            .cast("long").as("n_types"))
        .withColumn("ttr", when(col("n_tokens") > 0,
          round(col("n_types").cast("double") / col("n_tokens").cast("double"), 6)))
        .orderBy("doc_id")) {
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) END AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) END AS n_types,
        |  CASE WHEN length(trim(text)) > 0
        |       THEN ROUND(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
        |         / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 6) END AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    // EXT RAKE keyword extraction (Corpus.rakeKeywords, Rose 2010):
    // corpus-level candidate phrases split on stopwords+punctuation,
    // word deg/freq scores round(9)-quantized to exact DECIMAL so the
    // per-phrase sums are order-free, top-20 under a total order
    Query("rake_keywords")((s, dir) =>
      Corpus.rakeKeywords(t(s, dir, "documents"), "text",
        TextFunctions.EnStops, maxPhraseWords = 4, k = 20)) {
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
    // EXT TextRank keywords (Corpus.textRankKeywords, Mihalcea-Tarau
    // '04): PageRank over the window-2 word co-occurrence graph — the
    // graph-centrality complement of RAKE's frequency scores; the
    // sweeps shuffle on the VOCABULARY-bounded word key
    Query("textrank_keywords")((s, dir) =>
      Corpus.textRankKeywords(t(s, dir, "documents"), "text",
        TextFunctions.EnStops, iterations = 3, k = 20)) {
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
    // EXT Zipf slope (Stats.olsSimple over log-log ranks): the corpus
    // power-law readout — top-1000 tokens by (freq desc, tok), ln rank
    // and ln freq quantized to exact integer MICRO-units before the
    // five-BIGINT-moment OLS (the round-then-rank ln discipline; the
    // shared 1e6 scale cancels in slope and r²). The top-k is a
    // TakeOrderedAndProject over the vocab-bounded frequency table,
    // never a corpus sort
    Query("zipf_slope_tokens")((s, dir) => {
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
    }) {
      s"""WITH $expandedTokensSql,
        | f AS (SELECT token AS tok, CAST(COUNT(*) AS BIGINT) AS freq FROM et
        |       GROUP BY 1),
        | r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank FROM f),
        | k AS (SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |        CAST(ROUND(LN(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |       FROM r WHERE rank <= 1000),
        | ${olsSql("k")}""".stripMargin
    },
  )

  /** Literal n_chars bucket edges for `feature_mi_rank`'s length
    * feature — shared between the Spark when-chain and the oracle.
    */
  private val FeatureMiLenEdges: Seq[Long] = Seq(150L, 300L, 450L)

  /** The phrase dictionary `phrase_hits` tags with — a LITERAL shared by
    * the Spark query and the generated oracle IN-list. */
  private val PhraseDict: Seq[String] = Seq(
    "spark", "hash join", "table scan", "merge sort", "window agg",
    "the fast key")

  /** Frozen logistic quality-classifier weights (bias, then one weight
    * per [[TextFunctions.qualityFeatures]] component) — output of the
    * deterministic trainer `runMain graft.ScaleProbe qctrain
    * <sf0.01 dir> 800 2.0` (clean docs vs punctuation-corrupted
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
}
