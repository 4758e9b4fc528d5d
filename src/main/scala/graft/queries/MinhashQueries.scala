package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup}

import Shared._

/** The md5-slice MinHash family: every query that reads the banded
  * signature frames of the injected dedup corpus, so the signatures are
  * built once per session and reused through the cache.
  */
object MinhashQueries {
  val family: Family = Family(
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
    Query("minhash_pairs")((s, dir) => {
      Dedup.minhashNearDupPairsMd5(injectedDocs(s, dir), "doc_id", "text",
          k = 12, bands = 2, shingleK = 3, threshold = 0.8,
          maxBucket = Some(64))
        .orderBy("id_a", "id_b")
    }) {
      s"""WITH $minhashPairsMd5Ctes
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin
    },
    // EXT blocking-quality evaluation: the dedup pipeline graded
    // against its own injected ground truth — pair-recall (which
    // injected exact-dup pairs did banded LSH + verify keep) and
    // reduction ratio (pairs emitted vs the n(n−1)/2 a naive all-pairs
    // pass would score). Truth = the %7 injections whose docs are
    // shingleable (≥3 tokens — a 2-token doc can never enter the
    // candidate stage, in either engine). All counts are 1-row
    // aggregates riding broadcast crosses; the metrics are single
    // exact-integer divisions
    Query("blocking_quality")((s, dir) => {
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
    }) {
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
         |FROM nd, np, nt, nf""".stripMargin
    },
    // EXT Fellegi-Sunter linkage weights (Dedup.fellegiSunterWeights):
    // m/u probabilities and log2 Bayes-factor weights learned from
    // labeled blocked pairs — customers vs a deterministically
    // perturbed re-registration copy, blocked on nationkey (the %5
    // nation perturbation makes real matches MISS the block, the
    // honest ER failure mode)
    Query("fellegi_sunter_weights")((s, dir) => {
      val (a, b, cellsA, cellsB) = fsCustomerPairs(s, dir)
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
    }) {
      // Fellegi-Sunter mirror: the same perturbed copy, nation-blocked
      // pairs, ONE conditional aggregate, guarded log2 weights
      s"""WITH $fsPairCtes,
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
        |FROM fields ORDER BY field""".stripMargin
    },
    // EXT FS match-score separation: the learned weights applied back
    // to the blocked pairs — score = Σ_f (agree ? w_a : w_d); with two
    // binary fields the score domain has 4 points, so the histogram IS
    // the separability readout (matches pile at the top score)
    Query("fs_score_separation")((s, dir) => {
      val (a, b, cellsA, cellsB) = fsCustomerPairs(s, dir)
      // r14 (§2/§3, the fellegi_sunter_weights rewrite): the 8-cell
      // (agseg, agbal, ismatch) histogram is derived from per-block
      // attribute-CELL marginal products plus the linear 1:1 match
      // join — the 9M-row blocked pair frame never materializes.
      // all-pair cells are Σ over nation-blocked cell pairs of ca·cb;
      // match cells come from the key join filtered to the block;
      // nonmatch = all − match, with 0-count rows filtered so the cell
      // set is exactly the groupBy-over-pairs one. Identical counts by
      // algebra; downstream scoring unchanged. Oracle-verified 3 SFs.
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
    }) {
      // FS-scoring mirror: the weight aggregate CROSS-joined back onto
      // the pair frame, per-field CASE weights, 4-point score histogram
      s"""WITH $fsPairCtes,
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
        |FROM sc GROUP BY 1, 2 ORDER BY score DESC, ismatch""".stripMargin
    },
    // EXT cross-corpus near-dup: incoming batch (exact copies of the %7
    // docs + %11 docs with one appended token, J ~ 0.97) matched against
    // the documents corpus WITHOUT a self-join — the incremental
    // ingestion shape. Corpus band signatures are the reusable index;
    // maxBucket=64 caps corpus-side buckets (a page mirrored 10^6 times
    // would otherwise pair with every incoming doc in its bucket).
    Query("minhash_against")((s, dir) => {
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
    }) {
      s"""WITH $minhashAgainstCtes,
         | szc AS (SELECT jid, COUNT(*) AS sz FROM shc GROUP BY 1),
         | szi AS (SELECT jid, COUNT(*) AS sz FROM shi GROUP BY 1),
         | inter AS (SELECT id_a, id_b, COUNT(*) AS i FROM cand
         |           JOIN shc x ON x.jid = id_a JOIN shi y ON y.jid = id_b AND x.sh = y.sh GROUP BY 1, 2),
         | j AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
         |       FROM inter JOIN szc sa ON sa.jid = id_a JOIN szi sb ON sb.jid = id_b)
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin
    },
    // EXT stream-ingestion near-dup: the STATELESS stream-static-join
    // variant of minhash_against — per-row signatures against a prebuilt
    // corpus band index, scored by signature agreement (the MinHash
    // Jaccard estimate) instead of exact shingle Jaccard. Same function
    // the streaming spec drives through a MemoryStream; batch-symmetric
    // here, like the other declared streaming queries.
    Query("minhash_against_stream")((s, dir) => {
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
    }) {
      val agree = (0 until 12)
        .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashAgainstCtes,
         | est AS (SELECT id_a AS corpus_id, id_b AS doc_id,
         |          CAST($agree AS DOUBLE) / 12 AS est_jaccard
         |         FROM cand JOIN mhc a ON a.jid = id_a JOIN mhi b ON b.jid = id_b)
         |SELECT corpus_id, doc_id, est_jaccard FROM est
         |WHERE est_jaccard >= 0.8 ORDER BY corpus_id, doc_id""".stripMargin
    },
    // EXT the end-to-end DEDUPLICATED CORPUS: clusters -> min-id
    // representative per cluster (+ every unpaired doc as its own
    // singleton) with the cluster size as removal provenance — what a
    // training run actually materializes after near-dup detection.
    Query("dedup_canonical")((s, dir) => {
      val docs = injectedDocs(s, dir)
      val clusters = Dedup.dedupClusters(dupPairs(docs))
      val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      Dedup.canonicalizeClusters(docs, "doc_id", clusters)
        .filter(col("keep"))
        .join(sizes, Seq("cluster_id"), "left")
        .na.fill(1L, Seq("n_members"))
        .select(col("doc_id"), col("n_members"))
        .orderBy("doc_id")
    }) {
      s"""WITH RECURSIVE $dupPairCtes,
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         | sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM cl GROUP BY 1),
         | keepers AS (SELECT cluster_id AS doc_id, n_members FROM sz
         |             UNION ALL
         |             SELECT doc_id, CAST(1 AS BIGINT) FROM u WHERE doc_id NOT IN (SELECT id FROM cl))
         |SELECT doc_id, n_members FROM keepers ORDER BY doc_id""".stripMargin
    },
    // EXT near-dup CLUSTERS: connected components over the pair graph
    // above (min-label propagation, O(diameter) joined rounds — near-dup
    // graphs are LSH-bucket quasi-cliques, diameter 2-4 at any corpus
    // size). cluster_id = min member id, the canonical doc a dedup
    // pipeline keeps. Oracle replays the same edges through a DuckDB
    // recursive CTE to the same min-reachable-id fixpoint.
    Query("dedup_clusters")((s, dir) => {
      Dedup.dedupClusters(dupPairs(s, dir))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }) {
      s"""WITH RECURSIVE $dupPairCtes,
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id)
         |SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin
    },
    // EXT FUZZY eval-set decontamination (Corpus.decontaminateFuzzy):
    // the MinHash complement of decontaminate_docs — eval items are the
    // %13=1 docs lightly paraphrased (one appended token, J ~ 0.95), so
    // exact n-gram matching alone would be fooled by further edits while
    // the banded Jaccard pass still flags the source docs AND their
    // corpus near-dups. Asymmetric band join, no corpus self-join.
    Query("decontaminate_fuzzy")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val eval = docs.filter(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" ev")).as("text"))
      Corpus.decontaminateFuzzy(docs, "doc_id", "text",
          eval, "doc_id", "text", threshold = 0.8, maxBucket = Some(64))
        .orderBy("doc_id")
    }) {
      // fuzzy-decontamination mirror: the same banded pipeline with the
      // eval-set recipe as the incoming side, rolled up per corpus doc
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
    // EXT near-dup-aware quality-selective dedup: per duplicate cluster
    // keep the HIGHEST-quality member (quality desc, doc_id ties), not
    // the smallest id — the canonical-pick a curation pipeline actually
    // wants; singletons keep themselves. Reuses the ngram-Jaccard pair
    // join + min-label components + the shared portable quality score
    Query("cluster_best_quality")((s, dir) => {
      val docs = injectedDocs(s, dir)
      val clusters = Dedup.dedupClusters(dupPairs(docs))
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
    }) {
      s"""WITH RECURSIVE $dupPairCtes,
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
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
         |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin
    },
    // EXT leakage-safe train/val/test split: the split hash is taken on
    // the near-dup CLUSTER id, not the doc id, so near-duplicates can
    // never straddle train and test (the contamination a doc-level
    // split silently ships). Singletons hash their own id — identical
    // to split_assign for them
    Query("split_leakage_safe")((s, dir) => {
      val docs = injectedDocs(s, dir)
      val clusters = Dedup.dedupClusters(dupPairs(docs))
      val mem = docs.select("doc_id")
        .join(clusters, docs("doc_id") === clusters("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Corpus.assignSplit(mem, "cluster_id")
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    }) {
      val bounds = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        .scanLeft(("", 0.0)) { case ((_, acc), (n, f)) => (n, acc + f) }.tail
      val cases = bounds.init
        .map { case (n, hi) => s"WHEN uu < ${"%.17e".formatLocal(java.util.Locale.ROOT, hi)} THEN '$n'" }
        .mkString(" ")
      s"""WITH RECURSIVE $dupPairCtes,
         | edges AS (SELECT id_a AS src, id_b AS dst FROM p UNION SELECT id_b, id_a FROM p),
         | reach AS (SELECT src AS id, src AS r FROM edges
         |   UNION SELECT e.dst AS id, reach.r FROM reach JOIN edges e ON e.src = reach.id),
         | cl AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         | m AS (SELECT u.doc_id, COALESCE(cl.cluster_id, u.doc_id) AS cluster_id
         |       FROM u LEFT JOIN cl ON cl.id = u.doc_id),
         | d AS (SELECT doc_id, cluster_id,
         |  ${hex48Sql("md5('42:' || cluster_id)")}
         |    / 281474976710656.0 AS uu
         |  FROM m)
         |SELECT doc_id, cluster_id, CASE $cases ELSE '${bounds.last._1}' END AS split
         |FROM d ORDER BY doc_id""".stripMargin
    },
  )

  /** The Fellegi-Sunter customer pairs: `a` is the customer table as
    * (akey, anation, aseg, abal = floor(acctbal / 1000)), `b` its
    * deterministically perturbed re-registration copy (key + 10^6; %5
    * nation shifted, %3 segment MOVED, %7 balance bucket + 1), and
    * `cellsA`/`cellsB` their per-(nation, segment, bucket) cell counts
    * `_ca`/`_cb`. Mirrored by [[fsPairCtes]].
    */
  private def fsCustomerPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
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
    (a, b, a.groupBy("anation", "aseg", "abal").agg(count(lit(1)).as("_ca")),
      b.groupBy("bnation", "bseg", "bbal").agg(count(lit(1)).as("_cb")))
  }

  /** DuckDB mirror of [[fsCustomerPairs]]: CTEs `a`, `b` and the
    * nation-blocked pair frame `p`(agseg, agbal, ismatch).
    */
  private val fsPairCtes =
    """a AS (SELECT c_custkey AS akey, c_nationkey AS anation,
      |        c_mktsegment AS aseg, FLOOR(c_acctbal / 1000.0) AS abal FROM customer),
      | b AS (SELECT c_custkey + 1000000 AS bkey,
      |        CASE WHEN c_custkey % 5 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS bnation,
      |        CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END AS bseg,
      |        CASE WHEN c_custkey % 7 = 0 THEN FLOOR(c_acctbal / 1000.0) + 1
      |             ELSE FLOOR(c_acctbal / 1000.0) END AS bbal
      |       FROM customer),
      | p AS (SELECT (aseg = bseg) AS agseg, (abal = bbal) AS agbal,
      |        (bkey = akey + 1000000) AS ismatch
      |       FROM a JOIN b ON anation = bnation)""".stripMargin

  /** The md5-minhash banded-LSH pair CTE chain (u → shingles → 12
    * min-hashes → 2 bands → capped buckets → candidates → exact-Jaccard
    * verify as table `j`) — the DuckDB replay of
    * [[graft.operators.Dedup.minhashNearDupPairsMd5]] on [[injectedDocs]].
    * Shared by the `minhash_pairs` oracle and the `blocking_quality`
    * eval so the two can never drift.
    */
  private def minhashPairsMd5Ctes: String =
    s"""u AS ($injectedDocsSql),
       | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
       | ${shingleCte("sh", "doc_id", "w")},
       | mh AS (SELECT jid, ${md5MinColsSql(12)} FROM sh GROUP BY jid),
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

  /** Banded-MinHash corpus-vs-incoming CTE chain, parameterized by the
    * incoming-set recipe (the declared queries reuse the same md5-slice
    * signature scheme against different injected/eval sets).
    */
  private def minhashAgainstCtesWith(incSql: String) = {
    val minCols = md5MinColsSql(12)
    s"""c AS (SELECT doc_id, text FROM documents),
       | inc AS ($incSql),
       | wc AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM c),
       | ${shingleCte("shc", "doc_id", "wc")},
       | wi AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM inc),
       | ${shingleCte("shi", "doc_id", "wi")},
       | mhc AS (SELECT jid, $minCols FROM shc GROUP BY jid),
       | mhi AS (SELECT jid, $minCols FROM shi GROUP BY jid),
       | bc AS (SELECT jid, 0 AS band, $sig0 AS bsig FROM mhc UNION ALL SELECT jid, 1, $sig1 FROM mhc),
       | bi AS (SELECT jid, 0 AS band, $sig0 AS bsig FROM mhi UNION ALL SELECT jid, 1, $sig1 FROM mhi),
       | okc AS (SELECT band, bsig FROM bc GROUP BY band, bsig HAVING COUNT(*) <= 64),
       | bcc AS (SELECT bc.* FROM bc JOIN okc USING (band, bsig)),
       | cand AS (SELECT DISTINCT a.jid AS id_a, b.jid AS id_b FROM bcc a JOIN bi b USING (band, bsig))""".stripMargin
  }

  /** Shared scaffold of the two cross-corpus MinHash oracles
    * (`minhash_against`, `minhash_against_stream`): corpus + injected
    * incoming docs -> shingles per side -> k=12 md5-slice minima ->
    * 2x6 band signatures -> capped corpus buckets -> candidate pairs
    * (id_a = corpus, id_b = incoming). ONE definition — the two final
    * stages (exact Jaccard vs signature agreement) diverge after
    * `cand`, and a recipe change here changes both hash checks in
    * lockstep with the Scala side.
    */
  /** The two 6-row band signatures of the k=12 minima `h0`..`h11`. */
  private val sig0 = (0 until 6).map(i => s"h$i").mkString(" || ")
  private val sig1 = (6 until 12).map(i => s"h$i").mkString(" || ")

  private val minhashAgainstCtes = minhashAgainstCtesWith(
    """SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
      |         UNION ALL SELECT doc_id + 200000, text || ' zq' FROM documents WHERE doc_id % 11 = 0""".stripMargin)
}
