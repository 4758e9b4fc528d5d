package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup, Graph, Relational}

import Shared._

/** The shingle family: n-gram Jaccard pairs, the duplicate graphs built
  * on them, exact/normalized dedup, containment, winnowing and line dedup.
  * They share the shingle frames of the injected dedup corpus.
  */
object ShingleQueries {
  val family: Family = Family(
    // EXT n-gram Jaccard near-dup pairs (shingle self-join, no cross
    // product). maxShingleDf=128 is the ACTIVE skew guard: a boilerplate
    // shingle shared by m docs costs m^2/2 join rows, so candidates come
    // only from shingles in <=128 docs (sf0.1 max df is 31 — no recall
    // change here; on a crawl it bounds the bucket blowup). Surviving
    // pairs are re-verified on FULL shingle sets, and the oracle mirrors
    // the same df cap before its self-join.
    Query("ngram_jaccard_pairs")((s, dir) => {
      dupPairs(s, dir)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }) {
      s"""WITH $ngramPairCtes
         |SELECT id_a, id_b, jaccard FROM j
         |WHERE jaccard >= 0.9 ORDER BY id_a, id_b""".stripMargin
    },
    // EXT ROUGE-2 overlap triage (Dedup.rougeOverlap) of the ngram
    // near-dup candidates: multiset bigram overlap grades what set
    // Jaccard flattens — repeated grams count. Gram counts are one
    // aggregate; the pair join is candidate-bounded
    Query("rouge_overlap_pairs")((s, dir) => {
      val docs = injectedDocs(s, dir)
      Dedup.rougeOverlap(dupPairs(docs), docs, "doc_id", "text", 2)
        .orderBy("id_a", "id_b")
    }) {
      // ROUGE mirror: the ngram pair CTEs for candidates, raw (non-
      // distinct) bigram counts, LEAST-overlap sum, same p/r/f floats
      s"""WITH $dupPairCtes,
         | w2 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
         | g2 AS (SELECT doc_id AS gid, unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS g
         |        FROM w2 WHERE len(ws) >= 2),
         | gc AS (SELECT gid, g, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY 1, 2),
         | nt AS (SELECT gid, CAST(SUM(c) AS BIGINT) AS nn FROM gc GROUP BY 1),
         | ov AS (SELECT p.id_a, p.id_b, CAST(SUM(LEAST(x.c, y.c)) AS BIGINT) AS overlap
         |        FROM p JOIN gc x ON x.gid = p.id_a JOIN gc y ON y.gid = p.id_b AND y.g = x.g
         |        GROUP BY 1, 2),
         | f AS (SELECT id_a, id_b, overlap, na.nn AS n_a, nb.nn AS n_b,
         |        CAST(overlap AS DOUBLE) / CAST(nb.nn AS DOUBLE) AS p0,
         |        CAST(overlap AS DOUBLE) / CAST(na.nn AS DOUBLE) AS r0
         |       FROM ov JOIN nt na ON na.gid = id_a JOIN nt nb ON nb.gid = id_b)
         |SELECT id_a, id_b, n_a, n_b, overlap,
         |  ROUND(p0, 6) AS rouge2_p, ROUND(r0, 6) AS rouge2_r,
         |  CASE WHEN p0 + r0 > 0e0 THEN ROUND(2e0 * p0 * r0 / (p0 + r0), 6) END AS rouge2_f
         |FROM f ORDER BY id_a, id_b""".stripMargin
    },
    // EXT triangle counts over the near-dup graph (Graph.triangleCounts
    // on the same PPJoin pair set dedup_clusters consumes): triangles
    // are transitivity evidence — docs in many triangles sit in tight
    // duplicate cliques, not chains of borderline matches
    Query("dup_triangles")((s, dir) => {
      Graph.triangleCounts(dupPairs(s, dir), "id_a", "id_b")
        .orderBy("node")
    }) {
      // triangle mirror: same pair CTEs, ordered wedge join a<b<c
      s"""WITH $cappedEdgeCtes,
         | tri AS (SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
         |         FROM e ab JOIN e bc ON bc.lo = ab.hi
         |         JOIN e ac ON ac.lo = ab.lo AND ac.hi = bc.hi)
         |SELECT t.n AS node, CAST(COUNT(*) AS BIGINT) AS n_triangles
         |FROM (SELECT unnest([a, b, c]) AS n FROM tri) t GROUP BY 1 ORDER BY node""".stripMargin
    },
    // EXT local clustering coefficient (Graph.clusteringCoefficient,
    // Watts-Strogatz '98) over the near-dup pair graph: lcc=1 marks a
    // doc inside a duplicate CLIQUE, lcc~0 a chain of borderline
    // matches — the per-node transitivity readout next to
    // dup_triangles' raw counts; T and d from the SAME capped edge set
    Query("dup_clustering_coef")((s, dir) => {
      Graph.clusteringCoefficient(dupPairs(s, dir), "id_a", "id_b")
        .orderBy("node")
    }) {
      // lcc mirror: the dup_triangles wedge CTEs + the capped degree
      // roll-up over the SAME edge set
      s"""WITH $cappedEdgeCtes,
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
         |FROM deg LEFT JOIN tc USING (node) ORDER BY node""".stripMargin
    },
    // EXT fixed-sweep k-core peeling (Graph.kCore, Seidman '83) over
    // the near-dup pair graph: the 2-core keeps docs whose duplication
    // is corroborated by >= 2 neighbors after 4 peel rounds — isolated
    // pairs and chain ends (single borderline matches) fall away;
    // oracle = the 4 sweeps unrolled as chained CTEs
    Query("kcore_dup_graph")((s, dir) => {
      Graph.kCore(dupPairs(s, dir), "id_a", "id_b", k = 2, sweeps = 4)
        .orderBy("node")
    }) {
      // k-core mirror: the dup pair CTEs + 4 peel sweeps unrolled
      val peels = (1 to 4).map { i =>
        s""" d$i AS (SELECT n FROM (SELECT unnest([lo, hi]) AS n FROM e${i - 1}) t
           |        GROUP BY n HAVING COUNT(*) >= 2),
           | e$i AS (SELECT lo, hi FROM e${i - 1}
           |        JOIN d$i a ON a.n = e${i - 1}.lo JOIN d$i b ON b.n = e${i - 1}.hi)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dupPairCtes,
         | ${canonEdgesCte("e0")},
         |$peels
         |SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM (SELECT unnest([lo, hi]) AS n FROM e4) t
         |GROUP BY 1 ORDER BY node""".stripMargin
    },
    // EXT multi-source BFS distance labeling (Graph.bfsHops) over the
    // near-dup pair graph: exact hop distance from the %50 seed docs
    // within 3 sweeps — the contamination blast-radius readout; oracle
    // = the sweeps unrolled as min-relaxation CTEs
    Query("bfs_hops_dup_graph")((s, dir) => {
      Graph.bfsHops(dupPairs(s, dir), "id_a", "id_b", col("node") % 50 === 0,
          sweeps = 3)
        .orderBy("node")
    }) {
      // BFS mirror: the dup pair CTEs + 3 min-relaxation sweeps unrolled
      val sweeps = (1 to 3).map { i =>
        s""" d$i AS (SELECT node, MIN(dist) AS dist FROM (
           |        SELECT node, dist FROM d${i - 1}
           |        UNION ALL SELECT e.dst AS node, CAST($i AS BIGINT) AS dist
           |        FROM d${i - 1} f JOIN e ON e.src = f.node WHERE f.dist = ${i - 1}
           |       ) GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dupPairCtes,
         | ${canonEdgesCte("e0")},
         | e AS (SELECT lo AS src, hi AS dst FROM e0 UNION ALL SELECT hi, lo FROM e0),
         | n0 AS (SELECT DISTINCT src AS node FROM e),
         | d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM n0 WHERE node % 50 = 0),
         |$sweeps
         |SELECT node, dist FROM d3 ORDER BY node""".stripMargin
    },
    // EXT weighted blast radius (Graph.bellmanFordHops): Bellman-Ford
    // over the near-dup graph with dissimilarity weights 1 − jaccard —
    // bfs_hops' metric sibling (a 0.99 edge and a 0.70 edge stop being
    // interchangeable); 3 relaxation sweeps, oracle = unrolled min CTEs
    Query("bellman_ford_dup")((s, dir) => {
      Graph.bellmanFordHops(dupPairs(s, dir), "id_a", "id_b",
          lit(1.0) - col("jaccard"), col("node") % 50 === 0, sweeps = 3)
        .orderBy("node")
    }) {
      // Bellman-Ford mirror: the dup pair CTEs with 1 − jaccard weights,
      // canonical min-weight undirected edges, 3 relaxation sweeps
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
    // EXT SPAN-level dedup (Dedup.dupSpans): 30-char windows at stride
    // 10 whose md5 recurs in >=2 docs, merged per doc into maximal
    // spans. Catches shared boilerplate invisible to whole-doc MinHash;
    // one digest groupBy + one digest equi-join + one per-doc window —
    // the df cap (1024) guards the join against mega-boilerplate.
    Query("dup_spans")((s, dir) => {
      Dedup.dupSpans(injectedDocs(s, dir), "doc_id", "text",
          width = 30, stride = 10, minDf = 2, maxDf = 1024)
        .orderBy("doc_id", "span_start")
    }) {
      // span dedup mirror: same md5 window digests, same df band, same
      // gaps-and-islands fusion (NULL lag -> new island in BOTH engines)
      s"""WITH docs AS ($injectedDocsSql),
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
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin
    },
    // EXT exact dedup over a corpus with injected duplicates
    Query("dedup_exact_docs")((s, dir) => {
      Dedup.exactGroups(injectedDocs(s, dir), "text", "doc_id")
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    }) {
      s"""WITH u AS ($injectedDocsSql)
        |SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY text ORDER BY keep_id""".stripMargin
    },
    // EXT dedup ROI report: cluster-size histogram over the exact-dup
    // groups with the chars a keep-one policy saves — the "was the
    // dedup pass worth it" readout every pipeline run logs
    Query("dedup_savings")((s, dir) => {
      val g = injectedDocs(s, dir).groupBy(col("text"))
        .agg(count(lit(1)).as("_s"))
        .select(col("_s"), length(col("text")).cast("long").as("_len"))
      g.groupBy(col("_s").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("_s") - 1L).as("n_dup_docs"),
          sum((col("_s") - 1L) * col("_len")).as("chars_saved"))
        .orderBy("cluster_size")
    }) {
      // dedup-savings mirror: the u dup-group CTE + size histogram
      s"""WITH u AS ($injectedDocsSql),
        | g AS (SELECT CAST(COUNT(*) AS BIGINT) AS s,
        |        CAST(length(text) AS BIGINT) AS len FROM u GROUP BY text)
        |SELECT s AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(SUM(s - 1) AS BIGINT) AS n_dup_docs,
        |  CAST(SUM((s - 1) * len) AS BIGINT) AS chars_saved
        |FROM g GROUP BY 1 ORDER BY cluster_size""".stripMargin
    },
    // #9 drop_duplicates_by_index keep=first (utils.py:352-372)
    Query("dedup_first")((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq("l_linenumber", "l_partkey", "l_suppkey"), Relational.Keep.First)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    }) {
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin
    },
    // #9 keep=last (utils.py:352-372)
    Query("dedup_last")((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "lineitem"), Seq("l_orderkey"),
          Seq("l_linenumber", "l_partkey", "l_suppkey"), Relational.Keep.Last)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey")
    }) {
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
        |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin
    },
    // #9 keep=none
    Query("dedup_none")((s, dir) => {
      Relational
        .dropDuplicatesByKey(t(s, dir, "orders"), Seq("o_custkey"),
          Seq("o_orderkey"), Relational.Keep.None)
        .select("o_custkey", "o_orderkey")
        .orderBy("o_custkey")
    }) {
      """SELECT o_custkey, o_orderkey FROM (
        |  SELECT o_custkey, o_orderkey, COUNT(*) OVER (PARTITION BY o_custkey) AS n
        |  FROM orders) WHERE n = 1 ORDER BY o_custkey""".stripMargin
    },
    // EXT per-source dedup-rate report: docs vs distinct texts per source
    Query("dup_rate_by_source")((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("text")).as("n_unique"),
          (lit(1.0) - count_distinct(col("text")).cast("double") / count(lit(1)))
            .as("dup_rate"))
        .orderBy("source")
    }) {
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        | CAST(COUNT(DISTINCT text) AS BIGINT) AS n_unique,
        | 1.0 - CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin
    },
    // EXT train/test decontamination shape: source pairs sharing any exact
    // normalized document prefix (8 words) — candidate-overlap counting.
    // Two skew guards, both mirrored in the oracle: (a) docs under 8
    // tokens are dropped (their short prefixes degenerate into one hot
    // key — empty/near-empty texts would all collide); (b) a prefix held
    // by >64 distinct (source, prefix) rows is dropped before the
    // self-join (a boilerplate header shared by m sources is m^2/2 join
    // rows). sf0.1: min 10 tokens/doc, max prefix df 4 — no result change.
    Query("contamination_sources")((s, dir) => {
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
    }) {
      """WITH pref AS (SELECT DISTINCT source,
        |   array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:8], ' ') AS prefix
        |   FROM documents
        |   WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8),
        | cool AS (SELECT prefix FROM pref GROUP BY prefix HAVING COUNT(*) <= 64),
        | pc AS (SELECT pref.* FROM pref JOIN cool USING (prefix))
        |SELECT a.source AS source_a, b.source AS source_b, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM pc a JOIN pc b ON a.prefix = b.prefix AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin
    },
    // EXT end-to-end corpus cleaning: quality-score -> exact dedup (keep
    // lowest id) -> top 100 by quality — the composed pipeline shape a
    // training-data run uses, fully oracle-checkable
    Query("pipeline_clean_corpus")((s, dir) => {
      val deduped = Dedup.exactDedup(injectedDocs(s, dir), "text", "doc_id")
      val scored = deduped.withColumn("quality", TextFunctions.qualityScore(col("text")))
      Relational.topK(scored, 100, col("quality").desc, col("doc_id").asc)
        .select("doc_id", "quality")
    }) {
      s"""WITH u AS ($injectedDocsSql),
         | d AS (SELECT doc_id, text FROM (
         |         SELECT doc_id, text, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM u)
         |       WHERE rn = 1),
         | base AS (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM d),
         | c AS (SELECT doc_id, $qualityComponentsSql,
         |  ${stops(TextFunctions.EnStops)} AS stop_en
         | FROM base)
         |SELECT doc_id, $qualityExprSql AS quality
         |FROM c ORDER BY quality DESC, doc_id LIMIT 100""".stripMargin
    },
    // EXT per-language length quartiles (exact interpolated percentiles)
    Query("doc_length_quartiles")((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          percentile(col("n_chars"), lit(0.25)).as("q1"),
          percentile(col("n_chars"), lit(0.5)).as("median"),
          percentile(col("n_chars"), lit(0.75)).as("q3"))
        .orderBy("lang")
    }) {
      """SELECT lang,
        | quantile_cont(n_chars, 0.25) AS q1,
        | quantile_cont(n_chars, 0.5) AS median,
        | quantile_cont(n_chars, 0.75) AS q3
        |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin
    },
    // EXT directed containment dedup (Dedup.containmentPairs): TRUNCATED
    // copies injected (first 300 chars of every 11th doc) — an excerpt
    // has containment ~1 toward its source while its whole-set Jaccard
    // is only |A|/|B| (~0.4 here), the case symmetric dedup misses.
    // Asymmetric prefix-filter candidates, exact containment verify on
    // 8-byte hashed-shingle arrays.
    Query("containment_pairs")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val trunc = docs.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          substring(col("text"), 1, 300).as("text"))
      Dedup.containmentPairs(docs.unionByName(trunc), "doc_id", "text",
          shingleK = 3, threshold = 0.9)
        .orderBy("src_id", "dst_id")
    }) {
      // containment mirror: the jaccard CTE scaffold with truncated-copy
      // injection, the ASYMMETRIC prefix (probe prefixes vs full df-capped
      // targets), and |A∩B|/|A| in place of the union denominator
      s"""WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 200000, substr(text, 1, 300) FROM documents WHERE doc_id % 11 = 0),
        | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
        | ${shingleCte("sh", "doc_id", "w")},
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
        |WHERE containment >= 0.9 ORDER BY src_id, dst_id""".stripMargin
    },
    // EXT robust winnowing (Schleimer'03 / MOSS): per-doc fingerprint
    // density — k=8 grams, window w=4, rightmost-min selection. Rolled
    // up per doc (selection itself is position-exact; the overlap
    // consumer is the next query).
    Query("winnow_fingerprints")((s, dir) => {
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
          k = 8, w = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fp"), countDistinct(col("fp")).as("n_uniq"))
        .orderBy("doc_id")
    }) {
      // winnowing mirror: same md5 gram digests, same enc = hash ++
      // (10^9 - pos) rightmost-min encoding, same full-window filter
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
        |FROM f GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    // EXT winnowing partial-overlap pairs: any pair sharing a substring
    // of length >= w+k-1 = 11 chars is guaranteed a shared fingerprint
    // — position-robust, unlike dup_spans' stride grid. df cap 64 is
    // the standard hot-boilerplate guard.
    Query("winnow_overlap_pairs")((s, dir) => {
      Dedup.winnowOverlapPairs(injectedDocs(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 16, maxDf = 64)
        .orderBy("id_a", "id_b")
    }) {
      s"""WITH docs AS ($injectedDocsSql),
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
        |GROUP BY 1, 2 HAVING COUNT(*) >= 16 ORDER BY id_a, id_b""".stripMargin
    },
    // EXT n-gram novelty (Corpus.ngramNovelty): fraction of each doc's
    // distinct word trigrams occurring in NO other document — the
    // inverse of boilerplate saturation; map-side per-doc dedup, 8-byte
    // hashed grams, one df groupBy + one join back on the same key
    Query("novelty_docs")((s, dir) => {
      Corpus.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }) {
      // novelty mirror: df over the gram STRINGS (the Spark side's
      // xxhash64 is an 8-byte shuffle-key optimization; a collision would
      // surface as a hash mismatch here)
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | sh AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS g
        |        FROM w WHERE len(ws) >= 3),
        | d AS (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM sh)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS novel_frac
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // EXT doc-level eval-set decontamination (Corpus.decontaminate):
    // %13 docs are the "benchmark"; the rest are the corpus. A bloom
    // filter over the eval 8-grams prefilters the corpus MAP-SIDE
    // (exists short-circuit, no explode/shuffle/join for clean docs);
    // only flagged docs reach the exact join, which removes the false
    // positives — so the declared result is exactly the semi-join and
    // the oracle replays it with a plain join, bloom invisible.
    Query("decontaminate_docs")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      Corpus.decontaminate(
          docs.filter(col("doc_id") % 13 =!= 0), "doc_id", "text",
          docs.filter(col("doc_id") % 13 === 0), "text", 8)
        .orderBy("doc_id")
    }) {
      // exact replay of decontaminate's semi-join semantics — the bloom
      // prefilter only ever REMOVES work, never results, so the oracle is
      // a plain distinct-ngram join
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        | ng AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+7], ' ') for i in range(1, len(ws) - 6)]) AS ng
        |        FROM w WHERE len(ws) >= 8),
        | evng AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 13 = 0),
        | c AS (SELECT doc_id, ng FROM ng WHERE doc_id % 13 <> 0)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |FROM c JOIN evng USING (ng) GROUP BY 1 ORDER BY doc_id""".stripMargin
    },
    // EXT corpus snapshot diff (Corpus.snapshotDiff): CDC classification
    // of a deterministic v2 recipe (drop %13=5, edit %7=3, add %17=2)
    // against the base corpus — md5 fingerprints ride the full-outer
    // join, not document bodies
    Query("corpus_diff")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val v2 = docs.filter(col("doc_id") % 13 =!= 5)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 2)
          .select((col("doc_id") + 200000).as("doc_id"), col("text")))
      Corpus.snapshotDiff(docs, v2, "doc_id", "text").orderBy("doc_id")
    }) {
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
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin
    },
    // EXT contrastive triplet generation (Corpus.contrastiveTriplets):
    // exact-dup groups become (anchor, positive) pairs; negatives are
    // md5-drawn from a broadcast 64-doc pool, re-ranked per anchor —
    // the reproducible training-set step after dedup
    Query("contrastive_triplets")((s, dir) => {
      val pairs = injectedDocs(s, dir).groupBy(col("text"))
        .agg(min(col("doc_id")).as("anchor_id"),
          max(col("doc_id")).as("positive_id"), count(lit(1)).as("_n"))
        .filter(col("_n") >= 2)
        .select("anchor_id", "positive_id")
      Corpus.contrastiveTriplets(pairs, "anchor_id", "positive_id",
          t(s, dir, "documents"), "doc_id", poolSize = 64, negK = 2)
        .orderBy("anchor_id", "neg_rank")
    }) {
      // triplet mirror: the u dup-group CTE, md5-ranked pool, per-anchor
      // md5(anchor:cand) re-rank
      s"""WITH u AS ($injectedDocsSql),
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
        |FROM j WHERE rn <= 2 ORDER BY anchor_id, neg_rank""".stripMargin
    },
    // EXT normalized exact dedup (TextFunctions.normalize): exact
    // grouping on md5(lowercase + collapsed whitespace) — catches the
    // case/whitespace variants raw exact dedup misses (injected here as
    // %9=1 docs re-cased and re-padded); the shuffle carries 32-byte
    // digests, not text
    Query("dedup_exact_normalized")((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val variants = docs.filter(col("doc_id") % 9 === 1)
        .select((col("doc_id") + 300000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
      docs.unionByName(variants)
        .groupBy(md5(TextFunctions.normalize(col("text"))).as("_k"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")
    }) {
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL SELECT doc_id + 300000, '  ' || upper(text) || ' '
        |           FROM documents WHERE doc_id % 9 = 1)
        |SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM u GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |ORDER BY doc_id""".stripMargin
    },
    // EXT edit-distance record linkage (Dedup.fuzzyMatchPairs —
    // SymSpell deletion-neighborhood blocking, recall-guaranteed at
    // distance 1): part entities (name+brand+type+size, ~unique) plus
    // injected single-char-deletion typos; candidates from a banded
    // md5-signature equi-join (16-byte shuffle), exact levenshtein
    // verify, standard bucket skew cap
    Query("fuzzy_part_match")((s, dir) => {
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
    }) {
      // fuzzy-linkage mirror: same composite entity, same deletion
      // neighborhood (self + every single-char deletion), same md5 band
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
        |FROM cand WHERE levenshtein(sa, sb) <= 1 ORDER BY id_a, id_b""".stripMargin
    },
    // EXT ingest-time fuzzy linkage (StreamOps.fuzzyMatchAgainstStream
    // against Dedup.fuzzyIndex): the streaming half of
    // fuzzy_part_match — incoming typo'd entities probe the build-once
    // corpus signature index; batch-symmetric here, multi-signature
    // hits collapsed by distinct as the contract documents
    Query("fuzzy_match_stream")((s, dir) => {
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
    }) {
      // streaming fuzzy-linkage mirror: asymmetric — corpus-side index
      // with cap at build, probe side = the typo recipe
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
        |ORDER BY corpus_id, doc_id""".stripMargin
    },
    // EXT ingest-time CDC (StreamOps.cdcClassifyStream, batch-symmetric
    // here like the other *_stream queries): v2 docs classified
    // added/changed against the 40-byte/doc base fingerprint index —
    // `removed` is a batch-only verdict (a stream cannot observe
    // absence), so this is corpus_diff minus removals
    Query("cdc_classify_stream")((s, dir) => {
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
    }) {
      """WITH o AS (SELECT doc_id, text FROM documents),
        | n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN text || ' v2' ELSE text END AS text
        |       FROM documents WHERE doc_id % 13 <> 5
        |       UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 17 = 2)
        |SELECT n.doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN md5(o.text) <> md5(n.text) THEN 'changed' END AS status
        |FROM n LEFT JOIN o ON o.doc_id = n.doc_id
        |WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)
        |ORDER BY n.doc_id""".stripMargin
    },
    // EXT modularity readout (Graph.modularity): how good are the LPA
    // communities — Q in the rearranged ALL-INTEGER form
    // (4m·intra − Σd_c²)/(4m²), one division, no per-community float
    // sum; pairs persisted so LPA and the readout share one lineage
    Query("lpa_modularity")((s, dir) => {
      val pairs = dupPairs(s, dir).persist()
      Graph.modularity(pairs, "id_a", "id_b",
        Graph.labelPropagation(pairs, "id_a", "id_b", iterations = 2),
        "node", "community")
    }) {
      // modularity mirror: the rearranged all-integer form
      // (4m·intra − Σd_c²)/(4m²) over the same sweeps' final labels
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
         |FROM m1, s2""".stripMargin
    },
    // EXT degree assortativity (Graph.degreeAssortativity, Newman '02):
    // do near-dup hubs attach to hubs — endpoint-degree Pearson over
    // both orientations, exact BIGINT moments, the OLS discipline
    Query("graph_assortativity")((s, dir) => {
      Graph.degreeAssortativity(dupPairs(s, dir), "id_a", "id_b")
    }) {
      // assortativity mirror: endpoint-degree Pearson over both edge
      // orientations, exact integer moments
      s"""WITH $dupPairCtes,
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
         |FROM a""".stripMargin
    },
    // EXT label-propagation communities (Graph.labelPropagation) over
    // the same near-dup pair graph — majority-vote community detection
    // with the self-vote that makes fixed-sweep synchronous LPA
    // deterministic (bare neighbor votes oscillate on isolated pairs);
    // 2 sweeps, replayed sweep-for-sweep by chained oracle CTEs
    Query("lpa_communities")((s, dir) => {
      Graph.labelPropagation(dupPairs(s, dir), "id_a", "id_b", iterations = 2)
        .orderBy("node")
    }) {
      // LPA mirror: the same 2 sweeps unrolled — undirected+self edges,
      // per-sweep (node,label) counts and the (count desc, label) argmax
      s"""WITH $lpaSweepCtes
         |SELECT id AS node, lbl AS community FROM l2 ORDER BY node""".stripMargin
    },
    // EXT corpus-level duplicate-line removal (Corpus.dedupLines —
    // CCNet/RefinedWeb paragraph dedup): the flat test corpus has no
    // newlines, so multi-line "pages" are synthesized by concatenating
    // each (source, doc_id%50) group's texts in doc_id order — corpus
    // duplicate texts then become cross-page boilerplate LINES, which
    // is exactly the shape the operator removes (df>=2 over trimmed
    // line digests; blank lines immune; per-page reassembly in order)
    Query("line_dedup")((s, dir) => {
      Corpus.dedupLines(pages(s, dir), "gid", "text", minDf = 2)
        .orderBy("gid")
    }) {
      // line-dedup mirror: same synthesized pages (group-concat in doc_id
      // order), same trimmed-line md5 df band, same ordered reassembly;
      // all-lines-dropped pages coalesce to '' in both engines
      s"""WITH $pageLinesCtes,
        | lh AS (SELECT gid, pos, line, md5(trim(line)) AS h FROM l),
        | hot AS (SELECT h FROM lh WHERE length(trim(line)) > 0
        |         GROUP BY h HAVING COUNT(DISTINCT gid) >= 2),
        | fl AS (SELECT lh.gid, lh.pos, lh.line, hot.h IS NOT NULL AS is_hot
        |        FROM lh LEFT JOIN hot ON lh.h = hot.h)
        |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN NOT is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN NOT is_hot THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |FROM fl GROUP BY gid ORDER BY gid""".stripMargin
    },
    // EXT ingest-time boilerplate-line verdicts (StreamOps.lineIndex +
    // lineVerdictsStream): the streaming half of line_dedup — per-line
    // keep/drop against the build-once corpus line index via a
    // stateless stream-static join (append-legal: reassembly is the
    // sink's batch fold, spec-asserted equal to Corpus.dedupLines).
    // Batch-symmetric here, like the other declared streaming queries.
    Query("line_dedup_stream")((s, dir) => {
      val pg = pages(s, dir)
      val idx = graft.streaming.StreamOps.lineIndex(pg, "gid", "text", minDf = 2)
      graft.streaming.StreamOps.lineVerdictsStream(idx, pg, "gid", "text")
        .orderBy("gid", "pos")
    }) {
      // line-verdict mirror: the line_dedup CTE chain minus reassembly
      s"""WITH $pageLinesCtes,
        | lh AS (SELECT gid, pos, line, md5(trim(line)) AS h FROM l),
        | hot AS (SELECT h FROM lh WHERE length(trim(line)) > 0
        |         GROUP BY h HAVING COUNT(DISTINCT gid) >= 2)
        |SELECT lh.gid, lh.pos, lh.line, hot.h IS NULL AS keep
        |FROM lh LEFT JOIN hot ON lh.h = hot.h
        |ORDER BY gid, pos""".stripMargin
    },
    // EXT intra-doc repeated-line collapse (Corpus.collapseRepeatedLines):
    // the within-page half of boilerplate removal — ZERO-shuffle
    // row-local array pipeline (duplicate corpus texts concatenated into
    // the same synthesized page become intra-page repeats here)
    Query("line_collapse")((s, dir) => {
      Corpus.collapseRepeatedLines(pages(s, dir), "gid", "text")
        .orderBy("gid")
    }) {
      // intra-doc collapse mirror: first-occurrence = window rank 1 over
      // (page, trimmed line) == the array first-index-equality test
      s"""WITH $pageLinesCtes,
        | f AS (SELECT gid, pos, line,
        |        length(trim(line)) = 0 OR
        |          ROW_NUMBER() OVER (PARTITION BY gid, trim(line) ORDER BY pos) = 1 AS keep
        |       FROM l)
        |SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |FROM f GROUP BY gid ORDER BY gid""".stripMargin
    },
    // EXT cross-source similarity matrix (Dedup.groupSimilarityMatrix):
    // one k=16 md5-minima signature per SOURCE, pairwise agreement =
    // MinHash Jaccard estimate of shingle overlap — corpus-size-free
    // pair stage (|sources|^2/2 over broadcast signatures)
    Query("source_similarity")((s, dir) =>
      Dedup.groupSimilarityMatrix(t(s, dir, "documents"), "source", "text",
          k = 16)
        .orderBy("group_a", "group_b")) {
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH w AS (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
         | ${shingleCte("shr", "source", "w")},
         | mh AS (SELECT jid, ${md5MinColsSql(16)} FROM shr GROUP BY jid),
         | p AS (SELECT a.jid AS group_a, b.jid AS group_b, $agree AS agree
         |       FROM mh a JOIN mh b ON a.jid < b.jid)
         |SELECT group_a, group_b, CAST(agree AS DOUBLE) / 16.0 AS est_jaccard
         |FROM p ORDER BY group_a, group_b""".stripMargin
    },
  )

  /** The synthesized multi-line pages of the line-dedup queries: each
    * (source, doc_id % 50) group's texts joined by newlines in doc_id
    * order, keyed `gid`. Mirrored by [[pageLinesCtes]].
    */
  private def pages(s: org.apache.spark.sql.SparkSession, dir: String) =
    t(s, dir, "documents")
      .groupBy(concat(col("source"), lit("-"),
        (col("doc_id") % 50).cast("string")).as("gid"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("doc_id"), col("text")))),
        x => x.getField("text")), "\n").as("text"))

  /** DuckDB mirror of [[pages]] (`gd`) and its lines `l`(gid, pos, line),
    * pos 0-based.
    */
  private val pageLinesCtes =
    """gd AS (
      |  SELECT source || '-' || CAST(doc_id % 50 AS VARCHAR) AS gid,
      |         string_agg(text, chr(10) ORDER BY doc_id) AS text
      |  FROM documents GROUP BY 1),
      | l AS (
      |  SELECT gid, CAST(t.p AS INT) - 1 AS pos,
      |         string_split(text, chr(10))[CAST(t.p AS INT)] AS line
      |  FROM gd, LATERAL (SELECT unnest(range(1, len(string_split(text, chr(10))) + 1)) AS p) t)""".stripMargin

  /** Canonical undirected dup-graph edges `name`(lo, hi) over the pairs
    * `p` of [[dupPairCtes]], self-pairs dropped.
    */
  private def canonEdgesCte(name: String) =
    s"""$name AS (SELECT DISTINCT least(id_a, id_b) AS lo, greatest(id_a, id_b) AS hi
       |${" " * (name.length + 6)}FROM p WHERE id_a <> id_b)""".stripMargin

  /** [[dupPairCtes]] + canonical edges `canon` + the degree-capped edge
    * set `e`(lo, hi): both endpoints of degree <= 4096 (Graph's wedge
    * skew guard).
    */
  private val cappedEdgeCtes =
    s"""$dupPairCtes,
       | ${canonEdgesCte("canon")},
       | degn AS (SELECT n FROM (SELECT unnest([lo, hi]) AS n FROM canon) t
       |          GROUP BY n HAVING COUNT(*) <= 4096),
       | e AS (SELECT lo, hi FROM canon
       |       JOIN degn dl ON dl.n = canon.lo JOIN degn dh ON dh.n = canon.hi)""".stripMargin

  /** The LPA oracle scaffold: [[ngramPairCtes]] + thresholded pairs +
    * undirected-with-self edges + the two label-propagation sweeps
    * unrolled (final labels in table `l2(id, lbl)`, pairs in `p`).
    * Shared by `lpa_communities` and `lpa_modularity`.
    */
  private def lpaSweepCtes: String =
    s"""$dupPairCtes,
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
}
