package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Helpers that more than one query family reads: the table loader,
  * the exact double sum, the shared document views and the SQL mirrors
  * several oracles compose. A helper with a single family lives in that
  * family's file.
  */
private[graft] object Shared {
  val DEC = "decimal(30,2)"

  /** Exact (order-independent) sum of a 2-decimal double expression.
    * DECIMAL(30,2) keeps the scaled integer below 2^53 for any realistic
    * sum, so the final decimal->double cast is exact in both Spark and
    * DuckDB (wider scales hit DuckDB's 1-ulp int128->double rounding).
    */
  def dsum(c: Column): Column = sum(c.cast(DEC)).cast("double")

  /** One table of the sf directory `dir`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

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
  def expandedTokens(s: SparkSession, dir: String): DataFrame = {
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
  val expandedTokensSql: String =
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

  /** The dedup-query corpus: documents plus one injected duplicate of
    * every %7 doc (ids offset by 100000). ONE definition shared by every
    * dedup/clustering query — the DuckDB oracles mirror it as the `u` CTE, and a recipe change here
    * must change those CTEs in lockstep or the hash checks fail.
    */
  def injectedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text")
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    docs.unionByName(dups)
  }

  /** DuckDB mirror of [[injectedDocs]], the body of the oracles' `u` CTE. */
  val injectedDocsSql: String =
    """SELECT doc_id, text FROM documents
      |           UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** The dup-graph pair frame (id_a, id_b, jaccard): word 3-shingle
    * Jaccard >= 0.9 over `docs` at the default df cap of 128 — the
    * verified pair set 14 queries read. Every reader builds it from the
    * same plan, so the operator's persisted result is shared through the
    * cache within a session. Mirrored by [[dupPairCtes]].
    */
  def dupPairs(docs: DataFrame): DataFrame =
    graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)

  /** [[dupPairs]] over [[injectedDocs]]. */
  def dupPairs(s: SparkSession, dir: String): DataFrame = dupPairs(injectedDocs(s, dir))

  /** DuckDB word 3-shingles (the TextFunctions.wordShingles mirror): CTE
    * `name`(jid, sh) of the distinct shingles per `key` of the `ws`
    * token arrays in `src`.
    */
  def shingleCte(name: String, key: String, src: String): String =
    s"""$name AS (SELECT DISTINCT $key AS jid, unnest([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
       |${" " * (name.length + 6)}FROM $src WHERE len(ws) >= 3)""".stripMargin

  /** The `k` md5-slice min-hash columns `h0`..: MIN over the shingles
    * `sh` of 8-hex-char slice `i % 4` of md5('<i / 4>:' || sh) — the
    * TextFunctions.md5SliceMins mirror.
    */
  def md5MinColsSql(k: Int): String = (0 until k)
    .map(i => s"MIN(substr(md5('${i / 4}:' || sh), ${(i % 4) * 8 + 1}, 8)) AS h$i")
    .mkString(", ")

  /** The first 12 hex digits of the md5 hex string `hex` as a 48-bit
    * BIGINT — the engine-portable uniform (divide by 2^48) that the
    * Spark side reads as conv(substring(hex, 1, 12), 16, 10).
    */
  def hex48Sql(hex: String): String =
    s"CAST(list_sum([(instr('0123456789abcdef', substr($hex, k, 1)) - 1) * power(16, 12 - k) for k in range(1, 13)]) AS BIGINT)"

  /** The DSIR oracle CTEs `w`..`tbl` over relation `src` (lang = 'en'
    * is the target): unigram+bigram features in 256 md5 buckets, per-doc
    * bucket counts `db`, the add-one smoothed DECIMAL(20,9) log-ratio
    * table `tbl` and its totals `tot` — the Corpus.dsirDistTable mirror.
    */
  def dsirTableSql(src: String): String =
    s"""w AS (SELECT doc_id, lang = 'en' AS tgt, regexp_split_to_array(trim(text), '\\s+') AS ws FROM $src),
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
       |         FROM dist, tot)""".stripMargin

  /** DuckDB mirror of Stats.olsSimple over the `x`/`y` BIGINT columns of
    * relation `src`: the five exact moment sums as CTE `a`, then the
    * (n, slope, intercept, r2) readout SELECT.
    */
  def olsSql(src: String): String =
    s"""a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |        SUM(CAST(y AS HUGEINT) * y) AS syy FROM $src)
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
       |FROM a""".stripMargin

  /** SQL mirrors of TextFunctions (stopword lists injected so both sides
    * stay in sync by construction). `occ`/`stops` assume a column `p` =
    * ' ' || lower(text) || ' ' in scope; `qualityExprSql` assumes
    * token_cnt/punct_cnt/stop_en/chars/nonspace.
    */
  def occ(w: String) =
    s"CAST((length(p) - length(replace(p, ' $w ', ''))) / ${w.length + 2} AS INT)"
  def stops(ws: Seq[String]) = ws.map(occ).mkString("(", " + ", ")")

  val qualityComponentsSql =
    """CASE WHEN length(trim(text)) = 0 THEN 0 ELSE CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) END AS token_cnt,
      |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS INT) AS punct_cnt,
      |  CAST(length(text) AS DOUBLE) AS chars,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS nonspace""".stripMargin

  val qualityExprSql =
    """(
      |   0.25 * LEAST(CAST(token_cnt AS DOUBLE) / 100.0, 1.0) +
      |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN nonspace / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) / 8.0, 1.0) +
      |   0.25 * (1.0 - LEAST((CASE WHEN chars > 0 THEN CAST(punct_cnt AS DOUBLE) / chars ELSE 1.0 END) * 10.0, 1.0)) +
      |   0.25 * LEAST((CASE WHEN token_cnt > 0 THEN CAST(stop_en AS DOUBLE) / CAST(token_cnt AS DOUBLE) ELSE 0.0 END) * 5.0, 1.0)
      | )""".stripMargin

  /** The BM25 oracles' tokenized corpus: CTEs `bl`, `dls`(doc_id, dl,
    * ws), the (n, avgdl) row `st` and the exploded `toks`(doc_id, dl,
    * tok) — the persisted corpus of Retrieval's scorer.
    */
  val bm25CorpusCtes: String =
    """bl AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      | dls AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, ws FROM bl),
      | st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dls),
      | toks AS (SELECT doc_id, dl, unnest(ws) AS tok FROM dls)""".stripMargin

  /** The BM25 tf/df/score chain over [[bm25CorpusCtes]] for the tokens
    * matching `pred`, its CTEs prefixed `p` (`ptf`, `pdft`, `psc`, `pagg`
    * (doc_id, bm25)). `perQuery` fans each term out to the queries of a
    * `qm`(query_id, tok) CTE that contain it, and `pagg` is keyed
    * (query_id, doc_id). Constants appear as the same arithmetic the
    * Spark side evaluates; DuckDB's `/` returns DOUBLE and its
    * decimal->double literal conversions land on the identical bits
    * (probed: `CAST(1.2 AS DOUBLE)+1 = 2.2` is true), so the quantized
    * scores replay exactly.
    */
  def bm25ScoreCtes(p: String, pred: String, perQuery: Boolean = false): String = {
    val (q, fanOut, keys) =
      if (perQuery) ("query_id, ", " JOIN qm USING (tok)", "1, 2") else ("", "", "1")
    s"""${p}tf AS (SELECT doc_id, dl, tok, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM toks WHERE $pred GROUP BY 1, 2, 3),
       | ${p}dft AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ${p}tf GROUP BY 1),
       | ${p}sc AS (SELECT ${q}doc_id, LN(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1)
       |          / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)) AS c
       |        FROM ${p}tf JOIN ${p}dft USING (tok)$fanOut, st),
       | ${p}agg AS (SELECT ${q}doc_id, ROUND(SUM(c), 6) AS bm25 FROM ${p}sc GROUP BY $keys)""".stripMargin
  }

  /** The `bm25_topk` / `hybrid_rrf_topk` scoring CTEs: the literal
    * query bag, final scores in `agg`(doc_id, bm25).
    */
  val bm25Ctes: String =
    s"""$bm25CorpusCtes,
       | ${bm25ScoreCtes("", "tok IN ('spark', 'window', 'hash', 'merge')")}""".stripMargin

  /** The ngram-Jaccard pair pipeline CTEs (documents + %7 dup injection
    * -> word 3-shingles -> df<=128-capped candidate self-join -> exact
    * Jaccard in `j`) — shared by `ngram_jaccard_pairs` and the
    * `dedup_clusters` connected-components oracle built on its edges.
    */
  val ngramPairCtes =
    s"""u AS ($injectedDocsSql),
      | w AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM u),
      | ${shingleCte("sh", "doc_id", "w")},
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

  /** [[ngramPairCtes]] plus the dup-graph edge list `p`(id_a, id_b) at
    * J >= 0.9 — the oracle side of [[dupPairs]].
    */
  val dupPairCtes: String =
    s"""$ngramPairCtes,
       | p AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.9)""".stripMargin

  /** The PageRank sweep chain (nodes..r$iterations) over an already-
    * defined `e(src, dst)` CTE — shared by the supplier-graph query and
    * the TextRank word-graph query.
    */
  def pageRankChain(iterations: Int, damping: Double, quantize: Int): String = {
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
}
