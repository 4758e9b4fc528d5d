package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Deduplication operators for the training-data pipeline (EXT per SURVEY
  * north star): exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy on the content key;
  *  - MinHash LSH: k mins per doc from one map-side kernel pass over
  *    its shingles, band the signatures, and self-join on
  *    (band, band-hash) — candidate pairs only, never the O(n^2) cross
  *    product;
  *  - SimHash: one custom Aggregator pass per doc, then bucket by
  *    hamming-prefix;
  *  - verification joins (exact Jaccard) run only over candidate pairs.
  */
object Dedup {

  /** Exact dedup groups: one representative (min id) + multiplicity per
    * distinct content value. Exact — groups by the content itself (the
    * shuffle carries the documents; that is the price of exactness).
    */
  def exactGroups(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        first(xxhash64(col(contentCol))).as("content_hash"))
      .select("keep_id", "n_copies", "content_hash")

  /** Edit-distance RECORD LINKAGE for short strings (names, titles,
    * SKUs — the entity-resolution step whole-document shingling is too
    * coarse for): all pairs within Levenshtein distance `maxDist` (= 1,
    * the SymSpell guarantee) via DELETION-NEIGHBORHOOD blocking: each
    * string's signature set is itself plus every single-character
    * deletion, and any two strings within distance 1 provably share a
    * signature (substitution at i -> both delete i; insert/delete ->
    * the shorter string IS a deletion of the longer). Candidates come
    * from an equi-join on the 8-byte signature hash
    * ([[TextFunctions.deletionSigHashes]], never the strings), verified
    * by exact `levenshtein`. Output:
    * (id_a, id_b, dist) with id_a < id_b.
    *
    * Scale shape (100 TB): signatures per row = len+1 (short strings by
    * contract — names, not documents); the self-join is banded exactly
    * like the MinHash family, with the same window-count `maxBucket`
    * skew cap on hot signatures (e.g. a catalog where thousands share a
    * name — capped buckets contribute no pairs, loudly traded).
    */
  def fuzzyMatchPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 1, maxBucket: Int = 1024): DataFrame = {
    require(maxDist == 1, "fuzzyMatchPairs: deletion-neighborhood blocking guarantees maxDist=1 only")
    require(maxBucket >= 2, s"fuzzyMatchPairs: need maxBucket>=2, got $maxBucket")
    val base = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
    val based = base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bare (id, hash) rows ride the banded shuffle — strings re-join
    // only onto the (much smaller) candidate pair set for the verify,
    // the suite's standard bare-id-pairs trade. r13: the signature key
    // is the native 8-byte deletion hash (TextFunctions.deletionSigHashes)
    // instead of md5 hex over materialized deletion substrings — same
    // buckets modulo hash collisions, ~5x fewer key bytes shuffled.
    val sigs = based
      .select(col("_id"),
        explode(TextFunctions.deletionSigHashes(col("_s"))).as("_k"))
      .distinct()
    val capped = sigs
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(col("_k"))))
      .filter(col("_bn") <= maxBucket)
    val cands = capped.select(col("_k"), col("_id").as("id_a"))
      .join(capped.select(col("_k"), col("_id").as("id_b")), Seq("_k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(based.select(col("_id").as("id_a"), col("_s").as("_sa")), Seq("id_a"))
      .join(based.select(col("_id").as("id_b"), col("_s").as("_sb")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Build-once corpus signature index for streaming fuzzy linkage
    * (the [[minhashBandIndexMd5]] shape for edit distance): one row per
    * (signature digest, corpus id, string), bucket cap applied AT BUILD
    * TIME so a degenerate hot name can never pair with every incoming
    * probe.
    */
  def fuzzyIndex(corpus: DataFrame, idCol: String, strCol: String,
      maxBucket: Int = 1024): DataFrame = {
    require(maxBucket >= 1, s"fuzzyIndex: need maxBucket>=1, got $maxBucket")
    val sigs = corpus.select(col(idCol).as("_fz_id"), col(strCol).as("_fz_s"))
      .select(col("_fz_id"), col("_fz_s"),
        explode(TextFunctions.deletionSigHashes(col("_fz_s"))).as("_fz_k"))
      .distinct()
    sigs
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(col("_fz_k"))))
      .filter(col("_bn") <= maxBucket)
      .select("_fz_k", "_fz_id", "_fz_s")
  }

  /** Drop exact duplicates, keeping the lowest id per content value. */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(contentCol)).orderBy(col(idCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Drops the rows of buckets (rows sharing `keys`) holding more than
    * `maxBucket` members. Bucket size comes from a window count, not
    * groupBy+semi-join: one shuffle on the bucket key instead of two. A
    * mega-bucket funnels its m rows through one window task — linear in
    * m, which is the whole point of the cap (the join it prevents is
    * quadratic).
    */
  private def capBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Option[Int]): DataFrame = maxBucket match {
    case Some(cap) => banded
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("_n") <= cap).drop("_n")
    case None => banded
  }

  /** Bucket self-join with an optional skew guard: buckets holding more
    * than `maxBucket` members are DROPPED before the join (a bucket of m
    * docs costs m^2/2 pairs — one pathological band hash shared by 10^6
    * docs would otherwise quadratic inside the bucket even though the
    * overall plan is bucketed). Dropping, not sampling, keeps the output
    * deterministic; near-dup recall for members of a dropped mega-bucket
    * comes from their OTHER bands (MinHash) / tables (LSH), which is the
    * standard LSH skew posture.
    */
  def selfJoinBuckets(banded: DataFrame, idCol: String,
      keys: Seq[String], maxBucket: Option[Int]): DataFrame = {
    val capped = capBuckets(banded, keys, maxBucket)
    val cond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    capped.as("a").join(capped.as("b"), cond)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** All-pairs n-gram Jaccard >= threshold, computed WITHOUT a cross
    * product by a PREFIX-FILTERED set-similarity join (AllPairs/PPJoin —
    * see the inline notes): candidates come from a self-join of each
    * document's (1-t)-fraction rarest shingles, with document frequency
    * capped at `maxShingleDf` as the skew guard; scores are exact Jaccard
    * over the FULL shingle sets, so reported values are exact — only
    * pairs whose entire prefix overlap is ultra-common (df > cap)
    * shingles can be missed, the standard df-pruning trade.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Int = 128): DataFrame = {
    // PREFIX-FILTERED set-similarity join (AllPairs/PPJoin,
    // Bayardo-Ma-Srikant WWW'07): a pair with J >= t must share at
    // least ceil(t * max(|A|,|B|)) shingles, so under ANY total order
    // common to both documents their prefixes of length
    // |d| - ceil(t*|d|) + 1 must intersect. Candidates therefore come
    // from a self-join of PREFIX rows only — on a duplicate-dense
    // corpus this cuts candidate pairs ~27x (1.27M -> 46k measured on
    // the sf0.1 documents table) and is the property that survives a
    // 100 TB corpus: candidate volume scales with true-duplicate
    // density, not with Sum_sh C(df,2) random collisions.
    //
    // Prefix witnesses are further restricted to 2 <= df <= cap: df=1
    // matches nothing, df > cap is the skew guard (one boilerplate
    // phrase in 10^6 docs would quadratic the join on its own). A
    // pair whose ENTIRE prefix overlap is ultra-common shingles can
    // be missed — same recall trade, and the same bound (C(cap,2)
    // join rows per shingle), as the previous cap-only candidates.
    //
    // Verification is exact over FULL shingle sets: candidates join
    // the per-doc sorted md5-set arrays (doc-keyed joins — arrays
    // never ride a pair key) and score size(array_intersect)/union.
    // Arrays are bounded by document length, the intersect is pure
    // map-side CPU, and the pair frame that reaches the sizes math is
    // already candidate-small — the previous shape dragged every
    // Sum C(df,2) collision pair through two joins before filtering.
    val shAll = rankedShingles(docs, idCol, textCol, shingleK)
    val pref = shAll
      .filter(col("_rn") <= prefixLen(threshold) && col("_df") >= 2 &&
        col("_df") <= maxShingleDf)
      .select("jid", "sh")
    val cands = pref.as("x").join(pref.as("y"),
        col("x.sh") === col("y.sh") && col("x.jid") < col("y.jid"))
      .select(col("x.jid").as("id_a"), col("y.jid").as("id_b"))
      .distinct()
    val sets = shAll.groupBy("jid")
      .agg(collect_list(col("sh")).as("_set"), count(lit(1)).as("sz"))
    // The RESULT is persisted too (r13 optimization): the verified
    // pair set is duplicate-density-bounded (249 rows at sf0.1 —
    // thousandths of the corpus at any scale), while re-deriving it
    // costs the cands self-join + the array_intersect verify. 14
    // declared queries consume this exact frame (the dup-graph
    // family), several referencing it TWICE (both directions of an
    // undirected edge union) — profiled at 2×~1.9 s per query at
    // sf0.1 before the persist. CacheManager plan-equality shares
    // one verify across the whole family within a session; Verify's
    // per-query clearCache keeps the correctness gate flat.
    verifyJaccardOnCandidates(cands, sets, sets, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** (jid, sh, [extra...], _df, _sz, _rn): each document's distinct
    * md5 word shingles ranked by the (df ASC, md5 ASC) global order the
    * prefix filters use — rarest shingles first minimizes prefix
    * collisions, and md5 keeps the tie-break portable to the DuckDB
    * oracle (which replays the same ranking) — `_sz` the
    * document's shingle count. `extra` columns (over the shingle text
    * `s`) ride along in the distinct.
    *
    * ONE persisted frame feeds prefixes AND verify sets; persist
    * outlives the call by design (the returned plan reads it lazily);
    * MEMORY_AND_DISK + LRU like every persist here — a long-lived
    * session reclaims eagerly with spark.catalog.clearCache() (see
    * Relational.scala convention note). _df and (_sz, _rn) are two
    * window passes over the same distinct frame; the jid partitioning
    * is then reused by the collect_list aggregation.
    */
  private def rankedShingles(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, extra: Column*): DataFrame =
    docs
      .select(col(idCol).as("jid"),
        explode(TextFunctions.wordShingles(col(textCol), shingleK)).as("s"))
      .select(Seq(col("jid"), md5(col("s").cast("binary")).as("sh")) ++ extra: _*)
      .distinct()
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .withColumn("_sz", count(lit(1)).over(Window.partitionBy(col("jid"))))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("jid")).orderBy(col("_df"), col("sh"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Prefix length `_sz - ceil(t * _sz) + 1` over [[rankedShingles]]:
    * DECIMAL ceil, because floor((1-t)*sz)+1 in doubles under-counts at
    * exact multiples (int(0.1*10) == 0 — measured losing 2 of 249 true
    * pairs at sf0.1).
    */
  private def prefixLen(threshold: Double): Column = col("_sz") -
    ceil(col("_sz") * lit(java.math.BigDecimal.valueOf(threshold))) + lit(1)

  /** DIRECTED shingle-containment pairs: C(src -> dst) =
    * |S_src ∩ S_dst| / |S_src| >= `threshold` — the asymmetric cousin of
    * [[ngramJaccardPairs]], and the shape whole-set Jaccard is blind to:
    * a document quoted or truncated inside a larger one has containment
    * ~1 while its Jaccard is only |A|/|B| (a 50-shingle excerpt of a
    * 120-shingle doc scores J~0.4 — invisible at J>=0.5, flagged here).
    * Training-data dedup needs this directed signal to drop the
    * contained copy and keep the superset document.
    *
    * Candidates use the asymmetric prefix filter (the containment
    * variant of AllPairs/PPJoin): C >= t forces the pair to share
    * >= ceil(t*|A|) shingles, so under a (df ASC, md5 ASC) total order
    * A's prefix of length |A| - ceil(t*|A|) + 1 must hit SOME shingle of
    * B — probe-side prefixes join against full (df-capped) target rows.
    * DECIMAL ceil like the Jaccard path (double floor under-counts at
    * exact multiples). Verification is exact over FULL doc-keyed shingle
    * set arrays, so caps only cost recall, never precision.
    *
    * Scale shape (100 TB): ONE persisted distinct shingle frame feeds
    * prefixes, targets, and verify sets; join rows per shingle are
    * bounded by prefix-df x df <= maxShingleDf^2 (the standard
    * boilerplate guard); pairs are deduped on bare ids before the
    * set arrays are joined back doc-keyed (invariant #16).
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = 128): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentPairs: need 0<threshold<=1, got $threshold")
    require(maxShingleDf >= 2,
      s"containmentPairs: need maxShingleDf>=2, got $maxShingleDf")
    // (jid, md5, xxhash64) per distinct shingle: the md5 drives the
    // portable (df ASC, md5 ASC) prefix ranking the oracle replays; the
    // 8-byte xxhash64 is what rides the candidate join AND the verify
    // set arrays — an asymmetric candidate set runs ~3x the symmetric
    // Jaccard path's, so 32-char digest arrays on the pair stream were
    // the measured bottleneck (intersection counts are hash-agnostic).
    val shAll = rankedShingles(docs, idCol, textCol, shingleK,
      xxhash64(col("s")).as("shh"))
    val probe = shAll
      .filter(col("_rn") <= prefixLen(threshold) && col("_df") >= 2 &&
        col("_df") <= maxShingleDf)
      .select(col("jid").as("src_id"), col("shh"))
    val target = shAll
      .filter(col("_df") >= 2 && col("_df") <= maxShingleDf)
      .select(col("jid").as("dst_id"), col("shh"))
    val cands = probe.join(target, Seq("shh"))
      .filter(col("src_id") =!= col("dst_id"))
      .select("src_id", "dst_id").distinct()
    val sets = shAll.groupBy("jid")
      .agg(collect_list(col("shh")).as("_set"), count(lit(1)).as("sz"))
    cands
      .join(sets.select(col("jid").as("src_id"), col("_set").as("_ss"),
        col("sz").as("sz_src")), Seq("src_id"))
      .join(sets.select(col("jid").as("dst_id"), col("_set").as("_sd")), Seq("dst_id"))
      .withColumn("containment",
        size(array_intersect(col("_ss"), col("_sd"))).cast("double") / col("sz_src"))
      .filter(col("containment") >= threshold)
      .select("src_id", "dst_id", "containment")
  }

  /** Shared exact-Jaccard verification over candidate pairs — the one
    * implementation behind every MinHash pipeline. `setsA`/`setsB` are
    * (jid, _set, sz) frames of per-key distinct shingle sets for the
    * `id_a`/`id_b` sides; candidates pull their two sets through plain
    * doc-keyed equi-joins and the intersection is map-side
    * array_intersect CPU, so no corpus-sized shingle frame is ever
    * shuffled against the candidates. Do not count on exchange reuse
    * across the two sides: on the earlier shingle-frame plan Spark 4.1.2
    * reused no exchange at all (each side re-ran its signature
    * aggregate, band window and set aggregate), so work both sides
    * share is pinned or is cheap per-document work. Inner joins are
    * correct because every candidate key has shingles (its signature
    * exists).
    */
  private def verifyJaccardOnCandidates(cands: DataFrame, setsA: DataFrame,
      setsB: DataFrame, threshold: Double): DataFrame =
    cands
      .join(setsA.select(col("jid").as("id_a"), col("_set").as("_sa"),
        col("sz").as("sz_a")), Seq("id_a"))
      .join(setsB.select(col("jid").as("id_b"), col("_set").as("_sb"),
        col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** (jid, _set, sz): each id's distinct word-shingle set and its size,
    * built per document from the text, map-side. Rows sharing an id
    * merge in one groupBy, so the set is the union over the id's texts.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    df.select(col(idCol).as("jid"),
        array_distinct(TextFunctions.wordShingles(col(textCol), shingleK)).as("_s"))
      .groupBy("jid").agg(array_distinct(flatten(collect_list(col("_s")))).as("_set"))
      .withColumn("sz", size(col("_set")).cast("long"))

  /** (jid, mins): the k md5-slice minima per key
    * ([[TextFunctions.md5SliceMins]]) — the signature behind every md5
    * MinHash variant. The kernel runs per input row, map-side; the one
    * groupBy merges rows sharing a key (a repeated id, or a group's
    * documents) into the min over the union of their shingles. Its
    * buffers are longs, so it plans as a hash aggregate whose partial
    * pass ships one k-long row per key. Keys without a shingle have no
    * signature.
    */
  private def md5SliceSigs(df: DataFrame, key: Column, textCol: String,
      k: Int, shingleK: Int): DataFrame = {
    val mins = (0 until k).map(i => min(col("_m")(i)))
    df.select(key.as("jid"),
        TextFunctions.md5SliceMins(col(textCol), k, shingleK).as("_m"))
      .filter(size(col("_m")) > 0)
      .groupBy("jid").agg(array(mins: _*).as("mins"))
  }

  /** (jid, band, bsig): one row per key and band of a signature frame. */
  private def md5Banded(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("jid"),
      posexplode(TextFunctions.md5SliceBands(col("mins"), bands)).as(Seq("band", "bsig")))

  /** Engine-portable MinHash near-dup pipeline: the k min-hashes are
    * 8-hex-char slices of `md5(seed:shingle)` (k/4 md5 calls per shingle,
    * 4 slices each; min over fixed-width hex strings == min over the
    * 32-bit values), and a band's LSH key is the concatenation of its row
    * minima. Bit-for-bit reproducible by any engine with `md5()`.
    *
    * Plan: the signature kernel runs per document, map-side (no shingle
    * explode, distinct or sort aggregate); the capped (jid, band, bsig)
    * frame — two short rows per document — is the only pin, read by
    * both sides of the bucketed band self-join (with the
    * [[selfJoinBuckets]] skew cap available), never O(n^2). Candidates
    * are verified against per-document shingle sets rebuilt from the
    * text.
    */
  def minhashNearDupPairsMd5(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 2, shingleK: Int = 3,
      threshold: Double = 0.8, maxBucket: Option[Int] = None): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val keys = Seq("band", "bsig")
    val banded = capBuckets(
        md5Banded(md5SliceSigs(docs, col(idCol), textCol, k, shingleK), bands),
        keys, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = selfJoinBuckets(banded, "jid", keys, None)
    val sets = shingleSets(docs, idCol, textCol, shingleK)
    // result persisted (r13 optimization, the ngramJaccardPairs
    // discipline): duplicate-density-bounded pair set; consumers
    // (blocking_quality's four 1-row grading aggregates, the session's
    // family reuse) re-read instead of re-running the band join +
    // verify per reference
    verifyJaccardOnCandidates(cands, sets, sets, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Corpus-level MinHash similarity matrix: ONE signature per GROUP
    * (k md5-slice minima over the group's shingle set) and the
    * pairwise agreement fraction — the unbiased MinHash estimate of
    * shingle-set Jaccard between groups [Broder 1997]. The sketch view
    * of cross-source overlap: after one corpus scan the retained state
    * is |groups| rows of k minima, and the pair stage is a
    * broadcast nested-loop over |groups|^2/2 — groups are sources /
    * shards / snapshots, inherently few; corpus SIZE never enters the
    * pair stage. Output: (group_a, group_b, est_jaccard) for all pairs
    * group_a < group_b, est = agreeing minima / k.
    */
  def groupSimilarityMatrix(docs: DataFrame, groupCol: String,
      textCol: String, k: Int = 16, shingleK: Int = 3,
      maxGroups: Int = 1024): DataFrame = {
    // the limit is the broadcast contract (the langProfiles pattern):
    // groups are sources/shards — inherently few — and the cap makes
    // the promise PROVABLE in the plan; a >maxGroups corpus keeps the
    // first maxGroups in jid order (raise the cap deliberately, the
    // pair stage is O(maxGroups^2))
    val sigs = md5SliceSigs(docs, col(groupCol).cast("string"), textCol, k, shingleK)
      .orderBy("jid").limit(maxGroups)
    val a = sigs.select(col("jid").as("group_a"), col("mins").as("_a"))
    val b = sigs.select(col("jid").as("group_b"), col("mins").as("_b"))
    val agree = (0 until k)
      .map(i => when(col("_a")(i) === col("_b")(i), 1).otherwise(0))
      .reduce(_ + _)
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        (agree.cast("double") / lit(k.toDouble)).as("est_jaccard"))
  }

  /** The UNCAPPED banded-signature frame — shared by the index builder
    * and the incremental updater (per-doc pure function of the text, so
    * rows for old and new docs are identical whether built together or
    * apart — the property the incremental path's equality proof rests
    * on). */
  private def bandedRowsMd5(corpus: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, shingleK: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    // k/bands ride as FIELD METADATA on `sig` — Spark persists field
    // metadata through parquet round-trips, so a consumer
    // (minhashAgainstStream) validates compatibility from the schema
    // alone instead of paying an eager aggregate over the index
    val sigMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("minhash_k", k.toLong)
      .putLong("minhash_bands", bands.toLong).build()
    md5SliceSigs(corpus, col(idCol), textCol, k, shingleK)
      .select(col("jid").as("corpus_id"),
        TextFunctions.md5SliceBands(col("mins"), k).as("sig"),
        posexplode(TextFunctions.md5SliceBands(col("mins"), bands))
          .as(Seq("band", "bsig")))
      .select(col("corpus_id"), col("band"), col("bsig"),
        col("sig").as("sig", sigMeta))
  }

  /** The REUSABLE corpus-side band index for stream-ingestion matching
    * ([[graft.streaming.StreamOps.minhashAgainstStream]]): one
    * (corpus_id, band, bsig, sig) row per document and band, `sig` the
    * full k-minima array for the agreement estimate. Build once per
    * corpus (or persist/write it out) and match every ingestion batch
    * against it — the index build is the only corpus scan. `maxBucket`
    * is the same skew guard as the join variants: drop buckets a
    * mirrored-10^6-times page would flood, HERE at build time so every
    * later batch inherits the bound.
    */
  def minhashBandIndexMd5(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 2, shingleK: Int = 3,
      maxBucket: Option[Int] = None): DataFrame =
    // persisted: the index is BUILT ONCE and joined by every ingestion
    // micro-batch — unpersisted, the whole corpus signature/cap
    // pipeline would re-execute per batch. Same lazily-outliving
    // MEMORY_AND_DISK convention as the other index frames (write it
    // out with parquet for cross-session reuse — spec round-trips it).
    capBuckets(bandedRowsMd5(corpus, idCol, textCol, k, bands, shingleK),
        Seq("band", "bsig"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Bucket-occupancy sidecar for INCREMENTAL index maintenance:
    * (band, bsig, _bn) over ALL buckets — including the ones `maxBucket`
    * capped out of the index, which is exactly why it must exist: a
    * capped index cannot distinguish "bucket never seen" from "bucket
    * dropped at cap", and an updater without that bit would resurrect a
    * mega-bucket the moment a new batch touched it. ~40 bytes per
    * distinct bucket; write it next to the index.
    */
  def minhashBandIndexStatsMd5(corpus: DataFrame, idCol: String,
      textCol: String, k: Int = 12, bands: Int = 2,
      shingleK: Int = 3): DataFrame =
    bandedRowsMd5(corpus, idCol, textCol, k, bands, shingleK)
      .groupBy("band", "bsig").agg(count(lit(1)).as("_bn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Incremental band-index update — the daily-ingest shape: fold a new
    * batch of documents into an existing (index, stats) pair WITHOUT
    * re-shingling the corpus, returning a pair EXACTLY equal to a full
    * rebuild over old ∪ new (DedupAnnSpec asserts row identity across
    * the cap cases). Correctness hinges on two facts: banded rows are a
    * per-doc pure function (old rows never change), and cap eviction is
    * monotone in the bucket count (a bucket over cap stays over cap as
    * rows only accumulate) — so only buckets the NEW batch touches can
    * change verdict, and the stats sidecar supplies the true count for
    * buckets the cap already emptied.
    *
    * Scale shape: the corpus-sized index is SCANNED but never
    * shuffled — the dirty-bucket set (<= |batch| x bands rows) drives
    * semi/anti joins that AQE turns into broadcasts at micro-batch
    * size (no hint: batch size is data-sized), and only dirty-bucket
    * rows pay the count join. Cost per update is O(index scan +
    * batch), versus O(corpus re-shingle + re-minhash) for a rebuild —
    * at 100 TB the difference between minutes and the whole pipeline.
    */
  def updateBandIndexMd5(index: DataFrame, stats: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      k: Int = 12, bands: Int = 2, shingleK: Int = 3,
      maxBucket: Option[Int] = None): (DataFrame, DataFrame) = {
    val nb = bandedRowsMd5(newDocs, idCol, textCol, k, bands, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nbStats = nb.groupBy("band", "bsig").agg(count(lit(1)).as("_bn"))
    val dirty = nbStats.select("band", "bsig")
    val mergedDirtyStats = stats.join(dirty, Seq("band", "bsig"), "left_semi")
      .unionByName(nbStats)
      .groupBy("band", "bsig").agg(sum(col("_bn")).as("_bn"))
    val newStats = stats.join(dirty, Seq("band", "bsig"), "left_anti")
      .unionByName(mergedDirtyStats)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val untouched = index.join(dirty, Seq("band", "bsig"), "left_anti")
    val dirtyRows = index.join(dirty, Seq("band", "bsig"), "left_semi")
      .unionByName(nb)
    val keptDirty = maxBucket match {
      case Some(cap) => dirtyRows
        .join(mergedDirtyStats.filter(col("_bn") <= cap).select("band", "bsig"),
          Seq("band", "bsig"), "left_semi")
      case None => dirtyRows
    }
    val newIndex = untouched.unionByName(keptDirty)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (newIndex, newStats)
  }

  /** Cross-corpus MinHash near-dup: match INCOMING documents against an
    * EXISTING corpus without the self-join — the incremental-ingestion
    * shape (dedup a new crawl against the training set) where
    * [[minhashNearDupPairsMd5]]'s all-in-one-frame self-join would
    * wastefully re-pair the corpus against itself. Same md5-slice
    * signature scheme, engine-portable.
    *
    * Scale shape: both sides compute their signatures per document,
    * independently (the corpus side is an INDEX BUILD — persist or write
    * out its banded signatures once and reuse across ingestion batches);
    * candidates come from an equi-join of incoming bands to corpus bands,
    * so cost is |incoming buckets| x occupancy, never |corpus|^2.
    * `maxBucket` caps the CORPUS bucket size (window count over (band,
    * bsig), the same guard shape as the self-join variant): a page
    * mirrored 10^6 times in the corpus would otherwise pair with every
    * incoming doc that lands in its bucket. Verification is exact
    * Jaccard of the two sides' shingle sets. Output: (corpus_id,
    * incoming_id, jaccard) — ids may overlap between the frames (they
    * are distinct keyspaces).
    */
  def minhashNearDupAgainstMd5(corpus: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, k: Int = 12, bands: Int = 2,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxBucket: Option[Int] = None): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    def banded(df: DataFrame) =
      md5Banded(md5SliceSigs(df, col(idCol), textCol, k, shingleK), bands)
    val bandedC = capBuckets(banded(corpus), Seq("band", "bsig"), maxBucket)
    val cands = bandedC.select(col("jid").as("id_a"), col("band"), col("bsig"))
      .join(banded(incoming).select(col("jid").as("id_b"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .select("id_a", "id_b").distinct()
    verifyJaccardOnCandidates(cands, shingleSets(corpus, idCol, textCol, shingleK),
      shingleSets(incoming, idCol, textCol, shingleK), threshold)
  }

  /** The k md5-slice minima of one document as 8-hex-char strings — the
    * row-local form of the batch signature (same kernel,
    * [[TextFunctions.md5SliceMinsOf]]) behind [[minhashBandSigs]] and the
    * stateful streaming signature matcher. A per-row map needs no
    * shuffle and no stateful aggregation, so it can feed
    * `flatMapGroupsWithState` directly (Structured Streaming forbids an
    * aggregation before it). Empty for docs too short to shingle (they
    * belong to no bucket, matching the batch pipeline).
    */
  def minhashSliceMins(text: String, k: Int = 16, shingleK: Int = 3): Array[String] =
    TextFunctions.md5SliceBandsOf(TextFunctions.md5SliceMinsOf(text, k, shingleK), k)

  /** Row-local md5-slice MinHash band signatures — the band strings of
    * [[minhashNearDupPairsMd5]] for one document. */
  def minhashBandSigs(text: String, k: Int = 16, bands: Int = 2,
      shingleK: Int = 3): Array[String] = {
    require(k % 4 == 0 && k % bands == 0, s"need 4 | k and bands | k (k=$k, bands=$bands)")
    TextFunctions.md5SliceBandsOf(TextFunctions.md5SliceMinsOf(text, k, shingleK), bands)
  }

  /** (jid, v) as array<double>, persisted: it feeds both the bucketing
    * and the exact-cosine verify of one call's plan. */
  private def persistedVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("jid"), col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** (jid, tbl, bucket): one row per vector of `e` (jid, v) and hash
    * table of `planes`. */
  private def signBanded(e: DataFrame, planes: Array[Array[Array[Double]]]): DataFrame =
    e.select(col("jid"),
      posexplode(graft.functions.VectorFunctions.signBuckets(col("v"), planes))
        .as(Seq("tbl", "bucket")))

  /** (id_a, id_b, cos >= `threshold`) for bare id candidates: the (jid,
    * v) vectors of `ea`/`eb` join back only after the candidate distinct
    * (carrying them through it was a multi-GB shuffle at 5k vectors —
    * 16s vs 3s for the exact all-pairs). */
  private def cosineVerify(cands: DataFrame, ea: DataFrame, eb: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(ea.select(col("jid").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(eb.select(col("jid").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorFunctions.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)

  /** Embedding near-dup at scale: multi-table sign-LSH candidate
    * generation (never O(n^2)) under `planes`, one table of hyperplanes
    * per hash table, and an exact cosine check on candidates only.
    */
  def embeddingNearDupLsh(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Array[Array[Array[Double]]]): DataFrame = {
    val e = persistedVectors(emb, idCol, vecCol)
    val cands = selfJoinBuckets(signBanded(e, planes), "jid", Seq("tbl", "bucket"), None)
    cosineVerify(cands, e, e, threshold)
  }

  /** Cross-corpus embedding near-dup: INCOMING vectors vs an EXISTING
    * corpus — the embedding-modality twin of
    * [[minhashNearDupAgainstMd5]]. Both sides bucket under the SAME
    * hyperplane tables (mandatory: different planes would give disjoint
    * bucket spaces), candidates come from the asymmetric
    * (table, bucket) equi-join — cost |incoming| x occupancy, never
    * |corpus| x |incoming| — and survive an exact-cosine verify.
    * `maxBucket` caps CORPUS-side buckets (window count, the standard
    * guard shape). Output: (corpus_id, incoming_id, cos); the two id
    * spaces may overlap (distinct keyspaces by contract).
    */
  def embeddingNearDupAgainst(corpus: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      planes: Array[Array[Array[Double]]],
      maxBucket: Option[Int] = None): DataFrame = {
    // per-call persists under the scoped-cache convention (see
    // minhashNearDupAgainstMd5): suite runners clear per query, the LRU
    // store evicts under pressure otherwise
    val ec = persistedVectors(corpus, idCol, vecCol)
    val ei = persistedVectors(incoming, idCol, vecCol)
    val bandedC = capBuckets(signBanded(ec, planes), Seq("tbl", "bucket"), maxBucket)
    // bare id pairs through the candidate distinct; vectors join back after
    val cands = bandedC.select(col("jid").as("id_a"), col("tbl"), col("bucket"))
      .join(signBanded(ei, planes).select(col("jid").as("id_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .select("id_a", "id_b").distinct()
    cosineVerify(cands, ec, ei, threshold)
  }

  /** The REUSABLE corpus-side bucket index for stream-ingestion vector
    * matching ([[graft.streaming.StreamOps.embeddingAgainstStream]]):
    * one (corpus_id, tbl, bucket, cvec) row per vector and table, built
    * once per corpus (persisted; write out as parquet for cross-session
    * reuse). The SAME `planes` array must bucket the incoming side.
    * `maxBucket` caps corpus buckets at build time — every later batch
    * inherits the skew bound.
    */
  def embeddingBandIndex(corpus: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Array[Double]]],
      maxBucket: Option[Int] = None): DataFrame = {
    val banded = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).cast("array<double>").as("cvec"))
      .select(col("corpus_id"), col("cvec"),
        posexplode(graft.functions.VectorFunctions.signBuckets(col("cvec"), planes))
          .as(Seq("tbl", "bucket")))
      .select("corpus_id", "tbl", "bucket", "cvec")
    capBuckets(banded, Seq("tbl", "bucket"), maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** [[embeddingNearDupLsh]] with the plane count DERIVED from the
    * corpus: planesPerTable = log2(ceil(n / targetBucket))
    * ([[graft.functions.VectorFunctions.planesForOccupancy]]), so mean
    * bucket occupancy — and with it the bucket self-join's cost per
    * bucket — stays constant as the corpus grows. The sizing action is
    * an INDEX-BUILD cost (once per corpus, like fitting IVF centroids),
    * not per-query work. Fixed-plane configs are Θ(n²/2^p): correct at
    * one scale, quadratic at 10x (measured — BENCH_NOTES round 5).
    *
    * Planes are the deterministic md5 sign planes (as good as Gaussian
    * for sign-LSH — only the projection's sign matters), so the whole
    * auto-sized operator stays engine-portable and oracle-checkable.
    *
    * `shrinkAnchorBits`: when set, bucket OCCUPANCY shrinks as the
    * corpus grows past 2^(anchor+1) vectors — one extra plane per two
    * doublings of n beyond the anchor (extra = max(0,
    * (bitLength(n−1) − anchor) / 2), integer-exact and mirrored by the
    * oracle's LENGTH(bin(n−1)) arithmetic). Constant occupancy makes
    * candidate-verify work Θ(n) — honest linear, but a fixed-core
    * bench pays the full 10x at 10x data; halving occupancy every two
    * doublings bends verify work to Θ(n·√(n₀/n)·c) ≈ Θ(√n) per unit
    * occupancy while sign-LSH recall at the near-dup end (cos ≥ 0.9)
    * decays only by the per-table collision factor (1−θ/π) per extra
    * plane, compensated by the table count. The trade is explicit:
    * None = constant occupancy (maximum recall, linear cost); Some(a)
    * = scale-bent cost for a documented recall taper.
    */
  def embeddingNearDupLshAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nTables: Int = 8, targetBucket: Int = 64,
      shrinkAnchorBits: Option[Int] = None): DataFrame = {
    // ONE action answers corpus size and dimensionality (count + head
    // would scan the upstream plan twice), and empty/null-vector inputs
    // get a clean message instead of a NoSuchElementException from head()
    val agg = emb.agg(count(lit(1)), first(size(col(vecCol)), ignoreNulls = true)).head()
    val n = agg.getLong(0)
    require(n > 0, "embeddingNearDupLshAuto: empty corpus (no vectors to size planes from)")
    require(!agg.isNullAt(1), s"embeddingNearDupLshAuto: every $vecCol value is null")
    val dim = agg.getInt(1)
    val base = graft.functions.VectorFunctions.planesForOccupancy(n, targetBucket)
    val extra = shrinkAnchorBits.fold(0)(
      graft.functions.VectorFunctions.extraPlanesForScale(n, _))
    val p = math.min(20, base + extra)
    embeddingNearDupLsh(emb, idCol, vecCol, threshold,
      graft.functions.VectorFunctions.md5SignPlanes(nTables, p, dim))
  }

  /** 64-bit SimHash over token hashes: bit j of the result is the sign of
    * Σ_tokens (bit j set ? +1 : −1). Single-pass Aggregator (64-int
    * buffer; map-side combinable).
    */
  class SimHashAgg extends Aggregator[Long, Array[Int], Long] {
    override def zero: Array[Int] = new Array[Int](64)
    override def reduce(buf: Array[Int], tokenHash: Long): Array[Int] = {
      var j = 0
      while (j < 64) {
        if (((tokenHash >>> j) & 1L) == 1L) buf(j) += 1 else buf(j) -= 1
        j += 1
      }
      buf
    }
    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var j = 0
      while (j < 64) { a(j) += b(j); j += 1 }
      a
    }
    override def finish(buf: Array[Int]): Long = {
      var h = 0L
      var j = 0
      while (j < 64) { if (buf(j) > 0) h |= (1L << j); j += 1 }
      h
    }
    override def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Array[Int]]
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  /** Engine-portable SimHash: token hash = first 64 bits of md5 (see
    * [[graft.functions.TextFunctions.md5Bits64]]), result rendered as a
    * 16-char lowercase hex string. Bit-for-bit reproducible by any engine
    * with an `md5()` builtin. Plan: explode + one map-side-combinable
    * Aggregator pass.
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val simhashUdaf = udaf(new SimHashAgg, org.apache.spark.sql.Encoders.scalaLong)
    df.select(col(idCol), explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .select(col(idCol), TextFunctions.md5Bits64(col("tok")).as("th"))
      .groupBy(col(idCol))
      .agg(simhashUdaf(col("th")).as("sim"))
      .select(col(idCol), lower(lpad(hex(col("sim")), 16, "0")).as("simhash"))
  }

  /** SimHash near-dup candidates: equal 16-bit prefix blocks (any of 4)
    * — the standard "hamming distance <= 3 implies some block equal"
    * pigeonhole bucketing — over the 16-hex-char `simhash` column of
    * [[simhashMd5]]. A 16-bit block is exactly 4 hex chars, so blocks
    * slice the string (no lossy hex->long parse, which would overflow a
    * signed cast for signatures >= 2^63). Any other column type raises
    * loudly instead of mis-bucketing.
    */
  def simhashCandidates(sims: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val dt = sims.schema("simhash").dataType
    require(dt == StringType,
      s"simhash column must be a 16-hex StringType (simhashMd5), got $dt")
    // enforce the simhashMd5 shape row-side, not just the type: a
    // 32-hex full md5, uppercase hex, or arbitrary string would
    // otherwise slice into garbage buckets silently (candidates
    // quietly empty). raise_error costs nothing on conforming rows.
    // null-safe: rlike(NULL) is NULL (branch falls through to
    // otherwise), and concat with NULL would make raise_error throw
    // MESSAGE-LESS — coalesce keeps the diagnostic intact
    val validated = sims.withColumn("simhash",
      when(col("simhash").isNotNull && col("simhash").rlike("^[0-9a-f]{16}$"),
        col("simhash"))
        .otherwise(raise_error(concat(
          lit("simhash string column must be 16 lowercase hex chars "
            + "(simhashMd5 output), got: "),
          coalesce(col("simhash"), lit("NULL"))))))
    // hex renders big-endian: chars [1..4] are bits 63..48 = block 3
    val blocks = (0 until 4).map { b =>
      validated.select(col(idCol), lit(b).as("blk"),
        substring(col("simhash"), (3 - b) * 4 + 1, 4).as("bh"))
    }.reduce(_ unionByName _)
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bh") === col("b.bh") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Connected components over near-dup PAIRS — the step every dedup
    * pipeline needs after [[minhashNearDupPairsMd5]]/[[ngramJaccardPairs]]:
    * pairs are edges, a component is one duplicate CLUSTER, and its
    * canonical id is the minimum member id. Output: one (id, cluster_id)
    * row per doc that appears in any pair (unpaired docs are their own
    * singleton cluster by definition and are left out — union them back
    * with cluster_id = id if needed, see [[canonicalizeClusters]]).
    *
    * Algorithm: min-label propagation WITH POINTER JUMPING. Each round
    * every node takes the min of (its label, its neighbors' labels, its
    * label's label) — the neighbor-min is one equi-join + groupBy(min)
    * on the id key, the jump (label(label(u))) one more equi-join, no
    * driver-side graph. Neighbor-min alone needs diameter rounds — fine
    * for LSH-bucket quasi-cliques (diameter 2-4) but a CHAIN of
    * drifting near-dups (doc i ~ doc i+1) is diameter n; the jump
    * halves label-path lengths every round, so convergence is
    * O(log diameter) on any graph (the pointer-doubling half of
    * classic PRAM connectivity). Correctness invariant: label(u) is
    * always the id of a node in u's component and only decreases; both
    * the neighbor-min and the jump preserve it, and the fixpoint of
    * the combined step is the component minimum.
    *
    * Each round's labels are eagerly localCheckpoint'ed: the round
    * references the previous one more than once, so a merely persisted
    * plan (which caches data but keeps the full logical plan) grows
    * multiplicatively — exponential plan text that OOMs the driver
    * around round 10. The checkpoint severs the logical plan to a flat
    * scan each round (and fully materializes it, so convergence counts
    * read cached blocks). Superseded rounds are reclaimed by the
    * ContextCleaner once unreferenced (checkpoint blocks live at RDD
    * level, outside the CacheManager, so a DataFrame unpersist cannot
    * free them); worst case, rounds x |labels| of (long, long) rows
    * accumulate in MEMORY_AND_DISK until cleanup — disk-bounded, and
    * rounds are O(log diameter). Severed lineage trades
    * recompute-on-block-loss for a LOUD failure: an executor lost
    * mid-run fails the bounded job for a rerun instead of silently
    * recomputing — the same posture as `Relational.twoPhaseDenseIds`.
    */
  def dedupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20, probeEvery: Int = 1): DataFrame = {
    require(probeEvery >= 1, s"probeEvery ($probeEvery) must be >= 1")
    // no distinct(): every consumer is a min-aggregation, where duplicate
    // edges cannot change the result — deduping here would cost a full
    // shuffle of the edge frame for nothing (callers feeding massively
    // duplicated pair lists should dedup upstream to shrink the joins).
    // Bidirect via ONE explode, not union(fwd, fwd.swapped): the pairs
    // argument is typically the tail of an expensive candidate pipeline
    // (banded self-join + exact verify), and a two-branch union executes
    // everything above the last exchange twice on first materialization
    // — the explode reads it once (measured on the declared
    // dedup_clusters query: the union form re-ran the verify stage per
    // branch).
    val edges = pairs
      .select(explode(array(
        struct(col(idA).as("src"), col(idB).as("dst")),
        struct(col(idB).as("src"), col(idA).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // initial labels FUSE the first propagation round: min(self, direct
    // neighbors) falls out of one groupBy over the edge list (every node
    // appears as src because edges are bidirected) — same shuffle the
    // node-set distinct() would cost, one fewer join round. Pairs and
    // cliques converge after a single confirming round from here.
    var labels = edges
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("cluster_id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // pointer jump WITHOUT a second join: label edges (u -> label(u))
      // union into the edge list, so the one neighbor-min join also
      // pulls label(label(u)) (label(u) is a node id, so the dst lookup
      // always resolves). Self edges (u -> u, flagged) ride the same
      // join to deliver label(u) itself into the aggregate — min over
      // {neighbor labels, label(label(u)), label(u)} is the new label,
      // and the flagged row alone is the OLD label, so the convergence
      // delta falls out of the one groupBy with no join back to the
      // previous round (the former left-join-on-labels cost a third
      // shuffle per round for exactly that delta). Every node has
      // exactly one self edge, so _old is total; label(u) >= new min by
      // the monotone-decrease invariant, so the extra rows never change
      // the result. One shuffle join + one groupBy per round.
      val roundEdges = edges.withColumn("_self", lit(false))
        .unionByName(labels.select(col("id").as("src"),
          col("cluster_id").as("dst"), lit(false).as("_self")))
        .unionByName(labels.select(col("id").as("src"),
          col("id").as("dst"), lit(true).as("_self")))
      val next = roundEdges
        .join(labels.select(col("id").as("dst"), col("cluster_id").as("dl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dl")).as("cluster_id"),
          min(when(col("_self"), col("dl"))).as("_old"))
        .localCheckpoint(true) // flat plan + full materialization
      i += 1
      // convergence probe every `probeEvery` rounds (and always on the
      // last permitted round): the count re-scans the checkpointed
      // labels, so skipping it trades a cheap cached scan against up to
      // probeEvery-1 redundant full rounds after the true fixpoint.
      // Measured at the components probe scale (BENCH_NOTES r7):
      // per-round counts WON — the default stays probeEvery=1.
      if (i % probeEvery == 0 || i == maxIter)
        converged = next.filter(col("cluster_id") =!= col("_old")).count() == 0
      labels = next.select("id", "cluster_id")
    }
    require(converged, s"dedupClusters did not converge in $maxIter rounds " +
      "(graph diameter exceeds maxIter — raise it; near-dup graphs are " +
      "quasi-cliques and converge in a handful)")
    labels
  }

  /** Canonical-doc selection from [[dedupClusters]] labels: every doc
    * keeps its cluster id (its own id when unpaired — the singleton
    * clusters dedupClusters leaves implicit), and `keep` marks the one
    * representative (min id) per cluster. `docs.filter(col("keep"))` is
    * the deduplicated corpus; the rest are the removal candidates with
    * their cluster provenance.
    */
  def canonicalizeClusters(docs: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame =
    docs
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("keep", col(idCol) === col("cluster_id"))

  /** SPAN-level duplication: character windows of `width` at `stride`
    * whose content recurs across >= `minDf` distinct documents, merged
    * per document into maximal spans (gaps-and-islands: two flagged
    * windows fuse when their starts are <= `width` apart, i.e. the
    * windows overlap or touch). This is the sub-document shape of
    * training-data dedup — a boilerplate header shared by thousands of
    * otherwise-distinct pages is invisible to whole-doc MinHash but
    * falls straight out of the window-hash histogram.
    *
    * Output: (doc_id, span_start (0-based char offset), span_end
    * (exclusive), n_windows).
    *
    * Scale shape (100 TB): window extraction is a per-row generator (no
    * shuffle); the df histogram is ONE hash-groupBy on the 16-byte window
    * digest (map-side combinable); flagged positions come back via ONE
    * equi-join on that digest (post-aggregation side is tiny: repeated
    * windows only); span merge is a per-doc window function. `maxDf`
    * (default 1024) is the standard skew guard: a window shared by m docs
    * lands m rows in one join bucket — boilerplate beyond the cap is
    * dropped from flagging, the df-prune recall trade as
    * [[ngramJaccardPairs]].
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      width: Int = 30, stride: Int = 10,
      minDf: Int = 2, maxDf: Int = 1024): DataFrame = {
    require(width > 0 && stride > 0 && minDf >= 2 && maxDf >= minDf,
      s"dupSpans: need width>0, stride>0, 2<=minDf<=maxDf; got width=$width stride=$stride minDf=$minDf maxDf=$maxDf")
    // offsets 0, stride, ... <= length-width (docs shorter than one
    // window contribute nothing); md5 digest so the shuffle carries 16
    // bytes per window, not the text
    val pos = docs
      .filter(length(col(textCol)) >= width)
      .select(col(idCol).as("did"),
        explode(sequence(lit(0), length(col(textCol)) - width, lit(stride))).as("pos"),
        col(textCol))
      .select(col("did"), col("pos"),
        md5(substr(col(textCol), col("pos") + 1, lit(width)).cast("binary")).as("h"))
    val hot = pos.groupBy("h")
      .agg(countDistinct(col("did")).as("_df"))
      .filter(col("_df") >= minDf && col("_df") <= maxDf)
      .select("h")
    val flagged = pos.join(hot, Seq("h")).select("did", "pos")
    val byDoc = Window.partitionBy(col("did")).orderBy(col("pos"))
    flagged
      .withColumn("_brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= width, 0).otherwise(1))
      .withColumn("_isl", sum(col("_brk")).over(byDoc))
      .groupBy(col("did"), col("_isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + width).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("did").as(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023 shape): cluster the
    * embedding space, then within each cluster flag every vector that has
    * a LOWER-id neighbor at cosine >= `threshold` — the kept set is the
    * per-cluster min-id representatives of each near-dup neighborhood.
    * Output: (idCol, cluster_id, keep) for EVERY input row.
    *
    * Centroids are the `nClusters` corpus rows with smallest
    * md5(seed:id) — the same deterministic, engine-portable codebook
    * stand-in as [[Ann.ivfTopK]] (a production build swaps in the
    * k-means codebook of [[Ann.ivfTopKKMeans]]; the declared query stays
    * on the md5 path so the oracle can replay it).
    *
    * Scale shape (100 TB): the centroid table is tiny and broadcast (the
    * only nested-loop join); assignment is one argmax window over
    * |corpus| x nClusters scores; the within-cluster pair scan shuffles
    * the corpus ONCE on cluster_id and is Θ(Σ c_i²) — exactly SemDeDup's
    * published cost, which production tames by raising nClusters so cells
    * stay small. `maxCluster` is the skew guard: cells above the cap
    * contribute no pairs (members report keep=true, the same
    * recall-for-boundedness trade as every banded family here), so one
    * mega-cell can never go quadratic. Vectors ride THROUGH the cid
    * shuffle (c rows) rather than re-joining onto the c² pair stream —
    * the cheaper side of the bare-id-pairs trade, inverted deliberately.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nClusters: Int = 8, seed: String = "42",
      maxCluster: Int = 4096): DataFrame = {
    require(nClusters > 0 && maxCluster > 0,
      s"semanticDedup: need nClusters>0, maxCluster>0; got $nClusters, $maxCluster")
    val cv = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val cents = Ann.md5Sample(cv, "id", seed, nClusters)
      .select(col("id").as("cid"), col("v").as("cvec"))
    val scored = cv.crossJoin(broadcast(cents))
      .select(col("id"), col("v"), col("cid"),
        graft.functions.VectorFunctions.cosine(col("v"), col("cvec")).as("ccos"))
    val byId = Window.partitionBy(col("id")).orderBy(col("ccos").desc, col("cid").asc)
    val assigned = scored.withColumn("_rn", row_number().over(byId))
      .filter(col("_rn") === 1).select(col("id"), col("cid"), col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped = assigned
      .withColumn("_sz", count(lit(1)).over(Window.partitionBy(col("cid"))))
      .filter(col("_sz") <= maxCluster)
      .select(col("cid"), col("id"), col("v"))
    val dupIds = capped.select(col("cid"), col("id").as("_hi"), col("v").as("_vh"))
      .join(capped.select(col("cid"), col("id").as("_lo"), col("v").as("_vl")), Seq("cid"))
      .filter(col("_lo") < col("_hi"))
      .filter(graft.functions.VectorFunctions.cosine(col("_vh"), col("_vl")) >= threshold)
      .select(col("_hi").as("id")).distinct()
    assigned
      .join(dupIds.withColumn("_dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cid").as("cluster_id"),
        coalesce(col("_dup"), lit(false)).as("_d"))
      .withColumn("keep", !col("_d")).drop("_d")
  }

  /** Robust winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the MOSS algorithm; EXT, no reference analog): hash every
    * character `k`-gram, slide a window of `w` consecutive gram hashes,
    * and select the MINIMUM hash of each window (rightmost position on
    * ties — "robust" winnowing, so runs of equal minima fingerprint
    * once). Guarantee: any substring shared between two documents of
    * length >= w + k - 1 contributes at least one SHARED fingerprint,
    * while expected density is only 2/(w+1) of positions — a
    * position-robust partial-overlap detector, unlike [[dupSpans]]'s
    * stride grid (which misses shared runs that straddle stride
    * alignment between docs).
    *
    * Output: (idCol, fp, fp_pos) — one row per selected fingerprint;
    * `fp` is the md5 hex of the k-gram (engine-portable), `fp_pos` its
    * 0-based character offset.
    *
    * Implementation notes, all chosen for oracle portability AND scale:
    *  - the rightmost-min tie rule rides ONE sortable string:
    *    md5-hex ++ zero-padded (10^9 - pos). MIN of that string picks
    *    the smallest hash and, among equal hashes, the LARGEST offset —
    *    so a single windowed MIN (any SQL engine) implements the
    *    published selection rule with no arg-min construct.
    *  - only FULL windows select (pos <= grams - w): truncated trailing
    *    windows would over-fingerprint short suffixes.
    *  - scale shape (100 TB): the per-char explode is the honest cost of
    *    the published algorithm (len rows/doc, same order as dupSpans at
    *    stride 1) but everything up to the DISTINCT is partitioned BY
    *    DOC — one shuffle keyed on uniform doc ids, window functions
    *    per doc, no cross-doc traffic. Only the selected fingerprints
    *    (density 2/(w+1)) leave the doc partition. Cross-doc joins on
    *    `fp` happen downstream on that reduced set ([[winnowOverlapPairs]]).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, s"winnowFingerprints: need k>0, w>0; got k=$k w=$w")
    // The whole selection runs MAP-SIDE with array higher-order
    // functions: gram encodings, per-window minima, and the per-doc
    // distinct all happen inside the row, and only SELECTED fingerprints
    // (expected density 2/(w+1)) ever explode. The previous shape
    // exploded every character position and ran the window min over a
    // per-doc Window — shuffling a gram frame ~(32+10)x the corpus text
    // bytes only to discard ~90% of it (measured 5.8 -> 1.3 s at sf0.1).
    // Projection steps stay separate (CollapseProject note in
    // Ann.pqEncode): `_grams` is referenced by both the window transform
    // and its sequence bound.
    // CPU-bound at ~(32+10+w) derived bytes per input char: if the scan
    // yields fewer splits than cores (one small local file), rebalance
    // 1x text bytes so the gram hashing uses every core (measured 5.0 ->
    // 1.1 s at sf0.1). A big corpus already has splits >> cores and
    // skips the exchange entirely.
    val base = docs.filter(length(col(textCol)) >= k + w - 1)
    val target = docs.sparkSession.sparkContext.defaultParallelism
    val balanced =
      if (base.rdd.getNumPartitions < target) base.repartition(target) else base
    balanced
      .select(col(idCol).as("_did"), col(textCol).as("_t"))
      // md5 hex ++ (10^9 - pos) zero-padded: lexicographic MIN = (min
      // hash, rightmost pos) — "robust" winnowing's tie rule. Offsets
      // < 10^9 hold for any document a single Spark row can represent.
      .select(col("_did"),
        transform(sequence(lit(0), length(col("_t")) - k),
          pos => concat(md5(substr(col("_t"), pos + 1, lit(k)).cast("binary")),
            lpad((lit(1000000000) - pos).cast("string"), 10, "0"))).as("_grams"))
      .select(col("_did"),
        array_distinct(transform(sequence(lit(0), size(col("_grams")) - w),
          i => array_min(slice(col("_grams"), i + 1, lit(w))))).as("_sels"))
      // explode_OUTER, deliberately: InferFiltersFromGenerate synthesizes
      // a `size(arr) > 0` scan filter from an inner explode, substituting
      // the alias chain — which re-evaluates the gram transform INSIDE
      // the per-window slice lambda, an O(ng^2) md5 blowup (measured 100 s
      // for sf0.01 vs ~1 s without). The rule skips outer generate; the
      // length filter above already guarantees non-empty arrays, and the
      // null guard below is belt-and-braces on the generated column.
      .select(col("_did"), explode_outer(col("_sels")).as("_sel"))
      .filter(col("_sel").isNotNull)
      .select(col("_did").as(idCol),
        substring(col("_sel"), 1, 32).as("fp"),
        (lit(1000000000) - substring(col("_sel"), 33, 10).cast("long")).as("fp_pos"))
  }

  /** Partial-overlap candidate pairs from winnowing fingerprints: docs
    * sharing >= `minShared` distinct selected k-gram hashes. By the
    * winnowing guarantee, any pair sharing a substring of length
    * >= w + k - 1 appears here (with minShared=1); minShared=2 is the
    * usual noise floor. `maxDf` is the standard hot-key guard (a
    * boilerplate fingerprint shared by m docs lands m rows in one join
    * bucket — same window-count cap shape as [[ngramJaccardPairs]],
    * same bounded-recall trade, ONE reusable exchange on fp).
    */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2, maxDf: Int = 64): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"winnowOverlapPairs: need minShared>=1, maxDf>=2; got $minShared, $maxDf")
    // r14: the capped fingerprint frame is persisted — the pair
    // self-join references it on BOTH sides, and without the pin the
    // winnowing pass (char shingles, window minima, df window) executed
    // twice per run (§5; the ngramJaccardPairs shAll discipline)
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("_did"), col("fp")).distinct()
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("_df") <= maxDf)
      .select("_did", "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fps.select(col("fp"), col("_did").as("id_a"))
      .join(fps.select(col("fp"), col("_did").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fellegi-Sunter record-linkage weight estimation (Fellegi-Sunter
    * '69 — the probabilistic-ER standard under Splink and every census
    * matcher): over LABELED candidate pairs, per comparison field f,
    * m_f = P(agree | match) and u_f = P(agree | non-match), and the
    * log2 Bayes-factor weights w_agree = log2(m/u), w_disagree =
    * log2((1−m)/(1−u)) a scorer adds per observed (dis)agreement.
    * All four probabilities are exact BIGINT ratios out of ONE
    * conditional aggregate over the pair frame (no per-field passes);
    * weights are guarded CASE-around-division (a degenerate field with
    * u = 0 or m = 1 yields null, never ±inf or an ANSI raise),
    * round(6) per the log discipline.
    *
    * Output per field: (field, n_match, n_nonmatch, m, u, w_agree,
    * w_disagree).
    *
    * Scale shape (100 TB): the caller brings blocked pairs (an
    * equi-join on the blocking key — the ER shape); this is one
    * map-side-combinable aggregate over them, 1 row out per field.
    */
  def fellegiSunterWeights(pairs: DataFrame, isMatch: Column,
      agreements: Seq[(String, Column)]): DataFrame = {
    require(agreements.nonEmpty, "fellegiSunterWeights: need >= 1 field")
    val aggs = Seq(
      sum(when(isMatch, 1L).otherwise(0L)).as("_nm"),
      sum(when(!isMatch, 1L).otherwise(0L)).as("_nu")) ++
      agreements.flatMap { case (f, p) => Seq(
        sum(when(isMatch && p, 1L).otherwise(0L)).as(s"_ma_$f"),
        sum(when(!isMatch && p, 1L).otherwise(0L)).as(s"_ua_$f")) }
    fellegiSunterWeightsFromCounts(pairs.agg(aggs.head, aggs.tail: _*),
      agreements.map(_._1))
  }

  /** [[fellegiSunterWeights]]'s weight construction over an ALREADY
    * aggregated 1-row count frame (`_nm`, `_nu`, and `_ma_f`/`_ua_f`
    * per field) — split out (r14) so a caller that derives the counts
    * WITHOUT materializing the blocked pair frame (per-block attribute-
    * cell marginal products + the linear labeled-match join; at scale
    * the blocked pair count is quadratic in block size while the cell
    * count is attribute-cardinality-bounded) shares the exact guarded
    * m/u/weight arithmetic.
    */
  def fellegiSunterWeightsFromCounts(one: DataFrame,
      fieldNames: Seq[String]): DataFrame = {
    require(fieldNames.nonEmpty, "fellegiSunterWeightsFromCounts: need >= 1 field")
    val fields = explode(array(fieldNames.map { f =>
      struct(lit(f).as("field"), col(s"_ma_$f").as("_ma"),
        col(s"_ua_$f").as("_ua")) }: _*))
    val m = col("_ma").cast("double") / col("_nm").cast("double")
    val u = col("_ua").cast("double") / col("_nu").cast("double")
    one.select(col("_nm"), col("_nu"), fields.as("_f"))
      .select(col("_f.field").as("field"), col("_f._ma").as("_ma"),
        col("_f._ua").as("_ua"), col("_nm"), col("_nu"))
      .select(col("field"), col("_nm").as("n_match"),
        col("_nu").as("n_nonmatch"),
        when(col("_nm") > 0L, round(m, 6)).as("m"),
        when(col("_nu") > 0L, round(u, 6)).as("u"),
        when(col("_ma") > 0L && col("_ua") > 0L, round(log2(m / u), 6))
          .as("w_agree"),
        when(col("_nm") > col("_ma") && col("_nu") > col("_ua") &&
            col("_nm") > 0L && col("_nu") > 0L,
          round(log2((lit(1.0) - m) / (lit(1.0) - u)), 6)).as("w_disagree"))
  }

  /** ROUGE-n overlap scoring of candidate pairs (Lin \'04 applied to
    * dedup triage): MULTISET n-gram overlap Σ_g min(c_a, c_b) — the
    * graded "how much is actually shared" readout after a set-based
    * candidate pass (Jaccard treats a gram repeated 50x and once as
    * identical; ROUGE counts the repetition). Recall is against id_a
    * (the reference side of the canonical a < b pair), precision
    * against id_b, F1 the harmonic mean.
    *
    * Output: (id_a, id_b, n_a, n_b, overlap, rouge2_p, rouge2_r,
    * rouge2_f) per pair that shares at least one gram.
    *
    * Scale shape (100 TB): gram counts are ONE (id, gram) aggregate;
    * the pair join is candidate-bounded (pairs come from a banded/
    * prefix-filtered generator, never all-pairs), and the overlap
    * groupBy is keyed by the pair.
    */
  def rougeOverlap(pairs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, n: Int = 2): DataFrame = {
    require(n >= 1, s"rougeOverlap: need n>=1, got $n")
    val grams = corpus
      .select(col(idCol).as("_id"),
        explode(TextFunctions.wordShingles(col(textCol), n)).as("_g"))
      .groupBy(col("_id"), col("_g")).agg(count(lit(1)).as("_c"))
    val tot = grams.groupBy(col("_id")).agg(sum(col("_c")).as("_nn"))
    val ov = pairs.select(col("id_a"), col("id_b"))
      .join(grams.select(col("_id").as("id_a"), col("_g"),
        col("_c").as("_ca")), Seq("id_a"))
      .join(grams.select(col("_id").as("id_b"), col("_g"),
        col("_c").as("_cb")), Seq("id_b", "_g"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(col("_ca"), col("_cb"))).as("overlap"))
    val scored = ov
      .join(tot.select(col("_id").as("id_a"), col("_nn").as("n_a")), Seq("id_a"))
      .join(tot.select(col("_id").as("id_b"), col("_nn").as("n_b")), Seq("id_b"))
    val p0 = col("overlap").cast("double") / col("n_b").cast("double")
    val r0 = col("overlap").cast("double") / col("n_a").cast("double")
    scored.select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
      col("overlap"), round(p0, 6).as("rouge2_p"), round(r0, 6).as("rouge2_r"),
      when(p0 + r0 > 0.0, round(lit(2.0) * p0 * r0 / (p0 + r0), 6))
        .as("rouge2_f"))
  }
}
