package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for the training-data pipeline (EXT per
  * SURVEY north star): leakage-safe dataset splits and context-window
  * sequence packing — the two steps between "clean corpus" and "batches
  * on the trainer".
  */
object Corpus {

  /** Deterministic train/val/test assignment: each row lands in the split
    * whose cumulative-fraction interval contains
    * u = md5_48bit(seed:key) / 2^48 (uniform in [0,1), a pure function of
    * the KEY — so the assignment is reproducible across runs, engines and
    * cluster sizes, and keyed rows can never leak across splits between
    * pipeline versions, the property random splits lose the moment data
    * is re-partitioned). One projection, no shuffle; boundaries are plain
    * double literals so any SQL engine replays the assignment.
    */
  def assignSplit(df: DataFrame, keyCol: String,
      fractions: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      seed: String = "42", as: String = "split"): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0),
      "fractions must be positive")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val u = conv(substring(md5(concat(lit(seed + ":"), col(keyCol).cast("string"))), 1, 12), 16, 10)
      .cast("double") / lit(math.pow(2, 48))
    // cumulative boundaries accumulated left-to-right — the same doubles
    // an oracle computes from the same literals in the same order
    val bounds = fractions.scanLeft(0.0)(_ + _._2).tail
    val assign = fractions.zip(bounds).reverse
      .foldLeft(lit(fractions.last._1): org.apache.spark.sql.Column) {
        case (acc, ((name, _), hi)) => when(u < hi, lit(name)).otherwise(acc)
      }
    df.withColumn(as, assign)
  }

  /** The reusable decontamination index: the test set's distinct word
    * n-grams (persisted — every corpus pass and every ingest micro-batch
    * joins it) plus a [[org.apache.spark.util.sketch.BloomFilter]] over
    * them, sized by their exact count. Build once per eval set and feed
    * [[decontaminate]]-shaped passes or
    * [[graft.streaming.StreamOps.contaminationHitsStream]]. Requires a
    * non-empty test set (a bloom over nothing has no bits to read).
    */
  def decontaminationIndex(testSet: DataFrame, testTextCol: String,
      n: Int = 8, fpp: Double = 0.01): (DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    import graft.functions.TextFunctions
    val testNg = testSet
      .select(explode(TextFunctions.wordShingles(col(testTextCol), n)).as("ng"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNg = testNg.count() // index-build action: sizes the filter exactly
    require(nNg > 0, "decontaminationIndex needs a non-empty test set " +
      "(no doc reaches the n-gram length)")
    (testNg, testNg.stat.bloomFilter("ng", nNg, fpp))
  }

  /** Eval-set decontamination (EXT — the step a training pipeline runs
    * before any benchmark is trusted): flag every corpus document
    * sharing at least one word `n`-gram with the test/eval set, with the
    * exact hit count as provenance. Output: (idCol, n_hits) for
    * contaminated docs only — `corpus.join(result, _, "left_anti")` is
    * the clean corpus.
    *
    * Scale shape — the corpus side is MAP-ONLY until proven dirty:
    * test-set n-grams (distinct, persisted) feed a [[BloomFilter]] sized
    * by their exact count (one index-build action); each corpus doc then
    * short-circuits through `exists(ngrams, mightContain)` — no explode,
    * no shuffle, no join for the overwhelmingly-clean majority. Only
    * might-contain survivors explode their distinct n-grams into the
    * exact join that removes bloom false positives (never false
    * negatives, by the filter's contract — so the result equals the
    * plain semi-join bit for bit and stays oracle-checkable while the
    * bloom stays invisible). At 100 TB the alternative — exploding every
    * corpus doc into a shuffle join keyed on n-grams — moves ~100x the
    * corpus text through the network; this moves the flagged sliver.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      testSet: DataFrame, testTextCol: String, n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.{BloomFunctions, TextFunctions}
    val probeSz = testSet
      .select(explode(TextFunctions.wordShingles(col(testTextCol), n)).as("ng"))
      .limit(1)
    // empty probe set: nothing can be contaminated (and stat.bloomFilter
    // over zero rows yields no filter to read) — empty result, same schema
    if (probeSz.isEmpty)
      return corpus.select(col(idCol), lit(0L).as("n_hits")).limit(0)
    val (testNg, bloom) = decontaminationIndex(testSet, testTextCol, n, fpp)
    // ONE fused codegen kernel per doc (shingle + probe + short-circuit,
    // no array materialization, no interpreted HOF lambda — see
    // BloomFunctions.anyWordShingleIn); only flagged docs materialize
    // their shingle arrays for the exact join
    val flagged = corpus
      .filter(BloomFunctions.anyWordShingleMightContain(col(textCol), n, bloom))
    flagged
      .select(col(idCol), explode(array_distinct(
        TextFunctions.wordShingles(col(textCol), n))).as("ng"))
      .join(testNg, Seq("ng"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** RAG-prep token-window chunking: fixed `chunkSize`-token windows
    * advancing by `chunkSize - overlap`, ragged last window, every token
    * covered exactly once by some window start (HF-tokenizer
    * `return_overflowing_tokens` semantics: n_chunks =
    * 1 + ceil((len - chunkSize) / stride) when len > chunkSize).
    *
    * Expression-only (split/sequence/explode/slice) so chunking stays
    * inside whole-stage codegen and shuffles NOTHING: the explosion is a
    * map-side row multiplier of ~len/stride, and at 100 TB the chunked
    * frame writes straight back to parquet partitioned however the caller
    * wants — there is no key to skew on.
    * Output: (id, chunk_id, n_tokens, chunk_text).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = split(trim(col(textCol)), "\\s+")
    docs.select(col(idCol), toks.as("_w"))
      .select(col(idCol), col("_w"),
        (lit(1) + greatest(lit(0),
          floor((size(col("_w")) - chunkSize + (stride - 1)).cast("double") / stride)
            .cast("int"))).as("_nc"))
      .select(col(idCol), col("_w"),
        explode(sequence(lit(0), col("_nc") - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        least(lit(chunkSize), size(col("_w")) - col("chunk_id") * stride)
          .as("n_tokens"),
        array_join(slice(col("_w"), col("chunk_id") * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  /** Pack documents into fixed-token-budget context windows (sequence
    * packing): greedy first-fit over each partition, emitting
    * (bin_id, pos_in_bin) per document. Docs longer than the budget get
    * a bin of their own (truncation is the tokenizer's job, not the
    * packer's).
    *
    * Scale shape: packing is inherently sequential, so the greedy scan
    * runs PER PARTITION (mapPartitions, zero shuffle beyond the optional
    * pre-sort) and bin ids are (partition, local-bin) pairs encoded as
    * one long — the standard distributed compromise: within-partition
    * packing quality, global parallelism. Sorting by descending length
    * first (caller's choice) approximates first-fit-decreasing.
    * Determinism: for a fixed partitioning and row order the output is a
    * pure function of the input — pin both (e.g. `repartitionByRange` +
    * `sortWithinPartitions`) for run-to-run stability.
    */
  def packSequences(df: DataFrame, idCol: String, lengthCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val ds = df.select(col(idCol).cast("long").as("doc_id"),
      col(lengthCol).cast("long").as("n_tokens")).as[(Long, Long)]
    ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId().toLong
      var localBin = -1L
      var used = 0L
      var pos = 0
      it.map { case (id, n) =>
        // localBin check (not a sentinel `used`) opens the first bin —
        // a Long sentinel would overflow in `used + n`
        if (localBin == -1L || used + n > budget) { localBin += 1; used = 0L; pos = 0 }
        used += n
        pos += 1
        (id, n, (pid << 32) | localBin, pos - 1)
      }
    }.toDF("doc_id", "n_tokens", "bin_id", "pos_in_bin")
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020 shape): rank the
    * corpus by an LM score and cut it into equal-population buckets —
    * CCNet's head/middle/tail thirds by perplexity. `scoreCol` ascends
    * from worst to best (e.g. mean log-probability: LOW logprob = HIGH
    * perplexity = tail), so labels run worst-first.
    *
    * The global rank rides [[Relational.twoPhaseDenseIds]] (range
    * repartition + per-partition offsets) rather than a partition-less
    * row_number window — the single-task sort that global ntile/ntile-3
    * would cost at 100 TB is the whole reason this helper exists. Ties
    * break on `idCol`, so the rank (and therefore every bucket edge) is
    * total and engine-portable; the count side is a 1-row broadcast.
    */
  def rankBuckets(scored: DataFrame, idCol: String, scoreCol: String,
      labels: Seq[String] = Seq("tail", "middle", "head"),
      as: String = "bucket"): DataFrame = {
    require(labels.nonEmpty, "rankBuckets: need at least one label")
    val m = labels.size
    val ranked = Relational.twoPhaseDenseIds(
      scored.select(col(scoreCol), col(idCol)), Seq(scoreCol, idCol), "_rn")
    val n = scored.agg(count(lit(1)).as("_n"))
    // bucket i (0-based) gets ranks rn with rn*m <= (i+1)*n — the same
    // integer arithmetic any SQL engine replays exactly
    val assign = labels.init.zipWithIndex.reverse
      .foldLeft(lit(labels.last): org.apache.spark.sql.Column) {
        case (acc, (name, i)) =>
          when(col("_rn") * m <= col("_n") * (i + 1), lit(name)).otherwise(acc)
      }
    ranked.crossJoin(broadcast(n))
      .withColumn(as, assign)
      .drop("_rn", "_n")
  }

  /** Per-(doc, bucket) hashed-feature counts — the shared front half of
    * the DSIR pipeline (one token/bigram explode, one doc-sized
    * shuffle). */
  private def dsirDocBuckets(docs: DataFrame, idCol: String, textCol: String,
      targetFlag: org.apache.spark.sql.Column, buckets: Int): DataFrame = {
    val hexDigits = (math.log(buckets) / math.log(16)).round.toInt
    require(buckets == math.pow(16, hexDigits).round.toInt && hexDigits >= 1 && hexDigits <= 4,
      s"buckets must be 16, 256, 4096 or 65536; got $buckets")
    // r14 (guide §4): the unigram+bigram feature stream and its md5
    // bucketing are ONE fused native kernel per document —
    // TextFunctions.dsirFeatureBuckets emits the identical feature
    // multiset (all tokens, then adjacent space-joined bigrams when
    // >= 2 tokens) bucketed by the identical first-h-nibbles-of-md5
    // rule; the composed form paid an interpreted transform lambda +
    // concat_ws + a full md5 hex round-trip per bigram. explode_OUTER
    // per the winnow lesson (an inner explode's inferred size-filter
    // would re-run the kernel); the array is never empty (a blank doc
    // yields the [""] token, as split(trim(..)) did).
    val feats = docs.select(col(idCol).as("_id"), targetFlag.as("_tgt"),
      explode_outer(graft.functions.TextFunctions.dsirFeatureBuckets(
        col(textCol).cast("string"), hexDigits)).as("_b"))
    // persist the (doc, bucket) counts: this frame feeds BOTH the
    // bucket-distribution aggregate and the per-doc weight join inside
    // dsirLogWeights (Spark re-executes repeated subtrees — invariant
    // of the bfsHops/NSW class), and its plan is IDENTICAL across
    // dsirLogWeights / dsirDistTable / gumbelTopK-over-weights calls
    // with the same arguments, so CacheManager's plan-equality lookup
    // shares ONE token-explode scan across the whole DSIR family in a
    // long-lived session. (_id, _b, n) is ~1% of corpus bytes —
    // MEMORY_AND_DISK, the Dedup-family discipline. LIFETIME: distinct
    // (corpus, args) calls each pin their own entry for the session —
    // suite runners clear per query, the LRU store evicts under memory
    // pressure, and long-lived sessions that sweep MANY corpora through
    // the DSIR family should spark.catalog.clearCache() (or unpersist
    // the returned frame) once a corpus's DSIR work completes.
    feats.groupBy("_id", "_b")
      .agg(count(lit(1)).as("_n"), first(col("_tgt")).as("_tgt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The smoothed log-ratio table over the fixed bucket space:
    * (_b, _cr, _ct, _lw) with _lw = round(log p_target - log p_raw, 9)
    * as exact DECIMAL(20,9). `buckets` rows at any corpus size. */
  def dsirDistTable(docs: DataFrame, idCol: String, textCol: String,
      targetFlag: org.apache.spark.sql.Column,
      buckets: Int = 256): DataFrame =
    distTableFrom(dsirDocBuckets(docs, idCol, textCol, targetFlag, buckets), buckets)

  private def distTableFrom(docBuckets: DataFrame, buckets: Int): DataFrame = {
    val dist = docBuckets
      .groupBy("_b")
      .agg(sum(col("_n")).as("_cr"),
        sum(when(col("_tgt"), col("_n")).otherwise(0L)).as("_ct"))
    val totals = dist.agg(sum("_cr").as("_tr"), sum("_ct").as("_tt"))
    dist.crossJoin(broadcast(totals))
      .select(col("_b"), col("_cr"), col("_ct"),
        // add-one smoothed log-ratio, quantized to exact decimal
        round(log((col("_ct") + 1).cast("double") / (col("_tt") + buckets))
          - log((col("_cr") + 1).cast("double") / (col("_tr") + buckets)), 9)
          .cast("decimal(20,9)").as("_lw"))
  }

  /** DSIR importance log-weights (Xie et al. 2023, "Data Selection via
    * Importance Resampling"): score each document by how much more
    * likely its hashed n-gram features are under a TARGET distribution
    * than under the RAW corpus distribution —
    * log w(doc) = sum over features of [log p_target(b) - log p_raw(b)]
    * with features = word unigrams + bigrams hashed into `buckets`
    * buckets and add-one smoothing on both bucket distributions.
    * `targetFlag` marks the target rows (e.g. lang = 'en').
    *
    * Output: (idCol, n_feats, dsir_logweight). Downstream, resample
    * proportionally to the weight (see the declared Gumbel top-k query)
    * or threshold.
    *
    * Scale shape (100 TB): one token/bigram explode, then every
    * aggregate is over the FIXED bucket space — the two distribution
    * tables are `buckets` rows regardless of corpus size, so their join
    * back onto the feature stream is an always-legal broadcast (never
    * data-sized, unlike a vocab join). Per-bucket log-ratios are
    * quantized to DECIMAL(20,9) BEFORE the per-doc sum so the sum is
    * exact integer-scaled arithmetic — order-independent, safe under any
    * partial-aggregation schedule, and bit-identical across engines (a
    * raw double sum would drift by ulps under Spark's two-phase agg).
    *
    * `buckets` must be a power of 16 up to 65536: the bucket id is the
    * first log16(buckets) md5 hex digits of the feature — the
    * engine-portable hash idiom shared with [[assignSplit]].
    */
  def dsirLogWeights(docs: DataFrame, idCol: String, textCol: String,
      targetFlag: org.apache.spark.sql.Column,
      buckets: Int = 256): DataFrame = {
    val docBuckets = dsirDocBuckets(docs, idCol, textCol, targetFlag, buckets)
    val table = distTableFrom(docBuckets, buckets).select("_b", "_lw")
    // no broadcast hint: the table is <= `buckets` rows at ANY corpus
    // size, so AQE picks broadcast at runtime — and the suite-wide rule
    // (PlanSpec) is that hints never wrap grouped aggregates, since the
    // boundedness of a grouping key is invisible to a static sweep
    docBuckets.join(table, Seq("_b"))
      .groupBy("_id")
      // _n rides as DECIMAL(10,0), NOT bigint: decimal(20,9) * bigint
      // is precision 41 > 38, and Spark's default precision-loss rule
      // silently drops the product to SCALE 6 — a 1e-6 drift that broke
      // the oracle hash. decimal(20,9) * decimal(10,0) = (31,9), exact.
      .agg(sum(col("_n")).as("n_feats"),
        round(sum(col("_lw") * col("_n").cast("decimal(10,0)")).cast("double"), 6)
          .as("dsir_logweight"))
      .select(col("_id").as(idCol), col("n_feats"), col("dsir_logweight"))
  }

  /** Corpus snapshot diff (EXT — the CDC primitive of incremental
    * ingestion): classify every key across two corpus versions as
    * `added` / `removed` / `changed`, dropping unchanged rows. Change
    * detection compares md5 CONTENT FINGERPRINTS computed map-side, so
    * the full-outer shuffle moves 32-byte digests instead of document
    * bodies — at 100 TB the join payload is ~0.03% of the corpus. One
    * sort-merge full-outer join on the key; no other shuffle. The digest
    * is the engine-portable md5-of-text idiom, so any SQL engine replays
    * the classification bit for bit.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      payloadCol: String): DataFrame = {
    val o = oldDf.select(col(keyCol).as("_k"), md5(col(payloadCol)).as("_fo"))
    val n = newDf.select(col(keyCol).as("_k"), md5(col(payloadCol)).as("_fn"))
    o.join(n, Seq("_k"), "full_outer")
      .withColumn("status",
        when(col("_fn").isNull, "removed")
          .when(col("_fo").isNull, "added")
          .when(col("_fo") =!= col("_fn"), "changed"))
      .filter(col("status").isNotNull)
      .select(col("_k").as(keyCol), col("status"))
  }

  /** Corpus-wide top-k most frequent word `n`-grams — the heavy-hitter
    * report behind boilerplate hunting and stop-phrase lists. Scale
    * shape: the explode feeds ONE map-combinable groupBy (partial
    * aggregation absorbs heavy hitters before the shuffle — the hottest
    * gram contributes one partial row per task, not one row per
    * occurrence), and the global top-k compiles to
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    * Total order: count desc, gram asc.
    */
  def topNgrams(docs: DataFrame, textCol: String, n: Int = 2,
      k: Int = 20): DataFrame = {
    require(n >= 1 && k >= 1, s"topNgrams: need n>=1 and k>=1, got n=$n k=$k")
    docs
      .select(explode(graft.functions.TextFunctions.wordShingles(col(textCol), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)
  }

  /** Dictionary phrase tagging (the distributed analogue of an
    * Aho-Corasick pass): count, per document, the occurrences of each
    * phrase from a fixed dictionary. Phrases are grouped by word count;
    * each group costs one n-gram explode, and all groups union into ONE
    * join against the broadcast dictionary (a literal — broadcasting it
    * is always legal, unlike data-sized vocabularies). Output:
    * (idCol, phrase, hits) for docs with at least one hit. Overlapping
    * occurrences count separately (sliding shingles), matching the
    * regex-scan semantics of a single-node tagger.
    */
  def phraseHits(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phraseHits: need at least one phrase")
    val lens = phrases.map(p => p.trim.split("\\s+").length).distinct.sorted
    val grams = lens.map { n =>
      docs.select(col(idCol).as("_id"),
        explode(graft.functions.TextFunctions.wordShingles(col(textCol), n)).as("phrase"))
    }.reduce(_ unionByName _)
    val dict = docs.sparkSession.createDataFrame(phrases.distinct.map(Tuple1(_)))
      .toDF("phrase")
    grams.join(broadcast(dict), Seq("phrase"))
      .groupBy("_id", "phrase").agg(count(lit(1)).as("hits"))
      .select(col("_id").as(idCol), col("phrase"), col("hits"))
  }

  /** Vocabulary growth curve (Heaps' law probe): cut the corpus into
    * `buckets` equal-population prefixes under ascending `idCol` order
    * and report, per bucket, how many NEVER-BEFORE-SEEN word types first
    * appear there plus the cumulative vocabulary size. A flattening
    * curve says the corpus has stopped contributing new vocabulary —
    * the saturation signal data-mixing decisions read.
    *
    * Scale shape: per-doc distinct tokens dedup MAP-SIDE
    * (array_distinct before the explode); first occurrence is one
    * min-groupBy on the token; the doc rank rides
    * [[Relational.twoPhaseDenseIds]] (no partition-less window over the
    * corpus); bucket assignment is pure integer arithmetic
    * (ceil(rank*buckets/n) via `div` — engine-portable, no float
    * boundary); the final cumulative window runs over <= `buckets`
    * rows, a bounded frame by construction.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10, n: Int = 1): DataFrame = {
    require(buckets >= 1 && n >= 1,
      s"vocabGrowth: need buckets>=1 and n>=1, got buckets=$buckets n=$n")
    val ids = Relational.twoPhaseDenseIds(
      docs.select(col(idCol)).distinct(), Seq(idCol), "_rn")
    val nDocs = docs.agg(count_distinct(col(idCol)).as("_n"))
    val bucketed = ids.crossJoin(broadcast(nDocs))
      // 1-based equal-population bucket: ceil(rn*B/n) as exact integer
      // arithmetic — (rn*B + n - 1) div n, the idiom rankBuckets shares
      .withColumn("bucket",
        expr(s"cast((_rn * $buckets + _n - 1) div _n as int)"))
      .select(col(idCol).as("_fid"), col("bucket"))
    // the "type" is the word n-gram (n=1: unigram vocabulary; n>=2:
    // Heaps' law over composite types — a far larger space, so the
    // curve stays informative after the unigram vocab saturates)
    val types =
      if (n == 1) array_distinct(split(trim(col(textCol)), "\\s+"))
      else array_distinct(graft.functions.TextFunctions.wordShingles(col(textCol), n))
    val first = docs
      .select(col(idCol).as("_id"), explode(types).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(min(col("_id")).as("_fid"))
    first.join(bucketed, Seq("_fid"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
      .withColumn("vocab_cum", sum(col("new_terms")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))))
      .select(col("bucket"), col("new_terms"), col("vocab_cum"))
  }

  /** Windowed co-occurrence PMI (the word2vec/GloVe statistic): count
    * unordered token pairs within `window` positions, then score
    * pmi = ln(p(a,b) / (p(a) p(b))) against unigram frequencies.
    * Output: top-k pairs with count >= minCount by (pmi desc, w1, w2).
    *
    * Scale shape: pair generation is a map-side nested-lambda explode
    * (window * tokens rows, never materialized — partial aggregation
    * combines before the shuffle); both count tables are map-combinable
    * groupBys; the two unigram joins are on vocabulary-sized keys, so
    * they carry NO broadcast hint (AQE decides — a vocabulary is
    * data-sized); totals ride 1-row broadcast crossJoins. The pmi input
    * is built from IEEE-deterministic ratios of exact counts and
    * quantized to 6 decimals, the suite's float discipline.
    */
  def pmiPairs(docs: DataFrame, textCol: String, window: Int = 2,
      minCount: Long = 5, k: Int = 30): DataFrame = {
    require(window >= 1 && k >= 1, s"pmiPairs: need window>=1, k>=1")
    val words = docs.select(split(trim(col(textCol)), "\\s+").as("_w"))
      .filter(size(col("_w")) >= 2)
    val pairs = words
      .select(explode(flatten(transform(sequence(lit(1), size(col("_w")) - 1), i =>
        transform(sequence(i + 1, least(i + lit(window), size(col("_w")))), j =>
          struct(
            least(element_at(col("_w"), i), element_at(col("_w"), j)).as("w1"),
            greatest(element_at(col("_w"), i), element_at(col("_w"), j)).as("w2")))))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val pc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cp"))
    val uni = docs.select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val np = pc.agg(sum(col("cp")).as("_np"))
    val nt = uni.agg(sum(col("cw")).as("_nt"))
    pc.filter(col("cp") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(np)).crossJoin(broadcast(nt))
      .withColumn("pmi", round(
        log((col("cp").cast("double") / col("_np")) /
          ((col("c1").cast("double") / col("_nt")) *
           (col("c2").cast("double") / col("_nt")))), 6))
      .select(col("w1"), col("w2"), col("cp"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Per-group corpus cap (source-level curation: "at most N docs per
    * source, best first" — the standard lever against one crawl
    * drowning the mixture). Keeps the top `cap` rows per group under
    * (orderCols, idCol-tie) and returns them with their in-group rank.
    *
    * Shape: one rank window partitioned by the group — the canonical
    * grouped top-k, shuffling each group to one task. That is the right
    * plan while groups stay partition-sized (sources, languages,
    * domains — hundreds to thousands of groups); a single
    * bigger-than-executor group would need a pre-filter by an
    * approximate per-group score threshold before the exact rank, the
    * same two-phase idea twoPhaseDenseIds applies to global ranks.
    */
  def capPerGroup(docs: DataFrame, groupCol: String, cap: Int,
      order: Seq[org.apache.spark.sql.Column], as: String = "rank"): DataFrame = {
    require(cap >= 1, s"capPerGroup: need cap>=1, got $cap")
    docs.withColumn(as, row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(order: _*)))
      .filter(col(as) <= cap)
  }

  /** Temperature-balanced resampling across groups (the multilingual
    * mixing op of XLM-R / mT5: sample language l proportionally to
    * c_l^alpha, alpha<1 upweighting low-resource groups). This
    * implementation pins alpha = 0.5: sqrt is IEEE-correctly-rounded
    * (unlike pow, which varies by libm), so every arithmetic step —
    * sqrt, the ordered sequential sum of weights, the
    * floor(n*w/S) allocation — is bit-identical across engines and the
    * whole assignment stays oracle-checkable. The weight total is an
    * ORDERED fold over the sorted per-group weights (a float sum's
    * value depends on addition order; sorting pins it), legal because
    * the per-group table is aggregate-sized.
    *
    * Draws are deterministic md5(seed:id) ranks per group — the
    * engine-portable uniform shared with [[assignSplit]]. Groups with
    * fewer rows than their allocation contribute everything they have.
    * Output: (idCol, groupCol) kept rows.
    */
  def temperatureSample(docs: DataFrame, groupCol: String, idCol: String,
      nTarget: Long, seed: String = "42"): DataFrame = {
    require(nTarget >= 1, s"temperatureSample: need nTarget>=1, got $nTarget")
    val weights = docs.groupBy(groupCol).agg(count(lit(1)).as("cl"))
      .withColumn("wl", sqrt(col("cl").cast("double")))
    val tot = weights.agg(
      Stats.orderedSum(collect_list(struct(col(groupCol), col("wl"))), "wl").as("tot"))
    val alloc = weights.crossJoin(broadcast(tot))
      .withColumn("nl",
        floor(lit(nTarget).cast("double") * col("wl") / col("tot")).cast("long"))
      .select(col(groupCol), col("nl"))
    val ranked = docs.withColumn("_rk", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
        .orderBy(md5(concat(lit(seed + ":"), col(idCol).cast("string"))),
          col(idCol))))
    // no broadcast hint on alloc: its grouping key is data-sized in
    // principle (suite rule) — AQE broadcasts it at runtime
    ranked.join(alloc, Seq(groupCol))
      .filter(col("_rk") <= col("nl"))
      .select(col(idCol), col(groupCol))
  }

  /** N-gram NOVELTY score (EXT; no reference analog): the fraction of a
    * document's distinct word `n`-grams that occur in NO other document
    * — the inverse of boilerplate saturation. High-novelty docs carry
    * information the corpus doesn't already have (upweight for
    * training); near-zero novelty flags template/mirror content that
    * per-doc dedup keeps because no single other doc matches it
    * entirely. Output: (idCol, n_grams, novel_frac in [0,1] quantized
    * to 6 decimals) for every doc with at least one n-gram (docs
    * shorter than n words have no n-gram evidence and are omitted —
    * score them by a length gate instead).
    *
    * Scale shape (100 TB): per-doc gram sets are deduped MAP-SIDE
    * (array_distinct before the explode) and hashed to 8-byte xxhash64
    * before any shuffle; the df histogram is one map-combinable groupBy
    * on the gram hash; the join back is on the same key (one exchange
    * reused), and the final per-doc roll-up is one groupBy on the id.
    * A universal boilerplate gram contributes its (already existing)
    * per-doc rows to one join bucket and nothing more — no quadratic
    * blowup anywhere, no cap needed.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1, s"ngramNovelty: need n>=1, got $n")
    val grams = docs.select(col(idCol).as("_id"),
        explode(array_distinct(
          graft.functions.TextFunctions.wordShingles(col(textCol), n))).as("_g"))
      .select(col("_id"), xxhash64(col("_g")).as("_h"))
    val dfh = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_df"))
    grams.join(dfh, Seq("_h"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_grams"),
        round(sum(when(col("_df") === 1, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("novel_frac"))
      .select(col("_id").as(idCol), col("n_grams"), col("novel_frac"))
  }

  /** FUZZY eval-set decontamination (EXT — the near-duplicate
    * complement of [[decontaminate]]: exact n-gram overlap misses a
    * benchmark item that was lightly paraphrased or truncated before it
    * leaked into the corpus, which is why published decontamination
    * recipes pair the exact pass with a MinHash pass). Every corpus
    * document whose shingle-set Jaccard against ANY eval document
    * reaches `threshold` is reported with its match count and best
    * score — the caller anti-joins to drop them.
    *
    * Scale shape (100 TB): delegates to
    * [[Dedup.minhashNearDupAgainstMd5]] — the asymmetric banded
    * equi-join (NO corpus self-join), with the corpus-side bucket cap
    * as the boilerplate guard; the eval side is benchmark-sized, so its
    * banded signatures broadcast. The roll-up adds one groupBy over the
    * (already tiny) match set.
    */
  def decontaminateFuzzy(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalIdCol: String, evalTextCol: String,
      threshold: Double = 0.8, k: Int = 12, bands: Int = 2,
      shingleK: Int = 3, maxBucket: Option[Int] = Some(64)): DataFrame = {
    val ev = evalSet.select(col(evalIdCol).as(idCol), col(evalTextCol).as(textCol))
    graft.operators.Dedup
      .minhashNearDupAgainstMd5(corpus, ev, idCol, textCol,
        k = k, bands = bands, shingleK = shingleK,
        threshold = threshold, maxBucket = maxBucket)
      .groupBy(col("id_a"))
      .agg(count(lit(1)).as("n_eval_matches"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
      .select(col("id_a").as(idCol), col("n_eval_matches"), col("max_jaccard"))
  }

  /** Class-based TF-IDF cluster labels (EXT — the BERTopic c-TF-IDF
    * statistic, Grootendorst 2022: treat each CLUSTER as one document
    * and score its terms by `(tf_ct / w_c) * ln(1 + A / f_t)` where
    * w_c = words in cluster c, f_t = corpus frequency of term t, A =
    * mean words per cluster). The top terms per cluster are the
    * human-readable label for a clustering no one has inspected yet —
    * the standard corpus-exploration step after [[Ann.kmeansFixed]] /
    * semantic clustering. Output: (cluster_id, term, score, rank) for
    * the `topK` terms per cluster, score quantized at 9 and ranked
    * with a total (score desc, term asc) tie-break.
    *
    * Scale shape (100 TB): one (cluster, term) count groupBy over the
    * exploded corpus (map-side combinable); w_c / f_t are roll-ups of
    * that same aggregate (exchange-compatible keys); A is a 1-row
    * broadcast; the final rank is a window over <= |clusters| x
    * |vocab-per-cluster| scored rows, never the corpus.
    */
  def clusterTopTerms(docs: DataFrame, assign: DataFrame, idCol: String,
      textCol: String, topK: Int = 3): DataFrame = {
    require(topK >= 1, s"clusterTopTerms: need topK>=1, got $topK")
    val toks = docs.join(assign, Seq(idCol))
      .select(col("cluster_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("term"))
    val tfct = toks.groupBy(col("cluster_id"), col("term"))
      .agg(count(lit(1)).as("_tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wc = tfct.groupBy(col("cluster_id")).agg(sum(col("_tf")).as("_wc"))
    val ft = tfct.groupBy(col("term")).agg(sum(col("_tf")).as("_ft"))
    val a = wc.agg(avg(col("_wc")).as("_A"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("term").asc)
    tfct.join(wc, Seq("cluster_id")).join(ft, Seq("term"))
      .crossJoin(broadcast(a))
      .withColumn("score",
        round((col("_tf") / col("_wc")) * log(lit(1.0) + col("_A") / col("_ft")), 9))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("cluster_id"), col("term"), col("score"), col("rank"))
  }

  /** Feature-hashed document vectors (EXT — the "hashing trick",
    * Weinberger et al. 2009, in its signed-random-projection form):
    * each document becomes a `dim`-component vector
    * `v[d] = sum over tokens tf(token) * sign_d(md5(token))`, where
    * sign_d is bit d of the token's 128-bit md5 (so `dim` <= 128 and
    * ONE digest per distinct token serves every dimension). This is
    * the embedding-free bridge from raw text to the vector operators —
    * compose with [[Ann.kmeansFixed]] for text clustering,
    * [[Ann.bruteForceTopK]] for lexical-overlap retrieval — and it is
    * INTEGER-exact until the final cast, so any engine replays it
    * hash-identically with no float discipline needed.
    * Output: (idCol, vec array<double>).
    *
    * Scale shape (100 TB), reworked round 8: ONE wide aggregation
    * instead of a dim-explode. Per token row, `dim` sign columns are
    * computed from the digest packed into 8-hex-digit longs (integer
    * shifts, whole-stage codegen — no string ops, no pow); a single
    * groupBy(id) with `dim` SUM aggregates folds them map-side. The
    * explicit repartition on id is ALSO the aggregation's partitioning
    * (no extra exchange) and pins the post-shuffle parallelism: AQE
    * would otherwise coalesce the small-byte token shuffle to 1-2
    * partitions and run the x64 expression work nearly serially —
    * measured 5.5 s -> 1.8 s on 12k chunk vectors at sf0.1, output
    * bit-identical (the old dim-explode formulation is what the
    * oracles replay, and both produce the same integer sums).
    */
  def hashedDocVectors(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    require(dim >= 1 && dim <= 128, s"hashedDocVectors: need 1<=dim<=128, got $dim")
    val spark = docs.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val tok = docs
      .select(col(idCol).as("_id"),
        explode(split(trim(col(textCol)), "\\s+")).as("_tk"))
      .repartition(nPart, col("_id"))
    val g = md5(col("_tk").cast("binary"))
    val nHalves = (dim + 31) / 32
    val halves = (0 until nHalves).map(h =>
      conv(g.substr(h * 8 + 1, 8), 16, 10).cast("long").as(s"_h$h"))
    // bit d of the digest = bit (d%4) of hex char d/4; hex char i of
    // half h sits at bits 4*(7 - i%8) of _h{h} — same bit the old
    // formulation extracted via substr+conv+pow, all shifts here
    val signCols = (0 until dim).map { d =>
      val h = col(s"_h${d / 32}")
      val shift = 4 * (7 - (d % 32) / 4) + (d % 4)
      (shiftright(h, shift).bitwiseAND(lit(1L)) * 2 - 1).as(s"_x$d")
    }
    tok.select(col("_id") +: halves: _*)
      .select(col("_id") +: signCols: _*)
      .groupBy(col("_id"))
      .agg(sum(col("_x0")).as("_s0"),
        (1 until dim).map(d => sum(col(s"_x$d")).as(s"_s$d")): _*)
      .select(col("_id").as(idCol),
        array((0 until dim).map(d => col(s"_s$d").cast("double")): _*).as("vec"))
  }

  /** INTRA-document repeated-line collapse (EXT — the within-page half
    * of boilerplate removal: scraped pages repeat their own nav/footer
    * blocks; [[dedupLines]] needs corpus-wide df evidence, this needs
    * none): every line whose TRIMMED text already occurred earlier in
    * the same document is dropped; first occurrences and blank lines
    * survive in order. Output: (idCol, n_lines, n_kept, clean_text).
    *
    * Scale shape (100 TB): ZERO shuffle — the whole operation is one
    * row-local array pipeline (split -> keep-first filter -> rejoin),
    * so it composes map-side with any scan. The keep-first test is
    * first-index-equality over the trimmed projection (O(lines²) per
    * doc — lines per doc is bounded in practice; the corpus-sized
    * variant with its df histogram is the one that must shuffle).
    */
  def collapseRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "collapseRepeatedLines: separator must be non-empty")
    // arrays materialized in their OWN projections so the filter HOF
    // doesn't re-split/re-trim per element (repetitionRatio lesson)
    val base = docs
      .select(col(idCol),
        split(col(textCol), java.util.regex.Pattern.quote(sep), -1).as("_ls"))
      .select(col(idCol), col("_ls"), transform(col("_ls"), l => trim(l)).as("_lt"))
    // keep line i iff it is blank or the FIRST occurrence of its
    // trimmed text (array_position is 1-based, filter's index 0-based)
    base
      .select(col(idCol), col("_ls"),
        filter(col("_ls"), (l, i) =>
          length(trim(l)) === 0 ||
            array_position(col("_lt"), trim(l)) === i + 1).as("_kept"))
      .select(col(idCol),
        size(col("_ls")).as("n_lines"),
        size(col("_kept")).as("n_kept"),
        array_join(col("_kept"), sep).as("clean_text"))
  }

  /** Corpus-level duplicate-LINE removal (EXT — the CCNet/RefinedWeb
    * paragraph-dedup step, Wenzek et al. 2020: lines repeated across
    * documents are boilerplate — navigation, cookie banners, license
    * footers — and are dropped from EVERY document before any whole-doc
    * dedup runs). A line whose trimmed text occurs in >= `minDf`
    * distinct documents is removed wherever it appears; remaining lines
    * are reassembled in original order. Blank lines are never counted
    * or dropped (they are document structure, not content).
    * Output: (idCol, n_lines, n_kept, clean_text) for every input doc.
    *
    * Scale shape (100 TB): the df histogram groups 16-byte md5 digests,
    * never line text; the hot set (df >= minDf) is the corpus's
    * boilerplate vocabulary — small in practice, so AQE broadcasts the
    * left join and the only corpus-sized shuffle is the per-doc
    * reassembly groupBy. Reassembly orders by the line's position via
    * array_sort over (pos, line) structs — deterministic at any
    * parallelism.
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDf >= 2, s"dedupLines: need minDf>=2, got $minDf")
    require(sep.nonEmpty, "dedupLines: separator must be non-empty")
    val lines = docs.select(col(idCol).as("_id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("_pos", "_line")))
      .withColumn("_h", md5(trim(col("_line")).cast("binary")))
    val hot = lines.filter(length(trim(col("_line"))) > 0)
      .groupBy(col("_h"))
      .agg(countDistinct(col("_id")).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("_h"), lit(true).as("_hot"))
    lines.join(hot, Seq("_h"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("_hot").isNull,
            struct(col("_pos"), col("_line"))))),
          x => x.getField("_line")), sep).as("clean_text"))
      .select(col("_id").as(idCol), col("n_lines"), col("n_kept"),
        col("clean_text"))
  }

  /** Per-document (gram, cnt) pairs appended as a `_pairs` column, all
    * map-side: sort the doc's n-grams, find the run boundaries, and emit
    * a struct<g,cnt> per distinct gram (run-length encoding). This is the
    * shuffle-free front half of the whole language-ID family — the
    * per-(doc, gram) groupBy AND the per-doc rank window it replaces
    * both moved corpus-gram-sized rows through the exchange, and at
    * 10× data that pair of wide shuffles was the suite's worst honest
    * scaling tail (8.4 s isolated at sf1). O(L log L) per doc, inside
    * whole-stage codegen. The when-guards keep every element_at index
    * in range (ANSI-safe) and dodge sequence(1,0)'s negative-step [1,0].
    */
  private def withDocGramCounts(df: DataFrame, textCol: Column,
      n: Int): DataFrame =
    // r13: one fused native kernel (TextFunctions.docGramCounts) —
    // the previous staged HOF cascade (charNgrams/array_sort/filter/
    // transform, see git history) evaluated interpreted lambdas with a
    // per-element allocation; ~0.8 ms/doc profiled on the single-task
    // sf0.1 scan. Output array (ascending grams, run counts) and
    // lowering semantics are identical.
    df.withColumn("_pairs", graft.functions.TextFunctions.docGramCounts(textCol, n))

  /** Top-`top` grams of a docGramCounts array by (cnt desc, g asc),
    * as (g, 1-based rank) structs — the per-doc rank WINDOW collapsed
    * into a map-side struct sort (struct natural order on (-cnt, g)). */
  private def topGramRanks(pairs: Column, top: Int): Column =
    slice(array_sort(transform(pairs,
      p => struct((-p.getField("cnt")).as("nc"), p.getField("g").as("g")))),
      1, top)

  /** Explode topGramRanks into (_id, g, dr) rows — dr from posexplode,
    * so no window touches the corpus. */
  private def docRanksFrom(pairsDf: DataFrame, top: Int): DataFrame =
    pairsDf.select(col("_id"),
        posexplode(topGramRanks(col("_pairs"), top)).as(Seq("_p0", "_s")))
      .select(col("_id"), col("_s.g").as("g"),
        (col("_p0") + 1).cast("int").as("dr"))

  /** Cavnar-Trenkle n-gram language profiles ("N-Gram-Based Text
    * Categorization", 1994), TRAINED from labeled rows: per language,
    * the `top` most frequent character n-grams with their 1-based rank
    * (ties broken by gram text — a total order, so the profile is
    * deterministic on any cluster). The profile is `|langs| * top` rows
    * — broadcast-sized by construction regardless of corpus scale.
    * Gram counting is the map-side run-length encode ([[docGramCounts]]);
    * the only shuffle is the (lang, gram) aggregate, whose map-side
    * partial combine ships at most the distinct-gram space per task.
    */
  def langProfiles(docs: DataFrame, langCol: String, textCol: String,
      n: Int = 3, top: Int = 100): DataFrame =
    profileTop(withDocGramCounts(docs.select(col(langCol).as("lang"), col(textCol)),
        col(textCol), n)
      .select(col("lang"), explode(col("_pairs")).as("_p")), top)

  /** (lang, g, r): the profile aggregate over a (lang, _p) stream of
    * per-doc (g, cnt) structs — counts summed per (lang, gram), then the
    * `top` grams per language by (cnt desc, g asc), r 1-based. */
  private def profileTop(langPairs: DataFrame, top: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langPairs
      .groupBy(col("lang"), col("_p.g").as("g"))
      .agg(sum(col("_p.cnt").cast("long")).as("cnt"))
      .withColumn("r", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("g"))))
      .filter(col("r") <= top)
      .select("lang", "g", "r")
  }

  /** Train-on-self composition of [[langProfiles]] + [[langClassifyNgram]]
    * with ONE tokenization: the per-doc (gram, cnt) arrays are computed
    * once MAP-SIDE ([[docGramCounts]]) and persisted; the language
    * profiles aggregate them (summing doc counts per lang — identical
    * totals to a direct count), and the per-doc ranks come from a
    * map-side struct sort ([[topGramRanks]]) — no corpus-sized window
    * and no per-(doc, gram) groupBy shuffle remain (the r10 sf1 sweep's
    * worst honest scaling tail; see BENCH_NOTES r11).
    */
  def langIdSelfTrain(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, n: Int = 3, top: Int = 100): DataFrame = {
    // one map-side tokenize+count per doc; persisted because it feeds
    // BOTH the profile aggregate and the doc-rank explode
    val pairs = withDocGramCounts(
        docs.select(col(idCol).as("_id"), col(langCol).as("_lang"),
          col(textCol)),
        col(textCol), n)
      .select("_id", "_lang", "_pairs")
      .persist()
    // r14: materialize eagerly — the first consumer is the profile
    // table's broadcast build, which otherwise computes the whole
    // gram-count pass inside the single-threaded broadcast job
    // (profiled: one 1.4 s 1-task job); a proper 32-task job fills the
    // cache first and the broadcast reads it
    pairs.count()
    val profiles = profileTop(pairs
      .select(col("_lang").as("lang"), explode(col("_pairs")).as("_p")), top)
    val docRanks = docRanksFrom(pairs, top)
    classifyRanks(docRanks, profiles, top)
      .withColumnRenamed("_id", idCol)
  }

  /** The most languages a profile may hold (see [[classifyRanks]]). */
  val MaxLangs = 64

  /** Distance + argmin over prepared (doc rank, profile) frames — shared
    * by [[langClassifyNgram]] and [[langIdSelfTrain]].
    *
    * The profile rides a broadcast join, and a broadcast is a PROMISE
    * the side stays driver-sized at any corpus scale — so the profile
    * is capped at `MaxLangs * top` rows by an explicit ordered limit
    * (the nearestCentroidAssign maxLabels discipline): the cap is the
    * documented contract (at most [[MaxLangs]] languages), not a hack,
    * and a corpus with more distinct lang labels loses the
    * lexicographically-last ones rather than OOMing an executor.
    */
  private def classifyRanks(docRanks: DataFrame, profiles: DataFrame,
      top: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = profiles.orderBy(col("lang"), col("r")).limit(MaxLangs * top)
    val langs = capped.select("lang").distinct()
    docRanks
      .crossJoin(broadcast(langs))
      .join(broadcast(capped), Seq("lang", "g"), "left")
      .groupBy("_id", "lang")
      .agg(sum(coalesce(abs(col("dr") - col("r")), lit(top.toLong))).as("oop"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_id").orderBy(col("oop"), col("lang"))))
      .filter(col("_rn") === 1)
      .select(col("_id"), col("lang").as("lang_pred"), col("oop"))
  }

  /** Classify by out-of-place distance against [[langProfiles]]: each
    * doc's own top-`top` gram ranks are compared with every language's
    * profile ranks — sum of |docRank - langRank| with a miss penalty of
    * `top` — and the argmin language wins (ties to the lexically first
    * language). ALL integer arithmetic: ranks, absolute differences and
    * sums replay exactly in any engine, so the declared query
    * hash-checks with no float discipline at all.
    *
    * Scale shape: the corpus-sized work is the doc-gram count and the
    * per-doc rank window (both keyed by the doc id); the profile and
    * language list ride broadcast joins, and the distance aggregate
    * handles at most `top * |langs|` rows per doc.
    */
  def langClassifyNgram(docs: DataFrame, idCol: String, textCol: String,
      profiles: DataFrame, n: Int = 3, top: Int = 100): DataFrame = {
    val docRanks = docRanksFrom(
      withDocGramCounts(docs.select(col(idCol).as("_id"), col(textCol)),
          col(textCol), n)
        .select("_id", "_pairs"), top)
    classifyRanks(docRanks, profiles, top)
      .withColumnRenamed("_id", idCol)
  }

  /** Deterministic token-budget selection (EXT — "give me exactly ~N
    * tokens of this corpus, the same N tokens on every engine and
    * every cluster size"): documents are laid on the md5(id) line —
    * a uniform deterministic shuffle — and the prefix whose cumulative
    * token count stays within `budgetTokens` is kept. A doc is kept iff
    * the running total INCLUDING it fits; the order (and therefore the
    * selected set) is engine-portable.
    *
    * Scale shape (100 TB): the global running sum is TWO-PHASE — the
    * md5 high byte buckets rows into 256 md5-uniform (skew-free by
    * construction) groups; per-bucket totals aggregate map-side, the
    * exclusive bucket-offset cumulative window rides that 256-row
    * aggregate (bounded by the grid, not the data), and the per-row
    * running sum windows WITHIN each bucket. Never a global ordered
    * window; the bucket prefix of the hash makes phase-2 order
    * consistent with the global md5 order.
    *
    * Output: (idCol, n_tokens, cum_tokens) for the selected prefix.
    */
  def selectTokenBudget(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"selectTokenBudget: budget >= 0, got $budgetTokens")
    val base = docs.select(col(idCol),
      md5(col(idCol).cast("string").cast("binary")).as("_h"),
      graft.functions.TextFunctions.tokenCount(col(textCol))
        .cast("long").as("n_tokens"))
      .withColumn("_b", conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
    val offsets = base.groupBy(col("_b")).agg(sum(col("n_tokens")).as("_bt"))
      .withColumn("_off", coalesce(sum(col("_bt")).over(
        Window.orderBy(col("_b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_b"), col("_off"))
    // offsets is <= 256 rows by the grid — AQE broadcasts it at runtime
    // (no hint: the hint sweep can't see the bucket domain is fixed)
    val w = Window.partitionBy(col("_b")).orderBy(col("_h"), col(idCol))
    base.join(offsets, Seq("_b"))
      .withColumn("cum_tokens", col("_off") + sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col(idCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Corpus-level RAKE keyword extraction (Rose et al. 2010): candidate
    * phrases are the maximal stopword/punctuation-free runs of the
    * lowercased text (capped at `maxPhraseWords` — RAKE's degenerate-
    * run guard); each word scores deg/freq where freq counts phrase
    * memberships and deg sums the lengths of its phrases (the
    * co-occurrence credit); a phrase scores the sum of its member-word
    * scores (with multiplicity). Top-k phrases under a total
    * (score desc, phrase) order.
    *
    * Float discipline: deg/freq is ONE exact-integer division,
    * round(9)-quantized to DECIMAL(20,9) so the per-phrase sum is
    * exact and order-free in both engines; the emitted score is
    * round(6) of the exact decimal.
    *
    * Output: (phrase, score), k rows.
    *
    * Scale shape (100 TB): one phrase explode (map-side), one word
    * groupBy, one distinct-phrase groupBy, a broadcast-sized word-stat
    * join (vocab-bounded), and a TakeOrderedAndProject top-k — no
    * global sort, no per-doc state.
    */
  def rakeKeywords(docs: DataFrame, textCol: String, stopwords: Seq[String],
      maxPhraseWords: Int = 4, k: Int = 20): DataFrame = {
    require(stopwords.nonEmpty, "rakeKeywords: need a stopword list")
    require(k >= 1 && maxPhraseWords >= 1, "rakeKeywords: need k, maxPhraseWords >= 1")
    val stopRe = "\\b(" + stopwords.mkString("|") + ")\\b|[.,!?;:]"
    val phrases = docs
      .select(explode(split(
        regexp_replace(lower(col(textCol)), stopRe, "\u0001"), "\u0001")).as("_p0"))
      .select(trim(col("_p0")).as("phrase"))
      .filter(col("phrase") =!= "")
      .withColumn("_ws", split(col("phrase"), "\\s+"))
      .withColumn("_len", size(col("_ws")).cast("long"))
      .filter(col("_len") <= maxPhraseWords)
    val wstats = phrases.select(explode(col("_ws")).as("word"), col("_len"))
      .groupBy("word")
      .agg(count(lit(1)).as("_freq"), sum(col("_len")).as("_deg"))
      .select(col("word"),
        round(col("_deg").cast("double") / col("_freq").cast("double"), 9)
          .cast("decimal(20,9)").as("_s9"))
    val scored = phrases.select("phrase").distinct()
      .select(col("phrase"), explode(split(col("phrase"), "\\s+")).as("word"))
      .join(wstats, Seq("word"))
      .groupBy("phrase").agg(sum(col("_s9")).as("_sc"))
    scored
      .orderBy(col("_sc").desc, col("phrase"))
      .limit(k)
      .select(col("phrase"), round(col("_sc").cast("double"), 6).as("score"))
  }

  /** TextRank keyword extraction (Mihalcea-Tarau '04) — the graph-based
    * complement of [[rakeKeywords]]'s frequency scoring: candidate
    * words (lowercased, >= 3 chars, non-stopword, ORDER PRESERVED by
    * the array filter) vote for their within-window-2 co-occurrence
    * neighbors via PageRank; a word ranks high when it co-occurs with
    * other high-ranking words, not merely when it is frequent. The
    * co-occurrence graph is symmetrized and deduped, then scored by
    * [[Graph.pageRank]] (teleport floor, per-sweep round(quantize)
    * quantization — the engine-portable float discipline), and the
    * top `k` terms are taken under the (score DESC, term) total order.
    *
    * Output: (term, score), score on the round(quantize) grid.
    *
    * Scale shape (100 TB): tokenize + pair generation are one map-side
    * pass (zip_with over adjacent offsets — no explode-then-self-join);
    * the edge distinct and every PageRank sweep shuffle on the WORD
    * key, which is VOCABULARY-bounded (Heaps' law, not corpus-size);
    * top-k compiles to TakeOrderedAndProject.
    */
  def textRankKeywords(docs: DataFrame, textCol: String,
      stopwords: Seq[String], iterations: Int = 3, k: Int = 20,
      damping: Double = 0.85, quantize: Int = 9): DataFrame = {
    require(stopwords.nonEmpty, "textRankKeywords: need a stopword list")
    require(k >= 1 && iterations >= 1,
      s"textRankKeywords: need k, iterations >= 1; got k=$k it=$iterations")
    val stopsLit = array(stopwords.map(lit): _*)
    val ws = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => length(w) >= 3 && !array_contains(stopsLit, w))
    val toks = docs.select(ws.as("_ws")).filter(size(col("_ws")) >= 2)
    val pairs = toks.select(explode(zip_with(
        slice(col("_ws"), lit(1), size(col("_ws")) - 1),
        slice(col("_ws"), lit(2), size(col("_ws")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("_p"))
      .select(col("_p.a").as("w1"), col("_p.b").as("w2"))
      .filter(col("w1") =!= col("w2"))
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .union(pairs.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
    Graph.pageRank(edges, "src", "dst", iterations, damping, quantize)
      .orderBy(col("rank").desc, col("node"))
      .limit(k)
      .select(col("node").as("term"), col("rank").as("score"))
  }

  /** Deterministic (anchor, positive, negative) triplet generation for
    * contrastive embedding training — the step after dedup: known
    * near-dup pairs become the positives, negatives are md5-drawn so
    * the SAME corpus always yields the SAME training set (resumable,
    * auditable, engine-portable). Negatives come from a fixed-size
    * md5-ranked corpus pool (the sample_at_most shape) broadcast
    * against the anchors; per anchor the pool re-ranks by
    * md5(anchor:candidate) — an independent uniform draw per anchor —
    * excluding the anchor and its positive, keeping `negK`.
    *
    * In-batch negatives (the usual cheap trick) silently turn
    * near-dups into "negatives"; an explicit pool drawn AFTER dedup
    * avoids that failure mode and makes the draw reproducible.
    *
    * Output: (anchor_id, positive_id, negative_id, neg_rank).
    *
    * Scale shape (100 TB): the pool is a TakeOrdered top-`poolSize`
    * (no global sort materialized) and is broadcast — the anchor-side
    * join is map-side; the rank window partitions BY ANCHOR over
    * poolSize rows.
    */
  def contrastiveTriplets(pairs: DataFrame, anchorCol: String, posCol: String,
      corpus: DataFrame, idCol: String,
      poolSize: Int = 64, negK: Int = 2): DataFrame = {
    // >= negK + 2: the anchor and its positive are excluded from the
    // candidate pool, so a pool of exactly negK + 1 could silently
    // yield fewer than negK negatives when both ids land in it
    require(poolSize >= negK + 2 && negK >= 1,
      s"contrastiveTriplets: need poolSize >= negK + 2, negK >= 1, " +
        s"got $poolSize/$negK")
    val pool = corpus.select(col(idCol).as("_cand"))
      .orderBy(md5(col("_cand").cast("string")), col("_cand"))
      .limit(poolSize)
    val a = pairs.select(col(anchorCol).as("anchor_id"),
      col(posCol).as("positive_id"))
    val w = Window.partitionBy(col("anchor_id"), col("positive_id"))
      .orderBy(md5(concat(col("anchor_id").cast("string"), lit(":"),
        col("_cand").cast("string"))), col("_cand"))
    a.join(broadcast(pool),
        col("_cand") =!= col("anchor_id") &&
          col("_cand") =!= col("positive_id"))
      .withColumn("neg_rank", row_number().over(w).cast("int"))
      .filter(col("neg_rank") <= negK)
      .select(col("anchor_id"), col("positive_id"),
        col("_cand").as("negative_id"), col("neg_rank"))
  }
}
