package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column (EXT per
  * SURVEY north star; `embeddings` table).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * one scan of the corpus, per-query top-k via window. This is the exact
  * oracle-checkable path and also the right plan whenever |queries| is
  * small: no shuffle of the corpus at all, only of the (|queries| x k)
  * result.
  *
  * Scale path: sign-bit LSH bucketing — corpus is pre-bucketed by the sign
  * pattern of `nPlanes` random hyperplane projections (a deterministic,
  * seeded, data-independent partitioner), queries probe only their own
  * bucket. Recall/cost is tuned by nPlanes; a multi-probe variant would
  * flip low-margin bits.
  */
object Ann {

  /** (id, v): `idCol` as `id`, `vecCol` cast to array<double> as `v` —
    * every variant's input frame. */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
      id: String, v: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(v))

  /** The deterministic, engine-portable sample order: smallest
    * md5("seed:id") first, ties on id (the oracles replay it as
    * `ORDER BY md5('seed:' || id), id`). */
  private def md5Order(id: String, seed: String): Seq[Column] =
    Seq(md5(concat(lit(seed + ":"), col(id).cast("string"))), col(id))

  /** The `n` rows of `df` first in [[md5Order]] — the md5-sampled
    * centroids of the IVF, residual and k-means variants. */
  private[operators] def md5Sample(df: DataFrame, id: String, seed: String,
      n: Int): DataFrame =
    df.orderBy(md5Order(id, seed): _*).limit(n)

  /** The per-query top-k every variant ends with: `scored`'s rows ranked
    * within each query_id by `order`, ties on ascending `id`, the first
    * `k` kept with their 1-based rank in column `rank`. */
  private def rankWithin(scored: DataFrame, order: Column, id: String,
      k: Int, rank: String = "_rk"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(order, col(id).asc)
    scored.withColumn(rank, row_number().over(w)).filter(col(rank) <= k)
  }

  /** [[rankWithin]] over (query_id, neighbor_id, score) rows, emitted as
    * (query_id, neighbor_id, score, rank). */
  private def topK(scored: DataFrame, order: Column, k: Int): DataFrame =
    rankWithin(scored, order, "neighbor_id", k).withColumnRenamed("_rk", "rank")

  /** Exact cosine top-k over (query_id, neighbor_id) pairs that carry
    * both vectors (qv, cv). */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topK(pairs.select(col("query_id"), col("neighbor_id"),
      VectorFunctions.cosine(col("qv"), col("cv")).as("cos")), col("cos").desc, k)

  /** Exact cosine rerank of bare-id (query_id, neighbor_id) candidates:
    * the vectors join back only after the candidate dedup (carrying them
    * through it is the measured 5x mistake — see Dedup.cosineVerify). */
  private def rerank(cands: DataFrame, qv: DataFrame, cv: DataFrame,
      k: Int): DataFrame =
    cosineTopK(cands.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id")), k)

  /** ADC top-k over (query_id, neighbor_id) pairs carrying the neighbor's
    * PQ `codes` and the query's distance table `dt`: (query_id,
    * neighbor_id, adist, rank) by (adist asc, neighbor_id asc). */
  private def adcTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("query_id"), col("neighbor_id"),
      VectorFunctions.adcSum(col("codes"), col("dt")).as("_ad"))
    // round(6) BEFORE ranking — the suite-wide float discipline: the two
    // engines' fold orders agree to ~1 ulp but not always bitwise, so
    // both rank (and emit) the identical quantized value, with the
    // integer neighbor_id tie-break underneath
    topK(scored.withColumn("adist", round(col("_ad"), 6)).drop("_ad"),
      col("adist").asc, k)
  }

  /** Exact top-k neighbors for each query vector (excluding self).
    * Output: (query_id, neighbor_id, cos), rank-ordered with (cos desc,
    * neighbor_id asc) tie-break.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = vectors(corpus, idCol, vecCol, "neighbor_id", "cv")
    val q = vectors(queries, idCol, vecCol, "query_id", "qv")
    cosineTopK(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")), k)
  }

  /** Multi-table sign-LSH approximate top-k: `planes` holds one table of
    * hyperplanes per hash table; a corpus vector is a candidate if it
    * shares the query's bucket in ANY table (standard OR-of-ANDs
    * amplification — a single wide bucket has vanishing recall on
    * near-orthogonal data). Exact cosine re-rank over the candidate
    * union. Cost scales with tables x bucket occupancy, never n^2.
    *
    * `multiProbe`: the QUERY side also probes, per table, the buckets
    * with its `probeDepth` lowest-margin plane bits flipped (one bit per
    * probe) — recall rises like adding tables but without re-hashing the
    * corpus, the classic multi-probe trade, and monotonically in
    * `probeDepth` (each depth's probe set extends the previous). The
    * corpus keeps one bucket per table.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Array[Array[Array[Double]]],
      multiProbe: Boolean = false, probeDepth: Int = 1): DataFrame = {
    def withBuckets(df: DataFrame, id: String, vec: String) = {
      val buckets = VectorFunctions.signBuckets(col(vec), planes)
      df.select(col(id), col(vec), posexplode(buckets).as(Seq("tbl", "bucket")))
    }
    // probe layout [t0_main, t0_flip1.., t1_main, ...] -> tbl = pos / (depth+1)
    def withProbeBuckets(df: DataFrame, id: String, vec: String) = {
      val buckets = VectorFunctions.signBucketsMultiProbe(col(vec), planes, probeDepth)
      df.select(col(id), posexplode(buckets).as(Seq("pos", "bucket")))
        .select(col(id), (col("pos") / (probeDepth + 1)).cast("int").as("tbl"), col("bucket"))
      // no distinct needed: each flip differs from main (one-bit XOR) and
      // from the other flips (different bit); rows in different tables
      // carry different tbl ids
    }
    val cv = vectors(corpus, idCol, vecCol, "neighbor_id", "cv")
    val qv = vectors(queries, idCol, vecCol, "query_id", "qv")
    val c = withBuckets(cv, "neighbor_id", "cv").drop("cv")
    val q = if (multiProbe) withProbeBuckets(qv, "query_id", "qv")
      else withBuckets(qv, "query_id", "qv").drop("qv")
    val cands = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    rerank(cands, qv, cv, k)
  }

  /** Deterministic +-1 Johnson-Lindenstrauss sign matrix: sign(d, j) =
    * parity of the first hex digit of md5("jl:d:j"). Single-sourced: the
    * declared query projects through this matrix and the DuckDB oracle's
    * literal sign rows are generated FROM it, so both engines replay the
    * identical projection (database-friendly JL per Achlioptas 2003 —
    * +-1 entries lose nothing vs Gaussian ones).
    */
  def jlSigns(outDim: Int, inDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (d, j) =>
      val h = md.digest(s"jl:$d:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 0) 1.0 else -1.0
    }
  }

  /** JL-projected brute-force top-k: both sides project through the SAME
    * sign matrix (a fused-loop native expression; cosine is
    * scale-invariant so the 1/sqrt(d') factor is dropped), then exact
    * cosine top-k in the d'-dim space. At scale this is the read-cost
    * reducer in front of any index: projection is a map-side expression
    * (no shuffle, matrix ships as a plan constant) and every downstream
    * distance costs d'/d of the full one.
    *
    * Honest caveat, measured: JL preserves RELATIVE geometry only to
    * ~1/sqrt(d') cosine noise (d'=16 -> ~0.25). On clustered corpora
    * (in-cluster cos >> cross) that noise is harmless — DedupAnnSpec
    * shows projected neighbors never leave the query's cluster, and
    * exact duplicates keep cos = 1 bit-exactly. On NEAR-ORTHOGONAL
    * corpora (all pairwise cos within +-0.35, as the synthetic
    * embeddings table is) top-k through d'=16 is ~rank-random (probed:
    * pairwise corr 0.46, top-5 recall 0.06) — size d' to the gap you
    * need, don't treat 16 as a default.
    */
  def jlTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, signs: Array[Array[Double]]): DataFrame = {
    def proj(df: DataFrame) = df.select(col(idCol),
      VectorFunctions.signedProject(col(vecCol), signs).as("_pv"))
    bruteForceTopK(proj(corpus), proj(queries), idCol, "_pv", k)
  }

  /** The `nCentroids` md5-sampled corpus rows of `cv` (neighbor_id, cv)
    * as a (cid, cvec) centroid table. */
  private def md5Centroids(cv: DataFrame, nCentroids: Int, seed: String): DataFrame =
    md5Sample(cv, "neighbor_id", seed, nCentroids)
      .select(col("neighbor_id").as("cid"), col("cv").as("cvec"))

  /** IVF (inverted-file) approximate top-k — the clustering complement to
    * sign-LSH: partition the corpus into `nCentroids` cells, probe the
    * `nProbe` cells nearest each query, exact-rerank inside them.
    *
    * Centroids are a DETERMINISTIC sample — the `nCentroids` corpus rows
    * with the smallest md5(seed:id) (a reproducible stand-in for a
    * k-means codebook; same engine-portable discipline as the md5 LSH
    * planes, so the whole operator is oracle-checkable). Assignment =
    * argmax cosine against the broadcast centroid table; ties break on
    * centroid id.
    *
    * Scale shape: centroid table is tiny and broadcast (the only
    * nested-loop join in the plan); the corpus shuffles once on its
    * assigned cell id; probe cost is |queries| x nProbe cells, never
    * n^2. Recall/cost tunes with (nCentroids, nProbe) exactly like an
    * IVF index.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 8, nProbe: Int = 2,
      seed: String = "42"): DataFrame = {
    val cv = vectors(corpus, idCol, vecCol, "neighbor_id", "cv")
    val qv = vectors(queries, idCol, vecCol, "query_id", "qv")
    ivfFromCentroids(cv, qv, md5Centroids(cv, nCentroids, seed), k, nProbe)
  }

  /** IVF with a REAL k-means codebook (MLlib, cosine distance) — the
    * recall-quality complement to [[ivfTopK]]'s md5-sampled centroids:
    * sampled centroids can land several-in-one-cluster and split a tight
    * cluster's members across cells (killing nProbe=1 recall), while
    * k-means converges one centroid per cluster. The md5 variant stays as
    * the engine-portable oracle path; this is the variant a production
    * index build should use.
    *
    * Scale shape: `fit` is the standard distributed Lloyd's iteration
    * (maxIter bounded scans of the corpus — an INDEX BUILD cost, paid
    * once and amortized over queries); the learned codebook is
    * `nCentroids` x dim doubles on the driver, shipped back as a tiny
    * broadcast table; everything after identical to [[ivfTopK]].
    */
  def ivfTopKKMeans(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 8, nProbe: Int = 2,
      seed: Long = 42L, maxIter: Int = 20): DataFrame =
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, k,
      ivfKmeansTrain(corpus, vecCol, nCentroids, seed, maxIter), nProbe)

  /** The index-build half of [[ivfTopKKMeans]] alone: fit the cosine
    * k-means codebook and return the learned centroids (nCentroids x
    * dim doubles). Train ONCE offline (ScaleProbe `ivftrain`), freeze
    * the result as a literal, and query through
    * [[ivfTopKWithCentroids]] — the PqCodebook discipline that makes
    * the production k-means index oracle hash-portable: the centroids
    * stop depending on float iteration order because they are pasted
    * constants, and assignment/probing/rerank are exact replays.
    */
  def ivfKmeansTrain(corpus: DataFrame, vecCol: String,
      nCentroids: Int = 8, seed: Long = 42L,
      maxIter: Int = 20): Array[Array[Double]] = {
    val cv = corpus.select(col(vecCol).cast("array<double>").as("cv"))
    // cosine KMeans REQUIRES non-zero-norm vectors (fit throws on one
    // all-zero embedding). Zero vectors are excluded from the fit only;
    // they still flow through the cell assignment, which tolerates
    // them exactly like the md5-sampled variant does.
    val fitInput = cv
      .filter(aggregate(col("cv"), lit(0.0d), (a, x) => a + x * x) > 0d)
      .select(org.apache.spark.ml.functions.array_to_vector(col("cv")).as("features"))
    // loud guard instead of MLlib's opaque internal error: the fit needs
    // at least nCentroids non-zero vectors. limit() bounds the probe —
    // it scans only until nCentroids rows are found, not the corpus.
    require(fitInput.limit(nCentroids).count() == nCentroids,
      s"ivfKmeansTrain needs >= $nCentroids non-zero-norm vectors to fit " +
        s"a $nCentroids-centroid cosine codebook (zero vectors are " +
        "excluded from the fit)")
    val model = new org.apache.spark.ml.clustering.KMeans()
      .setK(nCentroids).setSeed(seed).setMaxIter(maxIter)
      .setDistanceMeasure("cosine") // cell assignment is cosine too
      .setFeaturesCol("features")
      .fit(fitInput)
    model.clusterCenters.map(_.toArray)
  }

  /** IVF probe/rerank against a CALLER-SUPPLIED centroid table — the
    * query half of the production k-means index ([[ivfKmeansTrain]]
    * output, frozen as a literal like [[graft.PqCodebook]]) or any
    * externally built coarse quantizer. Deterministic and
    * engine-replayable: assignment/probing are argmax-cosine against
    * literal centroids (cid-ascending tie-break), rerank is the exact
    * cosine top-k.
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Double]], nProbe: Int = 2): DataFrame = {
    require(centroids.nonEmpty, "ivfTopKWithCentroids: empty centroid table")
    val cv = vectors(corpus, idCol, vecCol, "neighbor_id", "cv")
    val qv = vectors(queries, idCol, vecCol, "query_id", "qv")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toSeq) }
      .toDF("cid", "cvec")
    ivfFromCentroids(cv, qv, cents, k, nProbe)
  }

  /** Per-row nearest-centroid cells by cosine (broadcast nested-loop
    * against the tiny `cents`), optionally carrying extra columns
    * through — so a corpus frame's PQ codes ride the same pass instead
    * of a corpus-keyed rejoin. */
  private def nearestCells(df: DataFrame, cents: DataFrame, id: String,
      vec: String, take: Int, keep: Seq[Column] = Nil): DataFrame = {
    val scored = df.crossJoin(broadcast(cents))
      .select(col(id) +: col("cid") +:
        VectorFunctions.cosine(col(vec), col("cvec")).as("_ccos") +: keep: _*)
    val w = Window.partitionBy(col(id)).orderBy(col("_ccos").desc, col("cid").asc)
    scored.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= take)
      .drop("_rn", "_ccos")
  }

  /** Shared IVF probe/rerank: assign corpus rows to their nearest
    * centroid, probe each query's `nProbe` nearest cells, exact-rerank
    * the candidates. `cents` is (cid, cvec) and must be tiny (it is
    * broadcast into the only nested-loop join of the plan).
    */
  private def ivfFromCentroids(cv: DataFrame, qv: DataFrame, cents: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val assigned = nearestCells(cv, cents, "neighbor_id", "cv", 1)
    val probed = nearestCells(qv, cents, "query_id", "qv", nProbe)
    val cands = probed.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    rerank(cands, qv, cv, k)
  }

  // ------------------------------------------------------------------
  // Product quantization (IVF-PQ's compression half; Jégou-Douze-Schmid
  // TPAMI'11). The 100 TB memory story LSH/IVF alone don't give: a
  // 64-dim float corpus row is 256 bytes, its PQ code is m bytes
  // (m=4 here) — the whole candidate-scoring structure fits in a
  // fraction of the raw corpus, and ADC scoring reads ONLY codes plus a
  // per-query m x k distance table (k*m doubles, broadcast). Vectors
  // are l2-normalized first (VectorFunctions.l2Normalize; all-zero
  // vectors pass through unchanged and rank last under ADC just as they
  // score 0 under cosine), so ascending squared-L2 ADC ranks exactly
  // like descending cosine.

  /** Train a PQ codebook: split the l2-normalized corpus into `m`
    * contiguous subspaces and fit `k` euclidean k-means centroids per
    * subspace (MLlib Lloyd — an INDEX BUILD, m bounded corpus scans,
    * paid once; the codebook is m x k x (dim/m) doubles on the driver,
    * tiny). Freeze the result as a literal for engine-portable querying
    * (`ScaleProbe pqtrain` prints it as Scala source — the same
    * frozen-artifact workflow as the BPE merge table).
    */
  def pqTrain(corpus: DataFrame, vecCol: String, m: Int = 4, k: Int = 16,
      seed: Long = 42L, maxIter: Int = 20): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol).cast("array<double>"))).head().getInt(0)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val ds = dim / m
    val nv = corpus
      .select(VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("nv"))
      .filter(aggregate(col("nv"), lit(0.0d), (a, x) => a + x * x) > 0d)
    fitSubspaces(nv, m, ds, k, seed, maxIter)
  }

  /** Per-subspace Lloyd fits over a single array<double> column `nv` —
    * the shared training core of [[pqTrain]] (whole normalized vectors)
    * and [[rqTrain]] (cell residuals). */
  private def fitSubspaces(nv: DataFrame, m: Int, ds: Int, k: Int,
      seed: Long, maxIter: Int): Array[Array[Array[Double]]] = {
    val cached = nv.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try (0 until m).toArray.map { i =>
      val sub = cached.select(org.apache.spark.ml.functions.array_to_vector(
        slice(col("nv"), i * ds + 1, ds)).as("features"))
      new org.apache.spark.ml.clustering.KMeans()
        .setK(k).setSeed(seed + i).setMaxIter(maxIter)
        .setFeaturesCol("features")
        .fit(sub)
        .clusterCenters.map(_.toArray)
    } finally cached.unpersist()
  }

  /** Asymmetric-distance (ADC) top-k with a frozen PQ codebook: encode
    * the corpus to m small-int codes per row, broadcast each query's
    * m x k distance table, and score a pair as the sum of table lookups
    * — no full-vector math on the corpus side after encoding. Output:
    * (query_id, neighbor_id, adist, rank), rank by (adist asc,
    * neighbor_id asc).
    *
    * Scale shape: the corpus scan computes codes once (at 100 TB the
    * codes frame is what an index build WRITES — m bytes a row instead
    * of 4*dim); scoring touches codes + a broadcast table only, and the
    * only shuffle is the per-query top-k window over candidate rows.
    * Approximation error vs exact cosine is the PQ quantization error —
    * bounded by codebook quality, measured in the spec's recall probe.
    */
  def pqAdcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebook: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val enc = corpus
      .select(col(idCol).as("neighbor_id"),
        VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("cv"))
      .select(col("neighbor_id"), VectorFunctions.pqCodes(col("cv"), codebook).as("codes"))
    val qt = queries
      .select(col(idCol).as("query_id"),
        VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("qv"))
      .select(col("query_id"), VectorFunctions.pqDistTables(col("qv"), codebook).as("dt"))
    adcTopK(enc.join(broadcast(qt), col("query_id") =!= col("neighbor_id")), k)
  }

  /** Per-row PQ codes under a frozen codebook — the compressed
    * representation an index build WRITES at scale (m small ints per
    * row instead of 4*dim bytes of floats); [[pqCodeGroups]] /
    * [[pqSubcodePairs]] are groupings/joins over exactly this frame.
    * Output: (idCol, codes array<int>, 1-based). Expression-only.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]]): DataFrame =
    // TWO projections, not one nested expression: pqCodes references its
    // input ~2*m*k times, and CollapseProject keeps a non-cheap alias
    // with multiple references materialized — nesting l2Normalize directly
    // instead duplicates the whole norm fold at every reference site
    // (measured 25x slower on the sf0.1 encode)
    corpus
      .select(col(idCol), VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("_nv"))
      .select(col(idCol), VectorFunctions.pqCodes(col("_nv"), codebook).as("codes"))

  /** Compressed-domain duplicate groups: vectors whose PQ codes
    * COINCIDE in every subspace — the FAISS-style "same quantization
    * cell in all m codebooks" near-dup criterion, i.e. SemDeDup
    * semantics evaluated on m-byte codes instead of full vectors.
    * Output one row per code cell holding >= `minGroup` vectors:
    * (code_key, keep_id, n_members) with keep_id = min id (the same
    * keep-lowest contract as [[Dedup.exactGroups]]).
    *
    * Scale shape (100 TB): encode is a map-side projection off the
    * corpus scan; the ONLY shuffle is the groupBy on the m-int code
    * tuple (partial aggregation collapses each cell to one row per map
    * partition first, so the exchange carries <= cells x partitions
    * rows, never the corpus). No joins, no windows — this is the
    * cheapest whole-corpus near-dup sweep in the library, the
    * compressed-domain complement to [[Dedup.semanticDedup]].
    */
  def pqCodeGroups(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]], minGroup: Int = 2): DataFrame = {
    require(minGroup >= 1, s"pqCodeGroups: need minGroup>=1, got $minGroup")
    // two-step nv -> codes projection: see pqEncode's CollapseProject note
    corpus
      .select(col(idCol).as("_id"),
        VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("_nv"))
      .select(col("_id"), VectorFunctions.pqCodes(col("_nv"), codebook).as("_codes"))
      .groupBy(col("_codes"))
      .agg(min(col("_id")).as("keep_id"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= minGroup)
      .select(array_join(col("_codes").cast("array<string>"), "-").as("code_key"),
        col("keep_id"), col("n_members"))
  }

  /** IVF-PQ: the composed production ANN architecture (coarse quantizer
    * for candidate pruning + product codes for scoring — the FAISS
    * IVF-PQ shape re-expressed as joins). Corpus rows get their nearest
    * cell AND their PQ codes in ONE pass (`nearestCells` carries the
    * codes through its window, no corpus-keyed rejoin); queries probe
    * their `nProbe` nearest cells and broadcast their ADC tables;
    * candidates come from the (cell) equi-join only — cost is
    * |probed cells| x occupancy, never |corpus| — and are scored by
    * table lookups alone. vs [[pqAdcTopK]]: that scans every code row
    * per query (the flat-index baseline); this prunes to probed cells
    * first. vs [[ivfFromCentroids]]: that reranks candidates with exact
    * cosine on full vectors; here scoring needs only the m-byte codes —
    * at 100 TB the full vectors never leave the index build. Centroids
    * are md5-sampled rows (deterministic, engine-portable) like
    * [[ivfTopK]]; recall is bounded by nProbe x PQ quantization error,
    * both measured in the spec.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebook: Array[Array[Array[Double]]], k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, seed: String = "42"): DataFrame = {
    val cv = vectors(corpus, idCol, vecCol, "neighbor_id", "cv")
    val qv = vectors(queries, idCol, vecCol, "query_id", "qv")
    val cents = md5Centroids(cv, nCentroids, seed)
    // two-step nv -> codes projection: see pqEncode's CollapseProject note
    val assigned = nearestCells(
      cv.withColumn("_nv", VectorFunctions.l2Normalize(col("cv")))
        .withColumn("codes", VectorFunctions.pqCodes(col("_nv"), codebook)).drop("_nv"),
      cents, "neighbor_id", "cv", 1, keep = Seq(col("codes")))
    val probed = nearestCells(qv, cents, "query_id", "qv", nProbe)
    val qt = qv
      .select(col("query_id"), VectorFunctions.l2Normalize(col("qv")).as("_nv"))
      .select(col("query_id"), VectorFunctions.pqDistTables(col("_nv"), codebook).as("dt"))
    // no distinct: the assignment is take=1, so a (query, neighbor) pair
    // can arise from exactly one cell — the equi-join is already unique
    val cands = probed.join(assigned, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "codes")
    adcTopK(cands.join(broadcast(qt), Seq("query_id")), k)
  }

  // ------------------------------------------------------------------
  // Residual quantization (IVF+RQ — FAISS's IndexIVFPQ encodes the
  // RESIDUAL x - c(cell), not x itself; Jégou-Douze-Schmid TPAMI'11
  // §IV.B). Residuals concentrate near the origin with far smaller
  // per-cell variance than the raw vectors, so the same m x k codebook
  // budget quantizes them with lower error — the accuracy half of the
  // IVF-PQ composition that ivfPqTopK (whole-vector codes) leaves on
  // the table.

  /** Cell assignment + normalized-space residuals under the SAME
    * md5-sampled centroids as [[ivfTopK]] (seeded, engine-replayable).
    * Residuals live in l2-normalized space on BOTH the corpus and query
    * side: r = nv(x) - nv(centroid), so ADC over residual codes
    * approximates ||nv(q) - nv(x)||^2 = 2 - 2*cos within a cell.
    * Returns (residuals: id/cid/rv, cents: cid/cvec-normalized).
    */
  private def residualFrame(df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, seed: String): (DataFrame, DataFrame) = {
    val nvf = df.select(col(idCol).as("_rid"),
      VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("nv"))
    val cents = md5Sample(nvf, "_rid", seed, nCentroids)
      .select(col("_rid").as("cid"), col("nv").as("cvec"))
    val assigned = nearestCells(nvf, cents, "_rid", "nv", 1, keep = Seq(col("nv")))
    val res = assigned.join(broadcast(cents), Seq("cid"))
      .select(col("_rid"), col("cid"),
        VectorFunctions.arraySub(col("nv"), col("cvec")).as("rv"))
    (res, cents)
  }

  /** Train a residual-PQ codebook: assign cells, subtract the cell
    * centroid, fit `k` centroids per contiguous subspace of the
    * RESIDUAL. Same frozen-literal workflow as [[pqTrain]]
    * (`ScaleProbe rqtrain` prints Scala source).
    */
  def rqTrain(corpus: DataFrame, idCol: String, vecCol: String, m: Int = 4,
      k: Int = 16, nCentroids: Int = 8, seed: Long = 42L,
      maxIter: Int = 20): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol).cast("array<double>"))).head().getInt(0)
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val (res, _) = residualFrame(corpus, idCol, vecCol, nCentroids, seed.toString)
    fitSubspaces(res.select(col("rv").as("nv")), m, dim / m, k, seed, maxIter)
  }

  /** IVF + residual-PQ top-k: probe `nProbe` cells per query, score
    * candidates by ADC over RESIDUAL codes — the query's distance
    * tables are built per probed cell from (nv(q) - centroid), so the
    * residual geometry matches the corpus encoding cell by cell.
    *
    * Scale shape: identical joins to [[ivfPqTopK]] (cell equi-join
    * only; each neighbor lives in exactly one cell so pairs are unique
    * by construction), plus one broadcast of the per-(query, cell)
    * tables (nProbe * m * k doubles per query — tiny). The corpus-side
    * artifact an index build writes is (cid, m codes) per row.
    */
  def rqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, codebook: Array[Array[Array[Double]]], k: Int,
      nCentroids: Int = 8, nProbe: Int = 2, seed: String = "42"): DataFrame = {
    val (cres, cents) = residualFrame(corpus, idCol, vecCol, nCentroids, seed)
    val enc = cres.select(col("_rid").as("neighbor_id"), col("cid"),
      VectorFunctions.pqCodes(col("rv"), codebook).as("codes"))
    val qnv = queries.select(col(idCol).as("query_id"),
      VectorFunctions.l2Normalize(col(vecCol).cast("array<double>")).as("qnv"))
    val probed = nearestCells(qnv, cents, "query_id", "qnv", nProbe,
      keep = Seq(col("qnv"), col("cvec")))
    val qt = probed
      .select(col("query_id"), col("cid"),
        VectorFunctions.arraySub(col("qnv"), col("cvec")).as("_qr"))
      .select(col("query_id"), col("cid"),
        VectorFunctions.pqDistTables(col("_qr"), codebook).as("dt"))
    adcTopK(enc.join(broadcast(qt), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Compressed-domain near-dup PAIRS via PQ multi-index probing — the
    * Hamming-ball-radius-1 extension of [[pqCodeGroups]]' exact-code
    * equality (the code-domain analog of Norouzi/Punjani/Fleet's
    * multi-index hashing): two vectors are candidates when their m
    * subquantizer codes agree on >= m-1 slots, i.e. they share a
    * leave-one-out masked key for SOME masked slot. Candidates are
    * verified by EXACT cosine over the full vectors, so reported
    * similarities carry no quantization error — the codes only gate
    * which pairs get the exact math. Output: (lo_id, hi_id, cosine)
    * for verified pairs, cosine quantized to 6 decimals.
    *
    * Scale shape (100 TB): each row explodes to exactly m masked keys
    * (m=4 here — constant fanout, unlike all-pairs anything); candidate
    * generation is ONE self-equi-join on (masked_slot, masked_codes);
    * `maxBucket` is the standard window-count skew guard over the join's
    * own key (a degenerate code region beyond the cap contributes no
    * pairs — the recall-for-boundedness trade of every banded family
    * here). Pairs are deduped on bare ids BEFORE vectors are re-joined,
    * so full vectors never ride the candidate shuffle.
    */
  def pqSubcodePairs(corpus: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Double]]], threshold: Double,
      maxBucket: Int = 4096): DataFrame = {
    require(threshold >= -1 && threshold <= 1,
      s"pqSubcodePairs: need -1<=threshold<=1, got $threshold")
    require(maxBucket >= 1, s"pqSubcodePairs: need maxBucket>=1, got $maxBucket")
    val m = codebook.length
    // two-step nv -> codes projection: see pqEncode's CollapseProject note
    val cv = vectors(corpus, idCol, vecCol, "_id", "_v")
      .withColumn("_nv", VectorFunctions.l2Normalize(col("_v")))
      .withColumn("_codes", VectorFunctions.pqCodes(col("_nv"), codebook))
      .drop("_nv")
    // m leave-one-out keys: slot i's code replaced by 0 (codes are
    // 1-based, so 0 can never collide with a real code)
    val keys = cv.select(col("_id"), explode(array((0 until m).map { i =>
        struct(lit(i).as("slot"),
          array_join(concat(
              slice(col("_codes"), 1, i),
              array(lit(0)),
              slice(col("_codes"), i + 2, m - i - 1)).cast("array<string>"),
            "-").as("key"))
      }: _*)).as("_k"))
      .select(col("_id"), col("_k.slot").as("slot"), col("_k.key").as("key"))
    val capped = keys
      .withColumn("_bsz", count(lit(1)).over(
        Window.partitionBy(col("slot"), col("key"))))
      .filter(col("_bsz") <= maxBucket)
      .select("slot", "key", "_id")
    // bare-id candidate pairs; all-m-agree pairs arise from every mask,
    // hence the distinct
    val pairs = capped.select(col("slot"), col("key"), col("_id").as("_lo"))
      .join(capped.select(col("slot"), col("key"), col("_id").as("_hi")),
        Seq("slot", "key"))
      .filter(col("_lo") < col("_hi"))
      .select("_lo", "_hi").distinct()
    pairs
      .join(cv.select(col("_id").as("_lo"), col("_v").as("_vl")), Seq("_lo"))
      .join(cv.select(col("_id").as("_hi"), col("_v").as("_vh")), Seq("_hi"))
      .withColumn("cosine",
        round(VectorFunctions.cosine(col("_vl"), col("_vh")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("_lo").as("lo_id"), col("_hi").as("hi_id"), col("cosine"))
  }

  /** Per-label prototype centroids from a DETERMINISTIC md5-ranked
    * sample (Rocchio prototypes): the `sampleN` vectors with smallest
    * md5(seed:id) per label are summed element-wise in rank order and
    * divided by the sample count. Sampling bounds the per-label state
    * (the fold runs over at most `sampleN` vectors, the same
    * md5-prototype discipline as [[ivfTopK]]'s centroids), and the
    * ORDERED fold makes the float sum engine-portable — any SQL engine
    * replaying `sum(v[d] ORDER BY rank) / n` reproduces each component
    * bit for bit, which a commutative float sum would not.
    * Output: (labelCol, centroid array<double>, n_sample).
    */
  def labelCentroids(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, sampleN: Int = 32, seed: String = "42"): DataFrame = {
    require(sampleN > 0, s"labelCentroids: need sampleN>0, got $sampleN")
    val ranked = emb.select(col(labelCol).as("_lab"), col(idCol).as("_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("_lab")).orderBy(md5Order("_id", seed): _*)))
      .filter(col("_rn") <= sampleN)
    ranked.groupBy(col("_lab"))
      .agg(sort_array(collect_list(struct(col("_rn"), col("_v")))).as("_sv"),
        count(lit(1)).as("n_sample"))
      .select(col("_lab").as(labelCol),
        transform(
          aggregate(col("_sv"),
            transform(element_at(col("_sv"), 1).getField("_v"), _ => lit(0.0)),
            (acc, x) => zip_with(acc, x.getField("_v"), (a, b) => a + b)),
          c => c / col("n_sample")).as("centroid"),
        col("n_sample"))
  }

  /** Fixed-iteration Lloyd k-means with ENGINE-PORTABLE arithmetic
    * (EXT): the exact-replay complement of [[ivfTopKKMeans]]'s MLlib
    * codebook — MLlib's learned centroids depend on float reduction
    * order and are only rows-only checkable, while this variant is
    * hash-checkable in any SQL engine. Seeds are the `k` corpus rows
    * with smallest md5(seed:id) (the suite's deterministic-codebook
    * discipline); each sweep assigns every vector to its
    * highest-cosine centroid (ties toward the smaller centroid id)
    * and recomputes means with the PageRank float discipline:
    * components quantized round(12) -> summed as DECIMAL(30,12)
    * (exact, commutative — partition order cannot change the sum) ->
    * mean re-quantized round(`quantize`), so every iteration's
    * centroid state lives on a grid any engine reproduces bit for
    * bit. A cluster that loses all members keeps its previous
    * centroid (documented; with sane k this is a pathology).
    * Output: (idCol, cluster_id) after `iterations` sweeps.
    *
    * Scale shape (100 TB): the centroid table is k rows (bounded by a
    * limit — broadcast-legal); assignment is a map-side nested loop +
    * per-id argmax window; the mean recompute explodes to (cluster,
    * dim) keys — k*dim groups with map-side partial decimal sums.
    * Nothing shuffles the corpus except the argmax window's id hash.
    */
  def kmeansFixed(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int = 2, seed: String = "42",
      quantize: Int = 9): DataFrame = {
    val (assigned, _) =
      kmeansCore(emb, idCol, vecCol, k, iterations, seed, quantize)
    assigned.select(col("_id").as(idCol), col("_cid").as("cluster_id"))
  }

  /** The (assigned, final centroids) pair behind [[kmeansFixed]] —
    * shared with [[kmeansClusterQuality]] so the evaluation scores the
    * SAME sweeps the assignment ran.
    */
  private def kmeansCore(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, seed: String,
      quantize: Int): (DataFrame, DataFrame) = {
    require(k > 0 && iterations >= 1 && iterations <= 20,
      s"kmeansFixed: need k>0, 1<=iterations<=20; got k=$k iterations=$iterations")
    val cv = vectors(emb, idCol, vecCol, "_id", "_v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = md5Sample(cv, "_id", seed, k)
      .select(col("_id").as("_cid"), col("_v").as("_cv"))
    var assigned: DataFrame = null
    var it = 0
    while (it < iterations) {
      val byId = Window.partitionBy(col("_id"))
        .orderBy(col("_cos").desc, col("_cid").asc)
      assigned = cv.crossJoin(broadcast(cents))
        .select(col("_id"), col("_v"), col("_cid"),
          VectorFunctions.cosine(col("_v"), col("_cv")).as("_cos"))
        .withColumn("_rn", row_number().over(byId))
        .filter(col("_rn") === 1)
        .select(col("_id"), col("_v"), col("_cid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      it += 1
      if (it < iterations) {
        val means = assigned
          .select(col("_cid"), posexplode(col("_v")).as(Seq("_d", "_x")))
          .groupBy(col("_cid"), col("_d"))
          .agg((sum(round(col("_x"), 12).cast("decimal(30,12)")).cast("double") /
            count(lit(1))).as("_m"))
          .select(col("_cid"), col("_d"), round(col("_m"), quantize).as("_mq"))
          .groupBy(col("_cid"))
          .agg(transform(sort_array(collect_list(struct(col("_d"), col("_mq")))),
            x => x.getField("_mq")).as("_nv"))
        // empty clusters keep their previous centroid
        cents = cents.join(means, Seq("_cid"), "left")
          .select(col("_cid"), coalesce(col("_nv"), col("_cv")).as("_cv"))
          .orderBy(col("_cid")).limit(k)
      }
    }
    (assigned, cents)
  }

  /** Simplified CENTROID silhouette (cluster-quality readout for the
    * exact-replay k-means): per vector, `own-centroid cosine - best
    * other-centroid cosine` (positive = well separated), rolled up per
    * cluster as (n, mean_sep) with the decimal-sum discipline so the
    * mean is engine-portable. A clustering report nobody can game:
    * low mean_sep clusters are the ones to re-split or merge.
    */
  def kmeansClusterQuality(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 2, seed: String = "42",
      quantize: Int = 9): DataFrame = {
    val (assigned, cents) =
      kmeansCore(emb, idCol, vecCol, k, iterations, seed, quantize)
    val scored = assigned.select(col("_id"), col("_v"), col("_cid").as("_own"))
      .crossJoin(broadcast(cents))
      .select(col("_id"), col("_own"), col("_cid"),
        VectorFunctions.cosine(col("_v"), col("_cv")).as("_cos"))
    val own = scored.filter(col("_cid") === col("_own"))
      .select(col("_id"), col("_own"), col("_cos").as("_oc"))
    val other = scored.filter(col("_cid") =!= col("_own"))
      .groupBy(col("_id")).agg(max(col("_cos")).as("_bc"))
    own.join(other, Seq("_id"))
      .select(col("_own"), round(col("_oc") - col("_bc"), 12).as("_sep"))
      .groupBy(col("_own"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("_sep").cast("decimal(30,12)")).cast("double") /
          count(lit(1)), quantize).as("mean_sep"))
      .select(col("_own").as("cluster_id"), col("n"), col("mean_sep"))
  }

  /** Nearest-centroid (Rocchio) assignment: every vector gets the label
    * of its highest-cosine prototype centroid — the cheap embedding
    * domain classifier a curation pipeline uses to bucket documents for
    * mixing/reporting before any learned model exists. Output:
    * (idCol, labelCol, pred) for every input row, ties toward the
    * smaller centroid label.
    *
    * Scale shape (100 TB): the centroid table is |labels| rows and
    * broadcast; assignment is one argmax window per vector over
    * |labels| scores — a map-side nested loop, no corpus shuffle except
    * the window's own id hash (and the window runs over |labels| rows
    * per id, never the corpus). `maxLabels` makes the broadcast promise
    * explicit (suite rule: a broadcast hint must wrap a provably
    * bounded relation): the smallest `maxLabels` labels participate,
    * any beyond the cap are dropped — a label space larger than the
    * cap is not a prototype classifier anymore.
    */
  def nearestCentroidAssign(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, centroids: DataFrame,
      maxLabels: Int = 4096): DataFrame = {
    require(maxLabels > 0, s"nearestCentroidAssign: need maxLabels>0, got $maxLabels")
    val cents = centroids.select(col(labelCol).as("_plab"),
        col("centroid").cast("array<double>").as("_cv"))
      .orderBy(col("_plab").asc).limit(maxLabels)
    val scored = emb.select(col(idCol).as("_id"), col(labelCol).as("_lab"),
        col(vecCol).cast("array<double>").as("_v"))
      .crossJoin(broadcast(cents))
      .select(col("_id"), col("_lab"), col("_plab"),
        VectorFunctions.cosine(col("_v"), col("_cv")).as("_cos"))
    val byId = Window.partitionBy(col("_id"))
      .orderBy(col("_cos").desc, col("_plab").asc)
    scored.withColumn("_rn", row_number().over(byId))
      .filter(col("_rn") === 1)
      .select(col("_id").as(idCol), col("_lab").as(labelCol),
        col("_plab").as("pred"))
  }

  /** Int8 scalar quantization (the FAISS `SQ8` / production "symmetric
    * per-vector" scheme): q_i = round(x_i * 127 / max|x|) — the index
    * stores dim BYTES plus one scale per vector instead of 4*dim float
    * bytes, and similarity becomes INTEGER arithmetic. The per-vector
    * scale cancels in cosine, so the approximate score is
    * idot / (sqrt(|qa|^2) * sqrt(|qb|^2)) over three EXACT integers —
    * sqrt and one division are the only floats, both correctly-rounded
    * IEEE ops, so the whole quantized search replays bit-for-bit in
    * the oracle (round() ties away from zero in both engines).
    * Zero vectors quantize to all-zero and are excluded from scoring
    * (norm 0 — no defined direction), mirrored in the oracle.
    */
  def sqQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    emb.select(col(idCol),
        when(maxabs === 0, transform(v, _ => lit(0)))
          .otherwise(transform(v, x => round(x * 127.0 / maxabs).cast("int")))
          .as("qv"))
      .withColumn("qn2", aggregate(col("qv"), lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")))
  }

  /** Brute-force top-k over the int8-quantized corpus: the memory-bound
    * scan costs dim int8-multiplies per pair instead of dim float
    * multiplies over 4x the bytes. Same shape as [[bruteForceTopK]]
    * (broadcast query side, per-query rank window) with the scores from
    * [[sqQuantize]] integer dots.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = sqQuantize(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qv").as("cqv"), col("qn2").as("cn2"))
      .filter(col("cn2") > 0)
    val q = sqQuantize(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qv").as("qqv"), col("qn2").as("qn2"))
      .filter(col("qn2") > 0)
    // r14 (guide §4): native integer-dot kernel — the zip_with/aggregate
    // HOF pair was CodegenFallback, one interpreted lambda + boxing per
    // component per candidate pair; exact long arithmetic either way
    val idot = VectorFunctions.intDot(col("qqv"), col("cqv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (idot.cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("cn2").cast("double"))))
          .as("cos_sq"))
    rankWithin(scored, col("cos_sq").desc, "neighbor_id", k, rank = "rank")
  }

  /** Skew-capped sign-LSH bucket membership: (_t, _b, _nid) rows for
    * `cv` = (_nid, _v), with buckets above `maxBucket` members dropped
    * whole (their members still meet through their OTHER tables). */
  private def signBucketFrame(cv: DataFrame,
      planes: Array[Array[Array[Double]]], maxBucket: Int): DataFrame = {
    // the membership frame feeds its own cap aggregate, BOTH sides of
    // the pair self-join, and the query seeding — localCheckpoint
    // collapses those plan copies to one computed RDD (Spark re-executes
    // repeated subtrees; the bfsHops discipline, and the engine twin of
    // the oracle's MATERIALIZEd CTEs). Cluster caveat: localCheckpoint
    // stores UNREPLICATED executor-local blocks and truncates lineage —
    // losing an executor (failure or dynamic-allocation reclaim)
    // mid-build fails the job instead of recomputing. On a real cluster
    // with dynamic allocation, swap for persist(MEMORY_AND_DISK) + an
    // eager count() (keeps lineage, survives executor loss).
    val bk = cv.select(col("_nid"),
      posexplode(VectorFunctions.signBuckets(col("_v"), planes))
        .as(Seq("_t", "_b")))
      .localCheckpoint()
    val ok = bk.groupBy(col("_t"), col("_b"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") <= maxBucket)
      .select(col("_t"), col("_b"))
    bk.join(ok, Seq("_t", "_b")).localCheckpoint()
  }

  /** Graph build from a pre-bucketed corpus: each unordered bucket pair
    * is scored ONCE (cosine is exactly symmetric — same ascending fold
    * both directions), mirrored, top-m per src, then symmetrized. */
  private def nswAdjFromBuckets(cv: DataFrame, kept: DataFrame,
      m: Int): DataFrame = {
    val pairs = kept.select(col("_t"), col("_b"), col("_nid").as("_src"))
      .join(kept.select(col("_t"), col("_b"), col("_nid").as("_dst")),
        Seq("_t", "_b"))
      .filter(col("_src") < col("_dst"))
      .select(col("_src"), col("_dst"))
      .dropDuplicates("_src", "_dst")
    val scoredOnce = pairs
      .join(cv.select(col("_nid").as("_src"), col("_v").as("_sv")), Seq("_src"))
      .join(cv.select(col("_nid").as("_dst"), col("_v").as("_dv")), Seq("_dst"))
      .select(col("_src"), col("_dst"),
        VectorFunctions.cosine(col("_sv"), col("_dv")).as("_cos"))
    val scored = scoredOnce.union(scoredOnce.select(col("_dst").as("_src"),
      col("_src").as("_dst"), col("_cos")))
    val w = Window.partitionBy("_src").orderBy(col("_cos").desc, col("_dst").asc)
    val directed = scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= m).select(col("_src"), col("_dst"))
    directed.union(directed.select(col("_dst").as("_src"), col("_src").as("_dst")))
      .distinct()
      .select(col("_src").as("src"), col("_dst").as("dst"))
      // every search hop equi-joins the frontier against this frame:
      // without a checkpoint each hop re-runs the whole graph build
      .localCheckpoint()
  }

  /** Deterministic NSW neighbor graph (the HNSW level-0 layer): each
    * node keeps its `m` best neighbors by exact cosine among its
    * sign-LSH bucket peers, then edges are symmetrized. Candidate
    * generation is the bucketed kind (never all-pairs): a node only
    * meets the peers of its `nTables` buckets, and buckets above
    * `maxBucket` members are dropped whole before the self-join (the
    * minhash skew posture — a 10^6-member hot bucket is a 10^12-pair
    * stage at crawl scale; its members still meet through their OTHER
    * tables). Output: (src, dst) directed both ways, <= 2·n·m edges.
    *
    * Scale shape (100 TB): one corpus scan to bucket, one equi-join on
    * (table, bucket) capped by maxBucket, one top-m window partitioned
    * by src — every shuffle carries ids + one double, never vectors
    * (vectors join back per bucket side from the base scan).
    */
  def nswAdjacency(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, planes: Array[Array[Array[Double]]],
      maxBucket: Int = 256): DataFrame = {
    require(m >= 1, s"nswAdjacency: need m>=1, got $m")
    val cv = vectors(corpus, idCol, vecCol, "_nid", "_v")
    nswAdjFromBuckets(cv, signBucketFrame(cv, planes, maxBucket), m)
  }

  /** HNSW-lite graph ANN (Malkov-Yashunin '16, flattened to the level-0
    * NSW layer with LSH seeding and a fixed hop budget): greedy beam
    * search over [[nswAdjacency]]. Unlike the priority-queue original —
    * whose visit order is data-dependent and replays on no other
    * engine — each hop here is a SET step, so the whole search is
    * oracle-portable:
    *
    *   V_0 = query's (skew-capped) sign-LSH bucket peers, scored
    *   F_0 = top-`ef` of V_0 by (cos desc, id asc)
    *   C_h = neighbors(F_{h-1}) \ V_{h-1}      (per query, distinct)
    *   F_h = top-`ef` of C_h
    *   V_h = V_{h-1} ∪ C_h
    *
    * and the answer is top-k of V_H (self excluded) with the brute-force
    * tie-break. Exact-cosine comparisons over identical IEEE doubles are
    * order-free, so both engines walk the identical beam. LSH seeding
    * replaces the original's upper layers: a fixed global entry point
    * needs O(diameter) hops to reach a far query's neighborhood (recall
    * measured 0.28 at 2000 nodes), while bucket seeds start the walk
    * already near the query at any corpus size (0.96 same data).
    *
    * Scale shape (100 TB): seeding is bucket-bounded (maxBucket caps the
    * hot ones); per hop, ONE equi-join of the (|q|·ef)-row frontier
    * against the adjacency (partitioned by src) plus a top-ef window
    * over <= |q|·ef·m rows — query cost is independent of corpus size
    * once the graph is built, the property that makes graph indexes the
    * industry default. `hops` is a small constant (plan depth is
    * bounded); at hops > ~8 localCheckpoint the frontier per round like
    * Graph.bfsHops.
    *
    * Output: (query_id, neighbor_id, cos, rank) — the ann_*_topk shape.
    */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, ef: Int = 16, hops: Int = 3,
      planes: Array[Array[Array[Double]]],
      maxBucket: Int = 256): DataFrame = {
    require(k >= 1 && ef >= 1 && hops >= 1,
      s"hnswTopK: need k,ef,hops>=1, got $k/$ef/$hops")
    val cv = vectors(corpus, idCol, vecCol, "_nid", "_v")
    val kept = signBucketFrame(cv, planes, maxBucket)
    val adj = nswAdjFromBuckets(cv, kept, m)
    val qv = vectors(queries, idCol, vecCol, "query_id", "_qv")
    // V_0: the query's bucket peers (self excluded), exact-scored
    val qbk = queries.select(col(idCol).as("query_id"),
      posexplode(VectorFunctions.signBuckets(
        col(vecCol).cast("array<double>"), planes)).as(Seq("_t", "_b")))
    val c0 = qbk.join(kept, Seq("_t", "_b"))
      .filter(col("_nid") =!= col("query_id"))
      .select(col("query_id"), col("_nid").as("node"))
      .distinct()
    // v0 and each hop's scored frame are referenced by the frontier
    // window, the next hop's anti-join, AND the final union — checkpoint
    // each (they are <= |q|·ef·m rows) so the beam walks forward instead
    // of re-deriving every earlier hop per reference
    def score(cands: DataFrame): DataFrame = cands
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, col("node") === col("_nid"))
      .select(col("query_id"), col("node"),
        VectorFunctions.cosine(col("_qv"), col("_v")).as("cos"))
      .localCheckpoint()
    def best(scored: DataFrame, n: Int): DataFrame =
      rankWithin(scored, col("cos").desc, "node", n)
    val v0 = score(c0)
    var visited = v0
    var frontier = best(v0, ef).select(col("query_id"), col("node"))
    for (_ <- 1 to hops) {
      val cand = frontier.join(adj, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
        .distinct()
        .join(visited.select(col("query_id"), col("node")),
          Seq("query_id", "node"), "left_anti")
      val scored = score(cand)
      frontier = best(scored, ef).select(col("query_id"), col("node"))
      visited = visited.union(scored)
    }
    best(visited.filter(col("query_id") =!= col("node")), k)
      .select(col("query_id"), col("node").as("neighbor_id"), col("cos"),
        col("_rk").as("rank"))
  }

  /** Embedding-distribution drift between two corpus halves: the
    * cosine between the two MEAN vectors — the standard
    * "did my embedding space move" monitor between snapshots /
    * sources / time windows. Components are quantized to `scale`
    * integer units (round-away-from-zero — portable), so the per-dim
    * sums are EXACT order-free BIGINTs; the count factors cancel in
    * the cosine, so the dot/norms run directly on the scaled integer
    * sums and only the final sqrt/division are float. The 2⁻¹² default
    * quantization (~2.4e-4 relative) is far below any drift worth
    * alarming on. Output one row: (n_a, n_b, cos_means).
    *
    * Scale shape (100 TB): one (half, dim) groupBy of the exploded
    * components — map-side combinable, exchange bounded at 2·dim rows;
    * everything after runs on that aggregate. The integer dot is exact
    * while |Σq| stays under ~3e9 per dim (10⁹ vectors at default
    * scale); beyond that, quantize coarser.
    */
  def meanVectorDrift(vecs: DataFrame, vecCol: String, splitCond: Column,
      scale: Int = 4096): DataFrame = {
    require(scale >= 1, s"meanVectorDrift: need scale>=1, got $scale")
    val q = vecs
      .select(splitCond.cast("int").as("_g"),
        posexplode(col(vecCol)).as(Seq("_d", "_x")))
      .select(col("_g"), col("_d"),
        round(col("_x").cast("double") * scale).cast("long").as("_q"))
    val sums = q.groupBy(col("_g"), col("_d"))
      .agg(sum(col("_q")).as("_s"), count(lit(1)).as("_c"))
    val a = sums.filter(col("_g") === 1)
      .select(col("_d"), col("_s").as("_sa"), col("_c").as("_ca"))
    val b = sums.filter(col("_g") === 0)
      .select(col("_d"), col("_s").as("_sb"), col("_c").as("_cb"))
    a.join(b, Seq("_d"))
      // per-dimension sums reach 4096·n: their products pass BIGINT at
      // ~1M rows (adversarial vectors) — DECIMAL keeps the drift exact
      .agg(sum(col("_sa").cast("decimal(19,0)") * col("_sb")).as("_dot"),
        sum(col("_sa").cast("decimal(19,0)") * col("_sa")).as("_na"),
        sum(col("_sb").cast("decimal(19,0)") * col("_sb")).as("_nb"),
        max(col("_ca")).as("n_a"), max(col("_cb")).as("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("_dot").cast("double") /
          (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))), 6)
          .as("cos_means"))
  }
}
