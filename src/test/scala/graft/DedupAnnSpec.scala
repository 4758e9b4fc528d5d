package graft

import org.apache.spark.sql.functions._
import graft.operators.{Ann, Dedup}

class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),
    (2L, "completely different words entirely here now folks"),
    (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (4L, "another unrelated sentence with its own tokens")
  ).toDF("doc_id", "text")

  // Exact all-pairs n-gram Jaccard >= threshold, the reference the
  // prefix-filtered Dedup.ngramJaccardPairs is checked against: explode
  // distinct 64-bit hashed shingles, self-join on the shingle, count
  // intersections per pair (only pairs sharing >= 1 shingle ever
  // materialize), then filter on the derived Jaccard. Shingles with
  // df == 1 match nothing, so they are dropped before the self-join
  // (`sizes` still counts them).
  private def exactJaccardPairs(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, shingleK: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = docs
      .select(col(idCol).as("jid"),
        explode(transform(graft.functions.TextFunctions.wordShingles(
          col(textCol), shingleK), sh => xxhash64(sh))).as("sh"))
      .distinct()
    val sizes = sh.groupBy("jid").agg(count(lit(1)).as("sz"))
    val shJoin = sh
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("_df") >= 2).drop("_df")
    val inter = shJoin.as("x").join(shJoin.as("y"),
        col("x.sh") === col("y.sh") && col("x.jid") < col("y.jid"))
      .groupBy(col("x.jid").as("id_a"), col("y.jid").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("jid", "id_a").withColumnRenamed("sz", "sz_a"), Seq("id_a"))
      .join(sizes.withColumnRenamed("jid", "id_b").withColumnRenamed("sz", "sz_b"), Seq("id_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  test("exactGroups: dup group keeps min id with multiplicity") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    val dupGroup = g.find(_.getLong(1) == 2L).get
    assert(dupGroup.getLong(0) == 0L)
    assert(g.length == 4)
    assert(Dedup.exactDedup(docs, "text", "doc_id").count() == 4)
  }

  test("ngramJaccardPairs: exact dup pair has jaccard 1.0") {
    val pairs = exactJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
    val exact = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 3L).get
    assert(math.abs(exact.getDouble(2) - 1.0) < 1e-12)
    // the operator at its default df cap finds the same pairs
    val op = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
    assert(op.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq ==
      pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq)
  }

  test("simhashMd5: identical docs get identical hashes, near docs small hamming") {
    val sims = Dedup.simhashMd5(docs, "doc_id", "text")
    val sh = sims.collect()
      .map(r => r.getLong(0) -> java.lang.Long.parseUnsignedLong(r.getString(1), 16)).toMap
    assert(sh(0L) == sh(3L))
    val hammingNear = java.lang.Long.bitCount(sh(0L) ^ sh(1L))
    val hammingFar = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hammingNear < hammingFar)
    val cands = Dedup.simhashCandidates(sims, "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 3L)))
  }

  test("simhashMd5: matches a direct MessageDigest reimplementation") {
    val out = Dedup.simhashMd5(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // reimplement: first 8 md5 bytes per token -> bit-majority -> hex
    def expected(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val counts = new Array[Int](64)
      text.trim.split("\\s+").foreach { tok =>
        md.reset()
        val h = java.nio.ByteBuffer.wrap(md.digest(tok.getBytes("UTF-8"))).getLong
        (0 until 64).foreach(j => counts(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1))
      }
      val v = (0 until 64).foldLeft(0L)((acc, j) => if (counts(j) > 0) acc | (1L << j) else acc)
      f"$v%016x"
    }
    docs.collect().foreach { r =>
      assert(out(r.getLong(0)) == expected(r.getString(1)), s"doc ${r.getLong(0)}")
    }
    assert(out(0L) == out(3L))
  }

  test("minhashNearDupPairsMd5: exact dup survives with jaccard 1.0, deterministic") {
    val pairs = Dedup.minhashNearDupPairsMd5(docs, "doc_id", "text",
        k = 16, bands = 4, shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.find(p => p._1 == 0L && p._2 == 3L).get
    assert(math.abs(exact._3 - 1.0) < 1e-12)
    val again = Dedup.minhashNearDupPairsMd5(docs, "doc_id", "text",
        k = 16, bands = 4, shingleK = 3, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.sorted.toSeq == again.sorted.toSeq)
  }

  test("minhashNearDupPairsMd5: repeated ids merge like the shingle-explode pipeline") {
    val base = (0 until 10).map(w => s"w$w")
    val mk = (ws: Seq[String]) => ws.mkString(" ")
    val dupDocs = Seq(
      (1L, mk(base)),
      (2L, mk(base.take(6))),           // id 2 holds two texts whose
      (2L, mk(base.drop(5))),           // union overlaps doc 1 heavily
      (3L, mk(base)),                   // exact dup of 1
      (4L, mk(base.take(5) ++ Seq("x", "y", "z"))),
      (4L, mk(base.take(5) ++ Seq("x", "y", "z"))), // same text twice
      (5L, mk(base.map(_ + "q"))),      // disjoint
      (6L, "a b")                       // too short to shingle
    ).toDF("doc_id", "text")
    // the composed reference pipeline: explode + distinct shingles,
    // builtin md5 slice minima per id, band self-join, exact Jaccard
    def reference(k: Int, bands: Int, threshold: Double): Set[(Long, Long, Double)] = {
      val sh = dupDocs.select(col("doc_id").as("jid"),
        explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("sh")).distinct()
      val mins = (0 until k).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("sh"))), (i % 4) * 8 + 1, 8)).as(s"h$i"))
      val sigs = sh.groupBy("jid").agg(mins.head, mins.tail: _*)
      val rows = k / bands
      val banded = sigs.select(col("jid"), explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat((b * rows until (b + 1) * rows).map(i => col(s"h$i")): _*).as("bsig"))
      }: _*)).as("bb")).select(col("jid"), col("bb.band").as("band"), col("bb.bsig").as("bsig"))
      val cands = banded.as("a").join(banded.as("b"), col("a.band") === col("b.band") &&
          col("a.bsig") === col("b.bsig") && col("a.jid") < col("b.jid"))
        .select(col("a.jid").as("id_a"), col("b.jid").as("id_b")).distinct()
      val sets = sh.groupBy("jid").agg(collect_list(col("sh")).as("s"), count(lit(1)).as("sz"))
      cands
        .join(sets.select(col("jid").as("id_a"), col("s").as("sa"), col("sz").as("za")), Seq("id_a"))
        .join(sets.select(col("jid").as("id_b"), col("s").as("sb"), col("sz").as("zb")), Seq("id_b"))
        .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .select(col("id_a"), col("id_b"),
          (col("i").cast("double") / (col("za") + col("zb") - col("i"))).as("j"))
        .filter(col("j") >= threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    for ((k, bands, threshold) <- Seq((12, 2, 0.5), (16, 8, 0.3), (12, 6, 0.0))) {
      val got = Dedup.minhashNearDupPairsMd5(dupDocs, "doc_id", "text",
          k = k, bands = bands, shingleK = 3, threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = reference(k, bands, threshold)
      assert(got == want, s"k=$k bands=$bands")
      assert(want.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 1.0))
    }
    // id 2's union of shingles is what pairs with doc 1: 7 shared of 8
    assert(reference(16, 8, 0.0).exists(p => p._1 == 1L && p._2 == 2L && p._3 == 7.0 / 8))
  }

  test("selfJoinBuckets maxBucket cap drops mega-buckets only") {
    // 5 docs share band-sig "big"; 2 share "small" -> cap 3 keeps only small
    val banded = Seq(
      (0L, 0, "big"), (1L, 0, "big"), (2L, 0, "big"), (3L, 0, "big"), (4L, 0, "big"),
      (5L, 0, "small"), (6L, 0, "small")
    ).toDF("id", "band", "bsig")
    val capped = Dedup.selfJoinBuckets(banded, "id", Seq("band", "bsig"), Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((5L, 6L)))
    val uncapped = Dedup.selfJoinBuckets(banded, "id", Seq("band", "bsig"), None).count()
    assert(uncapped == 10 + 1) // C(5,2) + C(2,2)
  }

  test("md5SignPlanes: deterministic +-1 components, stable across calls") {
    val a = graft.functions.VectorFunctions.md5SignPlanes(2, 3, 8)
    val b = graft.functions.VectorFunctions.md5SignPlanes(2, 3, 8)
    assert(a.flatten.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
    assert(a.flatten.flatten.toSet.size == 2) // both signs occur
  }

  test("ngramJaccardPairs with maxShingleDf: capped candidates, exact scores") {
    // doc 0 and 3 are exact dups; their shingles have df >= 2, so a cap of
    // 1 would kill the pair — cap 3 keeps it and the score stays exact 1.0
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
        maxShingleDf = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.find(p => p._1 == 0L && p._2 == 3L).get
    assert(math.abs(exact._3 - 1.0) < 1e-12)
    // uncapped and capped agree on this small corpus (no df > 3 shingles)
    val un = exactJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(pairs.sorted.toSeq == un.toSeq)
  }

  test("ngramJaccardPairs hot-shingle add-back keeps capped scores exact") {
    // cap = 2 splits the vocabulary: common1/common2 appear in all 4 docs
    // (df 4 > cap -> HOT, excluded from candidate generation), rare1 in
    // exactly 2 (df 2 <= cap -> candidate key). Pair (10,11) must be found
    // via rare1 and then scored over the FULL sets: inter = 1 capped +
    // 2 hot = 3, union = 5, jaccard 0.6. A broken interHot join would
    // score it 1/7 and drop it below the 0.5 threshold entirely.
    val hotDocs = Seq(
      (10L, "common1 common2 rare1 ax"),
      (11L, "common1 common2 rare1 bx"),
      (12L, "common1 common2 cy dy"),
      (13L, "common1 common2 ez fz")
    ).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(hotDocs, "doc_id", "text", 1, 0.5,
        maxShingleDf = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(capped.toSeq == Seq((10L, 11L, 0.6)))
    // and the capped score equals the uncapped exact Jaccard
    val un = exactJaccardPairs(hotDocs, "doc_id", "text", 1, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(capped.toSeq == un.toSeq)
  }

  test("ivfTopK: deterministic, recall vs brute force on clustered corpus") {
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = sfEmb.filter(col("vec_id") < 5)
    val ivf = Ann.ivfTopK(sfEmb, q, "vec_id", "embedding", 3, nCentroids = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    val again = Ann.ivfTopK(sfEmb, q, "vec_id", "embedding", 3, nCentroids = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).sorted
    assert(ivf.toSeq == again.toSeq)
    assert(ivf.map(_._1).distinct.length == 5) // every query answered
    val brute = Ann.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = ivf.map(t => (t._1, t._3)).count(brute.contains)
    assert(hit >= ivf.length / 2, s"IVF recall collapsed: $hit/${ivf.length}")
  }

  test("lshTopK multiProbe: candidate set is a superset of single-probe's") {
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = sfEmb.filter(col("vec_id") < 5)
    val planes = graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)
    def resultSet(mp: Boolean) =
      Ann.lshTopK(sfEmb, q, "vec_id", "embedding", 3, planes = planes, multiProbe = mp)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val single = resultSet(false)
    val multi = resultSet(true)
    assert(multi == resultSet(true)) // deterministic
    // per-query best cosine under multi-probe >= under single-probe
    val bestS = single.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    val bestM = multi.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    bestS.foreach { case (qid, c) => assert(bestM(qid) >= c - 1e-12, s"query $qid lost recall") }
  }

  test("simhashCandidates: accepts md5-hex signatures, rejects Long and others") {
    // simhashMd5's 16-hex StringType — previously an API footgun that
    // silently produced garbage buckets
    val hexCands = Dedup.simhashCandidates(
      Dedup.simhashMd5(docs, "doc_id", "text"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hexCands.contains((0L, 3L)))
    // hex blocks must equal the numeric blocks of the same signature:
    // cross-check one doc's buckets against a hand-parse of the hex
    val hexSig = Dedup.simhashMd5(docs, "doc_id", "text")
      .filter(col("doc_id") === 0L).head().getString(1)
    val asLong = java.lang.Long.parseUnsignedLong(hexSig, 16)
    val blocksFromHex = (0 until 4).map(b => hexSig.substring((3 - b) * 4, (3 - b) * 4 + 4))
    val blocksFromLong = (0 until 4).map(b => f"${(asLong >>> (b * 16)) & 0xffffL}%04x")
    assert(blocksFromHex == blocksFromLong)
    // any other signature type raises instead of mis-bucketing
    import spark.implicits._
    val bad = Seq((0L, 1.5)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(bad, "doc_id")
    }
    assert(e.getMessage.contains("simhash column"))
    // including a numeric LongType signature
    val numeric = Seq((0L, 5L), (1L, 5L)).toDF("doc_id", "simhash")
    val eL = intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(numeric, "doc_id")
    }
    assert(eL.getMessage.contains("simhash column"))
    // and a malformed STRING signature (full 32-hex md5, uppercase, junk)
    // raises at execution instead of silently bucketing garbage
    val mal = Seq((0L, "a" * 32), (1L, "a" * 32)).toDF("doc_id", "simhash")
    val ex = intercept[Exception] {
      Dedup.simhashCandidates(mal, "doc_id").collect()
    }
    assert(ex.getMessage.contains("16 lowercase hex")
      || Option(ex.getCause).exists(_.getMessage.contains("16 lowercase hex")))
    // a NULL signature keeps the diagnostic too (raise_error(NULL) would
    // otherwise throw a message-less RuntimeException)
    val withNull = Seq((0L, Option("0123456789abcdef")), (1L, Option.empty[String]))
      .toDF("doc_id", "simhash")
    val exN = intercept[Exception] {
      Dedup.simhashCandidates(withNull, "doc_id").collect()
    }
    assert(exN.getMessage.contains("16 lowercase hex")
      || Option(exN.getCause).exists(_.getMessage.contains("16 lowercase hex")))
  }

  test("signBucketsMultiProbe: NaN vector components do not crash the probe selection") {
    val planes = graft.functions.VectorFunctions.md5SignPlanes(2, 4, 4)
    val nanVec = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1.0, Double.NaN, 0.5, -0.5))
    // depth 3 forces the selection loop past the all-NaN-margin guard
    val out = graft.functions.VectorFunctions
      .signBucketsMultiProbeOf(nanVec, planes, 3).toLongArray()
    assert(out.length == 2 * 4)
    // each flip differs from its table's main bucket in exactly one bit
    (0 until 2).foreach { t =>
      (1 to 3).foreach { r =>
        assert(java.lang.Long.bitCount(out(4 * t) ^ out(4 * t + r)) == 1)
      }
      assert((1 to 3).map(r => out(4 * t) ^ out(4 * t + r)).distinct.size == 3)
    }
  }

  test("nswAdjacency: symmetric, self-loop-free, deterministic") {
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val planes = graft.functions.VectorFunctions.md5SignPlanes(8, 6, 64)
    val adj = Ann.nswAdjacency(sfEmb, "vec_id", "embedding", m = 16,
        planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(adj.nonEmpty)
    assert(adj.forall { case (s0, d0) => s0 != d0 }, "self loop")
    val set = adj.toSet
    assert(set.size == adj.length, "duplicate edge")
    assert(set.forall { case (s0, d0) => set.contains((d0, s0)) },
      "adjacency not symmetric")
    val again = Ann.nswAdjacency(sfEmb, "vec_id", "embedding", m = 16,
        planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == set)
  }

  test("hnswTopK: every query answered, deterministic, recall beats raw LSH seeds") {
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = sfEmb.filter(col("vec_id") < 5)
    val planes = graft.functions.VectorFunctions.md5SignPlanes(8, 6, 64)
    val exact = Ann.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(pairs: Set[(Long, Long)]): Double =
      (exact & pairs).size.toDouble / exact.size
    val hnsw = Ann.hnswTopK(sfEmb, q, "vec_id", "embedding", k = 5,
        m = 16, ef = 16, hops = 3, planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(hnsw.map(_._1).distinct.length == 5, "a query went unanswered")
    // ranks are 1..k contiguous per query
    hnsw.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    val r = recallOf(hnsw.map(t => (t._1, t._2)).toSet)
    assert(r >= 0.8, s"hnsw recall collapsed: $r")
    // the graph walk must not LOSE recall vs its own seed stage (the
    // pure LSH candidates with the same planes): V_0 is a subset of V_H
    val seeds = Ann.lshTopK(sfEmb, q, "vec_id", "embedding", 5,
        planes = planes)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(r >= recallOf(seeds) - 1e-9,
      s"beam lost recall vs seeds: $r vs ${recallOf(seeds)}")
    val again = Ann.hnswTopK(sfEmb, q, "vec_id", "embedding", k = 5,
        m = 16, ef = 16, hops = 3, planes = planes)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getInt(3))).toSet
    assert(again == hnsw.toSet)
  }

  test("lshTopK probeDepth: per-query recall is monotone in probing depth") {
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = sfEmb.filter(col("vec_id") < 8)
    val planes = graft.functions.VectorFunctions.md5SignPlanes(4, 8, 64)
    val exact = Ann.bruteForceTopK(sfEmb, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = (1 to 3).map { depth =>
      val approx = Ann.lshTopK(sfEmb, q, "vec_id", "embedding", 5,
          planes = planes, multiProbe = true, probeDepth = depth)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    // depth-(T+1) probes a strict superset of depth-T's buckets, so
    // recall can never decrease (the candidate set only grows)
    assert(recalls == recalls.sorted, s"recall not monotone in depth: $recalls")
    assert(recalls.last >= recalls.head)
    assert(recalls.last > 0.0)
  }

  test("ivfTopKKMeans: learned codebook beats md5-sampled centroids on clustered data") {
    // 4 tight, well-separated clusters in 8-dim; md5 "centroids" are a
    // random SAMPLE (can double up inside one cluster and split its
    // members across cells), k-means converges one centroid per cluster
    val pts = for {
      c <- 0 until 4
      i <- 0 until 25
    } yield {
      val v = Array.tabulate(8)(d =>
        (if (d == 2 * c) 1.0 else 0.0) + ((i * 31 + d * 7) % 11 - 5) * 0.01)
      (c * 25L + i, v)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0) // one per cluster
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val km = recallOf(Ann.ivfTopKKMeans(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 1))
    val md5r = recallOf(Ann.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 1))
    assert(km >= 0.9, s"k-means IVF recall collapsed on clustered data: $km")
    assert(km >= md5r - 1e-9, s"k-means ($km) should not lose to sampled centroids ($md5r)")
    // deterministic under the fixed seed
    val again = recallOf(Ann.ivfTopKKMeans(emb, queries, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 1))
    assert(again == km)
  }

  test("pqTrain/pqAdcTopK: ADC ranking recovers exact top-k on clustered data") {
    // 4 clusters, each split into DIRECTIONALLY distinct subgroups
    // (near: e_{2c}; far: e_{2c}+e_{2c+1}, cos ~ 0.707 apart — magnitude
    // subgroups would be useless, cosine is scale-invariant): the exact
    // top-4 for a near query is its 4 near mates, and a trained codebook
    // separates the subgroup directions by construction, so ADC must
    // recover them. Quantization only collapses the tiny intra-subgroup
    // noise, which recall@4 is insensitive to.
    val pts = for {
      c <- 0 until 4
      i <- 0 until 25
    } yield {
      val v = Array.tabulate(8) { d =>
        val base = if (d == 2 * c) 1.0
          else if (i >= 5 && d == 2 * c + 1) 1.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) * 0.001
      }
      (c * 25L + i, v)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val cb = Ann.pqTrain(emb, "embedding", m = 2, k = 8)
    assert(cb.length == 2 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 4)), "codebook must be m x k x dim/m")
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Ann.pqAdcTopK(emb, queries, "vec_id", "embedding", cb, 4)
    val got = adc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.9, s"PQ-ADC recall collapsed on clustered data: $recall")
    // ascending distance, ranks dense per query
    val rows = adc.collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to byRank.length),
        "ranks must be dense from 1")
      val d = byRank.map(_.getDouble(2)).toSeq
      assert(d == d.sorted, "adist must ascend with rank")
    }
    // the declared query's frozen codebook must match the embeddings
    // dim so the slices cover the whole vector
    assert(PqCodebook.arr.length * PqCodebook.arr.head.head.length == 64)
    assert(PqCodebook.arr.forall(_.length == 16))
    // IVF-PQ composed: cell pruning on top of the same codebook — on
    // this geometry each subgroup is directionally tight, so probing
    // the query's cells keeps its near mates and ADC still ranks them
    // first; recall can only drop vs flat-PQ by pruning, never rise
    val ivfpq = Ann.ivfPqTopK(emb, queries, "vec_id", "embedding", cb, 4,
      nCentroids = 8, nProbe = 4)
    val gotIvf = ivfpq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallIvf = (exact & gotIvf).size.toDouble / exact.size
    assert(recallIvf >= 0.75, s"IVF-PQ recall collapsed: $recallIvf")
  }

  test("ivfTopKKMeans: an all-zero embedding does not crash the cosine fit") {
    // cosine KMeans throws on zero-norm fit vectors; the zero row must be
    // excluded from the FIT but still flow through cell assignment
    val pts = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(4)(d => if (i == 7) 0.0 else (i % 5 + d).toDouble))
    }
    val emb = pts.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0)
    val out = Ann.ivfTopKKMeans(emb, queries, "vec_id", "embedding", 3,
      nCentroids = 2, nProbe = 2)
    assert(out.count() > 0) // fit survived; neighbors produced
  }

  test("embeddingNearDupLshAuto: plane count tracks corpus size, pairs stay exact-verified") {
    import graft.functions.VectorFunctions.planesForOccupancy
    // the scaling law itself: occupancy n/2^p held constant
    assert(planesForOccupancy(1000, 64) == 4)
    assert(planesForOccupancy(10000, 64) == 8) // 10x corpus -> +log2(10) planes
    assert(planesForOccupancy(50000, 50) == 10)
    assert(planesForOccupancy(10, 64) == 1) // clamped low
    assert(planesForOccupancy(Long.MaxValue, 1) == 20) // clamped high
    // the scale-bend term: zero through 2^12 vectors (all verify SFs),
    // one extra plane per TWO doublings beyond — 20k vectors (sf1) get
    // +2, a billion get +9
    import graft.functions.VectorFunctions.extraPlanesForScale
    assert(extraPlanesForScale(500, 11) == 0)
    assert(extraPlanesForScale(2000, 11) == 0)
    assert(extraPlanesForScale(4096, 11) == 0) // bitLength(4095)=12
    assert(extraPlanesForScale(4097, 11) == 1) // bitLength(4096)=13
    assert(extraPlanesForScale(20000, 11) == 2) // bitLength(19999)=15
    assert(extraPlanesForScale(1000000000L, 11) == 9) // bitLength=30
    // degenerate inputs fail with clean messages, not head()/NPE noise
    val empty = spark.read.parquet(s"$sf/embeddings.parquet").filter(col("vec_id") < 0)
    val eEmpty = intercept[IllegalArgumentException] {
      graft.operators.Dedup.embeddingNearDupLshAuto(empty, "vec_id", "embedding", 0.9)
    }
    assert(eEmpty.getMessage.contains("empty corpus"))
    // end-to-end: auto-sized run still finds the exact-dup pair and every
    // reported pair carries a verified cosine above threshold
    val sfEmb = spark.read.parquet(s"$sf/embeddings.parquet")
    val withDup = sfEmb.unionByName(
      sfEmb.filter(col("vec_id") === 0).select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"), col("label")))
    val pairs = graft.operators.Dedup
      .embeddingNearDupLshAuto(withDup, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1000000L && math.abs(p._3 - 1.0) < 1e-12),
      s"exact dup lost by auto-sized LSH: ${pairs.take(5).toSeq}")
    assert(pairs.forall(_._3 >= 0.95))
  }

  test("ANN brute force: self-similar corpus ranks exact copy first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val res = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .collect()
    assert(res.head.getLong(1) == 3L) // exact copy is rank 1
    assert(math.abs(res.head.getDouble(2) - 1.0) < 1e-12)
  }

  test("LSH ANN recall vs brute force on real embeddings >= 0.3") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planes = (0 until 8)
      .map(t => graft.functions.VectorFunctions.hyperplanes(4, 64, 42L + t)).toArray
    val approx = Ann.lshTopK(emb, queries, "vec_id", "embedding", 5, planes = planes)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall") // 8 tables x 4 planes
  }

  test("dedupClusters: components reach the min id across a chain") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 forces >1 propagation round), pair 10-11,
    // plus a pair whose smaller id arrives via id_b (order must not matter)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dedupClusters: a 200-node chain converges within default maxIter (pointer jumping)") {
    import spark.implicits._
    // the adversarial near-dup shape: drifting boilerplate where doc i
    // near-matches only doc i+1 — diameter 199. Pure neighbor-min needs
    // 199 rounds; the pointer jump makes it O(log n), so the default
    // maxIter=20 must suffice and every node must reach label 1.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dedupClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 200)
    assert(got.forall(_._2 == 1L), s"non-min labels: ${got.filter(_._2 != 1L).take(5).toSeq}")
  }

  test("dedupClusters: maxIter too small for the diameter raises loudly") {
    import spark.implicits._
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupClusters(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("converge"))
  }

  test("minhashNearDupAgainstMd5: incoming matches corpus, no corpus self-pairs") {
    import spark.implicits._
    val mk = (words: Seq[String]) => words.mkString(" ")
    val base = (0 until 12).map(w => s"w$w")
    val corpus = Seq(
      (1L, mk(base)),
      (2L, mk(base.map(w => w + "x"))), // disjoint shingles from doc 1
      (3L, mk(base))                    // corpus-internal dup of 1 — must NOT pair
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, mk(base)),                  // exact copy of corpus 1 and 3
      (11L, mk(base :+ "zq")),          // near copy (1 appended token)
      (12L, mk((0 until 12).map(w => s"v$w"))) // matches nothing
    ).toDF("doc_id", "text")
    val got = Dedup.minhashNearDupAgainstMd5(corpus, incoming, "doc_id", "text",
        k = 12, bands = 2, shingleK = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (3L, 10L), (1L, 11L), (3L, 11L)))
    // corpus-side bucket cap: docs 1 and 3 share every band bucket, so
    // cap=1 drops that bucket entirely — no pairs survive for them
    val capped = Dedup.minhashNearDupAgainstMd5(corpus, incoming, "doc_id", "text",
        k = 12, bands = 2, shingleK = 3, threshold = 0.8, maxBucket = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set.empty)
  }

  test("embeddingNearDupAgainst: incoming matches corpus under shared planes, cap drops hot buckets") {
    val planes = graft.functions.VectorFunctions.md5SignPlanes(4, 3, 8)
    val mkv = (s: Double) => Array.tabulate(8)(d => (d + 1.0) * s)
    val corpus = Seq(
      (1L, mkv(1.0)), (2L, mkv(-1.0)), // opposite direction: never matches
      (3L, mkv(2.0))                   // same direction as 1 (cos 1.0)
    ).toDF("vec_id", "embedding")
    val incoming = Seq((10L, mkv(0.5))).toDF("vec_id", "embedding") // same dir as 1,3
    val got = Dedup.embeddingNearDupAgainst(corpus, incoming, "vec_id",
        "embedding", 0.9, planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (3L, 10L)))
    // corpus docs 1 and 3 share every bucket (identical directions):
    // cap=1 drops those buckets, leaving nothing for the incoming side
    val capped = Dedup.embeddingNearDupAgainst(corpus, incoming, "vec_id",
        "embedding", 0.9, planes = planes, maxBucket = Some(1))
      .collect()
    assert(capped.isEmpty)
  }

  test("canonicalizeClusters: keep = min id per cluster, singletons keep themselves") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 99L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val clusters = Dedup.dedupClusters(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    val out = Dedup.canonicalizeClusters(docs, "doc_id", clusters)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (99L, 99L, true))) // 99 never paired: its own singleton cluster
  }

  test("dupSpans: shared windows merge into maximal spans; unique docs silent") {
    import spark.implicits._
    // doc 1 and 2 identical 100 chars -> every window duplicated -> ONE
    // span covering the doc; doc 3 unique -> no rows
    val rep = "abcdefghij" * 10
    val uniq = (0 until 100).map(i => ('k' + i % 10).toChar).mkString // distinct content
    val docs = Seq((1L, rep), (2L, rep), (3L, uniq)).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", width = 10, stride = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSet
    // offsets 0,5,...,90 -> 19 windows; span [0, 90+10)
    assert(out == Set((1L, 0, 100, 19L), (2L, 0, 100, 19L)))
  }

  test("dupSpans: two separated shared regions stay two islands") {
    import spark.implicits._
    val shared1 = "AAAAAAAAAA" // 10
    val shared2 = "BBBBBBBBBB"
    def filler(seed: Char): String = (0 until 40).map(i => (seed + i % 7).toChar).mkString
    // shared regions at offsets 0 and 50 in doc 1; gap 40 > width -> two spans
    val d1 = shared1 + filler('c') + shared2 + filler('q')
    val d2 = shared1 + filler('v') + shared2 + filler('e') // different fillers
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", width = 10, stride = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out == Set((1L, 0, 10), (1L, 50, 60), (2L, 0, 10), (2L, 50, 60)))
  }

  test("semanticDedup: lower-id near-neighbor flags dup; cap disables pairs") {
    import spark.implicits._
    // ids 1,2 share a direction (cos=1 -> same cell, 2 flagged); 3,4
    // orthogonal to everything -> keep regardless of cell layout
    val emb = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.2f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.9, nClusters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L)._2 && !out(2L)._2 && out(3L)._2 && out(4L)._2)
    assert(out(1L)._1 == out(2L)._1) // identical direction -> same cell
    // maxCluster=1: every cell over cap -> no pair scan -> all kept
    val capped = Dedup.semanticDedup(emb, "vec_id", "embedding", 0.9,
      nClusters = 2, maxCluster = 1)
    assert(capped.collect().forall(_.getBoolean(2)))
  }

  test("dupSpans: maxDf cap drops mega-boilerplate windows") {
    import spark.implicits._
    val boiler = "SAME_HEADER_EVERYWHERE_1234567890" // > width
    val docs = (1L to 5L).map(i => (i, boiler)).toDF("doc_id", "text")
    val capped = Dedup.dupSpans(docs, "doc_id", "text", width = 10, stride = 5,
      minDf = 2, maxDf = 4) // df = 5 > cap
    assert(capped.collect().isEmpty)
    val uncapped = Dedup.dupSpans(docs, "doc_id", "text", width = 10, stride = 5)
    assert(uncapped.collect().length == 5)
  }

  test("winnowFingerprints: selection matches a direct reimplementation") {
    import spark.implicits._
    val text = "abcabcabcXYZabcabcabc"
    val in = Seq((1L, text)).toDF("doc_id", "text")
    val k = 4; val w = 3
    val got = Dedup.winnowFingerprints(in, "doc_id", "text", k, w).collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    // reference implementation: min (hash, -pos) per full window
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val grams = (0 to text.length - k).map(p => (h(text.substring(p, p + k)), p))
    val expected = (0 to grams.length - w).map { s =>
      grams.slice(s, s + w).minBy { case (hh, p) => (hh, -p) } // rightmost min
    }.toSet
    assert(got == expected)
    assert(got.size < grams.length) // density < 1 (winnowing compresses)
  }

  test("winnowing guarantee: shared run >= w+k-1 yields a shared fingerprint") {
    import spark.implicits._
    val shared = "QWERTYUIOPASDFG" // 15 chars >= w+k-1 = 11 for k=8,w=4
    // different prefixes SHIFT the shared run to different offsets —
    // the stride-grid failure mode winnowing is immune to
    val in = Seq(
      (1L, "aa" + shared + "zzzzzzzzz"),
      (2L, "bbbbbbb" + shared + "yyyy"),
      (3L, "no overlap with others at all here")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(in, "doc_id", "text", 8, 4)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty)
    val pairs = Dedup.winnowOverlapPairs(in, "doc_id", "text", 8, 4,
      minShared = 1, maxDf = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("pqCodeGroups: identical vectors share a cell, min id kept") {
    import spark.implicits._
    val emb = Seq(
      (5L, Array.fill(64)(0.1f)),
      (2L, Array.fill(64)(0.1f)), // same direction as 5 -> same codes
      (3L, Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val g = Ann.pqCodeGroups(emb, "vec_id", "embedding", PqCodebook.arr)
      .collect()
    assert(g.length == 1) // only the duplicated direction forms a group
    assert(g.head.getLong(1) == 2L && g.head.getLong(2) == 2L)
    // minGroup=1 exposes singleton cells too
    val all = Ann.pqCodeGroups(emb, "vec_id", "embedding", PqCodebook.arr, 1)
    assert(all.count() == 2)
  }

  test("pqSubcodePairs matches a direct >=3-of-4 code-agreement reimplementation") {
    import spark.implicits._
    // deterministic distinct vectors: 6 pseudo-random bases + a lightly
    // perturbed twin of each (subcodes on unperturbed subspaces agree,
    // so the candidate set is non-vacuous)
    val vecs: Seq[(Long, Array[Float])] = (0 until 6).flatMap { i =>
      val v = Array.tabulate(64)(j => math.sin(i * 64 + j + 1).toFloat)
      val p = v.clone(); (0 until 16).foreach(j => p(j) = p(j) + 0.001f * (j + 1))
      Seq((2L * i, v), (2L * i + 1, p))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val keyOf = Ann.pqEncode(emb, "vec_id", "embedding", PqCodebook.arr)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(keyOf.size == vecs.length)
    val ids = vecs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      if keyOf(a).zip(keyOf(b)).count { case (x, y) => x == y } >= 3
    } yield (a, b)).toSet
    val gotRows = Ann.pqSubcodePairs(emb, "vec_id", "embedding",
      PqCodebook.arr, threshold = -1.0).collect()
    val got = gotRows.map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == expected)
    assert(got.length == got.toSet.size, "pairs must be deduped across masks")
    assert(expected.nonEmpty, "test should exercise at least one candidate pair")
    // exact-cosine verify: a strict threshold keeps only the near-twins
    val tight = Ann.pqSubcodePairs(emb, "vec_id", "embedding",
      PqCodebook.arr, threshold = 0.999).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(expected))
    assert(tight.forall { case (a, b) => b == a + 1 && a % 2 == 0 },
      s"only perturbed twins pass cosine>=0.999, got $tight")
  }

  test("pqSubcodePairs: maxBucket cap bounds a degenerate code region") {
    import spark.implicits._
    val emb = (0L until 40L).map(i => (i, Array.fill(64)(0.1f)))
      .toDF("vec_id", "embedding")
    // 40 identical vectors, cap 8: every masked bucket holds 40 > 8 rows
    val capped = Ann.pqSubcodePairs(emb, "vec_id", "embedding",
      PqCodebook.arr, threshold = -1.0, maxBucket = 8)
    assert(capped.count() == 0)
    val open = Ann.pqSubcodePairs(emb, "vec_id", "embedding",
      PqCodebook.arr, threshold = -1.0, maxBucket = 64)
    assert(open.count() == 40L * 39 / 2)
  }

  test("containmentPairs: excerpt flagged toward its source only; Jaccard misses the pair") {
    import spark.implicits._
    val full = (1 to 20).map(i => s"w$i").mkString(" ") // 18 trigram shingles
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ") // 6 shingles, all in full
    val docs = Seq((1L, full), (2L, excerpt), (3L, "x y z q r s t"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the excerpt is fully contained in its source...
    assert(out.toSeq == Seq((2L, 1L, 1.0)))
    // ...while the direction 1->2 (6/18) and symmetric Jaccard (6/18)
    // both sit far below their thresholds
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5,
      maxShingleDf = 128)
    assert(jac.count() == 0)
  }

  test("containmentPairs: df cap suppresses boilerplate-only candidates") {
    import spark.implicits._
    // every doc shares one boilerplate trigram; no real containment
    val docs = (0L until 10L).map(i =>
      (i, s"HEADER COMMON LINE u$i v$i w$i x$i y$i z$i")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.5,
      maxShingleDf = 4)
    assert(capped.count() == 0)
  }

  test("winnowOverlapPairs: maxDf cap drops corpus-wide boilerplate fps") {
    import spark.implicits._
    val boiler = "IDENTICAL_BOILERPLATE_EVERYWHERE"
    val docs = (1L to 6L).map(i => (i, boiler)).toDF("doc_id", "text")
    val capped = Dedup.winnowOverlapPairs(docs, "doc_id", "text", 8, 4,
      minShared = 1, maxDf = 5) // every fp df = 6 > cap
    assert(capped.collect().isEmpty)
    val uncapped = Dedup.winnowOverlapPairs(docs, "doc_id", "text", 8, 4,
      minShared = 1, maxDf = 6)
    assert(uncapped.count() == 15) // all C(6,2) pairs
  }

  test("updateBandIndexMd5: incremental update equals full rebuild across all cap cases") {
    val base = (0 until 12).map(w => s"w$w").mkString(" ")
    val mega = (0 until 12).map(w => s"m$w").mkString(" ")
    def uniq(i: Int) = (0 until 12).map(w => s"u${i}_$w").mkString(" ")
    val old = Seq(
      1L -> base, 2L -> base,                              // bucket at 2 of cap 3
      10L -> mega, 11L -> mega, 12L -> mega, 13L -> mega,  // already over cap: absent from index
      20L -> uniq(1), 21L -> uniq(2))                      // untouched by the batch
      .toDF("doc_id", "text")
    val neu = Seq(
      3L -> base, 4L -> base,  // pushes the base bucket over cap: old rows must evict
      14L -> mega,             // lands in the capped-out bucket: must NOT resurrect it
      30L -> uniq(3)).toDF("doc_id", "text")
    val cap = Some(3)
    val idx = Dedup.minhashBandIndexMd5(old, "doc_id", "text", 12, 2, 3, cap)
    val st = Dedup.minhashBandIndexStatsMd5(old, "doc_id", "text", 12, 2, 3)
    val (ui, us) = Dedup.updateBandIndexMd5(idx, st, neu, "doc_id", "text", 12, 2, 3, cap)
    val all = old.unionByName(neu)
    val rebuilt = Dedup.minhashBandIndexMd5(all, "doc_id", "text", 12, 2, 3, cap)
    val rebuiltStats = Dedup.minhashBandIndexStatsMd5(all, "doc_id", "text", 12, 2, 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("corpus_id", "band", "bsig").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(rows(ui) == rows(rebuilt))
    assert(stats(us) == stats(rebuiltStats))
    // verdicts spelled out: both clone buckets emptied, uniques survive
    assert(rows(ui).map(_._1).toSet == Set(20L, 21L, 30L))
    // sig field metadata (k/bands) survives the incremental path — the
    // streaming consumer's zero-action validation depends on it
    val m = ui.schema.fields.find(_.name == "sig").get.metadata
    assert(m.getLong("minhash_k") == 12L && m.getLong("minhash_bands") == 2L)
  }

  test("fuzzyMatchPairs: sub/ins/del all caught at distance 1; distance 2 excluded by contract") {
    val rows = Seq(
      (1L, "widget"), (2L, "wodget"),   // substitution
      (3L, "widgets"),                  // insertion vs 1
      (4L, "widge"),                    // deletion vs 1
      (5L, "gadget"),                   // distance 2 from widget
      (6L, "widget")                    // exact dup of 1
    ).toDF("id", "name")
    val out = Dedup.fuzzyMatchPairs(rows, "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1)
    assert(out.contains((1L, 3L)) && out((1L, 3L)) == 1)
    assert(out.contains((1L, 4L)) && out((1L, 4L)) == 1)
    assert(out.contains((1L, 6L)) && out((1L, 6L)) == 0)
    assert(!out.keySet.exists { case (a, b) => a == 5L || b == 5L })
    // pairs are ordered and unique
    assert(out.keySet.forall { case (a, b) => a < b })
  }

  test("fuzzyMatchPairs: hot-signature bucket cap suppresses a degenerate name") {
    val hot = (1L to 50L).map(i => (i, "same")) :+ (100L, "samX")
    val out = Dedup.fuzzyMatchPairs(hot.toDF("id", "name"), "id", "name",
      maxBucket = 10)
    assert(out.count() == 0) // every signature bucket of 'same' exceeds the cap
    intercept[IllegalArgumentException] {
      Dedup.fuzzyMatchPairs(hot.toDF("id", "name"), "id", "name", maxDist = 2)
    }
  }

  test("kmeansFixed: separable blobs split cleanly; deterministic; args validated") {
    // two tight cosine blobs around (1,0) and (0,1)
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.95, 0.05)), (3L, Seq(0.9, 0.1)),
      (4L, Seq(0.0, 1.0)), (5L, Seq(0.05, 0.95)), (6L, Seq(0.1, 0.9))
    ).toDF("vec_id", "embedding")
    val out = Ann.kmeansFixed(emb, "vec_id", "embedding", k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 6)
    val blobA = Set(1L, 2L, 3L).map(out)
    val blobB = Set(4L, 5L, 6L).map(out)
    assert(blobA.size == 1 && blobB.size == 1 && blobA != blobB)
    val again = Ann.kmeansFixed(emb, "vec_id", "embedding", k = 2, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == again)
    intercept[IllegalArgumentException] {
      Ann.kmeansFixed(emb, "vec_id", "embedding", k = 0)
    }
    intercept[IllegalArgumentException] {
      Ann.kmeansFixed(emb, "vec_id", "embedding", k = 2, iterations = 0)
    }
  }

  test("kmeansClusterQuality: separated blobs score positive; assignment unchanged") {
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.95, 0.05)), (3L, Seq(0.9, 0.1)),
      (4L, Seq(0.0, 1.0)), (5L, Seq(0.05, 0.95)), (6L, Seq(0.1, 0.9))
    ).toDF("vec_id", "embedding")
    val q = Ann.kmeansClusterQuality(emb, "vec_id", "embedding", k = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(q.length == 2)
    assert(q.map(_._2).sum == 6L)          // every vector scored exactly once
    q.foreach { case (_, _, sep) => assert(sep > 0.1) } // well-separated blobs
  }

  test("labelCentroids: sample mean in rank order; sampleN bounds the fold") {
    val emb = Seq(
      (1L, 0, Seq(2.0, 0.0)), (2L, 0, Seq(4.0, 0.0)), (3L, 0, Seq(6.0, 0.0)),
      (4L, 1, Seq(0.0, 2.0))).toDF("vec_id", "label", "embedding")
    // sampleN >= group size -> exact mean regardless of md5 order
    val all = Ann.labelCentroids(emb, "vec_id", "embedding", "label", sampleN = 10)
      .collect().map(r => r.getInt(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(all(0)._1 == Seq(4.0, 0.0) && all(0)._2 == 3L)
    assert(all(1)._1 == Seq(0.0, 2.0) && all(1)._2 == 1L)
    // sampleN = 2 -> exactly 2 sampled, deterministically
    val s2a = Ann.labelCentroids(emb, "vec_id", "embedding", "label", sampleN = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val s2b = Ann.labelCentroids(emb, "vec_id", "embedding", "label", sampleN = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(s2a == s2b)
  }

  test("nearestCentroidAssign: separable labels classify perfectly, ties toward smaller label") {
    val emb = Seq(
      (1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(0.9, 0.1)),
      (3L, 1, Seq(0.0, 1.0)), (4L, 1, Seq(0.1, 0.9)),
      (5L, 0, Seq(0.8, 0.2))).toDF("vec_id", "label", "embedding")
    val cents = Ann.labelCentroids(emb, "vec_id", "embedding", "label", sampleN = 10)
    val out = Ann.nearestCentroidAssign(emb, "vec_id", "embedding", "label", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == 5)
    out.foreach { case (_, lab, pred) => assert(lab == pred) }
  }

  test("sqQuantize/sqTopK: int8 scores track exact cosine, high recall") {
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    val qz = Ann.sqQuantize(emb, "vec_id", "embedding")
    // codes bounded to int8 range; at least one component saturates at
    // +-127 per nonzero vector (the max-abs one by construction)
    val rows = qz.limit(50).collect()
    rows.foreach { r =>
      val qv = r.getSeq[Int](1)
      assert(qv.forall(x => x >= -127 && x <= 127))
      assert(qv.exists(x => math.abs(x) == 127))
    }
    val queries = emb.filter(col("vec_id") < 20)
    val approx = Ann.sqTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per-pair score error small for 64-dim int8
    val exactMap = exact.map(t => (t._1, t._2) -> t._3).toMap
    approx.foreach { case (q, n, c, _) =>
      exactMap.get((q, n)).foreach(e => assert(math.abs(c - e) < 0.05,
        s"($q,$n) sq=$c exact=$e"))
    }
    // recall@3 against the exact top-3
    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val hit = approx.count { case (q, n, _, _) => exactSets(q).contains(n) }
    assert(hit.toDouble / approx.length >= 0.8,
      s"sq recall ${hit.toDouble / approx.length}")
  }

  test("groupSimilarityMatrix: identical groups 1.0, disjoint near 0, symmetric-free") {
    val docs = Seq(
      (1L, "ga", "alpha beta gamma delta epsilon zeta"),
      (2L, "gb", "alpha beta gamma delta epsilon zeta"), // ga == gb
      (3L, "gc", "one two three four five six seven"),   // disjoint from ga/gb
      (4L, "ga", "eta theta iota kappa lambda"),
      (5L, "gb", "eta theta iota kappa lambda")
    ).toDF("doc_id", "grp", "text")
    val m = Dedup.groupSimilarityMatrix(docs, "grp", "text", k = 16)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // each unordered pair exactly once, a < b
    assert(m.keySet == Set(("ga", "gb"), ("ga", "gc"), ("gb", "gc")))
    assert(m(("ga", "gb")) == 1.0, s"identical shingle sets must agree on every minimum: $m")
    assert(m(("ga", "gc")) <= 0.25, s"disjoint groups estimated high: $m")
    // estimate is always a multiple of 1/k in [0, 1]
    m.values.foreach { v =>
      assert(v >= 0.0 && v <= 1.0 && (v * 16).isWhole)
    }
  }

  test("rqTrain/rqTopK: residual codes recover exact top-k inside probed cells") {
    // same directional-subgroup corpus as the PQ spec: residuals within
    // a coarse cell preserve the subgroup geometry, so residual-ADC
    // must recover the exact neighbors whenever the cell is probed
    val pts = for {
      c <- 0 until 4
      i <- 0 until 25
    } yield {
      val v = Array.tabulate(8) { d =>
        val base = if (d == 2 * c) 1.0
          else if (i >= 5 && d == 2 * c + 1) 1.0 else 0.0
        base + ((i * 31 + d * 7) % 11 - 5) * 0.001
      }
      (c * 25L + i, v)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val cb = Ann.rqTrain(emb, "vec_id", "embedding", m = 2, k = 8,
      nCentroids = 8)
    assert(cb.length == 2 && cb.forall(_.length == 8) &&
      cb.forall(_.forall(_.length == 4)), "codebook must be m x k x dim/m")
    val rq = Ann.rqTopK(emb, queries, "vec_id", "embedding", cb, 4,
      nCentroids = 8, nProbe = 3)
    val rows = rq.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to byRank.length),
        "ranks must be dense from 1")
      val d = byRank.map(_.getDouble(2)).toSeq
      assert(d == d.sorted, "adist must ascend with rank")
    }
    // candidate recall vs brute force, counting only neighbors whose
    // cell was actually probed (the IVF prune is the recall trade;
    // residual coding must not LOSE neighbors the probe surfaced)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.6, s"residual-PQ recall collapsed: $recall")
    // deterministic: same inputs, same result
    val again = Ann.rqTopK(emb, queries, "vec_id", "embedding", cb, 4,
      nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
  }

  test("jlTopK: deterministic signs; separable clusters survive projection; exact dups stay cos=1") {
    val signs = Ann.jlSigns(16, 64)
    assert(signs.length == 16 && signs.forall(_.length == 64))
    assert(signs.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(Ann.jlSigns(16, 64).map(_.toSeq).toSeq == signs.map(_.toSeq).toSeq)
    // sign rows are balanced-ish and mutually distinct (md5 actually mixing)
    assert(signs.map(_.toSeq).distinct.length == 16)
    assert(signs.forall(r => math.abs(r.sum) <= 24))

    // clustered data: 3 tight clusters around orthogonal-ish centers.
    // JL preserves RELATIVE geometry, so with in-cluster cos ~0.99 and
    // cross ~0, every projected top-k neighbor stays in-cluster.
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(3)(Array.fill(64)(rnd.nextGaussian()))
    val vecs = (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + 0.05 * rnd.nextGaussian()).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.filter(col("vec_id") < 6)
    val jl = Ann.jlTopK(df, q, "vec_id", "embedding", 5, signs).collect()
    assert(jl.length == 30)
    assert(jl.forall(r => (r.getLong(1) % 3) == (r.getLong(0) % 3)),
      "projected neighbors left the query's cluster")

    // exact duplicates project to exactly-parallel vectors: top-1 of a
    // duplicated real corpus has cos == 1 under the projection too
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dup = emb.withColumn("vec_id", col("vec_id") + 100000)
    val top1 = Ann.jlTopK(emb.unionByName(dup), emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", 1, signs).collect()
    assert(top1.forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-9))
  }

  test("meanVectorDrift: identical halves cos 1, negated halves cos -1, orthogonal ~0") {
    def mk(rows: Seq[(Long, Seq[Float])]) =
      rows.toDF("id", "v").withColumn("g", col("id") % 2 === 0)
    // both halves drawn from the same two vectors -> identical means
    val base = Seq(0.5f, -0.25f, 0.125f, 0.75f)
    val same = mk((0L until 40L).map(i => (i, base.map(x => x + (i % 2) * 0f))))
    val s = graft.operators.Ann.meanVectorDrift(same, "v", col("g")).head()
    assert(s.getLong(0) == 20L && s.getLong(1) == 20L)
    assert(math.abs(s.getDouble(2) - 1.0) < 1e-9)
    // one half exactly negated -> cos -1
    val neg = mk((0L until 40L).map(i =>
      (i, if (i % 2 == 0) base else base.map(-_))))
    assert(math.abs(graft.operators.Ann.meanVectorDrift(neg, "v", col("g"))
      .head().getDouble(2) + 1.0) < 1e-9)
    // orthogonal means: [1,0,0,0] vs [0,1,0,0]
    val orth = mk((0L until 40L).map(i =>
      (i, if (i % 2 == 0) Seq(1f, 0f, 0f, 0f) else Seq(0f, 1f, 0f, 0f))))
    assert(math.abs(graft.operators.Ann.meanVectorDrift(orth, "v", col("g"))
      .head().getDouble(2)) < 1e-9)
  }

  test("fellegiSunterWeights: hand-counted m/u, symmetric log2 weights, degenerate fields null") {
    // 4 matches (3 agree on f1), 8 non-matches (2 agree on f1);
    // f2: all matches agree (m=1), no non-match agrees (u=0)
    val pairs = (
      (1 to 3).map(i => (true, true, true)) ++ Seq((true, false, true)) ++
      (1 to 2).map(i => (false, true, false)) ++
      (1 to 6).map(i => (false, false, false)))
      .toDF("ismatch", "ag1", "ag2")
    val out = Dedup.fellegiSunterWeights(pairs, col("ismatch"),
        Seq("f1" -> col("ag1"), "f2" -> col("ag2")))
      .collect().map(r => r.getString(0) -> r).toMap
    val f1 = out("f1")
    assert((f1.getLong(1), f1.getLong(2)) == ((4L, 8L)))
    assert((f1.getDouble(3), f1.getDouble(4)) == ((0.75, 0.25)))
    // m/u = 3 -> log2 = 1.584963; (1-m)/(1-u) = 1/3 -> the negation
    assert(f1.getDouble(5) == 1.584963 && f1.getDouble(6) == -1.584963)
    val f2 = out("f2")
    assert((f2.getDouble(3), f2.getDouble(4)) == ((1.0, 0.0)))
    assert(f2.isNullAt(5) && f2.isNullAt(6)) // u=0 and m=1: both guarded
  }

  test("rougeOverlap: multiset bigram overlap counts repetition Jaccard flattens") {
    val docs = Seq((1L, "a b a b c"), (2L, "a b c a b"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.rougeOverlap(pairs, docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))).toMap
    // doc1 bigrams {a b:2, b a:1, b c:1}, doc2 {a b:2, b c:1, c a:1}:
    // overlap = min(2,2) + min(1,1) = 3 of 4 each side
    assert(out((1L, 2L)) == ((4L, 4L, 3L, 0.75, 0.75, 0.75)))
    // disjoint pair shares no gram -> drops (inner join semantics)
    assert(!out.contains((1L, 3L)))
  }

  test("vector operators: codegen and interpreted evaluation give identical rows") {
    // the native vector kernels (cosine, signBuckets(MultiProbe),
    // signedProject, l2Normalize, pqCodes, pqDistTables, adcSum, intDot,
    // arraySub) each have a doGenCode and an eval path; both must agree
    // bit for bit on the sf0.001 embeddings
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val planes = graft.functions.VectorFunctions.md5SignPlanes(8, 4, 64)
    val incoming = emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 500000).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 0, lit(0.0f)).otherwise(x))
          .as("embedding"))
    val runs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 5)),
      "lshTopK" -> (() => Ann.lshTopK(emb, q, "vec_id", "embedding", 5, planes = planes)),
      "lshTopK(multiProbe)" -> (() => Ann.lshTopK(emb, q, "vec_id", "embedding", 5,
        planes = planes, multiProbe = true, probeDepth = 2)),
      "ivfTopK" -> (() => Ann.ivfTopK(emb, q, "vec_id", "embedding", 5)),
      "ivfTopKWithCentroids" -> (() => Ann.ivfTopKWithCentroids(emb, q, "vec_id",
        "embedding", 5, IvfCentroids.arr)),
      "pqAdcTopK" -> (() => Ann.pqAdcTopK(emb, q, "vec_id", "embedding", PqCodebook.arr, 5)),
      "ivfPqTopK" -> (() => Ann.ivfPqTopK(emb, q, "vec_id", "embedding", PqCodebook.arr, 5)),
      "rqTopK" -> (() => Ann.rqTopK(emb, q, "vec_id", "embedding", RqCodebook.arr, 5)),
      "sqTopK" -> (() => Ann.sqTopK(emb, q, "vec_id", "embedding", 5)),
      "jlTopK" -> (() => Ann.jlTopK(emb, q, "vec_id", "embedding", 5, Ann.jlSigns(16, 64))),
      "hnswTopK" -> (() => Ann.hnswTopK(emb, q, "vec_id", "embedding", k = 5,
        planes = graft.functions.VectorFunctions.md5SignPlanes(8, 6, 64))),
      "pqSubcodePairs" -> (() => Ann.pqSubcodePairs(emb, "vec_id", "embedding",
        PqCodebook.arr, threshold = -1.0)),
      "embeddingNearDupAgainst" -> (() => Dedup.embeddingNearDupAgainst(emb, incoming,
        "vec_id", "embedding", -1.0, planes = planes, maxBucket = Some(256))))
    // clear the session cache before each run, so neither mode reads
    // frames the other one pinned
    def rows(run: () => org.apache.spark.sql.DataFrame) = {
      spark.catalog.clearCache()
      run().collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    runs.foreach { case (name, run) =>
      val codegen = rows(run)
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(rows(run))
      assert(codegen.nonEmpty, name)
      // exact equality of the doubles, not a tolerance
      assert(interpreted == codegen, name)
    }
    spark.catalog.clearCache()
  }
}
