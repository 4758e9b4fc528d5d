package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark joins data with spark hash joins"), // tf(spark)=2, short
    (1L, "window window window window window window window window"), // high tf one term
    (2L, "merge sort merge join merge scan"),
    (3L, "nothing relevant here at all plain words only"),
    (4L, "spark window hash merge spark window hash merge") // all terms
  ).toDF("doc_id", "text")

  test("bm25TopK: docs matching more query terms outrank term-free docs; rank is dense from 1") {
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "window", "hash", "merge"), k = 10).collect()
    val ids = out.map(_.getLong(0))
    // doc 3 has no query term: absent entirely
    assert(!ids.contains(3L))
    assert(out.map(_.getInt(2)).toSeq == (1 to out.length))
    // scores strictly ordered with the declared tie-break
    val scores = out.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // doc 4 contains every query term twice in 8 tokens: top rank
    assert(ids.head == 4L)
  }

  test("bm25TopK: tf saturation — k1 bounds a single term's contribution") {
    // doc 1 repeats one term 8x; its bm25 must be below 8x a single
    // occurrence's contribution (the k1 saturation property)
    val one = Seq((10L, "window plain plain plain plain plain plain plain"))
      .toDF("doc_id", "text")
    val both = docs.unionAll(one)
    val out = Retrieval.bm25TopK(both, "doc_id", "text", Seq("window"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) < 8 * out(10L))
    assert(out(1L) > out(10L)) // but more occurrences still score higher
  }

  test("bm25TopK: invalid args raise") {
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "doc_id", "text", Seq.empty, 5)
    }
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(docs, "doc_id", "text", Seq("x"), 0)
    }
  }

  test("bm25TopKTerms: a term frame of bm25TopK's terms returns bm25TopK's rows") {
    val terms = Seq("spark", "window", "hash", "merge")
    val bag = Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10).collect().toSeq
    // a repeated term in the frame counts once, like a repeated literal
    val frame = Retrieval.bm25TopKTerms(docs, "doc_id", "text",
      (terms :+ "spark").toDF("term"), k = 10).collect().toSeq
    assert(bag.nonEmpty)
    assert(frame == bag)
  }

  test("codegen parity: every ranker returns the same rows interpreted") {
    val terms = Seq("spark", "window", "hash", "merge")
    val queries = Seq((0L, "spark"), (0L, "hash"), (1L, "window"), (1L, "merge"))
      .toDF("query_id", "term")
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((4L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    def runAll(): Seq[Seq[String]] = {
      // the BM25 corpus is pinned: drop it so each mode computes its own
      spark.catalog.clearCache()
      Seq(
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 3),
        Retrieval.bm25TopKTerms(docs, "doc_id", "text", terms.toDF("term"), k = 3),
        Retrieval.bm25PerQuery(docs, "doc_id", "text", queries, k = 2),
        Retrieval.rrfFuse(Seq(a, b), "id", "rank", k = 4),
        Retrieval.invertedIndex(docs, "doc_id", "text", maxPostings = 2),
        Retrieval.maxSimTopK(docs, docs.filter(col("doc_id") <= 1L), "doc_id",
          "text", k = 2)
      ).map(_.collect().map(_.toString).toSeq.sorted)
    }
    val ref = runAll()
    assert(ref.forall(_.nonEmpty))
    val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(runAll())
    assert(interpreted == ref)
  }

  test("rrfFuse: agreement wins — an id ranked well by both lists beats a single #1") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val b = Seq((4L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "id", "rank", k = 4).collect()
    // id 2 appears at rank 2 in BOTH lists: 2/62 > 1/61 (either solo #1)
    assert(out.head.getLong(0) == 2L)
    assert(out.map(_.getInt(2)).toSeq == (1 to out.length))
  }

  test("rrfFuse: ids missing from one list still score from the other (published semantics)") {
    val a = Seq((1L, 1)).toDF("id", "rank")
    val b = Seq((2L, 1), (1L, 2)).toDF("id", "rank")
    val out = Retrieval.rrfFuse(Seq(a, b), "id", "rank", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) > out(2L)) // 1/61 + 1/62 > 1/61
  }

  test("invertedIndex: exact df, sorted capped postings, minDf prune") {
    val docs = Seq(
      (3L, "x y"), (1L, "x z"), (2L, "x y"), (4L, "w")).toDF("doc_id", "text")
    val out = Retrieval.invertedIndex(docs, "doc_id", "text",
        minDf = 2, maxPostings = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    // x in 3 docs, df exact beyond the cap; postings = 2 smallest ids
    assert(out("x") == ((3L, Seq(1L, 2L))))
    assert(out("y") == ((2L, Seq(2L, 3L))))
    assert(!out.contains("z") && !out.contains("w")) // df 1 pruned
  }

  test("mmrTopK: diversifies — near-duplicate of the top hit is deferred, rank 1 = pure relevance") {
    // query 0 = e1; corpus: 10/11 nearly identical & most relevant,
    // 12 distinct & moderately relevant, 13 near-orthogonal
    def v(x: Double, y: Double, z: Double) = Seq(x, y, z)
    val rows = Seq(
      (0L, v(1, 0, 0)),          // query
      (10L, v(0.9, 0.1, 0)),     // top relevance
      (11L, v(0.9, 0.11, 0)),    // near-dup of 10 (sim ~ 0.99995)
      (12L, v(0.6, -0.8, 0)),    // diverse (sim to 10 ~ 0.51), rel 0.6
      (13L, v(0, 0.1, 1.0)))     // diverse, low relevance
    val emb = rows.toDF("vec_id", "embedding")
    val out = Retrieval.mmrTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3, lambda = 0.5, poolSize = 4)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    val pickedIds = out.map(_._1).toSeq
    assert(pickedIds.head == 10L)     // first pick = most relevant
    assert(pickedIds(1) == 12L)       // second pick diversifies, not the 11 near-dup
    assert(out.map(_._2).toSeq == Seq(1, 2, 3))
    // determinism
    val again = Retrieval.mmrTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3, lambda = 0.5, poolSize = 4)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.toSeq == again.toSeq)
  }

  test("mmrTopK: lambda=1 degenerates to pure relevance ranking") {
    val rows = Seq(
      (0L, Seq(1.0, 0.0)), (20L, Seq(0.95, 0.05)), (21L, Seq(0.94, 0.06)),
      (22L, Seq(0.1, 0.9)))
    val emb = rows.toDF("vec_id", "embedding")
    val mmr = Retrieval.mmrTopK(emb, emb.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3, lambda = 1.0, poolSize = 3)
      .orderBy("rank").collect().map(_.getLong(1))
    val brute = graft.operators.Ann.bruteForceTopK(emb,
        emb.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(1))
    assert(mmr.toSeq == brute.toSeq)
  }

  test("maxSimTopK: exact token cover ranks first with score |q|; scores dyadic-exact and bounded") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta"),        // full cover of the query
      (11L, "alpha beta zzz qqq"),            // partial cover
      (12L, "unrelated words only here"),     // no cover
      (13L, "delta gamma beta alpha extra")   // full cover, extra tokens
    ).toDF("doc_id", "text")
    val q = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Retrieval.maxSimTopK(corpus, q, "doc_id", "text", 4)
      .orderBy("rank").collect()
    assert(out.length == 4)
    // full-cover docs: every query token finds an identical corpus
    // token -> per-token max = 1 -> score = 4 exactly (dyadic sums)
    val top2 = out.take(2).map(r => (r.getLong(1), r.getDouble(2)))
    assert(top2.map(_._1).toSet == Set(10L, 13L))
    assert(top2.forall(_._2 == 4.0))
    // tie-break: lower doc_id first
    assert(out(0).getLong(1) == 10L)
    // every per-token max is in [-1, 1], so |score| <= |q| always
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 4.0))
    // partial cover beats no cover
    val byDoc = out.map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(byDoc(11L) > byDoc(12L))
    // self-exclusion: querying within the corpus never returns itself
    val self = Retrieval.maxSimTopK(corpus, corpus.filter(col("doc_id") === 10),
      "doc_id", "text", 10).collect()
    assert(!self.exists(r => r.getLong(1) == 10L))
  }

  test("prfExpandedTopK: expansion terms widen recall to co-occurring vocabulary") {
    // 'cat' docs all mention 'feline'; doc 4 says only 'feline' — round
    // 1 can't see it, the expanded query can
    val docs = Seq(
      (1L, "cat cat feline purr"),
      (2L, "cat feline whisker"),
      (3L, "cat feline"),
      (4L, "feline feline sleeps"),
      (5L, "dog bark fetch"),
      (6L, "dog growl bone")
    ).toDF("doc_id", "text")
    val r1 = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("cat"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(!r1.contains(4L), "plain bm25 cannot reach the feline-only doc")
    val prf = Retrieval.prfExpandedTopK(docs, "doc_id", "text", Seq("cat"),
      k = 10, kFeedback = 3, nExpand = 1)
    val ids = prf.collect().map(_.getLong(0)).toSet
    assert(ids.contains(4L), "expansion term 'feline' should retrieve doc 4")
    assert(!ids.contains(5L) && !ids.contains(6L), "dog docs stay irrelevant")
    // nExpand = 0 degrades to plain bm25 (same doc set)
    val noExp = Retrieval.prfExpandedTopK(docs, "doc_id", "text", Seq("cat"),
      k = 10, kFeedback = 3, nExpand = 0)
      .collect().map(_.getLong(0)).toSet
    assert(noExp == r1)
  }

  test("bm25PerQuery: batch run matches per-query bm25TopK scores and ranks") {
    val queries = Seq(("qa", "spark"), ("qa", "window"),
      ("qb", "hash"), ("qb", "merge")).toDF("query_id", "term")
    val batch = Retrieval.bm25PerQuery(docs, "doc_id", "text", queries, k = 10)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getDouble(2), r.getInt(3)))
      .toMap
    for ((q, ts) <- Seq("qa" -> Seq("spark", "window"), "qb" -> Seq("hash", "merge"))) {
      val single = Retrieval.bm25TopK(docs, "doc_id", "text", ts, k = 10)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
      assert(batch.collect { case ((`q`, id), v) => id -> v }.toMap == single,
        s"batch result for $q must equal the single-query ranker")
    }
  }

  test("rankingEval: perfect ranking gets ndcg=mrr=recall=1; reversed ranking is penalized; miss gets 0") {
    val qrels = Seq(("q", 1L, 2L), ("q", 2L, 1L)).toDF("query_id", "doc_id", "rel")
    def run(pairs: (Long, Int)*) =
      pairs.map { case (d, r) => ("q", d, r) }.toDF("query_id", "doc_id", "rank")
    val perfect = Retrieval.rankingEval(run(1L -> 1, 2L -> 2), qrels, "doc_id").collect()(0)
    assert(perfect.getDouble(1) == 1.0 && perfect.getDouble(2) == 1.0 &&
      perfect.getDouble(3) == 1.0 && perfect.getLong(4) == 2L)
    val reversed = Retrieval.rankingEval(run(2L -> 1, 1L -> 2), qrels, "doc_id").collect()(0)
    assert(reversed.getDouble(1) < 1.0 && reversed.getDouble(1) > 0.5)
    assert(reversed.getDouble(2) == 1.0, "first hit still at rank 1")
    // irrelevant-only run: ndcg 0, mrr 0, recall 0
    val miss = Retrieval.rankingEval(run(9L -> 1, 8L -> 2), qrels, "doc_id").collect()(0)
    assert(miss.getDouble(1) == 0.0 && miss.getDouble(2) == 0.0 && miss.getDouble(3) == 0.0)
  }

  test("rankingEval: graded gains — swapping a rel=2 above a rel=1 raises ndcg; discounts beyond k ignored") {
    val qrels = Seq(("q", 1L, 1L), ("q", 2L, 3L)).toDF("query_id", "doc_id", "rel")
    def ev(first: Long, second: Long) = Retrieval.rankingEval(
      Seq(("q", first, 1), ("q", second, 2)).toDF("query_id", "doc_id", "rank"),
      qrels, "doc_id").collect()(0).getDouble(1)
    assert(ev(2L, 1L) == 1.0, "high-gain doc first is the ideal order")
    assert(ev(1L, 2L) < ev(2L, 1L))
    // rank beyond k is filtered, not an array-index error
    val far = Retrieval.rankingEval(
      Seq(("q", 2L, 1), ("q", 1L, 99)).toDF("query_id", "doc_id", "rank"),
      qrels, "doc_id").collect()(0)
    assert(far.getDouble(3) == 0.5, "only the in-window hit counts toward recall")
  }
}
