package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.{ByteFunctions, TextFunctions, VectorFunctions}

class FunctionsSpec extends SparkSpec {
  /** Builtin-composed word shingles, the SQL-shaped reference the fused
    * `TextFunctions.wordShingles` is compared against. Guarded: Spark's
    * `sequence(1, 0)` would count DOWN, so short inputs return an empty
    * array explicitly.
    */
  private def wordShinglesComposed(c: Column, k: Int): Column = {
    val words = split(trim(c), "\\s+")
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(1), n - (k - 1)), i => array_join(slice(words, i, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Builtin-HOF cosine (`aggregate(zip_with(a,b,*), 0d, +)` dot
    * products), the reference for `VectorFunctions.cosine`. */
  private def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("readability: counts and Flesch formula; empty text null-scored") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "no sentence markers here"),
      (3L, "")).toDF("id", "text")
    val out = df.select(col("id"),
        graft.functions.TextFunctions.readability(col("text")).as("r"))
      .select(col("id"), col("r.n_words"), col("r.n_sentences"),
        col("r.n_syllables"), col("r.flesch"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), Option(r.get(4)))).toMap
    assert(out(1L)._1 == 6 && out(1L)._2 == 2)
    // vowel groups: e/a/a/e/o/a = 6 in "The cat sat. The dog ran!"
    assert(out(1L)._3 == 6)
    val expected = 206.835 - 1.015 * 6.0 / 2 - 84.6 * 6.0 / 6
    assert(out(1L)._4.contains(expected))
    assert(out(2L)._2 == 1)      // sentence floor
    assert(out(3L)._1 == 0 && out(3L)._4.isEmpty) // empty text -> null score
  }
  import spark.implicits._

  test("shannon_entropy bounds and known values (algorithm.py:42)") {
    val df = Seq(
      Array.fill(100)('a'.toByte),                        // single symbol -> 0
      (0 until 256).map(_.toByte).toArray,                // uniform bytes -> 8
      "aabb".getBytes("UTF-8")                            // two symbols -> 1
    ).toDF("b")
    val e = df.select(ByteFunctions.shannon_entropy(col("b"))).collect().map(_.getDouble(0))
    assert(math.abs(e(0) - 0.0) < 1e-12)
    assert(math.abs(e(1) - 8.0) < 1e-12)
    assert(math.abs(e(2) - 1.0) < 1e-12)
  }

  test("entropy stays in [0,8] for arbitrary byte arrays (property, 25 seeds)") {
    val cases = (1 to 25).map { seed =>
      val rng = new scala.util.Random(seed)
      Array.fill(1 + rng.nextInt(500))(rng.nextInt(256).toByte)
    }
    val es = cases.toDF("b")
      .select(ByteFunctions.shannon_entropy(col("b"))).collect().map(_.getDouble(0))
    assert(es.forall(e => e >= 0.0 && e <= 8.0 + 1e-12))
  }

  test("byte_histogram sums to blob length; KL(p,p) = 0 after smoothing noise") {
    val df = Seq("hello world".getBytes("UTF-8")).toDF("b")
    val h = df.select(ByteFunctions.byte_histogram(col("b"))).head().getSeq[Long](0)
    assert(h.sum == 11 && h.length == 256)
    val kl = df.select(ByteFunctions.kl_divergence(
      ByteFunctions.byte_histogram(col("b")),
      ByteFunctions.byte_histogram(col("b")))).head().getDouble(0)
    assert(math.abs(kl) < 1e-4) // only the 1e-7 smoothing term remains
  }

  test("js_divergence: identical 0, disjoint 1 bit, symmetric, bounded") {
    def h(s: String) = ByteFunctions.byte_histogram(lit(s.getBytes("UTF-8")))
    val row = Seq(1).toDF("i").select(
      ByteFunctions.js_divergence(h("aaa"), h("aaa")).as("same"),
      ByteFunctions.js_divergence(h("aaa"), h("bb")).as("disj"),
      ByteFunctions.js_divergence(h("ab"), h("abbb")).as("m1"),
      ByteFunctions.js_divergence(h("abbb"), h("ab")).as("m2")).head()
    assert(row.getDouble(0) == 0.0)
    assert(row.getDouble(1) == 1.0) // disjoint supports: exactly 1 bit
    assert(row.getDouble(2) == row.getDouble(3)) // symmetric
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) < 1.0)
  }

  test("tokenCount edge cases") {
    val df = Seq("", "   ", "one", " a  b\tc ").toDF("t")
    val c = df.select(TextFunctions.tokenCount(col("t"))).collect().map(_.getInt(0))
    assert(c.toSeq == Seq(0, 0, 1, 3))
  }

  test("typeCount: distinct tokens, blank-safe; TTR pairs with tokenCount") {
    val df = Seq("", "   ", "one", "a a b", " a  a\ta ").toDF("t")
    val c = df.select(TextFunctions.typeCount(col("t"))).collect().map(_.getInt(0))
    assert(c.toSeq == Seq(0, 0, 1, 2, 1))
    val both = df.select(TextFunctions.typeCount(col("t")),
      TextFunctions.tokenCount(col("t"))).collect()
    both.foreach(r => assert(r.getInt(0) <= r.getInt(1), "types never exceed tokens"))
  }

  test("wordShingles / charNgrams counts and short-input guard") {
    val df = Seq("a b c d", "a b", "").toDF("t")
    val sh = df.select(TextFunctions.wordShingles(col("t"), 3)).collect().map(_.getSeq[String](0))
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1).isEmpty && sh(2).isEmpty)
    // fused expression == builtin-composed variant on messy input
    val messy = Seq("  a  b\tc   d ", "x y", "one two three four five").toDF("t")
    val fused = messy.select(TextFunctions.wordShingles(col("t"), 3)).collect().map(_.getSeq[String](0))
    val comp = messy.select(wordShinglesComposed(col("t"), 3)).collect().map(_.getSeq[String](0))
    assert(fused.toSeq == comp.toSeq)
    val ng = df.select(TextFunctions.charNgrams(col("t"), 2)).head().getSeq[String](0)
    assert(ng.head == "a " && ng.length == 6)
  }

  test("md5SliceMins/md5SliceBands: builtin md5 slice-min reference, interpreted and codegen") {
    // repartition keeps the projection out of the driver-side
    // LocalRelation folding, so the default run exercises doGenCode
    val df = Seq(
      (0L, "one two three four five six seven"),
      (1L, null),
      (2L, "too short"),
      (3L, ""),
      (4L, "  größe straße\tüber  maß café naïve 日本語 テキスト 𝄞 end "),
      (5L, "a b a b a b a b a b") // repeated shingles
    ).toDF("id", "text").repartition(2)
    def reference(k: Int, bands: Int): Map[Long, Seq[String]] = {
      val sh = df.select(col("id"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
      val mins = (0 until k).map(i =>
        min(substring(md5(concat(lit(s"${i / 4}:"), col("sh"))), (i % 4) * 8 + 1, 8)))
      val rows = k / bands
      sh.groupBy("id").agg(mins.head, mins.tail: _*).collect().map { r =>
        r.getLong(0) -> (0 until bands).map(b =>
          (b * rows until (b + 1) * rows).map(i => r.getString(i + 1)).mkString)
      }.toMap
    }
    def kernel(k: Int, bands: Int): Map[Long, Option[Seq[String]]] =
      df.select(col("id"), TextFunctions.md5SliceBands(
          TextFunctions.md5SliceMins(col("text"), k, 3), bands))
        .collect().map(r => r.getLong(0) -> Option(r.getSeq[String](1))).toMap
    for ((k, bands) <- Seq((12, 2), (16, 4), (12, 12))) {
      val ref = reference(k, bands)
      assert(ref.keySet == Set(0L, 4L, 5L))
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(kernel(k, bands))
      val codegen = kernel(k, bands)
      for (got <- Seq(interpreted, codegen)) {
        ref.foreach { case (id, bs) => assert(got(id).contains(bs), s"k=$k bands=$bands id=$id") }
        assert(got(1L).isEmpty, "null text -> null")
        assert(got(2L).contains(Seq()) && got(3L).contains(Seq()),
          "fewer than shingleK tokens -> no signature")
      }
      assert(interpreted == codegen)
    }
    // the row-local wrappers the streaming matchers call are the same kernel
    val text = "one two three four five six seven"
    assert(graft.operators.Dedup.minhashBandSigs(text, 16, 4).toSeq == reference(16, 4)(0L))
    assert(graft.operators.Dedup.minhashSliceMins(text, 12).toSeq == reference(12, 12)(0L))
  }

  test("langId picks stopword-majority language; CJK wins") {
    val df = Seq(
      "the cat and the dog of a house",
      "der hund und die katze und das haus",
      "el gato la casa los perros",
      "le chat et les maisons des gens",
      "数据 处理 引擎",
      "xyzzy plugh").toDF("t")
    val l = df.select(TextFunctions.langId(col("t"))).collect().map(_.getString(0))
    assert(l.toSeq == Seq("en", "de", "es", "fr", "zh", "unknown"))
  }

  test("normalize + redactPii: emails/digit runs tagged, whitespace collapsed") {
    val df = Seq("  Contact John.Doe+x@Sub.Example.COM  ref 123456789  ok 123 ").toDF("t")
    val out = df.select(TextFunctions.normalize(TextFunctions.redactPii(col("t"))))
      .head().getString(0)
    assert(out == "contact <email> ref <num> ok 123")
  }

  test("repetitionRatio: 0 for unique/short text, rises with repetition") {
    val df = Seq("a b c d e", "spam spam spam spam spam", "x").toDF("t")
    val r = df.select(TextFunctions.repetitionRatio(col("t"), 2)).collect().map(_.getDouble(0))
    assert(r(0) == 0.0)
    assert(r(1) == 0.75) // 4 bigrams, 1 distinct
    assert(r(2) == 0.0)  // too short
  }

  test("qualityScore in [0,1]") {
    val df = Seq("", "the quick brown fox jumps over the lazy dog", "!!!!....;;;;").toDF("t")
    val q = df.select(TextFunctions.qualityScore(col("t"))).collect().map(_.getDouble(0))
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("qualityFeatures: components in [0,1], punctuation corruption only moves x3") {
    val df = Seq("the quick brown fox jumps over a dog",
      "the quick brown fox jumps over a dog !!! ### ,,, ;;; !!!").toDF("t")
    val fs = df.select(TextFunctions.qualityFeatures(col("t"))).collect()
      .map(_.getSeq[Double](0))
    fs.foreach(f => assert(f.size == 4 && f.forall(v => v >= 0.0 && v <= 1.0)))
    val (clean, junk) = (fs(0), fs(1))
    assert(clean(2) > junk(2) + 0.5) // punct-inverse collapses under corruption
    // mixing with equal weights reproduces qualityScore exactly
    val mixed = df.select(TextFunctions.qualityScore(col("t"))).collect().map(_.getDouble(0))
    fs.zip(mixed).foreach { case (f, q) => assert(math.abs(f.map(_ * 0.25).sum - q) < 1e-12) }
  }

  test("cosine: identical=1, orthogonal=0, HOF variant agrees with expression") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val both = df.select(
      VectorFunctions.cosine(col("a"), col("b")).as("c1"),
      cosineHof(col("a"), col("b")).as("c2")).collect()
    assert(math.abs(both(0).getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(both(1).getDouble(0)) < 1e-12)
    both.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("signBucket deterministic and within [0, 2^planes)") {
    val planes = VectorFunctions.hyperplanes(4, 3, seed = 42L)
    val df = Seq(Array(1.0, -2.0, 0.5), Array(1.0, -2.0, 0.5), Array(-1.0, 2.0, -0.5)).toDF("v")
    val b = df.select(VectorFunctions.signBucket(col("v"), planes)).collect().map(_.getLong(0))
    assert(b(0) == b(1))
    assert(b.forall(x => x >= 0 && x < 16))
  }

  test("bpeSegments: merges apply in table order, exhaustively left-to-right") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("e", "r"), ("low", "er"))
    val df = Seq("low lower lowest low", "", "x").toDF("t")
    val segs = df.select(TextFunctions.bpeSegments(col("t"), merges).as("s"))
      .collect().map(_.getSeq[Seq[String]](0))
    assert(segs(0) == Seq(Seq("low"), Seq("lower"), Seq("low", "e", "s", "t"), Seq("low")))
    assert(segs(1) == Seq.empty) // blank text
    assert(segs(2) == Seq(Seq("x"))) // single char, no merges apply
    // count collapses the same segmentation
    val cnts = df.select(TextFunctions.bpeCount(col("t"), merges)).collect().map(_.getInt(0))
    assert(cnts.toSeq == Seq(1 + 1 + 4 + 1, 0, 1))
    // no merges = pure character count of the words
    val raw = df.select(TextFunctions.bpeCount(col("t"), Seq.empty)).collect().map(_.getInt(0))
    assert(raw.toSeq == Seq("lowlowerlowestlow".length, 0, 1))
  }

  test("bpeCount: left-to-right non-overlapping pair semantics") {
    val merges = Seq(("a", "a"))
    val df = Seq("aaa aaaa").toDF("t")
    // "aaa" -> [aa, a] (leftmost pair wins), "aaaa" -> [aa, aa]
    val segs = df.select(TextFunctions.bpeSegments(col("t"), merges)).head().getSeq[Seq[String]](0)
    assert(segs == Seq(Seq("aa", "a"), Seq("aa", "aa")))
  }

  test("learnBpeMerges: recovers the dominant pairs of a skewed corpus") {
    // classic BPE fixture: 'ab' dominates, then 'abc' forms from ab+c
    val docs = (Seq.fill(20)("abc") ++ Seq.fill(10)("abd") ++ Seq.fill(3)("xy"))
      .toDF("text")
    val merges = TextFunctions.learnBpeMerges(docs, "text", 3)
    // pair (a,b) appears 30x weighted -> first merge; (ab,c) 20x -> second
    assert(merges.take(2) == Seq(("a", "b"), ("ab", "c")))
    assert(merges.length == 3)
    // applying the learned table segments the training words to 1-2 tokens
    val segs = docs.limit(1).select(TextFunctions.bpeSegments(col("text"), merges))
      .head().getSeq[Seq[String]](0)
    assert(segs == Seq(Seq("abc")))
    // trainer stops when nothing is left to merge
    val tiny = Seq("ab ab").toDF("text")
    assert(TextFunctions.learnBpeMerges(tiny, "text", 10).length == 1)
  }

  test("bpeCountPretok: class runs pre-tokenize; merges cannot cross class boundaries") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("x", "1")) // (x,1) can NEVER apply
    val df = Seq("low-cost x1, x1!", "", "  ", "...").toDF("t")
    val cnts = df.select(TextFunctions.bpeCountPretok(col("t"), merges))
      .collect().map(_.getInt(0))
    // pre-tokens: [low][-][cost][x][1][,][x][1][!]
    // low->1 tok; '-'->1; cost->4; x->1; 1->1; ','->1; x->1; 1->1; '!'->1
    assert(cnts(0) == 1 + 1 + 4 + 1 + 1 + 1 + 1 + 1 + 1)
    assert(cnts(1) == 0 && cnts(2) == 0) // blank: no matches, no special case
    assert(cnts(3) == 3)                 // "..." is ONE pre-token, 3 char tokens (no merges apply)
    // whitespace-word variant would glue "low-cost" into one word where
    // (o,w) fuses across the '-'... it cannot here; sanity: the same
    // input under bpeCount counts punctuation INSIDE words
    val plain = df.select(TextFunctions.bpeCount(col("t"), merges)).head().getInt(0)
    assert(plain != cnts(0)) // the two tokenizations genuinely differ
  }

  test("learnBpeMergesToVocab: merge budget = vocabSize - base chars") {
    val docs = (Seq.fill(20)("abc") ++ Seq.fill(10)("abd") ++ Seq.fill(3)("xy"))
      .toDF("text")
    // base vocab: {a,b,c,d,x,y} = 6 chars
    assert(TextFunctions.learnBpeMergesToVocab(docs, "text", 6).isEmpty)
    assert(TextFunctions.learnBpeMergesToVocab(docs, "text", 4).isEmpty)
    val m8 = TextFunctions.learnBpeMergesToVocab(docs, "text", 8)
    assert(m8.length == 2 && m8 == Seq(("a", "b"), ("ab", "c")))
    // budget above what the corpus can yield: trainer exhausts gracefully
    assert(TextFunctions.learnBpeMergesToVocab(docs, "text", 100).length >= 3)
  }

  test("gopherFilter: per-rule failures land in reasons, clean doc keeps") {
    val good = (("the quick brown fox jumps over the lazy dog and then " * 5) +
      "more of the same body text here").trim // 56 words, stopwords present
    val short0 = "the quick brown and lazy dogs" // fails word_count only
    val symbols = Array.fill(60)("#tag...").mkString(" ") // symbol_ratio (and others)
    val numbers = (1 to 60).map(_.toString).mkString(" ") // alpha_ratio + word_length-ok?
    val df = Seq((1L, good), (2L, short0), (3L, symbols), (4L, numbers), (5L, ""))
      .toDF("id", "text")
      .select(col("id"), col("text"),
        when(length(trim(col("text"))) > 0, split(trim(col("text")), "\\s+"))
          .otherwise(array().cast("array<string>")).as("words"))
      .select(col("id"), TextFunctions.gopherFilter(col("text"), col("words")).as("g"))
      .select(col("id"), col("g.keep"), col("g.reasons"), col("g.word_cnt"))
    val rows = df.collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(rows(1L) == (true, ""))
    assert(rows(2L) == (false, "word_count"))
    assert(!rows(3L)._1 && rows(3L)._2.contains("symbol_ratio"))
    assert(!rows(4L)._1 && rows(4L)._2.contains("alpha_ratio")
      && rows(4L)._2.contains("stopwords"))
    // empty text: wc=0 fails count, mean_wlen=0 fails length,
    // alpha_frac=0 fails alpha, 0 stopwords fail; symbol_ratio=0 passes
    assert(rows(5L) == (false, "word_count,word_length,alpha_ratio,stopwords"))
  }
}
