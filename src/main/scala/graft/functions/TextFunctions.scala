package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis scalar functions for the training-data pipeline surface
  * (EXT per SURVEY north star; `documents` table). All built from codegen'd
  * builtins — no UDFs — and every formula is chosen to be expressible
  * identically in ANSI SQL for the oracle.
  */
object TextFunctions {

  /** Whitespace token count; 0 for empty/blank strings. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** DISTINCT whitespace-token count (vocabulary "types"); 0 for
    * empty/blank strings. n_types/n_tokens is the type-token ratio —
    * the lexical-diversity quality feature (low TTR flags boilerplate
    * and template spam). Map-side only: the distinct runs inside one
    * array expression per row, never a shuffle. */
  def typeCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(array_distinct(split(trim(c), "\\s+"))))

  /** Count of punctuation chars (.,!?;:). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,!?;:]", ""))

  /** Non-overlapping occurrences of a literal substring, via the
    * length-difference-of-replace trick (portable to any SQL engine —
    * literal `replace`, not a regex, on both sides).
    */
  def occurrences(c: Column, lit0: String): Column =
    ((length(c) - length(replace(c, lit(lit0), lit("")))) /
      lit(lit0.length)).cast("int")

  /** Static kernel: padded-lowercase multi-pattern occurrence counts. */
  def multiOccurrencesOf(v: UTF8String, pats: Array[String]): GenericArrayData = {
    val s = " " + v.toString.toLowerCase(java.util.Locale.ROOT) + " "
    val out = new Array[Int](pats.length)
    var i = 0
    while (i < pats.length) {
      val p = pats(i)
      var from = 0
      var n = 0
      var idx = s.indexOf(p, from)
      while (idx >= 0) {
        n += 1
        from = idx + p.length // non-overlapping, like replace()
        idx = s.indexOf(p, from)
      }
      out(i) = n
      i += 1
    }
    new GenericArrayData(out)
  }

  case class MultiOccurrences(child: Expression, patterns: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    private val pats = patterns.map(p => s" $p ").toArray
    override def nullSafeEval(v: Any): Any =
      multiOccurrencesOf(v.asInstanceOf[UTF8String], pats)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pats", pats, "java.lang.String[]")
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.multiOccurrencesOf($c, $ref)")
    }
    override protected def withNewChildInternal(c: Expression): MultiOccurrences = copy(child = c)
  }

  /** One-pass multi-pattern occurrence counter: lowercases+pads the text
    * ONCE and counts non-overlapping occurrences of each ` word ` pattern
    * by indexOf stepping — exactly the counts the replace-trick produces,
    * in a single scan instead of one replace pass per word (16 passes ->
    * 1 for langId). Composed builtins remain the SQL-oracle mirror.
    */
  def multiOccurrences(c: Column, words: Seq[String]): Column =
    ColumnOps.toColumn(MultiOccurrences(_, words))(c)

  /** Stopword hit count for a padded-space word list (single text scan). */
  def stopwordCount(c: Column, words: Seq[String]): Column =
    aggregate(multiOccurrences(c, words), lit(0), (acc, v) => acc + v)

  val EnStops = Seq("the", "and", "of", "a")
  val DeStops = Seq("der", "und", "die", "das")
  val EsStops = Seq("el", "la", "los", "las")
  val FrStops = Seq("le", "les", "des", "et")

  /** n-gram-free heuristic language id: CJK chars dominate -> zh; else
    * argmax of per-language stopword counts with fixed preference order
    * en > de > es > fr; all-zero -> 'unknown'. Deterministic and
    * SQL-portable (the CASE order IS the tie-break).
    */
  def langId(c: Column): Column = {
    val en = stopwordCount(c, EnStops)
    val de = stopwordCount(c, DeStops)
    val es = stopwordCount(c, EsStops)
    val fr = stopwordCount(c, FrStops)
    when(c.isNull, lit(null).cast("string"))
      .when(c.rlike("[一-鿿]"), lit("zh"))
      .when(en === 0 && de === 0 && es === 0 && fr === 0, lit("unknown"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** The four capped quality components in [0,1], as an ARRAY in fixed
    * order (length, token-length, punctuation-inverse, stopword) — the
    * feature vector [[qualityScore]] mixes with fixed weights and the
    * learned classifier ([[graft.SparkEntry]] `quality_classifier`)
    * mixes with trained ones. One definition; every consumer and every
    * SQL mirror replays the identical arithmetic.
    */
  def qualityFeatures(c: Column): Column = {
    val toks = tokenCount(c).cast("double")
    val chars = length(c).cast("double")
    val nonSpace = length(regexp_replace(c, "\\s", "")).cast("double")
    val avgTokLen = when(toks > 0, nonSpace / toks).otherwise(lit(0.0))
    val punctRatio = when(chars > 0, punctCount(c).cast("double") / chars).otherwise(lit(1.0))
    val stopRatio = when(toks > 0, stopwordCount(c, EnStops).cast("double") / toks).otherwise(lit(0.0))
    array(
      least(toks / 100.0, lit(1.0)),
      least(avgTokLen / 8.0, lit(1.0)),
      lit(1.0) - least(punctRatio * 10.0, lit(1.0)),
      least(stopRatio * 5.0, lit(1.0)))
  }

  /** Composite quality score in [0,1]: length, token-length, punctuation
    * and stopword components, equally weighted. The exact formula is the
    * contract (oracle-tested); weights follow common quality-filter
    * practice (length + fluency signals).
    */
  def qualityScore(c: Column): Column = {
    val f = qualityFeatures(c)
    lit(0.25) * element_at(f, 1) +
      lit(0.25) * element_at(f, 2) +
      lit(0.25) * element_at(f, 3) +
      lit(0.25) * element_at(f, 4)
  }

  /** Flesch reading-ease readability (EXT — the classic text-quality
    * metric alongside the Gopher/CCNet gates): `206.835 - 1.015 *
    * words/sentences - 84.6 * syllables/word`, with the standard cheap
    * estimators — syllables = vowel-group count ([aeiouy]+ runs on the
    * lowercased text), sentences = [.!?]+ runs floored at 1. Every
    * input is an INTEGER count, so the score is a pure-function double
    * any engine reproduces. Returns a struct
    * (n_words, n_sentences, n_syllables, flesch).
    */
  def readability(c: Column): Column = {
    val words = when(length(trim(c)) > 0, size(split(trim(c), "\\s+")))
      .otherwise(lit(0))
    val sentences = greatest(regexp_count(c, lit("[.!?]+")), lit(1))
    val syllables = regexp_count(lower(c), lit("[aeiouy]+"))
    val flesch = when(words > 0,
      lit(206.835) - lit(1.015) * words.cast("double") / sentences -
        lit(84.6) * syllables.cast("double") / words)
    struct(words.as("n_words"), sentences.as("n_sentences"),
      syllables.as("n_syllables"), flesch.as("flesch"))
  }

  /** Text normalization for dedup/fingerprint keys: lowercase + collapse
    * whitespace runs + trim. (Unicode NFC is a JVM-side `Normalizer` call
    * when needed; ASCII corpora are unaffected.)
    */
  def normalize(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Rule names for [[gopherFilter]], in evaluation order — the `reasons`
    * column lists the failed subset in THIS order, so the string is a
    * deterministic function of the rule outcomes.
    */
  val GopherRuleNames: Seq[String] =
    Seq("word_count", "word_length", "symbol_ratio", "alpha_ratio", "stopwords")

  /** Gopher-style composite quality gate (rules published in the Gopher
    * paper's quality-filtering appendix; thresholds are the commonly used
    * defaults): word count in [minWords, maxWords], mean word length in
    * [minWordLen, maxWordLen], symbol-to-word ratio (# and ellipsis) at
    * most maxSymbolRatio, fraction of words with an alphabetic char at
    * least minAlphaFrac, and at least minStopwords English stopword hits.
    *
    * Takes the text AND a pre-materialized `words` array column: passing
    * `split(...)` inline would re-evaluate the split once per lambda
    * element inside the `filter` HOF (same trap as [[repetitionRatio]] —
    * materialize the array in its own projection first).
    *
    * Returns a struct (word_cnt, mean_wlen, symbol_ratio, alpha_frac,
    * stop_en, keep, reasons): `keep` is the gate, `reasons` the
    * comma-joined failed rules ([[GopherRuleNames]] order, empty string
    * when kept) — a pipeline filters on `keep` and keeps `reasons` for
    * the rejection audit. Every component is a per-row expression (no
    * shuffle, codegen-friendly); ratios are plain IEEE divisions so the
    * DuckDB oracle reproduces them bitwise.
    */
  def gopherFilter(text: Column, words: Column,
      minWords: Int = 50, maxWords: Int = 100000,
      minWordLen: Double = 3.0, maxWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): Column = {
    val wc = size(words)
    val wcD = wc.cast("double")
    val nonSpace = length(regexp_replace(text, "\\s", "")).cast("double")
    val meanWlen = when(wc > 0, nonSpace / wcD).otherwise(lit(0.0))
    val symCnt = (occurrences(text, "#") + occurrences(text, "...")).cast("double")
    val symRatio = when(wc > 0, symCnt / wcD).otherwise(lit(0.0))
    val alphaCnt = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double")
    val alphaFrac = when(wc > 0, alphaCnt / wcD).otherwise(lit(0.0))
    val stopEn = stopwordCount(text, EnStops)
    val fails = Seq(
      !(wc >= minWords && wc <= maxWords),
      !(meanWlen >= minWordLen && meanWlen <= maxWordLen),
      !(symRatio <= maxSymbolRatio),
      !(alphaFrac >= minAlphaFrac),
      !(stopEn >= minStopwords))
    val keep = fails.reduce(_ || _).unary_!
    // concat_ws skips NULLs in both Spark and DuckDB — the portable
    // "join the failed subset" idiom
    val reasons = concat_ws(",",
      fails.zip(GopherRuleNames).map { case (f, n) => when(f, lit(n)) }: _*)
    struct(wc.as("word_cnt"), meanWlen.as("mean_wlen"), symRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_frac"), stopEn.as("stop_en"), keep.as("keep"),
      reasons.as("reasons"))
  }

  /** PII-ish redaction: emails then standalone long digit runs replaced
    * with fixed tags. Patterns are ASCII-class only — identical under
    * Java regex and RE2 (the oracle engine).
    */
  def redactPii(c: Column): Column = {
    val emails = regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(emails, "[0-9]{7,}", "<NUM>")
  }

  /** n-gram repetition ratio in [0,1]: 1 - distinct_ngrams/total_ngrams
    * over word n-grams; 0 for texts too short to produce one. The
    * standard boilerplate/looping-text quality signal.
    *
    * PERF: materialize the gram array in its own projection and call
    * [[repetitionRatioFromGrams]] on the column — referencing
    * `wordShingles(c, n)` three times in one expression re-evaluates the
    * split per HOF element (16.7s -> 0.4s on the sf0.1 bench).
    */
  def repetitionRatio(c: Column, n: Int = 2): Column =
    repetitionRatioFromGrams(wordShingles(c, n))

  /** Ratio over a PRE-MATERIALIZED gram array column. */
  def repetitionRatioFromGrams(grams: Column): Column =
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))

  /** Exact content fingerprint (md5 hex) — engine-portable. */
  def fingerprintMd5(c: Column): Column = md5(c.cast("binary"))

  /** First 8 bytes of MD5(utf8(s)) as a big-endian signed long — the
    * engine-portable 64-bit hash (any engine with an `md5()` builtin
    * reproduces it bit-for-bit from the hex prefix). Used by the
    * deterministic SimHash; xxhash64 stays the fast non-portable path.
    */
  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Static kernel for [[Md5Bits64]]. */
  def md5Bits64Of(v: UTF8String): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(v.getBytes)
    java.nio.ByteBuffer.wrap(d).getLong
  }

  case class Md5Bits64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullSafeEval(v: Any): Any =
      md5Bits64Of(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.md5Bits64Of($c)")
    override protected def withNewChildInternal(c: Expression): Md5Bits64 = copy(c)
  }

  def md5Bits64(c: Column): Column = ColumnOps.toColumn(Md5Bits64(_))(c)

  /** SymSpell deletion-neighborhood signature HASHES (r13 optimization,
    * guide §4 + §2.3): 64-bit xxhash of the string itself plus every
    * single-character deletion, deduplicated. The HOF + md5 form
    * materialized every deletion substring and shuffled 32-char
    * hex keys; this kernel hashes each deletion's UTF-16 chars from a
    * reused buffer (no substring allocation) and the join keys shrink
    * to 8 bytes. The hash VALUE is internal blocking state on BOTH the
    * index and probe sides — never compared against an oracle — so any
    * injective-modulo-collisions hash preserves results (the suite's
    * standard ~n²/2⁶⁴ collision tolerance).
    */
  def deletionSigHashesOf(v: UTF8String): GenericArrayData = {
    val str = v.toString
    val n = str.length
    val hashes = new Array[Long](n + 1)
    val buf = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val c = str.charAt(i)
      buf(2 * i) = (c & 0xff).toByte
      buf(2 * i + 1) = ((c >> 8) & 0xff).toByte
      i += 1
    }
    hashes(0) = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        2 * n, 42L)
    val del = new Array[Byte](2 * math.max(0, n - 1))
    var d = 0
    while (d < n) {
      // deletion d = chars [0, d) ++ [d+1, n): two arraycopies of the
      // prebuilt UTF-16LE bytes
      System.arraycopy(buf, 0, del, 0, 2 * d)
      System.arraycopy(buf, 2 * (d + 1), del, 2 * d, 2 * (n - d - 1))
      hashes(d + 1) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(del, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          2 * (n - 1), 42L)
      d += 1
    }
    java.util.Arrays.sort(hashes)
    var uniq = if (hashes.length > 0) 1 else 0
    i = 1
    while (i < hashes.length) {
      if (hashes(i) != hashes(i - 1)) { hashes(uniq) = hashes(i); uniq += 1 }
      i += 1
    }
    val out = new Array[Any](uniq)
    i = 0
    while (i < uniq) { out(i) = hashes(i); i += 1 }
    new GenericArrayData(out)
  }

  case class DeletionSigHashes(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      deletionSigHashesOf(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.deletionSigHashesOf($c)")
    override protected def withNewChildInternal(c: Expression): DeletionSigHashes = copy(c)
  }

  def deletionSigHashes(c: Column): Column =
    ColumnOps.toColumn(DeletionSigHashes(_))(c)

  /** Run-length-encoded character n-gram counts (r13 optimization,
    * guide §4): lowercase, slide an n-char window, sort, count runs —
    * one fused loop replacing the staged charNgrams/array_sort/filter/
    * transform HOF cascade (interpreted lambdas + per-element
    * UTF8String allocation; profiled ~0.8 ms/doc). Semantics identical
    * on BMP text: UTF8String.toLowerCase is the same locale-independent
    * lowering `lower()` applies, Java char order equals UTF8 byte order
    * for BMP code points (the corpus contract), and output is the same
    * ascending-gram array<struct<g,cnt>>. Texts shorter than n yield [].
    */
  def docGramCountsOf(v: UTF8String, n: Int): GenericArrayData = {
    val str = v.toLowerCase.toString
    val L = str.length
    if (L < n) return new GenericArrayData(new Array[Any](0))
    val m = L - n + 1
    val grams = new Array[String](m)
    var i = 0
    while (i < m) { grams(i) = str.substring(i, i + n); i += 1 }
    java.util.Arrays.sort(grams, new java.util.Comparator[String] {
      // UTF8 byte order == char order on BMP-only strings; comparing
      // chars avoids re-encoding every gram
      override def compare(a: String, b: String): Int = a.compareTo(b)
    })
    var runs = 1
    i = 1
    while (i < m) { if (grams(i) != grams(i - 1)) runs += 1; i += 1 }
    val out = new Array[Any](runs)
    var r = 0
    var start = 0
    i = 1
    while (i <= m) {
      if (i == m || grams(i) != grams(start)) {
        out(r) = org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(grams(start)), i - start)
        r += 1
        start = i
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  val GramCountType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("cnt", IntegerType,
        nullable = false))), containsNull = false)

  case class DocGramCounts(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = GramCountType
    override def nullSafeEval(v: Any): Any =
      docGramCountsOf(v.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.docGramCountsOf($c, $n)")
    override protected def withNewChildInternal(c: Expression): DocGramCounts = copy(child = c)
  }

  def docGramCounts(c: Column, n: Int): Column =
    ColumnOps.toColumn(DocGramCounts(_, n))(c)

  /** Plain-String shingling — the ONE tokenization used by both the
    * batch expression kernel below and the streaming row-local signature
    * path ([[graft.operators.Dedup.minhashBandSigs]]); a second copy of
    * the trim/split/window logic would let the two silently diverge.
    */
  def wordShingleStringsOf(text: String, k: Int): Array[String] = {
    val s = text.trim
    if (s.isEmpty) return Array.empty
    val words = s.split("\\s+")
    if (words.length < k) return Array.empty
    val out = new Array[String](words.length - k + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** Static kernel: one-pass tokenization + k-shingling. */
  def wordShinglesOf(v: UTF8String, k: Int): GenericArrayData = {
    val strs = wordShingleStringsOf(v.toString, k)
    val out = new Array[Any](strs.length)
    var i = 0
    while (i < strs.length) { out(i) = UTF8String.fromString(strs(i)); i += 1 }
    new GenericArrayData(out)
  }

  case class WordShingles(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      wordShinglesOf(v.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextFunctions.wordShinglesOf($c, $k)")
    override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  }

  /** Single-pass word k-shingle expression: split once, emit contiguous
    * k-word windows joined by single spaces. The builtin-composed variant
    * below re-evaluates the split inside the HOF lambda once PER ELEMENT
    * (O(words^2) work per row — 3x slower on the sf0.1 bench); this
    * expression tokenizes once. Semantics identical: trim, split on \s+,
    * fewer than k words -> empty array.
    */
  def wordShingles(c: Column, k: Int): Column =
    ColumnOps.toColumn(WordShingles(_, k))(c)

  /** md5-slice MinHash kernel: the k slice minima of one document in ONE
    * pass over its word shingles. Slice i of a shingle is the unsigned
    * 32-bit big-endian value of bytes [4(i%4), 4(i%4)+4) of
    * md5("<i/4>:" ++ utf8(shingle)), i.e. the 8-hex-char substring
    * (i%4)*8+1..+8 of the builtin `md5(concat(lit("<i/4>:"), sh))` —
    * min over fixed-width lowercase hex equals min over these values,
    * and the min over a document's shingles does not depend on whether
    * they are distinct, so no explode/distinct/aggregate is needed.
    * Values stay numeric (array<bigint>) so repeated ids and groups merge
    * with a plain `min` hash aggregate; [[md5SliceBands]] renders the
    * winners as hex. Empty for documents with fewer than `shingleK`
    * tokens (they have no signature and belong to no bucket); shingling
    * is [[wordShingleStringsOf]], shared with every other shingle user.
    */
  def md5SliceMinsOf(text: String, k: Int, shingleK: Int): Array[Long] = {
    require(k % 4 == 0, s"k ($k) must be a multiple of 4 (4 slices per md5)")
    val shingles = wordShingleStringsOf(text, shingleK)
    if (shingles.isEmpty) return Array.emptyLongArray
    val md = md5Digest.get()
    val nSeeds = k / 4
    val prefixes = Array.tabulate(nSeeds)(s =>
      s"$s:".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val maxPrefix = prefixes.map(_.length).max
    val mins = Array.fill(k)(Long.MaxValue)
    val d = new Array[Byte](16)
    var buf = new Array[Byte](64)
    var i = 0
    while (i < shingles.length) {
      val sh = shingles(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (maxPrefix + sh.length > buf.length)
        buf = new Array[Byte](2 * (maxPrefix + sh.length))
      // shingle bytes once at a fixed offset; each seed's prefix is
      // written right-aligned in front of them
      System.arraycopy(sh, 0, buf, maxPrefix, sh.length)
      var s = 0
      while (s < nSeeds) {
        val p = prefixes(s)
        val off = maxPrefix - p.length
        System.arraycopy(p, 0, buf, off, p.length)
        md.update(buf, off, p.length + sh.length)
        md.digest(d, 0, 16)
        var j = 0
        while (j < 4) {
          val v = ((d(4 * j) & 0xffL) << 24) | ((d(4 * j + 1) & 0xffL) << 16) |
            ((d(4 * j + 2) & 0xffL) << 8) | (d(4 * j + 3) & 0xffL)
          val idx = 4 * s + j
          if (v < mins(idx)) mins(idx) = v
          j += 1
        }
        s += 1
      }
      i += 1
    }
    mins
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** The LSH band strings of k slice minima: band b is the concatenation
    * of minima [b*k/bands, (b+1)*k/bands) as 8-char lowercase hex, so
    * `bands == k` yields the k minima themselves. Empty for an empty
    * signature. */
  def md5SliceBandsOf(mins: Array[Long], bands: Int): Array[String] = {
    if (mins.isEmpty) return Array.empty
    require(mins.length % bands == 0, s"bands ($bands) must divide k (${mins.length})")
    val rows = mins.length / bands
    val chars = new Array[Char](8 * rows)
    Array.tabulate(bands) { b =>
      var r = 0
      while (r < rows) {
        val v = mins(b * rows + r)
        var c = 0
        while (c < 8) {
          chars(8 * r + c) = hexChars(((v >>> (28 - 4 * c)) & 0xf).toInt)
          c += 1
        }
        r += 1
      }
      new String(chars)
    }
  }

  /** Static kernels for [[Md5SliceMins]] and [[Md5SliceBands]]. */
  def md5SliceMinsData(v: UTF8String, k: Int, shingleK: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(md5SliceMinsOf(v.toString, k, shingleK))

  def md5SliceBandsData(mins: ArrayData, bands: Int): GenericArrayData =
    new GenericArrayData(
      md5SliceBandsOf(mins.toLongArray, bands).map(UTF8String.fromString(_): Any))

  case class Md5SliceMins(child: Expression, k: Int, shingleK: Int)
      extends UnaryExpression {
    require(k % 4 == 0, s"k ($k) must be a multiple of 4 (4 slices per md5)")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      md5SliceMinsData(v.asInstanceOf[UTF8String], k, shingleK)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.md5SliceMinsData($c, $k, $shingleK)")
    override protected def withNewChildInternal(c: Expression): Md5SliceMins =
      copy(child = c)
  }

  case class Md5SliceBands(child: Expression, bands: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      md5SliceBandsData(v.asInstanceOf[ArrayData], bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.md5SliceBandsData($c, $bands)")
    override protected def withNewChildInternal(c: Expression): Md5SliceBands =
      copy(child = c)
  }

  /** array<bigint> of a text column's k md5-slice minima. */
  def md5SliceMins(text: Column, k: Int, shingleK: Int): Column =
    ColumnOps.toColumn(Md5SliceMins(_, k, shingleK))(text)

  /** array<string> band strings of an array<bigint> minima column. */
  def md5SliceBands(mins: Column, bands: Int): Column =
    ColumnOps.toColumn(Md5SliceBands(_, bands))(mins)

  /** Character n-grams of a string column (same short-input guard). */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------------------------------
  // Merge-table-driven BPE (EXT per north star "token counting"): the
  // real algorithm a training pipeline budgets with, not a regex proxy.
  //
  // Variant implemented (documented contract): a word is split into
  // characters, then each learned merge (a, b) -> ab is applied in
  // TABLE ORDER, exhaustively left-to-right (the non-overlapping
  // leftmost-first semantics every SQL engine's literal `replace`
  // has). For a table actually produced by BPE training — where a
  // rule's operands are base characters or products of strictly
  // earlier rules — this sequential application is the standard greedy
  // segmentation. Everything is builtin expressions (regexp_replace to
  // intersperse separators, a fold of literal `replace` calls, split +
  // size to count), so the whole pipeline is codegen'd, shuffle-free,
  // and mirrored verbatim by the DuckDB oracle.
  //
  // The token separator is U+241F (symbol-for-unit-separator): a space
  // would collide with... nothing inside a whitespace-split word, but a
  // non-ASCII sentinel keeps the operator safe for corpora where words
  // can contain any ASCII punctuation.

  private val SEP = "␟"

  /** Space-free word -> its BPE token string (tokens joined by the
    * separator), merges applied in table order.
    */
  private def bpeSegment(word: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (a, b) =>
      !a.contains(SEP) && !b.contains(SEP) && a.nonEmpty && b.nonEmpty },
      "merge operands must be non-empty and must not contain the separator")
    // "hello" -> "h␟e␟l␟l␟o␟" ($1 backref; DuckDB mirrors with \1 and
    // 'g'). The trailing separator is KEPT — trimming it would force a
    // second reference to the computed string in one projection (the
    // repo's materialize-first invariant) — so token count is
    // split-size minus one and segment arrays drop the final "".
    // (?s): Java's dot excludes U+2028/U+2029/NEL while DuckDB's RE2 dot
    // excludes only \n — DOTALL in BOTH engines makes the interspersion
    // agree for every character (\s never splits those, so such a char
    // can reach this regex inside a "word").
    val chars = regexp_replace(word, "(?s)(.)", "$1" + SEP)
    merges.foldLeft(chars) { case (acc, (a, b)) =>
      replace(acc, lit(a + SEP + b), lit(a + b))
    }
  }

  /** BPE token count for a whole text column: whitespace words, each
    * segmented under `merges`, counts summed. 0 for blank/empty text.
    *
    * r13: evaluated by a native kernel ([[bpeCountOf]]) instead of the
    * HOF fold — the builtin form re-entered an interpreted lambda per
    * word and allocated every intermediate replace result as UTF8String;
    * the kernel replays the IDENTICAL pipeline (space-only trim, \s+
    * split, per-code-point separator interspersion, the same literal
    * leftmost non-overlapping `String.replace` per merge in table order,
    * separator count = split-size-minus-one), so counts are equal by
    * construction and the oracle's replace-fold mirror is untouched.
    */
  private val WsPattern = java.util.regex.Pattern.compile("\\s+")
  private val SEPC = '␟'

  private def bpeWordTokenCount(word: String, pats: Array[String],
      reps: Array[String]): Int = {
    if (word.isEmpty) return 0
    val sb = new java.lang.StringBuilder(word.length * 2)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.appendCodePoint(cp)
      sb.append(SEPC)
      i += Character.charCount(cp)
    }
    var s = sb.toString
    var m = 0
    while (m < pats.length) { s = s.replace(pats(m), reps(m)); m += 1 }
    var cnt = 0
    i = 0
    while (i < s.length) { if (s.charAt(i) == SEPC) cnt += 1; i += 1 }
    cnt
  }

  def bpeCountOf(v: UTF8String, pats: Array[String], reps: Array[String]): Int = {
    val t = v.trim().toString // UTF8String.trim = the space-only `trim()` builtin
    if (t.isEmpty) return 0
    val words = WsPattern.split(t, -1)
    var total = 0
    var i = 0
    while (i < words.length) {
      total += bpeWordTokenCount(words(i), pats, reps)
      i += 1
    }
    total
  }

  case class BpeCount(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    private val pats = merges.map { case (a, b) => a + SEP + b }.toArray
    private val reps = merges.map { case (a, b) => a + b }.toArray
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any =
      bpeCountOf(v.asInstanceOf[UTF8String], pats, reps)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val pRef = ctx.addReferenceObj("bpePats", pats, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeReps", reps, "java.lang.String[]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.bpeCountOf($c, $pRef, $rRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
  }

  def bpeCount(c: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (a, b) =>
      !a.contains(SEP) && !b.contains(SEP) && a.nonEmpty && b.nonEmpty },
      "merge operands must be non-empty and must not contain the separator")
    ColumnOps.toColumn(BpeCount(_, merges))(c)
  }

  /** BPE token ARRAY per word of a text column (the segmentation the
    * count above collapses — what a pipeline inspecting its tokenizer
    * looks at). One array of token-arrays per row.
    */
  def bpeSegments(c: Column, merges: Seq[(String, String)]): Column =
    when(length(trim(c)) === 0, array().cast("array<array<string>>"))
      .otherwise(transform(split(trim(c), "\\s+"),
        w => array_remove(split(bpeSegment(w, merges), SEP), "")))

  /** GPT-2-style PRE-TOKENIZED BPE count: the text first splits into
    * class runs — letter runs, digit runs, punctuation runs (the
    * ASCII-portable analogue of GPT-2's `\p{L}+ | \p{N}+ | other`
    * pre-tokenizer classes) — and each pre-token segments independently
    * under `merges`. This stops merges from ever crossing a
    * letter/digit/punctuation boundary ("x1" can never fuse), the
    * property real byte-level BPE vocabularies rely on. Unlike
    * [[bpeCount]]'s whitespace words, punctuation is COUNTED here (its
    * runs are pre-tokens), matching how real tokenizers bill it.
    * Empty/blank text yields 0 with no special case (no matches).
    * Still all codegen'd builtins, mirrored verbatim by the oracle.
    */
  private val PretokPattern =
    java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]+")

  def bpeCountPretokOf(v: UTF8String, pats: Array[String],
      reps: Array[String]): Int = {
    val m = PretokPattern.matcher(v.toString)
    var total = 0
    while (m.find()) total += bpeWordTokenCount(m.group(0), pats, reps)
    total
  }

  case class BpeCountPretok(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression {
    private val pats = merges.map { case (a, b) => a + SEP + b }.toArray
    private val reps = merges.map { case (a, b) => a + b }.toArray
    override def dataType: DataType = IntegerType
    override def nullSafeEval(v: Any): Any =
      bpeCountPretokOf(v.asInstanceOf[UTF8String], pats, reps)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val pRef = ctx.addReferenceObj("bpePats", pats, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeReps", reps, "java.lang.String[]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.bpeCountPretokOf($c, $pRef, $rRef)")
    }
    override protected def withNewChildInternal(c: Expression): BpeCountPretok =
      copy(child = c)
  }

  /** Same kernel discipline as [[bpeCount]]: the pre-tokenizer regex is
    * the identical java.util.regex pattern `regexp_extract_all` compiled,
    * matched in the same left-to-right order. */
  def bpeCountPretok(c: Column, merges: Seq[(String, String)]): Column = {
    require(merges.forall { case (a, b) =>
      !a.contains(SEP) && !b.contains(SEP) && a.nonEmpty && b.nonEmpty },
      "merge operands must be non-empty and must not contain the separator")
    ColumnOps.toColumn(BpeCountPretok(_, merges))(c)
  }

  /** VOCAB-SIZE-driven trainer stop: each merge adds exactly one token
    * to the vocabulary, so the merge budget is `vocabSize` minus the
    * base-character vocabulary (distinct characters across the corpus's
    * words — ONE extra aggregate over the persisted word table). Returns
    * the merges learned under that budget; a `vocabSize` at or below
    * the base vocab learns none. The standard way a tokenizer build is
    * specified ("train to 32k") instead of by merge count.
    */
  def learnBpeMergesToVocab(docs: org.apache.spark.sql.DataFrame,
      textCol: String, vocabSize: Int): Seq[(String, String)] = {
    require(vocabSize > 0, "vocabSize must be positive")
    val baseVocab = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .select(explode(split(col("w"), "")).as("ch"))
      .agg(countDistinct(col("ch"))).head().getLong(0)
    val budget = math.max(0L, vocabSize - baseVocab).toInt
    if (budget == 0) Seq.empty else learnBpeMerges(docs, textCol, budget)
  }

  /** REAL BPE training: learn `nMerges` merges from a corpus by the
    * classic greedy loop — segment the (distinct, frequency-weighted)
    * word table under the merges so far, count adjacent token pairs
    * weighted by word frequency, take the most frequent pair
    * (deterministic tie-break: count desc, then pair lexicographic),
    * append, repeat. The word-frequency table is ONE corpus scan,
    * persisted; each iteration is then a small shuffle over distinct
    * words only — the classic dictionary-based BPE trainer shape, which
    * is what keeps 100 TB training feasible (corpus scanned once, the
    * loop touches only the vocabulary).
    *
    * The returned table is what [[bpeCount]]/[[bpeSegments]] apply; the
    * declared query embeds a trained table as a literal so the oracle
    * can replay the identical replace fold.
    */
  def learnBpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): Seq[(String, String)] = {
    val words = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var merges = Vector.empty[(String, String)]
      var exhausted = false
      while (merges.length < nMerges && !exhausted) {
        val toks = array_remove(split(bpeSegment(col("w"), merges), SEP), "")
        val best = words
          .select(col("freq"), toks.as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("t")) - 1),
              i => struct(element_at(col("t"), i).as("a"),
                element_at(col("t"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a"), col("p.b")).agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true // every word fully merged
        else merges :+= ((best(0).getString(0), best(0).getString(1)))
      }
      merges
    } finally { words.unpersist(); () }
  }

  // ------------------------------------------------------------------ r14
  // Native DSIR feature kernels (guide §4): the hashed-feature stream
  // (unigrams + space-joined bigrams, md5-bucketed) was built from a
  // split + transform(sequence)/concat_ws HOF cascade — CodegenFallback,
  // one interpreted lambda + UTF8String allocation per bigram, plus an
  // interpreted DECIMAL `aggregate` fold on the scoring side (profiled
  // ~0.45 ms/doc). One fused loop per document replaces both. Bucket
  // semantics are IDENTICAL to conv(substring(md5(ng),1,h),16,10): the
  // first h hex nibbles of the md5 of the feature's UTF-8 bytes.

  private val Md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val WsSplit = java.util.regex.Pattern.compile("\\s+")

  /** Tokens of `v` under the EXACT builtin semantics of
    * split(trim(text), "\\s+"): UTF8String.trim (0x20-only, what the
    * `trim()` builtin does), then Java regex split with limit -1 (what
    * the `split()` builtin does) — a blank doc yields [""], matching the
    * composed form's one empty token.
    */
  private def splitTrimmed(v: UTF8String): Array[String] =
    WsSplit.split(v.trim().toString, -1)

  private def md5Bucket(md: java.security.MessageDigest, s: String,
      hexDigits: Int): Int = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var b = 0
    var i = 0
    while (i < hexDigits) {
      val nib = if (i % 2 == 0) (d(i / 2) >> 4) & 0xf else d(i / 2) & 0xf
      b = b * 16 + nib
      i += 1
    }
    b
  }

  /** md5-bucket ids of the DSIR feature stream of one document: all
    * whitespace tokens, then all adjacent space-joined bigrams (emitted
    * only when the doc has >= 2 tokens) — the exact feature multiset of
    * the composed form in [[graft.operators.Corpus]] dsirDocBuckets.
    */
  def dsirFeatureBucketsOf(v: UTF8String, hexDigits: Int): GenericArrayData = {
    val toks = splitTrimmed(v)
    val n = toks.length
    val md = Md5Local.get()
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) { out(i) = md5Bucket(md, toks(i), hexDigits); i += 1 }
    if (n >= 2) {
      var j = 0
      while (j < n - 1) {
        out(n + j) = md5Bucket(md, toks(j) + " " + toks(j + 1), hexDigits)
        j += 1
      }
    }
    new GenericArrayData(out)
  }

  case class DsirFeatureBuckets(child: Expression, hexDigits: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      dsirFeatureBucketsOf(v.asInstanceOf[UTF8String], hexDigits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.dsirFeatureBucketsOf($c, $hexDigits)")
    override protected def withNewChildInternal(c: Expression): DsirFeatureBuckets =
      copy(child = c)
  }

  def dsirFeatureBuckets(c: Column, hexDigits: Int): Column =
    graft.functions.ColumnOps.toColumn(DsirFeatureBuckets(_, hexDigits))(c)

  /** DSIR log-weight scoring of one document against a bucket table of
    * DECIMAL(20,9) log-ratios carried as UNSCALED longs (value·10⁹):
    * n_feats and the exact decimal sum of the per-feature table lookups.
    * The long accumulation is the same exact arithmetic as the
    * DECIMAL(30,9) `aggregate` fold it replaces (each addend is an
    * integer multiple of 10⁻⁹; |sum| stays far below 2⁶³), and the
    * double is produced by the same BigDecimal→double conversion the
    * decimal cast performs.
    */
  def dsirScoreOf(v: UTF8String, lwUnscaled: Array[Long],
      hexDigits: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val toks = splitTrimmed(v)
    val n = toks.length
    val md = Md5Local.get()
    var sum = 0L
    var i = 0
    while (i < n) {
      sum += lwUnscaled(md5Bucket(md, toks(i), hexDigits))
      i += 1
    }
    var j = 0
    if (n >= 2) while (j < n - 1) {
      sum += lwUnscaled(md5Bucket(md, toks(j) + " " + toks(j + 1), hexDigits))
      j += 1
    }
    val nFeats = if (n >= 2) 2L * n - 1 else n.toLong
    org.apache.spark.sql.catalyst.InternalRow(nFeats,
      java.math.BigDecimal.valueOf(sum, 9).doubleValue())
  }

  private val DsirScoreType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_feats",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("logw",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  case class DsirScore(child: Expression, lwUnscaled: Array[Long], hexDigits: Int)
      extends UnaryExpression {
    override def dataType: DataType = DsirScoreType
    override def nullSafeEval(v: Any): Any =
      dsirScoreOf(v.asInstanceOf[UTF8String], lwUnscaled, hexDigits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dsirLw", lwUnscaled, "long[]")
      defineCodeGen(ctx, ev,
        c => s"graft.functions.TextFunctions.dsirScoreOf($c, $ref, $hexDigits)")
    }
    override protected def withNewChildInternal(c: Expression): DsirScore =
      copy(child = c)
  }

  def dsirScore(c: Column, lwUnscaled: Array[Long], hexDigits: Int): Column =
    graft.functions.ColumnOps.toColumn(DsirScore(_, lwUnscaled, hexDigits))(c)
}
