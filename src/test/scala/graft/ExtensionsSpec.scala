package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Sampling
import graft.sources.LoadDump

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  /** Replace-trick stopword count, the SQL-portable reference the
    * one-pass `TextFunctions.stopwordCount` is compared against (the
    * oracles mirror this form). */
  private def stopwordCountComposed(c: org.apache.spark.sql.Column, words: Seq[String]) = {
    val padded = concat(lit(" "), lower(c), lit(" "))
    words.map(w => graft.functions.TextFunctions.occurrences(padded, s" $w ")).reduce(_ + _)
  }

  test("GraftFunctions.registerAll: custom expressions callable from SQL") {
    GraftFunctions.registerAll(spark)
    Seq(("aabb", Array(1.0, 0.0), Array(1.0, 0.0))).toDF("t", "a", "b")
      .createOrReplaceTempView("ext_t")
    val r = spark.sql(
      """SELECT shannon_entropy(CAST(t AS BINARY)) AS e,
        |       cosine_similarity(a, b) AS c,
        |       byte_histogram(CAST(t AS BINARY))[97] AS h_a
        |FROM ext_t""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getLong(2) == 2L)
    val agg = spark.sql("SELECT byte_histogram_agg(CAST(t AS BINARY)) FROM ext_t")
      .head().getSeq[Long](0)
    assert(agg.sum == 4L)
    // md5_bits64 == big-endian long of the md5 hex prefix; word_shingles n=2
    val r2 = spark.sql(
      "SELECT md5_bits64('abc') AS m, word_shingles('a b c', 2) AS sh FROM ext_t").head()
    val expected = java.lang.Long.parseUnsignedLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("abc").take(16), 16)
    assert(r2.getLong(0) == expected)
    assert(r2.getSeq[String](1) == Seq("a b", "b c"))
  }

  test("multiOccurrences one-pass counter == replace-trick composed variant") {
    val texts = Seq(
      "the cat and the dog the end",
      "a a a the the",
      "THE UPPER the lower",
      "nothing here")
    val words = graft.functions.TextFunctions.EnStops
    val df = texts.toDF("t")
    val fused = df.select(
      graft.functions.TextFunctions.stopwordCount(col("t"), words)).collect().map(_.getInt(0))
    val composed = df.select(
      stopwordCountComposed(col("t"), words)).collect().map(_.getInt(0))
    assert(fused.toSeq == composed.toSeq)
    assert(fused(0) == 4) // 3x the + 1x and ... "the end": the counts, end no
  }

  test("sampleWeighted: inclusion tracks weight; zero weights excluded") {
    val df = ((1 to 50).map(i => (i, 1.0)) ++ (51 to 100).map(i => (i, 20.0))
      ++ Seq((101, 0.0))).toDF("id", "w")
    val hits = (1 to 20).map { s =>
      Sampling.sampleWeighted(df, 10, "w", seed = s.toLong)
        .collect().map(_.getInt(0))
    }
    val flat = hits.flatten
    assert(flat.forall(_ != 101)) // zero weight never sampled
    val heavy = flat.count(_ > 50).toDouble
    val light = flat.count(_ <= 50).toDouble
    assert(heavy / (heavy + light) > 0.8, s"heavy frac ${heavy / (heavy + light)}")
    assert(hits.forall(_.length == 10))
  }

  test("loadAccreting: schema union-merge with null backfill (SURVEY §1.4)") {
    val tmp = Files.createTempDirectory("graft_accrete").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$tmp/p=1")
    Seq((2L, 3.5)).toDF("k", "w").write.parquet(s"$tmp/p=2")
    val df = LoadDump.loadAccreting(spark, tmp)
    assert(df.columns.toSet == Set("k", "v", "w", "p"))
    assert(df.count() == 2)
    assert(df.filter(col("w").isNull).count() == 1)
  }
}
