package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{avg, col, concat, lit, stddev_pop}
import org.apache.spark.sql.types._
import graft.operators.Stats

class StatsSpec extends SparkSpec {
  import spark.implicits._

  // A2 fixture (FIXTURES.md): 3x4 ints 0..11, row 1 entirely null
  private def a2 = {
    val schema = StructType(Seq("A", "B", "C", "D").map(StructField(_, IntegerType, true)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(0, 1, 2, 3),
        Row(null, null, null, null),
        Row(8, 9, 10, 11)),
      schema)
  }

  test("fillna scalar: non-null untouched, nulls filled (tests/test_utils.py:32-36)") {
    val out = Stats.fillna(a2, Map("A" -> -1, "B" -> -1, "C" -> -1, "D" -> -1))
      .collect().map(r => (0 until 4).map(r.getInt))
    assert(out.exists(_ == Seq(0, 1, 2, 3)))
    assert(out.exists(_ == Seq(-1, -1, -1, -1)))
    assert(out.exists(_ == Seq(8, 9, 10, 11)))
  }

  test("fillna per-column map: unfilled columns stay null (tests/test_utils.py:45-51)") {
    val out = Stats.fillna(a2, Map("D" -> -1)).collect()
    val filled = out.find(r => !r.isNullAt(3) && r.getInt(3) == -1).get
    assert(filled.isNullAt(0) && filled.isNullAt(1) && filled.isNullAt(2))
  }

  test("fillnaCols: container fills (A2 B->list, C->dict analogue)") {
    import org.apache.spark.sql.functions.{col, typedlit}
    val df = Seq(
      (Some(Seq(1, 2)), Some(Map("a" -> 1))),
      (None, None)).toDF("B", "C")
    val out = Stats.fillnaCols(df, Map(
      "B" -> typedlit(Seq.empty[Int]),
      "C" -> typedlit(Map.empty[String, Int])))
    val rows = out.collect()
    assert(rows.forall(!_.isNullAt(0)) && rows.forall(!_.isNullAt(1)))
    assert(rows.exists(_.getSeq[Int](0) == Seq(1, 2)))
    assert(rows.exists(_.getSeq[Int](0).isEmpty))
    assert(rows.exists(r => r.getMap[String, Int](1).isEmpty))
  }

  test("columnStats: n_unique/n_null/top-2 with deterministic tie-break") {
    val df = Seq(Some("x"), Some("x"), Some("y"), Some("z"), None).toDF("c")
    val st = Stats.columnStats(df, Seq("c")).collect().head
    assert(st.getString(0) == "c")
    assert(st.getString(1) == "string")
    assert(st.getLong(2) == 3)   // n_unique (ex-null)
    assert(st.getLong(3) == 1)   // n_null
    assert(st.getString(4) == "x" && st.getLong(5) == 2) // top
    assert(st.getString(6) == "y" && st.getLong(7) == 1) // second: tie y/z -> value asc
  }

  test("weightedAverage: Σxw/Σw (algorithm.py:95-115)") {
    val df = Seq((10.0, 1.0), (20.0, 3.0)).toDF("x", "w")
    val v = Stats.weightedAverageDf(df, "x", "w").collect().head.getDouble(0)
    assert(math.abs(v - 17.5) < 1e-12)
  }

  test("approxProfile: sketch counts within rsd, quartiles ordered") {
    val df = (1 to 10000).map(_.toDouble).toDF("v")
    val row = Stats.approxProfile(df, Seq("v")).head()
    val distinct = row.getLong(0)
    assert(math.abs(distinct - 10000) < 10000 * 0.15, s"approx distinct $distinct")
    val q = row.getSeq[Double](1)
    assert(q.length == 3 && q(0) <= q(1) && q(1) <= q(2))
    assert(math.abs(q(1) - 5000) < 200)
  }

  test("corrDf: perfect correlation = 1") {
    val df = (1 to 50).map(i => (i.toDouble, 2.0 * i + 1)).toDF("x", "y")
    assert(math.abs(Stats.corrDf(df, "x", "y").collect().head.getDouble(0) - 1.0) < 1e-9)
  }

  test("keySkewProfile: uniform keys near zero Gini, hot key drives it up") {
    val uniform = (1 to 1000).map(i => Tuple1((i % 100).toLong)).toDF("k")
    val u = Stats.keySkewProfile(uniform, "k").head()
    assert(u.getLong(0) == 100 && u.getLong(1) == 1000 && u.getLong(2) == 10)
    assert(math.abs(u.getDouble(4)) < 1e-9, s"uniform gini ${u.getDouble(4)}")
    // one key owns half the rows
    val hot = ((1 to 500).map(_ => 1L) ++ (1 to 500).map(i => (i % 100 + 2).toLong))
      .map(Tuple1(_)).toDF("k")
    val h = Stats.keySkewProfile(hot, "k").head()
    assert(h.getDouble(3) == 0.5) // top1_share
    assert(h.getDouble(4) > 0.4, s"hot gini ${h.getDouble(4)}")
  }

  test("percentileBands: exact rank-ceil values per group, tie-stable") {
    // group a: 1..100 -> p50=50, p95=95, p99=99; group b: all-equal ties
    val rows = (1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 10).map(_ => ("b", 7.0))
    val df = rows.toDF("g", "v").repartition(5)
    val out = Stats.percentileBands(df, "g", "v",
        Seq(50 -> 100, 95 -> 100, 99 -> 100))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      ("a", 0.5, 50.0), ("a", 0.95, 95.0), ("a", 0.99, 99.0),
      ("b", 0.5, 7.0), ("b", 0.95, 7.0), ("b", 0.99, 7.0)))
  }

  test("madOutliers: flags what a stddev z-score masks; MAD=0 groups excluded") {
    // g: [1,1,2,2,3,100] -> med=2 (rank 3 of 6), devs sorted
    // [0,0,1,1,1,98] -> mad=1; M(100)=0.6745*98=66.1. The classic
    // z-score is (100-18.17)/40.2 = 2.0 — UNDER a 3.5 cutoff: the
    // spike inflates sigma enough to hide itself. MAD does not.
    val df = Seq(
      ("g", 1L, 1.0), ("g", 2L, 1.0), ("g", 3L, 2.0),
      ("g", 4L, 2.0), ("g", 5L, 3.0), ("g", 6L, 100.0),
      // constant-majority group: mad = 0 -> excluded entirely
      ("z", 7L, 5.0), ("z", 8L, 5.0), ("z", 9L, 5.0), ("z", 10L, 9.0)
    ).toDF("grp", "id", "v")
    val out = Stats.madOutliers(df, "grp", "v", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(5)))
    assert(out.length == 1 && out(0)._1 == "g" && out(0)._2 == 6L)
    assert(math.abs(out(0)._3 - 0.6745 * 98.0) < 1e-9)
    // sanity: the plain z-score of the same point really is masked
    val stats = df.filter(col("grp") === "g")
      .agg(avg(col("v")), stddev_pop(col("v"))).head()
    val z = (100.0 - stats.getDouble(0)) / stats.getDouble(1)
    assert(z < 3.5, s"plain z $z should sit under the cutoff (the mask)")
  }

  test("madOutliers: one grouped pass equals the keyed-window rank pipeline, interpreted and codegen") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{abs, count, row_number}
    // the keyed-window form the grouped pass replaced (and the oracle
    // SQL keeps): median and MAD picked at rank ceil(n/2) by
    // row_number over each group, joined back by group key
    def windowMad(df: DataFrame, cutoff: Double): DataFrame = {
      def pick(f: DataFrame, v: String, as: String) = f
        .withColumn("_rn", row_number().over(Window.partitionBy("grp").orderBy(col(v))))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy("grp")))
        .filter(col("_rn") * 2 >= col("_n") && (col("_rn") - 1) * 2 < col("_n"))
        .select(col("grp"), col(v).as(as))
      val base = df.select(col("grp"), col("id"), col("v").cast("double"))
      val dev = base.join(pick(base, "v", "_med"), Seq("grp"))
        .withColumn("_dev", abs(col("v") - col("_med")))
      dev.join(pick(dev, "_dev", "_mad"), Seq("grp"))
        .filter(col("_mad") > 0.0)
        .withColumn("mz", (lit(0.6745) * (col("v") - col("_med"))) / col("_mad"))
        .filter(abs(col("mz")) > cutoff)
        .select(col("grp"), col("id"), col("v"), col("_med").as("med"),
          col("_mad").as("mad"), col("mz"))
    }
    val rnd = new scala.util.Random(20261018L)
    def vals(n: Int): Seq[Option[Double]] = Seq.fill(n) {
      // half-unit grid -> many ties; ~6% spikes in both directions
      if (rnd.nextInt(16) == 0) Some((if (rnd.nextBoolean()) 1 else -1) * (40.0 + rnd.nextInt(60)))
      else Some((rnd.nextInt(41) - 20) / 2.0)
    }
    val groups = Seq(
      "odd" -> (vals(50) :+ None), // 51 rows, one null value
      "even" -> vals(64),
      "quad" -> Seq(Some(-3.0), Some(1.0), Some(4.0), Some(40.0)),
      "single" -> Seq(Some(9.0)),
      "flat" -> (Seq.fill(7)(Some(2.5)) ++ Seq(Some(-8.0), Some(30.0))), // MAD = 0
      // a null key never joins back, so its spike is never flagged
      (null: String) -> Seq(Some(0.0), Some(1.0), Some(1.0), Some(2.0), Some(90.0)))
    var id = 0L
    val rows = for ((g, vs) <- groups; v <- vs) yield { id += 1; (g, id, v) }
    val df = rnd.shuffle(rows).toDF("grp", "id", "v").repartition(3)
    def run(f: DataFrame => DataFrame) =
      f(df).collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(_._2).toSeq
    for (cutoff <- Seq(3.5, 1.0)) {
      val ref = run(windowMad(_, cutoff))
      assert(ref.map(_._1).toSet == Set("odd", "even", "quad"), ref)
      val codegen = run(Stats.madOutliers(_, "grp", "v", "id", cutoff))
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(
        run(Stats.madOutliers(_, "grp", "v", "id", cutoff)))
      // exact equality of the doubles, not a tolerance
      assert(codegen == ref, s"cutoff $cutoff")
      assert(interpreted == ref, s"cutoff $cutoff (NO_CODEGEN)")
    }
  }

  test("contingencyAnalysis: perfect dependence, independence, degenerate NMI") {
    // perfect 2x2 dependence (a == b): MI = ln 2, chi2 = n, V = 1
    val dep = (0 until 40).map(i => (if (i % 2 == 0) "x" else "y",
      if (i % 2 == 0) "x" else "y")).toDF("a", "b")
    val d = Stats.contingencyAnalysis(dep, "a", "b").head()
    assert(d.getLong(0) == 40L && d.getLong(1) == 1L)
    assert(math.abs(d.getDouble(2) - math.log(2.0)) < 1e-6, "MI = ln 2")
    assert(math.abs(d.getDouble(3) - 1.0) < 1e-6, "NMI = 1")
    assert(math.abs(d.getDouble(4) - 40.0) < 1e-6, "chi2 = n")
    assert(math.abs(d.getDouble(5) - 1.0) < 1e-6, "V = 1")
    // exact independence (balanced product): everything 0
    val ind = (for (i <- 0 until 10; j <- 0 until 4)
      yield (s"a${i % 2}", s"b${j % 2}")).toDF("a", "b")
    val e = Stats.contingencyAnalysis(ind, "a", "b").head()
    assert(math.abs(e.getDouble(2)) < 1e-9 && math.abs(e.getDouble(4)) < 1e-9
      && math.abs(e.getDouble(5)) < 1e-9)
    // single-category column: H = 0 -> NMI and V null, dof 0
    val deg = Seq(("only", "p"), ("only", "q"), ("only", "p")).toDF("a", "b")
    val g = Stats.contingencyAnalysis(deg, "a", "b").head()
    assert(g.getLong(1) == 0L && g.isNullAt(3) && g.isNullAt(5))
  }

  test("contingencyAnalysis: a row with a null key counts in no cell and no total") {
    // exact independence (chi2 = 0) plus null-key rows: the result is
    // the null-free table's, bit for bit — a null-key row counted in n
    // but not in the cell terms would push chi2 below 0 and V to NaN
    val ind = for (i <- 0 until 10; j <- 0 until 4) yield (s"a${i % 2}", s"b${j % 2}")
    val nulls: Seq[(String, String)] = Seq(("a0", null), (null, "b1"), (null, null))
    val clean = Stats.contingencyAnalysis(ind.toDF("a", "b"), "a", "b").head()
    val got = Stats.contingencyAnalysis((ind ++ nulls).toDF("a", "b"), "a", "b").head()
    assert(got == clean)
    assert(got.getLong(0) == 40L && got.getDouble(4) >= 0.0 && !got.getDouble(5).isNaN)
  }

  test("contingencyAnalysis and kruskalWallis: codegen and interpreted evaluation agree row for row") {
    import org.apache.spark.sql.DataFrame
    // skewed categories, a rare one in each key column, and tied values
    val df = (0 until 300).map { i =>
      (if (i % 17 == 0) "t" else Seq("p", "q", "r", "s")(i * i % 7 % 4),
        if (i % 23 == 0) "w" else Seq("x", "y", "z")(i % 5 % 3),
        Seq("A", "B", "C", "D")(i % 4), (i * 13 % 29 + i % 4 * 3).toDouble)
    }.toDF("a", "b", "g", "v")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "contingencyAnalysis" -> (() => Stats.contingencyAnalysis(df, "a", "b")),
      "contingencyAnalysis(g)" -> (() => Stats.contingencyAnalysis(df, "g", "b")),
      "kruskalWallis" -> (() => Stats.kruskalWallis(df, "g", "v")))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    runs.foreach { case (name, run) =>
      val codegen = rows(run())
      val interpreted = withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(rows(run()))
      assert(codegen.nonEmpty, name)
      // exact equality of the doubles, not a tolerance
      assert(interpreted == codegen, name)
    }
  }

  test("percentileBandsCont: SQL-standard interpolation at q*(n-1)") {
    val df = Seq(("a", 0.0), ("a", 10.0), ("a", 20.0), ("a", 30.0), ("a", 40.0),
      ("b", 7.0)).toDF("grp", "v")
    val out = Stats.percentileBandsCont(df, "grp", "v",
        Seq(1 -> 10, 1 -> 4, 1 -> 2, 1 -> 1))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq == Seq(
      // n=5: p = q*4 -> 0.4, 1.0, 2.0, 4.0
      ("a", 0.1, 4.0), ("a", 0.25, 10.0), ("a", 0.5, 20.0), ("a", 1.0, 40.0),
      // singleton group: every quantile is the value
      ("b", 0.1, 7.0), ("b", 0.25, 7.0), ("b", 0.5, 7.0), ("b", 1.0, 7.0)))
  }

  test("abTestProportions: an empty arm or a degenerate pooled rate gives nulls, not a division error") {
    // one unit: exactly one arm is populated
    val one = Stats.abTestProportions(Seq(1L).toDF("id"), "id", lit(true)).head()
    assert(one.getLong(0) + one.getLong(1) == 1L)
    val rates = Seq(one.get(4), one.get(5))
    assert(rates.count(_ == null) == 1 && rates.contains(1.0), rates)
    assert(one.isNullAt(6))
    // both arms populated, every unit converts: p̂ = 1, so se = 0
    val all = Stats.abTestProportions((1L to 20L).toDF("id"), "id", lit(true)).head()
    assert(all.getLong(0) > 0L && all.getLong(1) > 0L)
    assert(all.getDouble(4) == 1.0 && all.getDouble(5) == 1.0 && all.isNullAt(6))
  }

  test("abTestProportions: counts partition exactly; arm-aligned effect maxes z") {
    import graft.functions.TextFunctions
    val df = (1L to 1000L).toDF("id")
    // null effect: conversion independent of arm (id % 3 == 0)
    val aa = Stats.abTestProportions(df, "id", col("id") % 3 === 0).head()
    assert(aa.getLong(0) + aa.getLong(1) == 1000L)
    assert(aa.getLong(2) + aa.getLong(3) == 333L)
    assert(math.abs(aa.getDouble(6)) < 3.0, s"A/A z should be small: ${aa.getDouble(6)}")
    // perfectly arm-aligned conversion: p_a = 1, p_b = 0, huge z
    val armCond = TextFunctions.md5Bits64(
      concat(lit("ab:"), col("id").cast("string"))).bitwiseAND(lit(1L)) === 0L
    val ab = Stats.abTestProportions(df, "id", armCond).head()
    assert(ab.getDouble(4) == 1.0 && ab.getDouble(5) == 0.0)
    assert(ab.getDouble(6) > 10.0)
    // z recomputed from the emitted exact counts matches
    val (na, nb, xa, xb) = (aa.getLong(0), aa.getLong(1), aa.getLong(2), aa.getLong(3))
    val (pa, pb) = (xa.toDouble / na, xb.toDouble / nb)
    val pp = (xa + xb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    assert(math.abs(aa.getDouble(6) - z) < 1e-6)
  }

  test("olsSimple: exact fit recovered, r2 = 1 on a noiseless line") {
    val df = (0L to 100L).map(x => (x, 3 * x + 7)).toDF("x", "y")
    val r = Stats.olsSimple(df, col("x"), col("y")).head()
    assert(r.getLong(0) == 101L)
    assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 7.0 && r.getDouble(3) == 1.0)
    // flat y: slope 0, intercept = the constant, r2 undefined (null)
    val flat = (0L to 50L).map(x => (x, 42L)).toDF("x", "y")
    val f = Stats.olsSimple(flat, col("x"), col("y")).head()
    assert(f.getDouble(1) == 0.0 && f.getDouble(2) == 42.0 && f.isNullAt(3))
    // constant x: no fit at all
    val cx = (0L to 50L).map(y => (5L, y)).toDF("x", "y")
    val g = Stats.olsSimple(cx, col("x"), col("y")).head()
    assert(g.isNullAt(1) && g.isNullAt(2) && g.isNullAt(3))
  }

  test("mannWhitney: hand-computed U and tie-corrected z") {
    // A=[1,1], B=[1,2]: U_a = #(a>b) + 0.5*#(a=b) = 1;
    // T = 3^3-3 = 24, var = (4/12)*(5 - 24/12) = 1, z = (1-2)/1 = -1
    val df = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0), ("B", 2.0))
      .toDF("g", "v")
    val r = Stats.mannWhitney(df, "g", "v", "A", "B").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0, s"U_a ${r.getDouble(2)}")
    assert(r.getDouble(3) == -1.0, s"z ${r.getDouble(3)}")
    // complete separation: A all below B -> U_a = 0, z < 0
    val sep = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)).toDF("g", "v")
    val s = Stats.mannWhitney(sep, "g", "v", "A", "B").head()
    assert(s.getDouble(2) == 0.0)
    assert(math.abs(s.getDouble(3) - (-2.0 / math.sqrt(4.0 / 12 * 5))) < 1e-6)
  }

  test("benfordAudit: exact integer digit extraction; powers of two track Benford") {
    // hand-checkable digits: 1, 19.99, 900.5, 0.07 -> 1, 1, 9, 7
    val known = Seq(1.0, 19.99, 900.5, 0.07, -5.0, 0.0).toDF("v")
    val got = Stats.benfordAudit(known, "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 2L, 9 -> 1L, 7 -> 1L), "negatives and zero dropped")
    // 2^0..2^40 as amounts: leading digits follow Benford closely
    val pows = (0 to 40).map(k => math.pow(2.0, k)).toDF("v")
    val out = Stats.benfordAudit(pows, "v")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._2).sum == 41L)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-5)
    out.foreach { case (d, _, obs, exp, chi) =>
      assert(d >= 1 && d <= 9 && chi >= 0.0)
      assert(math.abs(exp - math.log10(1.0 + 1.0 / d)) < 1e-6)
      assert(math.abs(obs - exp) < 0.06, s"digit $d off Benford: $obs vs $exp")
    }
  }

  test("spearman: monotone = 1, inverse = -1, hand-tied case, constant margin null") {
    val mono = (1L to 50L).map(x => (x, x * x)).toDF("x", "y")
    val r = Stats.spearman(mono, col("x"), col("y")).head()
    assert(r.getLong(0) == 50L && r.getDouble(1) == 1.0)
    val inv = (1L to 50L).map(x => (x, 100L - x)).toDF("x", "y")
    assert(Stats.spearman(inv, col("x"), col("y")).head().getDouble(1) == -1.0)
    // ranks x=[1.5,1.5,3], y=[1,2.5,2.5] -> rho = 0.75/1.5 = 0.5
    val tied = Seq((1L, 1L), (1L, 2L), (2L, 2L)).toDF("x", "y")
    assert(Stats.spearman(tied, col("x"), col("y")).head().getDouble(1) == 0.5)
    val cx = (1L to 10L).map(y => (7L, y)).toDF("x", "y")
    assert(Stats.spearman(cx, col("x"), col("y")).head().isNullAt(1))
  }

  test("ksTest: complete separation D=1, identical samples D=0") {
    val sep = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)).toDF("g", "v")
    val r = Stats.ksTest(sep, "g", "v", "A", "B").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 4L && r.getDouble(3) == 1.0)
    // d_crit = 1.358*sqrt(4/4) = 1.358 > 1 -> not rejected at n=2
    assert(math.abs(r.getDouble(4) - 1.358) < 1e-6 && !r.getBoolean(5))
    val same = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 2.0)).toDF("g", "v")
    val s = Stats.ksTest(same, "g", "v", "A", "B").head()
    assert(s.getLong(2) == 0L && s.getDouble(3) == 0.0 && !s.getBoolean(5))
  }

  test("gini: equal amounts 0, one-holder (n-1)/n, zero total null") {
    val eq = Seq(5L, 5L, 5L, 5L).toDF("v")
    assert(Stats.gini(eq, col("v")).head().getDouble(2) == 0.0)
    val one = Seq(0L, 0L, 0L, 10L).toDF("v")
    val r = Stats.gini(one, col("v")).head()
    assert(r.getLong(0) == 4L && r.getLong(1) == 10L && r.getDouble(2) == 0.75)
    val z = Seq(0L, 0L).toDF("v")
    assert(Stats.gini(z, col("v")).head().isNullAt(2))
  }

  test("aucRank: perfect=1, reversed=0, all-tied=0.5, empty class null") {
    val perfect = Seq((0.9, true), (0.8, true), (0.2, false), (0.1, false))
      .toDF("sc", "lab")
    val p = Stats.aucRank(perfect, col("sc"), col("lab")).head()
    assert(p.getLong(0) == 2L && p.getLong(1) == 2L && p.getDouble(2) == 1.0)
    val reversed = Seq((0.1, true), (0.9, false)).toDF("sc", "lab")
    assert(Stats.aucRank(reversed, col("sc"), col("lab")).head().getDouble(2) == 0.0)
    val tied = Seq((0.5, true), (0.5, false), (0.5, true)).toDF("sc", "lab")
    assert(Stats.aucRank(tied, col("sc"), col("lab")).head().getDouble(2) == 0.5)
    val onecls = Seq((0.5, true), (0.6, true)).toDF("sc", "lab")
    assert(Stats.aucRank(onecls, col("sc"), col("lab")).head().isNullAt(2))
  }

  test("binaryClassMetrics: hand counts and single-division metrics") {
    // y:T l:T x2 | y:T l:F x1 | y:F l:T x1 | y:F l:F x2
    val df = Seq((true, true), (true, true), (true, false),
      (false, true), (false, false), (false, false)).toDF("y", "l")
    val r = Stats.binaryClassMetrics(df, col("y"), col("l")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 1L, 1L, 2L)))
    assert(r.getDouble(4) == 0.666667 && r.getDouble(5) == 0.666667)
    assert(r.getDouble(6) == 0.666667 && r.getDouble(7) == 0.666667)
    // nothing predicted positive: precision undefined, recall 0
    val nopos = Seq((false, true), (false, false)).toDF("y", "l")
    val n = Stats.binaryClassMetrics(nopos, col("y"), col("l")).head()
    assert(n.isNullAt(4) && n.getDouble(5) == 0.0)
  }

  test("theilSen: exact slope on a line; one outlier cannot move the median") {
    val line = Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L), (5L, 10L)).toDF("x", "y")
    val r = Stats.theilSen(line, "x", "y").head()
    assert(r.getLong(0) == 10L && r.getDouble(1) == 2.0)
    // y(3) corrupted to 100: 8 of 10 pair slopes still 2 -> median 2
    val outlier = Seq((1L, 2L), (2L, 4L), (3L, 100L), (4L, 8L), (5L, 10L)).toDF("x", "y")
    assert(Stats.theilSen(outlier, "x", "y").head().getDouble(1) == 2.0)
  }

  test("quantileRegressionGrid: exact fit lands on the grid; tau 0.9 rides above an asymmetric cloud") {
    // y = 2x + 3 on x=0..10: ymin=3, yspan=20, xspan=10 put a=3 (j=0)
    // and b=2 (k=20) EXACTLY on the derived grid -> loss 0 at every tau
    val line = (0L to 10L).map(x => (x, 2 * x + 3)).toDF("x", "y")
    val fit = Stats.quantileRegressionGrid(line, "x", "y").collect()
    assert(fit.length == 2)
    fit.foreach { r =>
      assert(r.getDouble(1) == 3.0 && r.getDouble(2) == 2.0 &&
        r.getDouble(3) == 0.0, r.toString)
    }
    // flat series with upward spikes: the 0.9 line must sit at or above
    // the 0.5 line (pinball tilts the fit toward the upper envelope)
    val spiky = (0L to 19L).map(x => (x, if (x % 5 == 4) 30L else 10L)).toDF("x", "y")
    val rs = Stats.quantileRegressionGrid(spiky, "x", "y").collect()
      .map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val mid = rs(0.5); val hi = rs(0.9)
    val at = (ab: (Double, Double), x: Double) => ab._1 + ab._2 * x
    assert(at(hi, 10.0) >= at(mid, 10.0), s"mid=$mid hi=$hi")
    intercept[IllegalArgumentException] {
      Stats.quantileRegressionGrid(Seq((1L, 1L)).toDF("x", "y"), "x", "y")
    }
  }

  test("cuped: hand moments; adjustment strips the covariate share of the diff") {
    // arm0: y = 10x, arm1: y = 10x + 5 with x interleaved across arms:
    // pooled theta = 1095/105, raw diff 15, cuped diff 15 - theta*1
    val units = Seq((1L, 10L, 0L), (3L, 30L, 0L), (5L, 50L, 0L),
      (2L, 25L, 1L), (4L, 45L, 1L), (6L, 65L, 1L)).toDF("x", "y", "arm")
    val r = Stats.cuped(units, "x", "y", "arm").head()
    val theta = 1095.0 / 105.0
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 15.0)
    assert(r.getDouble(3) == math.round(theta * 1e6) / 1e6)
    assert(r.getDouble(4) == math.round((15.0 - theta) * 1e6) / 1e6)
    // rho2 = covN^2/(varXN*varYN) = 1095^2/(105*11625)
    assert(r.getDouble(5) ==
      math.round(1095.0 * 1095.0 / (105.0 * 11625.0) * 1e6) / 1e6)
    // constant covariate -> theta undefined, raw diff still reported
    val flat = Seq((2L, 10L, 0L), (2L, 30L, 1L)).toDF("x", "y", "arm")
    val f = Stats.cuped(flat, "x", "y", "arm").head()
    assert(f.getDouble(2) == 20.0 && f.isNullAt(3) && f.isNullAt(4))
  }

  test("anovaF: hand case F=13.5; zero within-variance null") {
    // A=[1,2,3], B=[4,5,6]: SSB=13.5, SSW=4, F=(13.5/1)/(4/4)=13.5
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L),
      ("B", 4L), ("B", 5L), ("B", 6L)).toDF("g", "v")
    val r = Stats.anovaF(df, "g", col("v")).head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 6L)
    assert(r.getDouble(2) == 13.5 && r.getDouble(3) == 4.0)
    assert(r.getDouble(4) == 13.5, s"F ${r.getDouble(4)}")
    // constant within groups: SSW = 0 -> F undefined
    val const = Seq(("A", 1L), ("A", 1L), ("B", 5L), ("B", 5L)).toDF("g", "v")
    val c = Stats.anovaF(const, "g", col("v")).head()
    assert(c.getDouble(3) == 0.0 && c.isNullAt(4))
    // one group: k=1 -> F undefined
    assert(Stats.anovaF(df.filter(col("g") === "A"), "g", col("v"))
      .head().isNullAt(4))
  }

  test("kruskalWallis: hand case H=2.4, one group H=0, all-tied null") {
    // A=[1,2], B=[3,4]: R_A=3, R_B=7, H = 12/20*(9/2+49/2) - 15 = 2.4
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)).toDF("g", "v")
    val r = Stats.kruskalWallis(df, "g", "v").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(2) - 2.4) < 1e-9, s"H ${r.getDouble(2)}")
    // a single group carries no between-group signal: H = 0 exactly
    val single = (1L to 20L).map(v => ("A", v.toDouble)).toDF("g", "v")
    assert(Stats.kruskalWallis(single, "g", "v").head().getDouble(2) == 0.0)
    // every value tied: tie factor 0 -> H undefined (null)
    val tied = Seq(("A", 1.0), ("A", 1.0), ("B", 1.0)).toDF("g", "v")
    assert(Stats.kruskalWallis(tied, "g", "v").head().isNullAt(2))
  }

  test("cohenKappa: perfect agreement 1, independence ~0, constant raters null") {
    import org.apache.spark.sql.functions.col
    val perfect = Seq((true, true), (false, false), (true, true), (false, false))
      .toDF("a", "b")
    val rp = Stats.cohenKappa(perfect, col("a"), col("b")).head()
    assert(rp.getDouble(7) == 1.0 && rp.getDouble(5) == 1.0)
    // statistically independent raters: po == pe -> kappa 0
    val indep = Seq((true, true), (true, false), (false, true), (false, false))
      .toDF("a", "b")
    val ri = Stats.cohenKappa(indep, col("a"), col("b")).head()
    assert(ri.getDouble(7) == 0.0)
    // both raters constant-true: pe = 1, kappa undefined (null), po = 1
    val const = Seq((true, true), (true, true)).toDF("a", "b")
    val rc = Stats.cohenKappa(const, col("a"), col("b")).head()
    assert(rc.isNullAt(7) && rc.getDouble(5) == 1.0)
    // hand case: n11=2 n10=1 n01=1 n00=4 -> po=.75 pe=(3*3+5*5)/64=.53125
    val hand = Seq((true, true), (true, true), (true, false), (false, true),
      (false, false), (false, false), (false, false), (false, false)).toDF("a", "b")
    val rh = Stats.cohenKappa(hand, col("a"), col("b")).head()
    assert(math.abs(rh.getDouble(7) - (0.75 - 0.53125) / (1 - 0.53125)) < 1e-6)
  }

  test("chi2Divergence: groups matching the marginal score 0, a skewed group scores its hand value") {
    // two groups with IDENTICAL category mixes: each matches the
    // marginal exactly -> chi2 = 0 for both
    val even = (Seq.fill(2)(("g1", "a")) ++ Seq.fill(2)(("g1", "b")) ++
      Seq.fill(4)(("g2", "a")) ++ Seq.fill(4)(("g2", "b"))).toDF("g", "c")
    val e = Stats.chi2Divergence(even, "g", "c")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(e == Map("g1" -> 0.0, "g2" -> 0.0))
    // g1 all-a vs g2 all-b (4 rows each): marginal is 50/50, so each
    // group's chi2 = sum o^2*N/(ng*tc) - ng = 16*8/(4*4) - 4 = 4
    val skew = (Seq.fill(4)(("g1", "a")) ++ Seq.fill(4)(("g2", "b"))).toDF("g", "c")
    val s = Stats.chi2Divergence(skew, "g", "c")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(s.toSet == Set(("g1", 4L, 4.0), ("g2", 4L, 4.0)))
  }

  test("winsorizedMean: p5/p95 clamp, outlier magnitude cannot move the mean") {
    import org.apache.spark.sql.functions.col
    // 1..20: p5 pick = rank 1 (v=1), p95 pick = rank 19 (v=19); 20 -> 19
    val df = (1L to 20L).map(v => ("g", v)).toDF("g", "v")
    val r = Stats.winsorizedMean(df, "g", col("v")).head()
    assert(r.getLong(1) == 20L && r.getLong(2) == 1L && r.getLong(3) == 19L)
    assert(r.getDouble(4) == 209.0 / 20)
    // a million-scale outlier lands on the same clamp
    val out = ((1L to 19L) :+ 1000000L).map(v => ("g", v)).toDF("g", "v")
    assert(Stats.winsorizedMean(out, "g", col("v")).head().getDouble(4)
      == 209.0 / 20)
    // per-group independence
    val two = ((1L to 20L).map(v => ("a", v)) ++ Seq(("b", 7L), ("b", 7L)))
      .toDF("g", "v")
    val m = Stats.winsorizedMean(two, "g", col("v"))
      .collect().map(r2 => r2.getString(0) -> r2.getDouble(4)).toMap
    assert(m("b") == 7.0)
  }

  test("simpsonDiversity: single category 0, even pair 2/3, singleton group null") {
    val df = (Seq.fill(2)(("s1", "a")) ++ Seq.fill(2)(("s1", "b")) ++
      Seq.fill(3)(("s2", "a")) ++ Seq(("s3", "z"))).toDF("g", "c")
    val out = Stats.simpsonDiversity(df, "g", "c").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // s1: 1 - (2+2)/12 = 0.666667 (round 6); s2 single cat: 0
    assert(out("s1") == ((4L, 2L, Some(0.666667))))
    assert(out("s2") == ((3L, 1L, Some(0.0))))
    assert(out("s3") == ((1L, 1L, None)))
  }

  test("targetEncode: shrinkage toward global mean, m=0 is the raw mean, small categories shrink harder") {
    import org.apache.spark.sql.functions.col
    // cat A: 4 rows mean 100; cat B: 1 row mean 0; global mean 80
    val df = (Seq.fill(4)(("A", 100L)) :+ ("B", 0L)).toDF("c", "y")
    val raw = Stats.targetEncode(df, "c", col("y"), m = 0.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(raw == Map("A" -> 100.0, "B" -> 0.0))
    val enc = Stats.targetEncode(df, "c", col("y"), m = 1.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    // A: (400 + 80)/5 = 96; B: (0 + 80)/2 = 40
    assert(enc("A") == 96.0 && enc("B") == 40.0)
    // shrinkage is monotone in m and bounded by the global mean
    val enc10 = Stats.targetEncode(df, "c", col("y"), m = 10.0)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(enc10("A") < enc("A") && enc10("A") > 80.0)
    assert(enc10("B") > enc("B") && enc10("B") < 80.0)
  }

  test("psi: exact bin counts/ratios, empty-bin term finite via epsilon, shifted bin positive") {
    import org.apache.spark.sql.functions.col
    // ref: 5(b0), 15(b1), 25, 25(b2); cur: 5, 5(b0), 25(b2) — bin1 empty in cur
    val df = Seq((5.0, true), (15.0, true), (25.0, true), (25.0, true),
      (5.0, false), (5.0, false), (25.0, false)).toDF("v", "r")
    val out = Stats.psi(df, col("v"), col("r"), Seq(10.0, 20.0)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L)._1 == 1L && out(0L)._2 == 2L)
    assert(out(0L)._3 == 0.25 && out(1L)._3 == 0.25 && out(2L)._3 == 0.5)
    assert(out(0L)._4 == 0.666667 && out(1L)._4 == 0.0)
    // growth in bin0 and disappearance of bin1 both show positive drift
    assert(out(0L)._5 > 0.0 && out(1L)._5 > 0.0 && !out(1L)._5.isInfinite)
  }

  test("liftGain: ntile split, cumulative gain/lift, final bucket lift 1") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 0.9, true), (2L, 0.8, true), (3L, 0.2, false),
      (4L, 0.1, true)).toDF("id", "p", "y")
    val out = Stats.liftGain(df, col("p"), col("y"), buckets = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(1L) == ((2L, 2L, 2L, 2L, 0.666667, 1.333333)))
    assert(out(2L) == ((2L, 1L, 4L, 3L, 1.0, 1.0)))
  }

  test("liftGain: maxCells guard fails fast on an unbounded score grid") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, 0.9, true), (2L, 0.8, true), (3L, 0.2, false),
      (4L, 0.1, true)).toDF("id", "p", "y")
    // 4 distinct (score, label) cells > maxCells=2 -> the plan raises
    // instead of funneling a row-sized cell list through one window task
    val e = intercept[Exception] {
      Stats.liftGain(df, col("p"), col("y"), buckets = 2, maxCells = 2L)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxCells")), msgs(e).mkString(" | "))
    // and the guard is invisible when the contract holds
    val ok = Stats.liftGain(df, col("p"), col("y"), buckets = 2, maxCells = 4L)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(ok(1L) == 0.666667 && ok(2L) == 1.0)
  }

  test("welchUplift: hand Welch z per segment, degenerate arm null") {
    import org.apache.spark.sql.functions.col
    // seg X: arm0 {1,3} (m=2, s2=2), arm1 {5,9} (m=7, s2=8):
    // uplift 5, se2 = 1 + 4 = 5, z = sqrt(5)
    val df = Seq(("X", 0L, 1.0), ("X", 0L, 3.0), ("X", 1L, 5.0),
      ("X", 1L, 9.0), ("Y", 0L, 2.0), ("Y", 0L, 4.0), ("Y", 1L, 6.0))
      .toDF("seg", "b", "v")
    val out = Stats.welchUplift(df, "seg", col("b"), col("v"))
      .collect().map(r => r.getString(0) -> r).toMap
    val x = out("X")
    assert((x.getLong(1), x.getLong(2)) == ((2L, 2L)))
    assert((x.getDouble(3), x.getDouble(4), x.getDouble(5)) == ((2.0, 7.0, 5.0)))
    assert(x.getDouble(6) == math.rint(5.0 / math.sqrt(5.0) * 1e6) / 1e6)
    // Y: single-row arm b=1 -> z null, means still exact
    val y = out("Y")
    assert(y.getDouble(3) == 3.0 && y.getDouble(4) == 6.0 && y.isNullAt(6))
  }

  test("poissonBootstrapCI: constant series collapses to a point CI, ranks are integer-exact, deterministic") {
    import org.apache.spark.sql.functions.col
    // constant value: every replicate mean is exactly the constant
    val const = (1 to 30).map(d => ("a", s"k$d", 7L)).toDF("g", "k", "x")
    val c = Stats.poissonBootstrapCI(const, "g", "k", col("x"), reps = 40)
      .collect().head
    assert(c.getLong(1) == 30L)             // n_rows
    assert(c.getDouble(3) == 7.0)           // mean_obs
    assert(c.getDouble(4) == 7.0 && c.getDouble(5) == 7.0) // point CI
    // varying series: CI brackets the observed mean, lo <= hi,
    // identical on re-run (no RNG state)
    val varied = (1 to 30).map(d => ("b", s"k$d", (d % 7 + 1).toLong))
      .toDF("g", "k", "x")
    val r1 = Stats.poissonBootstrapCI(varied, "g", "k", col("x"), reps = 40)
      .collect().head
    assert(r1.getDouble(4) <= r1.getDouble(3) &&
      r1.getDouble(3) <= r1.getDouble(5))
    val r2 = Stats.poissonBootstrapCI(varied.repartition(5), "g", "k",
      col("x"), reps = 40).collect().head
    assert(r1.toSeq == r2.toSeq)
  }

  test("liftGain: a tie cell straddling a bucket boundary splits by NTILE geometry, label-first") {
    import org.apache.spark.sql.functions.col
    // 5 rows, one score: order is label DESC -> 2 pos then 3 neg;
    // buckets=2 -> sizes 3,2 (remainder to the first bucket)
    val df = Seq((1L, true), (2L, true), (3L, false), (4L, false),
      (5L, false)).map { case (i, y) => (i, 0.5, y) }.toDF("id", "p", "y")
    val out = Stats.liftGain(df, col("p"), col("y"), buckets = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(out(1L) == ((3L, 2L, 3L, 2L, 1.0, 1.666667)))
    assert(out(2L) == ((2L, 0L, 5L, 2L, 1.0, 1.0)))
  }

  test("fisherExactGreater: hand-computed hypergeometric tail, odds ratio") {
    // arm0: 3 of 5 hit; arm1: 1 of 5. P[X>=3], X~Hypergeom(10,5,4)
    // = (C(5,3)C(5,1) + C(5,4)C(5,0)) / C(10,4) = 55/210
    val df = (Seq.fill(3)((0L, true)) ++ Seq.fill(2)((0L, false)) ++
      Seq.fill(1)((1L, true)) ++ Seq.fill(4)((1L, false)))
      .toDF("arm", "out")
    val r = Stats.fisherExactGreater(df, col("arm"), col("out")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((3L, 5L, 5L, 4L, 10L)))
    assert(r.getDouble(6) == math.rint(55.0 / 210.0 * 1e6) / 1e6 ||
      math.abs(r.getDouble(6) - 55.0 / 210.0) < 1e-6)
    // OR = (a*d)/(b*c) = (3*4)/(2*1) = 6
    assert(r.getDouble(5) == 6.0)
    // certain event: a at the support minimum -> p = 1
    val all = (Seq.fill(5)((0L, true)) ++ Seq.fill(5)((1L, true)))
      .toDF("arm", "out")
    assert(Stats.fisherExactGreater(all, col("arm"), col("out"))
      .head().getDouble(6) == 1.0)
  }

  test("tCloseness: hand EMD on two 3-level groups; topK cut") {
    val df = Seq(("g1", 1), ("g1", 1), ("g1", 2),
      ("g2", 2), ("g2", 2), ("g2", 3)).toDF("qi", "lvl")
    val out = Stats.tCloseness(df, Seq("qi"), "lvl", topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // global q = (2/6, 3/6, 1/6); g1 p = (2/3, 1/3, 0):
    // prefixes 1/3, 1/6, 0 -> EMD = (1/3 + 1/6)/2 = 0.25 (g2 symmetric)
    assert(out("g1") == ((3L, 0.25)) && out("g2") == ((3L, 0.25)))
    val top1 = Stats.tCloseness(df, Seq("qi"), "lvl", topK = 1).collect()
    assert(top1.length == 1 && top1.head.getString(0) == "g1") // tie -> qi asc
  }

  test("bhFdrWelch: BH q equals the suffix-min rule over the returned battery") {
    val rnd = new scala.util.Random(7)
    val df = (1 to 3).flatMap { g =>
      val shift = if (g == 1) 10.0 else 0.0
      (1 to 200).map(i => (s"g$g", shift + (i % 17) + rnd.nextGaussian()))
    }.toDF("grp", "v")
    val rows = Stats.bhFdrWelch(df, "grp", col("v")).orderBy("rank").collect()
    assert(rows.length == 3)
    val m = rows.length
    val ps = rows.map(_.getDouble(4))
    assert(ps.sorted.sameElements(ps)) // rank order = ascending p
    rows.zipWithIndex.foreach { case (r, i0) =>
      val i = i0 + 1
      val expQ = math.min(1.0, (i to m).map(j => ps(j - 1) * m / j).min)
      assert(math.abs(r.getDouble(6) - expQ) < 1e-6)
      assert(r.getBoolean(7) == (r.getDouble(6) <= 0.05))
    }
    // the shifted group must be the most significant
    assert(rows.head.getString(0) == "g1" && rows.head.getBoolean(7))
  }

  test("isotonicCalibration: violating adjacent bins pool to their weighted mean; monotone input unchanged") {
    // bin0 rate 0.8 over 5, bin1 rate 0.2 over 5 -> pooled 0.5/0.5
    val viol = (Seq.fill(4)((0.05, 1L)) ++ Seq.fill(1)((0.05, 0L)) ++
      Seq.fill(1)((0.15, 1L)) ++ Seq.fill(4)((0.15, 0L))).toDF("p", "y")
    val out = Stats.isotonicCalibration(viol, col("p"), col("y"), bins = 10)
      .orderBy("bin").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(out.map(_.getDouble(3)).toSeq == Seq(0.8, 0.2)) // raw rates
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.5, 0.5)) // pooled
    // already-monotone input is a fixed point
    val mono = (Seq.fill(1)((0.05, 1L)) ++ Seq.fill(4)((0.05, 0L)) ++
      Seq.fill(4)((0.15, 1L)) ++ Seq.fill(1)((0.15, 0L))).toDF("p", "y")
    val out2 = Stats.isotonicCalibration(mono, col("p"), col("y"), bins = 10)
      .orderBy("bin").collect()
    assert(out2.map(_.getDouble(4)).toSeq == Seq(0.2, 0.8))
    // three-bin cascade: 0.9, 0.1, 0.5 -> first two pool to 0.5, stays <= 0.5
    val casc = (Seq.fill(9)((0.05, 1L)) ++ Seq.fill(1)((0.05, 0L)) ++
      Seq.fill(1)((0.15, 1L)) ++ Seq.fill(9)((0.15, 0L)) ++
      Seq.fill(5)((0.25, 1L)) ++ Seq.fill(5)((0.25, 0L))).toDF("p", "y")
    val out3 = Stats.isotonicCalibration(casc, col("p"), col("y"), bins = 10)
      .orderBy("bin").collect().map(_.getDouble(4)).toSeq
    assert(out3 == Seq(0.5, 0.5, 0.5))
    // monotone non-decreasing invariant
    assert(out3.sliding(2).forall(w => w(0) <= w(1)))
  }

  test("rakeWeights: matches a direct IPF reimplementation; margins converge; no-mass guard") {
    // population: cells (A,0)=40 (A,1)=60 (B,0)=30 (B,1)=70 (C,0)=10;
    // sample: biased toward col 1 and row B
    val rows = Seq(("A", 0, 40, 10), ("A", 1, 60, 30), ("B", 0, 30, 15),
      ("B", 1, 70, 60), ("C", 0, 10, 5))
    val df = rows.flatMap { case (i, j, np, ns) =>
      (0 until np).map(u => (i, j, u < ns))
    }.toDF("rk", "ck", "samp")
    val got = Stats.rakeWeights(df, col("rk"), col("ck"), col("samp"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // direct reimplementation
    val cells = rows.map { case (i, j, np, ns) => ((i, j.toString), np, ns) }
    val rT = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val cT = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    var m = cells.filter(_._3 > 0).map(c => c._1 -> c._3.toDouble)
      .sortBy(_._1).toArray
    (1 to 8).foreach { _ =>
      val rs = m.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
      m = m.map { case (k, v) =>
        k -> (if (rs(k._1) > 0) v * (rT(k._1).toDouble / rs(k._1)) else v) }
      val cs = m.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
      m = m.map { case (k, v) =>
        k -> (if (cs(k._2) > 0) v * (cT(k._2).toDouble / cs(k._2)) else v) }
    }
    assert(got.size == 5)
    m.foreach { case ((i, j), v) =>
      val (ns, wn, w) = got((i, j))
      assert(math.abs(wn - v) < 1e-6, s"cell ($i,$j): $wn vs $v")
      assert(math.abs(w - v / ns) < 1e-6)
    }
    // raked sample margins match the population margins (IPF converged)
    val rowM = got.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    rowM.foreach { case (i, s) =>
      assert(math.abs(s - rT(i)) < 1e-3, s"row $i margin $s vs ${rT(i)}") }
    val colM = got.toSeq.groupBy(_._1._2).view.mapValues(_.map(_._2._2).sum)
    colM.foreach { case (j, s) =>
      assert(math.abs(s - cT(j)) < 1e-3, s"col $j margin $s vs ${cT(j)}") }
    // a row with NO sample mass drops out without poisoning the rest
    val df2 = df.withColumn("samp", col("samp") && col("rk") =!= "C")
    val got2 = Stats.rakeWeights(df2, col("rk"), col("ck"), col("samp"))
      .collect()
    assert(got2.length == 4 && got2.forall(r => r.getString(0) != "C"))
    assert(got2.forall(r => !r.getDouble(4).isNaN && r.getDouble(4) > 0))
  }

  test("ebShrinkRates: beta-binomial MoM shrinkage pulls rates toward the mean; degenerate guard") {
    // 4 segments, 50 units each, rates 0.1/0.3/0.5/0.7
    val df = (0 until 200).map { i =>
      val s = i / 50
      (s.toLong, (i % 50) < (5 + s * 10))
    }.toDF("seg", "conv")
    val got = Stats.ebShrinkRates(df, col("seg"), col("conv"))
      .orderBy("segment").collect()
    assert(got.length == 4)
    val ps = Seq(0.1, 0.3, 0.5, 0.7)
    val pbar = ps.sum / 4
    val s2 = ps.map(p => (p - pbar) * (p - pbar)).sum / 3
    val kap = pbar * (1 - pbar) / s2 - 1
    got.zipWithIndex.foreach { case (r, k) =>
      assert(r.getLong(1) == 50L && math.abs(r.getDouble(3) - ps(k)) < 1e-9)
      val expect = (ps(k) * 50 + pbar * kap) / (50 + kap)
      assert(math.abs(r.getDouble(4) - expect) < 1e-6,
        s"seg $k: ${r.getDouble(4)} vs $expect")
      assert(math.abs(r.getDouble(5) - kap) < 1e-4)
      // shrinkage moves strictly toward the mean
      if (ps(k) != pbar)
        assert(math.abs(r.getDouble(4) - pbar) < math.abs(ps(k) - pbar))
    }
    // identical rates -> zero variance -> no shrinkage, null kappa
    // (0.25 is binary-exact, so the mean equals every rate EXACTLY and
    // s2 is a true 0.0, not a last-ulp residual)
    val flat = (0 until 128).map(i => ((i / 32).toLong, i % 32 < 8))
      .toDF("seg", "conv")
    val g2 = Stats.ebShrinkRates(flat, col("seg"), col("conv"))
      .orderBy("segment").collect()
    g2.foreach { r =>
      assert(r.isNullAt(5) && r.getDouble(4) == r.getDouble(3))
    }
  }
}
