package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev tool: empirical scale check of the dedup/ANN scale paths on a
  * SYNTHESIZED corpus 20-40x the sf0.1 tables (no testdata dependency —
  * rows are generated distributed from `spark.range`, so this probes the
  * operators' scaling, not parquet I/O). Prints one JSON line of
  * timings. Usage: runMain graft.ScaleProbe [nDocs] [nVecs]
  *
  * This is the "would the plan survive 100x?" experiment from the build
  * brief, run at the largest size the local container comfortably holds;
  * results land in BENCH_NOTES.md.
  */
object ScaleProbe {

  /** Timed noop-sink run (not count(): a count would let Catalyst prune
    * the very columns being measured — projection-only ops like
    * assignSplit would time at ~0; same rule as Bench.scala). The result
    * is persisted so the correctness row count afterwards reads the cache
    * instead of RE-EXECUTING the whole plan — on the 165 s uncapped
    * adversarial run the untimed recount used to double probe wall-clock.
    * The cache-population cost lands inside the timed window, which is
    * fine: every probed plan is measured under the same rule.
    */
  private def time(name: String)(dfThunk: => DataFrame): (String, Double, Long) = {
    val df = dfThunk.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      System.err.println(f"[probe] $name%-28s $sec%8.1f s  ($n rows)")
      (name, sec, n)
    } finally df.unpersist()
  }

  /** Adversarial skew probe: a boilerplate-heavy corpus with one
    * `copies`-strong identical-document cluster (the web-crawl worst case
    * — one page mirrored 10^3+ times puts every copy in the same LSH band
    * bucket / gives every one of its shingles df=copies). Times the
    * DECLARED guarded plans (maxBucket=64 / maxShingleDf=128, the same
    * caps SparkEntry ships) against the unguarded ones. The guarded runs
    * must stay flat as `copies` grows; the unguarded ones quadratic.
    * Usage: runMain graft.ScaleProbe adversarial [nDocs] [copies]
    */
  private def adversarial(spark: SparkSession, nDocs: Int, copies: Int): Unit = {
    import graft.operators.Dedup
    val base = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(79)),
        p => concat(lit("w"), pmod(xxhash64(col("id") * 83 + p * 7919), lit(50000)))), " ")
        .as("text"))
    // the mega-cluster: `copies` byte-identical docs (ids above the base)
    val megaText = (0 until 80).map(p => s"mega$p").mkString(" ")
    val mega = spark.range(copies.toLong)
      .select((col("id") + nDocs.toLong).as("doc_id"), lit(megaText).as("text"))
    val docs = base.unionByName(mega)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // materialize so generation cost stays out of the timings

    val results = Seq(
      time("minhash_capped64") {
        Dedup.minhashNearDupPairsMd5(docs, "doc_id", "text",
          k = 16, bands = 2, shingleK = 3, threshold = 0.8, maxBucket = Some(64))
      },
      time("minhash_uncapped") {
        Dedup.minhashNearDupPairsMd5(docs, "doc_id", "text",
          k = 16, bands = 2, shingleK = 3, threshold = 0.8)
      },
      time("ngram_capped128") {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9,
          maxShingleDf = Some(128))
      },
      time("ngram_uncapped") {
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.9)
      })
    val qs = results.map { case (k, v, n) => s""""$k":{"sec":$v,"rows":$n}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"adversarial_probe","n_docs":$nDocs,"copies":$copies,"results":$qs}""")
  }

  /** Replicate an sf directory `factor`x into `dst` for one-off
    * larger-scale bench runs (no sf1 testdata ships in this container).
    * Each replica is an ISOMORPHIC copy that does not interact with the
    * others the way raw duplication would:
    *  - every `*key`/`*_id` column shifts by replica x 10^10, so joins,
    *    dedup windows and sessionization see `factor`x distinct entities;
    *  - `text` gets a per-replica suffix on EVERY token, so cross-replica
    *    shingle sets are disjoint (raw copies would be exact dups and
    *    near-dup pair counts would grow quadratically in `factor`, which
    *    a real sf1 corpus does not);
    *  - `embedding` components multiply by a deterministic per-replica
    *    +-1 pattern: intra-replica dot products are EXACTLY preserved
    *    (s_d^2 = 1), cross-replica vectors decorrelate (random signs),
    *    again matching how a real 10x corpus behaves.
    * Usage: runMain graft.ScaleProbe replicate <srcDir> <dstDir> [factor]
    */
  private def replicate(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val offset = 10000000000L
    tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val reps = (0 until factor).map { r =>
        df.select(df.schema.fields.toIndexedSeq.map { f =>
          val c = col(f.name)
          val isKey = (f.name.endsWith("key") || f.name.endsWith("_id")) &&
            (f.dataType == LongType || f.dataType == IntegerType)
          if (isKey) (c.cast(LongType) + lit(r * offset)).as(f.name)
          else if (f.name == "text" && r > 0)
            // '§' (§) never occurs in the generated corpus, so
            // replica-r tokens cannot collide with original tokens that
            // happen to end in the suffix (e.g. 'ax1' vs 'a'+x1) —
            // cross-replica shingle sets stay strictly disjoint
            regexp_replace(c, "(\\S+)", s"$$1§$r").as(f.name)
          else if (f.name == "embedding" && r > 0)
            transform(c, (v, d) =>
              v * when(pmod(xxhash64(lit(r), d), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0)))
              .cast(f.dataType).as(f.name)
          else c
        }: _*)
      }
      reps.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      System.err.println(s"[replicate] $t x$factor -> $dst/$t.parquet")
    }
  }

  /** k-vs-digest-cost probe: times the declared minhash_pairs corpus
    * (documents + the %7 dup injection, same construction as
    * SparkEntry.injectedDocs) through minhashNearDupPairsMd5 at k=16
    * (4 md5s/shingle) and k=12 (3 md5s/shingle) — a cold pass then a
    * warm pass of 3 runs each, same bands/caps as SparkEntry. Compare
    * the warm passes; the cold pass absorbs first-touch parquet/codegen
    * costs. Usage: runMain graft.ScaleProbe minhashk <sfDir>
    */
  private def minhashK(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.Dedup
    val u = SparkEntry.injectedDocs(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    u.count()
    val results = for {
      pass <- Seq("cold", "warm")
      k <- Seq(16, 12)
      it <- 1 to 3
    } yield
      time(s"k${k}_${pass}_i$it") {
        Dedup.minhashNearDupPairsMd5(u, "doc_id", "text",
          k = k, bands = 2, shingleK = 3, threshold = 0.8, maxBucket = Some(64))
      }
    val qs = results.map { case (n, v, r) => s""""$n":{"sec":$v,"rows":$r}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"minhashk_probe","results":$qs}""")
    u.unpersist()
  }

  /** Connected-components probe at scale: a pair graph shaped like real
    * near-dup output — `nCliques` 64-member quasi-cliques (LSH-bucket
    * shape, ~2016 pairs each) PLUS one `chainLen`-node chain (drifting
    * boilerplate, the diameter worst case pointer jumping exists for).
    * Verifies every label reaches its component minimum and times the
    * whole run. Usage: runMain graft.ScaleProbe components [nCliques] [chainLen]
    */
  private def components(spark: SparkSession, nCliques: Int, chainLen: Int): Unit = {
    import graft.operators.Dedup
    val cliquePairs = spark.range(nCliques.toLong).select(col("id").as("c"))
      .select(explode(sequence(lit(0), lit(63))).as("i"), col("c"))
      .select((col("c") * 1000000L + col("i")).as("m"), col("c"))
      .as("a").join(spark.range(nCliques.toLong).select(col("id").as("c"))
        .select(explode(sequence(lit(0), lit(63))).as("i"), col("c"))
        .select((col("c") * 1000000L + col("i")).as("m"), col("c")).as("b"), "c")
      .filter(col("a.m") < col("b.m"))
      .select(col("a.m").as("id_a"), col("b.m").as("id_b"))
    val chainBase = nCliques.toLong * 1000000L
    val chainPairs = spark.range(chainLen.toLong - 1)
      .select((col("id") + chainBase).as("id_a"), (col("id") + chainBase + 1).as("id_b"))
    val pairs = cliquePairs.unionByName(chainPairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    // interleaved convergence-probe cadence A/B (round-6 advice item:
    // "probe every other round — measure first"): probeEvery=2 skips
    // half the cached-scan counts but overshoots the fixpoint by up to
    // one full join round when the diameter parity disagrees
    val results = (1 to 2).flatMap { it =>
      Seq(1, 2).map { cadence =>
        val t0 = System.nanoTime()
        val labels = Dedup.dedupClusters(pairs, probeEvery = cadence)
        val n = labels.count()
        val sec = (System.nanoTime() - t0) / 1e9
        // every label must be its component min: clique min = c*10^6,
        // chain min = chainBase
        val wrong = labels.filter(
          col("cluster_id") =!= when(col("id") >= chainBase, lit(chainBase))
            .otherwise((col("id") / 1000000L).cast("long") * 1000000L)).count()
        require(wrong == 0, s"$wrong labels did not reach their component minimum")
        (s"probe${cadence}_i$it", sec, n)
      }
    }
    val qs = results.map { case (nm, v, r) => s""""$nm":{"sec":$v,"nodes":$r}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"components_probe","pairs":$nPairs,"results":$qs}""")
    pairs.unpersist()
  }

  /** Index-reuse probe for the stream-ingestion matcher: build the
    * corpus band index ONCE (timed), then match several incoming
    * batches against it (each timed) — the per-batch cost must be a
    * small fraction of the build, or the "reusable index" claim is
    * marketing. Usage: runMain graft.ScaleProbe against [nDocs] [batchEvery]
    */
  private def against(spark: SparkSession, nDocs: Int, batchEvery: Int): Unit = {
    import graft.operators.Dedup
    import graft.streaming.StreamOps
    val corpus = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(79)),
        p => concat(lit("w"), pmod(xxhash64(col("id") * 83 + p * 7919), lit(50000)))), " ")
        .as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpus.count()
    val t0 = System.nanoTime()
    val index = Dedup.minhashBandIndexMd5(corpus, "doc_id", "text",
      k = 12, bands = 2, shingleK = 3, maxBucket = Some(1024))
    val idxRows = index.count() // materializes the persisted index
    val buildSec = (System.nanoTime() - t0) / 1e9
    val batches = (0 until 3).map { b =>
      val incoming = corpus.filter(col("doc_id") % batchEvery === b)
        .select((col("doc_id") + 10000000L * (b + 1)).as("doc_id"), col("text"))
      time(s"batch$b") {
        StreamOps.minhashAgainstStream(index, incoming, k = 12, bands = 2,
          shingleK = 3, threshold = 0.8)
      }
    }
    val qs = batches.map { case (n, v, r) => s""""$n":{"sec":$v,"rows":$r}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"against_probe","n_docs":$nDocs,"index_rows":$idxRows,"build_sec":$buildSec,"batches":$qs}""")
    corpus.unpersist()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("explain")) {
      // scan/join shape dump for declared queries (the .explain audit
      // loop): runMain graft.ScaleProbe explain [<sfDir> [q1,q2,...]]
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.001")
      val names = args.drop(2).headOption.map(_.split(",").toSeq)
        .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
      for (q <- names) {
        val plan = SparkEntry.queries(q)(spark, sf)
          .queryExecution.executedPlan.toString
        println(s"== $q")
        plan.linesIterator.filter(_.contains("ReadSchema"))
          .map(_.trim.replaceAll(".*ReadSchema: ", "")).toSeq.distinct
          .foreach(s => println("  scan: " + s.take(130)))
        plan.linesIterator
          .filter(l => l.contains("Join") || l.contains("CartesianProduct"))
          .foreach(j => println("  join: " + j.trim.take(120)))
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("assoc")) {
      // adversarial mega-basket probe for Assoc.coOccurrencePairs:
      // runMain graft.ScaleProbe assoc [<sfDir>]
      // lineitem baskets + ONE injected basket with 12000 distinct
      // items (~72M pairs on its own). Capped (maxBasket=256) must stay
      // at the clean-corpus cost; uncapped shows the blowup the guard
      // removes.
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
      val base = spark.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("it"))
      val mega = spark.range(12000)
        .select(lit(-1L).as("bk"), (col("id") + 10000000L).as("it"))
      val poisoned = base.unionByName(mega)
      import graft.operators.Assoc
      time("clean_capped") { Assoc.coOccurrencePairs(base, "bk", "it", 2L, 256) }
      time("poisoned_capped") { Assoc.coOccurrencePairs(poisoned, "bk", "it", 2L, 256) }
      time("poisoned_uncapped") {
        Assoc.coOccurrencePairs(poisoned, "bk", "it", 2L, Int.MaxValue)
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("chunkret")) {
      // stage-wise timing of the chunk_retrieval pipeline at a given sf:
      // runMain graft.ScaleProbe chunkret [<sfDir>]
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      import graft.operators.Corpus
      time("chunks") {
        Corpus.chunkDocuments(docs, "doc_id", "text", 32, 8)
          .select((col("doc_id") * 16 + col("chunk_id")).as("cid"), col("chunk_text"))
      }
      val cv = Corpus.hashedDocVectors(
        Corpus.chunkDocuments(docs, "doc_id", "text", 32, 8)
          .select((col("doc_id") * 16 + col("chunk_id")).as("cid"), col("chunk_text")),
        "cid", "chunk_text")
      time("cv_hashed_vectors") { cv }
      // internals of hashedDocVectors over the chunk input, stage by stage
      val chunksF = Corpus.chunkDocuments(docs, "doc_id", "text", 32, 8)
        .select((col("doc_id") * 16 + col("chunk_id")).as("cid"), col("chunk_text"))
      val tfF = chunksF
        .select(col("cid").as("_id"),
          explode(split(trim(col("chunk_text")), "\\s+")).as("_tk"))
        .groupBy(col("_id"), col("_tk")).agg(count(lit(1)).as("_tf"))
      time("stage_tf") { tfF }
      val sgF = tfF.withColumn("_g", md5(col("_tk").cast("binary")))
      val bitF = floor(
        conv(col("_g").substr((col("_d") / 4).cast("int") + 1, lit(1)), 16, 10)
          .cast("int") / pow(lit(2.0), (col("_d") % 4).cast("double")))
        .cast("int") % 2
      val conF = sgF
        .select(col("_id"), col("_g"), col("_tf"),
          explode(sequence(lit(0), lit(63))).as("_d"))
        .select(col("_id"), col("_d"), (col("_tf") * (lit(2) * bitF - 1)).as("_x"))
        .groupBy(col("_id"), col("_d")).agg(sum(col("_x")).as("_xs"))
      time("stage_con") { conF }
      time("stage_collect") {
        conF.groupBy(col("_id"))
          .agg(transform(
            sort_array(collect_list(struct(col("_d"), col("_xs").cast("double").as("_v")))),
            x => x.getField("_v")).as("vec"))
      }
      val cvp = cv.persist()
      cvp.count()
      val qv = Corpus.hashedDocVectors(docs.filter(col("doc_id") < 3), "doc_id", "text")
        .select(col("doc_id").as("query_id"), col("vec").as("qvec"))
      time("score_join_windows") {
        val sc = cvp.join(broadcast(qv), expr("cid DIV 16") =!= col("query_id"))
          .select(col("query_id"), expr("cid DIV 16").as("doc_id"),
            pmod(col("cid"), lit(16)).cast("int").as("chunk_no"), col("cid"),
            graft.functions.VectorFunctions.cosine(col("qvec"), col("vec")).as("cos"))
        val w1 = Window.partitionBy("query_id", "doc_id").orderBy(col("cos").desc, col("cid"))
        val w2 = Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id"))
        sc.withColumn("_rn", row_number().over(w1)).filter(col("_rn") === 1)
          .withColumn("rank", row_number().over(w2).cast("int")).filter(col("rank") <= 5)
      }
      cvp.unpersist()
      for (i <- 1 to 4) {
        val t0 = System.nanoTime()
        SparkEntry.queries("chunk_retrieval")(spark, sf)
          .write.format("noop").mode("overwrite").save()
        System.err.println(f"[probe] declared_iter_$i ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      spark.stop()
      return
    }
    if (args.headOption.contains("qctrain")) {
      // train the frozen quality-classifier weights (logistic regression
      // over TextFunctions.qualityFeatures): positives = the corpus,
      // negatives = punctuation-corrupted copies (the clean-vs-junk
      // separation an ingest filter learns; the synthetic corpus's lang
      // labels are text-INdependent, so they are unlearnable by
      // construction — corruption gives a real signal). Deterministic
      // full-batch gradient descent in a FIXED row order, so retraining
      // on the same corpus reproduces the same literal.
      // runMain graft.ScaleProbe qctrain [<sfDir> [steps [lr]]]
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val sf = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val steps = args.drop(2).headOption.map(_.toInt).getOrElse(500)
      val lr = args.drop(3).headOption.map(_.toDouble).getOrElse(1.0)
      val base = spark.read.parquet(sf + "/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corrupted = base
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(col("text"), lit(" !!! ### ,,, ;;; !!!")).as("text"))
      val rows = base.withColumn("y", lit(1))
        .unionByName(corrupted.withColumn("y", lit(0)))
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityFeatures(col("text")).as("f"),
          col("y"))
        .orderBy("doc_id").collect()
        .map(r => (r.getSeq[Double](1).toArray, r.getInt(2)))
      val w = Array.fill(5)(0.0)
      for (_ <- 0 until steps) {
        val g = Array.fill(5)(0.0)
        rows.foreach { case (x, y) =>
          val z = w(0) + w(1) * x(0) + w(2) * x(1) + w(3) * x(2) + w(4) * x(3)
          val d = 1.0 / (1.0 + math.exp(-z)) - y
          g(0) += d
          var i = 0
          while (i < 4) { g(i + 1) += d * x(i); i += 1 }
        }
        var i = 0
        while (i < 5) { w(i) -= lr * g(i) / rows.length; i += 1 }
      }
      val acc = rows.count { case (x, y) =>
        val z = w(0) + w(1) * x(0) + w(2) * x(1) + w(3) * x(2) + w(4) * x(3)
        (if (z >= 0) 1 else 0) == y
      }.toDouble / rows.length
      println("QCWEIGHTS " + w.map(v => f"$v%.6f").mkString(", ") + f" acc=$acc%.3f")
      spark.stop()
      return
    }
    if (args.headOption.contains("dsirtbl")) {
      // dump the DSIR per-bucket log-ratio table for cross-engine
      // comparison: runMain graft.ScaleProbe dsirtbl <sfDir>
      val spark = SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val docs = spark.read.parquet(
        args.drop(1).headOption.getOrElse("/root/testdata/sf0.01") + "/documents.parquet")
      graft.operators.Corpus.dsirDistTable(docs, "doc_id", "text",
          col("lang") === "en", 256)
        .orderBy("_b").collect()
        .foreach(r => println(s"DSIRTBL ${r.get(0)} ${r.get(1)} ${r.get(2)} ${r.get(3)}"))
      spark.stop()
      return
    }
    if (args.headOption.contains("docpairs")) {
      // quantify the near-dup pair graph of a testdata documents table
      // (pair count drives dedup_clusters cost — a regenerated corpus
      // with denser duplication changes the bench number without any
      // code change): runMain graft.ScaleProbe docpairs <sfDir>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println(s"docs=${docs.count()}")
      // stage breakdown: shingle frame alone, then the full pair pipeline
      var t0 = System.nanoTime()
      val shProbe = docs.select(col("doc_id").as("jid"),
          explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("s"))
        .select(col("jid"), md5(col("s").cast("binary")).as("sh")).distinct()
      println(f"  shingle distinct rows=${shProbe.count()} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val pairs = graft.operators.Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", 3, 0.9, maxShingleDf = Some(128))
      t0 = System.nanoTime()
      println(f"pairs=${pairs.count()} in ${(System.nanoTime() - t0) / 1e9}%.1f s (cold)")
      t0 = System.nanoTime()
      println(f"pairs=${pairs.count()} in ${(System.nanoTime() - t0) / 1e9}%.1f s (warm, persisted shingles)")
      t0 = System.nanoTime()
      val cl = graft.operators.Dedup.dedupClusters(pairs)
      val nNodes = cl.count()
      val nClusters = cl.select("cluster_id").distinct().count()
      println(f"cluster nodes=$nNodes clusters=$nClusters in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      spark.stop()
      return
    }
    if (args.headOption.contains("bpetrainx")) {
      // train the EXPANDED-vocab merge table (bpeMergeTableX) over the
      // SparkEntry.expandedTokens view — hex-suffixed tokens give the
      // trainer real merge competition the ~31-word raw vocab cannot:
      // runMain graft.ScaleProbe bpetrainx <sfDir> [nMerges]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val n = args.drop(2).headOption.map(_.toInt).getOrElse(32)
      val toks = graft.SparkEntry.expandedTokens(spark, dir)
      val merges = graft.functions.TextFunctions.learnBpeMerges(toks, "token", n)
      println(merges.map { case (a, b) => s"""("$a", "$b")""" }.mkString(",\n"))
      spark.stop()
      return
    }
    if (args.headOption.contains("bpetrain")) {
      // train the merge table the declared bpe query embeds as a literal:
      // runMain graft.ScaleProbe bpetrain <sfDir> [nMerges]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val n = args.drop(2).headOption.map(_.toInt).getOrElse(24)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val merges = graft.functions.TextFunctions.learnBpeMerges(docs, "text", n)
      println(merges.map { case (a, b) => s"""("$a", "$b")""" }.mkString(",\n"))
      spark.stop()
      return
    }
    if (args.headOption.contains("decon")) {
      // A/B the bloom-prefiltered decontamination against the plain
      // exploded semi-join at replicated corpus scale:
      // runMain graft.ScaleProbe decon <sfDir> [reps]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
      val reps = args.drop(2).headOption.map(_.toInt).getOrElse(10)
      val docs0 = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      // replicate with distinct ids; localCheckpoint so BOTH arms read a
      // materialized corpus, not the replication plan
      val corpus = docs0
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), lit(reps - 1))).as("r"))
        .select((col("doc_id") + col("r") * 1000000L).as("doc_id"), col("text"))
        .filter(col("doc_id") % 13 =!= 0)
        // drop every REPLICA of an eval doc too unless KEEPDIRTY=1: with
        // them kept, ~1/13 of the corpus is an exact eval copy — an
        // adversarially HIGH contamination rate (real decontamination
        // flags <<1%), which charges the bloom arm a second ngram pass
        // over 8% of the corpus
        .filter(if (sys.env.contains("SPARK_GRAFT_DECON_KEEPDIRTY")) lit(true)
                else (col("doc_id") % 1000000L) % 13 =!= 0)
        .localCheckpoint(true)
      val eval = docs0.filter(col("doc_id") % 13 === 0)
      println(s"corpus=${corpus.count()} docs (reps=$reps), eval=${eval.count()}")
      def timed(label: String)(f: => Long): Unit = {
        val t0 = System.nanoTime()
        val n = f
        println(f"  $label%-26s ${(System.nanoTime() - t0) / 1e9}%6.2f s  (rows=$n)")
      }
      def plainJoin(): Long = {
        val ng = eval.select(explode(
          graft.functions.TextFunctions.wordShingles(col("text"), 8)).as("ng")).distinct()
        corpus.select(col("doc_id"), explode(array_distinct(
            graft.functions.TextFunctions.wordShingles(col("text"), 8))).as("ng"))
          .join(ng, Seq("ng"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
          .count()
      }
      timed("bloom prefilter + exact")(
        graft.operators.Corpus.decontaminate(corpus, "doc_id", "text", eval, "text", 8).count())
      timed("plain join (broadcastable)")(plainJoin())
      // the 100 TB shape: a real benchmark suite's n-gram set is GBs —
      // beyond broadcast — so the plain join must SHUFFLE every corpus
      // n-gram; the bloom arm's plan is unchanged by this knob
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      timed("plain join (shuffle-forced)")(plainJoin())
      timed("bloom arm (same knobs)")(
        graft.operators.Corpus.decontaminate(corpus, "doc_id", "text", eval, "text", 8).count())
      spark.stop()
      return
    }
    if (args.headOption.contains("pqtrain")) {
      // train the PQ codebook the declared ann_pq_adc_topk query embeds
      // as a literal: runMain graft.ScaleProbe pqtrain <sfDir> [m] [k]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val m = args.drop(2).headOption.map(_.toInt).getOrElse(4)
      val k = args.drop(3).headOption.map(_.toInt).getOrElse(16)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cb = graft.operators.Ann.pqTrain(emb, "embedding", m, k)
      // java.lang.Double.toString round-trips exactly, so the pasted
      // literal IS the trained codebook bit for bit
      println(cb.map(sub => sub.map(c =>
        c.mkString("Seq(", ", ", ")")).mkString("Seq(\n    ", ",\n    ", ")"))
        .mkString("Seq(\n  ", ",\n  ", ")"))
      spark.stop()
      return
    }
    if (args.headOption.contains("ivftrain")) {
      // train the IVF coarse codebook the declared ann_ivf_kmeans_topk
      // query embeds as a literal (graft.IvfCentroids):
      // runMain graft.ScaleProbe ivftrain <sfDir> [nCentroids]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val nc = args.drop(2).headOption.map(_.toInt).getOrElse(8)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cents = graft.operators.Ann.ivfKmeansTrain(emb, "embedding", nc)
      // java.lang.Double.toString round-trips exactly, so the pasted
      // literal IS the trained codebook bit for bit
      println(cents.map(c => c.mkString("Seq(", ", ", ")"))
        .mkString("Seq(\n  ", ",\n  ", ")"))
      spark.stop()
      return
    }
    if (args.headOption.contains("rqtrain")) {
      // train the residual-PQ codebook the declared ann_rq_topk query
      // embeds as a literal:
      // runMain graft.ScaleProbe rqtrain <sfDir> [m] [k] [nCentroids]
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.01")
      val m = args.drop(2).headOption.map(_.toInt).getOrElse(4)
      val k = args.drop(3).headOption.map(_.toInt).getOrElse(16)
      val nc = args.drop(4).headOption.map(_.toInt).getOrElse(8)
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val cb = graft.operators.Ann.rqTrain(emb, "vec_id", "embedding", m, k, nc)
      println(cb.map(sub => sub.map(c =>
        c.mkString("Seq(", ", ", ")")).mkString("Seq(\n    ", ",\n    ", ")"))
        .mkString("Seq(\n  ", ",\n  ", ")"))
      spark.stop()
      return
    }
    if (args.headOption.contains("against")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      against(spark,
        args.drop(1).headOption.map(_.toInt).getOrElse(200000),
        args.drop(2).headOption.map(_.toInt).getOrElse(40))
      spark.stop()
      return
    }
    if (args.headOption.contains("components")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      components(spark,
        args.drop(1).headOption.map(_.toInt).getOrElse(1000),
        args.drop(2).headOption.map(_.toInt).getOrElse(100000))
      spark.stop()
      return
    }
    if (args.headOption.contains("minhashstages")) {
      // stage breakdown of the declared minhash_pairs pipeline:
      // runMain graft.ScaleProbe minhashstages <sfDir>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      def timed[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        r
      }
      val full = graft.operators.Dedup.minhashNearDupPairsMd5(
        docs, "doc_id", "text", k = 12, bands = 2, shingleK = 3,
        threshold = 0.8, maxBucket = Some(64))
      timed("full pipeline cold")(println(s"    pairs=${full.count()}"))
      timed("full pipeline warm")(println(s"    pairs=${full.count()}"))
      spark.stop()
      return
    }
    if (args.headOption.contains("minhashk")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors().toString)
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      minhashK(spark, args.drop(1).headOption.getOrElse("/root/testdata/sf0.1"))
      spark.stop()
      return
    }
    if (args.headOption.contains("replicate")) {
      require(args.length >= 3, "usage: replicate <srcDir> <dstDir> [factor]")
      val spark = SparkSession.builder()
        .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .config("spark.sql.shuffle.partitions", 32)
        // events.ts is TIMESTAMP(NANOS): read as long (see core.Tables),
        // replicas then write plain INT64 nanos, which Tables.load
        // converts back — lossless, micro-aligned data
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      replicate(spark, args(1), args(2), args.drop(3).headOption.map(_.toInt).getOrElse(10))
      spark.stop()
      return
    }
    val isAdversarial = args.headOption.contains("adversarial")
    val rest = if (isAdversarial) args.drop(1) else args
    val nDocs = rest.headOption.map(_.toInt).getOrElse(if (isAdversarial) 20000 else 200000)
    val nVecs = rest.drop(1).headOption.map(_.toInt).getOrElse(if (isAdversarial) 1000 else 100000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // NOTE: driver memory cannot be set here — in local mode the JVM
      // heap is fixed at sbt launch; size it via SBT_OPTS/-Xmx if needed
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (isAdversarial) {
      adversarial(spark, nDocs, nVecs) // second arg doubles as `copies`
      spark.stop()
      return
    }

    // ~80-word docs over a 50k-word vocabulary, 5% exact dups injected —
    // the shared-vocabulary shape that stresses shingle self-joins
    def docs: DataFrame = {
      val base = spark.range(nDocs.toLong).select(col("id").as("doc_id"),
        array_join(transform(sequence(lit(0), lit(79)),
          p => concat(lit("w"), pmod(xxhash64(col("id") * 83 + p * 7919), lit(50000)))), " ")
          .as("text"))
      // dup ids offset by nDocs — a fixed offset would collide with base
      // ids once nDocs exceeds it, silently corrupting the probe's
      // zero-false-positive invariant
      val dups = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + nDocs.toLong).as("doc_id"), col("text"))
      base.unionByName(dups)
    }

    // 64-dim vectors with 5% exact-dup vectors injected
    def vecs: DataFrame = {
      val base = spark.range(nVecs.toLong).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => pmod(xxhash64(col("id") * 31 + d), lit(2000)).cast("double") / 1000.0 - 1.0)
          .as("embedding"))
      val dups = base.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + nVecs.toLong).as("vec_id"), col("embedding"))
      base.unionByName(dups)
    }

    val results = Seq(
      time("exact_dedup_groups") {
        graft.operators.Dedup.exactGroupsHashed(docs, "text", "doc_id")
          .filter(col("n_copies") > 1)
      },
      time("minhash_near_dup_md5") {
        graft.operators.Dedup.minhashNearDupPairsMd5(docs, "doc_id", "text",
          k = 16, bands = 2, shingleK = 3, threshold = 0.8, maxBucket = Some(1000))
      },
      time("minhash_near_dup_xxhash") {
        graft.operators.Dedup.minhashNearDupPairs(docs, "doc_id", "text",
          k = 16, bands = 2, shingleK = 3, threshold = 0.8)
      },
      time("simhash_md5") {
        graft.operators.Dedup.simhashMd5(docs, "doc_id", "text")
      },
      time("embedding_near_dup_lsh") {
        graft.operators.Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding",
          0.95, planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 12, 64)))
      },
      time("ann_lsh_topk_100q") {
        graft.operators.Ann.lshTopK(vecs, vecs.filter(col("vec_id") < 100),
          "vec_id", "embedding", 10,
          planes = Some(graft.functions.VectorFunctions.md5SignPlanes(8, 12, 64)))
      },
      time("split_assign") {
        graft.operators.Corpus.assignSplit(docs, "doc_id")
      })

    val qs = results.map { case (k, v, n) => s""""$k":{"sec":$v,"rows":$n}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","n_docs":$nDocs,"n_vecs":$nVecs,"results":$qs}""")
    spark.stop()
  }
}
