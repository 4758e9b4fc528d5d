package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Offline trainers for the frozen literals the declared queries embed,
  * plus the sf replicator. Each trainer prints its literal as Scala
  * source, pasted verbatim into the query files / PqCodebook / RqCodebook /
  * IvfCentroids, whose docs cite the command that produced it.
  *
  * Usage: runMain graft.ScaleProbe <mode> [args]
  *  - qctrain   sfDir [steps [lr]]          quality-classifier weights
  *  - bpetrain  sfDir [nMerges]             BPE merge table (raw vocab)
  *  - bpetrainx sfDir [nMerges]             BPE merge table (expanded vocab)
  *  - pqtrain   sfDir [m [k]]               PQ codebook
  *  - ivftrain  sfDir [nCentroids]          IVF coarse centroids
  *  - rqtrain   sfDir [m [k [nCentroids]]]  residual-PQ codebook
  *  - replicate srcDir dstDir [factor]      isomorphic sf copy
  *
  * Results of the retired one-off scale probes are recorded in
  * BENCH_NOTES.md.
  */
object ScaleProbe {

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

  /** Quality-classifier weights: logistic regression over
    * TextFunctions.qualityFeatures, positives = the corpus, negatives =
    * punctuation-corrupted copies (the clean-vs-junk separation an
    * ingest filter learns; the synthetic corpus's lang labels are
    * text-INdependent, so they are unlearnable by construction —
    * corruption gives a real signal). Deterministic full-batch gradient
    * descent in a FIXED row order, so retraining on the same corpus
    * reproduces the same literal.
    */
  private def qctrain(spark: SparkSession, sf: String, steps: Int, lr: Double): Unit = {
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
    def z(x: Array[Double]) = w(0) + w(1) * x(0) + w(2) * x(1) + w(3) * x(2) + w(4) * x(3)
    for (_ <- 0 until steps) {
      val g = Array.fill(5)(0.0)
      rows.foreach { case (x, y) =>
        val d = 1.0 / (1.0 + math.exp(-z(x))) - y
        g(0) += d
        var i = 0
        while (i < 4) { g(i + 1) += d * x(i); i += 1 }
      }
      var i = 0
      while (i < 5) { w(i) -= lr * g(i) / rows.length; i += 1 }
    }
    val acc = rows.count { case (x, y) => (if (z(x) >= 0) 1 else 0) == y }.toDouble / rows.length
    println("QCWEIGHTS " + w.map(v => f"$v%.6f").mkString(", ") + f" acc=$acc%.3f")
  }

  // java.lang.Double.toString round-trips exactly, so a pasted codebook
  // literal IS the trained codebook bit for bit
  private def seqLiteral(c: Array[Double]): String = c.mkString("Seq(", ", ", ")")

  private def codebookLiteral(cb: Array[Array[Array[Double]]]): String =
    cb.map(_.map(seqLiteral).mkString("Seq(\n    ", ",\n    ", ")"))
      .mkString("Seq(\n  ", ",\n  ", ")")

  private def mergesLiteral(merges: Seq[(String, String)]): String =
    merges.map { case (a, b) => s"""("$a", "$b")""" }.mkString(",\n")

  def main(args: Array[String]): Unit = {
    def arg(i: Int): Option[String] = args.drop(i).headOption
    def int(i: Int, default: Int): Int = arg(i).map(_.toInt).getOrElse(default)
    def sf = arg(1).getOrElse(throw new IllegalArgumentException("usage: ScaleProbe <mode> <sfDir> [args]"))
    def emb(spark: SparkSession) = spark.read.parquet(s"$sf/embeddings.parquet")
    val modes: Map[String, SparkSession => Unit] = Map(
      "qctrain" -> (spark =>
        qctrain(spark, sf, int(2, 500), arg(3).map(_.toDouble).getOrElse(1.0))),
      "bpetrain" -> (spark =>
        println(mergesLiteral(graft.functions.TextFunctions.learnBpeMerges(
          spark.read.parquet(s"$sf/documents.parquet"), "text", int(2, 24))))),
      // hex-suffixed tokens give the trainer real merge competition the
      // ~31-word raw vocab cannot
      "bpetrainx" -> (spark =>
        println(mergesLiteral(graft.functions.TextFunctions.learnBpeMerges(
          graft.queries.Shared.expandedTokens(spark, sf), "token", int(2, 32))))),
      "pqtrain" -> (spark =>
        println(codebookLiteral(graft.operators.Ann.pqTrain(emb(spark), "embedding",
          int(2, 4), int(3, 16))))),
      "ivftrain" -> (spark =>
        println(graft.operators.Ann.ivfKmeansTrain(emb(spark), "embedding", int(2, 8))
          .map(seqLiteral).mkString("Seq(\n  ", ",\n  ", ")"))),
      "rqtrain" -> (spark =>
        println(codebookLiteral(graft.operators.Ann.rqTrain(emb(spark), "vec_id",
          "embedding", int(2, 4), int(3, 16), int(4, 8))))),
      "replicate" -> { spark =>
        require(args.length >= 3, "usage: replicate <srcDir> <dstDir> [factor]")
        // 32 shuffle partitions regardless of cores: replica file layouts
        // stay the same on any host
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        replicate(spark, args(1), args(2), int(3, 10))
      })
    val run = modes.getOrElse(args.headOption.getOrElse(""), throw new IllegalArgumentException(
      s"usage: ScaleProbe <${modes.keys.toSeq.sorted.mkString("|")}> [args]"))
    val spark = GraftSession.local()
    try run(spark) finally spark.stop()
  }
}
