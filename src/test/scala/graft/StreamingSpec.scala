package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

case class Ev(ts: Timestamp, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def evs: Seq[Ev] = (0 until 120).map { i =>
    Ev(Timestamp.valueOf(f"2024-01-01 00:${i / 2}%02d:${(i % 2) * 30}%02d"),
      if (i % 3 == 0) "click" else "view", i.toDouble)
  }

  test("windowedCounts: streaming result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamOps.windowedCounts(mem.toDF(), "ts", "10 minutes")
      .writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    val batch = StreamOps.windowedCounts(evs.toDF(), "ts", "10 minutes")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("windowedCounts: out-of-order late data is dropped by the watermark, accounted, and the survivors match batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamOps.windowedCounts(mem.toDF(), "ts", "10 minutes",
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    // batch 1: on-time events; max event time 00:25 -> watermark 00:15
    val onTime1 = Seq(
      Ev(Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      Ev(Timestamp.valueOf("2024-01-01 00:12:00"), "view", 2.0),
      Ev(Timestamp.valueOf("2024-01-01 00:25:00"), "click", 3.0))
    mem.addData(onTime1: _*)
    q.processAllAvailable()
    // batch 2: one LATE row (00:02 < watermark 00:15, its window is
    // closed -> dropped) and one on-time row pushing the watermark to
    // 00:31, which finalizes every window this test reads back
    val late = Ev(Timestamp.valueOf("2024-01-01 00:02:00"), "view", 10.0)
    val onTime2 = Ev(Timestamp.valueOf("2024-01-01 00:41:00"), "click", 4.0)
    mem.addData(late, onTime2)
    q.processAllAvailable()
    val dropped = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    val streamed = spark.table("late_out")
      .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    // dropped-late accounting: exactly the one late row
    assert(dropped == 1L, s"expected 1 watermark-dropped row, got $dropped")
    // the streamed result equals a batch recomputation WITHOUT the late
    // row, over the windows the final watermark (00:31) finalized
    val finalized = Timestamp.valueOf("2024-01-01 00:31:00")
    def batchOf(rows: Seq[Ev]) =
      StreamOps.windowedCounts(rows.toDF(), "ts", "10 minutes")
        .filter(col("win_end") <= lit(finalized))
        .orderBy("win_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed == batchOf(onTime1 :+ onTime2))
    assert(streamed.nonEmpty)
    // and differs from the batch over ALL rows — the drop was real
    assert(streamed != batchOf(onTime1 ++ Seq(late, onTime2)))
  }

  test("windowedCounts: sliding windows produce overlapping assignment") {
    val out = StreamOps.windowedCounts(evs.toDF(), "ts", "10 minutes", Some("5 minutes"))
    val perRowWindows = out.agg(sum("cnt")).head().getLong(0)
    assert(perRowWindows == 2L * evs.size) // each event in exactly 2 windows
  }

  test("hllWindowRegisters: stream state equals batch; finalize matches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs.take(60): _*)
    val q = StreamOps.hllWindowRegisters(mem.toDF(), "ts", "10 minutes", "value")
      .writeStream.format("memory").queryName("hll_regs").outputMode("complete").start()
    q.processAllAvailable()
    mem.addData(evs.drop(60): _*) // late-arriving second half updates maxes
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("hll_regs")
      .orderBy("win_start", "reg").collect().map(_.toSeq).toSeq
    val batchRegs = StreamOps.hllWindowRegisters(evs.toDF(), "ts", "10 minutes", "value")
    assert(streamed == batchRegs.orderBy("win_start", "reg").collect().map(_.toSeq).toSeq)
    assert(streamed.nonEmpty)
    // bounded state: never more than 256 registers per window
    assert(spark.table("hll_regs").groupBy("win_start").count()
      .collect().forall(_.getLong(1) <= 256))
    // the register frame finalizes to the same estimates the one-shot
    // batch sketch produces
    val est = graft.operators.Sketches.hllFinalize(batchRegs, Seq("win_start"))
      .orderBy("win_start").collect().map(_.toSeq).toSeq
    val direct = graft.operators.Sketches.hllDistinct(
        evs.toDF().select(window(col("ts"), "10 minutes").getField("start").as("win_start"),
          col("value")),
        Seq("win_start"), col("value"))
      .orderBy("win_start").collect().map(_.toSeq).toSeq
    assert(est == direct)
  }

  test("hllWindowRegisters sliding: each event lands in exactly dur/slide windows") {
    val regs = StreamOps.hllWindowRegisters(evs.toDF(), "ts", "20 minutes",
      "value", slide = Some("10 minutes"))
    // distinct values land their register in BOTH containing windows:
    // summing per-window distinct-value counts double-counts exactly
    val perWin = graft.operators.Sketches.hllFinalize(regs, Seq("win_start"))
    val winStarts = perWin.select("win_start").collect().map(_.getTimestamp(0)).sorted
    // overlapping starts every 10 minutes, window length 20
    assert(winStarts.length >= 2)
    val stepsMs = winStarts.sliding(2).map(p => p(1).getTime - p(0).getTime).toSet
    assert(stepsMs == Set(600000L), s"unexpected window steps $stepsMs")
    // every event's value is distinct in evs, so each window's register
    // frame equals the one-shot sketch over the events it contains
    // manual two-window explode: w0 (10-min floor) and w0 - slide —
    // the same expansion the sliding window performs for dur=2*slide
    val w0 = window(col("ts"), "10 minutes").getField("start")
    val direct = graft.operators.Sketches.hllDistinct(
        evs.toDF().select(explode(array(
            w0, w0 - expr("INTERVAL 10 MINUTES"))).as("win_start"),
          col("value")),
        Seq("win_start"), col("value"))
      .orderBy("win_start").collect().map(_.toSeq).toSeq
    val est = perWin.orderBy("win_start").collect().map(_.toSeq).toSeq
    assert(est == direct)
  }

  test("dedupStream: state-backed exact dedup equals batch dropDuplicates") {
    implicit val sqlCtx = spark.sqlContext
    val dup = evs ++ evs.take(10)
    val mem = MemoryStream[Ev]
    mem.addData(dup: _*)
    val q = StreamOps.dedupStream(mem.toDF(), "ts", Seq("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_out").count() == evs.size)
  }

  test("simhashNearDupStream: exact dup flagged across micro-batches, novel docs -1") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocSig
    // 0 and 2 identical signatures; 1 within hamming 2 of 0; 3 far away
    val near = java.lang.Long.parseLong("11", 2) // flips 2 low bits of 0L
    val sigs = Seq(DocSig(0L, 0L), DocSig(1L, near), DocSig(3L, -1L))
    val late = Seq(DocSig(2L, 0L)) // second micro-batch: exact dup of 0
    val mem = MemoryStream[DocSig]
    mem.addData(sigs: _*)
    val q = StreamOps.simhashNearDupStream(mem.toDS(), maxHamming = 3)
      .writeStream.format("memory").queryName("near_out").outputMode("append").start()
    q.processAllAvailable()
    mem.addData(late: _*)
    q.processAllAvailable()
    q.stop()
    // per-doc verdict: max matched_id over the doc's 4 block rows
    val verdicts = spark.table("near_out")
      .groupBy("doc_id").agg(max("matched_id").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(verdicts(0L) == -1L) // first arrival is novel
    assert(verdicts(1L) == 0L) // hamming 2 from doc 0
    assert(verdicts(2L) == 0L) // exact dup matched across micro-batches
    assert(verdicts(3L) == -1L) // all-ones signature matches nothing
    // batch twin: same operator on a bounded Dataset, same verdicts
    // except cross-batch state (doc 2 arrives with empty state per run)
    val batch = StreamOps.simhashNearDupStream((sigs ++ late).toDS())
      .groupBy("doc_id").agg(max("matched_id").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == verdicts) // doc_id-ordered processing makes them agree
  }

  test("minhashNearDupStream: decisions match the pure-signature model across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    import graft.operators.Dedup
    val batch1 = Seq(
      DocText(0L, "the quick brown fox jumps over the lazy dog"),
      DocText(1L, "completely different words entirely here now folks"),
      DocText(2L, "tiny")) // too short to shingle -> no buckets, no rows
    val batch2 = Seq(
      DocText(3L, "the quick brown fox jumps over the lazy dog")) // exact dup of 0
    val mem = MemoryStream[DocText]
    mem.addData(batch1: _*)
    val q = StreamOps.minhashNearDupStream(mem.toDS())
      .writeStream.format("memory").queryName("mh_out").outputMode("append").start()
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    q.stop()
    val verdicts = spark.table("mh_out")
      .groupBy("doc_id").agg(max("matched_id").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // model: arrival order = doc_id order here, buckets keyed by band sig
    val sigs = (batch1 ++ batch2).map(d => d.doc_id -> Dedup.minhashBandSigs(d.text))
    val expected = {
      val buckets = scala.collection.mutable.Map[(Int, String), List[Long]]()
      sigs.collect { case (id, bs) if bs.nonEmpty =>
        val matches = bs.zipWithIndex.map { case (sig, b) =>
          val mem0 = buckets.getOrElse((b, sig), Nil)
          buckets((b, sig)) = id :: mem0
          mem0.sorted.headOption.getOrElse(-1L)
        }
        id -> matches.max
      }.toMap
    }
    assert(verdicts == expected)
    assert(verdicts(3L) == 0L) // exact dup matched across micro-batches
    assert(verdicts(0L) == -1L && verdicts(1L) == -1L)
    assert(!verdicts.contains(2L)) // shingle-less doc emits nothing
  }

  test("stream near-dup matchers reject parameters their bucketing cannot honour at call time") {
    import graft.streaming.{DocSig, DocText}
    val texts = Seq(DocText(0L, "the quick brown fox jumps over the lazy dog")).toDS()
    val sigs = Seq(DocSig(0L, 0L)).toDS()
    // bands must divide k (16 / 3 would leave minimum 15 in no band) and
    // 4 must divide k (4 slices per md5)
    intercept[IllegalArgumentException] {
      StreamOps.minhashNearDupSigStream(texts, k = 16, bands = 3)
    }
    intercept[IllegalArgumentException] {
      StreamOps.minhashNearDupSigStream(texts, k = 10, bands = 2)
    }
    intercept[IllegalArgumentException] {
      StreamOps.minhashNearDupStream(texts, k = 16, bands = 3)
    }
    intercept[IllegalArgumentException] {
      StreamOps.minhashNearDupStream(texts, k = 10, bands = 2)
    }
    // the 4 x 16-bit pigeonhole only guarantees recall up to hamming 3
    intercept[IllegalArgumentException] {
      StreamOps.simhashNearDupStream(sigs, maxHamming = 4)
    }
    intercept[IllegalArgumentException] {
      StreamOps.simhashNearDupStream(sigs, maxHamming = -1)
    }
  }

  test("minhashNearDupSigStream: NEAR-dup (not exact) pair matched across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    // doc 2 rewrites 4 spread-out words of doc 0's 60 — a genuine near-dup
    // (12 of ~70 union shingles differ), never an exact signature match
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val near = (0 until 60).map(i =>
      if (i % 10 == 0 && i > 0 && i < 50) s"edit$i" else s"tok$i").mkString(" ")
    val far = (0 until 60).map(i => s"other$i").mkString(" ")
    val mem = MemoryStream[DocText]
    mem.addData(DocText(0L, base), DocText(1L, far))
    // bands=8 (2 rows each): a J~0.66 pair shares a band whp, while the
    // full-signature estimate still has 16 minima of resolution
    val q = StreamOps.minhashNearDupSigStream(mem.toDS(), k = 16, bands = 8,
        shingleK = 3, threshold = 0.4)
      .writeStream.format("memory").queryName("sig_out").outputMode("append").start()
    q.processAllAvailable()
    mem.addData(DocText(2L, near)) // second micro-batch
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sig_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val verdict = rows.groupBy(_._1).view
      .mapValues(rs => (rs.map(_._3).max, rs.map(_._4).max)).toMap
    assert(verdict(0L)._1 == -1L && verdict(1L)._1 == -1L)
    assert(verdict(2L)._1 == 0L, s"near-dup pair missed across batches: $verdict")
    val est = verdict(2L)._2
    // the estimate must witness NEAR-dup, not exact-dup
    assert(est >= 0.4 && est < 1.0, s"est_jaccard should be in [0.4, 1): $est")
    // batch twin: identical decisions when all docs arrive in one batch
    val batch = StreamOps.minhashNearDupSigStream(
        Seq(DocText(0L, base), DocText(1L, far), DocText(2L, near)).toDS(),
        k = 16, bands = 8, shingleK = 3, threshold = 0.4)
      .collect().map(d => (d.doc_id, d.band, d.matched_id, d.est_jaccard)).sorted
    assert(batch.toSeq == rows.sorted.toSeq)
  }

  test("minhashNearDupSigStream: identical decisions under RocksDBStateStoreProvider") {
    // the documented corpus-scale configuration (state off-heap/disk with
    // incremental checkpoints) actually RUNS: same near-dup-across-
    // micro-batches scenario as above, state backed by RocksDB instead of
    // the default in-memory HDFS-backed store, byte-identical decisions
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    val near = (0 until 60).map(i =>
      if (i % 10 == 0 && i > 0 && i < 50) s"edit$i" else s"tok$i").mkString(" ")
    val far = (0 until 60).map(i => s"other$i").mkString(" ")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[DocText]
      mem.addData(DocText(0L, base), DocText(1L, far))
      val q = StreamOps.minhashNearDupSigStream(mem.toDS(), k = 16, bands = 8,
          shingleK = 3, threshold = 0.4)
        .writeStream.format("memory").queryName("sig_rocks_out")
        .outputMode("append").start()
      q.processAllAvailable()
      mem.addData(DocText(2L, near))
      q.processAllAvailable()
      // the provider the query ACTUALLY loaded, not just the conf we
      // set: RocksDB surfaces its own custom state-store metrics
      import scala.jdk.CollectionConverters._
      val metricKeys = q.lastProgress.stateOperators
        .flatMap(_.customMetrics.keySet().asScala)
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"query did not run on the RocksDB provider; metrics: ${metricKeys.mkString(",")}")
      q.stop()
      val rows = spark.table("sig_rocks_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).sorted
      val batch = StreamOps.minhashNearDupSigStream(
          Seq(DocText(0L, base), DocText(1L, far), DocText(2L, near)).toDS(),
          k = 16, bands = 8, shingleK = 3, threshold = 0.4)
        .collect().map(d => (d.doc_id, d.band, d.matched_id, d.est_jaccard)).sorted
      assert(rows.toSeq == batch.toSeq)
      assert(rows.exists(r => r._1 == 2L && r._3 == 0L),
        "near-dup across micro-batches must survive the RocksDB store")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("minhashNearDupStream with stateTtl: lambda paths agree with the no-TTL run (batch)") {
    // batch mode exercises the ProcessingTimeTimeout configuration and the
    // setTimeoutDuration call without the streaming scheduler (whose
    // timeout-driven empty batches would make processAllAvailable spin in
    // a unit test); within one run TTL must not change any decision
    import graft.streaming.DocText
    val docs = Seq(
      DocText(0L, "the quick brown fox jumps over the lazy dog"),
      DocText(1L, "the quick brown fox jumps over the lazy dog"),
      DocText(2L, "completely different words entirely here now folks")).toDS()
    def verdicts(ttl: Option[String]) =
      StreamOps.minhashNearDupStream(docs, stateTtl = ttl)
        .groupBy("doc_id").agg(max("matched_id").as("m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val withTtl = verdicts(Some("1 hour"))
    assert(withTtl == verdicts(None))
    assert(withTtl == Map(0L -> -1L, 1L -> 0L, 2L -> -1L))
  }

  test("minhashBandSigs: parity with the Spark md5-expression pipeline") {
    import graft.operators.Dedup
    val text = "one two three four five six seven"
    val df = Seq((0L, text)).toDF("doc_id", "text")
    val sh = df.select(explode(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("sh"))
    val mins = (0 until 16).map { i =>
      min(substring(md5(concat(lit(s"${i / 4}:"), col("sh"))), (i % 4) * 8 + 1, 8)).as(s"h$i")
    }
    val row = sh.agg(mins.head, mins.tail: _*).head()
    val sparkBands = Seq((0 until 8), (8 until 16))
      .map(r => r.map(i => row.getString(i)).mkString)
    assert(Dedup.minhashBandSigs(text).toSeq == sparkBands)
  }

  test("sessionization: stateful stream result equals the batch window twin") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SessionEvent, StreamOps}
    val sessEvents = evs.zipWithIndex.map { case (e, i) =>
      SessionEvent(1000L + (i % 3), i.toLong, e.ts.getTime * 1000L)
    }
    // batch twin over the equivalent frame
    val batchDf = sessEvents
      .map(e => (e.user_id, e.event_id, new java.sql.Timestamp(e.tsMicros / 1000L)))
      .toDF("user_id", "event_id", "ts")
    val batch = StreamOps.sessionizeBatch(batchDf, "user_id", "ts", "event_id", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // streaming path, two micro-batches to exercise carried state
    val mem = MemoryStream[SessionEvent]
    val q = StreamOps.sessionizeStream(mem.toDS(), 30)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    val (first, second) = sessEvents.sortBy(e => (e.tsMicros, e.event_id)).splitAt(60)
    mem.addData(first: _*); q.processAllAvailable()
    mem.addData(second: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(batch.values.max >= 1L)
  }

  test("dedupStream: watermark-evictable state path (keys WITHOUT the ts column)") {
    implicit val sqlCtx = spark.sqlContext
    val dup = evs ++ evs.take(5)
    val mem = MemoryStream[Ev]
    mem.addData(dup: _*)
    // event_type+value identify an event here; ts deliberately NOT a key
    val q = StreamOps.dedupStream(mem.toDF(), "ts", Seq("event_type", "value"))
      .writeStream.format("memory").queryName("dedup_wm_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup_wm_out").count() == evs.size)
  }

  test("minhashAgainstStream: stream-static join equals batch, exact copy scores 1.0") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val mk = (words: Seq[String]) => words.mkString(" ")
    val base = (0 until 12).map(w => s"w$w")
    val corpus = Seq((1L, mk(base)), (2L, mk(base.map(_ + "x"))))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashBandIndexMd5(
      corpus, "doc_id", "text", k = 12, bands = 2, shingleK = 3)
    val incoming = Seq(
      DocText(10L, mk(base)),            // exact copy of corpus 1
      DocText(11L, mk(base :+ "zq")),    // near copy
      DocText(12L, mk((0 until 12).map(w => s"v$w"))), // novel
      DocText(13L, "too short"))         // unshingleable: no bucket
    val mem = MemoryStream[DocText]
    mem.addData(incoming: _*)
    val q = StreamOps.minhashAgainstStream(index, mem.toDF(),
        k = 12, bands = 2, shingleK = 3, threshold = 0.8)
      .writeStream.format("memory").queryName("against_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("against_out")
      .select("corpus_id", "doc_id", "est_jaccard").distinct()
      .orderBy("corpus_id", "doc_id").collect().map(_.toSeq).toSeq
    val batch = StreamOps.minhashAgainstStream(index,
        incoming.toDF().select(col("doc_id"), col("text")),
        k = 12, bands = 2, shingleK = 3, threshold = 0.8)
      .select("corpus_id", "doc_id", "est_jaccard").distinct()
      .orderBy("corpus_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    val byDoc = streamed.map(r => r(1) -> (r(0), r(2))).toMap
    assert(byDoc(10L) == ((1L, 1.0))) // exact copy: all 12 minima agree
    assert(byDoc.contains(11L))       // near copy matches corpus 1
    assert(!byDoc.contains(12L) && !byDoc.contains(13L))
  }

  test("contaminationHitsStream: stream hits equal batch decontaminate counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four")).toDF("doc_id", "text")
    val (evalNg, bloom) = graft.operators.Corpus.decontaminationIndex(eval, "text", 4)
    val incoming = Seq(
      DocText(1L, "x alpha beta gamma delta y"),
      DocText(2L, "nothing shared here at all"),
      DocText(3L, "alpha beta gamma delta epsilon and one two three four"),
      DocText(4L, "too short"))
    val mem = MemoryStream[DocText]
    mem.addData(incoming.take(2): _*)
    mem.addData(incoming.drop(2): _*) // two micro-batches
    val q = StreamOps.contaminationHitsStream(evalNg, bloom, mem.toDF(),
        "doc_id", "text", 4)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("contam_out").groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.Corpus.decontaminate(
        incoming.toDF(), "doc_id", "text", eval, "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch && streamed == Map(1L -> 1L, 3L -> 3L),
      s"streamed=$streamed batch=$batch")
  }

  test("dsirScoreStream: stream scores equal batch weights bit for bit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val corpus = Seq(
      (1L, "alpha beta alpha beta gamma", true),
      (2L, "gamma delta gamma delta", false),
      (3L, "alpha gamma beta delta alpha", true),
      (4L, "delta delta delta beta", false)
    ).toDF("doc_id", "text", "is_t")
    val table = graft.operators.Corpus.dsirDistTable(
      corpus, "doc_id", "text", col("is_t"), 256)
    // scoring the corpus's own docs through the stream path must equal
    // the batch operator exactly (decimal folds are order-independent)
    val batch = graft.operators.Corpus.dsirLogWeights(
        corpus, "doc_id", "text", col("is_t"), 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val docs = Seq(DocText(1L, "alpha beta alpha beta gamma"),
      DocText(2L, "gamma delta gamma delta"),
      DocText(3L, "alpha gamma beta delta alpha"),
      DocText(4L, "delta delta delta beta"),
      DocText(9L, "zzz-unseen-feature yyy-unseen")) // unseen buckets
    val mem = MemoryStream[DocText]
    mem.addData(docs.take(3): _*)
    mem.addData(docs.drop(3): _*)
    val q = StreamOps.dsirScoreStream(table, mem.toDF(), "doc_id", "text", 256)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_out")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (1L to 4L).foreach(id => assert(streamed(id) == batch(id),
      s"doc $id: stream=${streamed(id)} batch=${batch(id)}"))
    // the unseen doc scores through the count-0 default, finite
    assert(streamed(9L)._1 == 3L && !streamed(9L)._2.isNaN)
    // stateless plan: the streaming side must contain no agg state
    assert(spark.table("dsir_out").columns.toSeq ==
      Seq("doc_id", "n_feats", "dsir_logweight"))
  }

  test("minhashAgainstStream: corpus index round-trips through parquet (build once, reuse)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val mk = (words: Seq[String]) => words.mkString(" ")
    val base = (0 until 12).map(w => s"w$w")
    val corpus = Seq((1L, mk(base)), (2L, mk(base.map(_ + "x"))))
      .toDF("doc_id", "text")
    val fresh = graft.operators.Dedup.minhashBandIndexMd5(
      corpus, "doc_id", "text", k = 12, bands = 2, shingleK = 3)
    // the operational shape: the index build is the one corpus scan,
    // written out once and joined by every later ingestion batch
    val dir = java.nio.file.Files.createTempDirectory("graft_mhidx").toString
    fresh.write.mode("overwrite").parquet(dir)
    val loaded = spark.read.parquet(dir)
    val incoming = Seq(DocText(10L, mk(base)), DocText(11L, mk(base :+ "zq"))).toDF()
      .select(col("doc_id"), col("text"))
    def run(idx: org.apache.spark.sql.DataFrame) =
      StreamOps.minhashAgainstStream(idx, incoming, k = 12, bands = 2,
          shingleK = 3, threshold = 0.8)
        .select("corpus_id", "doc_id", "est_jaccard").distinct()
        .orderBy("corpus_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(run(loaded) == run(fresh))
    assert(run(loaded).nonEmpty)
    // k/bands ride as sig-field metadata THROUGH the parquet round-trip,
    // so compatibility validation is schema-only (no action in the
    // caller's timed window) and a mismatched k fails fast
    for (idx <- Seq(fresh, loaded)) {
      val m = idx.schema("sig").metadata
      assert(m.getLong("minhash_k") == 12L && m.getLong("minhash_bands") == 2L)
      val e = intercept[IllegalArgumentException](
        StreamOps.minhashAgainstStream(idx, incoming, k = 16, bands = 2))
      assert(e.getMessage.contains("built with k=12"))
      val eb = intercept[IllegalArgumentException](
        StreamOps.minhashAgainstStream(idx, incoming, k = 12, bands = 4))
      assert(eb.getMessage.contains("built with bands=2"))
    }
    // the metadata path runs ZERO Spark jobs at construction time — the
    // whole point: no action inside the caller's timed window
    loaded.count() // materialize the scan so the probe below is clean
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    StreamOps.minhashAgainstStream(loaded, incoming, k = 12, bands = 2)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore,
      s"metadata-validated construction ran ${jobsAfter - jobsBefore} Spark job(s)")
    // a FOREIGN index (no builder metadata) still hits the eager shape
    // check: strip the metadata and present a wrong-k index
    val stripped = loaded.select(
      col("corpus_id"), col("band"), col("bsig"),
      // a bare alias of an attribute INHERITS its metadata in Catalyst —
      // explicitly alias with empty metadata to simulate a foreign index
      col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty))
    assert(!stripped.schema("sig").metadata.contains("minhash_k"))
    assert(run(stripped) == run(fresh)) // right shape: eager check passes
    val eForeign = intercept[IllegalArgumentException](
      StreamOps.minhashAgainstStream(stripped, incoming, k = 16, bands = 2))
    assert(eForeign.getMessage.contains("signature length"))
  }

  test("minhashAgainstStream: streaming dropDuplicates collapses multi-band hits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val mk = (words: Seq[String]) => words.mkString(" ")
    val base = (0 until 12).map(w => s"w$w")
    val corpus = Seq((1L, mk(base))).toDF("doc_id", "text")
    val index = graft.operators.Dedup.minhashBandIndexMd5(
      corpus, "doc_id", "text", k = 12, bands = 2, shingleK = 3)
    val mem = MemoryStream[DocText]
    mem.addData(DocText(10L, mk(base))) // exact copy: hits BOTH bands
    // the documented downstream contract: per-band rows dedup to one
    // row per (corpus_id, doc_id) pair — IN the stream, not post-hoc
    val q = StreamOps.minhashAgainstStream(index, mem.toDF(),
        k = 12, bands = 2, shingleK = 3, threshold = 0.8)
      .drop("band").dropDuplicates("corpus_id", "doc_id")
      .writeStream.format("memory").queryName("against_dd_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("against_dd_out").collect()
    assert(rows.length == 1) // both band hits collapsed in-stream
    assert(rows.head.getAs[Long]("corpus_id") == 1L)
    assert(rows.head.getAs[Double]("est_jaccard") == 1.0)
  }

  test("embeddingAgainstStream: stream hits equal the batch against-operator pairs") {
    implicit val sqlCtx = spark.sqlContext
    val planes = graft.functions.VectorFunctions.md5SignPlanes(4, 3, 8)
    val mkv = (s: Double) => Array.tabulate(8)(d => (d + 1.0) * s)
    val corpus = Seq((1L, mkv(1.0)), (2L, mkv(-1.0))).toDF("vec_id", "embedding")
    val index = graft.operators.Dedup.embeddingBandIndex(
      corpus, "vec_id", "embedding", planes)
    val incoming = Seq((10L, mkv(0.5)), (11L, mkv(-2.0)))
    val mem = MemoryStream[(Long, Array[Double])]
    mem.addData(incoming: _*)
    val q = StreamOps.embeddingAgainstStream(index,
        mem.toDF().toDF("vec_id", "embedding"), planes, threshold = 0.9)
      .writeStream.format("memory").queryName("eag_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("eag_out")
      .select("corpus_id", "doc_id", "cos").distinct()
      .orderBy("corpus_id", "doc_id").collect().map(_.toSeq).toSeq
    // the batch against-operator computes the same candidates + exact
    // cosine, so pair sets AND scores must agree bit-for-bit
    val batch = graft.operators.Dedup.embeddingNearDupAgainst(
        corpus, incoming.toDF("vec_id", "embedding"), "vec_id", "embedding",
        0.9, planes = planes)
      .select(col("id_a").as("corpus_id"), col("id_b").as("doc_id"), col("cos"))
      .orderBy("corpus_id", "doc_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r(0), r(1))).toSet == Set((1L, 10L), (2L, 11L)))
  }

  test("runningValueCounts on a stream (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(evs: _*)
    val q = StreamOps.runningValueCounts(mem.toDF(), "event_type")
      .writeStream.format("memory").queryName("vc_out").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val m = spark.table("vc_out").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("click") == evs.count(_.event_type == "click"))
    assert(m.values.sum == evs.size)
  }

  test("cdcClassifyStream: stream equals batch; added/changed only, unchanged dropped") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val base = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val index = StreamOps.cdcIndex(base, "doc_id", "text")
    val incoming = Seq(
      DocText(1L, "alpha"),   // unchanged: dropped
      DocText(2L, "beta v2"), // changed
      DocText(9L, "delta"))   // added
    val mem = MemoryStream[DocText]
    mem.addData(incoming: _*)
    val q = StreamOps.cdcClassifyStream(index, mem.toDF(), "doc_id", "text")
      .writeStream.format("memory").queryName("cdc_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cdc_out").select("doc_id", "status")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val batch = StreamOps.cdcClassifyStream(index, incoming.toDF(), "doc_id", "text")
      .select("doc_id", "status")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(streamed == batch)
    assert(streamed == Seq((2L, "changed"), (9L, "added")))
  }

  test("fuzzyMatchAgainstStream: stream hits equal the batch pairs; typo linked, distant name not") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val corpus = Seq((1L, "acme widget"), (2L, "zenith gadget"))
      .toDF("doc_id", "text")
    val idx = graft.operators.Dedup.fuzzyIndex(corpus, "doc_id", "text")
    val incoming = Seq(
      DocText(10L, "acme widgey"),   // distance 1 from corpus 1
      DocText(11L, "acme thing"))    // too far from everything
    val mem = MemoryStream[DocText]
    mem.addData(incoming: _*)
    val q = StreamOps.fuzzyMatchAgainstStream(idx, mem.toDF(), "doc_id", "text")
      .writeStream.format("memory").queryName("fuzzy_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("fuzzy_out")
      .select("corpus_id", "doc_id", "dist").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == Set((1L, 10L, 1)))
    val batch = StreamOps.fuzzyMatchAgainstStream(idx, incoming.toDF(), "doc_id", "text")
      .select("corpus_id", "doc_id", "dist").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamed == batch)
  }

  test("lineVerdictsStream: stream verdicts reassemble to exactly Corpus.dedupLines") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocText
    val corpus = Seq(
      (1L, "cookie banner\nunique one\n\nfooter"),
      (2L, "cookie banner\nunique two\nfooter"),
      (3L, "only original text here")).toDF("doc_id", "text")
    val idx = StreamOps.lineIndex(corpus, "doc_id", "text", minDf = 2)
    val incoming = Seq(
      DocText(1L, "cookie banner\nunique one\n\nfooter"),
      DocText(2L, "cookie banner\nunique two\nfooter"),
      DocText(3L, "only original text here"))
    val mem = MemoryStream[DocText]
    mem.addData(incoming.take(2): _*)
    mem.addData(incoming.drop(2): _*)
    val q = StreamOps.lineVerdictsStream(idx, mem.toDF(), "doc_id", "text")
      .writeStream.format("memory").queryName("lines_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    // sink-side reassembly: the same ordered fold the batch operator uses
    val reassembled = spark.table("lines_out")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"), struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = graft.operators.Corpus.dedupLines(corpus, "doc_id", "text", minDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(reassembled == batch, s"stream=$reassembled batch=$batch")
    // blank line kept, boilerplate dropped in the verdicts themselves
    val v = spark.table("lines_out")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(3)).toMap
    assert(v((1L, 0)) == false && v((1L, 1)) == true && v((1L, 2)) == true)
  }

  test("sessionizeBatch agrees with Spark's native session_window grouping") {
    // two users, sessions of 3/2/1 events separated by >gap quiet; all
    // inter-event gaps strictly off the 5-minute boundary (the two
    // formulations disagree only AT exact-gap ties: ours keeps `<= gap`
    // together, session_window's half-open [start, last+gap) splits)
    def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 01:$min%02d:00")
    val rows = Seq(
      (1L, 10L, ts(0)), (1L, 11L, ts(2)), (1L, 12L, ts(4)),  // session A
      (1L, 13L, ts(20)), (1L, 14L, ts(21)),                  // session B
      (2L, 20L, ts(5)),                                      // session C
      (2L, 21L, ts(30)), (2L, 22L, ts(33))                   // session D
    ).toDF("user_id", "event_id", "ts")
    val custom = StreamOps.sessionizeBatch(rows, "user_id", "ts", "event_id", 5)
      .groupBy("user_id", "session_id").count()
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val native = rows
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .count()
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(custom == native, s"custom $custom vs native $native")
    assert(custom(1L) == Seq(2L, 3L) && custom(2L) == Seq(1L, 2L))
  }

  test("intervalJoinStream: stream-stream join equals batch, across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    case class V(user_id: Long, view_id: Long, view_ts: Timestamp)
    case class C(c_user_id: Long, click_id: Long, click_ts: Timestamp)
    def ts(min: Int, sec: Int = 0) =
      Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")
    val views = (0 until 20).map(i => (i % 5L, 100L + i, ts(i)))
    val clicks = (0 until 20).map(i => (i % 5L, 200L + i, ts(i, 30)))
    val memV = MemoryStream[(Long, Long, Timestamp)]
    val memC = MemoryStream[(Long, Long, Timestamp)]
    val sv = memV.toDF().toDF("user_id", "view_id", "view_ts")
    val sc = memC.toDF().toDF("c_user_id", "click_id", "click_ts")
    val q = StreamOps.intervalJoinStream(sv, sc, "user_id", "c_user_id",
        "view_ts", "click_ts", "3 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("ij_out").outputMode("append").start()
    // matching pairs split ACROSS batches: views first, clicks later
    memV.addData(views.take(10): _*); q.processAllAvailable()
    memC.addData(clicks.take(10): _*); q.processAllAvailable()
    memV.addData(views.drop(10): _*); memC.addData(clicks.drop(10): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ij_out")
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = StreamOps.intervalJoinStream(
        views.toDF("user_id", "view_id", "view_ts"),
        clicks.toDF("c_user_id", "click_id", "click_ts"),
        "user_id", "c_user_id", "view_ts", "click_ts", "3 minutes")
      .select("user_id", "view_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
    assert(batch.nonEmpty)
    // the time bound actually excludes: a click 3.5 min after its view
    // must not pair (view at :00, click at i+3 min :30 same user exists
    // only via other views) — verify one concrete exclusion
    assert(!batch.contains((0L, 100L, 200L + 15)),
      "click 15.5 min after view 0 must be outside the 3-minute window")
  }

  test("topKStream: update-mode stream converges to the batch top-k across batches") {
    implicit val sqlCtx = spark.sqlContext
    // values arranged so the top-k CHANGES in the second batch (late
    // large values evict early ones) — convergence, not append luck
    val all = (0 until 60).map(i =>
      graft.streaming.RankedItem(s"g${i % 3}", ((i * 37) % 100).toDouble, i.toLong))
    val (b1, b2) = all.splitAt(30)
    val mem = MemoryStream[graft.streaming.RankedItem]
    val q = StreamOps.topKStream(mem.toDS(), 4)
      .writeStream.format("memory").queryName("topk_out").outputMode("update").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // memory sink in update mode appends each update; the LAST update
    // per group is the converged verdict
    val updates = spark.table("topk_out").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // each batch emits the group's full current top-4, appended in batch
    // order — the trailing 4 rows per group are the converged verdict
    val finalPerGroup = updates.zipWithIndex
      .groupBy(_._1._1)
      .map { case (g, rows) => g -> rows.sortBy(_._2).map(_._1).takeRight(4) }
    val batch = StreamOps.topKStream(all.toDS(), 4).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    finalPerGroup.foreach { case (g, got) =>
      assert(got.toSeq == batch(g).sortBy(_._2).toSeq, s"group $g diverged")
    }
    assert(batch.size == 3)
    // bounded state: the batch path emits exactly k rows per group
    assert(batch.values.forall(_.length == 4))
  }

  test("transitionsStream: cross-batch pairs survive, counts equal the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TypedEvent
    val types = Array("a", "b", "c")
    val tevs = (0 until 90).map { i =>
      TypedEvent(i % 5, i.toLong, 1700000000000000L + i * 1000000L,
        types((i * 7) % 3))
    }
    val mem = MemoryStream[TypedEvent]
    val q = StreamOps.transitionsStream(mem.toDS())
      .writeStream.format("memory").queryName("trans_out").outputMode("append").start()
    // split mid-stream: per-user adjacency straddles the batch boundary
    val (b1, b2) = tevs.splitAt(41)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans_out")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchDf = tevs
      .map(e => (e.user_id, new Timestamp(e.tsMicros / 1000), e.event_id, e.event_type))
      .toDF("user_id", "ts", "event_id", "event_type")
    val batch = graft.operators.Events
      .eventTransitions(batchDf, "user_id", "ts", "event_type", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // 90 events over 5 users -> 85 transitions total
    assert(streamed.values.sum == 85L)
  }

  test("cusumStream: S carries across the batch boundary; alarms == batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CusumPoint
    def day(d: Int) = java.sql.Date.valueOf(f"2024-03-$d%02d")
    // g: 4,4,4,4,24,24 with ref 11, h 22 -> alarm only on day 6 (s=26);
    // the shift spans the batch split, so day 6's alarm NEEDS day 5's
    // carried s=13
    val pts = Seq(4, 4, 4, 4, 24, 24).zipWithIndex.map { case (c, i) =>
      CusumPoint("g", day(i + 1), c.toLong, 11L, 22L)
    }
    val mem = MemoryStream[CusumPoint]
    val q = StreamOps.cusumStream(mem.toDS())
      .writeStream.format("memory").queryName("cusum_out").outputMode("append").start()
    val (b1, b2) = pts.splitAt(5)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cusum_out").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2))).toSeq
    assert(streamed == Seq(("g", "2024-03-06", 26L)))
    // equal to the batch operator on the equivalent raw events
    val ev = pts.flatMap(p => (0 until p.cnt.toInt).map(i =>
      ("g", new Timestamp(p.day.getTime + i * 1000L))))
      .toDF("event_type", "ts")
    val batch = graft.operators.Events.cusumAlarms(ev, "event_type", "ts", hMult = 2)
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2))).toSeq
    assert(batch == streamed)
  }

  test("adaptiveConformalStream: matches the sequential ACI model across batch splits; coverage tracks the target under drift") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ConformalPoint, ConformalVerdict}
    val alpha = 0.1; val gamma = 0.05; val calWindow = 50; val minCal = 10
    // deterministic drifting scores: unit scale for 100 points, then a
    // 3x scale shift (the regime ACI exists for)
    def score(i: Int): Double = {
      val base = ((i * 2654435761L) % 1000).toDouble / 1000.0
      if (i < 100) base else 3.0 * base
    }
    val pts = (0 until 200).map(i => ConformalPoint("k", i.toLong, score(i)))
    // the pure sequential reference: test-then-train, exact rank
    var a = alpha; var win = List.empty[Double]
    val expect = pts.map { p =>
      val n = win.length
      val warmup = n < minCal
      val qhat =
        if (warmup) Double.NaN
        else {
          val r = math.ceil((n + 1) * (1.0 - a)).toLong
          if (r > n || r < 1L) Double.NaN else win.sorted.apply(r.toInt - 1)
        }
      val err = if (!qhat.isNaN && p.score > qhat) 1.0 else 0.0
      if (!warmup) a = math.min(0.999, math.max(1e-6, a + gamma * (alpha - err)))
      win = (p.score :: win).take(calWindow)
      ConformalVerdict("k", p.seq, qhat, err == 0.0, a)
    }
    val mem = MemoryStream[ConformalPoint]
    val q = StreamOps.adaptiveConformalStream(mem.toDS(), alpha, gamma,
        calWindow, minCal)
      .writeStream.format("memory").queryName("aci_out").outputMode("append").start()
    // split mid-drift so both the window and alpha must carry over
    val (b1, rest) = pts.splitAt(60)
    val (b2, b3) = rest.splitAt(60)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b3: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("aci_out").collect()
      .map(r => ConformalVerdict(r.getString(0), r.getLong(1),
        r.getDouble(2), r.getBoolean(3), r.getDouble(4)))
      .sortBy(_.seq)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (g, e) =>
      val qEq = (g.qhat.isNaN && e.qhat.isNaN) || g.qhat == e.qhat
      assert(qEq && g.covered == e.covered && g.alpha == e.alpha,
        s"seq=${g.seq}: got $g expected $e")
    }
    // long-run empirical coverage stays near 1 - alpha despite the shift
    val judged = expect.filter(!_.qhat.isNaN)
    val cov = judged.count(_.covered).toDouble / judged.length
    assert(cov > 0.82 && cov < 0.98, s"coverage $cov drifted off 0.9")
    // and alpha reacted to the drift: it dipped (wider intervals) after
    // the scale shift before recovering
    val minAlphaAfterShift = got.filter(_.seq >= 100).map(_.alpha).min
    assert(minAlphaAfterShift < alpha, s"ACI never widened: $minAlphaAfterShift")
  }

  test("binnedQuantilesStream: final snapshot across a batch split is bit-identical to batch binnedQuantiles") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BinnedPoint
    import graft.operators.Sketches
    val qs = Seq(25 -> 100, 50 -> 100, 75 -> 100, 99 -> 100)
    // deterministic skewed lengths over one key
    val xs = (0 until 500).map(i => ((i * 2654435761L) % 9973) + 7L)
    val pts = xs.map(x => BinnedPoint("k", x))
    val mem = MemoryStream[BinnedPoint]
    val q = StreamOps.binnedQuantilesStream(mem.toDS(), xs.min, xs.max, qs)
      .writeStream.format("memory").queryName("bq_out").outputMode("append").start()
    val (b1, b2) = pts.splitAt(200)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    // per-batch snapshots: one row per quantile per batch
    val rows = spark.table("bq_out").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.count(_._1 == 200L) == qs.length &&
      rows.count(_._1 == 500L) == qs.length)
    val streamed = rows.filter(_._1 == 500L).map(t => t._2 -> t._3).toMap
    // batch twin derives the SAME grid (min/max of the full data)
    val batch = Sketches.binnedQuantiles(xs.toDF("v"), "v", qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    // the mid-stream snapshot equals the batch op run on the prefix
    val mid = rows.filter(_._1 == 200L).map(t => t._2 -> t._3).toMap
    val lo = xs.min; val hi = xs.max
    val prefix = b1.map(_.x)
    // prefix under the FROZEN full grid: replicate via the stream op in
    // one batch (the batch operator would re-derive a narrower grid)
    val mem2 = MemoryStream[BinnedPoint]
    val q2 = StreamOps.binnedQuantilesStream(mem2.toDS(), lo, hi, qs)
      .writeStream.format("memory").queryName("bq_out2").outputMode("append").start()
    mem2.addData(b1: _*); q2.processAllAvailable()
    q2.stop()
    val oneShot = spark.table("bq_out2").collect()
      .map(r => r.getDouble(2) -> r.getDouble(3)).toMap
    assert(mid == oneShot, "incremental state diverged from a one-batch run")
  }
  test("cupedStream: matches batch cuped at the final snapshot and a sequential model across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CupedPoint, CupedSnapshot}
    import graft.operators.Stats
    // deterministic units over 6 days: x correlated with y plus an
    // arm-independent offset, so theta is real and diff_cuped != diff_raw
    val pts = (0 until 120).map { i =>
      val day = (i / 20).toLong
      val arm = (i % 2).toLong
      val x = ((i * 2654435761L) % 50).toLong
      val y = 3L * x + ((i * 40503L) % 17) + arm * 2L
      CupedPoint("k", day, arm, x, y)
    }
    // sequential reference: fold day by day with exact moments
    var (nc, nt, xc, xt, yc, yt) = (0L, 0L, 0L, 0L, 0L, 0L)
    var (sxy, sxx) = (BigDecimal(0), BigDecimal(0))
    val expect = pts.groupBy(_.day).toSeq.sortBy(_._1).map { case (d, ps) =>
      ps.foreach { p =>
        if (p.arm == 0L) { nc += 1; xc += p.x; yc += p.y }
        else { nt += 1; xt += p.x; yt += p.y }
        sxy += BigDecimal(p.x) * BigDecimal(p.y)
        sxx += BigDecimal(p.x) * BigDecimal(p.x)
      }
      val nD = (nc + nt).toDouble; val sx = (xc + xt).toDouble
      val sy = (yc + yt).toDouble
      val covN = nD * sxy.toDouble - sx * sy
      val varXN = nD * sxx.toDouble - sx * sx
      val dr = yt.toDouble / nt - yc.toDouble / nc
      val th = covN / varXN
      (d, nc, nt, dr, th,
        dr - th * (xt.toDouble / nt - xc.toDouble / nc))
    }
    val mem = MemoryStream[CupedPoint]
    val q = StreamOps.cupedStream(mem.toDS())
      .writeStream.format("memory").queryName("cuped_out")
      .outputMode("append").start()
    // day-aligned split: days 0-2 then 3-5, so the moments must carry
    val (b1, b2) = pts.partition(_.day <= 2L)
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("cuped_out").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    assert(got.length == expect.length)
    got.zip(expect).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3 &&
        g._4 == e._4 && g._5 == e._5 && g._6 == e._6,
        s"day ${g._1}: got $g expected $e")
    }
    // the final snapshot replays batch cuped (raw vs round(6) grid)
    val units = pts.toDF()
    val batch = Stats.cuped(units, "x", "y", "arm").collect().head
    val last = got.last
    assert(math.rint(last._4 * 1e6) / 1e6 == batch.getDouble(2) ||
      math.abs(last._4 - batch.getDouble(2)) < 1e-6)
    assert(math.abs(last._5 - batch.getDouble(3)) < 1e-6 &&
      math.abs(last._6 - batch.getDouble(4)) < 1e-6)
  }

  test("cupedDeltaStream: w=1 replays cupedStream bit for bit; weights = replication; late shards fold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CupedPoint, CupedWPoint}
    val pts = (0 until 120).map { i =>
      val day = (i / 20).toLong
      val arm = (i % 2).toLong
      val x = ((i * 2654435761L) % 50).toLong
      val y = 3L * x + ((i * 40503L) % 17) + arm * 2L
      CupedPoint("k", day, arm, x, y)
    }
    // reference: the unweighted stream over the same units
    val memU = MemoryStream[CupedPoint]
    val qU = StreamOps.cupedStream(memU.toDS())
      .writeStream.format("memory").queryName("cdw_ref")
      .outputMode("append").start()
    memU.addData(pts: _*); qU.processAllAvailable(); qU.stop()
    val ref = spark.table("cdw_ref").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)

    // w = 1 through the delta path, split across two day-aligned
    // batches so the weighted state must carry
    val wpts = pts.map(p => CupedWPoint(p.key, p.day, p.arm, 1L, p.x, p.y))
    val memW = MemoryStream[CupedWPoint]
    val qW = StreamOps.cupedDeltaStream(
        StreamOps.cupedWeightedDeltas(memW.toDS()))
      .writeStream.format("memory").queryName("cdw_got")
      .outputMode("append").start()
    val (b1, b2) = wpts.partition(_.day <= 2L)
    memW.addData(b1: _*); qW.processAllAvailable()
    memW.addData(b2: _*); qW.processAllAvailable()
    qW.stop()
    val got = spark.table("cdw_got").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    assert(got.length == ref.length)
    got.zip(ref).foreach { case (g, e) =>
      assert(g == e, s"day ${g._1}: delta path $g vs unweighted $e")
    }

    // frequency weights ARE replication: w=3 on one unit == the unit
    // appearing 3 times unweighted
    val rep = pts.flatMap(p => Seq.fill(3)(p))
    val memR = MemoryStream[CupedPoint]
    val qR = StreamOps.cupedStream(memR.toDS())
      .writeStream.format("memory").queryName("cdw_rep")
      .outputMode("append").start()
    memR.addData(rep: _*); qR.processAllAvailable(); qR.stop()
    val repRef = spark.table("cdw_rep").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    val w3 = pts.map(p => CupedWPoint(p.key, p.day, p.arm, 3L, p.x, p.y))
    val memR3 = MemoryStream[CupedWPoint]
    val qR3 = StreamOps.cupedDeltaStream(
        StreamOps.cupedWeightedDeltas(memR3.toDS()))
      .writeStream.format("memory").queryName("cdw_w3")
      .outputMode("append").start()
    memR3.addData(w3: _*); qR3.processAllAvailable(); qR3.stop()
    val gotW3 = spark.table("cdw_w3").collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1)
    assert(gotW3.toSeq == repRef.toSeq,
      "w=3 deltas diverged from 3x replicated unweighted units")

    // a LATE shard of an already-snapshotted day folds into the state:
    // the next day's snapshot includes it (the additive-moments
    // contract — same as a day split across batches in cupedStream)
    val d0 = wpts.filter(_.day == 0L)
    val d1 = wpts.filter(_.day == 1L)
    val (d0a, d0b) = d0.splitAt(d0.length / 2)
    val memL = MemoryStream[CupedWPoint]
    val qL = StreamOps.cupedDeltaStream(
        StreamOps.cupedWeightedDeltas(memL.toDS()))
      .writeStream.format("memory").queryName("cdw_late")
      .outputMode("append").start()
    memL.addData(d0a: _*); qL.processAllAvailable()
    memL.addData(d0b: _*); qL.processAllAvailable() // late day-0 shard
    memL.addData(d1: _*); qL.processAllAvailable()
    qL.stop()
    val lateRows = spark.table("cdw_late").collect().map(r =>
      (r.getLong(1), r.getLong(2) + r.getLong(3))).sortBy(_._1)
    // two day-0 fragment snapshots (half then full mass), then day 1
    val day0 = d0.map(_.w).sum
    assert(lateRows.count(_._1 == 0L) == 2)
    assert(lateRows.filter(_._1 == 0L).map(_._2).max == day0)
    assert(lateRows.filter(_._1 == 1L).head._2 == day0 + d1.map(_.w).sum)
  }
}
