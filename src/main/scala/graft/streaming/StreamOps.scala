package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class SessionEvent(user_id: Long, event_id: Long, tsMicros: Long)
case class SessionAssignment(user_id: Long, event_id: Long, session_id: Long)
case class SessionState(lastTsMicros: Long, sessionId: Long)

case class DocText(doc_id: Long, text: String)
case class MinhashDupDecision(doc_id: Long, band: Int, matched_id: Long)
case class BandBucketState(members: List[Long])

/** matched_id = earliest bucket-mate whose FULL signature agrees on >=
  * the similarity threshold's share of minima (-1 = none); est_jaccard =
  * that mate's agreement fraction (the unbiased MinHash estimate of
  * Jaccard), 0.0 when novel.
  */
case class MinhashSigDecision(doc_id: Long, band: Int, matched_id: Long, est_jaccard: Double)
case class SigMember(id: Long, sig: String)
case class SigBucketState(members: List[SigMember])

/** One element of a grouped top-k stream: (group, value, id). */
case class RankedItem(g: String, v: Double, id: Long)

/** A typed event for the transition stream: (user, id, event-time
  * micros, type).
  */
case class TypedEvent(user_id: Long, event_id: Long, tsMicros: Long,
    event_type: String)

/** One (key, day) count with its FROZEN CUSUM parameters riding along
  * (joined stream-static upstream, the against-family pattern):
  * reference k and decision threshold h.
  */
case class CusumPoint(key: String, day: java.sql.Date, cnt: Long,
    ref: Long, h: Long)

/** One keyed prequential observation for [[StreamOps.adaptiveConformalStream]]:
  * `seq` is the per-key arrival order (ties broken by it), `score` the
  * point's nonconformity (e.g. |y − ŷ| against a frozen predictor).
  */
case class ConformalPoint(key: String, seq: Long, score: Double)

/** The prequential verdict for one point: `qhat` is the interval
  * half-width IN FORCE when the point arrived (NaN while the
  * calibration window is still warming up / when the adjusted rank
  * exceeds the window — no finite-sample guarantee exists yet),
  * `covered` whether the point fell inside it, `alpha` the miscoverage
  * target AFTER the adaptive update.
  */
case class ConformalVerdict(key: String, seq: Long, qhat: Double,
    covered: Boolean, alpha: Double)

case class ConformalState(alpha: Double, window: List[Double])

/** One experiment unit for [[StreamOps.cupedStream]]: `day` is the
  * unit's arrival day (per-key monotone across batches — the keyed-log
  * delivery contract), `arm` 0=control / else treatment, `x` the
  * FROZEN pre-period covariate, `y` the outcome. Integer metrics keep
  * every moment exact.
  */
case class CupedPoint(key: String, day: Long, arm: Long, x: Long, y: Long)

/** Exact cumulative CUPED moments carried across batches: linear sums
  * as BIGINTs (exact to ~9e18 of metric mass), the three cross-moment
  * sums as DECIMAL(38,18) — integer-valued, exact to ~1e20 of x·y
  * mass. */
case class CupedMoments(nc: Long, nt: Long, xc: Long, xt: Long,
    yc: Long, yt: Long, sxy: BigDecimal, sxx: BigDecimal, syy: BigDecimal)

/** One per-day CUPED snapshot: the θ in force AFTER folding the day in
  * (per-day refresh), with diff_raw/diff_cuped over the cumulative
  * arms; None while an arm is empty (no diff exists) or Var(x)=0 (no
  * adjustment exists). Raw IEEE doubles — the declared query rounds at
  * the readout like every batch twin.
  */
case class CupedSnapshot(key: String, day: Long, n_c: Long, n_t: Long,
    diff_raw: Option[Double], theta: Option[Double],
    diff_cuped: Option[Double])

/** One WEIGHTED experiment unit for the hot-key CUPED path
  * ([[StreamOps.cupedWeightedDeltas]] → [[StreamOps.cupedDeltaStream]]):
  * `w` is an integer frequency/replication weight (w = 1 recovers the
  * unweighted stream bit for bit). */
case class CupedWPoint(key: String, day: Long, arm: Long, w: Long,
    x: Long, y: Long)

/** A pre-reduced per-(key, day) weighted-moment delta: Σw per arm,
  * Σw·x / Σw·y per arm, pooled Σw·xy / Σw·x² / Σw·y². All moments are
  * ADDITIVE, so any partition of the unit stream into deltas folds to
  * the same state — the property that lets a hot experiment key be
  * map-side pre-reduced before the keyed state ever sees it. */
case class CupedDelta(key: String, day: Long, wc: Long, wt: Long,
    sxc: BigDecimal, sxt: BigDecimal, syc: BigDecimal, syt: BigDecimal,
    sxy: BigDecimal, sxx: BigDecimal, syy: BigDecimal)

/** Exact cumulative WEIGHTED CUPED moments carried across batches. */
case class CupedWMoments(wc: Long, wt: Long, sxc: BigDecimal,
    sxt: BigDecimal, syc: BigDecimal, syt: BigDecimal,
    sxy: BigDecimal, sxx: BigDecimal, syy: BigDecimal)

/** One keyed integer observation for [[StreamOps.binnedQuantilesStream]]. */
case class BinnedPoint(key: String, x: Long)

/** One quantile of the data a key has seen SO FAR: after each batch the
  * stream emits a fresh (n, q, est) snapshot per declared quantile.
  */
case class BinnedQuantileRow(key: String, n: Long, q: Double, est: Double)

case class BinState(counts: Seq[Long])

/** An alarm: the reflected running sum s exceeded h on `day`. */
case class CusumAlarm(key: String, day: java.sql.Date, s: Long)
/** Per-user carry state: the latest event seen (total (ts, id) order). */
case class LastEvent(tsMicros: Long, event_id: Long, event_type: String)
/** One observed transition edge (pre-aggregation). */
case class TransitionEdge(from_type: String, to_type: String)

case class DocSig(doc_id: Long, simhash: Long)
/** matched_id = the smallest earlier doc within hamming range IN THIS
  * BUCKET, -1 if the doc is novel here. Per-doc reduction over a doc's
  * rows: duplicate iff max(matched_id) >= 0; the cluster representative
  * is min(matched_id) over the rows with matched_id >= 0 (different
  * buckets can name different mates — max alone is only the dup flag).
  */
case class NearDupDecision(doc_id: Long, simhash: Long, blk: Int, matched_id: Long)
case class BucketState(members: List[DocSig])

/** Structured-Streaming transforms (EXT: the reference has no streams —
  * SURVEY §2.2 "Streaming" — so these are the streaming analogues of its
  * bounded operators over the `events` table shape).
  *
  * Every function here takes a DataFrame and works UNCHANGED on a batch
  * frame or a `readStream` frame — that symmetry is the test strategy:
  * specs drive them through a MemoryStream and assert equality with the
  * batch result.
  *
  * Cluster deployments: the stateful operators here (sessionization,
  * the near-dup streams) keep per-key state in the configured state
  * store. The default in-memory HDFS-backed store holds every live key
  * on-heap per executor; at corpus-scale key cardinality set
  * `spark.sql.streaming.stateStore.providerClass=
  * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * so state spills off-heap/disk with incremental checkpoints — no code
  * change here, the operators are store-agnostic (StreamingSpec runs
  * the signature matcher under the RocksDB provider and asserts
  * byte-identical decisions).
  */
object StreamOps {

  /** Tumbling/sliding event-time windowed aggregation with a watermark
    * (late data beyond `watermark` is dropped in streaming mode).
    */
  def windowedCounts(events: DataFrame, tsCol: String, windowDur: String,
      slideDur: Option[String] = None, watermark: String = "1 hour",
      groupCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    val win = slideDur match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None => window(col(tsCol), windowDur)
    }
    withWm
      .groupBy(win.as("win"), col(groupCol).as("event_type"))
      .agg(count(lit(1)).as("cnt"),
        // exact decimal accumulate -> order-independent double
        sum(col(valueCol).cast("decimal(30,2)")).cast("double").as("value_sum"))
      .select(col("win.start").as("win_start"), col("win.end").as("win_end"),
        col("event_type"), col("cnt"), col("value_sum"))
  }

  /** Streaming HLL state: per (event-time window, register) max-rho —
    * the [[graft.operators.Sketches.hllRegisterFrame]] shape maintained
    * incrementally. The state is BOUNDED: 2^p = 256 rows per window no
    * matter how many events arrive, and max is monotone, so update-mode
    * micro-batches converge to exactly the batch register frame
    * (spec-asserted stream == batch). Finalize a read-side snapshot with
    * `Sketches.hllFinalize(regs, Seq("win_start"))` — approximate
    * distinct-users-per-window without ever storing a user set, the
    * streaming cardinality posture at any scale. Works unchanged on a
    * batch frame.
    */
  def hllWindowRegisters(events: DataFrame, tsCol: String, windowDur: String,
      valueCol: String, watermark: String = "1 hour",
      slide: Option[String] = None): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    val win = slide match {
      case Some(s) => window(col(tsCol), windowDur, s)
      case None => window(col(tsCol), windowDur)
    }
    withWm
      .groupBy(win.as("win"),
        graft.operators.Sketches.hllRegister(col(valueCol)).as("reg"))
      .agg(max(graft.operators.Sketches.hllRho(col(valueCol))).as("rmax"))
      .select(col("win.start").as("win_start"), col("reg"), col("rmax"))
  }

  /** Streaming value_counts analogue: running per-key totals (complete
    * output mode in streaming).
    */
  def runningValueCounts(events: DataFrame, keyCol: String): DataFrame =
    events.groupBy(col(keyCol).as("value")).agg(count(lit(1)).as("cnt"))

  /** Streaming dedup analogue of drop_duplicates_by_index keep='first':
    * state-backed exact dedup on a key. In streaming mode this uses
    * `dropDuplicatesWithinWatermark`, whose state is EVICTED once the
    * watermark passes — a plain dropDuplicates only bounds state when the
    * event-time column happens to be part of the key, and grows without
    * bound otherwise.
    */
  def dedupStream(events: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Batch sessionization: gap-based session ids per user — a session
    * boundary wherever the inter-event gap exceeds `gapMinutes`. One
    * window shuffle on the user key; ids are 1-based per user in
    * (ts, event_id) order.
    */
  def sessionizeBatch(events: DataFrame, userCol: String, tsCol: String,
      eventIdCol: String, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(eventIdCol))
    // unix_micros requires TIMESTAMP; parquet written without
    // isAdjustedToUTC arrives as TIMESTAMP_NTZ (Spark 4 infers NTZ by
    // default), so cast NTZ through the UTC session zone — wall-clock
    // values are preserved and gap arithmetic is type-agnostic
    val tsAsInstant = events.schema.fields.find(_.name == tsCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) => col(tsCol).cast("timestamp")
      case _ => col(tsCol)
    }
    val micros = unix_micros(tsAsInstant)
    val prev = lag(micros, 1).over(w)
    val newSession = when(prev.isNull || micros - prev > gapMinutes * 60L * 1000000L, 1L)
      .otherwise(0L)
    events
      .withColumn("session_id", sum(newSession).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col(userCol).as("user_id"), col(eventIdCol).as("event_id"),
        col("session_id"))
  }

  /** Streaming NEAR-duplicate detection — the ingestion-time analogue of
    * [[graft.operators.Dedup.simhashCandidates]]: as documents arrive,
    * each is checked against previously seen SimHash signatures and
    * flagged with the earliest matching doc id (hamming <= `maxHamming`)
    * or -1 when novel.
    *
    * State layout = the batch pigeonhole: a 64-bit signature splits into
    * four 16-bit blocks; docs sharing ANY block value land in the same
    * state bucket (hamming <= 3 guarantees at least one shared block).
    * Each incoming doc emits one decision PER BLOCK (4 rows); reduce
    * per doc as documented on [[NearDupDecision]] (dup flag =
    * max >= 0, representative = min of the non-negative matches) — a
    * plain groupBy for a batch caller, a `foreachBatch` reduction in
    * streaming (appending a second stateful agg behind
    * flatMapGroupsWithState is restricted by Structured Streaming's
    * output-mode rules).
    *
    * Scale: state is bounded by `maxPerBucket` signatures per 16-bit
    * bucket (16 bytes each) — a full table is 4 x 65536 x maxPerBucket x
    * 16B; overflow buckets stop ACCRETING but keep matching (recall from
    * the other three blocks, the same posture as the batch skew cap in
    * `Dedup.selfJoinBuckets`). Within a micro-batch, docs are processed
    * in doc_id order, so matches are deterministic under replay.
    */
  def simhashNearDupStream(docs: Dataset[DocSig], maxHamming: Int = 3,
      maxPerBucket: Int = 1024): Dataset[NearDupDecision] = {
    require(0 <= maxHamming && maxHamming <= 3,
      s"simhashNearDupStream: the 4 x 16-bit pigeonhole guarantees recall only " +
        s"for 0 <= maxHamming <= 3, got $maxHamming")
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt)
    implicit val rowEnc = Encoders.product[(Int, Int, DocSig)]
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[NearDupDecision]
    docs
      .flatMap(d => (0 until 4).map(b =>
        (b, ((d.simhash >>> (b * 16)) & 0xffffL).toInt, d)))
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: (Int, Int), it: Iterator[(Int, Int, DocSig)], state: GroupState[BucketState]) => {
          var members = state.getOption.map(_.members).getOrElse(Nil)
          val out = it.toSeq.sortBy(_._3.doc_id).map { case (blk, _, d) =>
            val m = members.iterator
              .filter(s => java.lang.Long.bitCount(s.simhash ^ d.simhash) <= maxHamming)
              .map(_.doc_id)
              .foldLeft(-1L)((acc, id) => if (acc < 0 || id < acc) id else acc)
            if (members.length < maxPerBucket) members = DocSig(d.doc_id, d.simhash) :: members
            NearDupDecision(d.doc_id, d.simhash, blk, m)
          }
          state.update(BucketState(members))
          out.iterator
        })
  }

  /** Streaming MinHash near-dup candidates — completes the streaming
    * dedup family (exact: [[dedupStream]]; SimHash:
    * [[simhashNearDupStream]]): each arriving document computes its
    * md5-slice band signatures ROW-LOCALLY
    * ([[graft.operators.Dedup.minhashBandSigs]] — no aggregation, which
    * Structured Streaming forbids ahead of stateful ops) and is checked
    * against the documents previously seen in its band buckets. Emits
    * one row per band with the earliest bucket-mate (-1 = novel);
    * reduce per doc like [[NearDupDecision]] documents (dup flag =
    * max >= 0, representative = min of the non-negative matches),
    * downstream (groupBy in batch, foreachBatch in streaming). Candidates share a
    * full band signature — the batch pipeline's LSH contract — and exact
    * Jaccard verification stays a batch concern (state cannot hold
    * shingle sets).
    *
    * State = member doc ids per (band, band-signature) bucket, bounded by
    * `maxPerBucket` (overflowing buckets keep matching, stop accreting —
    * the [[graft.operators.Dedup.selfJoinBuckets]] posture).
    *
    * `stateTtl` (streaming only): unlike SimHash's fixed 4 x 65536 block
    * space, the band-signature key space is UNBOUNDED — distinct
    * signatures accrete state forever. A TTL (ProcessingTimeTimeout)
    * evicts buckets idle longer than the given duration: dedup recall
    * degrades to "within the TTL window", which is the standard streaming
    * trade (same posture as `dropDuplicatesWithinWatermark`).
    */
  def minhashNearDupStream(docs: Dataset[DocText], k: Int = 16, bands: Int = 2,
      shingleK: Int = 3, maxPerBucket: Int = 1024,
      stateTtl: Option[String] = None): Dataset[MinhashDupDecision] = {
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    implicit val rowEnc = Encoders.product[(Int, String, Long)]
    implicit val stateEnc = Encoders.product[BandBucketState]
    implicit val outEnc = Encoders.product[MinhashDupDecision]
    require(k % 4 == 0 && k % bands == 0, s"need 4 | k and bands | k (k=$k, bands=$bands)")
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    docs
      .flatMap(d => graft.operators.Dedup.minhashBandSigs(d.text, k, bands, shingleK)
        .zipWithIndex.map { case (sig, b) => (b, sig, d.doc_id) })
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (key: (Int, String), it: Iterator[(Int, String, Long)], state: GroupState[BandBucketState]) => {
          if (state.hasTimedOut) {
            state.remove() // idle bucket: evict, emit nothing
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = it.toSeq.sortBy(_._3).map { case (band, _, id) =>
              val m = members.foldLeft(-1L)((acc, mid) => if (acc < 0 || mid < acc) mid else acc)
              if (members.length < maxPerBucket) members = id :: members
              MinhashDupDecision(id, band, m)
            }
            state.update(BandBucketState(members))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }

  /** Fallback shape check for an index WITHOUT builder metadata: one
    * eager aggregate over the (static, persisted) frame — uniform sig
    * length == k, bsig width == rows*8, and NO null sig/bsig (min/max
    * ignore nulls, so the null audit is an explicit count; a null sig
    * would otherwise yield a null est_jaccard the threshold filter
    * silently drops).
    */
  private def validateIndexEagerly(index: DataFrame, k: Int, bands: Int,
      rows: Int): Unit = {
    val shape = index.agg(
      min(size(col("sig"))), max(size(col("sig"))),
      min(length(col("bsig"))), max(length(col("bsig"))),
      count(when(col("sig").isNull || col("bsig").isNull, 1))).head()
    if (!shape.isNullAt(0) || shape.getLong(4) > 0) { // all-null index must fail the null gate, not skip it
      require(shape.getLong(4) == 0L,
        s"corpus index has ${shape.getLong(4)} rows with null sig/bsig — rebuild the index")
      require(shape.getInt(0) == k && shape.getInt(1) == k,
        s"corpus index signature length ${shape.getInt(0)}..${shape.getInt(1)} " +
          s"!= k=$k — rebuild the index with matching k")
      require(shape.getInt(2) == rows * 8 && shape.getInt(3) == rows * 8,
        s"corpus index band-signature width ${shape.getInt(2)}..${shape.getInt(3)} " +
          s"!= ${rows * 8} (k=$k, bands=$bands) — rebuild the index with matching bands")
    }
  }

  /** STATELESS stream-vs-corpus near-dup matching: every arriving doc is
    * checked against a PREBUILT static corpus band index
    * ([[graft.operators.Dedup.minhashBandIndexMd5]]) via a stream-static
    * equi-join — no state store, no watermark, no shuffle of the stream
    * side beyond the join itself. This is the ingestion-time shape for
    * "is this new page already in the training set": the corpus index is
    * built once (and refreshed on the corpus's own cadence), each
    * micro-batch just joins it.
    *
    * Per-row band signatures are EXPRESSION-ONLY (no UDF anywhere on
    * the ingest hot path, matching [[embeddingAgainstStream]]): they
    * come from the per-document md5-slice kernel
    * ([[graft.functions.TextFunctions.md5SliceMins]]) that the batch
    * index uses ([[graft.operators.Dedup.minhashBandIndexMd5]]), so stream
    * and batch agree bucket for bucket and the whole per-row stage
    * stays inside whole-stage codegen. The match score is the
    * full-signature agreement fraction (the unbiased MinHash Jaccard
    * estimate), computed engine-side with zip_with — exact
    * verification needs shingle sets and stays a batch concern
    * ([[graft.operators.Dedup.minhashNearDupAgainstMd5]]).
    *
    * The index's k/bands compatibility is validated at call time — a
    * mismatched k changes the bsig width, so the equi-join would
    * silently match nothing, and a post-join guard can never fire on
    * the mismatch it exists for. An index built by
    * [[graft.operators.Dedup.minhashBandIndexMd5]] carries k/bands as
    * field metadata on `sig` (surviving parquet round-trips), so the
    * check is METADATA-ONLY — no action inside the caller's timed
    * window. A foreign index without the metadata falls back to one
    * eager aggregate over the persisted index (shape + null audit).
    *
    * Emits one row per (band, corpus-mate) hit; a pair sharing both
    * bands appears twice with the same estimate — dedup downstream
    * (distinct in batch, dropDuplicatesWithinWatermark in streaming).
    * Works unchanged on a batch frame (the spec strategy).
    */
  def minhashAgainstStream(index: DataFrame, docs: DataFrame, k: Int = 12,
      bands: Int = 2, shingleK: Int = 3, threshold: Double = 0.8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k % 4 == 0, s"k ($k) must be a multiple of 4 (4 slices per md5)")
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    val rows = k / bands
    val sigMeta = index.schema.fields.find(_.name == "sig").map(_.metadata)
    if (sigMeta.exists(m => m.contains("minhash_k") && m.contains("minhash_bands"))) {
      // metadata fast path: the builder stamped k/bands on the sig
      // field — validate from the schema alone, zero actions
      val mk = sigMeta.get.getLong("minhash_k")
      val mb = sigMeta.get.getLong("minhash_bands")
      require(mk == k, s"corpus index was built with k=$mk, caller asked k=$k " +
        "— rebuild the index or match its k")
      require(mb == bands, s"corpus index was built with bands=$mb, caller asked " +
        s"bands=$bands — rebuild the index or match its bands")
    } else validateIndexEagerly(index, k, bands, rows)
    // null text and docs too short to shingle have an empty (or null)
    // signature and are dropped, the batch pipeline's posture for
    // unshingleable docs
    val banded = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.md5SliceMins(col(textCol), k, shingleK).as("_m"))
      .filter(size(col("_m")) > 0)
      .select(col("doc_id"),
        graft.functions.TextFunctions.md5SliceBands(col("_m"), k).as("_mins"),
        posexplode(graft.functions.TextFunctions.md5SliceBands(col("_m"), bands))
          .as(Seq("band", "bsig")))
    banded.join(index, Seq("band", "bsig"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("_mins"), col("sig"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / k)
      .filter(col("est_jaccard") >= threshold)
      .select(col("corpus_id"), col("doc_id"), col("band"), col("est_jaccard"))
  }

  /** STATELESS stream-vs-corpus near-dup for VECTORS — the embedding
    * twin of [[minhashAgainstStream]], and fully expression-based (the
    * sign-bucket computation is a codegen'd Catalyst expression, so the
    * stream side has no UDF at all): each arriving vector buckets under
    * the SAME planes the index was built with, joins the prebuilt
    * [[graft.operators.Dedup.embeddingBandIndex]] on (tbl, bucket), and
    * candidates verify with EXACT cosine right in the join projection —
    * unlike the MinHash stream (whose exact verify needs shingle sets),
    * the vector carries everything needed, so stream results match the
    * batch [[graft.operators.Dedup.embeddingNearDupAgainst]] exactly.
    * Emits one row per (tbl, corpus-mate) hit; dedup downstream like
    * the MinHash variant. Works unchanged on a batch frame.
    */
  def embeddingAgainstStream(index: DataFrame, vecs: DataFrame,
      planes: Array[Array[Array[Double]]], idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.3): DataFrame = {
    val banded = vecs
      .select(col(idCol).as("doc_id"), col(vecCol).cast("array<double>").as("v"))
      .select(col("doc_id"), col("v"),
        posexplode(graft.functions.VectorFunctions.signBuckets(col("v"), planes))
          .as(Seq("tbl", "bucket")))
    banded.join(index, Seq("tbl", "bucket"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("cvec"), col("v")))
      .filter(col("cos") >= threshold)
      .select(col("corpus_id"), col("doc_id"), col("tbl"), col("cos"))
  }

  /** Stateful streaming MinHash with SIGNATURES in state — the near-dup
    * upgrade over [[minhashNearDupStream]] (which keeps only member ids
    * and can therefore only say "same band signature", i.e. it catches
    * exact and extremely-close dups): each bucket remembers its members'
    * FULL k-slice signatures, so an arriving doc is SCORED against its
    * bucket-mates — agreement fraction over all k minima is the standard
    * unbiased MinHash estimate of Jaccard — and matched only when the
    * estimate clears `threshold`. A near-dup pair split across
    * micro-batches thus gets (matched_id, est_jaccard), not just a
    * bucket-cohabitation flag. Batch and streaming runs see identical
    * decisions for IN-ORDER arrival (docs within a micro-batch process
    * in doc_id order — the StreamingSpec contract); like
    * [[sessionizeStream]], a doc arriving in a LATER micro-batch than a
    * higher-id near-dup inverts which of the two is called the
    * representative — inherent to streaming, the batch twin re-sorts
    * globally.
    *
    * State cost: maxPerBucket x (8 + 8k bytes) per live (band, bandsig)
    * bucket — k=16 is 136 B/member, the same order as
    * [[simhashNearDupStream]]'s 16 B but carrying full similarity
    * information; `stateTtl` bounds the unbounded signature key space
    * exactly as on [[minhashNearDupStream]]. Reduce per doc downstream:
    * dup flag = max(matched_id) >= 0, representative = min non-negative
    * matched_id, similarity = max est_jaccard.
    */
  def minhashNearDupSigStream(docs: Dataset[DocText], k: Int = 16, bands: Int = 2,
      shingleK: Int = 3, threshold: Double = 0.8, maxPerBucket: Int = 1024,
      stateTtl: Option[String] = None): Dataset[MinhashSigDecision] = {
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    implicit val rowEnc = Encoders.product[(Int, String, Long, String)]
    implicit val stateEnc = Encoders.product[SigBucketState]
    implicit val outEnc = Encoders.product[MinhashSigDecision]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    require(k % 4 == 0 && k % bands == 0, s"need 4 | k and bands | k (k=$k, bands=$bands)")
    val sliceLen = 8 // md5 slice minima are fixed 8-hex-char strings
    docs
      .flatMap { d =>
        // minima once per document; the full signature is the k 1-row bands
        val mins = graft.functions.TextFunctions.md5SliceMinsOf(d.text, k, shingleK)
        val full = graft.functions.TextFunctions.md5SliceBandsOf(mins, k).mkString
        graft.functions.TextFunctions.md5SliceBandsOf(mins, bands)
          .zipWithIndex.map { case (sig, b) => (b, sig, d.doc_id, full) }
      }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (key: (Int, String), it: Iterator[(Int, String, Long, String)],
            state: GroupState[SigBucketState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            def estJaccard(a: String, b: String): Double = {
              var agree = 0
              var i = 0
              while (i < a.length) {
                if (a.regionMatches(i, b, i, sliceLen)) agree += 1
                i += sliceLen
              }
              agree.toDouble * sliceLen / a.length
            }
            val out = it.toSeq.sortBy(_._3).map { case (band, _, id, sig) =>
              // earliest member clearing the threshold (scan is bounded by
              // maxPerBucket); novel docs score (matched=-1, est=0.0)
              var bestId = -1L
              var bestEst = 0.0
              members.foreach { m =>
                val e = estJaccard(m.sig, sig)
                if (e >= threshold && (bestId < 0 || m.id < bestId)) {
                  bestId = m.id; bestEst = e
                }
              }
              if (members.length < maxPerBucket) members = SigMember(id, sig) :: members
              MinhashSigDecision(id, band, bestId, if (bestId >= 0) bestEst else 0.0)
            }
            state.update(SigBucketState(members))
            stateTtl.foreach(state.setTimeoutDuration)
            out.iterator
          }
        })
  }

  /** Stateful-streaming sessionization via `flatMapGroupsWithState`: the
    * per-user state carries (last event time, current session id) across
    * micro-batches, so session ids keep counting as batches arrive. Runs
    * on a batch Dataset too (state starts empty per group) — the equality
    * with [[sessionizeBatch]] is the StreamingSpec contract for in-order
    * arrival. Events within a micro-batch are sorted per user in memory;
    * per-user batch volumes are the bound (the same assumption groupByKey
    * state ops always make).
    *
    * Documented divergences inherent to streaming: an event arriving in a
    * LATER micro-batch with an EARLIER timestamp joins the current
    * session (the batch twin would re-sort globally); state is 16
    * bytes/user and is kept for the query lifetime (add a timeout policy
    * if user cardinality is unbounded).
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMinutes: Int): Dataset[SessionAssignment] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionAssignment]
    val gapMicros = gapMinutes * 60L * 1000000L
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
          val out = sorted.map { e =>
            val isNew = st.sessionId == 0L || e.tsMicros - st.lastTsMicros > gapMicros
            st = SessionState(e.tsMicros, if (isNew) st.sessionId + 1 else st.sessionId)
            SessionAssignment(user, e.event_id, st.sessionId)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Ingest-time decontamination (the streaming half of
    * [[graft.operators.Corpus.decontaminate]]): flag incoming documents
    * that share a word `n`-gram with the eval set, against the
    * build-once index from
    * [[graft.operators.Corpus.decontaminationIndex]]. Stateless prefilter
    * — each doc short-circuits through `exists(ngrams, mightContain)`
    * with the bloom riding the plan as a codegen reference object, no
    * explode/shuffle/state for the overwhelmingly-clean majority — then
    * only flagged docs explode into the STREAM-STATIC join that removes
    * bloom false positives. Emits one (idCol, ng) row per exact hit
    * (never a false negative, by the filter's contract); the per-doc
    * count is one groupBy downstream — an aggregation kept out of the
    * stream on purpose, like the against-family's pair dedup
    * (each doc lives in exactly one micro-batch, so a batch-side count
    * loses nothing). Works unchanged on a batch frame (the spec
    * strategy).
    */
  def contaminationHitsStream(evalNgrams: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 8): DataFrame = {
    import graft.functions.{BloomFunctions, TextFunctions}
    incoming
      .filter(BloomFunctions.anyWordShingleMightContain(col(textCol), n, bloom))
      .select(col(idCol), explode(array_distinct(
        TextFunctions.wordShingles(col(textCol), n))).as("ng"))
      .join(evalNgrams, Seq("ng"))
      .select(col(idCol), col("ng"))
  }

  /** Ingest-time DSIR scoring against a build-once distribution table
    * ([[graft.operators.Corpus.dsirDistTable]]): each incoming document
    * gets its importance log-weight from a LITERAL lookup array baked at
    * stream start — the frozen-artifact pattern (BPE table, PQ codebook)
    * built at runtime from the reference corpus. The per-row path is
    * expression-only and STATELESS: tokenize, hash each unigram/bigram
    * into its md5 bucket, fold the per-bucket DECIMAL(20,9) log-ratios
    * — zero shuffles, zero state, zero joins on the hot path, so it
    * composes with any downstream watermark/sink untouched.
    *
    * Buckets the reference corpus never populated score the same
    * add-one-smoothed formula at count 0 (log(1/(tt+B)) - log(1/(tr+B)))
    * — a stream doc can hash features into cells no corpus doc did.
    *
    * The `buckets`-row collect is the documented index build (fixed
    * size by construction, never data-sized). Exactness: decimal folds
    * are order-independent, so scoring a corpus doc here equals its
    * [[graft.operators.Corpus.dsirLogWeights]] batch weight bit for bit
    * (spec-asserted). Output: (idCol, n_feats, dsir_logweight).
    */
  def dsirScoreStream(distTable: DataFrame, incoming: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      buckets: Int = 256): DataFrame = {
    val hexDigits = (math.log(buckets) / math.log(16)).round.toInt
    require(buckets == math.pow(16, hexDigits).round.toInt && hexDigits >= 1 && hexDigits <= 4,
      s"buckets must be 16, 256, 4096 or 65536; got $buckets")
    val rows = distTable.select(col("_b"), col("_cr"), col("_ct"), col("_lw")).collect()
    require(rows.length <= buckets,
      s"distribution table has ${rows.length} rows > $buckets buckets — wrong table?")
    val tr = rows.map(_.getLong(1)).sum
    val tt = rows.map(_.getLong(2)).sum
    // unseen-bucket default: the same smoothed formula at count 0,
    // rounded at 9 like every table entry
    val dflt = java.math.BigDecimal.valueOf(
        math.log(1.0 / (tt + buckets)) - math.log(1.0 / (tr + buckets)))
      .setScale(9, java.math.RoundingMode.HALF_UP)
    val lw = Array.fill(buckets)(dflt)
    rows.foreach(r => lw(r.getInt(0)) = r.getDecimal(3))
    // r14 (guide §4): tokenization, bigram build, md5 bucketing AND the
    // exact decimal fold are ONE native kernel per document
    // (TextFunctions.dsirScore). The table rides as unscaled 10⁻⁹ longs
    // (a long[] codegen reference object — each entry IS the
    // DECIMAL(20,9) it replaces); long addition of 10⁻⁹ multiples is the
    // same exact arithmetic as the DECIMAL(30,9) `aggregate` fold it
    // replaces, and the double readout is the same BigDecimal→double
    // conversion the decimal cast performed. The composed form paid an
    // interpreted lambda + decimal alloc per feature (~0.45 ms/doc).
    val lwUnscaled: Array[Long] =
      lw.map(_.setScale(9, java.math.RoundingMode.UNNECESSARY)
        .movePointRight(9).longValueExact())
    incoming
      .select(col(idCol),
        graft.functions.TextFunctions.dsirScore(
          col(textCol).cast("string"), lwUnscaled, hexDigits).as("_s"))
      .select(col(idCol),
        col("_s.n_feats").as("n_feats"),
        round(col("_s.logw"), 6).as("dsir_logweight"))
  }

  /** Build-once boilerplate-LINE index — the streaming half of
    * [[graft.operators.Corpus.dedupLines]]'s df histogram: the md5
    * digests of trimmed lines occurring in >= `minDf` distinct corpus
    * documents. 16 bytes per boilerplate line; the corpus text never
    * leaves the build.
    */
  def lineIndex(corpus: DataFrame, idCol: String, textCol: String,
      minDf: Int = 2, sep: String = "\n"): DataFrame = {
    require(minDf >= 2, s"lineIndex: need minDf>=2, got $minDf")
    corpus
      .select(col(idCol).as("_li_id"),
        explode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as("_li_line"))
      .filter(length(trim(col("_li_line"))) > 0)
      .select(col("_li_id"), md5(trim(col("_li_line")).cast("binary")).as("_lh"))
      .groupBy(col("_lh"))
      .agg(countDistinct(col("_li_id")).as("_li_df"))
      .filter(col("_li_df") >= minDf)
      .select("_lh")
  }

  /** Ingest-time boilerplate-line verdicts: each incoming document's
    * lines are flagged against the build-once [[lineIndex]] —
    * (idCol, pos, line, keep), keep=false for corpus boilerplate.
    * Per-LINE verdicts, not reassembled documents, deliberately: the
    * posexplode + stream-static LEFT join is stateless and append-legal
    * (a per-doc reassembly would be a streaming aggregation needing a
    * watermark); the sink reassembles with the same ordered
    * array_sort fold the batch operator uses — StreamingSpec asserts
    * that reassembly of these verdicts equals
    * [[graft.operators.Corpus.dedupLines]] exactly. Blank lines are
    * never flagged (index excludes them by construction). Works
    * unchanged on a batch frame (declared query is batch-symmetric).
    */
  def lineVerdictsStream(index: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
          .as(Seq("pos", "line")))
      .withColumn("_lhv", md5(trim(col("line")).cast("binary")))
    lines.join(index.withColumn("_hot", lit(true)),
        lines("_lhv") === index("_lh"), "left")
      .select(col(idCol), col("pos"), col("line"),
        coalesce(!col("_hot"), lit(true)).as("keep"))
  }

  /** Ingest-time fuzzy record linkage: each incoming string probes the
    * build-once [[graft.operators.Dedup.fuzzyIndex]] with its own
    * deletion-signature hashes (row-local, expression-only — the SAME
    * [[graft.functions.TextFunctions.deletionSigHashes]] kernel as the
    * batch pair join, so the blocking contract cannot drift) and every
    * corpus entity within Levenshtein distance `maxDist` comes back
    * with the exact distance. Stateless stream-static join —
    * append-legal; a pair sharing several signatures surfaces once per
    * signature (the multi-band-hit contract of
    * [[minhashAgainstStream]] — collapse with streaming
    * `dropDuplicates` downstream). Works unchanged on batch frames.
    */
  def fuzzyMatchAgainstStream(index: DataFrame, docs: DataFrame,
      idCol: String, strCol: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1,
      "fuzzyMatchAgainstStream: deletion-neighborhood blocking guarantees maxDist=1 only")
    val probe = docs.select(col(idCol), col(strCol),
        explode(graft.functions.TextFunctions.deletionSigHashes(col(strCol)))
          .as("_pk"))
    probe.join(index, probe("_pk") === index("_fz_k"))
      .withColumn("dist", levenshtein(col(strCol), col("_fz_s")))
      .filter(col("dist") <= maxDist)
      .select(col("_fz_id").as("corpus_id"), col(idCol), col(strCol), col("dist"))
  }

  /** The build-once fingerprint index for ingest-time CDC
    * ([[cdcClassifyStream]]): (key, md5 payload fingerprint) of the
    * base corpus — 40 bytes per document at any corpus size, the
    * smallest index in the family. Persist/write it once per base
    * snapshot. */
  def cdcIndex(base: DataFrame, keyCol: String,
      payloadCol: String): DataFrame =
    base.select(col(keyCol).as("_cdc_k"), md5(col(payloadCol)).as("_cdc_f"))

  /** Ingest-time CDC classification — the streaming half of
    * [[graft.operators.Corpus.snapshotDiff]]: each incoming doc is
    * `added` (key absent from the base corpus) or `changed` (key
    * present, content fingerprint differs); unchanged docs drop.
    * `removed` is a batch-only verdict by construction — a stream can
    * never observe a key's absence.
    *
    * Stream-static LEFT join on the key (always legal in structured
    * streaming — no watermark needed, the static side is bounded);
    * the incoming fingerprint is one md5 projection, so the ingest hot
    * path is expression-only, and the static side ships 40-byte rows.
    * Works unchanged on a batch frame (the declared query runs it
    * batch-symmetric; StreamingSpec asserts stream == batch).
    */
  def cdcClassifyStream(index: DataFrame, docs: DataFrame, keyCol: String,
      payloadCol: String): DataFrame = {
    val d = docs.withColumn("_cdc_fn", md5(col(payloadCol)))
    d.join(index, d(keyCol) === index("_cdc_k"), "left")
      .withColumn("status",
        when(col("_cdc_f").isNull, "added")
          .when(col("_cdc_f") =!= col("_cdc_fn"), "changed"))
      .filter(col("status").isNotNull)
      .select(docs.columns.map(col).toSeq :+ col("status"): _*)
  }

  /** Stream-STREAM interval join (attribution shape): each left event
    * matches right events with the same key whose timestamp falls in
    * [left.ts, left.ts + within]. The one stateful-join capability the
    * stream-static family cannot express — and the time bound is what
    * makes it deployable: with BOTH sides watermarked, Spark evicts a
    * buffered row as soon as the watermark passes its join window, so
    * state is bounded by (event rate x within), never by stream length.
    * Works unchanged on batch frames (plain key equi-join + residual
    * time filter — an SMJ on the key at any scale; StreamingSpec
    * asserts stream == batch).
    *
    * Column names of the two sides must not collide (pre-rename);
    * `rightKey` is dropped from the output (it equals `leftKey`).
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      within: String, watermark: String = "1 hour"): DataFrame = {
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermark) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermark) else right
    l.join(r,
        l(leftKey) === r(rightKey) &&
          r(rightTs) >= l(leftTs) &&
          r(rightTs) <= l(leftTs) + expr(s"INTERVAL $within"))
      .drop(rightKey)
  }

  /** Fold one batch of (value, id) pairs into a bounded top-k buffer —
    * the SAME (value desc, id asc) contract and 2k-amortized compaction
    * as [[graft.operators.Relational.TopKAgg]], shared by the batch and
    * streaming paths below so the two can never drift.
    */
  private def foldTopK(init: List[(Double, Long)],
      it: Iterator[(Double, Long)], k: Int): List[(Double, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.from(init)
    def compact(): Unit = {
      val top = buf.sortBy(t => (-t._1, t._2)).take(k)
      buf.clear(); buf ++= top
    }
    it.foreach { e => buf += e; if (buf.length >= 2 * k) compact() }
    compact()
    buf.toList
  }

  /** Streaming grouped top-k: per-group state is the k best (value, id)
    * pairs — a MONOTONE merge (today's top-k of state ++ batch is the
    * true running top-k), so update-mode micro-batches converge to
    * exactly the batch answer regardless of batch boundaries, and state
    * is bounded at k rows per live group (RocksDB-provider-safe at
    * corpus-scale group cardinality). Output: (g, rank, id, v), the
    * CURRENT top-k per group each time the group appears in a batch.
    * Works unchanged on a batch frame (one iterator pass, empty initial
    * state — the declared `topk_stream` query runs it batch-symmetric;
    * StreamingSpec asserts final stream state == batch).
    */
  def topKStream(items: Dataset[RankedItem], k: Int): DataFrame = {
    require(k >= 1, s"topKStream: k must be positive, got $k")
    val sess = items.sparkSession
    import sess.implicits._
    items.groupByKey(_.g)
      .mapGroupsWithState[List[(Double, Long)], (String, List[(Double, Long)])](
        GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[RankedItem],
         state: GroupState[List[(Double, Long)]]) =>
          val merged = foldTopK(state.getOption.getOrElse(Nil),
            it.map(e => (e.v, e.id)), k)
          state.update(merged)
          (g, merged)
      }
      .flatMap { case (g, tops) =>
        tops.iterator.zipWithIndex.map { case ((v, id), i) =>
          (g, i + 1, id, v)
        }
      }
      .toDF("g", "rank", "id", "v")
  }

  /** Streaming twin of [[graft.operators.Events.cusumAlarms]]: the
    * reflected running sum S = max(0, S + cnt − ref) carried as ONE
    * long of per-key state across micro-batches, alarms (S > h)
    * emitted in Append mode. The reference/threshold are FROZEN inputs
    * riding each point (a stream-static join upstream, the
    * against-family pattern) — an online ceil-mean would make the
    * statistic drift with the very anomaly it is trying to flag.
    * Within a batch, points sort by day; across batches the keyed-log
    * monotone-delivery contract applies (same as
    * [[transitionsStream]]).
    */
  def cusumStream(points: Dataset[CusumPoint]): Dataset[CusumAlarm] = {
    val sess = points.sparkSession
    import sess.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[CusumPoint], state: GroupState[Long]) => {
          val sorted = it.toSeq.sortBy(_.day.getTime)
          var s = state.getOption.getOrElse(0L)
          val out = sorted.flatMap { p =>
            s = math.max(0L, s + p.cnt - p.ref)
            if (s > p.h) Some(CusumAlarm(key, p.day, s)) else None
          }
          state.update(s)
          out.iterator
        })
  }

  /** Adaptive conformal prediction over a keyed stream (split
    * conformal's prequential form with the Gibbs-Candès ACI update):
    * per key the state is a sliding window of the last `calWindow`
    * nonconformity scores plus the current miscoverage target αₜ. Each
    * arriving point is FIRST judged against the q-hat in force — the
    * exact ceil((n+1)(1−αₜ))-th smallest score in the window, the same
    * integer-rank rule as the batch `conformal_intervals` query — and
    * only THEN admitted into the window (test-then-train, so no point
    * scores itself). The target then steps αₜ₊₁ = clamp(αₜ + γ(α −
    * errₜ)): misses widen the next interval, covers tighten it, which
    * keeps long-run coverage at 1−α even when the score distribution
    * drifts (stationary calibration would silently decay).
    *
    * Scale shape (100 TB/day): state per key is O(calWindow) doubles
    * and the per-point work O(calWindow) — flat forever; keys
    * partition the stream so the state store shards like any keyed
    * aggregation. Within a batch points sort by `seq`; across batches
    * the keyed-log monotone-delivery contract applies (the
    * [[cusumStream]]/[[transitionsStream]] discipline).
    */
  def adaptiveConformalStream(points: Dataset[ConformalPoint],
      alpha: Double = 0.1, gamma: Double = 0.05, calWindow: Int = 100,
      minCal: Int = 10): Dataset[ConformalVerdict] = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    require(gamma >= 0.0 && gamma < 1.0, s"gamma in [0,1), got $gamma")
    require(calWindow >= minCal && minCal >= 1,
      s"need calWindow >= minCal >= 1, got $calWindow/$minCal")
    val sess = points.sparkSession
    import sess.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[ConformalPoint], state: GroupState[ConformalState]) => {
          val sorted = it.toSeq.sortBy(_.seq)
          var st = state.getOption.getOrElse(ConformalState(alpha, Nil))
          val out = sorted.map { p =>
            val n = st.window.length
            val warmup = n < minCal
            val qhat =
              if (warmup) Double.NaN
              else {
                // repeated misses can pull αₜ under 1/(n+1): the
                // adjusted rank passes the window and the interval is
                // infinite for this point (still a judgment — err 0
                // steps αₜ back up)
                val a = st.alpha
                val r = math.ceil((n + 1) * (1.0 - a)).toLong
                if (r > n || r < 1L) Double.NaN
                else st.window.sorted.apply(r.toInt - 1)
              }
            // an infinite interval covers by definition; warmup points
            // are not judgments, so αₜ only steps once calibrated
            val err = if (!qhat.isNaN && p.score > qhat) 1.0 else 0.0
            val a2 =
              if (warmup) st.alpha
              else math.min(0.999, math.max(1e-6,
                st.alpha + gamma * (alpha - err)))
            st = ConformalState(a2, (p.score :: st.window).take(calWindow))
            ConformalVerdict(key, p.seq, qhat, err == 0.0, a2)
          }
          state.update(st)
          out.iterator
        })
  }

  /** Streaming quantiles over the FIXED integer grid of
    * [[graft.operators.Sketches.binnedQuantiles]]: per key the state is
    * one 256-long histogram under a FROZEN [lo, hi] range (streams
    * cannot rescan for min/max — the range rides in like the
    * against-family's frozen indexes; out-of-range points clamp to the
    * edge bins), and after each micro-batch the operator emits a fresh
    * (n, q, est) snapshot per declared quantile over everything the key
    * has seen. Binning, ceil-rank selection and the two-division
    * interpolation are written operation-for-operation like the batch
    * operator, so when the frozen range equals the data's true extremes
    * the final snapshot is BIT-IDENTICAL to batch binnedQuantiles —
    * StreamingSpec asserts exactly that across a batch split.
    *
    * Scale shape (100 TB/day): state per key is 256 longs forever; the
    * per-batch work is one pass over the batch's points plus a 256-bin
    * walk per quantile. Keys shard the state store like any keyed
    * aggregation.
    */
  def binnedQuantilesStream(points: Dataset[BinnedPoint], lo: Long, hi: Long,
      qs: Seq[(Int, Int)]): Dataset[BinnedQuantileRow] = {
    require(hi >= lo, s"binnedQuantilesStream: need hi>=lo, got $lo/$hi")
    require(qs.nonEmpty && qs.forall { case (qn, qd) => qn > 0 && qn <= qd },
      s"binnedQuantilesStream: quantiles must be rationals in (0,1], got $qs")
    val bins = graft.operators.Sketches.QuantileBins
    val span = hi - lo + 1
    val sess = points.sparkSession
    import sess.implicits._
    points.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[BinnedPoint], state: GroupState[BinState]) => {
          val counts = state.getOption.map(_.counts.toArray)
            .getOrElse(Array.fill(bins)(0L))
          it.foreach { p =>
            val raw = (p.x - lo) * bins / span
            counts(math.min(bins - 1L, math.max(0L, raw)).toInt) += 1L
          }
          state.update(BinState(counts.toSeq))
          val n = counts.sum
          if (n == 0L) Iterator.empty
          else qs.iterator.map { case (qn, qd) =>
            val r = (qn * n + qd - 1) / qd
            var cum = 0L; var i = 0; var bin = 0; var cnt = 0L; var below = 0L
            var found = false
            while (i < bins && !found) {
              cum += counts(i)
              if (cum >= r) { bin = i; cnt = counts(i); below = cum - counts(i); found = true }
              i += 1
            }
            val est = lo.toDouble +
              (bin.toDouble + (r - below).toDouble / cnt.toDouble) *
                (span.toDouble / bins)
            BinnedQuantileRow(key, n, qn.toDouble / qd, est)
          }
        })
  }

  /** Streaming CUPED (the prequential form of
    * [[graft.operators.Stats.cuped]], Deng et al. '13): experiment
    * units arrive day by day with a FROZEN pre-period covariate x and
    * an outcome y; per key the state is the nine exact cumulative
    * moments (arm counts, arm sums, Σxy/Σx²/Σy²), and after each day
    * folds in the operator emits a snapshot with the refreshed
    * θ = cov(x,y)/var(x) and the adjusted lift diff_cuped =
    * (ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c) — the same linearity identity as the
    * batch operator, so no per-unit float is ever summed and the final
    * snapshot replays batch `cuped` bit for bit (the double readout is
    * written operation-for-operation identically; StreamingSpec
    * asserts equality across a batch split).
    *
    * Days inside one micro-batch emit one snapshot each, in day order;
    * state carries across batches (per-key day-monotone delivery — the
    * [[cusumStream]] keyed-log contract; a day split across batches
    * emits one snapshot per fragment, each over everything seen).
    *
    * Scale shape (100 TB/day): state per key is 6 longs + 3 decimals
    * FOREVER — no window, no per-unit retention; per-batch work is one
    * pass over the batch's units. Keys shard the state store like any
    * keyed aggregation — the key is the EXPERIMENT, so a deployment's
    * parallelism is its experiment count; one experiment's batch flows
    * through one task (the flatMapGroupsWithState contract). If a
    * single experiment's per-batch unit volume outgrows a task,
    * pre-reduce upstream: the nine moments are additive, so per-shard
    * partial moments can be folded into the same state by a thin
    * delta-shaped wrapper — never feed a hot key raw at that scale.
    */
  def cupedStream(units: Dataset[CupedPoint]): Dataset[CupedSnapshot] = {
    val sess = units.sparkSession
    import sess.implicits._
    val zeroB = BigDecimal(0)
    units.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[CupedPoint], state: GroupState[CupedMoments]) => {
          var m = state.getOption.getOrElse(
            CupedMoments(0L, 0L, 0L, 0L, 0L, 0L, zeroB, zeroB, zeroB))
          val byDay = it.toSeq.groupBy(_.day).toSeq.sortBy(_._1)
          val out = byDay.map { case (day, pts) =>
            pts.foreach { p =>
              val xB = BigDecimal(p.x); val yB = BigDecimal(p.y)
              m =
                if (p.arm == 0L)
                  m.copy(nc = m.nc + 1L, xc = m.xc + p.x, yc = m.yc + p.y,
                    sxy = m.sxy + xB * yB, sxx = m.sxx + xB * xB,
                    syy = m.syy + yB * yB)
                else
                  m.copy(nt = m.nt + 1L, xt = m.xt + p.x, yt = m.yt + p.y,
                    sxy = m.sxy + xB * yB, sxx = m.sxx + xB * xB,
                    syy = m.syy + yB * yB)
            }
            // the batch cuped readout, operation for operation
            val nD = (m.nc + m.nt).toDouble
            val sx = (m.xc + m.xt).toDouble
            val sy = (m.yc + m.yt).toDouble
            val covN = nD * m.sxy.toDouble - sx * sy
            val varXN = nD * m.sxx.toDouble - sx * sx
            val bothArms = m.nc > 0L && m.nt > 0L
            val diffRaw =
              if (bothArms)
                Some(m.yt.toDouble / m.nt.toDouble - m.yc.toDouble / m.nc.toDouble)
              else None
            val theta = if (varXN > 0.0) Some(covN / varXN) else None
            val diffCuped =
              if (bothArms && varXN > 0.0)
                Some((m.yt.toDouble / m.nt.toDouble - m.yc.toDouble / m.nc.toDouble)
                  - (covN / varXN)
                  * (m.xt.toDouble / m.nt.toDouble - m.xc.toDouble / m.nc.toDouble))
              else None
            CupedSnapshot(key, day, m.nc, m.nt, diffRaw, theta, diffCuped)
          }
          state.update(m)
          out.iterator
        })
  }

  /** Map-side pre-reduce for the hot-key CUPED path: folds each
    * PARTITION's units into per-(key, day) [[CupedDelta]] moment rows
    * — a stateless narrow op (no shuffle, works unchanged on a batch
    * frame or inside a streaming plan) whose output is what
    * [[cupedDeltaStream]]'s keyed state consumes. This is the "never
    * feed a hot key raw" wrapper [[cupedStream]]'s scaladoc promises:
    * a single experiment with 10⁹ units/batch still parallelizes
    * across all input partitions, and the keyed task folds
    * #partitions·#days delta rows instead of the units themselves.
    *
    * Memory per task is O(distinct (key, day) in the partition) — day
    * count is bounded (a batch spans at most a few days), key count
    * is the experiment count.
    */
  def cupedWeightedDeltas(units: Dataset[CupedWPoint]): Dataset[CupedDelta] = {
    val sess = units.sparkSession
    import sess.implicits._
    units.mapPartitions { it =>
      val acc = scala.collection.mutable.LinkedHashMap
        .empty[(String, Long), Array[Any]]
      it.foreach { p =>
        val a = acc.getOrElseUpdate((p.key, p.day),
          Array[Any](0L, 0L, BigDecimal(0), BigDecimal(0), BigDecimal(0),
            BigDecimal(0), BigDecimal(0), BigDecimal(0), BigDecimal(0)))
        val wB = BigDecimal(p.w); val xB = BigDecimal(p.x); val yB = BigDecimal(p.y)
        if (p.arm == 0L) {
          a(0) = a(0).asInstanceOf[Long] + p.w
          a(2) = a(2).asInstanceOf[BigDecimal] + wB * xB
          a(4) = a(4).asInstanceOf[BigDecimal] + wB * yB
        } else {
          a(1) = a(1).asInstanceOf[Long] + p.w
          a(3) = a(3).asInstanceOf[BigDecimal] + wB * xB
          a(5) = a(5).asInstanceOf[BigDecimal] + wB * yB
        }
        a(6) = a(6).asInstanceOf[BigDecimal] + wB * xB * yB
        a(7) = a(7).asInstanceOf[BigDecimal] + wB * xB * xB
        a(8) = a(8).asInstanceOf[BigDecimal] + wB * yB * yB
      }
      acc.iterator.map { case ((key, day), a) =>
        CupedDelta(key, day, a(0).asInstanceOf[Long], a(1).asInstanceOf[Long],
          a(2).asInstanceOf[BigDecimal], a(3).asInstanceOf[BigDecimal],
          a(4).asInstanceOf[BigDecimal], a(5).asInstanceOf[BigDecimal],
          a(6).asInstanceOf[BigDecimal], a(7).asInstanceOf[BigDecimal],
          a(8).asInstanceOf[BigDecimal])
      }
    }
  }

  /** Weighted/keyed streaming CUPED over PRE-REDUCED deltas — the
    * hot-key twin of [[cupedStream]]: per key the state is the nine
    * exact cumulative WEIGHTED moments, folded from [[CupedDelta]]
    * rows (additive, so any shard split of a day reaches the same
    * state); after each day folds in, one [[CupedSnapshot]] is emitted
    * with the weighted readout — means are Σw·y/Σw per arm, θ the
    * weighted cov/var — in the SAME fixed double order as
    * [[cupedStream]], so at w ≡ 1 the two streams agree bit for bit
    * (StreamingSpec pins the identity).
    *
    * n_c/n_t in the snapshot are the WEIGHTED arm masses Σw.
    *
    * Scale shape (100 TB/day): state per key is 2 longs + 7 decimals
    * forever; the keyed task's per-batch work is O(#partitions·#days)
    * delta rows regardless of unit volume — the hot-single-experiment
    * deployment [[cupedStream]] cannot serve.
    */
  def cupedDeltaStream(deltas: Dataset[CupedDelta]): Dataset[CupedSnapshot] = {
    val sess = deltas.sparkSession
    import sess.implicits._
    val zeroB = BigDecimal(0)
    deltas.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[CupedDelta], state: GroupState[CupedWMoments]) => {
          var m = state.getOption.getOrElse(CupedWMoments(0L, 0L, zeroB, zeroB,
            zeroB, zeroB, zeroB, zeroB, zeroB))
          val byDay = it.toSeq.groupBy(_.day).toSeq.sortBy(_._1)
          val out = byDay.map { case (day, ds) =>
            ds.foreach { d =>
              m = CupedWMoments(m.wc + d.wc, m.wt + d.wt, m.sxc + d.sxc,
                m.sxt + d.sxt, m.syc + d.syc, m.syt + d.syt,
                m.sxy + d.sxy, m.sxx + d.sxx, m.syy + d.syy)
            }
            // the cupedStream readout, operation for operation, on the
            // weighted moments
            val nD = (m.wc + m.wt).toDouble
            val sx = (m.sxc + m.sxt).toDouble
            val sy = (m.syc + m.syt).toDouble
            val covN = nD * m.sxy.toDouble - sx * sy
            val varXN = nD * m.sxx.toDouble - sx * sx
            val bothArms = m.wc > 0L && m.wt > 0L
            val diffRaw =
              if (bothArms)
                Some(m.syt.toDouble / m.wt.toDouble - m.syc.toDouble / m.wc.toDouble)
              else None
            val theta = if (varXN > 0.0) Some(covN / varXN) else None
            val diffCuped =
              if (bothArms && varXN > 0.0)
                Some((m.syt.toDouble / m.wt.toDouble - m.syc.toDouble / m.wc.toDouble)
                  - (covN / varXN)
                  * (m.sxt.toDouble / m.wt.toDouble - m.sxc.toDouble / m.wc.toDouble))
              else None
            CupedSnapshot(key, day, m.wc, m.wt, diffRaw, theta, diffCuped)
          }
          state.update(m)
          out.iterator
        })
  }

  /** Streaming twin of [[graft.operators.Events.eventTransitions]]:
    * per-user LAST-event state (one tiny row per live user) bridges
    * micro-batch boundaries, so the pair an epoch boundary would sever
    * is still emitted; within a batch events sort by the same total
    * (ts, id) order as the batch operator. Emits raw transition edges
    * in Append mode — counting/normalizing is one groupBy downstream
    * (kept out of the stream on purpose: each edge is emitted exactly
    * once, so a batch-side roll-up loses nothing and the stream state
    * stays O(|users|), not O(|types|²·|users|)).
    *
    * Assumes per-user event-time monotone delivery ACROSS batches (the
    * keyed-log contract); an event older than the user's carried state
    * would pair out of order — buffer-and-watermark reordering is a
    * different operator.
    */
  def transitionsStream(events: Dataset[TypedEvent]): DataFrame = {
    val sess = events.sparkSession
    import sess.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[TypedEvent], state: GroupState[LastEvent]) => {
          val sorted = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var prev = state.getOption
          val out = scala.collection.mutable.ListBuffer.empty[TransitionEdge]
          sorted.foreach { e =>
            prev.foreach(p => out += TransitionEdge(p.event_type, e.event_type))
            prev = Some(LastEvent(e.tsMicros, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.iterator
        })
      .toDF()
  }
}
