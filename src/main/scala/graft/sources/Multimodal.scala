package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (EXT per north star): image/audio/video
  * travel as opaque `binary` columns next to a typed metadata struct.
  * The Spark-side machinery — schema, batching, partition-sized decode,
  * feature extraction signatures — is real and tested. Metadata parses
  * are REAL for all three modalities (PNG/JPEG/GIF, WAV/RIFF, MP4 box
  * headers — no pixel/sample decode, a few hundred bytes per record);
  * only full audio/video SAMPLE decodes are STUBBED with a deterministic
  * fake (this container has no such codecs), clearly marked below.
  * Swapping in a real codec changes only the body of `decodeBytes`.
  *
  * Scale notes: decode runs inside `mapPartitions`-equivalent expression
  * evaluation (one task per input split, no driver involvement);
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory for
  * binaryFile scans; decoded features are fixed-width columns so
  * downstream stays columnar.
  */
object Multimodal {

  /** Media metadata schema carried beside every binary column. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("duration_ms", LongType)))

  /** REAL image codec, JDK-only (no external libraries):
    *
    *  - [[imageMeta]] parses PNG / JPEG / GIF headers directly from the
    *    first bytes — width/height/channels WITHOUT decoding pixels. This
    *    is the 100 TB path: a metadata pass over binary blobs reads a few
    *    hundred bytes per record, so it must never inflate pixels.
    *  - [[decodeImage]] runs `javax.imageio.ImageIO` for a full pixel
    *    decode (real width/height/bands), and [[resizeImage]] re-encodes
    *    at a target size via `Graphics2D` — the per-record bodies of a
    *    `mapPartitions` media stage.
    *
    * Audio/video metadata is equally real ([[wavMeta]], [[mp4Meta]]);
    * only their SAMPLE decode stays stubbed ([[decodeBytes]] fallback —
    * deterministic and marked) for blobs no header parser claims.
    */
  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** Header-only metadata: Some((format, width, height, nChannels)) for
    * PNG / JPEG / GIF signatures, None otherwise.
    */
  private[graft] def imageMeta(b: Array[Byte]): Option[(String, Int, Int, Int)] = {
    if (b == null || b.length < 10) return None
    // PNG: 8-byte signature, then IHDR: width@16, height@20, colorType@25
    if (b.length >= 26 && (b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') {
      val channels = b(25) match {
        case 0 => 1 case 2 => 3 case 3 => 1 case 4 => 2 case 6 => 4 case _ => 0
      }
      return Some(("png", beInt(b, 16), beInt(b, 20), channels))
    }
    // GIF87a/89a: little-endian logical screen size at 6..9
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') {
      val w = (b(6) & 0xff) | ((b(7) & 0xff) << 8)
      val h = (b(8) & 0xff) | ((b(9) & 0xff) << 8)
      return Some(("gif", w, h, 3))
    }
    // JPEG: walk the marker stream to the first SOFn frame header
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) {
      var i = 2
      while (i + 9 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None // marker desync
        // the spec allows any number of 0xFF fill bytes before a marker
        var mi = i + 1
        while (mi + 8 < b.length && (b(mi) & 0xff) == 0xff) mi += 1
        if (mi + 8 >= b.length) return None
        val m = b(mi) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          val h = ((b(mi + 4) & 0xff) << 8) | (b(mi + 5) & 0xff)
          val w = ((b(mi + 6) & 0xff) << 8) | (b(mi + 7) & 0xff)
          return Some(("jpeg", w, h, b(mi + 8) & 0xff))
        }
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) i = mi + 1 // standalone marker
        else i = mi + 1 + (((b(mi + 1) & 0xff) << 8) | (b(mi + 2) & 0xff))
      }
      return None
    }
    None
  }

  /** Full pixel decode via ImageIO: (format, width, height, bands). None
    * when no installed reader claims the bytes.
    */
  private[graft] def decodeImage(bytes: Array[Byte]): Option[(String, Int, Int, Int)] =
    decodeImageBuffered(bytes).map(img =>
      (imageMeta(bytes).map(_._1).getOrElse("image"),
        img.getWidth, img.getHeight, img.getRaster.getNumBands))

  /** Decode + bilinear resize + re-encode (PNG out) — the body of a
    * media-preprocessing `mapPartitions` stage. None for undecodable
    * bytes (callers keep the row and null the column, never throw).
    */
  private[graft] def resizeImage(bytes: Array[Byte], w: Int, h: Int): Option[Array[Byte]] = {
    decodeImageBuffered(bytes).map { img =>
      val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }
  }

  /** ImageIO.read returns null only when NO reader claims the bytes; a
    * TRUNCATED image whose signature a reader does claim THROWS instead.
    * On a scraped corpus corrupt images are routine, so both outcomes
    * must degrade to None, never fail the task.
    */
  private def decodeImageBuffered(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }

  private def leShort(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def beUInt(b: Array[Byte], off: Int): Long = beInt(b, off) & 0xffffffffL
  private def beLong(b: Array[Byte], off: Int): Long =
    (beUInt(b, off) << 32) | beUInt(b, off + 4)
  private def fourCC(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Header-only WAV/RIFF metadata — the audio analogue of [[imageMeta]]:
    * walk the RIFF chunk list to `fmt ` (channels, sample rate, byte
    * rate) and `data` (payload size), and derive duration as
    * dataSize / byteRate. No sample decode, a few hundred bytes read per
    * record — the 100 TB metadata-pass posture. Returns
    * Some((format, channels, sampleRate, durationMs)); any structural
    * corruption (truncated chunk list, zero rates, overflowing sizes)
    * degrades to None, never throws.
    */
  private[graft] def wavMeta(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var off = 12L
    var channels = 0; var sampleRate = 0; var byteRate = 0; var dataSize = -1L
    while (off + 8 <= b.length && (channels == 0 || dataSize < 0)) {
      val id = fourCC(b, off.toInt)
      val sz = leInt(b, off.toInt + 4) & 0xffffffffL
      // bound the read by the chunk's DECLARED size too: a fmt chunk
      // claiming sz<16 must degrade to None, not read the next chunk's
      // bytes as plausible-looking rates
      if (id == "fmt " && sz >= 16 && off + 8 + 16 <= b.length) {
        channels = leShort(b, off.toInt + 10)
        sampleRate = leInt(b, off.toInt + 12)
        byteRate = leInt(b, off.toInt + 16)
      } else if (id == "data") dataSize = sz
      off += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
    }
    if (channels <= 0 || sampleRate <= 0) None
    else {
      val durMs = if (byteRate > 0 && dataSize >= 0) dataSize * 1000L / byteRate else 0L
      Some(("wav", channels, sampleRate, durMs))
    }
  }

  /** Header-only MPEG-1/2/2.5 Layer III (MP3) metadata — REAL frame-
    * header parse, no codec library: sync on 0xFFE, read version/
    * bitrate/samplerate/channel-mode from the standard tables, then
    * WALK the frame chain (each header declares its frame length) and
    * sum samples-per-frame/sample-rate into the exact stream duration —
    * so VBR streams report correctly, not a CBR guess. Only the 4-byte
    * headers are read; SAMPLE decode (Huffman + IMDCT synthesis) is the
    * documented permanent-by-environment stub — see COVERAGE.md.
    * Returns Some((format, channels, sampleRate, durationMs)); requires
    * >= 2 well-formed chained frames so random byte blobs that happen
    * to contain a sync pattern can't masquerade as audio.
    */
  private[graft] def mp3Meta(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b == null || b.length < 8) return None
    // skip an ID3v2 tag if present (10-byte header + syncsafe size)
    var off =
      if (b(0) == 'I' && b(1) == 'D' && b(2) == '3' && b.length >= 10)
        10L + (((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
          ((b(8) & 0x7f) << 7) | (b(9) & 0x7f))
      else 0L
    val br1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
    val br2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
    var frames = 0L
    var sampleSum = 0.0
    var ch = 0; var sr0 = 0
    while (off + 4 <= b.length) {
      val h0 = b(off.toInt) & 0xff; val h1 = b(off.toInt + 1) & 0xff
      val h2 = b(off.toInt + 2) & 0xff; val h3 = b(off.toInt + 3) & 0xff
      if (h0 != 0xff || (h1 & 0xe0) != 0xe0) return endOfMp3(frames, ch, sr0, sampleSum)
      val verBits = (h1 >> 3) & 0x3     // 0=2.5, 2=MPEG2, 3=MPEG1
      val layerBits = (h1 >> 1) & 0x3   // 1=Layer III
      if (verBits == 1 || layerBits != 1) return endOfMp3(frames, ch, sr0, sampleSum)
      val brIdx = (h2 >> 4) & 0xf
      val srIdx = (h2 >> 2) & 0x3
      val padding = (h2 >> 1) & 0x1
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return endOfMp3(frames, ch, sr0, sampleSum)
      val mpeg1 = verBits == 3
      val sr = (verBits match {
        case 3 => Array(44100, 48000, 32000)
        case 2 => Array(22050, 24000, 16000)
        case _ => Array(11025, 12000, 8000)
      })(srIdx)
      val kbps = (if (mpeg1) br1 else br2)(brIdx)
      val spf = if (mpeg1) 1152 else 576
      val frameLen = spf / 8 * (kbps * 1000) / sr + padding
      if (frameLen <= 4 || off + frameLen > b.length)
        return endOfMp3(frames, ch, sr0, sampleSum)
      if (frames == 0L) { ch = if (((h3 >> 6) & 0x3) == 3) 1 else 2; sr0 = sr }
      frames += 1
      sampleSum += spf.toDouble / sr
      off += frameLen
    }
    endOfMp3(frames, ch, sr0, sampleSum)
  }
  private def endOfMp3(frames: Long, ch: Int, sr: Int,
      sampleSum: Double): Option[(String, Int, Int, Long)] =
    if (frames >= 2) Some(("mp3", ch, sr, (sampleSum * 1000.0).toLong)) else None

  /** Header-only AAC ADTS metadata — same posture as [[mp3Meta]]: sync
    * on 0xFFF, read the sampling-frequency index and channel config
    * from the 7-byte fixed header, walk the declared frame lengths
    * (1024 samples per AAC frame) and sum into the duration. Sample
    * decode stays the documented stub.
    */
  private[graft] def aacMeta(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b == null || b.length < 7) return None
    val srTab = Array(96000, 88200, 64000, 48000, 44100, 32000,
      24000, 22050, 16000, 12000, 11025, 8000)
    var off = 0L
    var frames = 0L
    var ch = 0; var sr0 = 0
    while (off + 7 <= b.length) {
      val h0 = b(off.toInt) & 0xff; val h1 = b(off.toInt + 1) & 0xff
      val h2 = b(off.toInt + 2) & 0xff; val h3 = b(off.toInt + 3) & 0xff
      val h4 = b(off.toInt + 4) & 0xff; val h5 = b(off.toInt + 5) & 0xff
      if (h0 != 0xff || (h1 & 0xf6) != 0xf0) return endOfAac(frames, ch, sr0)
      val srIdx = (h2 >> 2) & 0xf
      if (srIdx >= srTab.length) return endOfAac(frames, ch, sr0)
      val chanCfg = ((h2 & 0x1) << 2) | ((h3 >> 6) & 0x3)
      val frameLen = ((h3 & 0x3) << 11) | (h4 << 3) | ((h5 >> 5) & 0x7)
      if (frameLen < 7 || off + frameLen > b.length) return endOfAac(frames, ch, sr0)
      if (frames == 0L) { ch = chanCfg; sr0 = srTab(srIdx) }
      frames += 1
      off += frameLen
    }
    endOfAac(frames, ch, sr0)
  }
  private def endOfAac(frames: Long, ch: Int,
      sr: Int): Option[(String, Int, Int, Long)] =
    if (frames >= 2 && sr > 0)
      Some(("aac", ch, sr, (frames * 1024.0 / sr * 1000.0).toLong))
    else None

  /** Header-only MP4/ISO-BMFF metadata — the video analogue of
    * [[imageMeta]]: require a leading `ftyp` box (major brand becomes
    * the format suffix), then walk top-level boxes to `moov` and read
    * `mvhd` (timescale + duration, version 0 and 1 layouts) and each
    * `trak`'s `tkhd` (16.16 fixed-point presentation width/height — max
    * across tracks; audio tracks carry 0x0). No sample data touched.
    * Returns Some((format, width, height, nTracks, durationMs)); any
    * malformed box size or truncation degrades to None, never throws.
    */
  private[graft] def mp4Meta(b: Array[Byte]): Option[(String, Int, Int, Int, Long)] = {
    if (b == null || b.length < 16 || fourCC(b, 4) != "ftyp") return None
    val brand = fourCC(b, 8).trim
    // one box walk per nesting level, each bounded by its parent's extent
    def boxes(from: Long, until: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var off = from
        private var dead = false
        def hasNext: Boolean = !dead && off + 8 <= until
        def next(): (String, Long, Long) = {
          val sz0 = beUInt(b, off.toInt)
          val typ = fourCC(b, off.toInt + 4)
          val (hdr, sz) =
            if (sz0 == 1 && off + 16 <= until) (16L, beLong(b, off.toInt + 8))
            else if (sz0 == 0) (8L, until - off) // box extends to parent end
            else (8L, sz0)
          if (sz < hdr || off + sz > until) { dead = true; (typ, -1L, -1L) }
          else { val r = (typ, off + hdr, off + sz); off += sz; r }
        }
      }
    try {
      boxes(0L, b.length.toLong)
        .collectFirst { case ("moov", s, e) if s >= 0 => (s, e) }
        .flatMap { case (ms, me) =>
          var timescale = 0L; var duration = 0L
          var nTracks = 0; var width = 0; var height = 0
          boxes(ms, me).foreach {
            // every fixed-offset field read is bounded by the BOX's own
            // end (not just the buffer): a short mvhd/tkhd inside a
            // larger parent must degrade to "no value", never read the
            // next box's bytes as plausible-looking metadata
            case ("mvhd", s, e) if s >= 0 && s + 1 <= e =>
              val v = b(s.toInt) & 0xff
              if (v == 1 && s + 32 <= e) { timescale = beUInt(b, s.toInt + 20); duration = beLong(b, s.toInt + 24) }
              else if (v == 0 && s + 20 <= e) { timescale = beUInt(b, s.toInt + 12); duration = beUInt(b, s.toInt + 16) }
            case ("trak", s, e) if s >= 0 =>
              nTracks += 1
              boxes(s, e).foreach {
                case ("tkhd", ts, te) if ts >= 0 && ts + 1 <= te =>
                  val v = b(ts.toInt) & 0xff
                  val wOff = if (v == 1) ts + 88 else ts + 76 // 16.16 fixed
                  if (wOff + 8 <= te) {
                    width = math.max(width, (beUInt(b, wOff.toInt) >> 16).toInt)
                    height = math.max(height, (beUInt(b, wOff.toInt + 4) >> 16).toInt)
                  }
                case _ =>
              }
            case _ =>
          }
          if (nTracks == 0 && timescale == 0) None
          else {
            val durMs = if (timescale > 0) duration * 1000L / timescale else 0L
            Some((s"mp4/$brand", width, height, nTracks, durMs))
          }
        }
    } catch { case scala.util.control.NonFatal(_) => None } // truncated box offsets
  }

  /** Metadata decode: real header parse for image (PNG/JPEG/GIF), audio
    * (WAV/RIFF) and video (MP4) containers; the deterministic STUB below
    * only for blobs no parser claims (this container has no codec
    * libraries for full decodes beyond ImageIO).
    */
  private[graft] def decodeBytes(bytes: Array[Byte]): (String, Int, Int, Int, Long) = {
    if (bytes == null || bytes.isEmpty) return ("empty", 0, 0, 0, 0L)
    imageMeta(bytes) match {
      case Some((fmt, w, h, c)) => (fmt, w, h, c, bytes.length.toLong)
      case None => wavMeta(bytes).orElse(mp3Meta(bytes)).orElse(aacMeta(bytes)) match {
        // audio: no spatial dims; duration is real (WAV: dataSize/
        // byteRate; MP3/AAC: frame-chain walk — compressed CONTAINERS
        // now parse for real, only their sample decode stays stubbed)
        case Some((fmt, ch, _, durMs)) => (fmt, 0, 0, ch, durMs)
        case None => mp4Meta(bytes) match {
          // video: n_channels carries the TRACK count (schema reuse,
          // documented — a fixed metadata struct, not a union type)
          case Some((fmt, w, h, tracks, durMs)) => (fmt, w, h, tracks, durMs)
          case None =>
            // ------------------------------------------------------ STUB
            // deterministic fake for unclaimed blobs
            var hsh = 1125899906842597L // deterministic FNV-ish fold
            var i = 0
            while (i < math.min(bytes.length, 64)) { hsh = 31 * hsh + bytes(i); i += 1 }
            val w = 64 + math.floorMod(hsh, 448).toInt // 64..511
            val ht = 64 + math.floorMod(hsh >> 16, 448).toInt
            ("fake/raw", w, ht, 3, bytes.length.toLong)
            // ----------------------------------------------------- /STUB
        }
      }
    }
  }

  /** REAL audio SAMPLE decode for uncompressed PCM WAV — pure byte
    * math, no codec library: walk the RIFF chunks to `fmt ` (require
    * wFormatTag=1 PCM, 8-bit unsigned or 16-bit signed LE) and `data`,
    * then fold every sample into amplitude features. This closes the
    * sample-decode gap for the uncompressed half of the audio story;
    * compressed audio (MP3/AAC) and all video sample decode remain
    * metadata-only (documented stub — no codec libs in this
    * container). Samples normalized to [-1, 1].
    * Returns Some((frames, rms, peak, zero_crossings)); zero crossings
    * counted on the interleaved stream (mono-equivalent for ch=1).
    */
  private[graft] def wavSamples(b: Array[Byte]): Option[(Long, Double, Double, Long)] = {
    if (b == null || b.length < 12) return None
    if (!(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
    var off = 12L
    var fmtTag = 0; var channels = 0; var bits = 0
    var dataOff = -1L; var dataSize = -1L
    while (off + 8 <= b.length && (fmtTag == 0 || dataOff < 0)) {
      val id = fourCC(b, off.toInt)
      val sz = leInt(b, off.toInt + 4) & 0xffffffffL
      if (id == "fmt " && sz >= 16 && off + 8 + 16 <= b.length) {
        fmtTag = leShort(b, off.toInt + 8)
        channels = leShort(b, off.toInt + 10)
        bits = leShort(b, off.toInt + 22)
      } else if (id == "data") { dataOff = off + 8; dataSize = sz }
      off += 8 + sz + (sz & 1)
    }
    if (fmtTag != 1 || channels <= 0 || (bits != 8 && bits != 16) ||
        dataOff < 0) return None
    // bound by the actual buffer — a truncated blob decodes what it has
    val end = math.min(dataOff + dataSize, b.length.toLong).toInt
    val stride = bits / 8
    val n = (end - dataOff.toInt) / stride
    if (n <= 0) return None
    var i = 0
    var sumSq = 0.0; var peak = 0.0; var crossings = 0L
    var prevSign = 0
    while (i < n) {
      val o = dataOff.toInt + i * stride
      val s =
        if (bits == 16) ((b(o) & 0xff) | (b(o + 1) << 8)).toShort / 32768.0
        else ((b(o) & 0xff) - 128) / 128.0
      sumSq += s * s
      val a = math.abs(s); if (a > peak) peak = a
      val sign = if (s > 0) 1 else if (s < 0) -1 else 0
      if (sign != 0 && prevSign != 0 && sign != prevSign) crossings += 1
      if (sign != 0) prevSign = sign
      i += 1
    }
    Some((n.toLong / channels, math.sqrt(sumSq / n), peak, crossings))
  }

  private val audioFeaturesUdf = udf((b: Array[Byte]) => wavSamples(b))

  /** Attach PCM amplitude features: null for anything that is not
    * uncompressed PCM WAV (the compressed/video stub boundary). */
  def withAudioFeatures(df: DataFrame, mediaCol: String,
      as: String = "audio"): DataFrame =
    df.withColumn(as,
      audioFeaturesUdf(col(mediaCol)).cast(
        "struct<frames:bigint,rms:double,peak:double,zero_crossings:bigint>"))

  private val decodeUdf = udf((b: Array[Byte]) => decodeBytes(b))

  private val resizeUdf = udf((b: Array[Byte], w: Int, h: Int) => resizeImage(b, w, h).orNull)

  def withResized(df: DataFrame, mediaCol: String, w: Int, h: Int,
      as: String = "resized"): DataFrame =
    df.withColumn(as, resizeUdf(col(mediaCol), lit(w), lit(h)))

  /** Attach decoded metadata: (media binary) -> meta struct column. */
  def withDecodedMeta(df: DataFrame, mediaCol: String, as: String = "meta"): DataFrame =
    df.withColumn(as,
      decodeUdf(col(mediaCol)).cast(
        "struct<format:string,width:int,height:int,n_channels:int,duration_ms:bigint>"))

  /** Average-hash (aHash) perceptual fingerprint of an image blob:
    * decode (ImageIO — the one legitimate UDF family here, like the
    * other codec paths), downscale to `side` x `side` luma, threshold
    * each cell against the mean, pack the bits row-major into a Long
    * (side <= 8). Returns None for undecodable blobs. Deterministic:
    * the nearest-neighbour downscale samples fixed source pixels
    * (floor(x * w / side)), no platform-dependent filtering.
    */
  private[graft] def imageAHash(bytes: Array[Byte], side: Int = 8): Option[Long] = {
    require(side >= 2 && side <= 8, s"imageAHash: need 2<=side<=8, got $side")
    decodeImageBuffered(bytes).map { img =>
      val (w, h) = (img.getWidth, img.getHeight)
      val luma = new Array[Double](side * side)
      var i = 0
      while (i < side * side) {
        val sx = (i % side) * w / side
        val sy = (i / side) * h / side
        val rgb = img.getRGB(sx, sy)
        // integer Rec.601 luma — exact on every platform
        luma(i) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0
        i += 1
      }
      val mean = luma.sum / luma.length
      var bits = 0L
      i = 0
      while (i < side * side) {
        if (luma(i) > mean) bits |= 1L << i
        i += 1
      }
      bits
    }
  }

  private val aHashUdf = udf((b: Array[Byte]) => imageAHash(b).map(long2Long).orNull)

  /** Perceptual-hash column: (binary) -> nullable Long aHash. Compose
    * with [[graft.operators.Dedup.simhashCandidates]]-style block
    * bucketing for image near-dup at scale (identical/near-identical
    * images collide exactly or within a few Hamming bits; the
    * bucket-join family takes it from there — no all-pairs scan).
    */
  def withImagePHash(df: DataFrame, mediaCol: String,
      as: String = "phash"): DataFrame =
    df.withColumn(as, aHashUdf(col(mediaCol)))

  /** Feature extraction stub: fixed-width byte-statistics vector per blob
    * (stands in for an embedding model; deterministic, columnar output).
    */
  def byteFeatures(c: Column, dims: Int = 8): Column = {
    require(256 % dims == 0,
      s"dims ($dims) must divide 256 — a remainder would silently drop the top byte range")
    val hist = graft.functions.ByteFunctions.byte_histogram(c)
    // dims equal-width byte-range sums, normalized by blob length
    val total = greatest(functions_length(c), lit(1)).cast("double")
    val feats = (0 until dims).map { d =>
      val from = d * (256 / dims) + 1 // slice() is 1-based
      aggregate(slice(hist, from, 256 / dims), lit(0L), (acc, v) => acc + v)
        .cast("double") / total
    }
    array(feats: _*)
  }

  private def functions_length(c: Column): Column = length(c)

  /** "Frame sampling" for a video-ish blob: split the byte stream into
    * `frameSize`-byte frames and keep every `stride`-th — the real shape
    * of a frame sampler (explode + slice), with the codec stubbed.
    */
  def sampleFrames(df: DataFrame, mediaCol: String, frameSize: Int, stride: Int): DataFrame = {
    require(frameSize > 0 && stride > 0,
      s"frameSize ($frameSize) and stride ($stride) must be positive — i % 0 would silently drop every frame")
    val nFrames = floor(length(col(mediaCol)) / frameSize).cast("int")
    df.withColumn("frame_idx",
        explode(when(col(mediaCol).isNotNull && nFrames > 0,
          filter(sequence(lit(0), nFrames - 1), i => i % stride === 0))
          .otherwise(array().cast("array<int>"))))
      .withColumn("frame",
        col(mediaCol).substr(col("frame_idx") * frameSize + 1, lit(frameSize)))
  }
}
