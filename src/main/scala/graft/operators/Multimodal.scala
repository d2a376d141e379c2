package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Typed metadata produced by the media decode kernel: `n_bytes`/`sha`
  * describe the media STREAM (the container body, header excluded) —
  * the content identity a dedup pipeline wants; `width`/`height`/
  * `format` are parsed from the container header (for audio, width =
  * sample rate, height = channel count — the per-format field mapping
  * is documented on [[Multimodal.decodeMedia]]).
  */
case class MediaMeta(doc_id: Long, n_bytes: Long, sha: String,
                     width: Long, height: Long, format: String)

/** Audio-stream statistics parsed from a RIFF/WAVE header
  * ([[Multimodal.audioMeta]]).
  */
case class AudioMeta(doc_id: Long, sample_rate: Long, channels: Long,
                     bits_per_sample: Long, n_samples: Long, duration_ms: Long)

/** Video-stream statistics parsed from a RIFF/AVI `avih` main header
  * ([[Multimodal.videoMeta]]).
  */
case class VideoMeta(doc_id: Long, n_frames: Long, fps: Long)

/** One pixel-derived feature value: average-pooled channel `dim` of the
  * decoded raster ([[Multimodal.blockFeatures]]).
  */
case class MediaFeature(doc_id: Long, dim: Long, f: Double)

/** Executed-resize output: the planned dims plus a content hash of the
  * RESAMPLED raster ([[Multimodal.resizeExec]]).
  */
case class ResizeOut(doc_id: Long, out_width: Long, out_height: Long,
                     out_sha: String)

/** One PCM energy window: mean absolute amplitude of the window's
  * samples (6dp-exact) plus its silence flag — the shape a
  * voice-activity gate consumes.
  */
case class AudioEnergy(doc_id: Long, win: Long, win_bytes: Long,
                       energy: Double, silent: Long)

/** One sampled frame's perceptual-hash channel: average-pooled block
  * `dim` of the FRAME's bytes (the temporal analogue of
  * [[MediaFeature]]). Only channels that own at least one byte emit a
  * row — short frames have fewer than [[Multimodal.PhashBits]].
  */
case class FrameChannel(doc_id: Long, sample_no: Long, dim: Long, f: Double)

/** One extracted frame: its sampled position, byte length and a
  * content hash of the actual frame-data slice
  * ([[Multimodal.frameBytes]]).
  */
case class FrameBytes(doc_id: Long, sample_no: Long, frame_no: Long,
                      ts_ms: Long, n_bytes: Long, frame_sha: String)

/** Multimodal-column plumbing (north star): media as opaque `binary`
  * payloads with typed metadata, processed in per-partition batches.
  *
  * The decode kernel parses REAL byte formats — BMP (`BM` magic,
  * little-endian dimension fields at fixed offsets), binary PPM (`P6`
  * ASCII header), canonical RIFF/WAVE (fmt-chunk fields), and RIFF/AVI
  * (`avih` main-header fields) — from payloads synthesized at ingest
  * with proper container headers. The PIXEL work is real too where the
  * format needs no codec: BMP and PPM bodies ARE raw raster bytes, so
  * the feature extractor ([[blockFeatures]]), the perceptual-hash
  * channels, and the executing resize ([[resizeExec]]) all read the
  * raster the decode locates — exact integer arithmetic end to end, so
  * the oracle replays every byte. A clearly-marked deterministic stub
  * remains only as the unparseable-payload fallback. Everything around
  * the parse is the production shape: binary columns, `mapPartitions`
  * iterator-to-iterator batch processing (the Scala analogue of
  * `mapInPandas`: one executor-side batch per partition, no driver
  * collect, spill-safe), typed output via case-class Encoders, and
  * partition-count-independent results.
  */
object Multimodal {

  // Corpus SIGNATURE frames are per-corpus PRODUCTS a production
  // pipeline materializes once per ingest and every consumer reads —
  // the [[Dedup]] labelsMemo contract: pixel phash feeds mm_phash_pairs
  // AND the near-dup keep-list; the audio energy hash feeds
  // mm_audio_neardup, mm_media_keep AND the keep-list; the per-frame
  // clip signatures feed video near-dup, scene cuts, keyframes,
  // mm_media_keep, the keep-list and (via mediaKeep) pack_media. Keyed
  // on table path + file fingerprint (Kernels.inputKey) and cut
  // ([[Kernels.cut]]) — lineage-free, blocks pinned by the memo reference, surviving the
  // per-query cache retirement that drops each builder's own
  // intermediates. Frames are ≤ one row per doc (K per clip) — the
  // bounded-artifact bar.
  private def memoSig(spark: SparkSession, dir: String, kind: String)(
      build: => DataFrame): DataFrame =
    Kernels.memo(s"sig:$kind", Kernels.inputKey(dir, "documents.parquet"))(
      Kernels.cut(build))

  /** Synthesize a real container payload around a media body: the byte
    * format is chosen by body length (n%3 → BMP / binary PPM / RIFF,
    * with the RIFF class split n%6 → WAVE / AVI, and the WAVE class
    * split again n%12 → 8-bit / 16-bit PCM) and the header fields are
    * genuinely encoded — LE int32/int16 for BMP, WAV and AVI, ASCII
    * for PPM — so the decode kernel must parse actual bytes to recover
    * them. Width/height (or sample rate / frame count) carry the
    * deterministic n-derived values the oracle replays.
    *
    * The 16-bit WAVE variant (n%12 = 8) is deliberately NON-canonical:
    * a `LIST INFO` chunk sits between `fmt ` and `data`, so the data
    * chunk is NOT at offset 44 — a parser that hard-codes the
    * canonical layout instead of walking the chunk list reads header
    * bytes as samples. Real-world WAV is overwhelmingly 16-bit LE
    * (and frequently carries INFO/fact chunks); the mixed-width corpus
    * is what forces every audio kernel to dispatch on the PARSED fmt
    * fields ([[wavPcm]]).
    */
  private[graft] def synthPayload(body: Array[Byte]): Array[Byte] = {
    val n = body.length
    val w = n % 640 + 16
    val h = n % 480 + 16
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
            ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    (n % 3) match {
      case 0 => // BMP: 14-byte file header + 40-byte BITMAPINFOHEADER
        "BM".getBytes("US-ASCII") ++ le32(54 + n) ++ le32(0) ++ le32(54) ++
          le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
          le32(0) ++ le32(n) ++ le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++
          body
      case 1 => // binary PPM: ASCII magic + dims + maxval, then raster
        s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ body
      case _ if n % 12 == 2 =>
        // canonical 44-byte RIFF/WAVE header: stereo 8-bit PCM at rate w
        "RIFF".getBytes("US-ASCII") ++ le32(36 + n) ++ "WAVE".getBytes("US-ASCII") ++
          "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(2) ++
          le32(w) ++ le32(w * 2) ++ le16(2) ++ le16(8) ++
          "data".getBytes("US-ASCII") ++ le32(n) ++
          body
      case _ if n % 12 == 8 =>
        // stereo 16-bit LE PCM at rate w, NON-canonical layout: a
        // LIST INFO chunk (empty ISFT sub-chunk) between fmt and data
        // pushes the data chunk to offset 64 — the parse must walk
        // the chunk list. n ≡ 8 (mod 12) is divisible by 4, so the
        // body is whole stereo 16-bit frames.
        "RIFF".getBytes("US-ASCII") ++ le32(56 + n) ++ "WAVE".getBytes("US-ASCII") ++
          "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(2) ++
          le32(w) ++ le32(w * 4) ++ le16(4) ++ le16(16) ++
          "LIST".getBytes("US-ASCII") ++ le32(12) ++ "INFO".getBytes("US-ASCII") ++
          "ISFT".getBytes("US-ASCII") ++ le32(0) ++
          "data".getBytes("US-ASCII") ++ le32(n) ++
          body
      case _ => // minimal canonical RIFF/AVI: LIST hdrl{avih} + LIST movi{00dc}
        val fps = n % 24 + 6
        val nFrames = n % 240 + 16
        "RIFF".getBytes("US-ASCII") ++ le32(100 + n) ++ "AVI ".getBytes("US-ASCII") ++
          "LIST".getBytes("US-ASCII") ++ le32(4 + 8 + 56) ++ "hdrl".getBytes("US-ASCII") ++
          "avih".getBytes("US-ASCII") ++ le32(56) ++
          le32(1000000 / fps) ++ // dwMicroSecPerFrame
          le32(0) ++ le32(0) ++ le32(0) ++ // maxBytesPerSec, padding, flags
          le32(nFrames) ++ // dwTotalFrames
          le32(0) ++ le32(1) ++ le32(0) ++ // initialFrames, streams, bufSize
          le32(w) ++ le32(h) ++ // dwWidth, dwHeight
          le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ // dwReserved[4]
          "LIST".getBytes("US-ASCII") ++ le32(4 + 8 + n) ++ "movi".getBytes("US-ASCII") ++
          "00dc".getBytes("US-ASCII") ++ le32(n) ++
          body
    }
  }

  /** Ingestion: payloads as a `binary` column + cheap scan-time
    * metadata. At 100 TB the payload column stays columnar in parquet
    * and is pruned unless a query touches it. The synthesis UDF stands
    * in for the production ingest boundary (media files on disk);
    * every downstream operator sees only the container bytes.
    */
  def ingestBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), payloadOf(col("text")).as("payload"), col("source"))

  /** A document's text as its container payload ([[synthPayload]] over
    * the UTF-8 bytes) — the ingest boundary the batch corpus and the
    * media ingest stream share.
    */
  private[graft] def payloadOf(text: Column): Column =
    udf((body: Array[Byte]) => synthPayload(body)).apply(encode(text, "UTF-8"))

  /** The media corpus as (doc_id, payload) rows, kept by `keep` (one
    * side of the [[Dedup.split]], a format test), fanned out for the
    * map-side kernels — the batch source of every media operator.
    */
  private[graft] def payloads(spark: SparkSession, dir: String,
      keep: Column = lit(true)): DataFrame =
    Kernels.fanOut(ingestBinary(spark, dir).filter(keep).select("doc_id", "payload"))

  /** STUB fallback for payloads no header parser claims: a real
    * pipeline would quarantine these; here the metadata is a
    * deterministic function of the byte length so the operator stays
    * total. Reached only for non-BMP/PPM/WAV/AVI bytes (spec-pinned).
    */
  private[operators] def decodeStub(docId: Long, payload: Array[Byte]): MediaMeta = {
    val md = MessageDigest.getInstance("SHA-256")
    val sha = md.digest(payload).map("%02x".format(_)).mkString
    val n = payload.length.toLong
    MediaMeta(
      doc_id = docId,
      n_bytes = n,
      sha = sha,
      width = n % 640 + 16,
      height = n % 480 + 16,
      format = "unknown")
  }

  private def readLe32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def readLe16(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL)) | ((b(off + 1) & 0xffL) << 8)

  private def sha256Hex(b: Array[Byte], from: Int): String =
    MessageDigest.getInstance("SHA-256")
      .digest(java.util.Arrays.copyOfRange(b, from, b.length))
      .map("%02x".format(_)).mkString

  /** Ranged form for streams that are NOT the payload tail (a WAV data
    * chunk may have trailing siblings): hash exactly the chunk bytes,
    * so `sha` and `n_bytes` always describe the same range.
    */
  private def sha256HexRange(b: Array[Byte], from: Int, len: Int): String =
    MessageDigest.getInstance("SHA-256")
      .digest(java.util.Arrays.copyOfRange(b, from, from + len))
      .map("%02x".format(_)).mkString

  // ---- container magics ----
  private def isBmp(p: Array[Byte]): Boolean =
    p.length >= 54 && p(0) == 'B' && p(1) == 'M'
  private def isPpm(p: Array[Byte]): Boolean =
    p.length >= 2 && p(0) == 'P' && p(1) == '6'
  private def isRiff(p: Array[Byte], form: String): Boolean =
    p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == form(0) && p(9) == form(1) && p(10) == form(2) && p(11) == form(3)
  private def isWav(p: Array[Byte]): Boolean = p.length >= 44 && isRiff(p, "WAVE")
  private def isAvi(p: Array[Byte]): Boolean =
    p.length >= 108 && isRiff(p, "AVI ") &&
      p(24) == 'a' && p(25) == 'v' && p(26) == 'i' && p(27) == 'h'

  /** Parsed RIFF/WAVE PCM layout: where the samples live (`dataOff`,
    * `dataSize`) and how to read them (`channels`, `blockAlign`,
    * `bits`) — everything a sample-width-aware kernel needs, from the
    * actual fmt/data chunks.
    */
  private[graft] case class WavPcm(dataOff: Int, dataSize: Int, channels: Int,
                                   rate: Long, blockAlign: Int, bits: Int)

  /** RIFF/WAVE chunk walk: locate the `fmt ` and `data` chunks by
    * scanning the chunk list from offset 12 (ckId, LE32 ckSize, data,
    * odd sizes padded to word boundaries) — NOT by assuming the
    * canonical 44-byte layout, because real WAV routinely carries
    * LIST/fact/cue chunks between fmt and data (the synthesized
    * 16-bit corpus does, deliberately). fmt fields: channels LE16@+10,
    * rate LE32@+12, blockAlign LE16@+20, bits LE16@+22 within the
    * chunk. All offset arithmetic is Long: ckSize is an untrusted
    * 32-bit field and a hostile value near 2³¹ must not overflow into
    * a negative offset that slips past the bounds guards (the
    * [[aviBodyOff]] argument). The data size is clamped to the bytes
    * actually present. None when either chunk is missing/truncated —
    * callers fall back to the stub.
    */
  private[graft] def wavPcm(p: Array[Byte]): Option[WavPcm] = {
    if (!(p.length >= 12 && isRiff(p, "WAVE"))) None
    else {
      var fmt: Option[(Int, Long, Int, Int)] = None
      var data: Option[(Int, Int)] = None
      var off = 12L
      while (off + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
        val o = off.toInt
        val size = readLe32(p, o + 4)
        if (p(o) == 'f' && p(o + 1) == 'm' && p(o + 2) == 't' && p(o + 3) == ' ') {
          if (fmt.isEmpty && size >= 16 && off + 8 + 16 <= p.length)
            fmt = Some((readLe16(p, o + 10).toInt, readLe32(p, o + 12),
              readLe16(p, o + 20).toInt, readLe16(p, o + 22).toInt))
        } else if (p(o) == 'd' && p(o + 1) == 'a' && p(o + 2) == 't' && p(o + 3) == 'a') {
          if (data.isEmpty)
            data = Some((o + 8, math.min(size, (p.length - o - 8).toLong).toInt))
        }
        off += 8L + size + (size & 1L)
      }
      for ((ch, rate, ba, bits) <- fmt; (dOff, dSize) <- data)
        yield WavPcm(dOff, dSize, ch, rate, ba, bits)
    }
  }

  /** Binary-PPM header parse: (width, height, raster offset), or None
    * when the ASCII header is malformed. Three whitespace-separated
    * ints after `P6`, then exactly one whitespace byte before the
    * raster.
    */
  private def ppmParse(p: Array[Byte]): Option[(Long, Long, Int)] = {
    var i = 2
    val dims = new Array[Long](3)
    var d = 0
    var ok = true
    while (d < 3 && ok) {
      while (i < p.length && (p(i) == ' ' || p(i) == '\n' || p(i) == '\t' || p(i) == '\r')) i += 1
      var v = -1L
      while (i < p.length && p(i) >= '0' && p(i) <= '9') {
        v = (if (v < 0) 0L else v) * 10 + (p(i) - '0'); i += 1
      }
      if (v < 0) ok = false else { dims(d) = v; d += 1 }
    }
    i += 1 // the single whitespace after maxval
    if (ok && i <= p.length) Some((dims(0), dims(1), i)) else None
  }

  /** AVI movi-data offset: past the avih main header (cbSize parsed
    * from the chunk, offset 28) and the `LIST movi` + `00dc` chunk
    * preambles (12 + 8 bytes). Long arithmetic: cbSize is an untrusted
    * 32-bit field, and a hostile value near 2³¹ would overflow an Int
    * to a NEGATIVE offset that slips past the `off <= length` guards
    * into negative array reads — the callers compare as Long and fall
    * back to the stub.
    */
  private def aviBodyOff(p: Array[Byte]): Long =
    52L + readLe32(p, 28)

  /** Where the media STREAM (raster / samples / frame data) starts in
    * the payload — the shared parse the decode, the pixel features and
    * the resize all key off. 0 (whole payload) for unclaimed bytes —
    * the stub contract.
    */
  private[graft] def bodyStart(p: Array[Byte]): Int =
    if (isBmp(p)) {
      val off = readLe32(p, 10).toInt
      if (off >= 54 && off <= p.length) off else 0
    } else if (isPpm(p)) {
      ppmParse(p).map(_._3).getOrElse(0)
    } else if (isWav(p)) wavPcm(p).map(_.dataOff).getOrElse(0)
    else if (isAvi(p)) {
      val off = aviBodyOff(p)
      if (off <= p.length) off.toInt else 0
    } else 0

  /** REAL decode kernel: detects the container by magic bytes and
    * parses the header fields from the payload itself —
    *
    *  - BMP: `BM` magic; width/height as little-endian int32 at
    *    offsets 18/22 of the BITMAPINFOHEADER; body starts at the
    *    pixel-data offset (LE int32 at offset 10).
    *  - binary PPM: `P6` magic; ASCII whitespace-separated width,
    *    height, maxval; raster follows the single whitespace byte
    *    after maxval.
    *  - RIFF/WAVE: `RIFF….WAVE` magics; channel count, sample rate
    *    and sample layout from the `fmt ` chunk, samples from the
    *    `data` chunk — both LOCATED by walking the chunk list
    *    ([[wavPcm]]), never assumed at canonical offsets (the 16-bit
    *    corpus variant has a LIST chunk before `data`). Audio has no
    *    raster dims, so width ← sample rate, height ← channels.
    *  - RIFF/AVI: `RIFF….AVI ` magics + `avih` main header;
    *    dwWidth/dwHeight (LE int32 at offsets 64/68); frame data
    *    follows the `LIST movi` preamble ([[aviBodyOff]]).
    *
    * `sha`/`n_bytes` are computed over the BODY (the media stream),
    * giving the same content identity for re-containered media.
    * Anything unclaimed falls back to [[decodeStub]].
    */
  private[graft] def decodeMedia(docId: Long, p: Array[Byte]): MediaMeta = {
    if (isBmp(p)) {
      val dataOff = readLe32(p, 10).toInt
      if (dataOff >= 54 && dataOff <= p.length)
        MediaMeta(docId, p.length.toLong - dataOff, sha256Hex(p, dataOff),
          readLe32(p, 18), readLe32(p, 22), "bmp")
      else decodeStub(docId, p)
    } else if (isPpm(p)) {
      ppmParse(p) match {
        case Some((w, h, off)) =>
          MediaMeta(docId, p.length.toLong - off, sha256Hex(p, off), w, h, "ppm")
        case None => decodeStub(docId, p)
      }
    } else if (isWav(p)) {
      wavPcm(p) match {
        case Some(m) =>
          MediaMeta(docId, m.dataSize.toLong,
            sha256HexRange(p, m.dataOff, m.dataSize),
            m.rate, m.channels.toLong, "wav")
        case None => decodeStub(docId, p)
      }
    } else if (isAvi(p)) {
      val off = aviBodyOff(p)
      if (off <= p.length)
        MediaMeta(docId, p.length.toLong - off, sha256Hex(p, off.toInt),
          readLe32(p, 64), readLe32(p, 68), "avi")
      else decodeStub(docId, p)
    } else decodeStub(docId, p)
  }

  /** Audio-stream statistics parsed from REAL RIFF/WAVE fmt-chunk
    * fields located by the chunk walk ([[wavPcm]] — never canonical
    * offsets: the 16-bit corpus variant carries a LIST chunk before
    * `data`); sample count and duration are exact integer arithmetic
    * on the parsed values (truncating division, engine-identical).
    * Returns None for non-WAV payloads, so [[audioStats]] is the
    * wav-rows-only projection of the corpus.
    */
  private[graft] def audioMeta(docId: Long, p: Array[Byte]): Option[AudioMeta] =
    if (isWav(p)) wavPcm(p).map { m =>
      val nSamples = if (m.blockAlign > 0) m.dataSize.toLong / m.blockAlign else 0L
      AudioMeta(docId, m.rate, m.channels.toLong, m.bits.toLong, nSamples,
        if (m.rate > 0) nSamples * 1000 / m.rate else 0L)
    } else None

  /** Video-stream statistics parsed from REAL RIFF/AVI `avih`
    * main-header fields — dwMicroSecPerFrame (LE32@32) and
    * dwTotalFrames (LE32@48). fps is recovered by the exact integer
    * inverse 10⁶ div usPerFrame (lossless for any fps < 1000:
    * ⌊10⁶/⌊10⁶/f⌋⌋ = f). Returns None for non-AVI payloads, so
    * [[frameSample]] is the video-rows-only projection of the corpus.
    */
  private[graft] def videoMeta(docId: Long, p: Array[Byte]): Option[VideoMeta] =
    if (isAvi(p)) {
      val usPerFrame = readLe32(p, 32)
      val nFrames = readLe32(p, 48)
      Some(VideoMeta(docId, nFrames,
        if (usPerFrame > 0) 1000000L / usPerFrame else 0L))
    } else None

  /** `mm_audio`: per-payload audio statistics over the media corpus —
    * the TEMPORAL metadata a speech/audio pipeline filters on
    * (duration floors, channel/bit-depth gates) before paying for any
    * sample decode. Same iterator-to-iterator batch kernel as
    * [[decodeMeta]]; only WAV payloads emit a row (flatMap — the
    * format dispatch IS the filter, no second pass).
    */
  def audioStats(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[AudioMeta] = Encoders.product[AudioMeta]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap(r => audioMeta(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** Windowing / silence knobs for [[audioEnergy]]: the PCM stream is
    * split into [[AudioEnergyWindows]] equal windows; a window is
    * silent when its mean absolute amplitude (fraction of full scale)
    * falls below [[SilenceThreshold]]. The threshold compares two
    * doubles both engines derive from the same exact integers, so the
    * boundary is deterministic.
    */
  val AudioEnergyWindows = 8
  val SilenceThreshold = 0.25

  /** `mm_audio_energy`: windowed mean-abs PCM energy + per-window
    * silence flags over the SAMPLES the WAV parse locates — the
    * voice-activity / silence-trim front of a speech pipeline, and the
    * first operator to process audio CONTENT (the fmt-chunk metadata
    * is [[audioStats]]' job).
    *
    * Everything dispatches on the PARSED fmt fields ([[wavPcm]]):
    * data offset from the located data chunk (never a hard-coded 44 —
    * the 16-bit corpus variant has a LIST chunk before `data`),
    * sample width from bits_per_sample, frame stride from block
    * align. Amplitude per channel-sample: 8-bit PCM is unsigned with
    * midpoint 128 (|b − 128|, full scale 128); 16-bit PCM is signed
    * little-endian (|s|, full scale 32768). Window w owns FRAME range
    * [⌊w·nf/W⌋, ⌊(w+1)·nf/W⌋) over the nf = dataSize div blockAlign
    * whole frames (windows never split a frame, so multi-channel
    * audio keeps its channels together); its energy is the exact
    * integer rounding ⌊(Σ|amp|·10⁶ + den/2) / den⌋ / 10⁶ with den =
    * channelSampleCount·fullScale — the mean |amplitude| as a
    * fraction of full scale across all channels, bit-replayable by
    * the oracle. `win_bytes` is the window's PCM byte count
    * (channel-samples × sample width). Map-only iterator-to-iterator
    * kernel; only WAV payloads whose bit depth the PCM reader knows
    * (8/16) emit rows, only windows that own ≥ 1 frame emit a row.
    */
  def audioEnergy(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[AudioEnergy] = Encoders.product[AudioEnergy]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap(r => audioEnergyRows(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
      .orderBy("doc_id", "win")
  }

  /** [[audioEnergy]]'s kernel body over one payload — exposed so the
    * spec can drive hand-built 16-bit/multi-chunk WAVs through the
    * exact production arithmetic. `w` is the window count: the
    * voice-activity queries read [[AudioEnergyWindows]]; the audio
    * near-dup signature reads [[PhashBits]] windows so each window
    * yields one signature bit.
    */
  private[graft] def audioEnergyRows(docId: Long, p: Array[Byte],
      w: Int = AudioEnergyWindows): Iterator[AudioEnergy] = {
    val thr = SilenceThreshold
    if (!isWav(p)) Iterator.empty
    else wavPcm(p) match {
      case Some(m) if m.blockAlign > 0 && (m.bits == 8 || m.bits == 16) &&
          m.blockAlign % (m.bits / 8) == 0 =>
        val sw = m.bits / 8            // bytes per channel-sample
        val cpf = m.blockAlign / sw    // channel-samples per frame
        val nf = m.dataSize / m.blockAlign // whole frames only
        val fullScale = if (m.bits == 8) 128L else 32768L
        if (nf <= 0) Iterator.empty
        else {
          val sums = new Array[Long](w)
          val cnts = new Array[Long](w)
          var t = 0
          while (t < nf) {
            val d = (t.toLong * w / nf).toInt
            var c = 0
            while (c < cpf) {
              val base = m.dataOff + t * m.blockAlign + c * sw
              val amp =
                if (sw == 1) math.abs((p(base) & 0xff) - 128).toLong
                else {
                  val v = (p(base) & 0xff) | ((p(base + 1) & 0xff) << 8)
                  math.abs(if (v >= 32768) v - 65536 else v).toLong
                }
              sums(d) += amp
              cnts(d) += 1
              c += 1
            }
            t += 1
          }
          (0 until w).iterator.filter(cnts(_) > 0).map { d =>
            val den = cnts(d) * fullScale
            val e = ((sums(d) * 1000000L + den / 2) / den).toDouble / 1e6
            AudioEnergy(docId, d.toLong, cnts(d) * sw, e,
              if (e < thr) 1L else 0L)
          }
        }
      // unknown bit depths (24/32-bit, compressed codecs) are a
      // quarantine, not garbage numbers: emit nothing
      case _ => Iterator.empty
    }
  }

  /** `mm_audio_segments`: contiguous silence/speech SEGMENTS over the
    * energy windows — the island detection a silence-trimmer or
    * voice-activity segmenter runs after [[audioEnergy]]'s per-window
    * gate. Classic gaps-and-islands: a segment boundary is any window
    * whose silence flag differs from its predecessor's; the running
    * boundary count labels the islands; one combiner-friendly groupBy
    * folds each island to (bounds, window count, byte count).
    *
    * Scale shape: both window functions partition by doc_id (a doc's
    * windows are [[AudioEnergyWindows]] rows — never a global window),
    * so the whole operator is one shuffle by doc plus a map-side fold.
    */
  def audioSegments(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("win")
    audioEnergy(spark, dir)
      .withColumn("boundary",
        when(lag(col("silent"), 1).over(byDoc).isNull ||
          lag(col("silent"), 1).over(byDoc) =!= col("silent"), 1L)
          .otherwise(0L))
      .withColumn("seg_no", sum(col("boundary")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .groupBy("doc_id", "seg_no", "silent")
      .agg(min("win").as("start_win"), max("win").as("end_win"),
        count(lit(1)).as("n_windows"), sum("win_bytes").as("seg_bytes"))
      .orderBy("doc_id", "seg_no")
  }

  /** `mm_audio_trim`: leading/trailing-silence trim bounds — the
    * consumer of [[audioEnergy]]'s gate and the end of the audio
    * preprocessing chain (window → energy → segment → trim): a speech
    * pipeline drops the silent lead-in/tail before paying for any
    * transcription, but INTERIOR silence stays (it carries prosody).
    * Per clip: the first and last non-silent windows, the kept
    * byte/window counts over that span, and the bytes trimmed off the
    * ends. Clips whose every window is silent emit NO row — pure
    * silence is dropped wholesale, which is the trim semantics.
    * One combiner-friendly conditional aggregate per doc; the span
    * byte re-sum joins the bounds back to the window frame (both
    * doc-keyed — a co-partitioned join, no extra pass over payloads).
    */
  def audioTrim(spark: SparkSession, dir: String): DataFrame = {
    // pin the energy frame (8 rows per clip — aggregate-sized): both
    // the bounds aggregate and the span join consume it, and unpinned
    // each would re-run the payload scan + windowing kernel
    val energy = Kernels.cacheTracked(audioEnergy(spark, dir))
    val bounds = energy
      .groupBy("doc_id")
      .agg(min(when(col("silent") === 0L, col("win"))).as("start_win"),
        max(when(col("silent") === 0L, col("win"))).as("end_win"),
        sum("win_bytes").as("total_bytes"))
      .filter(col("start_win").isNotNull)
    energy.join(bounds, "doc_id")
      .filter(col("win") >= col("start_win") && col("win") <= col("end_win"))
      .groupBy("doc_id", "start_win", "end_win", "total_bytes")
      .agg(count(lit(1)).as("kept_windows"), sum("win_bytes").as("kept_bytes"))
      .select(col("doc_id"), col("start_win"), col("end_win"),
        col("kept_windows"), col("kept_bytes"),
        (col("total_bytes") - col("kept_bytes")).as("trimmed_bytes"))
      .orderBy("doc_id")
  }

  /** `mm_audio_neardup`: clip-level audio near-duplicate pairs — the
    * AUDIO cell of the dedup modality row (text has MinHash/SimHash,
    * images [[phashPairs]], video [[videoNearDup]]). The signature is
    * an energy-profile hash: the PCM stream splits into [[PhashBits]]
    * windows ([[audioEnergyRows]] at signature granularity — the same
    * sample-width-aware kernel the voice-activity gate uses), and bit
    * w says "window w is louder than the corpus average for window w"
    * — the average-hash construction at the audio modality, a coarse
    * echo of spectral fingerprinting (same loudness CONTOUR → same
    * bits). Re-containered copies keep their sample bytes, so their
    * contours — computed from the parsed data chunk, not the
    * container — still collide. Pairs at Hamming ≤ [[PhashMaxHamming]]
    * via the banded join ([[sigPairs]]) — never all-pairs, no distinct
    * exchange.
    *
    * Scale shape: energy profiles are map-only over decoded batches;
    * thresholds are ONE [[PhashBits]]-row broadcast (decimal-summed,
    * order-exact); signatures fold in one combiner-friendly
    * groupBy(doc); candidates come banded. Exact integer/6dp
    * arithmetic end to end — the oracle replays every bit.
    */
  def audioNearDup(spark: SparkSession, dir: String): DataFrame =
    sigPairs(Audio, corpusSigs(spark, dir, Audio)).orderBy("doc_a", "doc_b")

  /** `mm_audio_neardup_incremental`: the ingest form of audio
    * near-dup — a batch of new clips probes the HISTORICAL signatures
    * only (batch-internal pairs are [[audioNearDup]]'s job on the
    * batch alone), so text, images, video and audio all have
    * batch-vs-history twins. Thresholds are the history's
    * ([[historyMu]]); candidates come banded ([[incrementalPairs]]).
    * Scale shape: everything batch-sized except the history scan,
    * which in production is the pre-materialized banded table.
    */
  def audioNearDupIncremental(spark: SparkSession, dir: String): DataFrame =
    incremental(spark, dir, Audio)

  /** Batch decode: binary payloads → typed metadata via
    * `mapPartitions` (one iterator per partition; the executor
    * processes a whole batch without materializing it).
    */
  def decodeMeta(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[MediaMeta] = Encoders.product[MediaMeta]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.map(r => decodeMedia(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
      .orderBy("doc_id")
  }

  val ResizeTarget = 64L

  /** Aspect-preserving fit of (w, h) into a [[ResizeTarget]]² box —
    * exact integer ceil-div (equals the double form: products here are
    * far below 2⁵³, so `ceil(w·t/max)` has no fp error to diverge on).
    */
  private def fitDims(w: Long, h: Long): (Long, Long) = {
    val t = ResizeTarget
    val mx = math.max(math.max(w, h), 1L)
    (math.max((w * t + mx - 1) / mx, 1L), math.max((h * t + mx - 1) / mx, 1L))
  }

  /** "Resize" planning: given the decoded dimensions, compute the
    * aspect-preserving fit into a [[ResizeTarget]]² box (ceil-scaled,
    * like a thumbnailer) — the metadata half of a resize operator; the
    * pixel half is [[resizeExec]]. Everything here is exact integer
    * arithmetic, so the DuckDB oracle reproduces it bit-for-bit.
    * Composes on [[decodeMeta]]'s output — one map-only pass after the
    * decode pass.
    */
  def resizePlan(spark: SparkSession, dir: String): DataFrame = {
    val t = ResizeTarget
    // scale by the larger side: out = ceil(dim * t / max(w, h)), min 1
    val mx = greatest(col("width"), col("height"))
    def fit(dim: org.apache.spark.sql.Column) =
      greatest(ceil(dim * t / mx).cast("long"), lit(1L))
    decodeMeta(spark, dir)
      .select(col("doc_id"), col("width"), col("height"),
        fit(col("width")).as("out_width"),
        fit(col("height")).as("out_height"))
      .orderBy("doc_id")
  }

  /** `mm_resize_exec`: the EXECUTED resize — nearest-neighbor resample
    * of the PPM raster (the codec-free format: its body is raw
    * interleaved RGB) to the [[resizePlan]] dims, emitting a content
    * hash of the output raster. Source index per output byte is exact
    * integer math — `srcY = y·h div oh`, `srcX = x·w div ow`, channel
    * carried through — so both engines replay the resample
    * byte-for-byte. The synthesized raster is length-n rather than the
    * full 3·w·h bytes, so the raster index wraps mod n (pure index
    * arithmetic; a full raster drops the mod). The output hash is
    * sha256 over the lower-hex rendering of the output bytes — a
    * string on both sides, which is what lets the oracle rebuild it
    * with an ordered string_agg.
    *
    * Scale shape: map-only over decoded batches (iterator-to-iterator,
    * no driver involvement), output one row per image — the thumbnail
    * job at its natural parallelism.
    */
  def resizeExec(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[ResizeOut] = Encoders.product[ResizeOut]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap(r => resizeOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
      .orderBy("doc_id")
  }

  /** One payload's executed resize ([[resizeExec]]'s kernel body) —
    * None for non-PPM payloads.
    */
  private[graft] def resizeOne(docId: Long, p: Array[Byte]): Option[ResizeOut] =
    if (!isPpm(p)) None
    else ppmParse(p).map { case (w, h, off) =>
      val n = p.length - off
      val (ow, oh) = fitDims(w, h)
      val out = new StringBuilder((ow * oh * 3 * 2).toInt)
      var y = 0L
      while (y < oh) {
        val srcY = y * h / oh
        var x = 0L
        while (x < ow) {
          val srcX = x * w / ow
          val base = (srcY * w + srcX) * 3
          var c = 0
          while (c < 3) {
            val idx = ((base + c) % n).toInt
            out.append("%02x".format(p(off + idx) & 0xff))
            c += 1
          }
          x += 1
        }
        y += 1
      }
      ResizeOut(docId, ow, oh,
        MessageDigest.getInstance("SHA-256")
          .digest(out.toString.getBytes("US-ASCII"))
          .map("%02x".format(_)).mkString)
    }

  val FeatureDim = 8

  /** Exact block means of the `len` bytes of `p` from `from`: byte j
    * goes to block ⌊j·dims/len⌋ (block sizes differ by at most one),
    * and each block owning ≥ 1 byte yields (0-based block, mean byte
    * value scaled to [0,1]). The mean is exact integer arithmetic in
    * 10⁻⁶ units — ⌊(sum·10⁶ + den/2) / den⌋ with den = count·255 — so
    * the oracle replays it bit-for-bit with the same integer ops. The
    * one pooling loop of the pixel features, the pixel phash channels
    * and the per-frame video channels.
    */
  private def blockMeans(p: Array[Byte], from: Int, len: Int,
      dims: Int): Iterator[(Int, Double)] = {
    val sums = new Array[Long](dims)
    val cnts = new Array[Long](dims)
    var j = 0
    while (j < len) {
      val d = (j.toLong * dims / len).toInt
      sums(d) += p(from + j) & 0xff
      cnts(d) += 1
      j += 1
    }
    (0 until dims).iterator.filter(cnts(_) > 0).map { d =>
      val den = cnts(d) * 255
      (d, ((sums(d) * 1000000L + den / 2) / den).toDouble / 1e6)
    }
  }

  /** Average-pool feature extraction over the DECODED raster: the
    * [[blockMeans]] of the media stream the parse located
    * ([[bodyStart]]) as a dense `dims` vector, 0.0 for blocks owning no
    * byte. This is the classic average-pooling front of a perceptual
    * pipeline: real pixel content, no codec needed, because BMP and
    * PPM bodies are raw raster bytes (WAV/AVI bodies pool the same way
    * over samples/frame data — a spectral stand-in).
    */
  private[graft] def blockFeatures(p: Array[Byte], dims: Int): Array[Double] = {
    val out = new Array[Double](dims)
    blockChannels(p, dims).foreach { case (d, f) => out(d) = f }
    out
  }

  /** [[blockFeatures]] as (0-based dim, value) pairs for POPULATED
    * blocks only — the row-emitting form whose output matches the
    * oracle's byte-driven replay exactly (a block owning no byte
    * produces no row, not a 0.0 filler that would shift the per-dim
    * corpus means).
    */
  private[graft] def blockChannels(p: Array[Byte], dims: Int): Iterator[(Int, Double)] = {
    val off = bodyStart(p)
    blockMeans(p, off, p.length - off, dims)
  }

  /** `mm_features`: [[FeatureDim]]-dim average-pool embedding per
    * payload, computed from the ACTUAL raster bytes the decode parse
    * locates — the populated [[blockChannels]] as (doc_id, 1-based
    * dim, f) rows, ready for [[Similarity]]/[[Dedup.embeddingNearDupLsh]]-
    * style consumers; a production pipeline swaps the pooling kernel
    * for a learned image encoder behind the same `mapPartitions` batch
    * shape. Map-only, iterator-to-iterator, typed output.
    */
  def features(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[MediaFeature] = Encoders.product[MediaFeature]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          blockChannels(r.getAs[Array[Byte]](1), FeatureDim)
            .map { case (d, f) => MediaFeature(id, d + 1L, f) }
        }
      }
      .toDF()
      .orderBy("doc_id", "dim")
  }

  /** The image-feature corpus as DENSE vectors (vec_id, v) — the
    * [[blockFeatures]] channels assembled into fixed
    * [[FeatureDim]]-length arrays (unpopulated blocks read 0.0, the
    * [[blockFeatures]] convention), which is the shape the ANN
    * machinery consumes: [[graft.operators.KMeansCodebook]] trains
    * cells over it and [[Similarity.annImageSearch]] serves from them.
    * Empty bodies emit no vector (the [[blockChannels]] convention —
    * an all-zero vector has no direction to search by). Map-only
    * kernel, one pass over the payloads.
    */
  private[graft] def imageVectors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]](1)
          if (p.length - bodyStart(p) <= 0) Iterator.empty
          else Iterator.single((r.getLong(0), blockFeatures(p, FeatureDim).toSeq))
        }
      }
      .toDF("vec_id", "v")
  }

  val ChunkBytes = 256

  /** Fixed-size chunking of payloads — the frame-sampling / tiling
    * shape: one row per chunk with a content hash, `explode` over a
    * computed offset sequence (no driver involvement, parallel by doc).
    */
  def chunkPayloads(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("start",
        explode(sequence(lit(1), greatest(length(col("text")), lit(1)), lit(ChunkBytes))))
      .withColumn("chunk", col("text").substr(col("start"), lit(ChunkBytes)))
      .select(
        col("doc_id"),
        ((col("start") - 1) / ChunkBytes).cast("long").as("chunk_id"),
        length(col("chunk")).cast("long").as("chunk_len"),
        md5(col("chunk")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  val FrameSampleK = 8

  /** Video frame sampling — the TEMPORAL analogue of
    * [[chunkPayloads]]'s spatial tiling, over stream metadata PARSED
    * from the real RIFF/AVI `avih` header ([[videoMeta]]:
    * dwTotalFrames + dwMicroSecPerFrame → fps). Only video payloads
    * emit rows (flatMap — the format dispatch is the filter). The
    * operator emits the standard uniform-K frame sample: sample k
    * picks frame ⌊k·n/K⌋ with its millisecond timestamp. All integer
    * arithmetic (engine-exact); the sample expansion is map-only
    * `sequence`+`explode` — no driver involvement, partition-count
    * independent; the pixel fetch for the selected frames composes
    * downstream exactly like the decode.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[VideoMeta] = Encoders.product[VideoMeta]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap(r => videoMeta(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
      .select(col("doc_id"), col("n_frames"), col("fps"),
        explode(sequence(lit(0L), lit(FrameSampleK - 1L))).as("sample_no"))
      .withColumn("frame_no",
        expr(s"CAST((sample_no * n_frames) DIV $FrameSampleK AS BIGINT)"))
      .withColumn("ts_ms", expr("CAST((frame_no * 1000) DIV fps AS BIGINT)"))
      .select(col("doc_id"), col("sample_no"), col("frame_no"), col("ts_ms"),
        col("n_frames"), col("fps"))
      .orderBy("doc_id", "sample_no")
  }

  /** `mm_frame_bytes`: the frame EXTRACTION that completes
    * [[frameSample]] — for each uniformly-sampled frame, slice the
    * actual frame-data bytes out of the parsed `movi` body and emit a
    * content hash. The synthesized stream is not codec-framed, so
    * frame f owns the byte range [⌊f·n/F⌋, ⌊(f+1)·n/F⌋) of the body
    * (exact integer bounds both engines replay; a real container
    * replaces the bounds with its index chunk, the slice-and-hash
    * stays). The hash is sha256 over the lower-hex rendering — the
    * same string-domain trick as [[resizeExec]], so the oracle
    * rebuilds it from hex substrings. Map-only over decoded batches;
    * one row per sampled frame.
    */
  def frameBytes(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc: Encoder[FrameBytes] = Encoders.product[FrameBytes]
    payloads(spark, dir)
      .mapPartitions { rows: Iterator[Row] =>
        rows.flatMap { r =>
          val p = r.getAs[Array[Byte]](1)
          // zero-frame guard: a parsed dwTotalFrames of 0 (never
          // synthesized, but the parser claims arbitrary AVI bytes)
          // has no frame ranges — emit nothing, don't divide by it
          videoMeta(r.getLong(0), p).filter(_.n_frames > 0).iterator.flatMap { vm =>
            val off = bodyStart(p)
            val n = (p.length - off).toLong
            (0L until FrameSampleK.toLong).iterator.map { s =>
              val f = s * vm.n_frames / FrameSampleK
              val from = (f * n / vm.n_frames).toInt
              val until = ((f + 1) * n / vm.n_frames).toInt
              val hx = new StringBuilder((until - from) * 2)
              var j = from
              while (j < until) { hx.append("%02x".format(p(off + j) & 0xff)); j += 1 }
              FrameBytes(vm.doc_id, s, f,
                if (vm.fps > 0) f * 1000 / vm.fps else 0L,
                (until - from).toLong,
                MessageDigest.getInstance("SHA-256")
                  .digest(hx.toString.getBytes("US-ASCII"))
                  .map("%02x".format(_)).mkString)
            }
          }
        }
      }
      .toDF()
      .orderBy("doc_id", "sample_no")
  }

  /** Minimum cross-matched sampled-frame pairs (at Hamming ≤
    * [[PhashMaxHamming]]) for two videos to count as clip-level
    * near-dups: half the [[FrameSampleK]] sample.
    */
  val VideoMatchMinFrames = 4L

  /** Per-sampled-frame phash channels ([[videoNearDup]]'s kernel):
    * [[blockMeans]] pooling applied WITHIN each sampled
    * frame's byte range (the [[frameBytes]] bounds — frame f owns body
    * bytes [⌊f·n/nf⌋, ⌊(f+1)·n/nf⌋)). Empty frames emit nothing;
    * channels that own no byte emit nothing (they pack as 0 bits
    * downstream, since a missing mean can never beat a ≥ 0 threshold).
    */
  private[graft] def frameChannelRows(docId: Long, p: Array[Byte]): Iterator[FrameChannel] =
    // zero-frame guard: see frameBytes — no frame ranges, no division
    videoMeta(docId, p).filter(_.n_frames > 0).iterator.flatMap { vm =>
      val off = bodyStart(p)
      val n = (p.length - off).toLong
      (0L until FrameSampleK.toLong).iterator.flatMap { s =>
        val f = s * vm.n_frames / FrameSampleK
        val from = (f * n / vm.n_frames).toInt
        val until = ((f + 1) * n / vm.n_frames).toInt
        blockMeans(p, off + from, until - from, PhashBits)
          .map { case (d, mean) => FrameChannel(docId, s, d + 1L, mean) }
      }
    }

  /** `mm_video_neardup`: CLIP-level near-duplicate video pairs — the
    * video half of dedup, completing the modality row (text has
    * MinHash/SimHash, images have [[phashPairs]]). The standard
    * production design: sample K frames per clip ([[frameSample]]'s
    * uniform grid), perceptual-hash each FRAME (block means over the
    * frame's actual bytes, thresholded against the per-channel corpus
    * mean over all sampled frames — the [[phashPairs]] average-hash at
    * frame granularity), find frame-level matches with the banded
    * join, then lift to clip pairs: two videos are near-dups when ≥
    * [[VideoMatchMinFrames]] cross-frame pairs match at Hamming ≤
    * [[PhashMaxHamming]]. Re-encoded/re-containered copies of a clip
    * keep their frame content, so their frame hashes — computed from
    * the stream bytes, not the container — still collide.
    *
    * Scale shape: the frame-signature frame is K×|videos| rows (map
    * only); thresholds are ONE [[PhashBits]]-row broadcast
    * (decimal-summed, order-exact); candidates come banded (never
    * all-pairs over frames, let alone clips); the clip lift is one
    * combiner-friendly groupBy over matched pairs. Every stage is
    * exact integer/6dp arithmetic the oracle replays bit-for-bit.
    */
  def videoNearDup(spark: SparkSession, dir: String): DataFrame =
    sigPairs(Frame, corpusSigs(spark, dir, Frame)).orderBy("doc_a", "doc_b")

  /** `mm_video_neardup_incremental`: the ingest form of clip-level
    * near-dup — a batch of new clips probes the HISTORICAL frame
    * signatures only (batch-internal pairs are [[videoNearDup]]'s job
    * on the batch alone). Thresholds are the history's
    * ([[historyMu]]); frame candidates come banded, multi-band
    * collisions collapse via [[firstBandOnly]] (not `distinct` — the
    * streaming twin shares the plan shape), and the clip lift keeps
    * the [[VideoMatchMinFrames]] floor. Scale shape: everything
    * batch-sized except the history scan, which in production is the
    * pre-materialized banded table.
    */
  def videoNearDupIncremental(spark: SparkSession, dir: String): DataFrame =
    incremental(spark, dir, Frame)

  /** `mm_video_scene_cuts`: shot-boundary detection — the temporal
    * segmentation a video pipeline runs before sampling one keyframe
    * per shot. Each consecutive pair of a clip's sampled frames emits
    * a transition row with the Hamming distance between their
    * perceptual hashes ([[corpusSigs]] — the same signatures the
    * near-dup family banded-joins, read sequentially here) and a cut
    * flag at distance > [[SceneCutHamming]]. Empty sampled frames have
    * no signature, so the lag pairs each frame with its nearest
    * PRESENT predecessor (`prev_sample` names it — gaps are data, not
    * an error).
    *
    * Scale shape: one lag window partitioned BY CLIP (≤
    * [[FrameSampleK]] rows per partition key — never a global
    * window); everything upstream is the signature pipeline's
    * map-only kernel + one broadcast + one groupBy.
    */
  def videoSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("sample_no")
    corpusSigs(spark, dir, Frame)
      .withColumn("prev_sample", lag(col("sample_no"), 1).over(byDoc))
      .withColumn("prev_ph", lag(col("ph"), 1).over(byDoc))
      .filter(col("prev_sample").isNotNull)
      .select(col("doc_id"), col("sample_no"), col("prev_sample"),
        expr("CAST(bit_count(ph ^ prev_ph) AS BIGINT)").as("hamming"))
      .withColumn("is_cut",
        when(col("hamming") > SceneCutHamming, 1L).otherwise(0L))
      .orderBy("doc_id", "sample_no")
  }

  /** `mm_video_keyframes`: one representative frame per SHOT — the
    * consumer of [[videoSceneCuts]] and the end of the video
    * preprocessing chain (sample → hash → cut → keyframe): a vision
    * encoder's frame budget ingests keyframes, not the raw sample
    * grid. Shots are the islands between cuts (boundary = first
    * present frame or a transition at Hamming > [[SceneCutHamming]]
    * from the previous present frame — the [[videoSceneCuts]] cut
    * definition applied as a segmenter); the keyframe is each shot's
    * FIRST sampled frame (the frame right after the cut, the standard
    * choice). Same scale shape as the cut detector: everything rides
    * the signature pipeline plus doc-partitioned windows over ≤
    * [[FrameSampleK]] rows per key.
    */
  def videoKeyframes(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("sample_no")
    corpusSigs(spark, dir, Frame)
      .withColumn("prev_ph", lag(col("ph"), 1).over(byDoc))
      .withColumn("boundary",
        when(col("prev_ph").isNull ||
          expr(s"bit_count(ph ^ prev_ph) > $SceneCutHamming"), 1L)
          .otherwise(0L))
      .withColumn("shot_no", sum(col("boundary")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .groupBy("doc_id", "shot_no")
      .agg(min("sample_no").as("keyframe_sample"),
        max("sample_no").as("end_sample"),
        count(lit(1)).as("n_frames"))
      .orderBy("doc_id", "shot_no")
  }

  /** Perceptual-hash width / banding: [[PhashBits]]-bit average hash,
    * [[PhashBands]] bands of bits/bands each — by pigeonhole, any pair
    * at Hamming ≤ bands−1 (= [[PhashMaxHamming]]) shares a full band,
    * so the banded candidate join is LOSSLESS at the emitted threshold
    * (the [[Dedup.simHashPairs]] argument at image width).
    */
  val PhashBits = 16
  val PhashBands = 2
  val PhashMaxHamming = 1L

  /** A transition is a CUT when consecutive sampled frames' hashes
    * differ in more than [[SceneCutHamming]] of the [[PhashBits]]
    * bits — strictly above the near-dup tolerance, so a "cut" is
    * exactly "these two frames would NOT be perceptual near-dups".
    * (Declared after [[PhashMaxHamming]]: object vals initialize in
    * declaration order, and a forward reference would read 0.)
    */
  val SceneCutHamming = PhashMaxHamming

  // ---- the banded-signature path: ONE dataflow for the image, audio
  // and video near-dup families (channel kernel → threshold fit → bit
  // fold → band explode → band join → XOR-popcount verify), shared by
  // the corpus, incremental, keep-list and stream operators. A modality
  // contributes only its channel kernel — the reference's user `mapf`
  // (mr/worker.go): the map function varies, the dataflow around it
  // does not. ----

  /** A media near-dup family: its channel kernel `(docId, payload) →
    * (sample_no, bit, value)` and the memo kinds of its corpus
    * signatures (`<sigKind>sig`), history thresholds (`muKind`) and
    * history-thresholded signatures (`hist<sigKind>sig`). A `clip`
    * family hashes several samples per doc and lifts frame matches to
    * doc pairs ([[clipLift]]); the others hash one sample (0) per doc.
    */
  private[graft] final case class SigFamily(sigKind: String, muKind: String,
      clip: Boolean, channels: (Long, Array[Byte]) => Iterator[(Long, Int, Double)])

  /** Pixel average hash: the raster's [[blockChannels]] at [[PhashBits]]. */
  private[graft] val Pixel = SigFamily("phash", "pixmu", clip = false,
    (_, p) => blockChannels(p, PhashBits).map { case (d, f) => (0L, d, f) })

  /** Audio energy-profile hash: [[PhashBits]] [[audioEnergyRows]] windows. */
  private[graft] val Audio = SigFamily("audio", "audmu", clip = false,
    (_, p) => audioEnergyRows(0L, p, PhashBits).map(e => (0L, e.win.toInt, e.energy)))

  /** Video frame hash: each sampled frame's [[frameChannelRows]], bit = dim − 1. */
  private[graft] val Frame = SigFamily("frame", "framemu", clip = true,
    (id, p) => frameChannelRows(id, p).map(c => (c.sample_no, (c.dim - 1).toInt, c.f)))

  /** Every channel (doc_id, sample_no, bit, v) of a payload frame under
    * a family's kernel — map-only, iterator-to-iterator.
    */
  private def channelRows(payloads: DataFrame, fam: SigFamily): DataFrame = {
    implicit val enc: Encoder[(Long, Long, Int, Double)] = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaDouble)
    payloads.mapPartitions { rows: Iterator[Row] =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        fam.channels(id, r.getAs[Array[Byte]](1)).map { case (s, b, v) => (id, s, b, v) }
      }
    }.toDF("doc_id", "sample_no", "bit", "v")
  }

  /** The threshold fit: (bit, mu) with mu each bit's mean channel
    * value, decimal-summed so the mean is order-exact — a
    * [[PhashBits]]-row aggregate.
    */
  private def bitMeans(channels: DataFrame): DataFrame =
    channels.groupBy("bit")
      .agg(round(sum(col("v").cast("decimal(18,6)")).cast("double")
        / count(lit(1)), 6).as("mu"))

  /** Corpus signatures (doc_id, sample_no, ph) under thresholds fit on
    * the same payloads — the average hash: bit b says "this sample is
    * above the corpus mean in channel b". One map-only channel pass,
    * the threshold frame joined by broadcast, one combiner-friendly
    * fold per sample. The un-memoized build plan (the plan audit
    * inspects this).
    */
  private[graft] def corpusSigsBuild(payloads: DataFrame, fam: SigFamily): DataFrame = {
    val ch = channelRows(payloads, fam)
    ch.join(broadcast(bitMeans(ch)), "bit")
      .groupBy("doc_id", "sample_no")
      .agg(sum(when(col("v") > col("mu"), expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        .otherwise(lit(0L))).as("ph"))
  }

  /** [[corpusSigsBuild]] over the whole media corpus, memoized per
    * corpus ([[memoSig]]): the pair queries, the keep-lists, the scene
    * cuts and keyframes all read one signature frame per family.
    */
  private[graft] def corpusSigs(spark: SparkSession, dir: String, fam: SigFamily): DataFrame =
    memoSig(spark, dir, s"${fam.sigKind}sig")(corpusSigsBuild(payloads(spark, dir), fam))

  /** Per-bit thresholds trained on the HISTORY side of the
    * [[Dedup.split]] — new docs must hash with the thresholds the
    * stored signatures used, or batch and store bits mean different
    * things. Bits no history channel populated carry NO threshold and
    * never set. ≤ [[PhashBits]] values, memoized per corpus and shipped
    * in task closures (the codebook contract).
    */
  private[graft] def historyMu(spark: SparkSession, dir: String, fam: SigFamily): Map[Int, Double] =
    fitHistoryMu(spark, dir, fam, fam.muKind, lit(true))

  /** Pixel thresholds trained on the history's IMAGE docs only:
    * [[mediaKeep]]'s image fingerprints are image-corpus-thresholded,
    * so maintaining them needs the history slice of that same corpus.
    */
  private[graft] def historyImageMu(spark: SparkSession, dir: String): Map[Int, Double] =
    fitHistoryMu(spark, dir, Pixel, "imgmu", isImagePayload)

  // memoized per corpus like the k-means codebooks they parallel: every
  // incremental/stream/maintain query would re-collect the same aggregate
  private def fitHistoryMu(spark: SparkSession, dir: String, fam: SigFamily,
      kind: String, only: Column): Map[Int, Double] =
    Kernels.memo(s"mu:$kind", Kernels.inputKey(dir, "documents.parquet")) {
      bitMeans(channelRows(payloads(spark, dir, !Dedup.isBatch(col("doc_id")) && only), fam))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    }

  /** One payload's per-sample signatures under trained thresholds: bit
    * b set iff channel b exists, has a threshold and beats it. A
    * sample none of whose channels has a threshold gets NO row (the
    * inner-join rule of the corpus fold) — distinct from a sample
    * whose thresholded channels all read 0.
    */
  private def trainedSig(fam: SigFamily, id: Long, p: Array[Byte],
      mu: Map[Int, Double]): Iterator[(Long, Long)] =
    fam.channels(id, p).toSeq.groupBy(_._1).iterator.collect {
      case (s, cs) if cs.exists(c => mu.contains(c._2)) =>
        s -> cs.foldLeft(0L) { case (acc, (_, b, v)) =>
          if (mu.get(b).exists(v > _)) acc | (1L << b) else acc
        }
    }

  /** (doc_id, sample_no, ph) signatures of a payload frame under the
    * trained thresholds in the closure — map-only and stateless
    * (streaming-legal), so the incremental queries, the memoized
    * history frames and the stream twins hash with the same kernel.
    */
  private[graft] def trainedSigs(payloads: DataFrame, fam: SigFamily,
      mu: Map[Int, Double]): DataFrame = {
    implicit val enc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    payloads.mapPartitions { rows: Iterator[Row] =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        trainedSig(fam, id, r.getAs[Array[Byte]](1), mu).map { case (s, ph) => (id, s, ph) }
      }
    }.toDF("doc_id", "sample_no", "ph")
  }

  /** The history side's signatures under its own thresholds — in
    * production the banded table ingest maintains (the
    * [[Dedup.incremental]] contract).
    */
  private[graft] def historySigs(spark: SparkSession, dir: String, fam: SigFamily,
      mu: Map[Int, Double]): DataFrame =
    trainedSigs(payloads(spark, dir, !Dedup.isBatch(col("doc_id"))), fam, mu)

  /** Stateless multi-band dedup: keep a (sample-pair, band) hit only on
    * the LOWEST band whose keys collide — band 0, or any later band
    * whose preceding bands all differ. Each matched pair then survives
    * on exactly one row, so the downstream count needs no `distinct` —
    * which is what lets the STREAMING twins count matches with a
    * single stateful aggregation (distinct aggregates are not
    * streaming-legal). With [[PhashBands]] = 2 the condition is: band
    * 0, or the band-0 keys differ.
    */
  private[graft] def firstBandOnly(ph: Column, hph: Column, band: Column): Column = {
    val bandBits = PhashBits / PhashBands
    val mask = (1L << bandBits) - 1
    (1 until PhashBands).foldLeft(band === 0) { (acc, b) =>
      acc || (band === b &&
        (0 until b).map { lower =>
          shiftright(ph, bandBits * lower).bitwiseAND(lit(mask)) =!=
            shiftright(hph, bandBits * lower).bitwiseAND(lit(mask))
        }.reduce[Column](_ || _))
    }
  }

  /** Band rows (doc_id, ph, band, bkey) of a signature frame: one row
    * per [[PhashBands]] band, keyed by its [[PhashBits]]/[[PhashBands]]
    * bits — map-only.
    */
  private def bands(sig: DataFrame): DataFrame = {
    val bandBits = PhashBits / PhashBands
    val mask = (1L << bandBits) - 1
    sig.select(col("doc_id"), col("ph"), explode(array((0 until PhashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("ph"), bandBits * b).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("ph"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Banded Hamming matches (doc_a, doc_b, hamming) between two
    * signature frames: band collisions equi-join under the `pair`
    * predicate on the doc ids (never all-pairs), multi-band collisions
    * collapse via [[firstBandOnly]], and an integer XOR popcount
    * verifies at Hamming ≤ [[PhashMaxHamming]].
    */
  private def bandMatches(x: DataFrame, y: DataFrame,
      pair: (Column, Column) => Column): DataFrame =
    bands(x).as("x").join(bands(y).as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          pair(col("x.doc_id"), col("y.doc_id")))
      .filter(firstBandOnly(col("x.ph"), col("y.ph"), col("x.band")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.ph ^ y.ph) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= PhashMaxHamming)

  /** The frame-match → clip-pair lift: two videos are near-dups when ≥
    * [[VideoMatchMinFrames]] cross-frame pairs match.
    */
  private def clipLift(matches: DataFrame): DataFrame =
    matches.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_frame_matches"), min("hamming").as("min_hamming"))
      .filter(col("n_frame_matches") >= VideoMatchMinFrames)

  /** Corpus near-dup pairs (doc_a < doc_b) of one signature frame:
    * image/audio pairs are the matches (one signature per doc, one row
    * per pair after [[firstBandOnly]]); clips lift. Unordered.
    */
  private[graft] def sigPairs(fam: SigFamily, sig: DataFrame): DataFrame = {
    val m = bandMatches(sig, sig, _ < _)
    if (fam.clip) clipLift(m) else m
  }

  /** Probe pairs (doc_a from `probe`, doc_b from `store`, doc_a ≠
    * doc_b) — the asymmetric band join whose cost is |probe| ×
    * collisions, never the store's self-join. Image/audio fold matches
    * per pair (a no-op after [[firstBandOnly]], and the aggregate a
    * stream twin's complete-mode drain needs); clips lift. Pairs
    * inside the probe come in both orientations.
    */
  private[graft] def probePairs(fam: SigFamily, probe: DataFrame, store: DataFrame): DataFrame = {
    val m = bandMatches(probe, store, _ =!= _)
    if (fam.clip) clipLift(m) else m.groupBy("doc_a", "doc_b").agg(min("hamming").as("hamming"))
  }

  /** [[probePairs]] as (batch_id, hist_id, …): the one batch-vs-history
    * probe of the three `mm_*_incremental` queries and their stream
    * twins.
    */
  private[graft] def incrementalPairs(fam: SigFamily, batch: DataFrame,
      history: DataFrame): DataFrame =
    probePairs(fam, batch, history)
      .withColumnRenamed("doc_a", "batch_id").withColumnRenamed("doc_b", "hist_id")

  /** An `mm_*_incremental` query: the batch side of the [[Dedup.split]]
    * probes the history side, both hashed with the history's
    * thresholds. Everything batch-sized except the history scan.
    */
  private def incremental(spark: SparkSession, dir: String, fam: SigFamily): DataFrame = {
    val mu = historyMu(spark, dir, fam)
    incrementalPairs(fam,
      trainedSigs(payloads(spark, dir, Dedup.isBatch(col("doc_id"))), fam, mu),
      historySigs(spark, dir, fam, mu))
      .orderBy("batch_id", "hist_id")
  }

  /** `mm_phash_incremental`: the ingest form of perceptual dedup — a
    * batch of new images probes the HISTORICAL signatures only
    * (batch-internal pairs are [[phashPairs]]' job on the batch
    * alone): exact, MinHash, SimHash, spans, semantic, and images all
    * have batch-vs-history twins. Thresholds are the history's
    * ([[historyMu]]); signatures hash the PIXEL blocks; candidates
    * come banded; a multi-band collision folds to one row.
    */
  def phashIncremental(spark: SparkSession, dir: String): DataFrame =
    incremental(spark, dir, Pixel)

  /** `mm_phash_pairs`: perceptual near-dup pairs over the media corpus
    * — the image half of dedup. Per-image features are the PIXEL block
    * means ([[blockFeatures]] over the raster the decode locates),
    * thresholded against their PER-CORPUS per-dimension mean — the
    * classic average-hash: bit i says "this image is above corpus
    * average in channel i" — packing each image into a [[PhashBits]]-
    * bit signature. Near-dups are pairs at Hamming ≤
    * [[PhashMaxHamming]], found by the banded join, never all-pairs.
    *
    * Scale shape: features are map-only over decoded batches; the
    * thresholds are ONE dim-sized broadcast (a [[PhashBits]]-row
    * aggregate, combiner-friendly, decimal-summed so the mean is
    * order-exact); signatures are one combiner-friendly groupBy(doc);
    * candidates come banded (~2·2⁻⁸ of pairs at this width), each
    * verified with an integer XOR popcount. Every stage is exact
    * integer/6dp arithmetic, replayed bit-for-bit by the oracle.
    */
  def phashPairs(spark: SparkSession, dir: String): DataFrame =
    sigPairs(Pixel, corpusSigs(spark, dir, Pixel)).orderBy("doc_a", "doc_b")

  /** `mm_media_keep`: the cross-modal dedup keep-list — ONE
    * signature-identical grouping over the whole media corpus, the
    * capstone the per-modality signature pipelines exist for: a media
    * ingest keeps one representative per content group regardless of
    * container. Each payload gets its MODALITY-NATIVE fingerprint —
    * images: the [[PhashBits]]-bit pixel average hash under
    * image-corpus thresholds; audio: the energy-profile hash; video: a
    * clip fingerprint folding the ordered per-frame signatures (both
    * [[corpusSigs]]) — and groups
    * with identical (modality, fingerprint) keep their minimum doc_id
    * (the [[Dedup]] keep-list convention). Payloads with no decodable
    * content (empty bodies) have no fingerprint and emit no row.
    *
    * Scale shape: three map-heavy signature pipelines (each one
    * payload pass + one dim-sized threshold broadcast + one
    * combiner-friendly per-doc fold), then ONE groupBy on (modality,
    * fingerprint) — no loops, no pair joins, no all-pairs anywhere;
    * this is strictly cheaper than the near-dup pair family it
    * complements (signature-EQUALITY dedup is the exact tier; the
    * banded Hamming pairs are the near tier).
    */
  def mediaKeep(spark: SparkSession, dir: String): DataFrame =
    // the grouped keep table is itself a memoized artifact ("one
    // keep-list per corpus version" — the writeKeepList story): its own
    // gate AND pack_media read it without re-running the three
    // signature chains
    memoSig(spark, dir, "mediakeep")(mediaKeepBuild(spark, dir))
      .orderBy("modality", "keep_id")

  /** Image-format predicate as a COLUMN expression on the leading
    * payload bytes (binary substring comparisons mirror isBmp/isPpm
    * exactly: 'BM' + 54-byte header floor, or 'P6') — keeps image-side
    * scans codegen-friendly where a Row-lambda filter would force
    * full-row deserialization and a typed barrier. Shared by
    * [[mediaKeep]] and the keep-list maintenance twins.
    */
  private def isImagePayload: Column =
    (substring(col("payload"), 1, 2) === lit("BM".getBytes("US-ASCII")) &&
      length(col("payload")) >= 54) ||
    substring(col("payload"), 1, 2) === lit("P6".getBytes("US-ASCII"))

  /** The keep-table build plan (un-memoized) — [[mediaKeep]] caches its
    * one materialization per corpus; the plan audit inspects THIS.
    */
  private[graft] def mediaKeepBuild(spark: SparkSession, dir: String): DataFrame = {
    // IMAGE: pixel phash under IMAGE-corpus thresholds (the parsed
    // format is the filter — magic bytes, never the synthesis formula;
    // a column test, so the scan stays codegen-friendly where a
    // Row-lambda filter forced a typed barrier)
    val imgSig = corpusSigsBuild(payloads(spark, dir, isImagePayload), Pixel)
      .select(col("doc_id"), lit("image").as("modality"),
        col("ph").cast("string").as("fingerprint"))
    // AUDIO: the energy-profile hash
    val audSig = corpusSigs(spark, dir, Audio)
      .select(col("doc_id"), lit("audio").as("modality"),
        col("ph").cast("string").as("fingerprint"))
    // VIDEO: ordered fold of the per-frame signatures — re-encoded
    // copies keep frame content, so their clip fingerprints collide
    val vidSig = corpusSigs(spark, dir, Frame)
      .groupBy("doc_id")
      .agg(md5(concat_ws(",",
        transform(sort_array(collect_list(struct(col("sample_no"), col("ph")))),
          x => concat(x("sample_no").cast("string"), lit(":"),
            x("ph").cast("string"))))).as("fingerprint"))
      .select(col("doc_id"), lit("video").as("modality"), col("fingerprint"))
    imgSig.unionByName(audSig).unionByName(vidSig)
      .groupBy("modality", "fingerprint")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
  }

  /** `mm_media_keep_neardup`: the media NEAR-dup keep-list — the
    * cluster/representative end product the banded pair streams
    * ([[phashPairs]], [[audioNearDup]], [[videoNearDup]]) exist to
    * feed, closing the gap the text side closed long ago (pairs →
    * components → `dedup_keep`): per modality, near-dup pairs become
    * edges, connected components group transitive near-dups, and each
    * component keeps its minimum doc_id with a member count — what a
    * curation pipeline actually consumes (a pair stream still needs
    * this closure before anything can be dropped; A~B and B~C must
    * collapse to ONE survivor even when A~C itself missed the Hamming
    * cut). [[mediaKeep]] remains the signature-EXACT tier; this is the
    * banded near tier over the same corpus.
    *
    * Scale shape — the load-bearing observation: at Hamming ≤
    * [[PhashMaxHamming]] over [[PhashBits]]-bit signatures, the
    * image/audio near-dup graphs are LIFTS of a graph on SIGNATURE
    * VALUES — two docs are adjacent iff their signatures are, and the
    * signature space is BOUNDED (2^[[PhashBits]] values) regardless of
    * corpus size. So their components are solved by a driver-side
    * union-find over the PRESENT signatures' Hamming adjacency
    * ([[sigComponentKeep]]) — O(|present|·bits) work capped at
    * 2^PhashBits·bits forever, the same bounded-driver-product
    * contract as a k-means codebook — followed by ONE combiner-
    * friendly aggregate (min doc, count per component). No iterative
    * job at all. Measured: the previous encoded-graph label-prop loop
    * needed 28 rounds ≈ 40 s at sf0.1 (long chains threading the
    * signature hypercube); the DSU path is two collect-bounded jobs.
    * VIDEO components still run the distributed loop: the clip pair
    * predicate (≥ [[VideoMatchMinFrames]] frame matches) counts
    * cross-frame pairs, so clip adjacency is not a function of any
    * bounded per-doc key — [[Dedup.clustersFromEdges]] over the
    * video-only graph (O(log diameter) rounds, stats-severed
    * checkpoints).
    */
  // like [[mediaKeep]], the near-tier keep table is a memoized
  // per-corpus artifact ("one keep-list per corpus version"): its own
  // gate AND the cross-modal flagship (pipeline_media_training_set)
  // read it without re-running the signature chains, the driver DSUs
  // and the video component loop
  def mediaKeepNearDup(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "mediakeepnear")(mediaKeepNearDupBuild(spark, dir))
      .orderBy("modality", "keep_id")

  /** PUBLISHED near-dup keep artifact: the keep table written ONCE per
    * corpus fingerprint to a fingerprint-keyed parquet root (the
    * [[graft.operators.Graph.ensureKnnDirectedHistory]] /
    * [[graft.operators.Dedup.ensureBandStore]] store contract). The
    * cut memo above amortizes recomputation; THIS is the
    * published-TABLE shape — production ships the keep-list as a table
    * every downstream consumer reads, and the serve path is a bare
    * parquet scan with no derivation in the plan (no signature chains,
    * no driver DSUs, no video component loop). The
    * [[graft.operators.Sampling.mediaTrainingSet]] flagship + the
    * `*_served` gate read exactly this artifact. Lifetime follows the
    * repo-wide store contract ([[Kernels.registerTempStore]]):
    * SESSION-independent — any session in the JVM serves it — with the
    * pid-suffixed root reclaimed at process exit as the sandbox's
    * disk-hygiene boundary; a deployment would point the same
    * fingerprint-keyed layout at a warehouse path instead.
    */
  private[graft] def ensureMediaKeepNearDupStore(
      spark: SparkSession, dir: String): String =
    Kernels.buildStore("graft-media-keep", Kernels.inputKey(dir, "documents.parquet"))(
      mediaKeepNearDup(spark, dir).write.mode("overwrite").parquet(_))

  /** The durable keep artifact as a frame — the flagship's input (a
    * parquet scan, no derivation in the plan).
    */
  private[graft] def mediaKeepNearDupArtifact(
      spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, ensureMediaKeepNearDupStore(spark, dir))

  /** `mm_media_keep_neardup_served`: the keep-list served from the
    * durable artifact — same rows as [[mediaKeepNearDup]] (shared
    * oracle), but the plan is ONLY a parquet scan of the store: the
    * production read path for every consumer of an already-published
    * keep table.
    */
  def mediaKeepNearDupServed(spark: SparkSession, dir: String): DataFrame =
    mediaKeepNearDupArtifact(spark, dir).orderBy("modality", "keep_id")

  private[graft] def mediaKeepNearDupBuild(spark: SparkSession, dir: String): DataFrame = {
    val img = sigComponentKeep(spark, corpusSigs(spark, dir, Pixel), "image")
    val aud = sigComponentKeep(spark, corpusSigs(spark, dir, Audio), "audio")
    val vidSig = corpusSigs(spark, dir, Frame)
    val vid = Dedup.clustersFromEdges(
        vidSig.select("doc_id").distinct(),
        sigPairs(Frame, vidSig).select("doc_a", "doc_b"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"))
      .select(lit("video").as("modality"), col("cluster").as("keep_id"),
        col("n_members"))
    img.unionByName(aud).unionByName(vid)
  }

  /** All non-zero XOR masks within the Hamming radius of the signature
    * metric — the neighbor enumeration of the sig-space union-find.
    */
  private def hammingMasks(bits: Int, radius: Long): Array[Long] =
    (1L until (1L << bits)).filter(m => java.lang.Long.bitCount(m) <= radius).toArray

  /** Union-find over the PRESENT signature values' Hamming-≤
    * [[PhashMaxHamming]] adjacency: sig → component root (roots keyed
    * by the component's minimum present sig under the sorted-input
    * order — any consistent keying yields identical groups). Work is
    * O(|present| · masks), |present| ≤ 2^[[PhashBits]] by
    * construction — corpus-INDEPENDENT, the bounded-driver-product
    * contract (a codebook, not a data pass).
    *
    * PIGEONHOLE PRECONDITION: this solves components over the FULL
    * Hamming-radius adjacency, while the pair streams
    * ([[sigPairs]]) and the DuckDB oracle emit BANDED candidates —
    * the two agree only because [[PhashMaxHamming]] < [[PhashBands]]
    * guarantees every within-radius pair leaves at least one band
    * untouched (≤ bands−1 differing bits cannot hit every band), i.e.
    * banded recall is lossless at the radius. Raising the radius to
    * the band count would silently connect pairs the pair products
    * and oracle never emit; the require pins the precondition at
    * first use.
    */
  require(PhashMaxHamming < PhashBands,
    s"sig-space components assume lossless banding: Hamming radius " +
      s"$PhashMaxHamming must stay below the $PhashBands-band split")

  private[graft] def sigComponents(present: Array[Long]): Map[Long, Long] = {
    val sigs = present.sorted
    val idx = sigs.zipWithIndex.toMap
    val parent = Array.tabulate(sigs.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val masks = hammingMasks(PhashBits, PhashMaxHamming)
    for (i <- sigs.indices; m <- masks) idx.get(sigs(i) ^ m).foreach { j =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    sigs.indices.map(i => sigs(i) -> sigs(find(i))).toMap
  }

  /** Near-dup keep rows for one sig-space modality: distinct present
    * sigs collect (≤ 2^[[PhashBits]] longs), the driver union-find
    * labels them, the (sig → component) table broadcast-joins back and
    * ONE combiner-friendly aggregate keeps each component's minimum
    * doc with its member count.
    */
  private def sigComponentKeep(spark: SparkSession, sig: DataFrame,
      modality: String): DataFrame = {
    import spark.implicits._
    // `sig` is a memoized checkpoint artifact — both reads (the
    // distinct-sig collect and the component join) hit its blocks
    val present = sig.select("ph").distinct().collect().map(_.getLong(0))
    val comp = sigComponents(present)
    val compDf = present.toSeq.map(s => (s, comp(s))).toDF("ph", "comp")
    sig.join(broadcast(compDf), "ph")
      .groupBy("comp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
      .select(lit(modality).as("modality"), col("keep_id"), col("n_members"))
  }

  /** One ingest batch's per-sig aggregate, collected — bounded by the
    * batch's present-sig count (≤ 2^[[PhashBits]] rows), the input to
    * [[sigKeepFold]].
    */
  private[graft] def sigBatchAgg(sigs: DataFrame): Array[(Long, Long, Long)] =
    sigs.groupBy("ph")
      .agg(min("doc_id").as("b_keep"), count(lit(1)).as("n_batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Fold one batch's per-sig aggregate into a driver-held keep store
    * (ph → (keep_id, n_members)) — the [[mergeMediaKeep]] monoid at
    * SIGNATURE granularity: frozen (history-trained) thresholds make
    * the store key stable across batches, so per-batch folds COMMUTE
    * ((min, sum) per sig) and any micro-batching of the ingest drains
    * to the history ∪ stream regroup exactly. The store is bounded by
    * the present-sig count (≤ 2^[[PhashBits]] entries) — a codebook,
    * not a data pass — which is exactly why it lives in driver memory:
    * the streaming fold pays zero per-batch store I/O.
    */
  private[graft] def sigKeepFold(
      store: scala.collection.mutable.Map[Long, (Long, Long)],
      rows: Array[(Long, Long, Long)]): Unit =
    rows.foreach { case (ph, bk, nb) =>
      store(ph) = store.get(ph) match {
        case Some((k, n)) => (math.min(k, bk), n + nb)
        case None         => (bk, nb)
      }
    }

  /** Resolve a drained per-sig keep store into component keep rows:
    * union-find over the present sigs' Hamming adjacency
    * ([[sigComponents]] — corpus-independent, ≤ 2^[[PhashBits]]
    * nodes), then the exact (min keep, summed count) fold per
    * component. The store rows arrive already in driver memory (the
    * streaming fold holds the ≤ 2^[[PhashBits]]-entry image/audio
    * stores as maps and only materializes components once, at drain).
    */
  private[graft] def sigKeepComponentRows(spark: SparkSession,
      rows: Array[(Long, Long, Long)], modality: String): DataFrame = {
    import spark.implicits._
    val comp = sigComponents(rows.map(_._1))
    rows.groupBy(r => comp(r._1)).values.map { ms =>
      (modality, ms.map(_._2).min, ms.map(_._3).sum)
    }.toSeq.toDF("modality", "keep_id", "n_members")
  }

  /** The three modality signature frames under HISTORY-trained
    * thresholds — the frozen-signature inputs the maintenance path
    * merges over (stored signatures must stay comparable across
    * ingests, so new docs hash with the thresholds the store used —
    * the incremental convention shared with [[phashIncremental]]/
    * [[audioNearDupIncremental]]/[[videoNearDupIncremental]], whose
    * kernel — [[trainedSigs]] — this is). Memoized per corpus fingerprint
    * ([[memoSig]], the corpus-signature-frame contract): the
    * history-thresholded signatures are a per-corpus PRODUCT every
    * maintenance/stream run consumes — deriving them per query
    * re-decoded the whole media corpus three times per run (measured
    * as the single heaviest bench query), where production pays the
    * decode once per ingest into a durable store.
    */
  private[graft] def mediaHistSigFrames(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    def hist(fam: SigFamily) = memoSig(spark, dir, s"hist${fam.sigKind}sig")(
      trainedSigs(payloads(spark, dir), fam, historyMu(spark, dir, fam)))
    (hist(Pixel), hist(Audio), hist(Frame))
  }

  /** The video HISTORY labels (doc → cluster over the history-only
    * clip graph) — the stored base state [[mediaKeepNearDupMaintain]]
    * contracts against, memoized per corpus fingerprint like every
    * other maintained store's history product (the
    * [[graft.operators.Graph]] kNN history artifact contract): the
    * component loop over the history clip graph runs once per corpus,
    * not once per maintenance query.
    */
  private[graft] def vidHistLabels(spark: SparkSession, dir: String): DataFrame =
    memoSig(spark, dir, "vidhistlabels") {
      val vidSig = mediaHistSigFrames(spark, dir)._3
      Dedup.clustersFromEdges(
        vidSig.select("doc_id").distinct()
          .filter(!Dedup.isBatch(col("doc_id"))),
        sigPairs(Frame, vidSig).select("doc_a", "doc_b")
          .filter(!Dedup.isBatch(col("doc_a")) && !Dedup.isBatch(col("doc_b"))))
    }

  /** Sig-space CDC maintenance for one modality: the stored product is
    * the HISTORY sig-component keep table; an ingest batch's blast
    * radius in sig space is bounded by 2^[[PhashBits]] forever, so the
    * merge re-solves the union-find over (history ∪ batch) present
    * sigs on the driver, re-keys the stored history keep rows through
    * the old-root → new-root map (adding nodes/edges only MERGES
    * components, so every old component maps into exactly one new
    * one), aggregates the batch docs by new component, and folds both
    * with the exact (min keep_id, summed count) monoid — the
    * [[Dedup.maintainKeep]] contraction argument with the contraction
    * done in bounded signature space. Maintained == the full union
    * regroup, exactly.
    */
  private def sigComponentMaintain(spark: SparkSession, sig: DataFrame,
      modality: String): DataFrame = {
    import spark.implicits._
    val pinned = Kernels.cacheTracked(
      sig.withColumn("is_batch", Dedup.isBatch(col("doc_id"))))
    // ONE presence pass serves both sig views: (sig, carried by any
    // HISTORY doc) — two separate distinct-collects were two jobs over
    // the same frame for strictly less information
    val presence = pinned.groupBy("ph")
      .agg(max(when(!col("is_batch"), lit(1)).otherwise(lit(0))).as("h"))
      .collect()
    val allPresent = presence.map(_.getLong(0))
    val histPresent = presence.filter(_.getInt(1) == 1).map(_.getLong(0))
    val histComp = sigComponents(histPresent)
    val allComp = sigComponents(allPresent)
    // the STORED history keep table (old-component keyed)
    val histCompDf = histPresent.toSeq.map(s => (s, histComp(s))).toDF("ph", "comp")
    val histKeep = pinned.filter(!col("is_batch"))
      .join(broadcast(histCompDf), "ph")
      .groupBy("comp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
    // old root → new root (any member sig maps it; roots are members)
    val rootMap = histComp.values.toSeq.distinct.map(r => (r, allComp(r)))
      .toDF("comp", "ncomp")
    val allCompDf = allPresent.toSeq.map(s => (s, allComp(s))).toDF("ph", "ncomp")
    val batchAgg = pinned.filter(col("is_batch"))
      .join(broadcast(allCompDf), "ph")
      .groupBy("ncomp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))
    histKeep.join(broadcast(rootMap), "comp")
      .select(col("ncomp"), col("keep_id"), col("n_members"))
      .unionByName(batchAgg)
      .groupBy("ncomp")
      .agg(min("keep_id").as("keep_id"), sum("n_members").as("n_members"))
      .select(lit(modality).as("modality"), col("keep_id"), col("n_members"))
  }

  /** `mm_media_keep_neardup_maintain`: incremental maintenance of the
    * media NEAR-dup keep-list, completing the media family's symmetry
    * with text (exact keep: batch + maintain + stream; near keep:
    * batch + maintain). Thresholds are the history's, so signatures —
    * and therefore adjacency, which depends only on the endpoints —
    * are FROZEN, and maintained == the full recompute over the union
    * under the same thresholds (the oracle, exactly, and the spec's
    * independent driver replay). Image/audio merge in BOUNDED
    * signature space ([[sigComponentMaintain]] — the ingest's blast
    * radius can never exceed 2^[[PhashBits]] sig nodes); video runs
    * [[Dedup.maintainKeep]]'s contraction merge over the clip graph:
    * history endpoints of batch-touching clip edges contract to their
    * stored representatives, components re-solve over the batch's
    * blast radius only, counts merge by weight, untouched keep rows
    * ride an anti-join.
    */
  def mediaKeepNearDupMaintain(spark: SparkSession, dir: String): DataFrame = {
    // phase marks for the bench artifact: this query is typically the
    // bench's first toucher of the media sig/label memos, so its
    // headline number is mostly memo builds — the marks make that
    // split mechanical instead of folklore
    val mark = Kernels.phaseMarker()
    val (imgSig, audSig, vidSig) = mediaHistSigFrames(spark, dir)
    mark("sig_memos")
    val img = sigComponentMaintain(spark, imgSig, "image")
    val aud = sigComponentMaintain(spark, audSig, "audio")
    mark("img_aud_maintain")
    // video: the clip-graph contraction merge. The base state (the
    // history labels) is a memoized per-corpus artifact
    // ([[vidHistLabels]] — a durable table in production), NOT part of
    // this query's plan or cache scope; only the batch blast radius is
    // derived per run. The batch nodes/edges are cut so the merge loop
    // starts from leaves; this query's retire frees them (never the
    // memo's blocks).
    val batchNodes = Kernels.cut(
      vidSig.select("doc_id").distinct().filter(Dedup.isBatch(col("doc_id"))))
    val batchEdges = Kernels.cut(
      probePairs(Frame, vidSig.filter(Dedup.isBatch(col("doc_id"))), vidSig)
        .select("doc_a", "doc_b"))
    val hist = vidHistLabels(spark, dir)
    mark("vid_hist_labels")
    val vid = Dedup.maintainKeep(hist, batchNodes, batchEdges)
      .select(lit("video").as("modality"), col("doc_id").as("keep_id"),
        col("n_members"))
    img.unionByName(aud).unionByName(vid).orderBy("modality", "keep_id")
  }

  // ---- keep-list maintenance: the mm_media_keep product as a
  // maintained store (the dedup_keep_maintain pattern at the media
  // modalities) ----

  /** One payload's modality-native fingerprint under TRAINED
    * thresholds — the [[mediaKeep]] signature law with the history's
    * thresholds in the closure, dispatched on the PARSED format
    * (magic bytes, the [[decodeMedia]] contract): images the pixel
    * phash, audio the energy-profile hash, video the md5 fold of the
    * ordered per-frame signatures, each from [[trainedSig]]. None for
    * undecodable payloads or payloads none of whose channels carry a
    * trained threshold.
    */
  private[graft] def mediaSigOfPayload(p: Array[Byte],
      imgMu: Map[Int, Double], audMu: Map[Int, Double],
      vidMu: Map[Int, Double]): Option[(String, String)] = {
    def sigs(fam: SigFamily, mu: Map[Int, Double]) = trainedSig(fam, 0L, p, mu).toSeq
    if (isBmp(p) || isPpm(p)) sigs(Pixel, imgMu).headOption.map(s => ("image", s._2.toString))
    else if (isWav(p)) sigs(Audio, audMu).headOption.map(s => ("audio", s._2.toString))
    else if (isAvi(p)) {
      val frames = sigs(Frame, vidMu)
      if (frames.isEmpty) None
      else {
        val folded = frames.sortBy(_._1).map { case (n, ph) => s"$n:$ph" }.mkString(",")
        Some(("video", MessageDigest.getInstance("MD5")
          .digest(folded.getBytes("UTF-8")).map("%02x".format(_)).mkString))
      }
    } else None
  }

  /** Kernel: an explicit (doc_id, payload) frame → (doc_id, modality,
    * fingerprint) under the thresholds in the closure. Map-only,
    * stateless — streaming-legal, shared by the history-store build,
    * the batch maintenance and the stream's per-micro-batch ingest.
    */
  private[graft] def mediaSigFrame(payloads: DataFrame,
      imgMu: Map[Int, Double], audMu: Map[Int, Double],
      vidMu: Map[Int, Double]): DataFrame = {
    implicit val enc: Encoder[(Long, String, String)] = Encoders.tuple(
      Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    payloads.mapPartitions { rows: Iterator[Row] =>
      rows.flatMap { r =>
        mediaSigOfPayload(r.getAs[Array[Byte]](1), imgMu, audMu, vidMu)
          .map { case (m, fp) => (r.getLong(0), m, fp) }
      }
    }.toDF("doc_id", "modality", "fingerprint")
  }

  /** The HISTORY corpus's keep store — [[mediaKeep]]'s grouping over
    * the history docs under history-trained thresholds: the durable
    * artifact ingest maintenance merges into (in production a
    * materialized table; the [[historySigs]] contract at the
    * keep-list product).
    */
  private[graft] def mediaKeepHistoryStore(spark: SparkSession, dir: String,
      imgMu: Map[Int, Double], audMu: Map[Int, Double],
      vidMu: Map[Int, Double]): DataFrame =
    mediaSigFrame(payloads(spark, dir, !Dedup.isBatch(col("doc_id"))), imgMu, audMu, vidMu)
      .groupBy("modality", "fingerprint")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_members"))

  /** Merge one ingest batch's fingerprint groups into a keep store —
    * the [[Dedup.maintainKeep]] CDC shape at the media keep-list:
    * untouched store rows ride an anti-join unchanged (the store is
    * never shuffled beyond the touched groups); touched groups merge
    * by (min keep_id, summed member count), which is exact because
    * fingerprints are frozen (history-trained) — so per-batch merges
    * COMMUTE and any micro-batching of the ingest drains to the same
    * store as the one-shot merge, which equals the full regroup over
    * the union corpus (spec-pinned both ways).
    */
  private[graft] def mergeMediaKeep(store: DataFrame, batchSigs: DataFrame): DataFrame = {
    val batchAgg = batchSigs
      .groupBy("modality", "fingerprint")
      .agg(min("doc_id").as("b_keep"), count(lit(1)).as("n_batch"))
    val untouched = store.join(batchAgg.select("modality", "fingerprint"),
      Seq("modality", "fingerprint"), "left_anti")
    val upserts = batchAgg.join(store, Seq("modality", "fingerprint"), "left")
      .select(col("modality"), col("fingerprint"),
        least(col("b_keep"), coalesce(col("keep_id"), col("b_keep"))).as("keep_id"),
        (coalesce(col("n_members"), lit(0L)) + col("n_batch")).as("n_members"))
    untouched.unionByName(upserts)
  }

  /** `mm_media_keep_maintain`: incremental maintenance of the
    * cross-modal keep-list — the missing refresh path between the
    * per-modality duplicate FINDERS ([[phashIncremental]],
    * [[audioNearDupIncremental]], [[videoNearDupIncremental]]) and the
    * full [[mediaKeep]] recompute: one ingest batch's fingerprints
    * merge into the history keep store via [[mergeMediaKeep]], so the
    * maintained list over the union corpus costs batch-sized work plus
    * the store's touched groups instead of a backfill. Thresholds are
    * the HISTORY's (the incremental convention — stored fingerprints
    * must stay comparable across ingests, so the batch hashes with the
    * thresholds the store used; a threshold retrain is a rebuild
    * event, not maintenance). The oracle is the full regroup over the
    * union corpus under those same thresholds: maintained ==
    * recomputed, exactly — signature-exact groups merge by (min, sum),
    * no approximation anywhere.
    */
  def mediaKeepMaintain(spark: SparkSession, dir: String): DataFrame = {
    val imgMu = historyImageMu(spark, dir)
    val audMu = historyMu(spark, dir, Audio)
    val vidMu = historyMu(spark, dir, Frame)
    val batch = mediaSigFrame(payloads(spark, dir, Dedup.isBatch(col("doc_id"))),
      imgMu, audMu, vidMu)
    mergeMediaKeep(mediaKeepHistoryStore(spark, dir, imgMu, audMu, vidMu), batch)
      .orderBy("modality", "keep_id")
  }
}
