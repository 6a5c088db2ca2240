package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract /
  * resize / frame-sample stages.
  *
  * All three modalities now run REAL decoders with no library
  * dependencies: [[WavCodec]] (RIFF/PCM-16) for audio, [[ImageCodec]]
  * (24-bit BMP + binary PPM) for images, and the concatenated-P6
  * stream demux (ffmpeg `image2pipe` format) for video frames. The
  * codec behind [[featurize]] stays a pluggable [[Decoder]] seam —
  * default [[ImageDecoder]] — so a JPEG/H.264 JNI decoder swaps in as
  * one constructor argument with no plan change; [[StubDecoder]]
  * remains only as the arbitrary-byte fake that lets the plumbing be
  * oracle-checked over non-image payloads.
  *
  * Scale notes: media bytes never pass through a shuffle — decode /
  * featurize / demux are narrow `mapPartitions` stages; only the
  * (tiny) feature vectors and metadata flow onward to
  * joins/aggregations. Read with `spark.read.format("binaryFile")`
  * at ingest, or as a parquet `binary` column as here.
  */
object MediaOps {

  /** Typed metadata carried beside the payload. */
  case class MediaMeta(kind: String, width: Int, height: Int, durationMs: Long)
  case class MediaRow(media_id: Long, meta: MediaMeta, payload: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           mean_byte: Double, features: Seq[Double])
  case class Frame(media_id: Long, frame_idx: Int, frame_ts_ms: Long, payload: Array[Byte])

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("durationMs", LongType))), nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Decode + featurize one payload. Real implementations wrap an
    * image/audio library; must be deterministic for a given byte
    * stream. */
  trait Decoder extends Serializable {
    def features(meta: MediaMeta, payload: Array[Byte], dim: Int): Seq[Double]
  }

  /** REAL image decode behind the seam: sniff + parse the payload
    * with [[ImageCodec]] (BMP or PPM), then emit `dim` row-banded
    * mean-luma features over the normalized top-down RGB raster. */
  case object ImageDecoder extends Decoder {
    def features(meta: MediaMeta, payload: Array[Byte], dim: Int): Seq[Double] = {
      val img = ImageCodec.decode(payload)
      val n = img.width * img.height
      (0 until dim).map { d =>
        val from = n.toLong * d / dim
        val until = n.toLong * (d + 1) / dim
        if (until == from) 0.0
        else {
          var s = 0L
          var i = from.toInt
          while (i < until) { s += (img.rgb(3 * i) & 0xff) + (img.rgb(3 * i + 1) & 0xff) + (img.rgb(3 * i + 2) & 0xff); i += 1 }
          s.toDouble / (3.0 * (until - from))
        }
      }
    }
  }

  /** Fake decode over ARBITRARY bytes — banded byte means standing in
    * for pixel statistics. Not the default ([[ImageDecoder]] is); it
    * exists so the stage plumbing (schema, partitioning, batch shape)
    * can be driven — and oracle-checked — by payloads that aren't
    * parseable media, e.g. the UTF-8 corpus in `q_media_features`. */
  case object StubDecoder extends Decoder {
    def features(meta: MediaMeta, payload: Array[Byte], dim: Int): Seq[Double] = {
      val n = payload.length
      (0 until dim).map { d =>
        val from = n.toLong * d / dim
        val until = n.toLong * (d + 1) / dim
        if (until == from) 0.0
        else {
          var s = 0.0
          var i = from.toInt
          while (i < until) { s += (payload(i) & 0xff); i += 1 }
          s / (until - from)
        }
      }
    }
  }

  /** Deterministic media corpus derived from a text table: payload =
    * UTF-8 bytes of `text`, keyed by `doc_id`. This is the
    * oracle-checkable test harness for the media pipeline — the
    * features any engine computes over the same bytes must agree, so
    * the driver's DuckDB compare can vouch for the plumbing
    * (`q_media_features`) even while the production decoder is
    * stubbed. */
  def mediaFromDocuments(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    // null doc_id dropped silently — the family convention the
    // jaccard/decontamination operators follow (a keyless row can't
    // join back to anything downstream); without the filter the typed
    // Long field aborts the whole job on one null id
    documents.select(col("doc_id"), col("text"))
      .filter(col("doc_id").isNotNull).as[(Long, String)]
      .map { case (id, text) =>
        // null text = empty document — the repo-wide text-operator
        // contract (TextOps.tokensOf, pinned in NullInputSpec); a bare
        // getBytes would NPE the executor on one null row
        val t = if (text == null) "" else text
        MediaRow(id, MediaMeta("text", 0, 0, 0L),
          t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  /** Partition-parallel feature extraction: the media analogue of a
    * vectorized batch UDF — rows stream through each partition once,
    * payloads are dropped on the way out. */
  def featurize(media: Dataset[MediaRow], decoder: Decoder = ImageDecoder,
                dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val f = decoder.features(m.meta, m.payload, dim)
      // while-loop Long accumulator: `payload.map(_.toDouble).sum`
      // would materialize an 8x transient Double array per row just
      // to sum it — real allocation pressure on multi-MB payloads
      var s = 0L
      var i = 0
      while (i < m.payload.length) { s += (m.payload(i) & 0xff); i += 1 }
      val mean = if (m.payload.isEmpty) 0.0 else s.toDouble / m.payload.length
      MediaFeatures(m.media_id, m.meta.kind, m.payload.length.toLong, mean, f)
    })
  }

  /** Decoded-audio features. All fields are closed-form functions of
    * the PCM samples, so an oracle that knows the synthesis formula
    * can check the WHOLE decode path (header walk, LE sample parse,
    * feature math) end to end. `rms` stays unrounded: integer sums,
    * one division, and an IEEE-correctly-rounded sqrt are
    * bit-identical on any conforming engine. */
  case class AudioFeatures(media_id: Long, sample_rate: Long, n_samples: Long,
                           mean_amp: Double, rms: Double, peak: Long,
                           n_zero_cross: Long)

  /** Deterministic audio corpus: per document, a sawtooth-ish PCM-16
    * signal `amp_i = (i·(doc_id+7)) mod 2048 − 1024` of
    * `256 + doc_id mod 128` samples at `8000 + (doc_id mod 5)·1000`
    * Hz, ENCODED TO REAL WAV BYTES. Downstream stages see only the
    * binary payload — they must actually parse it. */
  def synthWavCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).as[Long].map { id =>
      val n = 256 + (id % 128).toInt
      val rate = 8000 + (id % 5).toInt * 1000
      val samples = Array.tabulate(n)(i => ((i.toLong * (id + 7)) % 2048 - 1024).toShort)
      MediaRow(id, MediaMeta("audio", 0, 0, n * 1000L / rate),
        WavCodec.encode(samples, rate))
    }
  }

  /** Real audio decode + feature extraction: RIFF/WAVE parse per row
    * inside `mapPartitions` (payloads never shuffle), emitting the
    * narrow feature row. This is the non-stub media path — the same
    * stage shape [[featurize]] uses, with [[WavCodec]] in place of
    * the pluggable pixel decoder. */
  def audioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val wav = WavCodec.decode(m.payload)
      val s = wav.samples
      val n = s.length
      var sum = 0L; var sumSq = 0L; var peak = 0L; var zc = 0L
      var i = 0
      while (i < n) {
        val v = s(i).toLong
        sum += v; sumSq += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (i > 0 && ((v >= 0) != (s(i - 1) >= 0))) zc += 1
        i += 1
      }
      AudioFeatures(m.media_id, wav.sampleRate.toLong, n.toLong,
        if (n == 0) 0.0 else sum.toDouble / n,
        if (n == 0) 0.0 else math.sqrt(sumSq.toDouble / n),
        peak, zc)
    })
  }

  /** One energy-gated activity segment of a decoded audio row —
    * frame indices are inclusive, `energy` is the exact integer
    * Σ amp² over the segment's frames. */
  case class AudioSegment(media_id: Long, seg_id: Long, f_start: Long,
                          f_end: Long, n_frames: Long, energy: Long)

  /** Energy-based activity segmentation (the VAD shape): split the
    * PCM stream into `frameLen`-sample frames (last frame partial),
    * gate each frame on its energy, and collapse consecutive active
    * frames into segments. The gate is ALL-INTEGER — frame f is
    * active iff `nFrames · energy(f) ≥ energyTotal` (i.e. energy ≥
    * the mean frame energy, cross-multiplied so no float contract is
    * needed) — which keeps the whole output hashable cross-engine.
    *
    * Same scale shape as [[audioFeatures]]: per-row decode + one
    * imperative pass over the samples inside `mapPartitions`,
    * payloads never shuffle, output is the narrow segment list
    * (≤ nFrames rows per media row). */
  def audioSegments(media: Dataset[MediaRow], frameLen: Int = 64): Dataset[AudioSegment] = {
    require(frameLen >= 1, s"need frameLen >= 1, got $frameLen")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      val s = WavCodec.decode(m.payload).samples
      val n = s.length
      val nf = (n + frameLen - 1) / frameLen
      if (nf == 0) Iterator.empty
      else {
        val energy = new Array[Long](nf)
        var i = 0
        while (i < n) {
          val v = s(i).toLong
          energy(i / frameLen) += v * v
          i += 1
        }
        val total = energy.sum
        val segs = scala.collection.mutable.ArrayBuffer.empty[AudioSegment]
        var f = 0
        var start = -1
        var segEnergy = 0L
        while (f < nf) {
          // total > 0: on digital silence every frame satisfies
          // 0 >= 0, and an energy GATE reporting a silent file as
          // 100% voice-activity is the inverted answer (r13 review);
          // mirrored by `etot > 0` in the DuckDB oracle
          val active = total > 0 && nf * energy(f) >= total
          if (active) {
            if (start < 0) { start = f; segEnergy = 0L }
            segEnergy += energy(f)
          } else if (start >= 0) {
            segs += AudioSegment(m.media_id, segs.length.toLong, start.toLong,
              (f - 1).toLong, (f - start).toLong, segEnergy)
            start = -1
          }
          f += 1
        }
        if (start >= 0)
          segs += AudioSegment(m.media_id, segs.length.toLong, start.toLong,
            (nf - 1).toLong, (nf - start).toLong, segEnergy)
        segs.iterator
      }
    })
  }

  /** REAL video demux: 1 row → N frame rows, each payload the
    * complete byte slice of one P6 frame out of a concatenated-PPM
    * stream (the ffmpeg `image2pipe -vcodec ppm` container). Frame
    * timestamps come from the fixed frame interval
    * `durationMs / nFrames`. Narrow stage — payload bytes stay inside
    * their partition. */
  def videoFrames(media: Dataset[MediaRow]): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val slices = ImageCodec.decodePpmStream(m.payload)
      // clamp to >= 1 ms exactly like sampleFrames, so the two demux
      // paths emit the SAME timeline even for the degenerate
      // durationMs < nFrames row (0 would collapse every frame to
      // timestamp 0 here while sampleFrames spreads them)
      val interval = if (slices.isEmpty) 1L
                     else math.max(1L, m.meta.durationMs / slices.length)
      slices.iterator.zipWithIndex.map { case (bytes, i) =>
        Frame(m.media_id, i, i * interval, bytes)
      }
    }
  }

  /** Frame sampling at a time stride: demux, then keep every k-th
    * frame where `k = strideMs / frameInterval` (at least every
    * frame). Same real demux as [[videoFrames]], thinned. */
  def sampleFrames(media: Dataset[MediaRow], strideMs: Long): Dataset[Frame] = {
    require(strideMs > 0, s"strideMs must be positive, got $strideMs")
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val slices = ImageCodec.decodePpmStream(m.payload)
      val interval = if (slices.isEmpty) 1L
                     else math.max(1L, m.meta.durationMs / slices.length)
      // clamp BEFORE narrowing: a Long ratio past 2^31 would wrap
      // .toInt to 0 (ArithmeticException on i % k) or negative
      // (silently keeping only frame 0); capping at Int.MaxValue
      // keeps the "at most one frame" semantics for huge strides
      val k = math.min(math.max(1L, strideMs / interval), Int.MaxValue.toLong).toInt
      slices.iterator.zipWithIndex.collect { case (bytes, i) if i % k == 0 =>
        Frame(m.media_id, i / k, i * interval, bytes)
      }
    }
  }

  // ------------------------------------------------------ image/video

  /** Decoded-image features. Like [[AudioFeatures]], every field is a
    * closed-form function of the pixels: integer channel sums, one
    * division for the means, and a position-×-channel weighted sum
    * (`wsum`) that is sensitive to BOTH raster order and channel
    * order — a BMP decoder that forgets the bottom-up row flip, the
    * BGR swap, or the 4-byte row padding cannot produce it. */
  case class ImageFeatures(media_id: Long, fmt: String, width: Long, height: Long,
                           n_px: Long, mean_r: Double, mean_g: Double, mean_b: Double,
                           peak_r: Long, wsum: Long)

  /** Per-frame features out of the video demux; `frame_idx` and
    * `frame_ts_ms` verify the demux walked frame boundaries
    * correctly (each frame's pixels depend on its index). */
  case class FrameFeatures(media_id: Long, frame_idx: Long, frame_ts_ms: Long,
                           n_px: Long, mean_r: Double, mean_g: Double, mean_b: Double,
                           wsum: Long)

  /** Deterministic pixel synthesis shared by the image and video
    * corpora (frame `t`, channel ramps with coprime strides so the
    * three channels never coincide):
    * {{{
    * r = (7x + 11y + 19t +  3·id) mod 256
    * g = (5x + 13y + 23t +  7·id) mod 256
    * b = (3x + 17y + 29t + 11·id) mod 256
    * }}} */
  def synthPixel(id: Long, t: Int, x: Int, y: Int): (Int, Int, Int) = (
    ((x * 7L + y * 11L + t * 19L + id * 3L) % 256L).toInt,
    ((x * 5L + y * 13L + t * 23L + id * 7L) % 256L).toInt,
    ((x * 3L + y * 17L + t * 29L + id * 11L) % 256L).toInt)

  private def synthFrame(id: Long, t: Int, w: Int, h: Int): ImageCodec.Image = {
    val rgb = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val (r, g, b) = synthPixel(id, t, x, y)
        val p = (y * w + x) * 3
        rgb(p) = r.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = b.toByte
        x += 1
      }
      y += 1
    }
    ImageCodec.Image(w, h, rgb)
  }

  /** Per-document dimensions: widths 5..12 sweep every BMP row-pad
    * residue (15,18,…,36 bytes mod 4 hits 3,2,1,0), heights 3..7. */
  private def synthDims(id: Long): (Int, Int) =
    (5 + (id % 8).toInt, 3 + (id % 5).toInt)

  /** Deterministic image corpus, ENCODED TO REAL BYTES: even ids as
    * 24-bit BMP, odd ids as binary PPM, so one declared query
    * exercises both decoders. Downstream sees only the payload. */
  def synthImageCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).as[Long].map { id =>
      val (w, h) = synthDims(id)
      val img = synthFrame(id, 0, w, h)
      val bytes = if (id % 2 == 0) ImageCodec.encodeBmp(img) else ImageCodec.encodePpm(img)
      MediaRow(id, MediaMeta("image", w, h, 0L), bytes)
    }
  }

  /** Deterministic video corpus: `2 + id mod 4` P6 frames at 25 fps
    * concatenated into one image2pipe-style payload per document. */
  def synthVideoCorpus(documents: DataFrame): Dataset[MediaRow] = {
    import documents.sparkSession.implicits._
    documents.select(col("doc_id")).as[Long].map { id =>
      val (w, h) = synthDims(id)
      val nFrames = 2 + (id % 4).toInt
      val payload = (0 until nFrames).toArray
        .flatMap(t => ImageCodec.encodePpm(synthFrame(id, t, w, h)))
      MediaRow(id, MediaMeta("video", w, h, nFrames * 40L), payload)
    }
  }

  private def rgbStats(img: ImageCodec.Image): (Long, Long, Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L; var peakR = 0L; var wsum = 0L
    var i = 0
    val n = img.width * img.height
    while (i < n) {
      val r = img.rgb(3 * i) & 0xff
      val g = img.rgb(3 * i + 1) & 0xff
      val b = img.rgb(3 * i + 2) & 0xff
      sr += r; sg += g; sb += b
      if (r > peakR) peakR = r
      wsum += i.toLong * (r + 2L * g + 3L * b)
      i += 1
    }
    (sr, sg, sb, peakR, wsum)
  }

  /** Real image decode + feature extraction: magic-sniffed BMP/PPM
    * parse per row inside `mapPartitions`, emitting the narrow
    * feature row — the image twin of [[audioFeatures]]. */
  def imageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val img = ImageCodec.decode(m.payload) // throws on unknown magic
      val fmt = ImageCodec.formatOf(m.payload).get // same sniff as decode
      val n = img.width.toLong * img.height
      val (sr, sg, sb, peakR, wsum) = rgbStats(img)
      ImageFeatures(m.media_id, fmt, img.width.toLong, img.height.toLong, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, peakR, wsum)
    })
  }

  /** Nearest-neighbor resize: target pixel (x, y) reads source pixel
    * (x·w ÷ tw, y·h ÷ th) — integer floor arithmetic, up- and
    * down-scale alike, zero allocation beyond the output. The
    * thumbnail/normalize step of an image pipeline, kept exactly
    * oracle-mirrorable (bilinear would put float blends between the
    * engine and the SQL twin). */
  def resize(img: ImageCodec.Image, tw: Int, th: Int): ImageCodec.Image = {
    require(tw >= 1 && th >= 1, s"target dims must be positive, got (${tw}x$th)")
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    while (y < th) {
      val sy = y * img.height / th
      var x = 0
      while (x < tw) {
        val sx = x * img.width / tw
        val s = (sy * img.width + sx) * 3
        val d = (y * tw + x) * 3
        out(d) = img.rgb(s); out(d + 1) = img.rgb(s + 1); out(d + 2) = img.rgb(s + 2)
        x += 1
      }
      y += 1
    }
    ImageCodec.Image(tw, th, out)
  }

  /** Features of the RESIZED image; `wsum` runs over target-raster
    * positions, so a wrong source-index mapping in [[resize]] cannot
    * hash-match the oracle's closed-form recomputation. */
  case class ThumbFeatures(media_id: Long, width: Long, height: Long, n_px: Long,
                           mean_r: Double, mean_g: Double, mean_b: Double, wsum: Long)

  /** Decode → nearest-neighbor resize → feature-extract, one narrow
    * `mapPartitions` per row — the canonical decode-transform-extract
    * chain with the transform now REAL on both formats. */
  def thumbFeatures(media: Dataset[MediaRow], tw: Int, th: Int): Dataset[ThumbFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val img = resize(ImageCodec.decode(m.payload), tw, th)
      val n = tw.toLong * th
      val (sr, sg, sb, _, wsum) = rgbStats(img)
      ThumbFeatures(m.media_id, tw.toLong, th.toLong, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, wsum)
    })
  }

  /** Per-frame THUMBNAIL features: demux → decode → nearest-neighbor
    * resize → extract, the full video normalization chain as one
    * narrow pass (frame pixels still depend on the frame index, so a
    * demux drift or resize-mapping bug cannot hash-match). */
  def frameThumbFeatures(frames: Dataset[Frame], tw: Int, th: Int): Dataset[FrameFeatures] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map { f =>
      val img = resize(ImageCodec.decodePpm(f.payload), tw, th)
      val n = tw.toLong * th
      val (sr, sg, sb, _, wsum) = rgbStats(img)
      FrameFeatures(f.media_id, f.frame_idx.toLong, f.frame_ts_ms, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, wsum)
    })
  }

  /** Per-frame features over the REAL demux: each frame payload is
    * itself a complete P6 image, decoded independently. */
  def frameFeatures(frames: Dataset[Frame]): Dataset[FrameFeatures] = {
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map { f =>
      val img = ImageCodec.decodePpm(f.payload)
      val n = img.width.toLong * img.height
      val (sr, sg, sb, _, wsum) = rgbStats(img)
      FrameFeatures(f.media_id, f.frame_idx.toLong, f.frame_ts_ms, n,
        sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, wsum)
    })
  }

  case class DecodeVerdict(media_id: Long, ok: Boolean,
                           width: Option[Long], height: Option[Long])

  /** Decode-or-quarantine — the ingest stage that keeps a 100-TB
    * media pipeline ALIVE on corrupt samples: try the real image
    * decode per row, emit an ok row with the decoded dimensions or a
    * quarantined row (ok = false, null dims) when the codec throws
    * its documented IllegalArgumentException. Every other throwable
    * still propagates — the codecs' fuzz-pinned contract
    * (MediaFuzzSpec) is exactly what makes this catch safe: IAE means
    * "this input is malformed", anything else means "the CODE is
    * broken", and a quarantine stage must never eat the latter.
    * Downstream: `filter(ok)` joins the survivors back to their
    * payloads; the quarantined ids are the reprocess/alert feed.
    * Pure per-row map — zero shuffle, no driver involvement. */
  def decodeQuarantine(media: Dataset[MediaRow]): Dataset[DecodeVerdict] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      try {
        val img = ImageCodec.decode(m.payload)
        DecodeVerdict(m.media_id, ok = true,
          Some(img.width.toLong), Some(img.height.toLong))
      } catch {
        case _: IllegalArgumentException =>
          DecodeVerdict(m.media_id, ok = false, None, None)
      }
    })
  }

  /** Deterministic fault injection for quarantine drills (and the
    * declared query's oracle): id ≡ 0 (mod 7) → payload truncated to
    * half (always beheads the raster — the synthesized payloads carry
    * zero slack), id ≡ 3 (mod 7) → first magic byte zeroed, everything
    * else intact. The rule is pure arithmetic on media_id so an
    * engine-independent oracle can recompute exactly which rows
    * quarantine. */
  def injectCorruption(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      if (m.media_id % 7 == 0) m.copy(payload = m.payload.take(m.payload.length / 2))
      else if (m.media_id % 7 == 3 && m.payload.nonEmpty) {
        // nonEmpty guard: an empty payload is already maximally
        // corrupt (every codec rejects it), and p(0) on it would
        // throw AIOOBE from inside the injector — a crash the
        // quarantine stage deliberately does not catch
        val p = m.payload.clone(); p(0) = 0; m.copy(payload = p)
      } else m
    }
  }
}
