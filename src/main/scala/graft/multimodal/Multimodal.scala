package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.D `mm_meta`, `mm_decode`).
  *
  * Design: media travel as opaque `BINARY` payload columns next to a typed
  * metadata struct; decode/feature-extract runs per-partition in batches so
  * heavier codecs/models drop in without changing the plan shape. The
  * image codec is REAL — `javax.imageio` (in the JDK, no extra deps)
  * encodes and decodes PNG bytes; PNG is lossless, so decode∘encode is the
  * identity on pixels and `mm_decode` can be checked against an arithmetic
  * oracle. Non-image payloads (e.g. the text bytes `withPayload` attaches)
  * take a deterministic fallback featurizer, so one pipeline handles mixed
  * corpora.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache (one temp file per
  // ImageIO.read call): for in-memory byte-array payloads that is pure
  // overhead — temp-file churn and file I/O on every decode, multiplied
  // by every concurrent codec task. The in-memory cache is strictly
  // better here. Object init runs once per JVM (driver and each
  // executor) before any codec call below.
  ImageIO.setUseCache(false)

  /** Attach a binary payload + typed metadata to a text corpus, standing in
    * for (doc_id, image_bytes, meta). Pure projection: no shuffle. */
  def withPayload(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h1 = conv(substring(md5(col(textCol)), 1, 6), 16, 10).cast("bigint")
    val h2 = conv(substring(md5(col(textCol)), 7, 6), 16, 10).cast("bigint")
    docs.select(
      col(idCol),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        octet_length(encode(col(textCol), "UTF-8")).as("byte_len"),
        (lit(64) + h1 % 960).cast("int").as("width"),
        (lit(64) + h2 % 960).cast("int").as("height")).as("meta"))
  }

  final case class MediaRow(id: Long, payload: Array[Byte], byte_len: Int, width: Int, height: Int)
  final case class MediaFeature(id: Long, width: Int, height: Int, feature: Array[Float])
  final case class ImagePayload(doc_id: Long, payload: Array[Byte])
  final case class ImageDecoded(doc_id: Long, width: Int, height: Int, sum_gray: Long)

  /** Deterministic synthetic grayscale image for id: w×h from the id, pixel
    * (x,y) = (id·31 + extra + y·7 + x·13) mod 256 — pure integer
    * arithmetic, so an SQL oracle can recompute the decoded pixel sum
    * exactly (`extra` = frame offset for video frames, 0 for stills). */
  private def pngBytes(id: Long, extra: Long): Array[Byte] = {
    // floorMod: a negative id must map into [0, n) like the pixel formula's
    // double-mod — plain % would give negative dims and crash BufferedImage
    val w = 4 + java.lang.Math.floorMod(id, 13L).toInt
    val h = 4 + java.lang.Math.floorMod(id, 11L).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.getRaster.setSample(x, y, 0,
          (((id * 31 + extra + y * 7 + x * 13) % 256 + 256) % 256).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private[multimodal] def syntheticPng(id: Long): Array[Byte] = pngBytes(id, 0L)

  /** The ids as longs, fanned out to the session's parallelism before
    * the CPU-heavy codec work ([[graft.operators.Dedup.fanOut]]). */
  private def fannedIds(df: DataFrame, idCol: String): Dataset[Long] = {
    import df.sparkSession.implicits._
    graft.operators.Dedup.fanOut(df.select(col(idCol).cast("long"))).as[Long]
  }

  /** Encode one PNG per id — per-partition compute over the fanned-out
    * ids. Stands in for reading an image column off a lake table. */
  def synthesizePngs(df: DataFrame, idCol: String): Dataset[ImagePayload] = {
    import df.sparkSession.implicits._
    fannedIds(df, idCol).mapPartitions(_.map(id => ImagePayload(id, syntheticPng(id))))
  }

  /** REAL codec: decode PNG payloads with `javax.imageio` and extract
    * (width, height, pixel sum). Batched per partition — the batch is where
    * a vectorized decoder or model inference would slot in. */
  def decodePngs(ds: Dataset[ImagePayload], batchSize: Int = 64): Dataset[ImageDecoded] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.payload))
          require(img != null, s"payload of ${m.doc_id} is not a decodable image")
          ImageDecoded(m.doc_id, img.getWidth, img.getHeight, graySum(img))
        }
      }
    }
  }

  final case class VideoPayload(doc_id: Long, payload: Array[Byte], n_frames: Int)
  final case class FrameDecoded(doc_id: Long, frame_idx: Int, width: Int, height: Int, sum_gray: Long)

  /** The ONE length-prefixed container walk shared by every frame
    * consumer ([[sampleFrames]], [[frameDeltas]], [[frameHashes]]):
    * skipped frames are SEEKED past by their length prefix, never
    * decoded; kept frames decode and feed `f` in frame order (so `f`
    * may carry sequential state, as frameDeltas does). */
  private def walkFrames[T](v: VideoPayload, keep: Int => Boolean)(
      f: (Int, BufferedImage) => Option[T]): Seq[T] = {
    val in = new java.io.DataInputStream(new ByteArrayInputStream(v.payload))
    (0 until v.n_frames).flatMap { idx =>
      val len = in.readInt()
      if (keep(idx)) {
        val fb = new Array[Byte](len)
        in.readFully(fb)
        val img = ImageIO.read(new ByteArrayInputStream(fb))
        require(img != null, s"frame $idx of ${v.doc_id} is not decodable")
        f(idx, img)
      } else {
        in.skipBytes(len): Unit // seek past, never decode
        None
      }
    }
  }

  /** Exact grayscale pixel sum of a decoded raster — the shared
    * arithmetic the codec round-trip keys check against their SQL
    * oracles. */
  private def graySum(img: BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) { s += img.getRaster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    s
  }

  /** Synthesize one "video" per id: a length-prefixed container of
    * `3 + id mod 5` PNG frames (4-byte big-endian frame length + frame
    * bytes — the same framing any packetized media container uses).
    * Frame f's pixel (x,y) = (id·31 + f·17 + y·7 + x·13) mod 256, so
    * sampled-frame sums have an exact SQL oracle. Fans out like
    * [[synthesizePngs]]. */
  def synthesizeVideos(df: DataFrame, idCol: String): Dataset[VideoPayload] = {
    import df.sparkSession.implicits._
    fannedIds(df, idCol).mapPartitions(_.map { id =>
      val n = 3 + java.lang.Math.floorMod(id, 5L).toInt
      val frames = (0 until n).map(f => pngBytes(id, f * 17L))
      val bos = new ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      frames.foreach { fb => out.writeInt(fb.length); out.write(fb) }
      VideoPayload(id, bos.toByteArray, n)
    })
  }

  /** Frame sampling — the video-pipeline prep step: parse the container,
    * DECODE ONLY every `stride`-th frame (frames 0, stride, 2·stride …;
    * skipped frames are seeked past by their length prefix, never
    * decoded), and emit (frame_idx, dims, pixel sum) per kept frame.
    * Batched per partition like [[decodePngs]]; one input row fans out to
    * ceil(n_frames/stride) output rows — at scale the follow-up
    * repartition is the caller's choice (a frame row is small; the heavy
    * payload column is gone after this projection). */
  def sampleFrames(ds: Dataset[VideoPayload], stride: Int,
                   batchSize: Int = 64): Dataset[FrameDecoded] = {
    import ds.sparkSession.implicits._
    require(stride > 0, "stride must be positive")
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { v =>
          walkFrames(v, _ % stride == 0) { (f, img) =>
            Some(FrameDecoded(v.doc_id, f, img.getWidth, img.getHeight, graySum(img)))
          }
        }
      }
    }
  }

  final case class FrameDelta(doc_id: Long, frame_idx: Int, delta_energy: Long)

  /** SCENE-CHANGE signal over the frame container — the shot-boundary
    * statistic a video training pipeline thresholds into keyframes:
    * each frame's delta energy Σ_pixels |p_f − p_{f−1}| against its
    * predecessor. Frames decode SEQUENTIALLY holding only the previous
    * frame's raster — memory per row is two frames however long the
    * video (the container streams; nothing buffers whole). Frame 0 is
    * the opening keyframe by definition and emits no delta row.
    * Integer arithmetic over the lossless codec ⇒ the synthetic-frame
    * deltas replay exactly in SQL. Batched per partition like
    * [[decodePngs]]; the payload column is gone after this projection. */
  def frameDeltas(ds: Dataset[VideoPayload], batchSize: Int = 64): Dataset[FrameDelta] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { v =>
          // walkFrames feeds frames in order, so the one-frame lookback
          // lives in this closure: memory is two rasters per row
          var prev: BufferedImage = null
          walkFrames(v, _ => true) { (f, img) =>
            val out = if (prev == null) None
            else {
              require(img.getWidth == prev.getWidth && img.getHeight == prev.getHeight,
                s"frame $f of ${v.doc_id} changed dimensions mid-video")
              var s = 0L
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  s += math.abs(img.getRaster.getSample(x, y, 0) -
                    prev.getRaster.getSample(x, y, 0))
                  x += 1
                }
                y += 1
              }
              Some(FrameDelta(v.doc_id, f, s))
            }
            prev = img
            out
          }
        }
      }
    }
  }

  final case class ImageHash(doc_id: Long, phash: Long)

  /** The dHash-64 grid shared by [[dHash]] (stills) and [[frameHashes]]
    * (video keyframes): 9×8 gradient samples via the same integer floor
    * sampling as [[resizePngs]], bit (y·8+x) = 1 iff grid(x+1,y) >
    * grid(x,y). */
  private def dHash64(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    var hash = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      var prev = img.getRaster.getSample(0, y * h / 8, 0)
      while (x < 8) {
        val cur = img.getRaster.getSample((x + 1) * w / 9, y * h / 8, 0)
        if (cur > prev) hash |= 1L << (y * 8 + x)
        prev = cur
        x += 1
      }
      y += 1
    }
    hash
  }

  /** Perceptual difference-hash (dHash-64) over decoded image payloads —
    * the bridge from the codec family to the dedup family: resize to a
    * 9×8 gradient grid with the SAME integer floor sampling as
    * [[resizePngs]] (source pixel (x·w/9, y·h/8)), then bit (y·8+x) = 1
    * iff grid(x+1,y) > grid(x,y). Near-identical images (crops, small
    * edits, re-encodes) land within a few bits of hamming distance, and
    * the 64-bit hash drops straight into
    * [[graft.operators.Dedup.hammingPairs64]]'s chunk join. Integer
    * arithmetic end to end over a lossless codec ⇒ exactly replayable by
    * a SQL oracle. Batched per partition like [[decodePngs]]; output is
    * 16 bytes/row — the payload column is gone after this projection. */
  def dHash(ds: Dataset[ImagePayload], batchSize: Int = 64): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.payload))
          require(img != null, s"payload of ${m.doc_id} is not a decodable image")
          ImageHash(m.doc_id, dHash64(img))
        }
      }
    }
  }

  final case class FrameHash(doc_id: Long, frame_idx: Int, fhash: Long)

  /** KEYFRAME perceptual hashes over the frame container — the signature
    * stage of video dedup: dHash-64 every `stride`-th frame ([[dHash]]'s
    * exact grid over [[sampleFrames]]'s decode; skipped frames are seeked
    * past by their length prefix, never decoded). A video's sampled-hash
    * SET is its content signature: near-identical videos (re-encodes,
    * trims, small edits) share most keyframe hashes, so signature Jaccard
    * drops straight into [[graft.operators.Dedup.setJaccardPairs]]. Output
    * is ceil(n_frames/stride) 20-byte rows per video — the payload column
    * is gone after this projection, and per-row memory is one frame
    * however long the container. Integer arithmetic over the lossless
    * codec ⇒ the synthetic-frame hashes replay exactly in SQL. */
  def frameHashes(ds: Dataset[VideoPayload], stride: Int,
                  batchSize: Int = 64): Dataset[FrameHash] = {
    import ds.sparkSession.implicits._
    require(stride > 0, "stride must be positive")
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { v =>
          walkFrames(v, _ % stride == 0)((f, img) => Some(FrameHash(v.doc_id, f, dHash64(img))))
        }
      }
    }
  }

  final case class AudioPayload(doc_id: Long, payload: Array[Byte])
  final case class AudioDecoded(doc_id: Long, n_samples: Int, sample_rate: Int, sum_abs: Long)

  /** Synthesize one WAV clip per id — REAL audio container via the JDK's
    * `javax.sound.sampled` (no extra deps): 16-bit little-endian PCM mono
    * at 8 kHz, `100 + id mod 50` samples, sample i = (id·31 + i·13) mod
    * 65536 − 32768. Pure integer arithmetic ⇒ the decoded |sample| sum
    * has an exact SQL oracle. Fans out like [[synthesizePngs]]. */
  def synthesizeWavs(df: DataFrame, idCol: String): Dataset[AudioPayload] = {
    import df.sparkSession.implicits._
    fannedIds(df, idCol).mapPartitions(_.map { id =>
      val n = 100 + java.lang.Math.floorMod(id, 50L).toInt
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val s = ((((id * 31 + i * 13) % 65536) + 65536) % 65536).toInt - 32768
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      AudioPayload(id, bos.toByteArray)
    })
  }

  /** REAL audio decode: parse the WAV container with `AudioSystem`, read
    * the PCM frames back, and extract (n_samples, rate, Σ|sample|) —
    * the shape an audio featurizer (VAD, loudness, spectral prep) slots
    * into. Batched per partition like [[decodePngs]]. */
  def decodeWavs(ds: Dataset[AudioPayload], batchSize: Int = 64): Dataset[AudioDecoded] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { a =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(a.payload))
          val fmt = ais.getFormat
          // the sample assembly below is little-endian — a big-endian
          // stream (e.g. an AIFF payload) would silently decode swapped
          // bytes, so reject it like the other format mismatches
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
            s"unexpected format for ${a.doc_id}: $fmt")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          var sum = 0L
          var i = 0
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1).toInt // sign-extends: 16-bit signed sample
            sum += math.abs((hi << 8) | lo)
            i += 1
          }
          AudioDecoded(a.doc_id, n, fmt.getSampleRate.toInt, sum)
        }
      }
    }
  }

  final case class AudioFp(doc_id: Long, afp: Long)

  /** Acoustic fingerprint-64 over decoded PCM — the audio twin of
    * [[dHash]], completing the codec→dedup bridge for the second
    * modality: split the clip into 65 equal frames (integer bounds
    * f·n/65), per-frame energy = Σ|sample|, bit f = energy(f+1) >
    * energy(f). The sign-of-energy-delta shape is how classic audio
    * fingerprinting (Haitsma-Kalus style) builds match-robust bits;
    * near-identical clips (re-encodes, small edits) land within a few
    * bits and the 64-bit hash drops into
    * [[graft.operators.Dedup.hammingPairs64]]. Integer arithmetic over
    * a lossless container ⇒ exactly replayable by a SQL oracle. Clips
    * must carry ≥ 65 samples (enforced) so no frame is empty. */
  def audioFingerprint(ds: Dataset[AudioPayload], batchSize: Int = 64): Dataset[AudioFp] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { a =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(a.payload))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 && !fmt.isBigEndian,
            s"unexpected format for ${a.doc_id}: $fmt")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          require(n >= 65, s"clip ${a.doc_id} has $n samples; fingerprint needs >= 65")
          val e = new Array[Long](65)
          var f = 0
          while (f < 65) {
            var i = f * n / 65
            val end = (f + 1) * n / 65
            var s = 0L
            while (i < end) {
              val lo = bytes(2 * i) & 0xff
              val hi = bytes(2 * i + 1).toInt
              s += math.abs((hi << 8) | lo)
              i += 1
            }
            e(f) = s
            f += 1
          }
          var fp = 0L
          f = 0
          while (f < 64) {
            if (e(f + 1) > e(f)) fp |= 1L << f
            f += 1
          }
          AudioFp(a.doc_id, fp)
        }
      }
    }
  }

  /** REAL image transform: nearest-neighbor resize to (tw × th), batched
    * per partition, re-encoded as PNG — the standard "normalize image
    * sizes before the vision encoder" prep step. Source pixel = integer
    * floor sampling (x·w/tw, y·h/th): pure integer arithmetic, so the
    * resized pixel sum has an exact SQL oracle (`mm_resize`). Resizing to
    * an image's own dimensions is the identity (spec'd). */
  def resizePngs(ds: Dataset[ImagePayload], tw: Int, th: Int,
                 batchSize: Int = 64): Dataset[ImagePayload] = {
    import ds.sparkSession.implicits._
    require(tw > 0 && th > 0, "target dims must be positive")
    ds.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.payload))
          require(img != null, s"payload of ${m.doc_id} is not a decodable image")
          val (w, h) = (img.getWidth, img.getHeight)
          val out = new BufferedImage(tw, th, BufferedImage.TYPE_BYTE_GRAY)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              out.getRaster.setSample(x, y, 0,
                img.getRaster.getSample(x * w / tw, y * h / th, 0))
              x += 1
            }
            y += 1
          }
          val bos = new ByteArrayOutputStream()
          ImageIO.write(out, "png", bos)
          ImagePayload(m.doc_id, bos.toByteArray)
        }
      }
    }
  }

  /** Batched per-partition decode + featurize over a MIXED corpus: image
    * payloads decode through `javax.imageio` (feature = [width, height,
    * mean gray, byte_len]); non-image payloads (ImageIO returns null) fall
    * back to a deterministic byte-hash feature so text rows flow through
    * the same pipeline instead of failing it. */
  def decodeFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map { m =>
          val img = ImageIO.read(new ByteArrayInputStream(m.payload))
          if (img != null) {
            MediaFeature(m.id, img.getWidth, img.getHeight,
              Array(img.getWidth.toFloat, img.getHeight.toFloat,
                graySum(img).toFloat / (img.getWidth * img.getHeight), m.byte_len.toFloat))
          } else {
            val f = m.payload.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000003L)
            MediaFeature(m.id, m.width, m.height,
              Array(f.toFloat, m.byte_len.toFloat, m.width.toFloat, m.height.toFloat))
          }
        }
      }
    }
  }
}
