package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `BINARY` columns
  * with typed metadata, processed by batched per-partition functions.
  *
  * The Spark-side machinery here is real and tested — schema contracts,
  * partition-parallel batch iteration, metadata extraction, frame-sample
  * fan-out. IMAGE decode is real ([[decodeImages]]: `javax.imageio` over the
  * binary payload, exercised end-to-end by the [[synthesizePng]] →
  * [[decodeImages]] round trip in q52 and MultimodalSpec). AUDIO decode is
  * real ([[decodeAudio]]: `javax.sound.sampled` WAV/PCM parsing with exact
  * integer sample statistics, exercised by the [[synthesizeWav]] →
  * [[decodeAudio]] round trip in q5e and MultimodalSpec). VIDEO header
  * decode is real ([[decodeVideo]]: pure-JVM MP4 box walk + RIFF/AVI chunk
  * walk via [[VideoHeaders]] — dimensions, codec fourcc, frame count,
  * duration; exercised by the [[synthesizeVideo]] → [[decodeVideo]] round
  * trip in q5g/q50/q51 and MultimodalSpec). Frame-PIXEL decode needs a
  * native codec this container doesn't ship and stays out of scope —
  * header metadata is what a curation pipeline filters and plans on.
  */
object Multimodal {

  /** Wrap any table into media rows (payload = utf-8 bytes of a text
    * column) — lets the binary pipeline be exercised on the test tables.
    */
  def asMedia(df: DataFrame, id: String, payload: String,
              mediaType: String = "image/fake"): DataFrame =
    df.select(
      col(id).cast("long").as("media_id"),
      col(payload).cast("binary").as("content"),
      lit(mediaType).as("media_type"))

  /** Decoded-video record: container/codec identification + header
    * metadata, nulls when the payload is not a parseable video container
    * (corrupt input is data, not an exception).
    */
  case class DecodedVideo(media_id: Long, media_type: String, n_bytes: Long,
                          container: Option[String], codec: Option[String],
                          width: Option[Int], height: Option[Int],
                          n_frames: Option[Long], duration_ms: Option[Long])

  /** REAL video container-header parse, pure JVM — no codec library, no
    * frame decode (frame PIXELS need a native codec this container doesn't
    * ship; header metadata — the part a data pipeline filters and plans
    * on — does not). Two container formats:
    *
    *  - **MP4 / ISO BMFF**: a generic box walk (size+fourcc framing,
    *    64-bit largesize and to-end-of-file sizes handled) descending into
    *    `moov/trak/mdia/minf/stbl`; `mvhd` (v0/v1) yields
    *    timescale+duration, `tkhd` (v0/v1) the track's 16.16 fixed-point
    *    width/height, `stsd` the first sample-entry fourcc (the codec),
    *    `stts` the frame count (sum of sample counts).
    *  - **RIFF / AVI**: a chunk walk (fourcc + little-endian size,
    *    word-aligned) descending into `LIST`s; `avih` yields
    *    width/height/total-frames/µs-per-frame, the `vids` `strh` the
    *    codec fourcc.
    *
    * Same `mapPartitions` iterator shape as [[decodeImages]] /
    * [[decodeAudio]]: one parser per partition, rows streamed through,
    * corrupt payloads yield null fields.
    */
  def decodeVideo(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"), col("media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, mediaType) =>
          val n = if (bytes == null) 0 else bytes.length
          val none = DecodedVideo(id, mediaType, n.toLong,
            None, None, None, None, None, None)
          if (n < 12) none
          else try {
            VideoHeaders.parseMp4(bytes)
              .orElse(VideoHeaders.parseAvi(bytes))
              .map(m => DecodedVideo(id, mediaType, n.toLong,
                Some(m.container), m.codec, m.width, m.height,
                m.nFrames, m.durationMs))
              .getOrElse(none)
          } catch { case _: Exception => none }
        }
      }
      .toDF()
  }

  /** Deterministic minimal-but-structurally-valid video container
    * synthesis (the [[synthesizePng]]/[[synthesizeWav]] pattern for
    * video): even ids get an MP4 (`ftyp` + `moov{mvhd, trak{tkhd,
    * mdia{minf{stbl{stsd(avc1), stts}}}}}`), odd ids a RIFF/AVI
    * (`hdrl{avih, strl{strh(vids/mjpg)}}`). Header fields derive from the
    * id alone, so a SQL oracle predicts every decoded column:
    * width = 16·(id mod 20 + 4), height = 16·((7·id) mod 15 + 4),
    * n_frames = id mod 240 + 24, 25 fps → duration_ms = 40·n_frames.
    */
  def synthesizeVideo(df: DataFrame, id: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long")).as[Long]
      .mapPartitions { ids =>
        ids.map { mid =>
          val w = (16 * (Math.floorMod(mid, 20L) + 4)).toInt
          val h = (16 * (Math.floorMod(7 * mid, 15L) + 4)).toInt
          val frames = Math.floorMod(mid, 240L).toInt + 24
          if (mid % 2 == 0)
            (mid, VideoHeaders.writeMp4(w, h, frames, frameMs = 40), "video/mp4")
          else
            (mid, VideoHeaders.writeAvi(w, h, frames, usPerFrame = 40000),
              "video/x-msvideo")
        }
      }
      .toDF("media_id", "content", "media_type")
  }

  /** Decoded-image record: dimensions are null when the payload is not a
    * decodable image (decode failure is data, not an exception — a 100 TB
    * crawl always contains corrupt files).
    */
  case class DecodedImage(media_id: Long, media_type: String, n_bytes: Long,
                          width: Option[Int], height: Option[Int],
                          channels: Option[Int])

  /** REAL image decode over the binary `content` column via `javax.imageio`
    * (JPEG/PNG/GIF/BMP — the JDK's built-in codecs; the reference decodes
    * every tile with PIL `Image.open`, dataset_classes_v1.py:61). Same
    * `mapPartitions` iterator shape as [[decodeVideo]]: one decoder per
    * partition, rows streamed through it, no driver involvement. Corrupt or
    * non-image payloads yield null dimensions instead of failing the task.
    */
  def decodeImages(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"), col("media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, mediaType) =>
          val n = if (bytes == null) 0 else bytes.length
          val img =
            if (n == 0) null
            else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            catch { case _: Exception => null }
          if (img == null) DecodedImage(id, mediaType, n.toLong, None, None, None)
          else DecodedImage(id, mediaType, n.toLong, Some(img.getWidth),
            Some(img.getHeight), Some(img.getRaster.getNumBands))
        }
      }
      .toDF()
  }

  /** Deterministic PNG synthesis (executor-side `javax.imageio` encode): one
    * `width`×`height` image per row, pixel values derived from the id. The
    * inverse fixture for [[decodeImages]] — lets an end-to-end
    * encode→binary→decode round trip run on any table, with dimensions an
    * oracle can predict from the id alone.
    */
  def synthesizePng(df: DataFrame, id: String, width: String,
                    height: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // bad input is DATA, not an exception (matching decodeImages' stance):
    // null or non-positive dimensions yield a null payload row instead of
    // crashing the task (BufferedImage throws on w/h <= 0)
    df.select(col(id).cast("long"), col(width).cast("int"), col(height).cast("int"))
      .as[(Long, Option[Int], Option[Int])]
      .mapPartitions { rows =>
        rows.map {
          case (mid, Some(w), Some(h)) if w > 0 && h > 0 =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y, ((mid * 2654435761L + x * 31 + y) & 0xffffff).toInt)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            (mid, bos.toByteArray, "image/png")
          case (mid, _, _) => (mid, null: Array[Byte], "image/png")
        }
      }
      .toDF("media_id", "content", "media_type")
  }

  /** Decoded-audio record: format fields + EXACT integer sample statistics
    * (peak = max |sample|, sum of |sample|, strict sign-flip zero
    * crossings) — integers so a SQL oracle can replay them bit-for-bit;
    * nulls when the payload is not decodable audio (corrupt input is data,
    * not an exception).
    */
  case class DecodedAudio(media_id: Long, media_type: String, n_bytes: Long,
                          sample_rate: Option[Int], channels: Option[Int],
                          bits: Option[Int], n_samples: Option[Long],
                          peak: Option[Long], sum_abs: Option[Long],
                          zero_crossings: Option[Long])

  /** REAL audio decode over the binary `content` column via
    * `javax.sound.sampled` (WAV/AIFF/AU — the JDK's built-in parsers; no
    * native codec needed for PCM). Same `mapPartitions` iterator shape as
    * [[decodeImages]]: one decoder per partition, rows streamed through.
    * Supports 16-bit PCM (signed, either endianness); anything the JDK
    * can't parse — or non-16-bit formats — yields null fields.
    *
    * Statistics: `n_samples` counts ALL samples (frames × channels);
    * `peak`/`sum_abs` are channel-agnostic. Zero crossings use the strict
    * sign-product rule (`s[k-1]·s[k] < 0`) along CHANNEL 0 only —
    * interleaved multi-channel samples would compare L[k] against R[k] —
    * exact-integer and replayable in ANSI SQL via a lag window.
    */
  def decodeAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("content"), col("media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, mediaType) =>
          val n = if (bytes == null) 0 else bytes.length
          val none = DecodedAudio(id, mediaType, n.toLong,
            None, None, None, None, None, None, None)
          if (n == 0) none
          else try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.BufferedInputStream(
                new java.io.ByteArrayInputStream(bytes)))
            try {
              val fmt = ais.getFormat
              val isPcm16 = fmt.getEncoding ==
                javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
                fmt.getSampleSizeInBits == 16
              if (!isPcm16) none
              else {
                val data = ais.readAllBytes()
                val big = fmt.isBigEndian
                val ch = fmt.getChannels
                val nSamp = data.length / 2
                // peak and sum|s| are channel-agnostic; zero crossings are
                // only meaningful along ONE channel's waveform — interleaved
                // samples would compare L[k] against R[k] — so they walk
                // channel 0 with a frame stride (stride 1 for mono)
                val frameStep = 2 * ch
                var peak = 0L; var sumAbs = 0L; var zc = 0L
                var prev = 0; var i = 0
                while (i + 1 < data.length) {
                  val s =
                    if (big) ((data(i) << 8) | (data(i + 1) & 0xff)).toShort.toInt
                    else ((data(i + 1) << 8) | (data(i) & 0xff)).toShort.toInt
                  val a = math.abs(s.toLong)
                  if (a > peak) peak = a
                  sumAbs += a
                  if (i % frameStep == 0) { // channel-0 sample
                    if (i >= frameStep && prev * s < 0) zc += 1
                    prev = s
                  }
                  i += 2
                }
                DecodedAudio(id, mediaType, n.toLong,
                  Some(fmt.getSampleRate.toInt), Some(ch), Some(16),
                  Some(nSamp.toLong), Some(peak), Some(sumAbs), Some(zc))
              }
            } finally ais.close()
          } catch { case _: Exception => none }
        }
      }
      .toDF()
  }

  /** Deterministic mono 16-bit PCM WAV synthesis (pure-JVM header + sample
    * writer): sample k of media `id` is `((id·31 + k·17) mod 201) − 100` —
    * small exact integers a SQL oracle regenerates with the same
    * arithmetic. The inverse fixture for [[decodeAudio]] (the
    * [[synthesizePng]] pattern applied to audio); WAV PCM is lossless, so
    * the decoded statistics are EXACTLY the formula's. Null/negative
    * sample counts yield a null payload row.
    */
  def synthesizeWav(df: DataFrame, id: String, nSamples: String,
                    sampleRate: Int = 8000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(id).cast("long"), col(nSamples).cast("int"))
      .as[(Long, Option[Int])]
      .mapPartitions { rows =>
        rows.map {
          case (mid, Some(n)) if n > 0 =>
            val dataLen = n * 2
            val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
              .put("WAVE".getBytes("US-ASCII"))
              .put("fmt ".getBytes("US-ASCII")).putInt(16)
              .putShort(1).putShort(1) // PCM, mono
              .putInt(sampleRate).putInt(sampleRate * 2)
              .putShort(2).putShort(16) // block align, bits
              .put("data".getBytes("US-ASCII")).putInt(dataLen)
            var k = 0
            while (k < n) {
              buf.putShort((((mid * 31 + k * 17) % 201) - 100).toShort)
              k += 1
            }
            (mid, buf.array(), "audio/wav")
          case (mid, _) => (mid, null: Array[Byte], "audio/wav")
        }
      }
      .toDF("media_id", "content", "media_type")
  }

  /** Patch/tile grid fan-out: one row per (patchX, patchY) — the tile
    * enumeration shape of the reference's slide pipeline
    * (dataset_classes_v1.py:32-54) generalized to any decoded medium.
    * Pure generator (explode over sequences): no UDF, no shuffle.
    */
  def patchGrid(decoded: DataFrame, patch: Int): DataFrame = {
    require(patch > 0, s"patch size must be positive, got $patch")
    decoded
      .withColumn("px", explode(sequence(lit(0), ceil(col("width") / patch).cast("int") - 1)))
      .withColumn("py", explode(sequence(lit(0), ceil(col("height") / patch).cast("int") - 1)))
  }

  /** Frame sampling for video-like media: every `stride`-th frame index up
    * to n_frames (metadata-driven; no decode needed for planning).
    */
  def sampleFrames(media: DataFrame, nFrames: Column, stride: Int): DataFrame =
    media.withColumn("frame_idx",
      explode(sequence(lit(0), greatest(nFrames - 1, lit(0)), lit(stride))))
}
