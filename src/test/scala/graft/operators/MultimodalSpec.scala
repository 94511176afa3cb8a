package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.asMedia(
    Seq((1L, "hello world"), (2L, "tiny"), (3L, "a much longer payload of bytes here"))
      .toDF("id", "payload"), "id", "payload")

  test("asMedia produces the binary payload schema") {
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "content", "media_type"))
    assert(media.schema("content").dataType.typeName == "binary")
  }

  test("synthesizeVideo -> decodeVideo round-trips MP4 and AVI header fields") {
    val ids = Seq(0L, 1L, 2L, 7L, 19L, 20L, 239L, 240L, 1001L)
    val decoded = Multimodal.decodeVideo(
        Multimodal.synthesizeVideo(ids.toDF("id"), "id"))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    ids.foreach { id =>
      val r = decoded(id)
      val (cont, codec) = if (id % 2 == 0) ("mp4", "avc1") else ("avi", "mjpg")
      assert(r.getAs[String]("container") == cont, s"container id=$id")
      assert(r.getAs[String]("codec") == codec, s"codec id=$id")
      assert(r.getAs[Int]("width") == 16 * (id % 20 + 4), s"width id=$id")
      assert(r.getAs[Int]("height") == 16 * ((7 * id) % 15 + 4), s"height id=$id")
      assert(r.getAs[Long]("n_frames") == id % 240 + 24, s"frames id=$id")
      assert(r.getAs[Long]("duration_ms") == 40 * (id % 240 + 24), s"dur id=$id")
    }
  }

  test("decodeVideo: corrupt and non-video payloads yield null fields, not failures") {
    val junk = Multimodal.asMedia(
      Seq((1L, "not a container"), (2L, ""),
        (3L, "RIFF....AVI truncated"), (4L, "\u0000\u0000\u0000\u0014ftypbad")).toDF("id", "payload"),
      "id", "payload", mediaType = "video/junk")
    val out = Multimodal.decodeVideo(junk)
      .select(col("media_id"), col("width").isNull, col("codec").isNull)
      .as[(Long, Boolean, Boolean)].collect()
    assert(out.length == 4, "every corrupt row survives")
    assert(out.forall(_._2), "corrupt payloads must have null width")
  }

  test("synthesizeWav -> decodeAudio round-trips exact PCM statistics") {
    val base = Seq((10L, 100), (11L, 3), (12L, 1)).toDF("id", "n")
    val decoded = Multimodal.decodeAudio(
        Multimodal.synthesizeWav(base, "id", "n"))
      .orderBy("media_id").collect()
    // hand-check media 11 (n=3): samples k=0,1,2 of ((11*31 + 17k) % 201) - 100
    val s = (0 until 3).map(k => ((11 * 31 + k * 17) % 201) - 100)
    val r11 = decoded(1)
    assert(r11.getAs[Long]("n_samples") == 3L)
    assert(r11.getAs[Long]("peak") == s.map(math.abs).max.toLong)
    assert(r11.getAs[Long]("sum_abs") == s.map(math.abs).sum.toLong)
    assert(r11.getAs[Long]("zero_crossings") ==
      s.sliding(2).count(p => p.head * p(1) < 0).toLong)
    assert(decoded.forall(r => r.getAs[Int]("sample_rate") == 8000 &&
      r.getAs[Int]("channels") == 1 && r.getAs[Int]("bits") == 16))
    assert(decoded(0).getAs[Long]("n_samples") == 100L)
  }

  test("synthesizeWav -> decodeAudio property: formula stats hold over an id/size grid") {
    // the q5e contract on a broader grid than the oracle fixture: for every
    // (id, n) the decoded integer stats equal the generator formula's
    val cases = for (id <- Seq(0L, 1L, 7L, 63L, 200L, 999L); n <- Seq(1, 2, 13, 257))
      yield (id * 131 + n, n) // spread ids so no two cases collide
    val decoded = Multimodal.decodeAudio(
        Multimodal.synthesizeWav(cases.toDF("id", "n"), "id", "n"))
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    cases.foreach { case (id, n) =>
      val s = (0 until n).map(k => (((id * 31 + k * 17) % 201) - 100).toInt)
      val r = decoded(id)
      assert(r.getAs[Long]("n_samples") == n.toLong, s"n_samples id=$id")
      assert(r.getAs[Long]("peak") == s.map(math.abs).max.toLong, s"peak id=$id")
      assert(r.getAs[Long]("sum_abs") == s.map(math.abs).map(_.toLong).sum, s"sum id=$id")
      assert(r.getAs[Long]("zero_crossings") ==
        s.sliding(2).count(p => p.length == 2 && p.head * p(1) < 0).toLong,
        s"zc id=$id n=$n")
    }
  }

  test("decodeAudio stereo: crossings walk channel 0, peak/sum are channel-agnostic") {
    // hand-built 16-bit stereo WAV: L = [100, -100, 100], R = [-50,-50,-50].
    // channel-0 crossings = 2; a naive interleaved walk would count 3.
    val l = Array[Short](100, -100, 100); val r = Array[Short](-50, -50, -50)
    val dataLen = 12
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2)        // PCM, stereo
      .putInt(8000).putInt(8000 * 4)  // rate, byte rate
      .putShort(4).putShort(16)       // block align, bits
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    (0 until 3).foreach { k => buf.putShort(l(k)); buf.putShort(r(k)) }
    val media = Seq((7L, buf.array(), "audio/wav"))
      .toDF("media_id", "content", "media_type")
    val row = Multimodal.decodeAudio(media).collect()(0)
    assert(row.getAs[Int]("channels") == 2)
    assert(row.getAs[Long]("n_samples") == 6L)
    assert(row.getAs[Long]("peak") == 100L)
    assert(row.getAs[Long]("sum_abs") == 450L)
    assert(row.getAs[Long]("zero_crossings") == 2L,
      s"channel-0 crossings expected 2, got ${row.getAs[Long]("zero_crossings")}")
  }

  test("decodeAudio yields null fields on corrupt payloads (data, not exceptions)") {
    val junk = Seq((1L, "this is not a wav file"), (2L, ""))
      .toDF("id", "payload")
    val decoded = Multimodal.decodeAudio(
        Multimodal.asMedia(junk, "id", "payload", "audio/wav"))
      .orderBy("media_id").collect()
    assert(decoded.length == 2)
    assert(decoded.forall(r => r.isNullAt(r.fieldIndex("sample_rate")) &&
      r.isNullAt(r.fieldIndex("n_samples"))))
  }

  test("decodeImages really decodes: PNG and JPEG round-trip via javax.imageio") {
    // build one PNG and one JPEG in-memory with known dimensions
    def encode(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      img.setRGB(0, 0, 0x336699)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, encode("png", 17, 9), "image/png"),
      (2L, encode("jpg", 33, 21), "image/jpeg"),
      (3L, "not an image".getBytes("UTF-8"), "image/png"), // corrupt payload
      (4L, null.asInstanceOf[Array[Byte]], "image/png"))   // null payload
      .toDF("media_id", "content", "media_type")
    val out = Multimodal.decodeImages(rows).orderBy("media_id").collect()
    assert(out(0).getAs[Int]("width") == 17 && out(0).getAs[Int]("height") == 9)
    assert(out(0).getAs[Int]("channels") == 3)
    assert(out(1).getAs[Int]("width") == 33 && out(1).getAs[Int]("height") == 21)
    assert(out(2).isNullAt(out(2).fieldIndex("width")), "corrupt bytes -> null dims")
    assert(out(3).isNullAt(out(3).fieldIndex("width")), "null payload -> null dims")
    assert(out(3).getAs[Long]("n_bytes") == 0L)
  }

  test("synthesizePng -> decodeImages round-trips the id-derived dimensions") {
    val base = spark.range(20).select(col("id"),
      (lit(1) + col("id") % 16).cast("int").as("w"),
      (lit(1) + col("id") % 13).cast("int").as("h"))
    val decoded = Multimodal.decodeImages(
        Multimodal.synthesizePng(base, "id", "w", "h"))
      .select(col("media_id"), col("width"), col("height"), col("channels"))
      .as[(Long, Int, Int, Int)].collect()
    assert(decoded.length == 20)
    decoded.foreach { case (id, w, h, c) =>
      assert(w == 1 + (id % 16).toInt, s"id=$id width")
      assert(h == 1 + (id % 13).toInt, s"id=$id height")
      assert(c == 3)
    }
  }

  test("synthesizePng treats bad dimensions as data: null/zero/negative -> null payload") {
    val base = Seq(
      (0L, Some(4), Some(3)),            // valid
      (1L, Some(0), Some(3)),            // zero width
      (2L, Some(4), Some(-2)),           // negative height
      (3L, None: Option[Int], Some(3)),  // null width
      (4L, Some(4), None: Option[Int])   // null height
    ).toDF("id", "w", "h")
    val out = Multimodal.synthesizePng(base, "id", "w", "h")
      .select(col("media_id"), col("content").isNull.as("null_content"))
      .as[(Long, Boolean)].collect().toMap
    assert(out.size == 5, "every input row must survive (no task crash)")
    assert(!out(0L), "valid dims must encode")
    Seq(1L, 2L, 3L, 4L).foreach(id =>
      assert(out(id), s"id=$id bad dims must yield null payload"))
  }

  test("patchGrid fans out ceil(w/p)*ceil(h/p) rows per image") {
    val decoded = Multimodal.decodeVideo(
      Multimodal.synthesizeVideo(Seq(1L, 2L, 3L).toDF("id"), "id"))
    val grid = Multimodal.patchGrid(decoded, 32)
    val counts = grid.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    val expected = decoded.select(col("media_id"),
        (ceil(col("width") / 32) * ceil(col("height") / 32)).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(counts == expected)
  }

  test("sampleFrames emits every stride-th frame index") {
    val df = Seq((1L, 10), (2L, 1)).toDF("media_id", "nf")
    val out = Multimodal.sampleFrames(df, col("nf"), stride = 4)
      .groupBy("media_id").agg(collect_list("frame_idx").as("f"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(1L) == Seq(0, 4, 8))
    assert(out(2L) == Seq(0))
  }
}
