package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.{Decoded, FakeCodec, JdkCodec, MediaRow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: schema, batched decode shape, deterministic fake
  * codec, and real feature math. */
class MultimodalSpec extends AnyFunSuite with SparkFixture {

  private val sf = "/root/testdata/sf0.001"

  test("media table schema: opaque binary + typed metadata") {
    val m = Multimodal.mediaTable(spark, sf)
    val f = m.schema.fields.map(x => x.name -> x.dataType.typeName).toMap
    assert(f("payload") == "binary")
    assert(f("kind") == "string" && f("media_id") == "long")
    assert(m.count() > 0)
  }

  test("decode is deterministic and batch-shaped; resize bounds dims") {
    // opaque text payloads → FakeCodec explicitly (the default JdkCodec
    // requires real PNG/WAV bytes, exercised in the round-trip specs below)
    val dec = Multimodal.decodeAll(Multimodal.mediaTable(spark, sf),
        batchSize = 7, codec = FakeCodec.decode)
      .collect().sortBy(_.media_id)
    val dec2 = Multimodal.decodeAll(Multimodal.mediaTable(spark, sf),
        batchSize = 64, codec = FakeCodec.decode)
      .collect().sortBy(_.media_id)
    assert(dec.map(_.width).toSeq == dec2.map(_.width).toSeq) // batch size can't change results
    dec.foreach { d =>
      assert(d.width >= 64 && d.height >= 64)
      assert(if (d.kind == "audio") d.n_channels == 2 else d.n_channels == 3)
      assert(d.kind != "image" || d.duration_ms == 0L)
      val r = FakeCodec.resize(d, 512)
      assert(math.max(r.width, r.height) <= 512 || math.max(d.width, d.height) <= 512)
    }
  }

  test("decodeResize2: dims halve (ceil), sampled sum matches brute force on real PNGs") {
    for (docId <- Seq(0L, 3L, 9L, 123L)) {
      val png = Multimodal.JdkCodec.encodePng(docId)
      val full = Multimodal.JdkCodec.decodeImage(png)
      val half = Multimodal.JdkCodec.decodeResize2(png)
      assert(half.width == (full.width + 1) / 2 && half.height == (full.height + 1) / 2)
      // brute-force the same grid from the closed-form pixel function
      val expect = (for {
        y <- 0 until half.height; x <- 0 until half.width
      } yield Multimodal.JdkCodec.pixel(docId, 2 * x, 2 * y).toLong).sum
      assert(half.sumPx == expect)
      assert(half.sumPx <= full.sumPx)
    }
  }

  test("sampleVideoFrames: stride math matches brute force over the container bytes") {
    for (docId <- Seq(2L, 5L, 98L, 101L)) {
      val vid = Multimodal.JdkCodec.encodeVideo(docId)
      val st = Multimodal.JdkCodec.sampleVideoFrames(vid, stride = 4)
      val n = (docId % 100 + 10).toInt
      assert(st.nFrames == n)
      val sampled = (0 until n).filter(_ % 4 == 0)
      assert(st.nSampled == sampled.size)
      assert(st.sumSampled == sampled.map(i => (docId * 17 + i * 29) % 256).sum)
    }
  }

  test("frame sampling: k offsets within duration, image → single frame") {
    val img = Decoded(1, "image", 100, 100, 3, 0, 10)
    assert(FakeCodec.sampleFrames(img, 4) == Seq(0L))
    val vid = Decoded(2, "video", 100, 100, 3, 60000, 10)
    val frames = FakeCodec.sampleFrames(vid, 4)
    assert(frames.length == 4 && frames.forall(o => o >= 0 && o < 60000))
  }

  test("JdkCodec PNG round-trip: encode → javax.imageio decode → closed-form stats") {
    for (docId <- Seq(0L, 3L, 42L, 999L, 123456L)) {
      val bytes = JdkCodec.encodePng(docId)
      // real PNG on the wire
      assert(bytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      val st = JdkCodec.decodeImage(bytes)
      val (w, h) = (JdkCodec.imageWidth(docId), JdkCodec.imageHeight(docId))
      assert(st.width == w && st.height == h && st.nChannels == 1)
      val expectedSum = (for (y <- 0 until h; x <- 0 until w)
        yield JdkCodec.pixel(docId, x, y).toLong).sum
      assert(st.sumPx == expectedSum) // byte-exact pixel recovery
    }
  }

  test("JdkCodec WAV round-trip: encode → javax.sound decode → closed-form stats") {
    for (docId <- Seq(1L, 4L, 77L, 1000L, 54321L)) {
      val bytes = JdkCodec.encodeWav(docId)
      assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
      val st = JdkCodec.decodeAudio(bytes)
      val n = JdkCodec.audioFrames(docId)
      assert(st.nChannels == 1 && st.sampleRate == JdkCodec.SampleRate)
      assert(st.nFrames == n.toLong)
      assert(st.durationMs == n.toLong * 1000 / JdkCodec.SampleRate)
      val expectedSum = (0 until n).map(i => JdkCodec.sample(docId, i).toLong).sum
      assert(st.sumSamples == expectedSum) // byte-exact PCM recovery
    }
  }

  test("q64/q65 decode queries run the real codecs distributed and match closed form") {
    val img = Multimodal.imageDecode(spark, sf).collect()
    assert(img.nonEmpty)
    img.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 == 0)
      assert(r.getInt(1) == JdkCodec.imageWidth(id) && r.getInt(2) == JdkCodec.imageHeight(id))
      val expected = (for (y <- 0 until JdkCodec.imageHeight(id);
                           x <- 0 until JdkCodec.imageWidth(id))
        yield JdkCodec.pixel(id, x, y).toLong).sum
      assert(r.getLong(4) == expected)
    }
    val aud = Multimodal.audioDecode(spark, sf).collect()
    assert(aud.nonEmpty)
    aud.foreach { r =>
      val id = r.getLong(0)
      assert(id % 3 == 1)
      val n = JdkCodec.audioFrames(id)
      assert(r.getLong(3) == n.toLong)
      val expected = (0 until n).map(i => JdkCodec.sample(id, i).toLong).sum
      assert(r.getLong(5) == expected)
    }
  }

  test("GFV1 video container round-trip: encode → parse → closed-form stats") {
    for (docId <- Seq(2L, 5L, 80L, 998L, 65537L)) {
      val bytes = JdkCodec.encodeVideo(docId)
      val d = JdkCodec.decodeVideo(bytes)
      assert(d.width == JdkCodec.videoWidth(docId))
      assert(d.height == JdkCodec.videoHeight(docId))
      assert(d.duration_ms == JdkCodec.videoDurationMs(docId))
      assert(d.n_channels == 3 && d.n_bytes == bytes.length.toLong)
      // dims stay under the q61 resize bound by construction, so
      // resize(512) is the identity the oracle SQL assumes
      assert(math.max(d.width, d.height) < 512 && d.duration_ms > 0)
    }
    val bad = JdkCodec.encodeVideo(2L); bad(0) = 0
    intercept[IllegalArgumentException](JdkCodec.decodeVideo(bad))
  }

  test("decodeSummary matches closed-form per-kind stats (q61 oracle shape)") {
    val ids = Tables.documents(spark, sf).select(col("doc_id")).collect().map(_.getLong(0))
    val byKind = ids.groupBy(id => (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video" })
    val expect = byKind.map { case (k, xs) =>
      val maxDim = k match {
        case "image" => xs.map(id =>
          math.max(JdkCodec.imageWidth(id), JdkCodec.imageHeight(id)).toLong).max
        case "audio" => 0L
        case _ => xs.map(id =>
          math.max(JdkCodec.videoWidth(id), JdkCodec.videoHeight(id)).toLong).max
      }
      val frames = if (k == "image") xs.length.toLong else 4L * xs.length
      k -> ((xs.length.toLong, maxDim, frames))
    }
    val rows = Multimodal.decodeSummary(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("audio", "image", "video"))
    rows.foreach { r =>
      val (n, maxDim, frames) = expect(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)} count")
      assert(r.getLong(2) == maxDim, s"${r.getString(0)} largest_dim")
      assert(r.getLong(3) == frames, s"${r.getString(0)} total_frames")
    }
  }

  test("features: 16-dim normalized byte histogram, unit mass") {
    val feats = Multimodal.features(Multimodal.mediaTable(spark, sf))
    val row = feats.orderBy(col("media_id")).first()
    val v = row.getAs[scala.collection.Seq[Float]]("embedding")
    assert(v.length == 16)
    assert(math.abs(v.sum - 1.0f) < 1e-3) // histogram normalized by payload length
  }
}
