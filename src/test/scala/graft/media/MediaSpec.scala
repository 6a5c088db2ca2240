package graft.media

import graft.SparkSpec
import MediaOps._

/** Multimodal plumbing: schema, deterministic decode seam, real
  * frame demux fan-out, resize reshape.
  */
class MediaSpec extends SparkSpec {
  import spark.implicits._

  private def row(id: Long, kind: String, nBytes: Int, durMs: Long) =
    MediaRow(id, MediaMeta(kind, 64, 48, durMs),
      Array.tabulate(nBytes)(i => ((i * 31 + id) % 251).toByte))

  test("featurize: partition-parallel decode seam is deterministic (stub over raw bytes)") {
    val media = Seq(row(1, "blob", 4096, 0), row(2, "blob", 1024, 5000)).toDS()
    val f1 = featurize(media, StubDecoder).collect().sortBy(_.media_id)
    val f2 = featurize(media, StubDecoder).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(_.features.size == 8))
    assert(f1.head.n_bytes == 4096L)
    assert(f1.forall(f => f.mean_byte >= 0 && f.mean_byte <= 255))
  }

  test("mediaFromDocuments: null text is an empty document (the text-operator contract)") {
    val docs = Seq((1L, "abc"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    val feats = featurize(mediaFromDocuments(docs), StubDecoder)
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(1L, 2L, 3L)) // no NPE, no drop
    // null and empty behave identically: zero bytes, mean 0.0, zero bands
    for (f <- feats.drop(1)) {
      assert(f.n_bytes == 0L && f.mean_byte == 0.0 && f.features.forall(_ == 0.0),
        s"${f.media_id}: $f")
    }
  }

  test("featurize default decoder really decodes images (band means over pixels)") {
    val media = synthImageCorpus(Seq((4L, "a"), (9L, "b")).toDF("doc_id", "text"))
    val feats = featurize(media).collect().sortBy(_.media_id)
    assert(feats.length == 2 && feats.forall(_.features.size == 8))
    // band means are pixel-value means, so they sit in [0, 255] and
    // match a driver-side decode of the same payload
    val payload = media.collect().find(_.media_id == 4L).get.payload
    val img = ImageCodec.decode(payload)
    val n = img.width * img.height
    val expected0 = {
      val until = n / 8
      val s = (0 until until).map(i => (img.rgb(3 * i) & 0xff) + (img.rgb(3 * i + 1) & 0xff) + (img.rgb(3 * i + 2) & 0xff)).sum
      s.toDouble / (3.0 * until)
    }
    assert(feats.find(_.media_id == 4L).get.features.head == expected0)
  }

  test("videoFrames: real P6-stream demux, one decodable payload per frame") {
    val docs = Seq((3L, "x"), (6L, "y")).toDF("doc_id", "text")
    val frames = videoFrames(synthVideoCorpus(docs)).collect()
      .groupBy(_.media_id).view.mapValues(_.sortBy(_.frame_idx)).toMap
    Seq(3L, 6L).foreach { id =>
      val fs = frames(id)
      assert(fs.length == 2 + (id % 4).toInt)
      assert(fs.map(_.frame_idx).toSeq == fs.indices)
      assert(fs.map(_.frame_ts_ms).toSeq == fs.indices.map(_ * 40L))
      fs.foreach { f =>
        val img = ImageCodec.decodePpm(f.payload) // every slice is a complete image
        assert(img.width == 5 + (id % 8).toInt && img.height == 3 + (id % 5).toInt)
      }
    }
  }

  test("sampleFrames thins the demux at the requested time stride") {
    val docs = Seq((1L, "x")).toDF("doc_id", "text") // 3 frames at 40 ms
    val all = videoFrames(synthVideoCorpus(docs)).collect()
    val sampled = sampleFrames(synthVideoCorpus(docs), strideMs = 80).collect().sortBy(_.frame_idx)
    assert(all.length == 3 && sampled.length == 2) // keeps source frames 0 and 2
    assert(sampled.map(_.frame_ts_ms).toSeq == Seq(0L, 80L))
    assert(sampled.head.payload.sameElements(all.sortBy(_.frame_idx).head.payload))
    // a stride past 2^31 ms must keep exactly frame 0 — the Long
    // ratio narrowed to Int without a clamp wrapped to 0 (i % 0
    // threw) or negative (regression pin)
    val huge = sampleFrames(synthVideoCorpus(docs), strideMs = 3L * Int.MaxValue)
      .collect()
    assert(huge.length == 1 && huge.head.frame_idx == 0L)
  }

  test("resize: nearest-neighbor index mapping, identity resize is a no-op") {
    // 2x2 image with distinct pixels
    val img = ImageCodec.Image(2, 2, Array[Byte](
      1, 2, 3,  4, 5, 6,
      7, 8, 9,  10, 11, 12))
    // identity
    assert(resize(img, 2, 2).rgb.toSeq == img.rgb.toSeq)
    // 1x1 keeps the top-left pixel (sx = 0*2/1 = 0, sy = 0)
    assert(resize(img, 1, 1).rgb.toSeq == Seq[Byte](1, 2, 3))
    // 4x4 upscale: target (x,y) reads source (x*2/4, y*2/4) = (x/2, y/2)
    val up = resize(img, 4, 4)
    assert(up.width == 4 && up.height == 4)
    assert(up.rgb.slice(0, 3).toSeq == Seq[Byte](1, 2, 3))       // (0,0)
    assert(up.rgb.slice(2 * 3, 2 * 3 + 3).toSeq == Seq[Byte](4, 5, 6)) // (2,0) -> src (1,0)
    assert(up.rgb.slice((2 * 4 + 2) * 3, (2 * 4 + 2) * 3 + 3).toSeq ==
      Seq[Byte](10, 11, 12))                                      // (2,2) -> src (1,1)
  }

  test("MediaSchema round-trips through a DataFrame") {
    val media = Seq(row(7, "image", 128, 0)).toDS().toDF()
    assert(media.schema("payload").dataType.typeName == "binary")
    val back = media.as[MediaRow].collect().head
    assert(back.media_id == 7L && back.payload.length == 128)
  }

  test("decodeQuarantine: intact corpus all-ok with true dims; injected faults quarantine exactly") {
    val docs = (0L until 30L).toDF("doc_id")
    val corpus = MediaOps.synthImageCorpus(docs)
    // intact: every row decodes with the synthesis dimensions
    val okAll = MediaOps.decodeQuarantine(corpus).collect()
    assert(okAll.length == 30 && okAll.forall(_.ok))
    okAll.foreach { v =>
      assert(v.width.contains(5L + v.media_id % 8) && v.height.contains(3L + v.media_id % 5))
    }
    // injected: exactly the id mod 7 in {0, 3} rows quarantine (null
    // dims), every other row keeps its decoded dimensions
    val verdicts = MediaOps.decodeQuarantine(MediaOps.injectCorruption(corpus))
      .collect().map(v => v.media_id -> v).toMap
    assert(verdicts.size == 30)
    verdicts.foreach { case (id, v) =>
      val corrupt = id % 7 == 0 || id % 7 == 3
      assert(v.ok == !corrupt, s"id $id: expected ok=${!corrupt}")
      assert(v.width.isDefined == !corrupt && v.height.isDefined == !corrupt, s"id $id dims")
    }
  }

  test("injectCorruption tolerates an empty payload on the magic-byte branch") {
    // id 3 (≡ 3 mod 7) with a zero-length payload: the magic-byte
    // zeroing must not AIOOBE — an empty payload is already maximally
    // corrupt, so the row passes through and still quarantines
    val rows = Seq(
      MediaRow(3L, MediaMeta("image", 0, 0, 0L), Array.empty[Byte]),
      MediaRow(0L, MediaMeta("image", 0, 0, 0L), Array.empty[Byte])).toDS()
    val out = MediaOps.injectCorruption(rows).collect().map(m => m.media_id -> m).toMap
    assert(out(3L).payload.isEmpty && out(0L).payload.isEmpty)
    val verdicts = MediaOps.decodeQuarantine(MediaOps.injectCorruption(rows))
      .collect()
    assert(verdicts.forall(!_.ok), "empty payloads must quarantine")
  }

  test("decodeQuarantine is a stateless narrow map: stream verdicts == batch twin") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = (0L until 25L).toDF("doc_id")
    val corrupted = MediaOps.injectCorruption(MediaOps.synthImageCorpus(docs))
    val dir = java.nio.file.Files.createTempDirectory("graft-quar-stream").toString
    corrupted.toDF().coalesce(1).write.parquet(s"$dir/in")
    val stream = spark.readStream.schema(MediaSchema).parquet(s"$dir/in").as[MediaRow]
    val q = MediaOps.decodeQuarantine(stream).toDF().writeStream
      .outputMode("append").format("memory").queryName("quar_stream")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish in 120 s")
    val got = spark.table("quar_stream").as[DecodeVerdict]
      .collect().map(v => v.media_id -> v).toMap
    val want = MediaOps.decodeQuarantine(corrupted)
      .collect().map(v => v.media_id -> v).toMap
    assert(got == want, "streaming quarantine diverged from the batch twin")
  }
}
