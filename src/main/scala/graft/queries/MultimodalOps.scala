package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal-column operators (north star): media as opaque binary columns
  * with typed metadata.
  *
  * `multimodal_decode` drives the REAL image path end-to-end: a
  * deterministic grayscale PNG is encoded per document (dims and pixels
  * are pure functions of doc_id), the blob is decoded back with the JDK's
  * `javax.imageio` ([[graft.multimodal.Multimodal.Codec.decodeImage]]),
  * and the recovered raster facts — dimensions, corner pixels, pixel sum —
  * are hash-compared against an oracle that recomputes the same formulas
  * in SQL. A decode that parsed the container wrong in any way (stride,
  * bit depth, row order) breaks the hash. Narrow plan: encode + decode are
  * one partition-at-a-time pass, no shuffle.
  *
  * `multimodal_audio` and `multimodal_video` are the same shape for the
  * other two modalities: real WAV PCM via JavaSound, real MJPEG-in-AVI
  * via the pure-JDK RIFF demux + per-frame JPEG decode.
  *
  * `multimodal_meta` pins the byte-derived FAKE-path metadata (the branch
  * containers with no JDK codec take, e.g. MP4) against the same formulas
  * in the oracle, exactly as Multimodal.withMeta derives them.
  */
object MultimodalOps extends QueryGroup {

  override def queries: Map[String, Q] = Map(
    "multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id", $"text".cast("binary").as("blob"), $"source")
        .select(
          $"doc_id", $"source",
          length($"blob").cast("long").as("n_bytes"),
          (lit(16L) + length($"blob").cast("long") % 64L).as("fake_width"),
          (lit(16L) + length($"blob").cast("long") % 48L).as("fake_height"),
          (lit(1L) + length($"blob").cast("long") % 8L).as("fake_frames"))
    }),

    // real encode → real javax.imageio decode → raster facts. The blob is
    // generated (not read from a table) because the test corpus carries no
    // image bytes; everything the DECODE recovers is checked bit-for-bit.
    "multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (8 + id % 57).toInt
            val h = (8 + (id * 3) % 41).toInt
            val blob = Multimodal.SyntheticImages.gray(w, h)((x, y) =>
              ((id * 31 + x * 7 + y * 13) % 256).toInt)
            val px = Multimodal.Codec.decodeImage(id, blob).getOrElse(
              throw new IllegalStateException(s"PNG decode failed for doc $id"))
            (px.docId, px.width, px.height, px.format,
              px.pxTopLeft, px.pxBottomRight, px.pxSum)
          }
        }
        .toDF("doc_id", "width", "height", "format",
          "px_top_left", "px_bottom_right", "px_sum")
    }),

    // real MJPEG-in-AVI encode → real RIFF demux + javax.imageio JPEG
    // decode → frame/raster facts, the video twin of multimodal_decode.
    // Every frame is one solid gray level (flat 8×8 blocks at max JPEG
    // quality round-trip bit-exactly, so the lossy codec becomes oracle-
    // checkable); a demux bug in frame boundaries, order, count, or
    // header parsing breaks the hash.
    "multimodal_video" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val w = (8L * (2 + id % 5)).toInt
            val h = (8L * (2 + (id * 3) % 4)).toInt
            val nf = (2 + id % 5).toInt
            val blob = Multimodal.SyntheticVideo.mjpegAviFlat(w, h, nf)(f =>
              ((id * 37 + f * 11) % 256).toInt)
            val vp = Multimodal.Codec.decodeVideo(id, blob).getOrElse(
              throw new IllegalStateException(s"AVI decode failed for doc $id"))
            (vp.docId, vp.width, vp.height, vp.nFrames,
              vp.firstGray, vp.lastGray, vp.pxSum)
          }
        }
        .toDF("doc_id", "width", "height", "n_frames",
          "first_gray", "last_gray", "px_sum")
    }),

    // real WAV encode → real javax.sound.sampled decode → PCM facts, the
    // audio twin of multimodal_decode: samples are an integer recurrence
    // of (doc_id, i) the oracle recomputes in SQL, so any endianness,
    // sign, stride, or header error in the decode breaks the hash.
    "multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      widen(t(s, dir, "documents"))(_.select($"doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (500 + id % 1500).toInt
            val rate = (8000 + (id % 3) * 8000).toInt
            val blob = Multimodal.SyntheticAudio.pcm16(n, rate)(i =>
              (((id + 1) * 2654435761L + i * 40503L) % 65536L - 32768L).toInt)
            val pcm = Multimodal.Codec.decodeAudio(id, blob).getOrElse(
              throw new IllegalStateException(s"WAV decode failed for doc $id"))
            (pcm.docId, pcm.sampleRate, pcm.channels, pcm.bits,
              pcm.nSamples, pcm.firstSample, pcm.lastSample, pcm.absSum)
          }
        }
        .toDF("doc_id", "sample_rate", "channels", "bits",
          "n_samples", "first_sample", "last_sample", "abs_sum")
    })
  )

  override def oracle: Map[String, String] = Map(
    "multimodal_meta" ->
      """SELECT doc_id, source,
        |  octet_length(encode(text)) AS n_bytes,
        |  16 + octet_length(encode(text)) % 64 AS fake_width,
        |  16 + octet_length(encode(text)) % 48 AS fake_height,
        |  1 + octet_length(encode(text)) % 8 AS fake_frames
        |FROM documents""".stripMargin,

    // recompute what the PNG round trip must recover: pixel(x,y) =
    // (doc_id·31 + 7x + 13y) mod 256 over a width×height raster with
    // width = 8 + doc_id%57, height = 8 + 3·doc_id%41 (≤ 64×48, so the
    // fixed series + filter stands in for a correlated generate_series).
    "multimodal_decode" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |    CAST(SUM((d.doc_id * 31 + x * 7 + y * 13) % 256) AS BIGINT) AS px_sum
        |  FROM documents d, generate_series(0, 63) gx(x), generate_series(0, 47) gy(y)
        |  WHERE x < 8 + d.doc_id % 57 AND y < 8 + (d.doc_id * 3) % 41
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(8 + d.doc_id % 57 AS INTEGER) AS width,
        |  CAST(8 + (d.doc_id * 3) % 41 AS INTEGER) AS height,
        |  'png' AS format,
        |  CAST((d.doc_id * 31) % 256 AS INTEGER) AS px_top_left,
        |  CAST((d.doc_id * 31 + (7 + d.doc_id % 57) * 7 + (7 + (d.doc_id * 3) % 41) * 13) % 256
        |    AS INTEGER) AS px_bottom_right,
        |  px.px_sum
        |FROM documents d JOIN px ON px.doc_id = d.doc_id""".stripMargin,

    // recompute what the MJPEG round trip must recover: frame f is a
    // solid gray (37·doc_id + 11f) mod 256 over a width×height raster,
    // n_frames = 2 + doc_id%5 (≤ 6, so the fixed series + filter stands
    // in for a correlated generate_series).
    "multimodal_video" ->
      """WITH g AS (
        |  SELECT d.doc_id,
        |    CAST(SUM((d.doc_id * 37 + f * 11) % 256) AS BIGINT) AS gray_sum
        |  FROM documents d, generate_series(0, 6) gs(f)
        |  WHERE f < 2 + d.doc_id % 5
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(8 * (2 + d.doc_id % 5) AS INTEGER) AS width,
        |  CAST(8 * (2 + (d.doc_id * 3) % 4) AS INTEGER) AS height,
        |  CAST(2 + d.doc_id % 5 AS INTEGER) AS n_frames,
        |  CAST((d.doc_id * 37) % 256 AS INTEGER) AS first_gray,
        |  CAST((d.doc_id * 37 + (1 + d.doc_id % 5) * 11) % 256 AS INTEGER) AS last_gray,
        |  CAST(8 * (2 + d.doc_id % 5) AS BIGINT)
        |    * CAST(8 * (2 + (d.doc_id * 3) % 4) AS BIGINT) * g.gray_sum AS px_sum
        |FROM documents d JOIN g ON g.doc_id = d.doc_id""".stripMargin,

    // recompute the PCM recurrence: sample(i) = ((doc_id+1)·2654435761 +
    // 40503·i) mod 65536 − 32768 over n = 500 + doc_id%1500 samples
    // (n ≤ 2000, so the fixed series + filter stands in for a correlated
    // generate_series, as in multimodal_decode).
    "multimodal_audio" ->
      """WITH s AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(ABS(((d.doc_id + 1) * 2654435761 + i * 40503) % 65536 - 32768))
        |      AS BIGINT) AS abs_sum
        |  FROM documents d, generate_series(0, 1999) g(i)
        |  WHERE i < 500 + d.doc_id % 1500
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id,
        |  CAST(8000 + (d.doc_id % 3) * 8000 AS INTEGER) AS sample_rate,
        |  1 AS channels,
        |  16 AS bits,
        |  CAST(500 + d.doc_id % 1500 AS BIGINT) AS n_samples,
        |  CAST(((d.doc_id + 1) * 2654435761) % 65536 - 32768 AS INTEGER) AS first_sample,
        |  CAST(((d.doc_id + 1) * 2654435761 + (499 + d.doc_id % 1500) * 40503) % 65536 - 32768
        |    AS INTEGER) AS last_sample,
        |  s.abs_sum
        |FROM documents d JOIN s ON s.doc_id = d.doc_id""".stripMargin
  )
}
