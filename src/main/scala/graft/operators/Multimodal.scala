package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * decoded/feature-extracted per partition in batches.
  *
  * The decode step itself is STUBBED (no image/audio codecs in this
  * environment — `decodeStub` derives deterministic fake features from the
  * bytes); everything around it — schema, batch shape, partition-parallel
  * execution, null handling — is the real design:
  *
  *  - payloads travel as `BinaryType` columns next to their metadata, so
  *    Parquet stores them inline (or as references at 100 TB — swap the
  *    loader, not the pipeline);
  *  - feature extraction runs via `mapPartitions` over an `Iterator`, the
  *    Scala analogue of `mapInPandas`: one decoder init per partition, rows
  *    streamed through in batches, never materializing a partition in memory.
  */
object Multimodal {

  /** Typed media row: payload + metadata the pipeline carries. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features: fixed, declared schema. */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                                 digest: String, features: Array[Float])

  /** STUB decoder — stands in for an image/audio codec. Deterministic fake:
    * an 8-dim feature vector derived from byte statistics. Replace with a
    * real codec without touching the surrounding plumbing. */
  def decodeStub(payload: Array[Byte]): Array[Float] = {
    if (payload == null || payload.isEmpty) return Array.fill(8)(0.0f)
    val out = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      out(i % 8) += (payload(i) & 0xFF) / 255.0f
      i += 1
    }
    out.map(v => v / payload.length * 8)
  }

  /** Batch feature extraction: one pass per partition, decoder state
    * initialized once per partition (the expensive part for real codecs). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init would go here (codec handles, model weights...)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        md.reset()
        val digest = md.digest(r.payload).map("%02x".format(_)).mkString
        MediaFeatures(r.media_id, r.kind,
          if (r.payload == null) 0 else r.payload.length,
          digest, decodeStub(r.payload))
      }
    }
  }

  /** Lift a text table into the media pipeline (documents-as-binary), the
    * shape a real pipeline uses for images: (id, kind, payload bytes). */
  def documentsAsMedia(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").as("media_id"), lit("text/plain").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Image dimensions, REAL (not stubbed): container headers are plain
    * bytes, no codec needed — PNG IHDR, GIF logical screen descriptor,
    * BMP info header, JPEG SOF marker scan. The pipeline filters by
    * resolution/format long before it decodes pixels; this is the
    * operator that makes that filter pushdown-cheap. Unknown/truncated
    * payloads → (null, -1, -1), never an exception. */
  final case class MediaDims(media_id: Long, format: String, width: Int, height: Int)

  def sniffImageDims(p: Array[Byte]): (String, Int, Int) = {
    def u8(i: Int) = p(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    try {
      if (p == null || p.length < 10) (null, -1, -1)
      else if (u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
               p.length >= 24 && new String(p, 12, 4, "US-ASCII") == "IHDR")
        ("png", be32(16), be32(20))
      else if (u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
               (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')
        ("gif", le16(6), le16(8))
      else if (u8(0) == 'B' && u8(1) == 'M' && p.length >= 26)
        ("bmp", le32(18), math.abs(le32(22))) // height may be negative (top-down)
      else if (u8(0) == 0xFF && u8(1) == 0xD8) {
        // JPEG: walk markers to the first start-of-frame (C0–CF minus
        // C4/C8/CC, which are tables, not frames). Spec-legal fill bytes
        // (0xFF runs before a marker, ITU T.81 §B.1.1.2) are skipped, and
        // standalone markers (TEM, RSTn — no length segment) advance by 2.
        var i = 2
        while (i + 9 < p.length) {
          if (u8(i) != 0xFF) return (null, -1, -1)
          while (i + 9 < p.length && u8(i + 1) == 0xFF) i += 1 // fill bytes
          val m = u8(i + 1)
          if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC)
            return ("jpeg", be16(i + 7), be16(i + 5))
          if (m == 0x01 || (m >= 0xD0 && m <= 0xD9)) i += 2 // standalone
          else i += 2 + be16(i + 2) // skip segment (length includes itself)
        }
        (null, -1, -1)
      } else (null, -1, -1)
    } catch { case _: IndexOutOfBoundsException => (null, -1, -1) }
  }

  /** Batch dimension sniff over the media table (mapPartitions, declared
    * result type — same shape as [[extractFeatures]]). */
  def imageDims(media: Dataset[MediaRow]): Dataset[MediaDims] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (f, w, h) = sniffImageDims(r.payload)
      MediaDims(r.media_id, f, w, h)
    })
  }

  final case class MediaAv(media_id: Long, container: String,
                           sample_rate: Int, channels: Int, duration_ms: Long)

  /** Audio/video container sniff — REAL byte parsing of the metadata a
    * media pipeline filters on before decoding anything: WAV (RIFF chunk
    * walk → sample rate/channels/duration from fmt+data) and MP4 (box
    * walk → mvhd timescale+duration, v0 and v1). Junk/truncated/null →
    * (null, -1, -1, -1), never a throw. */
  def sniffAvMeta(p: Array[Byte]): (String, Int, Int, Long) = {
    def u8(i: Int) = p(i) & 0xFF
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def be32(i: Int) = (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
      (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int) = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int) = new String(p, i, 4, "US-ASCII")
    val none = (null: String, -1, -1, -1L)
    try {
      if (p == null || p.length < 16) none
      else if (tag(0) == "RIFF" && tag(8) == "WAVE") {
        // chunk walk: fmt_ carries rate/channels/byteRate, data carries size
        var i = 12
        var rate = -1; var ch = -1; var byteRate = -1L; var dataSize = -1L
        while (i + 8 <= p.length && (rate < 0 || dataSize < 0)) {
          val id = tag(i); val sz = le32(i + 4)
          if (id == "fmt " && i + 24 <= p.length) {
            ch = le16(i + 10); rate = le32(i + 12).toInt; byteRate = le32(i + 16)
          } else if (id == "data") dataSize = sz
          // hostile size fields must advance the walk or we loop forever
          if (sz > Int.MaxValue - 16) return none
          i += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
        }
        if (rate <= 0 || byteRate <= 0) none
        else ("wav", rate, ch,
          if (dataSize < 0) -1L else dataSize * 1000L / byteRate)
      } else if (be32(0) >= 8 && tag(4) == "ftyp") {
        // top-level box walk to moov, then moov's children to mvhd
        var i = 0
        var dur = -1L
        while (i + 8 <= p.length && dur < 0) {
          val sz = be32(i)
          // a size that under-runs the header or overflows Int would stall
          // or cycle the walk — bail, never loop
          if (sz < 8 || sz > Int.MaxValue - 8) return none
          if (tag(i + 4) == "moov") {
            var j = i + 8
            val end = math.min(i + sz, p.length.toLong).toInt
            while (j + 8 <= end && dur < 0) {
              val csz = be32(j)
              if (csz < 8 || csz > Int.MaxValue - 8) return none
              if (tag(j + 4) == "mvhd" && j + 32 <= p.length) {
                val v = u8(j + 8)
                val (ts, d) =
                  if (v == 1 && j + 40 <= p.length) (be32(j + 28), be64(j + 32))
                  else (be32(j + 20), be32(j + 24))
                if (ts > 0) dur = d * 1000L / ts
              }
              j += csz.toInt
            }
          }
          i += sz.toInt
        }
        if (dur < 0) none else ("mp4", -1, -1, dur)
      } else none
    } catch { case _: IndexOutOfBoundsException => none }
  }

  /** Batch AV-metadata sniff (same mapPartitions shape as [[imageDims]]). */
  def avMeta(media: Dataset[MediaRow]): Dataset[MediaAv] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val (c, sr, ch, d) = sniffAvMeta(r.payload)
      MediaAv(r.media_id, c, sr, ch, d)
    })
  }

  /** One sampled frame of a media payload. */
  final case class MediaFrame(media_id: Long, frame_idx: Int, ts_ms: Long,
                              frame: Array[Byte])

  /** Frame sampling — the one-row→many-rows generator (UDTF) shape a video
    * pipeline needs. STUB: fixed-size byte windows stand in for decoded
    * frames at a fixed sample interval; a real codec swaps in a
    * keyframe-seeking reader without touching the flatMap plumbing,
    * declared schema, or timestamps. Empty payloads yield no frames. */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 64,
                   everyMs: Long = 1000L): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val p = if (r.payload == null) Array.empty[Byte] else r.payload
      val n = (p.length + frameBytes - 1) / frameBytes
      (0 until n).iterator.map { i =>
        MediaFrame(r.media_id, i, i * everyMs,
          java.util.Arrays.copyOfRange(p,
            i * frameBytes, math.min(p.length, (i + 1) * frameBytes)))
      }
    }
  }

  /** Difference-hash (dHash) perceptual fingerprint over a decoded
    * grayscale thumbnail — the image near-dup key: resize to 9×8, hash
    * bit b = "pixel brighter than its left neighbor", so the
    * fingerprint survives re-encoding, scaling and small edits while
    * exact byte digests don't. Input is the DECODER'S OUTPUT (an 8×9
    * row-major int array, 72 pixels) — the codec stays behind the
    * [[decodeStub]] boundary like every multimodal op here; this
    * expression is the real production kernel either way.
    *
    * 63 bits, not 64: the top comparison is dropped so the fingerprint
    * (and any engine recomputing it) stays inside signed-64 SUM range —
    * the same SQL-portability bound the KMV/LSH hash families chose.
    * Pairs then block through [[Dedup.hammingPairsBanded]] (4 bands,
    * exact for hamming ≤ 3). Pure projection — fingerprints never
    * shuffle pixel data. */
  def dHash63(pixels: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 63).map { b =>
      val r = b / 8
      val c = b % 8
      val i = r * 9 + c // row-major 9-wide; compare col c+1 vs c
      // try_element_at: the 9x9 grid is the documented contract, but a
      // short array must degrade to 0-bits under ANSI mode too
      when(try_element_at(pixels, lit(i + 2)) > try_element_at(pixels, lit(i + 1)),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
}
