package graft
package catalog

import org.apache.spark.sql.functions._
import graft.ops.WarpOps._
import Shared._

/** Multimodal: real image, audio and video codecs, frame extraction and
  * perceptual dedup. */
object Media {
  /** Planted-pattern codec-gauge oracle (q_image_dhash_md5 /
    * q_audio_fp_md5): recompute every fixture's 64-bit signature from md5
    * words (low `flip` bits of word 1 inverted for the planted twins) and
    * brute-force ALL pairwise Hammings — the Spark side must reproduce
    * exactly this set through the real encode→decode→feature→blocked-join
    * pipeline. */
  private def plantedSigOracle(prefix: String): String =
    s"""WITH ids AS (
         SELECT CAST(doc_id AS BIGINT) AS id FROM documents WHERE doc_id < 64
       ), mem AS (
         SELECT id AS mid, id AS kid, 0 AS flip FROM ids
         UNION ALL
         SELECT id + 1000000, id, CAST(id % 4 AS INT) FROM ids WHERE id < 10
       ), w AS (
         SELECT mid,
           xor(CAST(('0x' || substr(md5('$prefix' || CAST(kid AS VARCHAR)), 1, 8)) AS BIGINT),
               CAST(CASE flip WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END AS BIGINT)) AS w1,
           CAST(('0x' || substr(md5('$prefix' || CAST(kid AS VARCHAR)), 9, 8)) AS BIGINT) AS w2
         FROM mem
       )
       SELECT a.mid AS id1, b.mid AS id2,
         CAST(bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2)) AS BIGINT) AS hamming
       FROM w a JOIN w b ON a.mid < b.mid
       WHERE bit_count(xor(a.w1, b.w1)) + bit_count(xor(a.w2, b.w2)) <= 3
       ORDER BY id1, id2"""

  val queries: Seq[Q] = Seq(
    // ---- multimodal: metadata transforms never touch the payload bytes
    Q("q_media_meta", (s, dir) => {
      val media = graft.pipeline.Multimodal.fabricate(
        T(s, dir, "documents"), "doc_id", "text", "image/fake")
      graft.pipeline.Multimodal.resizeMeta(media, 640, 480)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    }, Sql("""WITH m AS (SELECT doc_id AS media_id,
           (length(text)*7) % 1920 + 1 AS w,
           (length(text)*13) % 1080 + 1 AS h FROM documents)
         SELECT media_id, 'image/fake-resized' AS format,
           CAST(round(w * least(640.0/w, 480.0/h, 1.0)) AS INT) AS width,
           CAST(round(h * least(640.0/w, 480.0/h, 1.0)) AS INT) AS height
         FROM m ORDER BY media_id""")),

    // ---- perceptual image dedup: dHash over real decoded pixels (the
    //      SimHash machinery pointed at images), pigeonhole-blocked pair
    //      join; planted byte-identical copies must collide at Hamming 0.
    //      Seedless but pixel-level, so no SQL oracle — semantics pinned
    //      in PipelineSpec (declared rows-only, like q_dedup_simhash).
    Q("q_image_dhash", (s, dir) => {
      val base = graft.pipeline.Multimodal.fabricateImages(
        T(s, dir, "documents").warpFilter(col("doc_id") < 200), "doc_id")
      val copies = base.filter(col("media_id") < 10)
        .withColumn("media_id", col("media_id") + 1000000L)
      val hashed = graft.pipeline.Multimodal.imageDHash(base.unionByName(copies))
      graft.pipeline.Dedup.signaturePairs(
        hashed.select(col("media_id").as("id"), col("dhash").as("sig")),
        maxHamming = 0)
        .orderBy("id1", "id2")
    },
      NoOracle("pixel-level signatures over decoded images; planted-pattern gauge q_image_dhash_md5")),

    // ---- perceptual audio dedup: RMS-delta fingerprint through the real
    //      javax.sound decode path, same pigeonhole pair join; planted
    //      byte-identical clips collide at Hamming 0 (rows-only, pinned
    //      in PipelineSpec like q_image_dhash)
    Q("q_audio_fp", (s, dir) => {
      val base = graft.pipeline.Multimodal.fabricateAudio(
        T(s, dir, "documents").warpFilter(col("doc_id") < 200), "doc_id")
      val copies = base.filter(col("media_id") < 10)
        .withColumn("media_id", col("media_id") + 1000000L)
      val hashed = graft.pipeline.Multimodal.audioFingerprint(base.unionByName(copies))
      graft.pipeline.Dedup.signaturePairs(
        hashed.select(col("media_id").as("id"), col("afp").as("sig")),
        maxHamming = 0)
        .orderBy("id1", "id2")
    },
      NoOracle("sample-level signatures over decoded audio; planted-pattern gauge q_audio_fp_md5")),

    // ---- md5-tier gauge for the perceptual IMAGE dedup path: 9×8 PNGs
    //      drawn so the correct dHash is an md5-derived pattern (+10
    //      twins planted at Hamming 0..3), run through the REAL codec →
    //      dHash → pigeonhole pair join; the DuckDB oracle recomputes
    //      every pattern from md5 and brute-forces ALL pairs — gating
    //      codec, hash, flip planting AND blocking completeness at once
    Q("q_image_dhash_md5", (s, dir) => {
      val ids = T(s, dir, "documents").warpFilter(col("doc_id") < 64)
        .select(col("doc_id").cast("long").as("media_id"),
          col("doc_id").cast("long").as("key_id"), lit(0).as("flip"))
      val copies = ids.filter(col("media_id") < 10)
        .select((col("media_id") + 1000000L).as("media_id"), col("key_id"),
          (col("key_id") % 4).cast("int").as("flip"))
      val media = graft.pipeline.Multimodal.fabricatePatternImages(
        ids.unionByName(copies))
      val hashed = graft.pipeline.Multimodal.imageDHash(media)
      graft.pipeline.Dedup.signaturePairs(
        hashed.select(col("media_id").as("id"), col("dhash").as("sig")),
        maxHamming = 3)
        .orderBy("id1", "id2")
    }, Sql(plantedSigOracle("img:"))),

    // ---- md5-tier gauge for the perceptual AUDIO dedup path: WAVs whose
    //      window-amplitude walk encodes the md5 pattern, through the
    //      REAL javax.sound decode → RMS fingerprint → pair join
    Q("q_audio_fp_md5", (s, dir) => {
      val ids = T(s, dir, "documents").warpFilter(col("doc_id") < 64)
        .select(col("doc_id").cast("long").as("media_id"),
          col("doc_id").cast("long").as("key_id"), lit(0).as("flip"))
      val copies = ids.filter(col("media_id") < 10)
        .select((col("media_id") + 1000000L).as("media_id"), col("key_id"),
          (col("key_id") % 4).cast("int").as("flip"))
      val media = graft.pipeline.Multimodal.fabricatePatternAudio(
        ids.unionByName(copies))
      val hashed = graft.pipeline.Multimodal.audioFingerprint(media)
      graft.pipeline.Dedup.signaturePairs(
        hashed.select(col("media_id").as("id"), col("afp").as("sig")),
        maxHamming = 3)
        .orderBy("id1", "id2")
    }, Sql(plantedSigOracle("aud:"))),

    // ---- multimodal: frame sampling (explode shape; stub frame bytes)
    Q("q_media_frames", (s, dir) => {
      val media = graft.pipeline.Multimodal.fabricate(
        T(s, dir, "documents"), "doc_id", "text", "video/fake")
      graft.pipeline.Multimodal.sampleFrames(media, 3)
        .select(col("media_id"), col("frame_idx"), col("ts_ms"),
          length(col("frame_data")).as("frame_bytes"))
        .orderBy("media_id", "frame_idx")
    }, Sql("""WITH m AS (SELECT doc_id AS media_id,
           -- NULL payload: duration coalesces to 0 (ts_ms stays LONG 0),
           -- frame bytes stay NULL (DuckDB least() would skip the NULL
           -- and return 16) — mirrors Multimodal.fabricate/sampleFrames
           coalesce((length(text)*131) % 600000, 0) AS dur,
           CASE WHEN text IS NULL THEN NULL
                ELSE least(16, octet_length(encode(text))) END AS fb
         FROM documents)
         SELECT media_id, CAST(i AS INT) AS frame_idx,
           CAST(floor(CAST(i*dur AS DOUBLE)/3) AS BIGINT) AS ts_ms,
           CAST(fb AS INT) AS frame_bytes
         FROM m, range(3) t(i) ORDER BY media_id, frame_idx""")),

    // ---- REAL image codec round-trip (javax.imageio, in-JDK): encode a
    //      PNG per document whose dimensions are a pure function of the
    //      id, decode the actual bytes back, then resize-bounded decode
    //      again — the oracle recomputes what a correct codec MUST return
    Q("q_media_decode", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      // bounded corpus slice: the query measures codec CORRECTNESS
      // end-to-end (6 ImageIO passes per row); full-corpus throughput is
      // not the contract and would dominate the whole bench
      val imgs = mm.fabricateImages(
        T(s, dir, "documents").filter(col("doc_id") < 1000), "doc_id")
      val decoded = mm.decodeImages(imgs)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
      val resized = mm.decodeImages(mm.resizeImages(imgs, 8, 8))
        .select(col("media_id"), col("meta.width").as("r_width"),
          col("meta.height").as("r_height"))
      decoded.join(resized, "media_id").orderBy("media_id")
    }, Sql("""WITH m AS (SELECT doc_id AS media_id,
           CAST(doc_id % 31 + 1 AS INT) AS width,
           CAST(doc_id % 17 + 1 AS INT) AS height
         FROM documents WHERE doc_id < 1000)
         SELECT media_id, 'image/png' AS format, width, height,
           CAST(GREATEST(1, ROUND(width *
             LEAST(1.0, 8.0/width, 8.0/height))) AS INT) AS r_width,
           CAST(GREATEST(1, ROUND(height *
             LEAST(1.0, 8.0/width, 8.0/height))) AS INT) AS r_height
         FROM m ORDER BY media_id""")),

    // ---- REAL image transcode: PNG fixtures re-encoded as BMP, decoded
    //      back from the rewritten bytes — the reader's reported format
    //      and dimensions are the oracle contract
    Q("q_media_transcode", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val imgs = mm.fabricateImages(
        T(s, dir, "documents").filter(col("doc_id") < 1000), "doc_id")
      mm.decodeImages(mm.transcodeImages(imgs, "bmp"))
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 'image/bmp' AS format,
           CAST(doc_id % 31 + 1 AS INT) AS width,
           CAST(doc_id % 17 + 1 AS INT) AS height
         FROM documents WHERE doc_id < 1000 ORDER BY media_id""")),

    // ---- REAL audio codec round-trip (javax.sound.sampled, in-JDK):
    //      encode a WAV per document whose duration is a pure function of
    //      the id, decode the actual bytes back — the oracle recomputes
    //      what a correct header decode MUST return
    Q("q_audio_decode", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val wavs = mm.fabricateAudio(
        T(s, dir, "documents").filter(col("doc_id") < 1000), "doc_id")
      mm.decodeAudio(wavs)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("sample_rate"),
          col("meta.height").as("channels"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 'audio/wave' AS format,
           8000 AS sample_rate, 1 AS channels,
           doc_id % 997 + 125 AS duration_ms
         FROM documents WHERE doc_id < 1000 ORDER BY media_id""")),

    // ---- REAL audio resample: 8 kHz fixtures down to 4 kHz by linear
    //      interpolation, then decode the rewritten bytes — frame counts
    //      halve exactly (fixture frames are even), so duration is
    //      preserved to the millisecond and the oracle is exact
    Q("q_audio_resample", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val wavs = mm.fabricateAudio(
        T(s, dir, "documents").filter(col("doc_id") < 1000), "doc_id")
      mm.decodeAudio(mm.resampleAudio(wavs, 4000))
        .select(col("media_id"), col("meta.width").as("sample_rate"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 4000 AS sample_rate,
           doc_id % 997 + 125 AS duration_ms
         FROM documents WHERE doc_id < 1000 ORDER BY media_id""")),

    // ---- REAL video container round-trip (RIFF/AVI + MJPEG frames via
    //      javax.imageio): encode an AVI per document whose geometry is a
    //      pure function of the id, parse the actual container back —
    //      the oracle recomputes what a correct header parse MUST return
    Q("q_video_decode", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val vids = mm.fabricateVideos(
        T(s, dir, "documents").filter(col("doc_id") < 500), "doc_id")
      mm.decodeVideos(vids)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 'video/avi' AS format,
           CAST(doc_id % 31 + 1 AS INT) AS width,
           CAST(doc_id % 17 + 1 AS INT) AS height,
           (doc_id % 7 + 2) * 250 AS duration_ms
         FROM documents WHERE doc_id < 500 ORDER BY media_id""")),

    // ---- REAL frame extraction: sample 2 frames per clip from the movi
    //      stream and DECODE each JPEG — emitted dimensions come from the
    //      decoded raster, so the oracle checks the whole path
    Q("q_video_frames", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val vids = mm.fabricateVideos(
        T(s, dir, "documents").filter(col("doc_id") < 500), "doc_id")
      mm.sampleVideoFrames(vids, 2)
        .orderBy("media_id", "frame_idx")
    }, Sql("""WITH m AS (SELECT doc_id AS media_id, doc_id % 7 + 2 AS total,
           CAST(doc_id % 31 + 1 AS INT) AS w, CAST(doc_id % 17 + 1 AS INT) AS h
         FROM documents WHERE doc_id < 500)
         SELECT media_id,
           CAST(floor(i * total / 2.0) AS BIGINT) AS frame_idx,
           CAST(floor(i * total / 2.0) AS BIGINT) * 250 AS ts_ms,
           w AS f_width, h AS f_height
         FROM m, range(2) t(i) ORDER BY media_id, frame_idx""")),

    // ---- REAL inter-frame video (pure-JVM MPEG-1 I/P codec, Mpeg1.scala):
    //      encode a clip per document — geometry, picture count and 25 fps
    //      duration all pure functions of the id — then parse the actual
    //      sequence header and count the actual picture startcodes back.
    //      The P pictures motion-compensate (interior MBs) and intra-
    //      refresh (edges), so a correct frame count proves the inter-
    //      frame structure, not just a header echo. 150 clips: the codec
    //      is O(pixels·frames) per row and this is a correctness gate.
    Q("q_video_mpeg", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val vids = mm.fabricateMpegVideos(
        T(s, dir, "documents").filter(col("doc_id") < 150), "doc_id")
      mm.decodeMpegVideos(vids)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 'video/mpeg' AS format,
           CAST(16 * (doc_id % 3 + 1) AS INT) AS width,
           CAST(16 * (doc_id % 2 + 1) AS INT) AS height,
           (doc_id % 5 + 2) * 40 AS duration_ms
         FROM documents WHERE doc_id < 150 ORDER BY media_id""")),

    // ---- B-picture tier of q_video_mpeg: every clip carries at least one
    //      B picture (dual references, interpolated MC, B-type VLC). This
    //      row gates the HEADER/STARTCODE plumbing only (decodeMpegVideos
    //      scans, it does not decode pixels); the full B-path pixel
    //      decode is driver-gated by q_video_mpeg_b_decode below.
    Q("q_video_mpeg_b", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val vids = mm.fabricateMpegVideosB(
        T(s, dir, "documents").filter(col("doc_id") < 150), "doc_id")
      mm.decodeMpegVideos(vids)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("media_id")
    }, Sql("""SELECT doc_id AS media_id, 'video/mpeg' AS format,
           CAST(16 * (doc_id % 3 + 1) AS INT) AS width,
           CAST(16 * (doc_id % 2 + 1) AS INT) AS height,
           (3 + doc_id % 3) * 40 AS duration_ms
         FROM documents WHERE doc_id < 150 ORDER BY media_id""")),

    // ---- FULL B-stream pixel decode (r11, ADVICE r10): Mpeg1.decode
    //      runs over every clip's actual bytes on the executors — a
    //      VLC desync, wrong reference slot or broken interpolated MC
    //      throws or miscounts, so the planted frame-count/geometry
    //      oracle certifies the decode itself, not the header echo
    Q("q_video_mpeg_b_decode", (s, dir) => {
      val mm = graft.pipeline.Multimodal
      val vids = mm.fabricateMpegVideosB(
        T(s, dir, "documents").filter(col("doc_id") < 150), "doc_id")
      mm.decodeMpegFrameStats(vids)
        .select(col("media_id"), col("frames_decoded"), col("frame_w"),
          col("frame_h"), col("dims_consistent"))
        .orderBy("media_id")
    },
      // Full pixel decode of the B streams: frame count and geometry come
      // from the DECODED frames (display order = planted order), so the
      // planted id functions certify every picture survived its decode.
      Sql("""SELECT doc_id AS media_id,
           CAST(3 + doc_id % 3 AS INT) AS frames_decoded,
           CAST(16 * (doc_id % 3 + 1) AS INT) AS frame_w,
           CAST(16 * (doc_id % 2 + 1) AS INT) AS frame_h,
           true AS dims_consistent
         FROM documents WHERE doc_id < 150 ORDER BY media_id"""))
  )
}
