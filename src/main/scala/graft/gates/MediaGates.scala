package graft
package gates

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}
import graft.sources.Tables

/** Multimodal gates: image, audio and video decode, features and
  * perceptual-hash near-duplicate detection over `documents` media.
  */
object MediaGates {

  /** DuckDB mirror of [[Multimodal.designedDHash]]: the a-priori expected
    * perceptual hash of each synthetic image, as pure id arithmetic —
    * md5-derived 60-bit group base XOR the member's designed flip mask
    * (384307168202282325 = 0x555555555555555, member 3's alternating-bit
    * mask). Shared by the hash and pair gates; the pair oracle verifies
    * ALL pairs at Hamming ≤ 3 directly (the banded engine relation equals
    * it exactly by pigeonhole).
    */
  private val duckDhashCte: String =
    """WITH ids AS (SELECT doc_id AS id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents),
      |h AS (
      |  SELECT id,
      |         xor(CAST(concat('0x', substr(md5(CAST(g AS VARCHAR)), 1, 15)) AS BIGINT),
      |             CASE m
      |               WHEN 0 THEN CAST(0 AS BIGINT)
      |               WHEN 1 THEN xor(CAST(1 AS BIGINT) << CAST((2*g) % 60 AS INT),
      |                               CAST(1 AS BIGINT) << CAST((2*g+31) % 60 AS INT))
      |               WHEN 2 THEN CAST(63 AS BIGINT) << CAST((3*g) % 54 AS INT)
      |               ELSE CAST(384307168202282325 AS BIGINT) << CAST(g % 2 AS INT)
      |             END) AS dhash
      |  FROM ids)""".stripMargin

  /** ALL pairs of [[duckDhashCte]]'s designed hashes at Hamming ≤ 3 — the
    * pair oracle of `dedup_image`, `dedup_audio` and `dedup_video`; each
    * engine relation bands its hashes 4×16 bits, which by pigeonhole equals
    * this all-pairs relation exactly.
    */
  private val duckHammingPairsSql: String =
    duckDhashCte + """
      |SELECT a.id AS id1, b.id AS id2,
      |       CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
      |FROM h a JOIN h b ON a.id < b.id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin

  val gates: Seq[Gate] = Seq(
    // Multimodal plumbing: binary payload → stub decode. Uses the
    // pure-expression fast path (identical output to the mapPartitions
    // codec seam — MultimodalSpec asserts equality) so the query stays in
    // whole-stage codegen until a real decoder exists.
    Gate("mm_features", (s, dir) => {
      Multimodal.extractFeaturesExpr(
          Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text"))
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image/png'
        |                         WHEN 1 THEN 'audio/wav'
        |                         ELSE 'video/mp4' END AS kind,
        |         CAST(strlen(text) AS BIGINT) AS n_bytes,
        |         md5(text) AS checksum
        |  FROM documents)
        |SELECT media_id, kind, n_bytes, checksum,
        |       CAST(16 + CAST(concat('0x', substr(checksum, 1, 4)) AS BIGINT) % 4080 AS BIGINT) AS width,
        |       CAST(16 + CAST(concat('0x', substr(checksum, 5, 4)) AS BIGINT) % 2144 AS BIGINT) AS height,
        |       CAST(CASE WHEN kind = 'video/mp4'
        |            THEN 1 + CAST(concat('0x', substr(checksum, 9, 4)) AS BIGINT) % 600
        |            ELSE 1 END AS BIGINT) AS n_frames
        |FROM m""".stripMargin),

    // Resize plan: fit image/video dims into a 512-box preserving aspect
    // ratio (integer floor, never upscale) — exact-arithmetic sizing
    // stage of a vision-preprocessing pipeline.
    Gate("mm_resize", (s, dir) => {
      Multimodal.resizePlan(
          Multimodal.extractFeaturesExpr(
            Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text")),
          box = 512)
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("target_w").cast("long").as("target_w"),
          col("target_h").cast("long").as("target_h"),
          col("resized"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         CASE doc_id % 3 WHEN 0 THEN 'image/png' ELSE 'video/mp4' END AS kind,
        |         md5(text) AS checksum
        |  FROM documents
        |  WHERE doc_id % 3 IN (0, 2)),
        |d AS (
        |  SELECT media_id, kind,
        |         16 + CAST(concat('0x', substr(checksum, 1, 4)) AS BIGINT) % 4080 AS width,
        |         16 + CAST(concat('0x', substr(checksum, 5, 4)) AS BIGINT) % 2144 AS height
        |  FROM m)
        |SELECT media_id, kind, width, height,
        |       CASE WHEN greatest(width, height) > 512
        |            THEN CAST(floor(width * 512 / greatest(width, height)) AS BIGINT)
        |            ELSE width END AS target_w,
        |       CASE WHEN greatest(width, height) > 512
        |            THEN CAST(floor(height * 512 / greatest(width, height)) AS BIGINT)
        |            ELSE height END AS target_h,
        |       greatest(width, height) > 512 AS resized
        |FROM d""".stripMargin),

    // Frame-sampling plan rows for the video payloads: every 10th frame
    // index per video — the explode side of decode-then-sample, emitted
    // narrow so the binary column never travels past the scan.
    Gate("mm_frames", (s, dir) => {
      Multimodal.sampleFrames(
          Multimodal.extractFeaturesExpr(
            Multimodal.asMediaTable(Tables(s, dir, "documents"), "doc_id", "text")),
          stride = 10)
        .select(col("media_id"), col("frame_no").cast("long").as("frame_no"))
    },
      """WITH m AS (
        |  SELECT doc_id AS media_id, md5(text) AS checksum
        |  FROM documents
        |  WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT media_id,
        |         1 + CAST(concat('0x', substr(checksum, 9, 4)) AS BIGINT) % 600 AS n_frames
        |  FROM m)
        |SELECT media_id, unnest(range(0, n_frames, 10)) AS frame_no FROM f""".stripMargin),

    // REAL PNG decode round-trip: encode a genuine PNG per document with
    // id-derived dimensions, then recover width/height through the
    // mapPartitions codec seam's javax.imageio header decode. The oracle
    // never touches the bytes — it knows the dimensions a priori — so the
    // only way this gate matches is if the decode is real and correct.
    Gate("mm_png_decode", (s, dir) => {
      Multimodal.extractFeatures(
          Multimodal.pngMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    },
      // the oracle knows the PNG dimensions a priori (they are id-derived);
      // the engine must recover them by actually decoding the encoded bytes
      """SELECT doc_id AS media_id,
        |       CAST(16 + doc_id % 64 AS BIGINT) AS width,
        |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
        |FROM documents""".stripMargin),

    // Mixed-format REAL decode: genuine PNG/JPEG/GIF/BMP payloads
    // (id mod 4), container sniffed from the bytes — the oracle knows
    // (kind, w, h) a priori; only a real per-format header decode can
    // reproduce them.
    Gate("mm_image_decode", (s, dir) => {
      Multimodal.extractFeatures(
          Multimodal.imageMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("kind"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    },
      """SELECT doc_id AS media_id,
        |       'image/' || CASE CAST(doc_id % 4 AS INT)
        |         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |         WHEN 2 THEN 'gif' ELSE 'bmp' END AS kind,
        |       CAST(16 + doc_id % 64 AS BIGINT) AS width,
        |       CAST(16 + (doc_id * 7) % 48 AS BIGINT) AS height
        |FROM documents""".stripMargin),

    // REAL audio decode round-trip: genuine 16-bit PCM WAV payloads with
    // id-derived header facts, parsed back through javax.sound.sampled
    // in the codec seam — the oracle never touches bytes.
    Gate("mm_audio_decode", (s, dir) => {
      Multimodal.extractAudioFeatures(
          Multimodal.wavMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_frames"),
          round(col("n_frames") * lit(1000.0) / col("sample_rate"), 3)
            .as("duration_ms"))
    },
      // id-derived WAV header facts — only a real RIFF parse reproduces them
      """SELECT doc_id AS media_id,
        |       CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
        |       CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |       CAST(500 + (doc_id * 13) % 2000 AS BIGINT) AS n_frames,
        |       round((500 + (doc_id * 13) % 2000) * 1000.0 /
        |             (8000 + (doc_id % 8) * 1000), 3) AS duration_ms
        |FROM documents""".stripMargin),

    // REAL multi-frame decode for the video/animation leg: genuine
    // animated GIFs with id-derived (w, h, frames); dimensions come from
    // the container header and the frame count only from walking the
    // container's image blocks (ImageIO getNumImages) — then every 2nd
    // frame index is sampled, the decode-then-sample shape over real
    // multi-frame payloads (mm_frames covers the same plan over the
    // manifest stub).
    Gate("mm_gif_frames", (s, dir) => {
      Multimodal.extractFeatures(
          Multimodal.gifMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          explode(sequence(lit(0L), col("n_frames").cast("long") - 1,
            lit(2L))).as("frame_no"))
    },
      // id-derived animated-GIF facts — only a real multi-image decode
      // (header dims + image-block walk for the frame count) reproduces them
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |         CAST(16 + doc_id % 32 AS BIGINT) AS width,
        |         CAST(16 + (doc_id * 5) % 24 AS BIGINT) AS height,
        |         CAST(1 + doc_id % 7 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT media_id, width, height, n_frames,
        |       unnest(range(0, n_frames, 2)) AS frame_no
        |FROM f""".stripMargin),

    // TRUE video container decode: genuine MJPEG-in-AVI payloads with
    // id-derived (w, h, frames) — dimensions from the hand-rolled RIFF
    // walk's avih header, frame count from WALKING the movi stream
    // chunks, and every 2nd frame's own JPEG header decoded for
    // (frame_w, frame_h); only a real container walk + per-frame decode
    // reproduces all of it. Same RIFF arithmetic the WAV codec owns.
    Gate("mm_avi_frames", (s, dir) => {
      Multimodal.extractVideoFrames(
          Multimodal.aviMediaTable(Tables(s, dir, "documents"), "doc_id"),
          stride = 2)
        .toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("frame_no"), col("frame_w"), col("frame_h"))
    },
      // id-derived MJPEG-AVI facts — container walk + per-frame JPEG decode
      """WITH f AS (
        |  SELECT doc_id AS media_id,
        |         CAST(16 + doc_id % 48 AS BIGINT) AS width,
        |         CAST(16 + (doc_id * 3) % 32 AS BIGINT) AS height,
        |         CAST(1 + doc_id % 6 AS BIGINT) AS n_frames
        |  FROM documents)
        |SELECT media_id, width, height, n_frames,
        |       unnest(range(0, n_frames, 2)) AS frame_no,
        |       width AS frame_w, height AS frame_h
        |FROM f""".stripMargin),

    // Perceptual image near-dup, HASH leg: genuine PNG payloads painted
    // so their dHash is pure id arithmetic (Multimodal.designedDHash),
    // recovered through a REAL pixel decode + 9×8 box-average — the
    // oracle replays the arithmetic without touching bytes, so the only
    // way this matches is a correct full-pixel perceptual hash.
    Gate("dedup_image_hash", (s, dir) => {
      Multimodal.dHash(
          Multimodal.dhashMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id"), col("dhash"))
    },
      // designed perceptual hashes as pure id arithmetic — only a real
      // pixel decode + 9×8 box-average reproduces them from the PNG bytes
      (duckDhashCte + """
        |SELECT id AS media_id, dhash FROM h""".stripMargin)),

    // Perceptual image near-dup, PAIR leg: the dHashes above through the
    // generic 4×16-bit Hamming banding (candidates ONLY from band
    // collisions — pigeonhole covers Hamming ≤ 3 exactly, so banded
    // candidates + exact verify EQUALS the all-pairs relation the
    // oracle computes on the designed hashes). Each id-group of 4
    // contributes exactly its (member 0, member 1) pair by design.
    Gate("dedup_image", (s, dir) => {
      val hs = Multimodal.dHash(
          Multimodal.dhashMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id").as("id"), col("dhash").as("h"))
      Dedup.hammingPairs(hs)
    },
      // the pair oracle verifies ALL Hamming<=3 pairs directly; the banded
      // engine relation equals it exactly by the 4x16 pigeonhole bound
      duckHammingPairsSql),

    // Audio near-dup, FINGERPRINT leg: genuine WAV payloads whose
    // spectrum is painted onto exact FFT bins (designed amplitudes per
    // band, zero leakage), recovered through a REAL PCM decode + a REAL
    // hand-rolled radix-2 FFT (property-pinned against a direct DFT) —
    // the oracle replays the same designed-bit arithmetic as the image
    // leg without touching bytes.
    Gate("dedup_audio_fp", (s, dir) => {
      Multimodal.audioFingerprint(
          Multimodal.fingerprintWavMediaTable(
            Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id"), col("fp"))
    },
      // designed spectral fingerprints — same a-priori bit arithmetic as
      // the image leg; only a real PCM decode + FFT reproduces them
      (duckDhashCte + """
        |SELECT id AS media_id, dhash AS fp FROM h""".stripMargin)),

    // Audio near-dup, PAIR leg: the spectral fingerprints through the
    // same banded Hamming machinery as dedup_image.
    Gate("dedup_audio", (s, dir) => {
      val hs = Multimodal.audioFingerprint(
          Multimodal.fingerprintWavMediaTable(
            Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id").as("id"), col("fp").as("h"))
      Dedup.hammingPairs(hs)
    },
      duckHammingPairsSql),

    // Video near-dup, FINGERPRINT leg — the last cell of the multimodal
    // dedup square: genuine MJPEG-AVI clips whose frames all carry the
    // designed dHash pattern (a JpegProbe sweep pinned the ±10 margins
    // bit-exact through the lossy codec at every gated id); the engine
    // must walk the real container, pixel-decode every frame, and
    // majority-vote the per-frame hashes to match the oracle's pure id
    // arithmetic.
    Gate("dedup_video_fp", (s, dir) => {
      Multimodal.videoFingerprint(
          Multimodal.dhashAviMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id"), col("fp"), col("n_sampled"))
    },
      // designed clip fingerprints — the majority over identical designed
      // frames is the designed hash; n_sampled = the id-derived frame count
      (duckDhashCte + """
        |SELECT id AS media_id, dhash AS fp,
        |       CAST(1 + id % 3 AS BIGINT) AS n_sampled
        |FROM h""".stripMargin)),

    // Video near-dup, PAIR leg: clip fingerprints through the shared
    // Hamming banding.
    Gate("dedup_video", (s, dir) => {
      val hs = Multimodal.videoFingerprint(
          Multimodal.dhashAviMediaTable(Tables(s, dir, "documents"), "doc_id"))
        .toDF().select(col("media_id").as("id"), col("fp").as("h"))
      Dedup.hammingPairs(hs)
    },
      duckHammingPairsSql)
  )
}
