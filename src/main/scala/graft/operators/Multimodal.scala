package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: opaque `binary` payloads with typed metadata,
  * processed by partition-wise "decoders".
  *
  * The Spark-side architecture is the real deliverable here — schema,
  * partition-batched decode via `mapPartitions` on a typed Dataset, stable
  * feature schema out. The codec itself is split by modality:
  *
  *  - `image/png` payloads carrying the PNG signature are REALLY decoded —
  *    `javax.imageio` (JDK-resident, no extra jars) parses the header for
  *    true width/height, one reusable `ImageReader` instance per partition;
  *  - audio/video (and malformed image payloads) fall back to
  *    [[decodeStub]], a deterministic fake deriving pseudo-dimensions from
  *    the payload's md5 (this container has no audio/video libraries).
  *    Swapping in a real codec for those changes only the stub.
  *
  * At 100 TB: payloads stay in their parquet row groups until the decode
  * stage; `mapPartitions` amortizes per-batch codec setup (the reason
  * real pipelines use Arrow-batched UDFs); decode output is narrow
  * (features only), so the wide binary column is pruned immediately after.
  */
object Multimodal {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      checksum: String,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Shape any table with an id and a string column into a media table:
    * payload := utf-8 bytes (stand-in for real image/audio bytes), kind
    * derived from the id for variety.
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(
        array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      col(payloadCol).cast("binary").as("payload"))

  /** STUB decoder — deterministic fake of an image/audio/video codec:
    * "dimensions" are carved from the payload's md5 so they're stable,
    * engine-reproducible, and exercise the full feature schema. A real
    * implementation would decode `payload` here (e.g. via javax.imageio),
    * one codec instance per partition.
    */
  private def decodeStub(md: MessageDigest, r: MediaRow): MediaFeatures = {
    val digest = md.digest(r.payload)
    val hex = digest.map("%02x".format(_)).mkString
    val w = 16 + (java.lang.Long.parseLong(hex.substring(0, 4), 16) % 4080).toInt
    val h = 16 + (java.lang.Long.parseLong(hex.substring(4, 8), 16) % 2144).toInt
    val frames = r.kind match {
      case "video/mp4" => 1 + (java.lang.Long.parseLong(hex.substring(8, 12), 16) % 600).toInt
      case _           => 1
    }
    MediaFeatures(r.media_id, r.kind, r.payload.length.toLong, hex, w, h, frames)
  }

  /** The 8-byte PNG signature (\x89 P N G \r \n \x1a \n). */
  private val PngMagic: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def hasPngMagic(p: Array[Byte]): Boolean =
    p != null && p.length >= 8 &&
      java.util.Arrays.equals(p, 0, 8, PngMagic, 0, 8)

  private val JpegMagic: Array[Byte] = Array(0xFF, 0xD8, 0xFF).map(_.toByte)
  private val GifMagic: Array[Byte] = "GIF8".getBytes("US-ASCII")
  private val BmpMagic: Array[Byte] = "BM".getBytes("US-ASCII")

  private def magic(p: Array[Byte], m: Array[Byte]): Boolean =
    p != null && p.length >= m.length &&
      java.util.Arrays.equals(p, 0, m.length, m, 0, m.length)

  /** Container sniffing by signature — the decoder TRUSTS THE BYTES, never
    * the declared `kind` (a mislabeled or hostile kind column must not pick
    * the wrong codec). Returns the ImageIO format name, or None for
    * payloads that are not a recognized image container.
    */
  private def sniffFormat(p: Array[Byte]): Option[String] =
    if (hasPngMagic(p)) Some("png")
    else if (magic(p, JpegMagic)) Some("jpeg")
    else if (magic(p, GifMagic)) Some("gif")
    else if (magic(p, BmpMagic)) Some("bmp")
    else None

  /** REAL image-header decode via the JDK's ImageIO (PNG/JPEG/GIF/BMP —
    * one reusable `ImageReader` per format per partition): report the
    * image's true dimensions. Header-only (`getWidth/getHeight(0)` read
    * the container header, not pixels) — dimensions never need a full
    * pixel decode, which matters when the feature pass scans petabytes of
    * payloads. Returns None on a malformed payload (caller falls back to
    * the stub rather than failing the partition — a poisoned row must not
    * kill a 100 TB scan).
    */
  private def decodeImage(md: MessageDigest,
      reader: javax.imageio.ImageReader, r: MediaRow,
      fmt: String): Option[MediaFeatures] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(r.payload))
      try {
        reader.setInput(iis)
        val w = reader.getWidth(0)
        val h = reader.getHeight(0)
        // GIF is the one JDK-resident MULTI-FRAME container: report the
        // REAL frame count (getNumImages(true) walks the image blocks —
        // a header-level scan, no pixel decode), so the video/animation
        // leg of a training pipeline gets genuine per-payload frame
        // counts instead of a manifest stub. Other formats are
        // single-frame by construction.
        val frames = if (fmt == "gif") reader.getNumImages(true) else 1
        val hex = md.digest(r.payload).map("%02x".format(_)).mkString
        Some(MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
          hex, w, h, frames))
      } finally {
        reader.setInput(null) // release the stream before closing it
        iis.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Partition-batched feature extraction: one codec set per partition
    * (an md5 digest + one real `ImageReader` per encountered format),
    * streamed over the rows — the mapInPandas/Arrow-batch shape expressed
    * in Scala. `image/…` payloads whose BYTES carry a recognized container
    * signature (PNG/JPEG/GIF/BMP — sniffed, never trusted from `kind`) get
    * a REAL header decode ([[decodeImage]]); everything else — audio/
    * video, and image rows whose payload is not actually an image — takes
    * the deterministic stub. For all-stub inputs prefer
    * [[extractFeaturesExpr]], which computes the identical features
    * without leaving whole-stage codegen.
    */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        // per-partition codec setup, reused across the partition's rows
        val md = MessageDigest.getInstance("MD5")
        val readers =
          scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]
        def readerFor(fmt: String) = readers.getOrElseUpdate(fmt,
          javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next())
        rows.map { r =>
          (if (r.kind != null && r.kind.startsWith("image/"))
            sniffFormat(r.payload) else None) match {
            case Some(fmt) =>
              decodeImage(md, readerFor(fmt), r, fmt)
                .getOrElse(decodeStub(md, r))
            case None => decodeStub(md, r)
          }
        }
      }
  }

  /** Encode a genuine `width`×`height` PNG (deterministic gradient pixels)
    * — the fixture generator for exercising the REAL decode path end to
    * end without shipping binary fixtures: the gate derives (w, h) from an
    * id, encodes a real PNG, and the decoded dimensions must round-trip.
    */
  def synthesizePng(width: Int, height: Int): Array[Byte] =
    synthesizeImage(width, height, "png")

  /** Encode a genuine `width`×`height` image in `fmt` (png/jpeg/gif/bmp —
    * the four JDK-resident ImageIO writers). Pixels are a deterministic
    * gradient; lossy formats (JPEG) and palette formats (GIF) may alter
    * pixel VALUES but the container header — what [[decodeImage]] reads —
    * always carries the exact dimensions.
    */
  def synthesizeImage(width: Int, height: Int, fmt: String): Array[Byte] = {
    require(width >= 1 && height >= 1, s"bad dims ${width}x$height")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        img.setRGB(x, y, ((x * 31 + y * 17) & 0xFFFFFF))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** Encode a genuine ANIMATED GIF of `nFrames` frames (deterministic
    * per-frame gradient) through the JDK GIF writer's sequence API — the
    * multi-frame fixture for the video/animation leg: the gate derives
    * (w, h, frames) from an id, encodes a real multi-image container, and
    * the decoded frame count must round-trip through
    * `ImageReader.getNumImages(true)`.
    */
  def synthesizeGif(width: Int, height: Int, nFrames: Int): Array[Byte] = {
    require(width >= 1 && height >= 1 && nFrames >= 1,
      s"bad gif params ${width}x$height f=$nFrames")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < height) {
          var x = 0
          while (x < width) {
            img.setRGB(x, y, ((x * 31 + y * 17 + f * 47) & 0xFFFFFF))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    out.toByteArray
  }

  /** A media table of GENUINE animated-GIF payloads with id-derived facts
    * (width = 16 + id mod 32, height = 16 + 5·id mod 24,
    * frames = 1 + id mod 7) — the oracle knows all three a priori; the
    * engine reproduces them only by really decoding the multi-image
    * container (dimensions from the header, frame count from the image
    * blocks). Encode runs in the same fanned mapPartitions seam as the
    * other media tables.
    */
  def gifMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (16L + id % 32L).toInt
          val h = (16L + (id * 5L) % 24L).toInt
          val frames = (1L + id % 7L).toInt
          (id, "image/gif", synthesizeGif(w, h, frames))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** A media table of GENUINE mixed-format image payloads (id mod 4 →
    * png/jpeg/gif/bmp), dimensions derived from the id exactly like
    * [[pngMediaTable]] — the oracle knows (kind, w, h) a priori without
    * touching bytes, and the engine can only reproduce them by really
    * sniffing and decoding each container.
    */
  def imageMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fmts = Array("png", "jpeg", "gif", "bmp")
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (16L + id % 64L).toInt
          val h = (16L + (id * 7L) % 48L).toInt
          val fmt = fmts((id % 4L).toInt)
          (id, s"image/$fmt", synthesizeImage(w, h, fmt))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** A media table of GENUINE PNG payloads, dimensions derived from the id
    * (width = 16 + id mod 64, height = 16 + 7·id mod 48) — so an oracle
    * that never touches the bytes knows the answer a priori, and the only
    * way the engine can reproduce it is by really decoding the PNG it
    * encoded. Encoding runs in the same mapPartitions seam as the decoder.
    */
  def pngMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (16L + id % 64L).toInt
          val h = (16L + (id * 7L) % 48L).toInt
          (id, "image/png", synthesizePng(w, h))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  // ------------------------------------------------- perceptual image hash
  // The multimodal corpus' near-dup leg: a 100 TB training set dedups
  // IMAGES, not just text — re-encoded, resized or lightly-edited copies
  // share no byte checksum but survive a perceptual hash. dHash (the
  // difference hash: downscale to a 9×8 grayscale grid, bit = "right cell
  // brighter than left") is the standard cheap perceptual fingerprint;
  // pairs come from Hamming banding ([[Dedup.hammingPairs]]), never from
  // an all-pairs scan.

  /** One perceptual fingerprint: 64-bit dHash over the REALLY-decoded
    * pixels (bit r·8+c = row-r cell c+1 brighter than cell c on the 9×8
    * box-averaged grayscale grid).
    */
  case class ImageHash(media_id: Long, dhash: Long)

  /** 64-bit dHash from a decoded image: box-average the pixels onto a
    * 9-col × 8-row grayscale grid (region (r,c) = pixels [⌊c·w/9⌋,
    * ⌊(c+1)·w/9⌋) × [⌊r·h/8⌋, ⌊(r+1)·h/8⌋) — the whole image partitions
    * exactly, any w ≥ 9, h ≥ 8), then bit r·8+c = grid[r][c+1] >
    * grid[r][c]. Grayscale is the channel sum (r+g+b) — comparing
    * equal-weight sums orders identically to comparing means, and the
    * fixture's gray payloads make any standard luma weighting exact.
    */
  private def dHashOf(img: java.awt.image.BufferedImage): Option[Long] = {
    val w = img.getWidth; val h = img.getHeight
    if (w < 9 || h < 8) return None
    val grid = Array.ofDim[Double](8, 9)
    var r = 0
    while (r < 8) {
      val y0 = r * h / 8; val y1 = (r + 1) * h / 8
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        grid(r)(c) = sum.toDouble / ((y1 - y0).toLong * (x1 - x0))
        c += 1
      }
      r += 1
    }
    var bits = 0L
    var j = 0
    while (j < 64) {
      if (grid(j / 8)(j % 8 + 1) > grid(j / 8)(j % 8)) bits |= 1L << j
      j += 1
    }
    Some(bits)
  }

  /** Perceptual dHash per image payload through the partition-batched codec
    * seam — the [[extractFeatures]] discipline (sniffed container, one
    * cached `ImageReader` per format per partition), but with a FULL pixel
    * decode (`reader.read(0)`): the hash is a function of the pixels, so
    * this is the seam's first pixel-consuming operator. Rows whose payload
    * is not a decodable ≥9×8 image are dropped (a perceptual hash has no
    * honest stub value; a poisoned row must not kill a 100 TB scan).
    */
  def dHash(media: DataFrame): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        val readers =
          scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]
        def readerFor(fmt: String) = readers.getOrElseUpdate(fmt,
          javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next())
        rows.flatMap { r =>
          sniffFormat(r.payload).flatMap { fmt =>
            try {
              val reader = readerFor(fmt)
              val iis = javax.imageio.ImageIO.createImageInputStream(
                new java.io.ByteArrayInputStream(r.payload))
              try {
                reader.setInput(iis)
                dHashOf(reader.read(0)).map(ImageHash(r.media_id, _))
              } finally { reader.setInput(null); iis.close() }
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        }
      }
  }

  /** The a-priori-known dHash of [[dhashMediaTable]]'s image for `id` —
    * shared by the fixture generator (which PAINTS it into pixels) and the
    * oracle (which replays the same arithmetic in SQL, never touching
    * bytes). Groups of 4 consecutive ids share an md5-derived 60-bit base
    * pattern (bits 60-63 stay 0, keeping the hash non-negative in every
    * engine); member id%4 flips a designed set of bits:
    *   - member 0: none (the original),
    *   - member 1: 2 bits — inside the Hamming≤3 near-dup threshold,
    *   - member 2: 6 consecutive bits — outside it (and ≥4 from member 1
    *     whatever the overlap),
    *   - member 3: 30 alternating bits — far from everything.
    * So each group contributes exactly its (0,1) pair, and the expected
    * pair relation is pure id arithmetic.
    */
  private[graft] def designedDHash(id: Long): Long = {
    require(id >= 0, s"designedDHash needs a non-negative id, got $id")
    val g = id / 4
    val hex = MessageDigest.getInstance("MD5")
      .digest(g.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    val mask = (id % 4) match {
      case 0 => 0L
      case 1 => (1L << ((2 * g) % 60)) | (1L << ((2 * g + 31) % 60))
      case 2 => 63L << ((3 * g) % 54)
      case _ => 0x555555555555555L << (g % 2)
    }
    base ^ mask
  }

  /** A media table of GENUINE PNG payloads whose dHash is known a priori:
    * the image is a 9-col × 8-row grid of uniform `cs`×`cs` cells
    * (cs = 4 + id mod 5), each row's brightness walking ±10 from 128 so
    * that cell comparisons reproduce [[designedDHash]] exactly — margins
    * of 10 gray levels and exact cell-aligned box regions make the decoded
    * hash bit-identical, so the only way the engine matches the oracle is
    * a real pixel decode. Same fanned mapPartitions seam as the other
    * media tables.
    */
  def dhashMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(paintDesigned(id), "png", out)
          (id, "image/png", out.toByteArray)
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Paint [[designedDHash]]`(id)` as a 9×8 grid of uniform cells
    * (cs = 4 + id mod 5 pixels each; brightness walks ±10 from 128 per
    * designed bit) — shared by the PNG image fixture and the MJPEG video
    * fixture, whose frames carry the same pattern.
    */
  private def paintDesigned(id: Long): java.awt.image.BufferedImage = {
    val h = designedDHash(id)
    val cs = (4L + id % 5L).toInt
    val img = new java.awt.image.BufferedImage(
      9 * cs, 8 * cs, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var r = 0
    while (r < 8) {
      var b = 128
      var c = 0
      while (c < 9) {
        val v = (b << 16) | (b << 8) | b
        var y = r * cs
        while (y < (r + 1) * cs) {
          var x = c * cs
          while (x < (c + 1) * cs) { img.setRGB(x, y, v); x += 1 }
          y += 1
        }
        // walk toward the NEXT cell: bit j set ⇒ brighter by 10
        if (c < 8) {
          val j = r * 8 + c
          b += (if (((h >> j) & 1L) == 1L) 10 else -10)
        }
        c += 1
      }
      r += 1
    }
    img
  }

  case class AudioFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      sample_rate: Long,
      channels: Long,
      n_frames: Long)

  /** RIFF/WAVE container signature: "RIFF" at 0, "WAVE" at 8. */
  private def hasRiffWave(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  private def leU32(p: Array[Byte], off: Int): Long =
    (p(off) & 0xFFL) | ((p(off + 1) & 0xFFL) << 8) |
      ((p(off + 2) & 0xFFL) << 16) | ((p(off + 3) & 0xFFL) << 24)

  private def leU16(p: Array[Byte], off: Int): Int =
    (p(off) & 0xFF) | ((p(off + 1) & 0xFF) << 8)

  /** Hand-rolled RIFF/WAVE header parse → (sampleRate, channels, frames).
    *
    * Replaces `AudioSystem.getAudioFileFormat` in the codec seam:
    * javax.sound resolves a provider from its registry PER CALL, and
    * a concurrency A/B (BASELINE.md "r13: audio codec de-serialization")
    * measured that registry SERIALIZING on the encode side — on a 32-core
    * executor a registry-locked decode path runs at 1-core speed, the exact
    * shape that quietly caps a multimodal ingest. The RIFF layout is
    * fixed-offset chunk walking (id + LE u32 size, even-padded): "fmt "
    * carries channels@+10, rate@+12, blockAlign@+20; "data"'s size /
    * blockAlign is the frame count (what `AudioFileFormat.getFrameLength`
    * reports for WAVE).
    * Pure byte arithmetic — no locks, no allocation beyond the tuple —
    * so it fans across partitions like the image decoders. Returns None
    * on anything malformed (a poisoned row must not kill a 100 TB scan);
    * parity with the javax decode is property-pinned in MultimodalSpec.
    */
  private[graft] def parseWavHeader(p: Array[Byte]): Option[(Long, Long, Long)] = {
    if (!hasRiffWave(p)) return None
    var off = 12L
    var rate = -1L; var ch = -1; var blockAlign = -1; var dataSize = -1L
    while (off + 8 <= p.length && (rate < 0 || dataSize < 0)) {
      val o = off.toInt
      val id = new String(p, o, 4, "US-ASCII")
      val size = leU32(p, o + 4)
      // fmt must DECLARE the 16 PCM header bytes (a smaller declared size
      // would make us read the next chunk's bytes as format fields), the
      // bytes must be present, and only the FIRST fmt chunk counts (javax
      // honors the first; a duplicate must not overwrite it). A malformed
      // FIRST fmt rejects the file outright — javax would refuse it, and
      // continuing the walk would let a later well-formed fmt be honored
      // instead, silently diverging from that parity contract.
      if (id == "fmt " && rate < 0) {
        if (size < 16 || off + 24 > p.length) return None
        ch = leU16(p, o + 10)
        rate = leU32(p, o + 12)
        blockAlign = leU16(p, o + 20)
      } else if (id == "data" && dataSize < 0) { // first data chunk wins too
        // cap at the bytes actually present: a truncated payload (or the
        // 0xFFFFFFFF streaming-length sentinel) must not inflate frames
        dataSize = math.min(size, p.length - off - 8)
      }
      off += 8 + size + (size & 1L) // chunks pad to even byte boundaries
    }
    if (rate <= 0 || ch <= 0 || blockAlign <= 0 || dataSize < 0) None
    else Some((rate, ch.toLong, dataSize / blockAlign))
  }

  private def decodeWav(r: MediaRow): Option[AudioFeatures] =
    parseWavHeader(r.payload).map { case (rate, ch, frames) =>
      AudioFeatures(r.media_id, r.kind, r.payload.length.toLong,
        rate, ch, frames)
    }

  /** The javax.sound decode the hand-rolled parse replaced — kept for the
    * MultimodalSpec parity pin (A/B in BASELINE.md "r13").
    */
  private[graft] def decodeWavJavax(p: Array[Byte]): Option[(Long, Long, Long)] =
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(p))
      val f = aff.getFormat
      Some((f.getSampleRate.toLong, f.getChannels.toLong,
        aff.getFrameLength.toLong))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL audio header decode through the same partition-batched codec
    * seam as [[extractFeatures]]: payloads whose BYTES carry the RIFF/WAVE
    * signature (sniffed, never trusted from `kind`) are parsed with the
    * JDK's `javax.sound.sampled` — sample rate, channel count and frame
    * length come from the actual container header. Rows that do not sniff
    * as WAV are dropped (audio-specific features have no honest stub
    * value); callers wanting full coverage union this with the generic
    * [[extractFeatures]] surface.
    */
  def extractAudioFeatures(media: DataFrame): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    // the RIFF/WAVE sniff lives inside parseWavHeader (first thing it
    // checks), so non-WAV rows fall out as None without a separate guard
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions(_.flatMap(decodeWav))
  }

  /** Encode a genuine 16-bit PCM WAV (`nFrames` frames of a deterministic
    * byte ramp) — the audio analog of [[synthesizeImage]]: the gate
    * derives (rate, channels, frames) from an id, encodes a real RIFF
    * container, and the decoded header must round-trip.
    */
  def synthesizeWav(sampleRate: Int, channels: Int, nFrames: Int): Array[Byte] = {
    require(sampleRate >= 1 && channels >= 1 && nFrames >= 0,
      s"bad wav params $sampleRate/$channels/$nFrames")
    // Hand-rolled canonical 44-byte PCM header + data, replacing
    // AudioSystem.write: the javax encode serializes on its provider
    // registry under concurrency (5000 synths 0.18 s on one thread, 0.45 s
    // spread over 32; BASELINE.md "r13: audio codec de-serialization"),
    // which forced the WAV table to stay unfanned. The direct writer is lock-free, byte-identical to the
    // javax output for 16-bit LE PCM (spec-pinned), and lets the table
    // fan like the image tables.
    val block = channels * 2 // 16-bit samples
    val dataSize = nFrames * block
    val out = new Array[Byte](44 + dataSize)
    def ascii(off: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def u32(off: Int, v: Long): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def u16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    ascii(0, "RIFF"); u32(4, 36L + dataSize); ascii(8, "WAVE")
    ascii(12, "fmt "); u32(16, 16L); u16(20, 1 /* PCM */); u16(22, channels)
    u32(24, sampleRate.toLong); u32(28, sampleRate.toLong * block)
    u16(32, block); u16(34, 16 /* bits */)
    ascii(36, "data"); u32(40, dataSize.toLong)
    var i = 0
    while (i < dataSize) { out(44 + i) = ((i * 31) & 0x7F).toByte; i += 1 }
    out
  }

  /** The javax.sound encode [[synthesizeWav]] replaced — kept for the
    * byte-identity spec pin (A/B in BASELINE.md "r13").
    */
  private[graft] def synthesizeWavJavax(sampleRate: Int, channels: Int,
      nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val data = new Array[Byte](nFrames * channels * 2)
    var i = 0
    while (i < data.length) { data(i) = ((i * 31) & 0x7F).toByte; i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ------------------------------------------------ audio fingerprinting
  // The audio near-dup leg: re-encoded or padded copies of a clip share no
  // byte checksum but keep their spectral shape. The fingerprint here is a
  // spectral-band sign vector (the Haitsma-Kalker/Shazam family's core
  // idea reduced to one analysis window): radix-2 FFT over the clip's
  // first 128 PCM samples, bit j = power(bin j+1) > power(bin 61). Pairs
  // come from the SAME Hamming banding as images ([[Dedup.hammingPairs]]).

  /** In-place iterative radix-2 Cooley-Tukey FFT (decimation in time,
    * bit-reversal permutation first). Hand-rolled — no JDK FFT exists —
    * and property-pinned against a direct O(n²) DFT in MultimodalSpec.
    * Arrays are (re, im) of a power-of-2 length.
    */
  private[graft] def fft(re: Array[Double], im: Array[Double]): Unit = {
    val n = re.length
    require(n > 0 && (n & (n - 1)) == 0 && im.length == n,
      s"fft needs equal power-of-2 arrays, got ${re.length}/${im.length}")
    var i = 1; var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var blk = 0
      while (blk < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(blk + k); val ui = im(blk + k)
          val vr0 = re(blk + k + len / 2); val vi0 = im(blk + k + len / 2)
          val vr = vr0 * cr - vi0 * ci; val vi = vr0 * ci + vi0 * cr
          re(blk + k) = ur + vr; im(blk + k) = ui + vi
          re(blk + k + len / 2) = ur - vr; im(blk + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi; ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        blk += len
      }
      len <<= 1
    }
  }

  /** Channel-0 16-bit LE PCM samples of a RIFF/WAVE payload — the same
    * fixed-offset chunk walk as [[parseWavHeader]], but returning the
    * decoded samples (capped at `maxFrames`) instead of header facts.
    * None on anything malformed.
    */
  private def wavPcm(p: Array[Byte], maxFrames: Int): Option[Array[Double]] = {
    if (!hasRiffWave(p)) return None
    var off = 12L
    var blockAlign = -1; var bits = -1; var dataOff = -1; var dataLen = -1L
    while (off + 8 <= p.length && (blockAlign < 0 || dataOff < 0)) {
      val o = off.toInt
      val id = new String(p, o, 4, "US-ASCII")
      val size = leU32(p, o + 4)
      if (id == "fmt " && blockAlign < 0) {
        if (size < 16 || off + 24 > p.length) return None
        blockAlign = leU16(p, o + 20)
        bits = leU16(p, o + 22)
      } else if (id == "data" && dataOff < 0) {
        dataOff = o + 8
        dataLen = math.min(size, p.length - off - 8)
      }
      off += 8 + size + (size & 1L)
    }
    if (blockAlign <= 0 || bits != 16 || dataOff < 0) return None
    val frames = math.min((dataLen / blockAlign).toInt, maxFrames)
    if (frames <= 0) return None
    val out = new Array[Double](frames)
    var f = 0
    while (f < frames) {
      val o = dataOff + f * blockAlign
      out(f) = ((p(o) & 0xFF) | (p(o + 1) << 8)).toShort.toDouble
      f += 1
    }
    Some(out)
  }

  /** One spectral fingerprint: 60-bit band-sign vector over the really-
    * decoded, really-transformed PCM. */
  case class AudioFingerprint(media_id: Long, fp: Long)

  /** Spectral fingerprint per WAV payload: channel-0 PCM → 128-point FFT →
    * bit j (0..59) = power(bin j+1) > power(bin 61). Bin 61 is the
    * REFERENCE band: a fixed mid-amplitude tone in the fixture, and for
    * arbitrary audio simply a fixed comparison band (any monotone
    * threshold works for a sign-vector fingerprint; a corpus-adaptive
    * median band would need a second pass). Rows that are not ≥128-frame
    * 16-bit WAVs drop — same posture as [[dHash]]. Pure per-row compute:
    * at 100 TB this is a map over the scan, and pairs come from
    * [[Dedup.hammingPairs]]'s banded collisions.
    */
  def audioFingerprint(media: DataFrame): Dataset[AudioFingerprint] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          wavPcm(r.payload, 128).filter(_.length == 128).map { pcm =>
            val im = new Array[Double](128)
            fft(pcm, im)
            def pow(b: Int) = pcm(b) * pcm(b) + im(b) * im(b)
            val ref = pow(61)
            var bitsOut = 0L
            var j = 0
            while (j < 60) {
              if (pow(j + 1) > ref) bitsOut |= 1L << j
              j += 1
            }
            AudioFingerprint(r.media_id, bitsOut)
          }
        }
      }
  }

  /** A media table of GENUINE WAV payloads whose spectral fingerprint is
    * known a priori — the audio analog of [[dhashMediaTable]], sharing its
    * designed hash family ([[designedDHash]]): the 128-sample mono clip is
    * a sum of exactly-on-bin sinusoids, amplitude 1.0 where bit j is set
    * and 0.25 where clear (bins 1..60), plus the 0.5-amplitude reference
    * tone at bin 61. Integer cycle counts mean zero spectral leakage, so
    * band powers are 16× above or below the reference — margins the
    * 16-bit quantization noise (~10⁻³ relative) cannot flip — and the only
    * way the engine reproduces the bits is a real PCM decode + real FFT.
    */
  def fingerprintWavMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val h = designedDHash(id)
          val pcm = new Array[Short](128)
          var t = 0
          while (t < 128) {
            var s = 0.5 * math.sin(2.0 * math.Pi * 61 * t / 128.0)
            var j = 0
            while (j < 60) {
              val a = if (((h >> j) & 1L) == 1L) 1.0 else 0.25
              s += a * math.sin(2.0 * math.Pi * (j + 1) * t / 128.0)
              j += 1
            }
            // sum of 61 unit-bounded sinusoids: |s| < 64 by construction
            pcm(t) = math.round(s / 64.0 * 32767.0).toShort
            t += 1
          }
          (id, "audio/wav", wavBytesOf(8000, pcm))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Mono 16-bit PCM WAV bytes from explicit samples — the same canonical
    * 44-byte header as [[synthesizeWav]] (which keeps its byte-identity
    * pin against the javax encoder and its deterministic ramp payload).
    */
  private def wavBytesOf(sampleRate: Int, pcm: Array[Short]): Array[Byte] = {
    val dataSize = pcm.length * 2
    val out = new Array[Byte](44 + dataSize)
    def ascii(off: Int, s: String): Unit = {
      var i = 0; while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def u32(off: Int, v: Long): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    def u16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    ascii(0, "RIFF"); u32(4, 36L + dataSize); ascii(8, "WAVE")
    ascii(12, "fmt "); u32(16, 16L); u16(20, 1 /* PCM */); u16(22, 1)
    u32(24, sampleRate.toLong); u32(28, sampleRate.toLong * 2)
    u16(32, 2); u16(34, 16 /* bits */)
    ascii(36, "data"); u32(40, dataSize.toLong)
    var i = 0
    while (i < pcm.length) {
      out(44 + 2 * i) = (pcm(i) & 0xFF).toByte
      out(45 + 2 * i) = ((pcm(i) >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** A media table of GENUINE WAV payloads with id-derived header facts
    * (rate = 8000 + (id mod 8)·1000, channels = 1 + id mod 2,
    * frames = 500 + 13·id mod 2000) — the oracle knows them a priori; the
    * engine reproduces them only by really parsing the RIFF header.
    */
  def wavMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Fanned like the image tables: with the hand-rolled PCM writer and
    // RIFF parse both lock-free (the javax registry serialization that
    // forced this table single-threaded is gone), the encode+decode seam
    // scales with cores again.
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val rate = (8000L + (id % 8L) * 1000L).toInt
          val ch = (1L + id % 2L).toInt
          val frames = (500L + (id * 13L) % 2000L).toInt
          (id, "audio/wav", synthesizeWav(rate, ch, frames))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  /** Expression fast path for the STUB decode: the same features as
    * [[extractFeatures]] (asserted equal by MultimodalSpec), computed with
    * built-in codegen'd expressions — no row deserialization, no codegen
    * break, payload pruned right at the scan. Use until a real codec
    * replaces [[decodeStub]]; the schema is identical so callers swap
    * freely. `explode(array(md5))` is a Generate barrier pinning the digest
    * to one evaluation across the four features derived from it.
    */
  def extractFeaturesExpr(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        explode(array(md5(col("payload")))).as("checksum"))
      .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
        (conv(substring(col("checksum"), 1, 4), 16, 10).cast("long") % 4080L + 16L)
          .cast("int").as("width"),
        (conv(substring(col("checksum"), 5, 4), 16, 10).cast("long") % 2144L + 16L)
          .cast("int").as("height"),
        when(col("kind") === "video/mp4",
            (conv(substring(col("checksum"), 9, 4), 16, 10).cast("long") % 600L + 1L)
              .cast("int"))
          .otherwise(lit(1)).as("n_frames"))

  /** Resize plan for image/video rows: fit each media's (width, height)
    * into a `box`×`box` bounding box preserving aspect ratio (integer
    * floor, never upscale) — the sizing arithmetic of a thumbnail/vision-
    * preprocessing stage, computed as exact integer expressions so the plan
    * is engine-reproducible. The payload re-encode itself is the same stub
    * seam as [[decodeStub]]: a real pipeline would map the payload through
    * a codec here; the PLAN (which rows, what target dims) is the
    * Spark-side deliverable.
    */
  def resizePlan(features: DataFrame, box: Int): DataFrame = {
    require(box >= 1, s"bounding box must be >= 1, got $box")
    val w = col("width").cast("long")
    val h = col("height").cast("long")
    val longest = greatest(w, h)
    val needs = longest > box
    features
      .filter(col("kind").isin("image/png", "video/mp4"))
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        when(needs, (w * box / longest).cast("int")).otherwise(col("width"))
          .as("target_w"),
        when(needs, (h * box / longest).cast("int")).otherwise(col("height"))
          .as("target_h"),
        needs.as("resized"))
  }

  /** Frame sampling plan for multi-frame rows: every `stride`-th frame
    * index as a (media_id, frame_no) row — the explode-side of a
    * decode-then-sample pipeline, kept narrow so the payload never
    * re-shuffles. `kinds` selects which containers sample (videos by
    * default; pass `image/gif` for the animated-GIF leg).
    */
  def sampleFrames(features: Dataset[_], stride: Int,
      kinds: Seq[String] = Seq("video/mp4")): DataFrame =
    features.toDF()
      .filter(col("kind").isin(kinds: _*))
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1,
          lit(stride))).as("frame_no"))

  // --------------------------------------------------- video (MJPEG-in-AVI)
  // A true multi-frame VIDEO container with zero dependencies: AVI is the
  // same RIFF layout the WAV codec already owns (id + LE u32 size,
  // even-padded chunks), and MJPEG stream data is plain JPEG per frame —
  // decodable by the JDK's ImageIO reader the image seam already caches.
  // MP4/H.264 stays undecodable without native codecs; this is the honest
  // zero-dep video leg (reference scope: the demo pipeline has no media
  // decode at all — this extends the training-data surface).

  /** One decoded (sampled) video frame: container facts + the frame's OWN
    * header dimensions as read from its JPEG bytes — equality of
    * (width, height) and (frame_w, frame_h) is what proves the per-frame
    * decode really ran.
    */
  case class VideoFrame(
      media_id: Long,
      kind: String,
      width: Long,
      height: Long,
      n_frames: Long,
      frame_no: Long,
      frame_w: Long,
      frame_h: Long)

  /** RIFF/AVI container signature: "RIFF" at 0, "AVI " at 8. */
  private def hasRiffAvi(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

  /** Hand-rolled AVI container walk → (width, height, frame chunk
    * offsets/sizes). Same fixed-offset RIFF arithmetic as
    * [[parseWavHeader]], plus the LIST recursion AVI needs: `LIST` chunks
    * carry a 4-byte list type then sub-chunks; dimensions come from the
    * `avih` MainAVIHeader (dwWidth@+32, dwHeight@+36) inside `LIST hdrl`,
    * and the frame count is recovered by WALKING the `LIST movi` stream
    * chunks (`..dc`/`..db` compressed/uncompressed video data) — the
    * [[https://learn.microsoft.com/en-us/windows/win32/directshow/avi-riff-file-reference public AVI RIFF layout]],
    * counted like the GIF image-block walk rather than trusted from the
    * header's dwTotalFrames (a hostile header must not inflate the frame
    * list past the bytes actually present). Returns None on anything
    * malformed — a poisoned row must not kill a 100 TB scan.
    */
  private[graft] def parseAvi(p: Array[Byte])
      : Option[(Int, Int, Vector[(Int, Int)])] = {
    if (!hasRiffAvi(p)) return None
    var width = -1; var height = -1
    val frames = Vector.newBuilder[(Int, Int)]
    def walk(from: Long, to: Long, inMovi: Boolean): Unit = {
      var off = from
      while (off + 8 <= to) {
        val o = off.toInt
        val id = new String(p, o, 4, "US-ASCII")
        val size = leU32(p, o + 4)
        val end = math.min(off + 8 + size, to)
        if (id == "LIST" && size >= 4) {
          val listType = new String(p, o + 8, 4, "US-ASCII")
          // only the lists on the path to the facts are entered; unknown
          // lists (odml, INFO) skip as opaque chunks
          if (listType == "hdrl" || listType == "strl" || listType == "movi")
            walk(off + 12, end, inMovi || listType == "movi")
        } else if (id == "avih" && size >= 40 && off + 48 <= p.length
            && width < 0) { // first avih wins, like the WAV fmt rule
          width = leU32(p, o + 8 + 32).toInt
          height = leU32(p, o + 8 + 36).toInt
        } else if (inMovi && (id.endsWith("dc") || id.endsWith("db"))) {
          // stream-data chunk INSIDE `LIST movi` only — a `..dc`-named
          // chunk at the top level or inside hdrl/strl is a hostile or
          // corrupt container, never a frame. Cap at the bytes present
          // within the ENCLOSING list (`to`), so a frame declared past
          // its list's end can't read trailing sibling chunks as pixels:
          // truncated payload → truncated frame list, not a lie.
          val avail = math.min(size, to - off - 8)
          if (avail > 0) frames += ((o + 8, avail.toInt))
        }
        off += 8 + size + (size & 1L) // even-padded, like every RIFF chunk
      }
    }
    walk(12L, p.length.toLong, inMovi = false)
    val fs = frames.result()
    if (width <= 0 || height <= 0 || fs.isEmpty) None
    else Some((width, height, fs))
  }

  /** REAL video decode through the partition-batched codec seam: payloads
    * whose BYTES carry the RIFF/AVI signature are container-walked
    * ([[parseAvi]]), then every `stride`-th frame's JPEG bytes are decoded
    * (header-only, one cached ImageIO reader per partition — the
    * [[extractFeatures]] discipline) for the frame's own dimensions. The
    * decode-then-sample pipeline over a real video container: narrow rows
    * out, payload pruned at the scan boundary, no codec lock anywhere.
    * Non-AVI rows are dropped (video features have no honest stub value).
    */
  def extractVideoFrames(media: DataFrame, stride: Int = 2): Dataset[VideoFrame] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        lazy val jpeg =
          javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
        rows.flatMap { r =>
          parseAvi(r.payload).iterator.flatMap { case (w, h, chunks) =>
            (0 until chunks.size by stride).iterator.flatMap { i =>
              val (foff, flen) = chunks(i)
              try {
                val iis = javax.imageio.ImageIO.createImageInputStream(
                  new java.io.ByteArrayInputStream(r.payload, foff, flen))
                try {
                  jpeg.setInput(iis)
                  Some(VideoFrame(r.media_id, r.kind, w.toLong, h.toLong,
                    chunks.size.toLong, i.toLong,
                    jpeg.getWidth(0).toLong, jpeg.getHeight(0).toLong))
                } finally { jpeg.setInput(null); iis.close() }
              } catch { case scala.util.control.NonFatal(_) => None }
            }
          }
        }
      }
  }

  /** Encode a genuine MJPEG-in-AVI container: RIFF('AVI ') with the
    * canonical `hdrl` (MainAVIHeader + one video `strl`) and a `movi`
    * list of one JPEG `00dc` chunk per frame (deterministic per-frame
    * gradient, so frames differ). The video analog of [[synthesizeWav]]:
    * byte-level writer, no codec registry, fans lock-free.
    */
  def synthesizeAvi(width: Int, height: Int, nFrames: Int): Array[Byte] = {
    require(width >= 1 && height >= 1 && nFrames >= 1,
      s"bad avi params ${width}x$height f=$nFrames")
    val jpegs = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, ((x * 31 + y * 17 + f * 47) & 0xFFFFFF))
          x += 1
        }
        y += 1
      }
      val bo = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpeg", bo)
      bo.toByteArray
    }
    aviFromJpegs(width, height, jpegs)
  }

  /** The MJPEG-AVI container writer behind [[synthesizeAvi]], taking
    * pre-encoded JPEG frames — lets fixtures control the pixel content
    * (the video near-dup table paints designed dHash patterns).
    */
  private[graft] def aviFromJpegs(width: Int, height: Int,
      jpegs: Seq[Array[Byte]]): Array[Byte] = {
    require(width >= 1 && height >= 1 && jpegs.nonEmpty,
      s"bad avi params ${width}x$height f=${jpegs.size}")
    val nFrames = jpegs.size
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = { out.write(s.getBytes("US-ASCII")) }
    def u32(v: Long): Unit = {
      out.write((v & 0xFF).toInt); out.write(((v >> 8) & 0xFF).toInt)
      out.write(((v >> 16) & 0xFF).toInt); out.write(((v >> 24) & 0xFF).toInt)
    }
    def bytes(write: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream(); write(b); b.toByteArray
    }
    def bu32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
      b.write((v & 0xFF).toInt); b.write(((v >> 8) & 0xFF).toInt)
      b.write(((v >> 16) & 0xFF).toInt); b.write(((v >> 24) & 0xFF).toInt)
    }
    // MainAVIHeader (56 bytes): µs/frame, maxBytesPerSec, padding, flags,
    // totalFrames, initialFrames, streams, bufSize, WIDTH, HEIGHT, 4 reserved
    val avih = bytes { b =>
      Seq(33333L, 0L, 0L, 0L, nFrames.toLong, 0L, 1L, 0L,
        width.toLong, height.toLong, 0L, 0L, 0L, 0L).foreach(bu32(b, _))
    }
    // AVIStreamHeader (56 bytes): 'vids'/'MJPG', then rate 30/1 etc.
    val strh = bytes { b =>
      b.write("vids".getBytes("US-ASCII")); b.write("MJPG".getBytes("US-ASCII"))
      Seq(0L, 0L, 0L, 1L /*scale*/, 30L /*rate*/, 0L, nFrames.toLong, 0L,
        0L, 0L).foreach(bu32(b, _))
      Seq(0, 0, width, height).foreach(v => { // rcFrame as 4 × u16
        b.write(v & 0xFF); b.write((v >> 8) & 0xFF)
      })
    }
    // BITMAPINFOHEADER (40 bytes) with biCompression = 'MJPG'
    val strf = bytes { b =>
      bu32(b, 40L); bu32(b, width.toLong); bu32(b, height.toLong)
      b.write(1); b.write(0); b.write(24); b.write(0) // planes=1, bpp=24
      b.write("MJPG".getBytes("US-ASCII"))
      Seq(0L, 0L, 0L, 0L, 0L).foreach(bu32(b, _))
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] = bytes { b =>
      b.write("LIST".getBytes("US-ASCII")); bu32(b, 4L + body.length)
      b.write(listType.getBytes("US-ASCII")); b.write(body)
    }
    def subChunk(id: String, body: Array[Byte]): Array[Byte] = bytes { b =>
      b.write(id.getBytes("US-ASCII")); bu32(b, body.length.toLong)
      b.write(body)
      if ((body.length & 1) == 1) b.write(0)
    }
    val strl = list("strl", subChunk("strh", strh) ++ subChunk("strf", strf))
    val hdrl = list("hdrl", subChunk("avih", avih) ++ strl)
    val movi = list("movi", jpegs.flatMap(j => subChunk("00dc", j)).toArray)
    val payload = hdrl ++ movi
    ascii("RIFF"); u32(4L + payload.length); ascii("AVI ")
    out.write(payload)
    out.toByteArray
  }

  /** A media table of GENUINE MJPEG-AVI payloads with id-derived facts
    * (width = 16 + id mod 48, height = 16 + 3·id mod 32,
    * frames = 1 + id mod 6) — the oracle knows all three a priori; the
    * engine reproduces them only by really walking the RIFF container and
    * decoding the sampled JPEG frames. Fanned like the other media tables.
    */
  def aviMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (16L + id % 48L).toInt
          val h = (16L + (id * 3L) % 32L).toInt
          val frames = (1L + id % 6L).toInt
          (id, "video/avi", synthesizeAvi(w, h, frames))
        }
      }
      .toDF("media_id", "kind", "payload")
  }

  // ------------------------------------------------- video fingerprinting
  // The video near-dup leg, completing the multimodal dedup square
  // (text/image/audio/video): re-encoded or re-containered copies of a
  // clip keep their frames' perceptual content. Fingerprint = per-bit
  // STRICT MAJORITY of the sampled frames' dHashes — one corrupted or
  // intro frame cannot flip a stable clip's bits, and for the fixture
  // (identical designed frames) the majority equals the per-frame hash.

  /** One clip fingerprint: bit-majority dHash over the clip's really-
    * decoded sampled frames, plus how many frames voted. */
  case class VideoFingerprint(media_id: Long, fp: Long, n_sampled: Long)

  /** Perceptual clip fingerprint over a RIFF/AVI payload: the container
    * walk ([[parseAvi]]), a FULL JPEG pixel decode of every `stride`-th
    * frame (one cached reader per partition — the codec-seam discipline),
    * a [[dHash]]-style 9×8 box-average difference hash per frame, then a
    * per-bit strict majority across the sampled frames (ties → 0). Clips
    * with no decodable sampled frame drop. Row-local compute; pairs come
    * from [[Dedup.hammingPairs]] exactly like the image and audio legs.
    */
  def videoFingerprint(media: DataFrame, stride: Int = 1): Dataset[VideoFingerprint] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.selectExpr("media_id", "kind", "payload").as[MediaRow]
      .mapPartitions { rows =>
        lazy val jpeg =
          javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
        rows.flatMap { r =>
          parseAvi(r.payload).flatMap { case (_, _, chunks) =>
            val counts = new Array[Int](64)
            var voted = 0
            (0 until chunks.size by stride).foreach { i =>
              val (foff, flen) = chunks(i)
              try {
                val iis = javax.imageio.ImageIO.createImageInputStream(
                  new java.io.ByteArrayInputStream(r.payload, foff, flen))
                try {
                  jpeg.setInput(iis)
                  dHashOf(jpeg.read(0)).foreach { h =>
                    voted += 1
                    var j = 0
                    while (j < 64) {
                      if (((h >> j) & 1L) == 1L) counts(j) += 1
                      j += 1
                    }
                  }
                } finally { jpeg.setInput(null); iis.close() }
              } catch { case scala.util.control.NonFatal(_) => () }
            }
            if (voted == 0) None
            else {
              var fp = 0L
              var j = 0
              while (j < 64) {
                if (2 * counts(j) > voted) fp |= 1L << j
                j += 1
              }
              Some(VideoFingerprint(r.media_id, fp, voted.toLong))
            }
          }
        }
      }
  }

  /** A media table of GENUINE MJPEG-AVI payloads whose clip fingerprint is
    * known a priori: 1 + id mod 3 frames, every frame painted with the
    * SAME designed dHash cell pattern as [[dhashMediaTable]] (cs = 4 +
    * id mod 5), JPEG-encoded into a real container — a JpegProbe sweep
    * confirmed the ±10 cell margins survive the default-quality JPEG
    * round-trip bit-exactly for every id at the gated scales, so the
    * majority fingerprint equals [[designedDHash]] and the oracle replays
    * it as pure id arithmetic. Only a real container walk + real
    * per-frame pixel decode matches.
    */
  def dhashAviMediaTable(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Scans.fanToParallelism(
        df.select(col(idCol).cast("long").as("media_id"))).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val img = paintDesigned(id)
          val bo = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpeg", bo)
          val frame = bo.toByteArray
          val nFrames = (1L + id % 3L).toInt
          (id, "video/avi",
            aviFromJpegs(img.getWidth, img.getHeight, Seq.fill(nFrames)(frame)))
        }
      }
      .toDF("media_id", "kind", "payload")
  }
}
