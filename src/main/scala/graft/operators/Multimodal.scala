package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns (north star): image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode / feature-extract / resize /
  * frame-sample operators.
  *
  * IMAGE decode is REAL (`javax.imageio` ships in the JDK):
  * [[ImageDecoder]] mean-pools RGB strips of an actual decoded raster,
  * [[resize]] re-encodes decodable payloads through `Graphics2D`, and
  * the `multimodal_pixels` oracle query round-trips a real PNG per row
  * (encode → distributed ImageIO decode → integer pixel stats DuckDB
  * recomputes from the source bytes). AUDIO decode is REAL too
  * (`javax.sound.sampled`, same JDK module): [[WavDecoder]] /
  * [[audioStatsQuery]] round-trip 16-bit PCM WAVs the same way. VIDEO
  * is REAL as of round 6: [[graft.sources.AviCodec]] walks genuine
  * RIFF/AVI containers and [[VideoDecoder]] decodes MJPEG frames via
  * `ImageIO` (JPEG ships in the JDK) and uncompressed DIB frames
  * straight from the buffer — [[videoFramesQuery]] /
  * [[videoPixelStatsQuery]] round-trip multi-frame files per row.
  * [[StubDecoder]] remains only as the fallback for OPAQUE payloads
  * (codecs the JDK lacks, e.g. H.264), keeping the pluggable seam.
  *
  * Scale posture: media rows are large (MBs); every operator is a narrow
  * mapPartitions (no shuffle of binary payloads, decoder init amortized
  * per partition), and feature extraction projects the payload away as
  * early as possible so downstream stages move only small vectors.
  */
object Multimodal {

  /** One media asset: payload + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Extracted features: payload dropped, small fixed-width vector. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
                           fingerprint: Long, features: Array[Float])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false)))

  /** Pluggable per-partition decoder; deterministic for given bytes. */
  trait Decoder extends Serializable {
    def features(payload: Array[Byte], dim: Int): Array[Float]
  }

  /** Fallback decoder for OPAQUE payloads — formats no JDK codec
    * decodes (H.264, …) and the text-bytes fixture. Real decoders:
    * [[ImageDecoder]], [[WavDecoder]], [[VideoDecoder]]. Deterministic:
    * derives `dim` floats from a rolling hash of the payload so tests
    * are hermetic and repeatable. */
  object StubDecoder extends Decoder {
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      var h = 1125899906842597L
      val out = new Array[Float](dim)
      var i = 0
      while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
      var j = 0
      while (j < dim) {
        h = h * 6364136223846793005L + 1442695040888963407L
        out(j) = ((h >>> 40).toInt % 1000) / 1000.0f
        j += 1
      }
      out
    }
  }

  /** REAL image decoder (`javax.imageio`): decode the payload, split the
    * raster into `dim` vertical strips, mean-pool (r+g+b)/(3·255) per
    * strip. Throws on undecodable bytes — callers route that through the
    * per-row error channel or pick [[StubDecoder]] for non-image media. */
  object ImageDecoder extends Decoder {
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val img = graft.sources.MediaCodec.readImage(payload)
      if (img == null) throw new IllegalArgumentException("not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      // integer sums, one division at the end: deterministic across runs
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val strip = math.min(dim - 1, x * dim / w)
          val rgb = img.getRGB(x, y)
          sums(strip) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          counts(strip) += 1
          x += 1
        }
        y += 1
      }
      val out = new Array[Float](dim)
      var s = 0
      while (s < dim) {
        out(s) = if (counts(s) == 0) 0f
                 else (sums(s).toDouble / (counts(s) * 3.0 * 255.0)).toFloat
        s += 1
      }
      out
    }
  }

  /** Deterministic grayscale PNG: pixel (y,x) = bytes[(y·w + x) mod n].
    * The JDK PNG writer is deterministic for a fixed raster, and the
    * pixel values are recomputable from the source bytes alone — which
    * is what lets a SQL oracle check a REAL encode→decode round trip. */
  def buildGrayPng(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(bytes.nonEmpty, "empty payload")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0, bytes(((y * w + x) % bytes.length).toInt) & 0xff)
        x += 1
      }
      y += 1
    }
    graft.sources.MediaCodec.writePng(img)
  }

  /** Synthesize a deterministic media table from the documents fixture
    * (text bytes standing in for undecodable media payloads). */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // loadWide: the whole point of the mapPartitions decoders is
    // per-partition parallelism — a single-file fixture scan would run
    // them on 1 of 32 cores
    graft.Tables.loadWide(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val kind = (id % 3) match {
          case 0 => "image"; case 1 => "audio"; case _ => "video"
        }
        MediaRow(id, kind, text.getBytes("UTF-8"),
          width = 64 + (id % 8).toInt * 16, height = 48 + (id % 5).toInt * 16,
          sample_rate = if (kind == "audio") 16000 else 0)
      }
  }

  /** Feature extraction: decode → fixed-dim float vector; payload is
    * projected away (the 100 TB rule: drop the heavy column at the
    * earliest stage). One decoder per partition. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int = 8,
                      decoder: Decoder = StubDecoder): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // decoder init happens once per partition here (stub is a no-op,
      // a codec impl would allocate its native context)
      rows.map { m =>
        var h = 0L
        var i = 0
        while (i < m.payload.length) { h = (h * 31 + m.payload(i)) % 1000000007L; i += 1 }
        MediaFeatures(m.media_id, m.kind, m.payload.length, h,
          decoder.features(m.payload, dim))
      }
    }
  }

  /** Oracle-checkable feature extraction: the scalar outputs (byte count,
    * content fingerprint) — the stub's float vector is an LCG over 64-bit
    * wrap-around, deliberately not re-expressed in SQL. Fingerprint uses
    * the engine-wide polynomial hash; the fixture is pure ASCII so
    * byte-wise and codepoint-wise hashing coincide (asserted by the
    * oracle itself: a non-ASCII byte would hash-mismatch). */
  def featuresQuery(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir))
      .select(col("media_id"), col("kind"), col("n_bytes"), col("fingerprint"))
      .orderBy(col("media_id"))
  def featuresOracleSql: String =
    s"""SELECT doc_id AS media_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        CAST(length(text) AS INT) AS n_bytes,
        ${Dedup.chashSql("text")} AS fingerprint
        FROM documents"""

  /** Oracle-checkable frame sampling over the video rows. */
  def framesQuery(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(spark, dir))
      .orderBy(col("media_id"), col("frame_idx"))
  def framesOracleSql(frameBytes: Int = 32, stride: Int = 4): String =
    s"""WITH v AS (SELECT doc_id, length(text) AS n FROM documents WHERE doc_id % 3 = 2)
        SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          CAST(least($frameBytes, n - i*$frameBytes) AS INT) AS frame_bytes
        FROM v, unnest(generate_series(0, CAST(ceil(n / $frameBytes.0) AS BIGINT) - 1)) t(i)
        WHERE i % $stride = 0"""

  /** Resize image rows. Decodable payloads are REALLY rescaled
    * (`Graphics2D.drawImage` bilinear) and re-encoded as PNG;
    * undecodable payloads (the text-bytes fixture, a corrupt upload)
    * keep their bytes and get the metadata update only — per-row
    * degradation, never a batch failure. Narrow map, payload never
    * shuffles. */
  def resize(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.map { m =>
      if (m.kind != "image") m
      else {
        val img =
          if (m.payload == null) null
          else graft.sources.MediaCodec.readImage(m.payload)
        if (img == null) m.copy(width = w, height = h)
        else {
          val scaled = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = scaled.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, w, h, null)
          } finally g.dispose()
          m.copy(payload = graft.sources.MediaCodec.writePng(scaled),
            width = w, height = h)
        }
      }
    }
  }

  /** Oracle-checkable REAL image round trip: image rows render their
    * text bytes into an actual grayscale PNG ([[buildGrayPng]]), a
    * distributed `ImageIO.read` decodes it back, and the query emits
    * integer pixel statistics — sum, count, min, max — that DuckDB
    * recomputes from the characters alone (fixture is pure ASCII, so
    * byte == codepoint; a non-ASCII byte would hash-mismatch the gate).
    * Everything is integer arithmetic: no fp hazard across engines.
    * Scale shape: narrow map (encode) → narrow mapPartitions (decode);
    * the payload never shuffles and dies before the orderBy. */
  def pixelStatsQuery(spark: SparkSession, dir: String,
                      w: Int = 16, h: Int = 4): DataFrame = {
    import spark.implicits._
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 0 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, buildGrayPng(text.getBytes(java.nio.charset.StandardCharsets.UTF_8), w, h))
      }
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val img = graft.sources.MediaCodec.readImage(png)
          val raster = img.getRaster
          var sum = 0L; var mn = 256; var mx = -1; var cnt = 0
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val v = raster.getSample(x, y, 0)
              sum += v; cnt += 1
              if (v < mn) mn = v
              if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          (id, sum, cnt, mn, mx)
        }
      }
      .toDF("media_id", "px_sum", "px_count", "px_min", "px_max")
      .orderBy(col("media_id"))
  }

  /** DuckDB twin of [[pixelStatsQuery]]: pixel (y,x) = code of char
    * ((y·w+x) mod n) — so over w·h pixels each of the first (w·h mod n)
    * chars appears ceil(w·h/n) times and the rest floor(w·h/n) times
    * (n > w·h ⇒ just the first w·h chars once). */
  def pixelStatsOracleSql(w: Int = 16, h: Int = 4): String = {
    val px = w * h
    s"""WITH t AS (
          SELECT doc_id, string_split(text, '') AS chs, length(text) AS n
          FROM documents
          WHERE doc_id % 3 = 0 AND text IS NOT NULL AND length(text) > 0),
        c AS (
          SELECT doc_id, n,
            list_transform(chs, c -> ord(c)) AS codes
          FROM t)
        SELECT doc_id AS media_id,
          CAST(CASE WHEN n >= $px THEN list_sum(list_slice(codes, 1, $px))
               ELSE ($px // n) * list_sum(codes) +
                    coalesce(list_sum(list_slice(codes, 1, $px % n)), 0)
               END AS BIGINT) AS px_sum,
          $px AS px_count,
          CAST(CASE WHEN n >= $px THEN list_min(list_slice(codes, 1, $px))
               ELSE list_min(codes) END AS INT) AS px_min,
          CAST(CASE WHEN n >= $px THEN list_max(list_slice(codes, 1, $px))
               ELSE list_max(codes) END AS INT) AS px_max
        FROM c"""
  }

  /** Frame sampling for video rows: emit every `stride`-th fixed-size
    * chunk of the payload as its own frame row (flatMap — one narrow
    * stage, no shuffle). */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 32,
                   stride: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      m.payload.grouped(frameBytes).zipWithIndex
        .filter(_._2 % stride == 0)
        .map { case (chunk, idx) => (m.media_id, idx, chunk.length) }
    }.toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** Deterministic 16-bit PCM mono WAV: sample i = (byte(i mod n) − 128)
    * · 256 — recomputable from the source bytes alone, the same
    * oracle-checkability trick as [[buildGrayPng]]. Pure JDK: a RIFF
    * header plus little-endian samples. */
  def buildPcm16Wav(bytes: Array[Byte], sampleRate: Int = 16000): Array[Byte] = {
    require(bytes.nonEmpty, "empty payload")
    val dataLen = bytes.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1); bb.putShort(1) // PCM, mono
    bb.putInt(sampleRate); bb.putInt(sampleRate * 2)
    bb.putShort(2); bb.putShort(16) // block align, bits/sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
    var i = 0
    while (i < bytes.length) {
      bb.putShort((((bytes(i) & 0xff) - 128) * 256).toShort)
      i += 1
    }
    bb.array()
  }

  /** REAL WAV decode via `javax.sound.sampled` (in the JDK, like
    * ImageIO): parse the container/format through AudioSystem — NOT a
    * hand-rolled offset into our own bytes — then read the PCM frames.
    * Returns the signed 16-bit samples. */
  def decodeWavSamples(wav: Array[Byte]): Array[Int] = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    try {
      val fmt = ais.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected 16-bit mono PCM, got $fmt")
      val data = ais.readAllBytes()
      val out = new Array[Int](data.length / 2)
      var i = 0
      while (i < out.length) {
        val lo = data(2 * i) & 0xff
        val hi = data(2 * i + 1).toInt
        out(i) = (hi << 8) | lo
        i += 1
      }
      out
    } finally ais.close()
  }

  /** WAV-real audio feature decoder for the [[Decoder]] seam: mean
    * ABSOLUTE amplitude per time strip (integer sums, one division per
    * strip — deterministic), normalized to [0,1]. The audio twin of
    * [[ImageDecoder]]. */
  object WavDecoder extends Decoder {
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val s = decodeWavSamples(payload)
      require(s.nonEmpty, "no samples")
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      var i = 0
      while (i < s.length) {
        // long arithmetic: i * dim overflows Int past ~33M samples/dim=64
        // (a ~35-minute 16 kHz payload — inside this operator's range)
        val strip = math.min(dim - 1, (i.toLong * dim / s.length).toInt)
        sums(strip) += math.abs(s(i).toLong)
        counts(strip) += 1
        i += 1
      }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        out(j) = if (counts(j) == 0) 0f
                 else (sums(j).toDouble / (counts(j) * 32768.0)).toFloat
        j += 1
      }
      out
    }
  }

  /** Oracle-checkable REAL audio round trip (the audio twin of
    * [[pixelStatsQuery]]): audio rows render their text bytes into an
    * actual PCM WAV, a distributed `AudioSystem` decode reads it back,
    * and the query emits integer sample statistics — count, sum, min,
    * max, zero crossings — that DuckDB recomputes from the characters
    * alone. Narrow map → narrow mapPartitions; the payload never
    * shuffles and dies before the orderBy. */
  def audioStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 1 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // the DuckDB oracle derives samples per CHARACTER (ord(c)); the
        // WAV is built per BYTE — these agree only for ASCII text. Fail
        // loud here if a regenerated fixture drifts to non-ASCII, rather
        // than surfacing as an opaque oracle hash mismatch.
        require(text.forall(_ < 128),
          s"audioStatsQuery: non-ASCII text in doc $id breaks the per-character oracle")
        (id, buildPcm16Wav(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      .mapPartitions { rows =>
        rows.map { case (id, wav) =>
          val s = decodeWavSamples(wav)
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var zc = 0L
          var i = 0
          while (i < s.length) {
            sum += s(i)
            if (s(i) < mn) mn = s(i)
            if (s(i) > mx) mx = s(i)
            if (i > 0 && ((s(i - 1) < 0) != (s(i) < 0))) zc += 1
            i += 1
          }
          (id, s.length, sum, mn, mx, zc)
        }
      }
      .toDF("media_id", "n_samples", "s_sum", "s_min", "s_max", "zero_cross")
      .orderBy(col("media_id"))
  }

  /** DuckDB twin of [[audioStatsQuery]]: sample i = (ord(char i) − 128)
    * · 256, one sample per character (fixture is ASCII, so byte ==
    * codepoint — a non-ASCII byte would hash-mismatch the gate). */
  def audioStatsOracleSql: String =
    s"""WITH t AS (
          SELECT doc_id,
                 list_transform(string_split(text, ''), c -> (ord(c) - 128) * 256) AS s,
                 length(text) AS n
          FROM documents
          WHERE doc_id % 3 = 1 AND text IS NOT NULL AND length(text) > 0)
        SELECT doc_id AS media_id,
               CAST(n AS INT) AS n_samples,
               CAST(list_sum(s) AS BIGINT) AS s_sum,
               CAST(list_min(s) AS INT) AS s_min,
               CAST(list_max(s) AS INT) AS s_max,
               CAST(len(list_filter(generate_series(2, n),
                    i -> (s[i-1] < 0) <> (s[i] < 0))) AS BIGINT) AS zero_cross
        FROM t"""

  // ---- video: REAL MJPEG / DIB frames in a real AVI container ----

  private def videoDims(id: Long): (Int, Int) =
    (16 + (id % 4).toInt * 8, 16 + (id % 3).toInt * 8)
  private def videoPixDims(id: Long): (Int, Int) =
    (8 + (id % 3).toInt * 4, 4 + (id % 2).toInt * 2)
  private def videoFrameCount(n: Int): Int = 1 + n % 3

  /** Deterministic grayscale MJPEG-in-AVI: frame f pixel (y,x) = byte
    * ((f·w·h + y·w + x) mod n) — [[buildGrayPng]]'s recipe continued
    * across frames — each frame JPEG-encoded (`ImageIO`, in the JDK)
    * and boxed into a spec-complete RIFF container
    * ([[graft.sources.AviCodec.buildAvi]]). */
  def buildMjpegAvi(bytes: Array[Byte], w: Int, h: Int, nFrames: Int): Array[Byte] = {
    require(bytes.nonEmpty, "empty payload")
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0,
            bytes(((f * w * h + y * w + x) % bytes.length).toInt) & 0xff)
          x += 1
        }
        y += 1
      }
      graft.sources.MediaCodec.writeJpeg(img)
    }
    graft.sources.AviCodec.buildAvi(frames, w, h, "MJPG")
  }

  /** Oracle-checkable REAL video round trip, MJPEG flavor: video rows
    * render their text bytes into an actual multi-frame MJPEG AVI, a
    * distributed RIFF walk + per-frame `ImageIO.read` (JPEG ships in
    * the JDK) decodes it back, and the query emits per-frame facts the
    * decode PROVES — frame count from the container walk, raster
    * dimensions from the decoded JPEG — that DuckDB recomputes from
    * doc_id/length alone. JPEG is lossy, so pixel VALUES are checked by
    * the DIB twin ([[videoPixelStatsQuery]]) and, with tolerance, by
    * the spec; dims and count are exact. Narrow map (encode) → narrow
    * mapPartitions (decode); the payload never shuffles. */
  def videoFramesQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val (w, h) = videoDims(id)
        (id, buildMjpegAvi(
          text.getBytes(java.nio.charset.StandardCharsets.US_ASCII),
          w, h, videoFrameCount(text.length)))
      }
      .mapPartitions { rows =>
        rows.flatMap { case (id, avi) =>
          val s = graft.sources.AviCodec.parseAvi(avi)
          require(s.handler == "MJPG", s"expected MJPG stream, got ${s.handler}")
          s.frames.iterator.zipWithIndex.map { case (frame, idx) =>
            val img = graft.sources.MediaCodec.readImage(frame)
            require(img != null, s"frame $idx of doc $id is not decodable JPEG")
            (id, idx, img.getWidth, img.getHeight)
          }
        }
      }
      .toDF("media_id", "frame_idx", "frame_w", "frame_h")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** DuckDB twin of [[videoFramesQuery]]: dims and frame count are pure
    * functions of doc_id and text length. */
  def videoFramesOracleSql: String =
    s"""WITH v AS (SELECT doc_id, length(text) AS n FROM documents
          WHERE doc_id % 3 = 2 AND text IS NOT NULL AND length(text) > 0)
        SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          CAST(16 + (doc_id % 4) * 8 AS INT) AS frame_w,
          CAST(16 + (doc_id % 3) * 8 AS INT) AS frame_h
        FROM v, unnest(generate_series(0, CAST(1 + n % 3 AS BIGINT) - 1)) t(i)"""

  /** Oracle-checkable REAL video round trip, uncompressed flavor: the
    * same frames as [[videoFramesQuery]] but stored as bottom-up 24-bit
    * DIB buffers in `00db` chunks (the classic uncompressed-AVI
    * layout, `strf.biCompression = BI_RGB`) — LOSSLESS, so the decoded
    * per-frame pixel statistics are exact integers DuckDB recomputes
    * from the characters via circular prefix sums. The decoder takes
    * width/height from the parsed `strf` header, not from the builder's
    * arguments — the container round trip is load-bearing. */
  def videoPixelStatsQuery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"videoPixelStatsQuery: non-ASCII text in doc $id breaks the per-character oracle")
        val (w, h) = videoPixDims(id)
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val frames = (0 until videoFrameCount(text.length)).map { f =>
          graft.sources.AviCodec.buildDibFrame(w, h,
            (y, x) => bytes((f * w * h + y * w + x) % bytes.length) & 0xff)
        }
        (id, graft.sources.AviCodec.buildAvi(frames, w, h, "DIB "))
      }
      .mapPartitions { rows =>
        rows.flatMap { case (id, avi) =>
          val s = graft.sources.AviCodec.parseAvi(avi)
          require(s.compression == 0, s"expected BI_RGB stream, got ${s.compression}")
          s.frames.iterator.zipWithIndex.map { case (frame, idx) =>
            var sum = 0L; var mn = 256; var mx = -1
            var y = 0
            while (y < s.height) {
              var x = 0
              while (x < s.width) {
                val v = graft.sources.AviCodec.dibPixel(frame, s.width, s.height, y, x)
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                x += 1
              }
              y += 1
            }
            (id, idx, s.width, s.height, sum, mn, mx)
          }
        }
      }
      .toDF("media_id", "frame_idx", "frame_w", "frame_h", "px_sum", "px_min", "px_max")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** DuckDB twin of [[videoPixelStatsQuery]]: frame f covers the
    * circular byte window [f·w·h, (f+1)·w·h); its sum is a difference
    * of circular prefix sums F(t) = (t div n)·total + S(t mod n), and
    * min/max split on whether the window wraps. */
  def videoPixelStatsOracleSql: String =
    s"""WITH v AS (
          SELECT doc_id,
                 list_transform(string_split(text, ''), c -> ord(c)) AS codes,
                 length(text) AS n,
                 CAST(8 + (doc_id % 3) * 4 AS INT) AS w,
                 CAST(4 + (doc_id % 2) * 2 AS INT) AS h
          FROM documents
          WHERE doc_id % 3 = 2 AND text IS NOT NULL AND length(text) > 0),
        f AS (
          SELECT doc_id, codes, n, w, h, w * h AS px, CAST(i AS INT) AS frame_idx,
                 (i * w * h) % n AS a
          FROM v, unnest(generate_series(0, CAST(1 + n % 3 AS BIGINT) - 1)) t(i))
        SELECT doc_id AS media_id, frame_idx, w AS frame_w, h AS frame_h,
          CAST(((a + px) // n) * list_sum(codes)
               - coalesce(list_sum(list_slice(codes, 1, a)), 0)
               + coalesce(list_sum(list_slice(codes, 1, (a + px) % n)), 0)
               AS BIGINT) AS px_sum,
          CAST(CASE WHEN px >= n THEN list_min(codes)
               WHEN a + px <= n THEN list_min(list_slice(codes, a + 1, a + px))
               ELSE least(list_min(list_slice(codes, a + 1, n)),
                          list_min(list_slice(codes, 1, (a + px) % n))) END AS INT) AS px_min,
          CAST(CASE WHEN px >= n THEN list_max(codes)
               WHEN a + px <= n THEN list_max(list_slice(codes, a + 1, a + px))
               ELSE greatest(list_max(list_slice(codes, a + 1, n)),
                             list_max(list_slice(codes, 1, (a + px) % n))) END AS INT) AS px_max
        FROM f"""

  /** KEYFRAME DETECTION over the real DIB video path — the frame-
    * sampling op a video-LM training pipeline runs (keep scene changes,
    * drop near-static frames): decode consecutive frames, score each
    * against its predecessor by SAD (sum of absolute per-pixel
    * differences — the block-matching metric video codecs themselves
    * use), and mark a keyframe when mean abs diff exceeds `threshold`
    * gray levels. Frame 0 is always a keyframe (NULL sad — no
    * predecessor). All-integer scoring, so the DuckDB twin recomputes
    * SAD exactly from the characters via the same circular windows.
    * Narrow map (encode) → narrow mapPartitions (decode + score);
    * pixels never shuffle. */
  def videoKeyframesQuery(spark: SparkSession, dir: String,
                          threshold: Int = 28): DataFrame = {
    import spark.implicits._
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        require(text.forall(_ < 128),
          s"videoKeyframesQuery: non-ASCII text in doc $id breaks the per-character oracle")
        val (w, h) = videoPixDims(id)
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val frames = (0 until videoFrameCount(text.length)).map { f =>
          graft.sources.AviCodec.buildDibFrame(w, h,
            (y, x) => bytes((f * w * h + y * w + x) % bytes.length) & 0xff)
        }
        (id, graft.sources.AviCodec.buildAvi(frames, w, h, "DIB "))
      }
      .mapPartitions { rows =>
        rows.flatMap { case (id, avi) =>
          val s = graft.sources.AviCodec.parseAvi(avi)
          require(s.compression == 0, s"expected BI_RGB stream, got ${s.compression}")
          val px = s.width * s.height
          var prev: Array[Int] = null
          s.frames.iterator.zipWithIndex.map { case (frame, idx) =>
            val cur = new Array[Int](px)
            var y = 0
            while (y < s.height) {
              var x = 0
              while (x < s.width) {
                cur(y * s.width + x) =
                  graft.sources.AviCodec.dibPixel(frame, s.width, s.height, y, x)
                x += 1
              }
              y += 1
            }
            val sad: java.lang.Long =
              if (prev == null) null
              else {
                var acc = 0L
                var i = 0
                while (i < px) { acc += math.abs(cur(i) - prev(i)); i += 1 }
                java.lang.Long.valueOf(acc)
              }
            prev = cur
            val isKey = sad == null || sad.longValue > threshold.toLong * px
            (id, idx, sad, isKey)
          }
        }
      }
      .toDF("media_id", "frame_idx", "sad", "is_keyframe")
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** DuckDB twin of [[videoKeyframesQuery]]: frame f's pixel j is
    * codes[1 + (f·px + j) % n], so SAD(f, f-1) is a per-pixel unnest
    * (px <= 96 here) summed per frame — exact integers throughout. */
  def videoKeyframesOracleSql(threshold: Int = 28): String =
    s"""WITH v AS (
          SELECT doc_id,
                 list_transform(string_split(text, ''), c -> ord(c)) AS codes,
                 length(text) AS n,
                 CAST(8 + (doc_id % 3) * 4 AS INT) AS w,
                 CAST(4 + (doc_id % 2) * 2 AS INT) AS h
          FROM documents
          WHERE doc_id % 3 = 2 AND text IS NOT NULL AND length(text) > 0),
        f AS (
          SELECT doc_id, codes, n, w * h AS px, CAST(i AS INT) AS frame_idx
          FROM v, unnest(generate_series(0, CAST(1 + n % 3 AS BIGINT) - 1)) t(i)),
        sads AS (
          SELECT doc_id, frame_idx, px,
            CAST(list_sum(list_transform(generate_series(0, px - 1), j ->
              abs(codes[1 + (frame_idx * px + j) % n]
                  - codes[1 + ((frame_idx - 1) * px + j) % n]))) AS BIGINT) AS sad
          FROM f WHERE frame_idx >= 1),
        all_frames AS (
          SELECT f.doc_id, f.frame_idx, f.px, s.sad
          FROM f LEFT JOIN sads s USING (doc_id, frame_idx))
        SELECT doc_id AS media_id, frame_idx, sad,
          (sad IS NULL OR sad > $threshold * px) AS is_keyframe
        FROM all_frames"""

  /** REAL video feature decoder for the [[Decoder]] seam: RIFF-walk the
    * AVI, decode every frame (MJPEG via `ImageIO`, DIB straight from
    * the buffer), mean-pool (r+g+b)/(3·255) per vertical strip across
    * ALL frames — the video twin of [[ImageDecoder]]/[[WavDecoder]].
    * Integer sums, one division per strip: deterministic. */
  object VideoDecoder extends Decoder {
    def features(payload: Array[Byte], dim: Int): Array[Float] = {
      val s = graft.sources.AviCodec.parseAvi(payload)
      require(s.frames.nonEmpty, "AVI has no frames")
      val sums = new Array[Long](dim)
      val counts = new Array[Long](dim)
      for (frame <- s.frames) {
        if (s.handler == "MJPG") {
          val img = graft.sources.MediaCodec.readImage(frame)
          require(img != null, "undecodable MJPEG frame")
          // single-band (grayscale) rasters are read raw: getRGB would
          // push linear gray through an sRGB conversion and shift values
          val gray = img.getRaster.getNumBands == 1
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val strip = math.min(dim - 1, x * dim / img.getWidth)
              if (gray) sums(strip) += 3L * img.getRaster.getSample(x, y, 0)
              else {
                val rgb = img.getRGB(x, y)
                sums(strip) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              }
              counts(strip) += 1
              x += 1
            }
            y += 1
          }
        } else {
          var y = 0
          while (y < s.height) {
            var x = 0
            while (x < s.width) {
              val strip = math.min(dim - 1, x * dim / s.width)
              sums(strip) += 3L * graft.sources.AviCodec.dibPixel(frame, s.width, s.height, y, x)
              counts(strip) += 1
              x += 1
            }
            y += 1
          }
        }
      }
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        out(j) = if (counts(j) == 0) 0f
                 else (sums(j).toDouble / (counts(j) * 3.0 * 255.0)).toFloat
        j += 1
      }
      out
    }
  }

  /** IMAGE NEAR-DUP — the dedup family's missing modality. Each image
    * row renders to a REAL grayscale PNG ([[buildGrayPng]], `DW`×`DH`),
    * a distributed `ImageIO.read` decodes it back, and a perceptual
    * DIFFERENCE HASH (Krawetz dHash: compare mean intensities of
    * horizontally-adjacent blocks of the downscaled raster) packs one
    * bit per block pair — 8 block-columns × 7 rows = a 56-bit signature.
    * Downscale is integer block SUMS (2×1-px blocks of equal pixel
    * count, so comparing sums == comparing means with zero division) —
    * no resampler fp, so DuckDB recomputes the identical hash from the
    * source characters alone.
    *
    * Pairing is banded LSH over the hash, exactly the text MinHash
    * shape (Dedup.lshPairs): 4 bands × 14 bits, candidates from band
    * equi-joins, Hamming ≤ `maxHamming` (xor + bit_count, codegen'd)
    * verifies. Never all-pairs.
    *
    * Scale posture: decode + hash is one narrow mapPartitions — the
    * payload DIES there; only (doc_id, 8-byte hash) shuffles through
    * the band join. At 100 TB of images the band join moves ~40
    * bytes/image while the pixels stay at the scan; identical hashes
    * (exact re-encodes, crops outside the sampled grid) collide at
    * Hamming 0, near-dups within the banding bound surface without any
    * pairwise pixel compare. */
  def imageDhash(spark: SparkSession, dir: String): DataFrame =
    imageDhashFrom(graft.Tables.loadWide(spark, dir, "documents"))

  /** The hash pass over any (doc_id, text, ...) frame — the streaming
    * image-hash store computes each arriving batch's hashes through
    * exactly this plan, so store-served and in-plan hashes are
    * bit-identical by construction (the sigTableFrom pattern). */
  private[graft] def imageDhashFrom(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .filter(col("doc_id") % 3 === 0 && col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // UTF-8 bytes == per-character ord only on ASCII; the DuckDB
        // oracle recomputes the hash from ord(c) — fail fast instead of
        // silently desyncing (videoLandmarkSets' contract)
        require(text.forall(_ < 128),
          s"imageDhash: non-ASCII text in doc $id breaks the per-character oracle")
        (id, buildGrayPng(text.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          DhashW, DhashH))
      }
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val img = graft.sources.MediaCodec.readImage(png)
          val raster = img.getRaster
          var hash = 0L
          var r = 0
          while (r < DhashH) {
            var c = 0
            while (c < DhashW / 2 - 1) {
              val left = raster.getSample(2 * c, r, 0) + raster.getSample(2 * c + 1, r, 0)
              val right = raster.getSample(2 * c + 2, r, 0) + raster.getSample(2 * c + 3, r, 0)
              if (right > left) hash |= 1L << (r * 8 + c)
              c += 1
            }
            r += 1
          }
          (id, hash)
        }
      }
      .toDF("doc_id", "dhash")
  }

  /** dHash raster dims: 18×7 px → 9×7 block grid → 8×7 = 56 hash bits
    * (bit 55 max: sign-safe long shifts on both engines). */
  private[graft] val DhashW = 18
  private[graft] val DhashH = 7
  private[graft] val DhashBands = 4
  private[graft] val DhashBandBits = 14

  /** Banded-LSH near-dup pairing shared by the image ([[imageDhash]])
    * and audio ([[audioFingerprint]]) signatures: explode `bands`
    * band-values of `bandBits` each, equi-join candidates, verify with
    * xor + bit_count Hamming. Input: (doc_id, hash) rows. */
  private def bandedHashPairs(hashes: DataFrame, bands: Int, bandBits: Int,
                              maxHamming: Int): DataFrame =
    pairsFromBandedHashes(
      dhashBandedRows(hashes, bands, bandBits), maxHamming)

  /** (doc_id, hash, band, bv) rows — ALSO the streaming image-hash
    * store's at-rest layout (partitioned by `band`), so store-served
    * and in-plan band joins share one band definition. */
  private[graft] def dhashBandedRows(hashes: DataFrame, bands: Int = DhashBands,
                                     bandBits: Int = DhashBandBits): DataFrame = {
    val mask = (1L << bandBits) - 1
    hashes.select(col("doc_id"), col("hash"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("hash"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bv")))
  }

  /** Band-collision pairs + Hamming verify over prepared banded rows. */
  private[graft] def pairsFromBandedHashes(banded: DataFrame,
                                           maxHamming: Int = 6): DataFrame = {
    val a = banded.select(col("doc_id").as("doc_a"), col("hash").as("ha"),
      col("band"), col("bv"))
    // rename the keys on the right side too: a self-join equating
    // identically-named columns can resolve both sides to one attribute
    // (trivially-true predicate -> near-cross-join)
    val b = banded.select(col("doc_id").as("doc_b"), col("hash").as("hb"),
      col("band").as("band_b"), col("bv").as("bv_b"))
    a.join(b, col("band") === col("band_b") && col("bv") === col("bv_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ha"), col("hb"))
      .distinct()
      .withColumn("hamming",
        expr("bit_count(ha ^ hb)").cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Banded-LSH near-dup pairs over [[imageDhash]] signatures. */
  def imageNearDupPairs(spark: SparkSession, dir: String,
                        maxHamming: Int = 6): DataFrame =
    bandedHashPairs(imageDhash(spark, dir).withColumnRenamed("dhash", "hash"),
      DhashBands, DhashBandBits, maxHamming)

  /** DuckDB twin of [[imageNearDupPairs]]: pixel (y,x) = code of char
    * ((y·DW + x) mod n) (the [[buildGrayPng]] contract pixelStats
    * already round-trips), block sums and the 56-bit pack in integer
    * arithmetic, the same 4×14 banding, xor + bit_count verify. */
  def imageNearDupOracleSql(maxHamming: Int = 6): String = {
    val (dw, dh) = (DhashW, DhashH)
    def px(expr: String) = s"codes[((($expr) % n) + 1)]"
    s"""WITH t AS (
          SELECT doc_id, string_split(text, '') AS chs, length(text) AS n
          FROM documents
          WHERE doc_id % 3 = 0 AND text IS NOT NULL AND length(text) > 0),
        c AS (SELECT doc_id, n, list_transform(chs, ch -> ord(ch)) AS codes FROM t),
        bits AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN
                ${px(s"r*$dw + 2*c + 2")} + ${px(s"r*$dw + 2*c + 3")} >
                ${px(s"r*$dw + 2*c")} + ${px(s"r*$dw + 2*c + 1")}
              THEN CAST(1 AS BIGINT) << (r*8 + c) ELSE 0 END) AS BIGINT) AS hash
          FROM c, generate_series(0, ${dh - 1}) tr(r),
               generate_series(0, ${dw / 2 - 2}) tc(c)
          GROUP BY doc_id),
        ${bandedPairsSqlTail(DhashBands, DhashBandBits, maxHamming)}"""
  }

  /** Shared oracle tail: banded-LSH pairing over a `bits(doc_id, hash)`
    * CTE — the DuckDB twin of [[bandedHashPairs]]. */
  private def bandedPairsSqlTail(bands: Int, bb: Int, maxHamming: Int): String =
    s"""banded AS (
          SELECT doc_id, hash, b, (hash >> (b*$bb)) & ${(1L << bb) - 1} AS bv
          FROM bits, generate_series(0, ${bands - 1}) tb(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.hash AS ha, b.hash AS hb
          FROM banded a JOIN banded b
            ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming"""

  /** AUDIO NEAR-DUP — acoustic-landmark fingerprinting, the audio
    * member of the dedup family. A positional signature (energy
    * differences over time windows — the audio dHash) is worthless
    * against INSERTIONS: one early edit shifts every later sample and
    * scrambles the whole hash (measured: zero pairs under Hamming 6 on
    * this corpus while char-level Jaccard-0.99 near-dups exist). The
    * shift-invariant device is the text dedup family's own: treat each
    * clip as a SET of local landmarks — 8-sample shingles, rolling
    * polynomial hash — and MinHash/band/verify exactly like
    * `Dedup.lshPairs` (shared [[Dedup.sigFromFps]] /
    * `bandJoinCandidates` machinery, same (a·fp+b) mod P permutations,
    * same band hashing).
    *
    * The clip corpus derives a WAV from EVERY document
    * ([[buildPcm16Wav]]; the %3 kind split is a fixture convention for
    * the stats queries, not a constraint), and the decode is REAL —
    * `AudioSystem` parses the container, shingles come off the decoded
    * PCM, mapped back to byte space (sample/256 + 128, exact) so the
    * polynomial stays small on both engines.
    *
    * Landmark LENGTH is the candidate-volume knob and 16 is measured,
    * not guessed: on this word-salad corpus 8-sample shingles are
    * shared so widely across unrelated clips that the band join emits
    * 373k candidates at sf0.1; 16-sample landmarks cut that to 2.5k
    * (150×) with the IDENTICAL 256 verified pairs — long landmarks
    * discriminate, true near-dups still share almost all of them.
    *
    * Scale posture: decode + shingle + local-distinct-sort is one
    * narrow mapPartitions (the PCM dies there; one (doc_id, sorted
    * fp-array) row per clip leaves), signatures are k codegen'd
    * min-aggregates over the exploded fps, candidates come from the
    * ids-only band join, and exact set verification fetches each
    * candidate's array once by id equi-join and counts the overlap
    * with the allocation-free native two-pointer pass
    * ([[graft.plans.SortedIntersectCountLong]] — the lshPairs verify
    * shape; exploding fps per candidate pair instead was measured 45 s
    * at sf0.1). Verification is integer end-to-end: J ≥ 1/2 tested as
    * 3·|∩| ≥ |A|+|B|. */
  def audioShingleSets(spark: SparkSession, dir: String,
                       shingleLen: Int = 16): DataFrame = {
    import spark.implicits._
    val P = Dedup.P
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("text").isNotNull && length(col("text")) >= shingleLen)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // UTF-8 bytes == per-character ord only on ASCII; the DuckDB
        // oracle recomputes landmarks from ord(c) — fail fast instead
        // of silently desyncing (videoLandmarkSets' contract)
        require(text.forall(_ < 128),
          s"audioShingleSets: non-ASCII text in doc $id breaks the per-character oracle")
        (id, buildPcm16Wav(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      }
      .mapPartitions { rows =>
        rows.map { case (id, wav) =>
          val s = decodeWavSamples(wav)
          val fps = new java.util.TreeSet[java.lang.Long]()
          var i = 0
          while (i + shingleLen <= s.length) {
            var acc = 0L
            var j = 0
            while (j < shingleLen) {
              // decoded sample -> source byte (exact: samples are
              // (byte-128)*256 by construction; truncating division
              // is exact division here)
              acc = (acc * 131L + (s(i + j) / 256 + 128)) % P
              j += 1
            }
            fps.add(acc)
            i += 1
          }
          val arr = new Array[Long](fps.size)
          val it = fps.iterator()
          var n = 0
          while (it.hasNext) { arr(n) = it.next(); n += 1 }
          (id, arr)
        }
      }
      .toDF("doc_id", "fparr")
  }

  /** Banded-MinHash near-dup pairs over [[audioShingleSets]] landmarks,
    * verified with the exact shingle-set Jaccard (integer predicate). */
  def audioNearDupPairs(spark: SparkSession, dir: String,
                        k: Int = 8, r: Int = 2): DataFrame =
    landmarkNearDupPairs(audioShingleSets(spark, dir), k, r)

  /** The modality-generic landmark near-dup pipeline over a
    * (doc_id, fparr: sorted distinct array<long>) frame — audio clips
    * ([[audioShingleSets]]) and video pixel streams
    * ([[videoLandmarkSets]]) differ only in the decoder that produced
    * the landmarks. MinHash/band candidates via the shared text-dedup
    * machinery; exact set-Jaccard verify with the native two-pointer
    * intersect. */
  private def landmarkNearDupPairs(sets0: DataFrame, k: Int, r: Int): DataFrame = {
    // one decode+shingle pass, materialized eagerly: three plan branches
    // scan it (the exploded sig side and both verify array sides) —
    // lazily each branch would re-decode the whole corpus.
    // localCheckpoint(true), not persist: lifetime tracks the result
    // frame via ContextCleaner (the jaccardPrefixPairs lesson)
    val sets = sets0.localCheckpoint(true)
    val sig = Dedup.sigFromFps(
      sets.select(col("doc_id"), explode(col("fparr")).as("fp")), k)
    val cands = Dedup.bandJoinCandidates(sig, k, r)
    // verify: each candidate's sorted landmark array moves ONCE via id
    // equi-join; the overlap is the native two-pointer count
    val out = cands
      .join(sets.select(col("doc_id").as("a_id"), col("fparr").as("a_fp")), "a_id")
      .join(sets.select(col("doc_id").as("b_id"), col("fparr").as("b_fp")), "b_id")
      .withColumn("n_common",
        graft.functions.NativeFunctions.sortedIntersectCountLong(
          col("a_fp"), col("b_fp")).cast("long"))
      .withColumn("sz_a", size(col("a_fp")).cast("long"))
      .withColumn("sz_b", size(col("b_fp")).cast("long"))
      // J >= 1/2  <=>  3·inter >= |A| + |B|  (exact integers, no fp)
      .filter(col("n_common") * 3 >= col("sz_a") + col("sz_b"))
    out.select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        col("n_common"), (col("sz_a") + col("sz_b") - col("n_common")).as("n_union"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of [[audioNearDupPairs]]: sample i = (ord(charᵢ)−128)
    * ·256 (the [[buildPcm16Wav]] contract audioStats round-trips), so
    * the byte-space shingle hash is ord-driven; same permutations, band
    * hash and integer verify as the Scala plan. */
  def audioNearDupOracleSql(k: Int = 8, r: Int = 2,
                            shingleLen: Int = 16): String = {
    val P = Dedup.P
    s"""WITH t AS (
          SELECT doc_id,
                 list_transform(string_split(text, ''),
                   c -> CAST(ord(c) AS BIGINT)) AS bs,
                 length(text) AS n
          FROM documents
          WHERE text IS NOT NULL AND length(text) >= $shingleLen),
        fps AS (
          SELECT DISTINCT doc_id, fp
          FROM t, unnest(list_transform(generate_series(1, n - ${shingleLen - 1}),
            i -> list_reduce(bs[i : i + ${shingleLen - 1}],
                   (acc, v) -> (acc * 131 + v) % $P))) u(fp)),
        ${landmarkPairsSqlTail(k, r)}"""
  }

  /** Shared oracle tail for the landmark near-dup family: MinHash sig,
    * band join, exact-Jaccard verify over a `fps(doc_id, fp)` CTE —
    * the DuckDB twin of [[landmarkNearDupPairs]]. Permutations and
    * band hashing must match Dedup.sigFromFps/bandedRows bit for bit
    * (sig[] is 1-based). */
  private def landmarkPairsSqlTail(k: Int, r: Int): String = {
    val P = Dedup.P
    val sigs = (0 until k).map(s => Dedup.minhashOneSql("fpl", s))
      .mkString("[", ", ", "]")
    val nBands = k / r
    def bandHash(b: Int): String =
      (0 until r).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
        s"(($acc * 131 + sig[${b * r + i + 1}]) % $P)"
      }
    val bandArr = (0 until nBands).map(bandHash).mkString("[", ", ", "]")
    s"""d AS (SELECT doc_id, list(fp) AS fpl FROM fps GROUP BY doc_id),
        sig AS (SELECT doc_id, $sigs AS sig FROM d),
        banded AS (
          SELECT doc_id, b - 1 AS band, ($bandArr)[b] AS bh
          FROM sig, generate_series(1, $nBands) tb(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM fps GROUP BY doc_id),
        inter AS (
          SELECT c.a_id, c.b_id, count(*) AS n_common
          FROM cand c
          JOIN fps fa ON fa.doc_id = c.a_id
          JOIN fps fb ON fb.doc_id = c.b_id AND fb.fp = fa.fp
          GROUP BY 1, 2)
        SELECT a_id AS doc_a, b_id AS doc_b,
               CAST(n_common AS BIGINT) AS n_common,
               CAST(sa.sz + sb.sz - n_common AS BIGINT) AS n_union
        FROM inter
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE 3 * n_common >= sa.sz + sb.sz"""
  }

  /** VIDEO NEAR-DUP — the landmark pipeline through the REAL video
    * codec, completing the modality sweep (image dHash / audio
    * landmarks / video landmarks): each video-class document renders a
    * 3-frame uncompressed-DIB AVI ([[graft.sources.AviCodec]] — DIB,
    * not MJPEG, because lossless decode is what makes the oracle
    * recomputable), a distributed RIFF walk decodes the frames back,
    * and the concatenated pixel stream (frame-major, row-major — which
    * by the fixture recipe is the circular byte sequence) is
    * landmarked with the same 16-value rolling polynomial as audio.
    *
    * The frame geometry is FIXED (w=32, h=8, 3 frames = 768 px) rather
    * than the per-id dims of the stats queries: a near-dup SIGNATURE
    * must be comparable across documents, and with stream length ≥
    * text length + 15 every clip's landmark set is the complete set of
    * CYCLIC 16-windows of its text — invariant to how frames tile the
    * stream. Insertions shift frame contents (a per-frame content hash
    * matches nothing, the audio lesson); the cyclic landmark SET
    * barely moves.
    *
    * Scale posture: identical to audio — encode+decode+landmark is one
    * narrow mapPartitions, one sorted array per video leaves the scan,
    * candidates from the ids-only band join, native two-pointer
    * verify. */
  def videoLandmarkSets(spark: SparkSession, dir: String, w: Int = 32,
                        h: Int = 8, nFrames: Int = 3,
                        shingleLen: Int = 16): DataFrame = {
    import spark.implicits._
    val P = Dedup.P
    graft.Tables.loadWide(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2 && col("text").isNotNull &&
        length(col("text")) >= shingleLen)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        // the US_ASCII encoder maps non-ASCII chars to '?' while the
        // oracle uses ord(c) — fail fast instead of silently desyncing
        // (videoPixelStatsQuery's contract)
        require(text.forall(_ < 128),
          s"videoLandmarkSets: non-ASCII text in doc $id breaks the per-character oracle")
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
        val frames = (0 until nFrames).map { f =>
          graft.sources.AviCodec.buildDibFrame(w, h,
            (y, x) => bytes((f * w * h + y * w + x) % bytes.length) & 0xff)
        }
        (id, graft.sources.AviCodec.buildAvi(frames, w, h, "DIB "))
      }
      .mapPartitions { rows =>
        rows.map { case (id, avi) =>
          val s = graft.sources.AviCodec.parseAvi(avi)
          require(s.compression == 0, s"expected BI_RGB stream, got ${s.compression}")
          // frame-major, row-major pixel stream = the circular byte seq
          val stream = new Array[Long](s.frames.length * s.width * s.height)
          var t = 0
          s.frames.foreach { frame =>
            var y = 0
            while (y < s.height) {
              var x = 0
              while (x < s.width) {
                stream(t) = graft.sources.AviCodec.dibPixel(frame, s.width, s.height, y, x)
                t += 1
                x += 1
              }
              y += 1
            }
          }
          val fps = new java.util.TreeSet[java.lang.Long]()
          var i = 0
          while (i + shingleLen <= stream.length) {
            var acc = 0L
            var j = 0
            while (j < shingleLen) {
              acc = (acc * 131L + stream(i + j)) % P
              j += 1
            }
            fps.add(acc)
            i += 1
          }
          val arr = new Array[Long](fps.size)
          val it = fps.iterator()
          var n = 0
          while (it.hasNext) { arr(n) = it.next(); n += 1 }
          (id, arr)
        }
      }
      .toDF("doc_id", "fparr")
  }

  /** Banded-MinHash near-dup pairs over [[videoLandmarkSets]]. */
  def videoNearDupPairs(spark: SparkSession, dir: String,
                        k: Int = 8, r: Int = 2): DataFrame =
    landmarkNearDupPairs(videoLandmarkSets(spark, dir), k, r)

  /** CROSS-MODAL duplicate clustering — the curation decision the
    * per-modality detectors exist to feed: the same underlying content
    * often enters a corpus several ways (a text dump, a page scan, a
    * recording, a clip), and each detector contributes EDGES, not
    * verdicts. Union the image-dHash, audio-landmark and
    * video-landmark pair sets over the shared doc_id space and run the
    * engine's large-star/small-star connected components
    * ([[Dedup.connectedComponents]] — near-duplication is transitive
    * in effect, so survivors are chosen per component, never per
    * pair). Cluster id = min doc_id of the component; a downstream
    * keep is one ids-only anti-join (Dedup.dedupKeep's shape).
    *
    * Scale posture: each edge source is its own banded pipeline (never
    * all-pairs), edges are ids-only, and the CC rounds are the
    * checkpointed star-contraction the text path already bounds by the
    * edge count. */
  def mediaDupClusters(spark: SparkSession, dir: String): DataFrame = {
    def e(df: DataFrame): DataFrame =
      df.select(col("doc_a").as("u"), col("doc_b").as("v"))
    val edges = e(imageNearDupPairs(spark, dir))
      .union(e(audioNearDupPairs(spark, dir)))
      .union(e(videoNearDupPairs(spark, dir)))
    Dedup.connectedComponents(edges).orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[mediaDupClusters]]: the three pair queries ride
    * as derived tables (each keeps its own WITH scope), reachability is
    * the same recursive CTE as dup_clusters. */
  def mediaDupClustersSql(): String =
    s"""WITH RECURSIVE p AS (
          SELECT doc_a, doc_b FROM (${imageNearDupOracleSql()})
          UNION SELECT doc_a, doc_b FROM (${audioNearDupOracleSql()})
          UNION SELECT doc_a, doc_b FROM (${videoNearDupOracleSql()})),
        e AS (SELECT doc_a AS u, doc_b AS v FROM p
              UNION SELECT doc_b, doc_a FROM p),
        reach(src, node) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e) n
          UNION
          SELECT r.src, e.v FROM reach r JOIN e ON e.u = r.node)
        SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY 1"""

  /** DuckDB twin of [[videoNearDupPairs]]: the decoded pixel stream is
    * byte ((t) mod n) for t < nFrames·w·h, so landmarks are the cyclic
    * 16-windows of the character codes — recomputed with the identical
    * rolling polynomial over modular indices. */
  def videoNearDupOracleSql(k: Int = 8, r: Int = 2, w: Int = 32,
                            h: Int = 8, nFrames: Int = 3,
                            shingleLen: Int = 16): String = {
    val P = Dedup.P
    val streamLen = nFrames * w * h
    // shingle at stream position t (0-based): fold over codes[((t+j) mod n)+1]
    val shingle = (0 until shingleLen).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc * 131 + bs[((t + $j) % n) + 1]) % $P)"
    }
    s"""WITH v AS (
          SELECT doc_id,
                 list_transform(string_split(text, ''),
                   c -> CAST(ord(c) AS BIGINT)) AS bs,
                 length(text) AS n
          FROM documents
          WHERE doc_id % 3 = 2 AND text IS NOT NULL AND length(text) >= $shingleLen),
        fps AS (
          SELECT DISTINCT doc_id, $shingle AS fp
          FROM v, generate_series(0, ${streamLen - shingleLen}) tt(t)),
        ${landmarkPairsSqlTail(k, r)}"""
  }
}
