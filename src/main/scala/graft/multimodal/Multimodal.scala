package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * as opaque `binary` columns with typed metadata, processed per-partition
  * in batches.
  *
  * The Spark-side plumbing (schema, partitioning, batch shape, per-partition
  * iteration) is real and tested, and so are all three modality decoders —
  * zero added dependencies: IMAGE via [[ImageCodec]] (JDK `javax.imageio`,
  * PNG/BMP/GIF/JPEG), PCM AUDIO via [[WavCodec]] (JDK `javax.sound.sampled`,
  * WAV/AIFF/AU), and MJPEG-AVI VIDEO via [[AviCodec]] (a minimal RIFF walker
  * whose frames are JPEGs ImageIO already reads). Payloads outside those
  * formats fall back to the clearly-marked deterministic [[FakeCodec]];
  * swapping in a broader codec library touches only the `decode` seams.
  *
  * Scale notes: media payloads dominate row size, so the pipeline
  * (a) never collects payloads to the driver, (b) processes rows with
  * `mapPartitions` so a real codec can amortize per-batch init (model load,
  * JNI handles) across a partition, and (c) repartitions by a salt-able id
  * hash so a few huge payloads do not skew executors.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      media_type: String, // image | audio | video
      payload: Array[Byte],
      width: Option[Int],
      height: Option[Int],
      sample_rate: Option[Int])

  /** Extracted features (fixed schema regardless of modality). */
  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      checksum: Long,
      feature: Array[Float])

  /** Real image decode via the JDK's `javax.imageio` (PNG/BMP/GIF/JPEG
    * readers ship with the JDK — zero new dependencies). Returns None when
    * ImageIO does not recognize the payload, letting the pipeline fall back
    * to [[FakeCodec]] for opaque bytes. Features: width, height, per-channel
    * means, luma mean/stddev, pixel count — the moment vector a real
    * embedding model would replace.
    */
  object ImageCodec {
    javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors

    val FeatureDim = 8

    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      // NonFatal, not just IOException: ImageIO readers throw runtime
      // exceptions (IllegalArgument/IndexOutOfBounds) on payloads whose
      // header parses but whose body is corrupt — any undecodable payload
      // must take the documented FakeCodec fallback, not fail the task
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      Option(img).map { im =>
        val w = im.getWidth
        val h = im.getHeight
        var sr, sg, sb, sl, sl2 = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = im.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            val g = (rgb >> 8) & 0xff
            val b = rgb & 0xff
            val l = 0.299 * r + 0.587 * g + 0.114 * b
            sr += r; sg += g; sb += b; sl += l; sl2 += l * l
            x += 1
          }
          y += 1
        }
        val n = (w.toDouble * h).max(1.0)
        Array(
          w.toFloat, h.toFloat,
          (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
          (sl / n / 255.0).toFloat,
          math.sqrt(math.max(0.0, sl2 / n - (sl / n) * (sl / n))).toFloat,
          (w.toLong * h).toFloat)
      }
    }
  }

  /** Real audio decode for the formats the JDK ships readers for
    * (WAV/AIFF/AU PCM via `javax.sound.sampled` — zero new dependencies).
    * Handles 16-bit signed and 8-bit unsigned PCM; anything else returns
    * None and the pipeline falls back to [[FakeCodec]]. Features: frame
    * count, channels, sample rate, first-channel mean amplitude, RMS,
    * zero-crossing rate, peak, bit depth — the waveform-moment vector a
    * real embedding model would replace.
    */
  object WavCodec {
    val FeatureDim = 8

    def decode(payload: Array[Byte]): Option[Array[Float]] = {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val ais =
        try AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        catch { case scala.util.control.NonFatal(_) => null }
      if (ais == null) return None
      try {
        val fmt = ais.getFormat
        val bits = fmt.getSampleSizeInBits
        val supported =
          (fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED && bits == 16) ||
            (fmt.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
        if (!supported || fmt.getChannels < 1 || fmt.getFrameSize < 1) None
        else {
          val bytes = ais.readAllBytes()
          val frameSize = fmt.getFrameSize
          val n = bytes.length / frameSize
          var sum, sum2, peak = 0.0
          var zc = 0
          var prevSign = 0
          var i = 0
          while (i < n) {
            val off = i * frameSize // first channel carries the features
            val s =
              if (bits == 16) {
                // sign-extend the high byte, mask the low — byte order per header
                val v =
                  if (fmt.isBigEndian) (bytes(off) << 8) | (bytes(off + 1) & 0xff)
                  else (bytes(off + 1) << 8) | (bytes(off) & 0xff)
                v / 32768.0
              } else ((bytes(off) & 0xff) - 128) / 128.0
            sum += s; sum2 += s * s
            if (math.abs(s) > peak) peak = math.abs(s)
            val sign = if (s > 0) 1 else if (s < 0) -1 else 0
            if (prevSign != 0 && sign != 0 && sign != prevSign) zc += 1
            if (sign != 0) prevSign = sign
            i += 1
          }
          val nn = math.max(n, 1).toDouble
          Some(Array(
            n.toFloat, fmt.getChannels.toFloat, fmt.getSampleRate,
            (sum / nn).toFloat, math.sqrt(sum2 / nn).toFloat,
            (zc / nn).toFloat, peak.toFloat, bits.toFloat))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
      finally ais.close()
    }
  }

  /** Real video decode for MJPEG-in-AVI — the one video format decodable
    * with zero added dependencies, because its frames are plain JPEGs the
    * JDK's ImageIO already reads. A minimal RIFF walker (RIFF/LIST
    * recursion, chunk-id + little-endian size, even-byte padding) collects
    * the `avih` header (frame interval → fps) and every `..dc`/`..db`
    * chunk whose payload starts with the JPEG SOI marker; each frame
    * decodes through the same ImageIO path as [[ImageCodec]]. Anything
    * else (other codecs, other containers, truncated RIFF) returns None →
    * [[FakeCodec]] fallback, same contract as the image/audio decoders.
    *
    * Features: frame count, width, height, fps, mean luma across frames,
    * stddev of per-frame luma (scene-change signal), mean frame bytes,
    * total pixels — the clip-moment vector a real video embedding model
    * would replace.
    */
  object AviCodec {
    val FeatureDim = 8

    private def u32le(b: Array[Byte], off: Int): Long =
      (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
        ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

    private def fourCC(b: Array[Byte], off: Int): String =
      new String(b, off, 4, "US-ASCII")

    /** The parsed chunk index of an MJPEG AVI: per JPEG frame chunk the
      * (byte offset of the frame body, byte length), plus the avih
      * `dwMicroSecPerFrame`. Empty index = not a recognizable MJPEG AVI.
      * This is the real container walk [[decode]] and
      * [[Multimodal.sampleFrames]] both run — frame selection without
      * decoding a single pixel.
      */
    def frameIndex(payload: Array[Byte]): (Long, Seq[(Int, Int)]) = {
      if (payload.length < 12 || fourCC(payload, 0) != "RIFF" ||
        fourCC(payload, 8) != "AVI ") return (0L, Nil)
      val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var microSecPerFrame = 0L
      def walk(off: Int, end: Int): Unit = {
        var p = off
        while (p + 8 <= end) {
          val id = fourCC(payload, p)
          val size = u32le(payload, p + 4).toInt
          val body = p + 8
          if (size < 0 || body + size > end) return // truncated: stop cleanly
          if (id == "RIFF" || id == "LIST") {
            walk(body + 4, body + size) // skip the 4-byte form/list type
          } else {
            if (id == "avih" && size >= 4) microSecPerFrame = u32le(payload, body)
            // stream-data chunks: '00dc' (compressed video), '00db' (uncompressed)
            if (id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) &&
              size >= 2 && (payload(body) & 0xff) == 0xff && (payload(body + 1) & 0xff) == 0xd8)
              frames += ((body, size))
          }
          p = body + size + (size & 1) // chunks pad to even byte boundaries
        }
      }
      walk(12, payload.length)
      (microSecPerFrame, frames.toSeq)
    }

    /** Minimal MJPEG-AVI writer — the inverse of [[frameIndex]]:
      * RIFF('AVI ' LIST('hdrl' avih) LIST('movi' 00dc…)). Used by the
      * deterministic fixture generator and the specs; a real pipeline
      * would write through a full muxer, but the container these bytes
      * form is valid for any MJPEG-AVI reader.
      */
    def encode(frames: Seq[Array[Byte]], microSecPerFrame: Long): Array[Byte] = {
      def le32(v: Long): Array[Byte] =
        Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def chunk(id: String, body: Array[Byte]): Array[Byte] = {
        val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
        id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++ pad
      }
      def list(formType: String, contents: Array[Byte]): Array[Byte] =
        chunk("LIST", formType.getBytes("US-ASCII") ++ contents)
      val avih = chunk("avih", le32(microSecPerFrame) ++ new Array[Byte](52))
      val movi = list("movi", frames.flatMap(f => chunk("00dc", f)).toArray)
      val inner = "AVI ".getBytes("US-ASCII") ++ list("hdrl", avih) ++ movi
      "RIFF".getBytes("US-ASCII") ++ le32(inner.length.toLong) ++ inner
    }

    def decode(payload: Array[Byte]): Option[Array[Float]] =
      try {
        val (microSecPerFrame, idx) = frameIndex(payload)
        val frames = idx.map { case (off, size) =>
          java.util.Arrays.copyOfRange(payload, off, off + size)
        }
        if (frames.isEmpty) return None
        var w, h = 0
        var sumLuma, sumLuma2 = 0.0
        var sumBytes = 0L
        var decoded = 0
        frames.foreach { fb =>
          ImageCodec.decode(fb).foreach { f =>
            if (decoded == 0) { w = f(0).toInt; h = f(1).toInt }
            val luma = f(5) // ImageCodec feature 5 = mean luma in [0,1]
            sumLuma += luma; sumLuma2 += luma.toDouble * luma
            sumBytes += fb.length
            decoded += 1
          }
        }
        if (decoded == 0) None
        else {
          val n = decoded.toDouble
          val fps = if (microSecPerFrame > 0) (1000000.0 / microSecPerFrame).toFloat else 0f
          Some(Array(
            decoded.toFloat, w.toFloat, h.toFloat, fps,
            (sumLuma / n).toFloat,
            math.sqrt(math.max(0.0, sumLuma2 / n - (sumLuma / n) * (sumLuma / n))).toFloat,
            (sumBytes / n).toFloat,
            decoded.toFloat * w * h))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** STUB codec — deterministic fake standing in for media the real
    * decoders do not recognize (non-MJPEG video, exotic audio encodings,
    * corrupt payloads; image, WAV/AIFF/AU-PCM audio, and MJPEG-AVI video
    * decode are REAL — see [[ImageCodec]] / [[WavCodec]] / [[AviCodec]]).
    * Replace `decode` with a real library call; everything around it
    * (schema, batching, partitioning) is production-shaped.
    */
  object FakeCodec {
    val FeatureDim = 8
    def decode(payload: Array[Byte]): Array[Float] = {
      // Deterministic "feature": byte-histogram moments — NOT a real decode.
      val f = new Array[Float](FeatureDim)
      var i = 0
      while (i < payload.length) {
        f(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      f
    }
    def checksum(payload: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + (payload(i) & 0xff); i += 1 }
      h
    }
  }

  /** Decode + featurize, partition-parallel. `partitions` sizes the stage to
    * the cluster (payload bytes per partition, not row count, is the real
    * constraint for media).
    */
  def extractFeatures(media: Dataset[MediaRecord], partitions: Int): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media
      .repartition(partitions, col("media_id"))
      .mapPartitions { rows =>
        // Per-partition init hook: a real codec opens handles/models here.
        rows.map { r =>
          // images, WAV/AIFF/AU-PCM audio, and MJPEG-AVI video all go
          // through REAL JDK decoders; payloads they do not recognize use
          // the deterministic fake
          val feature = r.media_type match {
            case "image" => ImageCodec.decode(r.payload).getOrElse(FakeCodec.decode(r.payload))
            case "audio" => WavCodec.decode(r.payload).getOrElse(FakeCodec.decode(r.payload))
            case "video" => AviCodec.decode(r.payload).getOrElse(FakeCodec.decode(r.payload))
            case _       => FakeCodec.decode(r.payload)
          }
          MediaFeatures(
            r.media_id,
            r.media_type,
            r.payload.length.toLong,
            FakeCodec.checksum(r.payload),
            feature)
        }
      }
  }

  /** Real video frame sampling: walk each payload's RIFF chunk index
    * ([[AviCodec.frameIndex]] — no pixel decode) and emit one row per kept
    * JPEG frame chunk, keeping every `stride`-th frame. `frame_idx` is the
    * frame's ordinal in the container, `frame_bytes` its chunk length —
    * the (media_id, frame_idx) pair is the handle a downstream decode
    * stage uses to slice the frame out of the payload.
    *
    * Scale shape: a typed flatMap (the container walk is imperative
    * byte-level code Catalyst cannot express); payloads never leave the
    * executor, the output carries only scalars, and non-AVI payloads
    * contribute zero rows.
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int = 1): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    import media.sparkSession.implicits._
    media
      .flatMap { r =>
        if (r.media_type != "video") Iterator.empty
        else AviCodec.frameIndex(r.payload)._2.iterator.zipWithIndex.collect {
          case ((_, size), idx) if idx % stride == 0 =>
            (r.media_id, idx.toLong, size.toLong)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** DuckDB twin of [[sampleFrames]]: the RIFF walk re-expressed as
    * recursive CTEs over the payload's hex string — top-level chunk walk
    * to find the 'movi' LIST, then a child walk that counts and emits the
    * JPEG frame chunks (`..dc`/`..db` id, SOI-marker body) with their
    * little-endian chunk sizes. Byte arithmetic is ascii-CASE hex-digit
    * decoding (the same engine-portable idiom as the Bloom filter's
    * position math). The Scala walker recurses into arbitrary nesting;
    * the SQL twin walks top-level + movi children, which is the complete
    * structure of every AVI the fixture contains — the hash gate pins the
    * equivalence.
    */
  def videoFramesSqlFor(stride: Int): String = {
    // hex-digit value at 1-based position o of column hx (lowercase hex)
    def hd(o: String) =
      s"(CASE WHEN ascii(substr(hx, $o, 1)) >= 97 THEN ascii(substr(hx, $o, 1)) - 87 ELSE ascii(substr(hx, $o, 1)) - 48 END)"
    // byte value at 0-based byte offset expressed by SQL expression p
    def byteAt(p: String) = s"(${hd(s"2*($p)+1")} * 16 + ${hd(s"2*($p)+2")})"
    // little-endian u32 at 0-based byte offset p
    val u32 = (0 to 3).map(k => s"CAST(${byteAt(s"p+$k")} AS BIGINT) * ${1L << (8 * k)}").mkString(" + ")
    s"""WITH RECURSIVE
       |vid AS (
       |  SELECT media_id, lower(hex(payload)) AS hx, octet_length(payload) AS len
       |  FROM read_parquet('$MediaFixturePath/*.parquet')
       |  WHERE media_type = 'video' AND octet_length(payload) >= 12
       |    AND substr(lower(hex(payload)), 1, 8) = '52494646'
       |    AND substr(lower(hex(payload)), 17, 8) = '41564920'),
       |u32 AS (  -- little-endian uint32 at every byte offset, per media
       |  SELECT media_id, p, CAST($u32 AS BIGINT) AS v
       |  FROM (SELECT media_id, hx, unnest(generate_series(0, len - 4)) AS p FROM vid)),
       |top AS (  -- cursor positions of top-level chunks inside the RIFF body
       |  SELECT media_id, CAST(12 AS BIGINT) AS pos FROM vid
       |  UNION ALL
       |  SELECT t.media_id, t.pos + 8 + u.v + (u.v % 2)
       |  FROM top t
       |  JOIN vid v USING (media_id)
       |  JOIN u32 u ON u.media_id = t.media_id AND u.p = t.pos + 4
       |  WHERE t.pos + 8 <= v.len AND t.pos + 8 + u.v <= v.len),
       |movi AS (  -- the LIST whose form type is 'movi': children span [s, e)
       |  SELECT t.media_id, t.pos + 12 AS s, t.pos + 8 + u.v AS e
       |  FROM top t
       |  JOIN vid v USING (media_id)
       |  JOIN u32 u ON u.media_id = t.media_id AND u.p = t.pos + 4
       |  WHERE t.pos + 8 <= v.len AND t.pos + 8 + u.v <= v.len
       |    AND substr(v.hx, CAST(2*t.pos+1 AS INT), 8) = '4c495354'
       |    AND substr(v.hx, CAST(2*(t.pos+8)+1 AS INT), 8) = '6d6f7669'),
       |walk AS (  -- movi child cursor + running frame ordinal
       |  SELECT media_id, s AS pos, e, CAST(0 AS BIGINT) AS fidx FROM movi
       |  UNION ALL
       |  SELECT w.media_id, w.pos + 8 + u.v + (u.v % 2), w.e,
       |         w.fidx + CASE WHEN substr(v.hx, CAST(2*(w.pos+2)+1 AS INT), 4) IN ('6463', '6462')
       |                        AND u.v >= 2
       |                        AND substr(v.hx, CAST(2*(w.pos+8)+1 AS INT), 4) = 'ffd8'
       |                       THEN 1 ELSE 0 END
       |  FROM walk w
       |  JOIN vid v USING (media_id)
       |  JOIN u32 u ON u.media_id = w.media_id AND u.p = w.pos + 4
       |  WHERE w.pos + 8 <= w.e AND w.pos + 8 + u.v <= w.e)
       |SELECT w.media_id, w.fidx AS frame_idx, u.v AS frame_bytes
       |FROM walk w
       |JOIN vid v USING (media_id)
       |JOIN u32 u ON u.media_id = w.media_id AND u.p = w.pos + 4
       |WHERE w.pos + 8 <= w.e AND w.pos + 8 + u.v <= w.e
       |  AND substr(v.hx, CAST(2*(w.pos+2)+1 AS INT), 4) IN ('6463', '6462')
       |  AND u.v >= 2
       |  AND substr(v.hx, CAST(2*(w.pos+8)+1 AS INT), 4) = 'ffd8'
       |  AND w.fidx % $stride = 0""".stripMargin
  }

  /** Committed parquet materialization of [[syntheticMedia]](300), written
    * once by [[graft.MediaFixture]]. An absolute path because the oracle's
    * DuckDB process and the Verify JVM need not share a working directory.
    */
  val MediaFixturePath = "/root/repo/data/media.parquet"

  /** Feature-extraction summary, DuckDB-hash-checked: the decode pipeline
    * (repartition → mapPartitions → real JDK codecs) runs Spark-side and
    * produces the per-type counts and byte totals; the raw payload content
    * is pinned by min/max/distinct-count over lower(hex(payload)) —
    * engine-portable (both engines uppercase hex; lowered on both sides)
    * and content-sensitive, so a corrupted fixture or a pipeline that
    * drops/duplicates rows breaks the hash. Only the FEATURE vectors stay
    * un-oracled (they are the decoders' output — no SQL twin exists).
    */
  val defs: Seq[graft.engine.QueryDef] = Seq(
    graft.engine.QueryDef(
      "multimodal_features",
      (s, _) => {
        import org.apache.spark.sql.functions._
        import s.implicits._
        val raw = graft.engine.Tables.parquet(s, MediaFixturePath)
        val piped = extractFeatures(raw.as[MediaRecord], partitions = 8)
          .toDF()
          .groupBy(col("media_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("n_bytes")).as("total_bytes"))
        val digests = raw
          .select(col("media_type"), lower(hex(col("payload"))).as("hx"))
          .groupBy(col("media_type"))
          .agg(min(col("hx")).as("min_payload_hex"), max(col("hx")).as("max_payload_hex"),
            countDistinct(col("hx")).as("n_distinct_payloads"))
        piped.join(digests, Seq("media_type"))
      },
      Some(
        s"""SELECT media_type, count(*) AS cnt,
           |  CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
           |  min(lower(hex(payload))) AS min_payload_hex,
           |  max(lower(hex(payload))) AS max_payload_hex,
           |  count(DISTINCT lower(hex(payload))) AS n_distinct_payloads
           |FROM read_parquet('$MediaFixturePath/*.parquet')
           |GROUP BY 1""".stripMargin)),
    graft.engine.QueryDef(
      "video_frames",
      (s, _) => {
        import s.implicits._
        sampleFrames(graft.engine.Tables.parquet(s, MediaFixturePath).as[MediaRecord], stride = 2)
      },
      Some(videoFramesSqlFor(2))),
  )

  /** Deterministic REAL payload builders (all JDK-encoded — the same
    * zero-dependency codecs the decoders read back). Every byte is a pure
    * function of the seed, so the committed fixture is reproducible.
    */
  object SyntheticPayloads {
    /** 8×6 PNG whose pixels are a seed-dependent gradient. */
    def png(seed: Long): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(8, 6, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 6; x <- 0 until 8) {
        val r = ((seed * 31 + x * 40 + y * 7) % 256).toInt
        val g = ((seed * 17 + x * 9 + y * 33) % 256).toInt
        val b = ((seed * 7 + x * 3 + y * 11) % 256).toInt
        im.setRGB(x, y, (r << 16) | (g << 8) | b)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }

    /** 16-bit mono WAV at 8 kHz: 40 + seed%32 samples of a seed-phased
      * integer triangle wave.
      */
    def wav(seed: Long): Array[Byte] = {
      import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
      val n = 40 + (seed % 32).toInt
      val pcm = new Array[Byte](2 * n)
      (0 until n).foreach { i =>
        val phase = (i + seed) % 8
        val tri = (if (phase < 4) phase * 8000 - 16000 else 48000 - phase * 8000).toInt
        pcm(2 * i) = (tri & 0xff).toByte
        pcm(2 * i + 1) = ((tri >> 8) & 0xff).toByte
      }
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** 4×4 JPEG for AVI assembly: uniform seed-dependent gray. */
    def jpegFrame(seed: Long, frame: Int): Array[Byte] = {
      val gray = ((seed * 53 + frame * 67) % 256).toInt
      val im = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (gray << 16) | (gray << 8) | gray
      for (y <- 0 until 4; x <- 0 until 4) im.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", bos)
      bos.toByteArray
    }

    /** MJPEG AVI with 2 + seed%4 frames at 25 fps. */
    def avi(seed: Long): Array[Byte] =
      AviCodec.encode((0 until (2 + (seed % 4)).toInt).map(f => jpegFrame(seed, f)), 40000L)

    /** Opaque noise bytes — media no real decoder recognizes, exercising
      * the documented [[FakeCodec]] fallback path.
      */
    def noise(seed: Long): Array[Byte] =
      Array.tabulate[Byte](64 + (seed % 64).toInt)(j => ((seed * 31 + j * 7) % 251).toByte)
  }

  /** Deterministic synthetic media table (fixture, tests, demos): REAL
    * JDK-encoded payloads — PNG images, PCM WAVs, MJPEG AVIs — with every
    * 5th row opaque noise so the FakeCodec fallback path stays exercised
    * alongside the real decoders.
    */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val mt = Seq("image", "audio", "video")((i % 3).toInt)
      val payload =
        if (i % 5 == 4) SyntheticPayloads.noise(i)
        else mt match {
          case "image" => SyntheticPayloads.png(i)
          case "audio" => SyntheticPayloads.wav(i)
          case _       => SyntheticPayloads.avi(i)
        }
      MediaRecord(i, mt,
        payload,
        if (mt == "image") Some(8) else None,
        if (mt == "image") Some(6) else None,
        if (mt == "audio") Some(8000) else None)
    }
  }
}
