package graft.operators

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: treat media payloads as opaque `binary`
  * columns with typed metadata, and run decode / feature-extract /
  * frame-sample as distributed column pipelines.
  *
  * The DECODE seam ([[BatchDecoder]], one call per partition) has a
  * REAL default: [[jdkDecoder]] sniffs the payload's magic number and
  * decodes PNG/JPEG/GIF/BMP through `javax.imageio` and WAV through
  * `javax.sound.sampled` — both ship with the JDK, no external
  * libraries — extracting pixel/sample statistics as the feature
  * vector, and parses mp3 frame headers / mp4 mvhd boxes as pure byte
  * arithmetic for real bitrate/samplerate/duration/track metadata
  * (the JDK ships no codec for their SAMPLES — only the sample-level
  * features need a heavier decoder, which drops in at the same seam).
  * Corrupt payloads fall back to the deterministic byte-derived
  * features ([[fallbackFeatures]]): at 100 TB corrupt media is
  * routine, and a decoder that throws per bad blob kills the stage —
  * degrade, count, continue.
  *
  * The binary payloads themselves are derived deterministically from
  * `documents.text` (UTF-8 bytes), since the driver testdata ships no
  * media table; MultimodalSpec exercises the real decode paths with
  * in-memory PNG/WAV fixtures.
  */
object Multimodal {

  /** The media table: binary payload + metadata, the schema a real
    * ingest would carry. */
  def media(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      // metadata a real pipeline would attach at ingest:
      struct(
        length(col("text")).cast("long").as("n_bytes"),
        col("source").as("origin")).as("meta"))

  /** Stub format sniff: FIRST BYTE of the binary payload mod 3 → a
    * modality bucket (in place of a real magic-number table). The byte
    * is read from the hex rendering (`conv` base 16 → 10), NEVER via
    * `payload.cast("string")`: a cast decodes UTF-8 and real media
    * bytes (0x80-0xFF leads, invalid sequences → replacement chars)
    * would collapse distinct leading bytes onto one modality. The
    * DuckDB oracles derive the identical byte from hex(encode(text)).
    * OperatorSpec pins the non-UTF8 case. */
  private[graft] def modality(payload: Column): Column = {
    // slice the BYTE first, then hex the 1-byte slice — hexing the
    // whole payload to read 2 chars is O(payload) work and a full-size
    // string allocation per row (megabyte media ⇒ 2 MB strings)
    val b0 = conv(hex(substring(payload, 1, 1)), 16, 10).cast("int")
    when(b0 % 3 === 0, "image").when(b0 % 3 === 1, "audio").otherwise("video")
  }

  /** m01: metadata + format sniff over the binary column — byte length,
    * leading magic bytes as hex, and the deterministic (stub) modality
    * tag ([[modality]]). */
  def m01BinaryMeta(spark: SparkSession, dir: String): DataFrame =
    media(spark, dir).select(
        col("media_id"),
        col("meta.n_bytes").as("n_bytes"),
        substring(hex(col("payload")), 1, 8).as("magic_hex"),
        modality(col("payload")).as("modality"))
      .orderBy("media_id")

  /** m02: feature extraction — 8-dim vector per payload, exploded to
    * (media_id, dim, val) rows. Payloads the JDK actually decodes get
    * REAL pixel/PCM statistics ([[imageFeatures]]/[[audioFeatures]]
    * through the same per-partition decode seam as [[jdkDecoder]]);
    * everything else degrades to the byte fallback (byte i scaled to
    * [0,1), missing byte → 0) — at 100 TB undecodable blobs are
    * routine and must feed the pipeline a vector, not an error. The
    * gate corpus carries no decodable media (asserted loudly in the
    * seam, the m10 discipline), so the corpus rows replay as the byte
    * fallback in the oracle while the two injected canaries (the m05
    * BMP, the m10 WAV) keep the real image and audio tiers live —
    * their decoded features enter the oracle as the hand-derived
    * literals MultimodalSpec pins against this same construction. */
  def m02Features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = media(spark, dir).select(col("media_id"), col("payload"))
      .unionByName(Seq(
        (900000001L, canaryBmp(false)),
        (900000002L, segWav(M10BlockPattern))).toDF("media_id", "payload"))
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, b) => m02FeatureRows(id, b) })
      .toDF("media_id", "dim", "val")
      .orderBy("media_id", "dim")
  }

  /** One payload → its 8 (id, dim, val) feature rows — real decoded
    * statistics when the payload is JDK-decodable media, the byte
    * fallback otherwise. Factored out so MultimodalSpec can pin the
    * canary literals against the exact production path. */
  private[graft] def m02FeatureRows(id: Long,
      b: Array[Byte]): Seq[(Long, Long, Double)] = {
    val real: Option[Array[Float]] =
      try {
        magicOf(b) match {
          case "png" | "jpeg" | "gif" | "bmp" =>
            Option(readImageBounded(b)).map(imageFeatures)
          case "wav" =>
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(b))
            try Some(audioFeatures(in)) finally in.close()
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    // the oracle replays every CORPUS payload through the byte
    // fallback; a generator change planting decodable media must
    // surface here as a loud error, not a silent hash mismatch
    if (real.isDefined && id < 900000001L)
      throw new IllegalStateException(
        s"m02: corpus payload $id decoded as real media — the byte-" +
          "fallback oracle replay no longer covers it; re-derive the " +
          "decodable tier from the decode census")
    // HALF_UP on the decimal rendering — exactly Spark's round(col, 4)
    // (BigDecimal.valueOf) and the m02 oracle's DuckDB round
    def round4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val feats: Seq[Double] = real match {
      case Some(f) => f.iterator.take(8).map(v => round4(v.toDouble)).toSeq
      case None => (1 to 8).map(i =>
        round4((if (b.length >= i) b(i - 1) & 0xff else 0) / 255.0))
    }
    feats.zipWithIndex.map { case (v, ix) => (id, (ix + 1).toLong, v) }
  }

  /** The decoder seam: a media decoder implements this signature — one
    * call per PARTITION, receiving an iterator of (id, payload) so the
    * implementation can batch into whatever shape the underlying
    * library wants (contiguous buffers, GPU batches).
    */
  type BatchDecoder = Iterator[(Long, Array[Byte])] => Iterator[(Long, Array[Float])]

  /** Magic-number table shared by the Scala sniff ([[magicOf]]) and the
    * Column sniff ([[sniffFormat]]); MultimodalSpec pins their
    * agreement on real fixture bytes AND on adversarial edge payloads
    * (truncated ftyp, table-magic + ftyp combos). Hex prefixes at
    * offset 0 — RIFF/WAVE, ftyp/mp4 and the bare-frame mp3 sync need a
    * probe past a prefix table and are handled out-of-table, in the
    * SAME precedence in both twins: table → wav → mp4 (≥12 bytes) →
    * bare-frame mp3 → unknown. */
  private val Magics: Seq[(String, String)] = Seq(
    "89504E47" -> "png",
    "FFD8FF" -> "jpeg",
    "47494638" -> "gif",
    "424D" -> "bmp",
    "494433" -> "mp3") // ID3-tagged mp3

  /** Format sniff over raw bytes (executor-side, inside the decode
    * seam). Precedence mirrors [[sniffFormat]] exactly. */
  private[graft] def magicOf(bytes: Array[Byte]): String = {
    def hexAt(off: Int, n: Int): String =
      bytes.slice(off, off + n).map(b => f"${b & 0xff}%02X").mkString
    val head = hexAt(0, 4)
    Magics.collectFirst { case (m, f) if head.startsWith(m) => f }
      .orElse(if (head == "52494646" && hexAt(8, 4) == "57415645") Some("wav") else None)
      .orElse(if (head == "52494646" && hexAt(8, 4) == "41564920") Some("avi") else None)
      .orElse(if (bytes.length >= 12 && hexAt(4, 4) == "66747970") Some("mp4") else None)
      // bare-frame mp3 (no ID3 tag — common in scraped corpora): the
      // 11-bit MPEG frame sync, 0xFF then top-3 bits of the next byte
      .orElse(if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
        (bytes(1) & 0xe0) == 0xe0) Some("mp3") else None)
      .getOrElse("unknown")
  }

  /** The same magic table as a codegen'd Column (sniffing a binary
    * column inside a query, no UDF): prefix-compare the hex rendering.
    * Same precedence and length guards as [[magicOf]] — the table
    * first, then the offset probes (wav, mp4 with the ≥12-byte guard,
    * bare-frame mp3 with the ≥4-byte guard). */
  def sniffFormat(payload: Column): Column = {
    val hx = hex(payload)
    val probes =
      when(substring(hx, 1, 8) === "52494646" &&
        substring(hx, 17, 8) === "57415645", "wav")
        .when(substring(hx, 1, 8) === "52494646" &&
          substring(hx, 17, 8) === "41564920", "avi")
        .when(length(hx) >= 24 && substring(hx, 9, 8) === "66747970", "mp4")
        .when(length(hx) >= 8 && substring(hx, 1, 2) === "FF" &&
          substring(hx, 3, 1).isin("E", "F"), "mp3")
        .otherwise("unknown")
    Magics.foldRight(probes) { case ((m, f), els) =>
      when(substring(hx, 1, m.length) === m, f).otherwise(els)
    }
  }

  /** Deterministic byte-derived features: 8 floats from the first 8
    * bytes. The fallback for formats the JDK can't decode and for
    * corrupt payloads. */
  private def fallbackFeatures(bytes: Array[Byte]): Array[Float] =
    Array.tabulate(8)(i =>
      if (i < bytes.length) (bytes(i) & 0xff) / 255.0f else 0.0f)

  /** Byte-derived stub decoder (touches no decode library). */
  val fakeDecoder: BatchDecoder = batch =>
    batch.map { case (id, bytes) => id -> fallbackFeatures(bytes) }

  // ---- mp3 / mp4 metadata parsers -----------------------------------
  //
  // The JDK ships no mp3/mp4 codec, but both container formats publish
  // their metadata as plain byte arithmetic (ISO/IEC 11172-3 frame
  // headers; ISO/IEC 14496-12 box structure), so the decode seam can
  // emit REAL features for them without decoding a single sample.

  // MPEG-1/2/2.5 Layer III bitrate (kbps) and sample-rate tables,
  // indexed by the 4-bit / 2-bit header fields. 0 marks free/invalid.
  private val Mp3BitrateV1L3 =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0)
  private val Mp3BitrateV2L3 =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0)
  private val Mp3RateV1 = Array(44100, 48000, 32000, 0)

  /** Parse the first MPEG audio frame header: returns (version, layer,
    * bitrateKbps, sampleRate, channels) or None. For ID3v2-tagged
    * files the tag is skipped via its syncsafe size; then a bounded
    * scan (64 KB) finds the first frame sync — real rips carry
    * padding/garbage before the first frame. */
  private[graft] def mp3Header(bytes: Array[Byte]): Option[(Double, Int, Int, Int, Int)] = {
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      // ID3v2 size: 4 syncsafe bytes (7 bits each) at offset 6-9
      val sz = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + sz
    }
    val limit = math.min(bytes.length - 4, off + 65536)
    while (off >= 0 && off <= limit) {
      if ((bytes(off) & 0xff) == 0xff && (bytes(off + 1) & 0xe0) == 0xe0) {
        val b1 = bytes(off + 1) & 0xff
        val b2 = bytes(off + 2) & 0xff
        val b3 = bytes(off + 3) & 0xff
        val verBits = (b1 >> 3) & 0x3   // 00=2.5, 10=2, 11=1 (01 invalid)
        val layerBits = (b1 >> 1) & 0x3 // 01=III, 10=II, 11=I (00 invalid)
        val brIdx = (b2 >> 4) & 0xf
        val srIdx = (b2 >> 2) & 0x3
        val chMode = (b3 >> 6) & 0x3    // 11 = mono
        if (verBits != 1 && layerBits != 0 && srIdx != 3 && brIdx != 0 && brIdx != 15) {
          val version = verBits match {
            case 3 => 1.0; case 2 => 2.0; case _ => 2.5
          }
          val layer = 4 - layerBits // bits 01→Layer III
          // rate tables: MPEG-2 halves, MPEG-2.5 quarters the V1 rates
          val sr = Mp3RateV1(srIdx) / (version match {
            case 1.0 => 1; case 2.0 => 2; case _ => 4
          })
          val br = if (version == 1.0) Mp3BitrateV1L3(brIdx) else Mp3BitrateV2L3(brIdx)
          val channels = if (chMode == 3) 1 else 2
          return Some((version, layer, br, sr, channels))
        }
      }
      off += 1
    }
    None
  }

  /** mp3 features from the frame header — no decode: [channels/8,
    * rate/96k, bitrate/320, version/3, layer/4, est. duration/60s
    * capped (bytes·8/bitrate — exact for CBR), 0, 0]. */
  private def mp3Features(bytes: Array[Byte]): Array[Float] =
    mp3Header(bytes) match {
      case None => fallbackFeatures(bytes)
      case Some((version, layer, br, sr, ch)) =>
        val durSec = if (br > 0) bytes.length * 8.0 / (br * 1000.0) else 0.0
        Array(ch / 8.0, math.min(sr / 96000.0, 1.0), math.min(br / 320.0, 1.0),
          version / 3.0, layer / 4.0, math.min(durSec / 60.0, 1.0), 0.0, 0.0)
          .map(_.toFloat)
    }

  private def beU32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
  private def beU64(b: Array[Byte], off: Int): Long =
    (beU32(b, off) << 32) | beU32(b, off + 4)

  /** Walk ISO-BMFF (mp4) boxes: find moov/mvhd for timescale+duration
    * and count moov/trak children. Returns (durationSec, timescale,
    * nTracks, mvhdVersion) or None. Size-0 ("to end of file") and
    * size-1 (64-bit largesize) boxes are honored; malformed sizes
    * terminate the walk rather than loop. */
  private[graft] def mp4Meta(bytes: Array[Byte]): Option[(Double, Long, Int, Int)] = {
    def boxes(lo: Long, hi: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var off = lo
        def hasNext: Boolean = off + 8 <= hi
        def next(): (String, Long, Long) = {
          val sz0 = beU32(bytes, off.toInt)
          val typ = new String(bytes, off.toInt + 4, 4, "ISO-8859-1")
          val (body, sz) =
            if (sz0 == 1 && off + 16 <= hi) (off + 16, beU64(bytes, off.toInt + 8))
            else if (sz0 == 0) (off + 8, hi - off)
            else (off + 8, sz0)
          val end = off + math.max(sz, 8) // malformed size<8 can't recurse
          val r = (typ, body, math.min(end, hi))
          off = if (end <= off) hi else end // never loop on bad sizes
          r
        }
      }
    boxes(0, bytes.length.toLong).collectFirst { case ("moov", b, e) =>
      var ts = 0L; var dur = 0L; var ver = 0; var nTrak = 0; var found = false
      boxes(b, e).foreach {
        case ("mvhd", mb, me) if me - mb >= 20 =>
          ver = bytes(mb.toInt) & 0xff
          if (ver == 1) {
            // v1 has 8-byte times: beU64 at mb+24 reads through mb+31,
            // so the body must span 32 bytes. A shorter v1 body is
            // malformed — skip it (don't fall back to v0 offsets, which
            // would read mid-field garbage) per the walk's contract.
            if (me - mb >= 32) {
              found = true
              ts = beU32(bytes, mb.toInt + 20); dur = beU64(bytes, mb.toInt + 24)
            }
          } else {
            found = true
            ts = beU32(bytes, mb.toInt + 12); dur = beU32(bytes, mb.toInt + 16)
          }
        case ("trak", _, _) => nTrak += 1
        case _ =>
      }
      if (found && ts > 0) Some((dur.toDouble / ts, ts, nTrak, ver)) else None
    }.flatten
  }

  /** mp4 features from the box walk — no decode: [duration/3600s
    * capped, tracks/16 capped, timescale/96k capped, mvhd version,
    * 0...]. */
  private def mp4Features(bytes: Array[Byte]): Array[Float] =
    mp4Meta(bytes) match {
      case None => fallbackFeatures(bytes)
      case Some((durSec, ts, nTrak, ver)) =>
        Array(math.min(durSec / 3600.0, 1.0), math.min(nTrak / 16.0, 1.0),
          math.min(ts / 96000.0, 1.0), ver.toDouble, 0.0, 0.0, 0.0, 0.0)
          .map(_.toFloat)
    }

  /** Decompression-bomb guard: probe WIDTH×HEIGHT from the image
    * HEADER via ImageReader before any pixel allocation — a 50k×50k
    * PNG header would make ImageIO.read allocate gigabytes and die
    * with OutOfMemoryError, which NonFatal does NOT catch, killing the
    * partition the degrade-never-throw contract protects. Oversized or
    * unreadable images return null (caller falls back). */
  private val MaxImagePixels = 64L * 1024 * 1024 // ≈256 MB ARGB
  private[graft] def readImageBounded(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) null
      else {
        val r = readers.next()
        // the header probe itself throws on truncated/corrupt streams
        // (EOF mid-PNG-header — found by the decode-seam fuzz): the
        // scaladoc's contract is null, not throw, so the probe is
        // guarded like the size check
        try {
          r.setInput(iis)
          val (w, h) = (r.getWidth(0).toLong, r.getHeight(0).toLong)
          if (w <= 0 || h <= 0 || w * h > MaxImagePixels) null
          else r.read(0)
        } catch { case scala.util.control.NonFatal(_) => null }
        finally r.dispose()
      }
    } finally if (iis != null) iis.close()
  }

  /** Pixel statistics over a decoded image, sampled on a ≤64×64 grid so
    * feature cost is bounded regardless of resolution: [w, h scaled by
    * 4096, mean R, G, B, mean luma, luma stddev, aspect/8]. */
  private def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val (sx, sy) = (math.max(1, w / 64), math.max(1, h / 64))
    var n = 0L
    var (sr, sg, sb, sl, sl2) = (0.0, 0.0, 0.0, 0.0, 0.0)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val l = (r + g + b) / 3.0
        sr += r; sg += g; sb += b; sl += l; sl2 += l * l; n += 1
        x += sx
      }
      y += sy
    }
    val lumMean = sl / n
    val lumVar = math.max(0.0, sl2 / n - lumMean * lumMean)
    Array(math.min(w / 4096.0, 1.0), math.min(h / 4096.0, 1.0),
      sr / n / 255.0, sg / n / 255.0, sb / n / 255.0, lumMean / 255.0,
      math.sqrt(lumVar) / 255.0, math.min(w.toDouble / h, 8.0) / 8.0)
      .map(_.toFloat)
  }

  /** Sample statistics over a decoded PCM stream (first 4096 frames,
    * channel 0): [channels/8, rate/96k, duration/60s capped, bits/32,
    * mean |amp|, rms, zero-crossing rate, 0]. */
  private def audioFeatures(in: javax.sound.sampled.AudioInputStream): Array[Float] = {
    val fmt = in.getFormat
    val bytesPerSample = math.max(1, fmt.getSampleSizeInBits / 8)
    val frameSize = math.max(1, fmt.getFrameSize)
    val buf = new Array[Byte](4096 * frameSize)
    var filled = 0
    var r = in.read(buf, 0, buf.length)
    while (r > 0 && filled < buf.length) {
      filled += r
      r = in.read(buf, filled, buf.length - filled)
    }
    val nSamples = filled / frameSize
    var (sa, s2) = (0.0, 0.0)
    var zc = 0
    var prev = 0.0
    for (i <- 0 until nSamples) {
      val off = i * frameSize // channel 0 leads each frame
      val amp = bytesPerSample match {
        case 1 => ((buf(off) & 0xff) - 128) / 128.0 // 8-bit PCM is unsigned
        case _ => // 16-bit PCM, honoring the container's endianness
          val (lo, hi) =
            if (fmt.isBigEndian) (buf(off + 1), buf(off)) else (buf(off), buf(off + 1))
          ((hi << 8) | (lo & 0xff)) / 32768.0
      }
      sa += math.abs(amp); s2 += amp * amp
      if (i > 0 && amp * prev < 0) zc += 1
      prev = amp
    }
    val n = math.max(1, nSamples)
    val durSec = if (in.getFrameLength > 0) in.getFrameLength / fmt.getFrameRate else 0f
    Array(fmt.getChannels / 8.0, math.min(fmt.getSampleRate / 96000.0, 1.0),
      math.min(durSec / 60.0, 1.0), fmt.getSampleSizeInBits / 32.0,
      sa / n, math.sqrt(s2 / n), zc.toDouble / n, 0.0).map(_.toFloat)
  }

  /** REAL decoder on JDK built-ins — no external libraries: images via
    * `javax.imageio` (PNG, JPEG, GIF, BMP; dimensions probed from the
    * header first so a decompression-bomb can't OOM the partition —
    * [[readImageBounded]]), WAV via `javax.sound.sampled`, and mp3/mp4
    * METADATA via pure byte arithmetic ([[mp3Header]]/[[mp4Meta]] —
    * the JDK ships no codec for their samples, but frame headers and
    * mvhd boxes are public byte formats). Unknown formats and decode
    * failures degrade to [[fallbackFeatures]] instead of killing the
    * stage — at 100 TB corrupt media is routine, and one throwing blob
    * must not fail a 10M-row partition. */
  val jdkDecoder: BatchDecoder = batch =>
    batch.map { case (id, bytes) =>
      val feats =
        try {
          magicOf(bytes) match {
            case "png" | "jpeg" | "gif" | "bmp" =>
              val img = readImageBounded(bytes)
              if (img == null) fallbackFeatures(bytes) else imageFeatures(img)
            case "wav" =>
              val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              try audioFeatures(in) finally in.close()
            case "mp3" => mp3Features(bytes)
            case "mp4" => mp4Features(bytes)
            case _ => fallbackFeatures(bytes)
          }
        } catch { case scala.util.control.NonFatal(_) => fallbackFeatures(bytes) }
      id -> feats
    }

  /** Partition-parallel decode through the seam: mapPartitions keeps
    * the batch shape (one decoder call per partition, streaming
    * iterator in/out — no per-row library setup, no driver transfer).
    * Default decoder is the real JDK one; the synthetic text payloads
    * sniff as `unknown`, so gate behavior equals the byte fallback.
    */
  def decodeFeatures(spark: SparkSession, dir: String,
      decoder: BatchDecoder = jdkDecoder): DataFrame =
    decodePayloads(spark, media(spark, dir).select(col("media_id"), col("payload")), decoder)

  /** The same seam over any (media_id, payload) frame — what a real
    * ingest calls after its own source read. */
  def decodePayloads(spark: SparkSession, payloads: DataFrame,
      decoder: BatchDecoder = jdkDecoder): DataFrame = {
    import spark.implicits._
    payloads
      .select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(decoder)
      .toDF("media_id", "features")
  }

  /** 64-bit difference hash (dHash — public perceptual-hash family):
    * 9×8 luma grid, each cell averaged over ≤16 sampled pixels
    * (bounded cost at any resolution, and box averaging keeps
    * single-pixel noise from flipping gradient bits), bit = left-to-
    * right luma gradient sign. Perceptually-similar images land within
    * a small Hamming distance; MultimodalSpec pins noise-invariance
    * and gradient-inversion sensitivity. */
  private[graft] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val lum = Array.ofDim[Double](8, 9)
    for (gy <- 0 until 8; gx <- 0 until 9) {
      val (x0, x1) = (gx * w / 9, math.max(gx * w / 9 + 1, (gx + 1) * w / 9))
      val (y0, y1) = (gy * h / 8, math.max(gy * h / 8 + 1, (gy + 1) * h / 8))
      val (sx, sy) = (math.max(1, (x1 - x0) / 4), math.max(1, (y1 - y0) / 4))
      var (s, n) = (0.0, 0)
      var y = y0
      while (y < y1) {
        var x = x0
        while (x < x1) {
          val rgb = img.getRGB(x, y)
          s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          n += 1
          x += sx
        }
        y += sy
      }
      lum(gy)(gx) = s / n
    }
    var bits = 0L
    for (gy <- 0 until 8; gx <- 0 until 8)
      if (lum(gy)(gx + 1) > lum(gy)(gx)) bits |= 1L << (gy * 8 + gx)
    bits
  }

  /** Perceptual hashes through the decode seam — the key enabling a
    * NEAR-dup media tier on top of m04's exact content census: images
    * hash with [[dHash64]] (method "dhash"; similar images → small
    * Hamming distance, so downstream dedup buckets on hash bands the
    * d05 way), everything else falls back to a content-hash prefix
    * (method "content" — exact-dup-only semantics for payloads no
    * decoder can see into; deterministic, never throws). Partition-
    * parallel like [[decodePayloads]]; hashes shuffle, payloads don't.
    */
  def perceptualHashes(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val hashed =
          try {
            magicOf(bytes) match {
              case "png" | "jpeg" | "gif" | "bmp" =>
                val img = readImageBounded(bytes)
                if (img == null) None else Some(dHash64(img))
              case _ => None
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        hashed match {
          case Some(hs) => (id, hs, "dhash")
          case None =>
            val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
            val prefix = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (md(i) & 0xffL))
            (id, prefix, "content")
        }
      })
      .toDF("media_id", "phash", "method")
  }

  // ---- m05: near-dup media dedup over perceptual hashes ------------

  private[graft] val M05HammingMax = 3
  private[graft] val M05Bands = 4

  /** Deterministic canary pair for the m05 gate: a 9×8 24-bit BMP
    * whose pixels map 1:1 onto [[dHash64]]'s 9×8 grid (w=9 ⇒ each
    * grid cell is exactly one pixel, no sampling), gray value 20·x+10
    * — strictly increasing left-to-right, so the base hash is all 64
    * gradient bits set. The perturbed twin darkens pixel (0,4) to 10,
    * flipping EXACTLY gradient bit (0,3) (30 > 210 is false) while
    * bit (0,4) still holds (330 > 30) — Hamming distance exactly 1:
    * a true NEAR-duplicate (not exact), constructed, not sampled.
    * The corpus carries no real images, so without the canary the
    * dhash tier would be vacuous at every SF (the t11/d10 pattern).
    * MultimodalSpec pins the sniff, both hash values and the
    * distance. */
  private[graft] def canaryBmp(perturbed: Boolean): Array[Byte] =
    gridBmp((x, y) => if (perturbed && y == 0 && x == 4) 10 else 20 * x + 10)

  /** The m11 "far" probe: the canary's 9×8 grid with the gray gradient
    * REVERSED (170 − 20·x, strictly decreasing left-to-right), so every
    * gradient bit is UNSET where the canary's is SET — dHash Hamming
    * exactly 64, all [[M05Bands]] bands differ, and the banded probe
    * provably finds no candidate (the sentinel face of retrieval). */
  private[graft] def farBmp: Array[Byte] = gridBmp((x, _) => 170 - 20 * x)

  /** 9×8 24-bit grayscale BMP with per-pixel gray from `px(x, y)` —
    * pixels map 1:1 onto [[dHash64]]'s 9×8 grid (see [[canaryBmp]]). */
  private def gridBmp(px: (Int, Int) => Int): Array[Byte] = {
    val (w, h) = (9, 8)
    val rowBytes = w * 3
    val stride = (rowBytes + 3) / 4 * 4
    val dataSize = stride * h
    val fileSize = 54 + dataSize
    val out = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte).putInt(fileSize).putInt(0).putInt(54)
    out.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    out.putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- h - 1 to 0 by -1) { // BMP stores rows bottom-up
      for (x <- 0 until w) {
        val v = px(x, y)
        out.put(v.toByte).put(v.toByte).put(v.toByte) // B, G, R
      }
      out.put(Array.fill[Byte](stride - rowBytes)(0))
    }
    out.array()
  }

  /** m05: near-dup MEDIA dedup census — the approximate twin of m04's
    * exact census, built on [[perceptualHashes]]: per hash method, how
    * many items, candidate pairs, exact dupes (Hamming 0) and true
    * near-dupes (0 < Hamming ≤ [[M05HammingMax]]).
    *
    * Two tiers with different join keys, both linear in shuffle
    * volume:
    *  - "dhash" (decodable images): 64-bit dHash banded into
    *    [[M05Bands]] 16-bit chunks — the d05 pigeonhole, exact for
    *    Hamming ≤ 3 (4 bands, 3 flipped bits leave ≥1 band intact) —
    *    candidates verified by bit_count(xor). Band buckets are
    *    hot-capped ([[Dedup.capBandBuckets]], corpus-relative cap):
    *    boilerplate imagery (solid-color thumbnails) all hashes to the
    *    same few values and would otherwise put k² pair events under
    *    one shuffle key.
    *  - "content" (everything else): the md5-prefix hash has no
    *    locality, so near-dup tolerance is meaningless — pairs join on
    *    the FULL 64-bit hash (exact-dup-only semantics; banding a
    *    locality-free hash would turn 2⁶⁴ join keys into 2¹⁶ buckets
    *    of n/65536 members each — a quadratic blowup for zero recall).
    *    Two distinct payloads within Hamming ≤ 3 of each other's md5
    *    prefix would diverge from the oracle's string-equality replay;
    *    at ≤ C(64,3)/2⁶⁴ ≈ 2⁻⁴⁷ per pair that is the same measure-zero
    *    standard as d03's 64-bit shingle hashes (Dedup.scala note).
    *
    * The gate feeds the corpus plus the [[canaryBmp]] pair under
    * reserved negative ids; the oracle replays the content tier from
    * md5 strings and carries the canary's dhash row as the known
    * constant it is. */
  def m05MediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = media(spark, dir).select(col("media_id"), col("payload"))
    // negative ids: guaranteed fresh against the corpus's non-negative
    // ids, with no max(id) aggregation needed (cf. d10's canary id)
    val canary = Seq((-1L, canaryBmp(false)), (-2L, canaryBmp(true)))
      .toDF("media_id", "payload")
    m05Census(spark, corpus.unionAll(canary))
  }

  /** The m05 census over any (media_id, payload) frame. A production
    * run lands [[perceptualHashes]] output as a table first (hashes
    * are 17 bytes/row; decode is the expensive pass) — here the
    * lineage recompute per branch is accepted for gate simplicity. */
  private[graft] def m05Census(spark: SparkSession, payloads: DataFrame): DataFrame =
    bandedHashCensus(spark, perceptualHashes(spark, payloads),
      payloads.count(), "dhash")

  /** The shared m05/m06 near-dup census over a (media_id, phash,
    * method) frame: the `nearMethod` tier bands its 64-bit hashes
    * 4×16 (pigeonhole-exact for Hamming ≤ [[M05HammingMax]], hot-
    * bucket capped), the "content" tier exact-joins on the full hash.
    * `n` sizes the band caps (a metadata count — no decode pass). */
  /** The 4×16 Hamming band rows of a (media_id, phash) frame — the
    * d05 pigeonhole (Hamming ≤ [[M05HammingMax]] leaves ≥1 of the
    * [[M05Bands]] 16-bit bands intact), shared by the in-place census
    * tiers and m08's persisted index. */
  private def dhashBands(dh: DataFrame): DataFrame =
    dh.select(col("media_id"), col("phash"),
        explode(sequence(lit(0), lit(M05Bands - 1))).as("band"))
      .withColumn("bh",
        expr(s"shiftrightunsigned(phash, band * 16) & ${(1 << 16) - 1}"))

  private def bandedHashCensus(spark: SparkSession, hashed: DataFrame,
      n: Long, nearMethod: String): DataFrame = {
    val dh = hashed.filter(col("method") === nearMethod)
    val bands = Dedup.capBandBuckets(dhashBands(dh),
      Seq("band", "bh"), Dedup.bandCap(n))
    val dhPairs = bands.as("a").hint("shuffle_hash").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ida"), col("b.media_id").as("idb"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long").as("hamming"))
      .distinct() // a pair can meet under several intact bands
      .filter(col("hamming") <= M05HammingMax)
      .withColumn("method", lit(nearMethod))
    val ch = hashed.filter(col("method") === "content")
      .select(col("media_id"), col("phash"))
    val chPairs = ch.as("a").hint("shuffle_hash").join(ch.as("b"),
        col("a.phash") === col("b.phash") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("ida"), col("b.media_id").as("idb"),
        lit(0L).as("hamming"))
      .withColumn("method", lit("content"))
    val pairs = dhPairs.unionByName(chPairs)
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("hamming") > 0, 1L).otherwise(0L)).as("n_near"))
    hashed.groupBy(col("method")).agg(count(lit(1)).as("n_items"))
      .join(pairs, Seq("method"), "left")
      .na.fill(0L, Seq("n_pairs", "n_exact", "n_near"))
      .orderBy("method")
  }

  // ---- m06: audio near-dup over windowed-energy fingerprints --------

  private val AfpWindows = 65 // 65 energies → 64 difference bits
  private val AfpMaxFrames = AfpWindows * 1024 // decode cost bound

  /** 64-bit audio difference fingerprint — [[dHash64]]'s idea applied
    * to PCM: decode channel 0 (up to [[AfpMaxFrames]] frames — bounded
    * cost at any duration), split the decoded span into
    * [[AfpWindows]] equal windows of mean |amplitude|, bit i = sign of
    * the energy gradient e(i) > e(i+1). Loudness envelopes survive
    * re-encoding and small noise the way luma gradients survive
    * resizing, and Hamming distance over the bits is the same
    * banded-join key space as the image tier. None when the payload
    * doesn't decode or is too short for ≥2 samples per window (falls
    * to the content tier — never a fake fingerprint). */
  private[graft] def audioFingerprint64(bytes: Array[Byte]): Option[Long] =
    audioWindowEnergies(bytes, AfpWindows).map { e =>
      (0 until AfpWindows - 1).foldLeft(0L)((acc, i) =>
        (acc << 1) | (if (e(i) > e(i + 1)) 1L else 0L))
    }

  /** The decode half of [[audioFingerprint64]], reusable by m10's
    * segmentation: channel-0 mean |amplitude| per window over the
    * first [[AfpMaxFrames]] frames. Same decodable-format contract
    * (u8 / s16 PCM only; anything else → None, never garbage). */
  private[graft] def audioWindowEnergies(bytes: Array[Byte],
      nWindows: Int): Option[Array[Double]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        // the sample decode below understands exactly two layouts:
        // unsigned 8-bit and signed 16-bit PCM. Anything else (float,
        // 24/32-bit, signed-8) must fall to the content tier — "never a
        // fake fingerprint" — not decode as garbage (r11 advice item 3)
        val enc = fmt.getEncoding
        val bits = fmt.getSampleSizeInBits
        val decodable =
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED && bits == 8) ||
          (enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED && bits == 16)
        if (!decodable) None // short-circuit BEFORE the buffer/read cost
        else {
          val bytesPerSample = math.max(1, fmt.getSampleSizeInBits / 8)
          val frameSize = math.max(1, fmt.getFrameSize)
          val buf = new Array[Byte](AfpMaxFrames * frameSize)
          var filled = 0
          var r = in.read(buf, 0, buf.length)
          while (r > 0 && filled < buf.length) {
            filled += r
            r = in.read(buf, filled, buf.length - filled)
          }
          val nSamples = filled / frameSize
          if (nSamples < nWindows * 2) None
          else {
            val e = new Array[Double](nWindows)
            val per = nSamples / nWindows
            for (w <- 0 until nWindows) {
              var s = 0.0
              for (i <- w * per until (w + 1) * per) {
                val off = i * frameSize // channel 0 leads each frame
                val amp = bytesPerSample match {
                  case 1 => ((buf(off) & 0xff) - 128) / 128.0
                  case _ =>
                    val (lo, hi) = if (fmt.isBigEndian) (buf(off + 1), buf(off))
                      else (buf(off), buf(off + 1))
                    ((hi << 8) | (lo & 0xff)) / 32768.0
                }
                s += math.abs(amp)
              }
              e(w) = s / per
            }
            Some(e)
          }
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** [[perceptualHashes]]'s audio twin: wav-sniffed decodable payloads
    * get the [[audioFingerprint64]] under method "afp"; everything
    * else falls to the md5-prefix content tier. Same row shape, same
    * downstream census. */
  private[graft] def audioHashes(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val hashed =
          if (magicOf(bytes) == "wav") audioFingerprint64(bytes) else None
        hashed match {
          case Some(hs) => (id, hs, "afp")
          case None =>
            val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
            val prefix = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (md(i) & 0xffL))
            (id, prefix, "content")
        }
      })
      .toDF("media_id", "phash", "method")
  }

  /** Deterministic canary pair for the m06 gate, the [[canaryBmp]]
    * pattern for audio: 16-bit PCM mono WAV, [[AfpWindows]] windows of
    * 32 constant-amplitude samples alternating loud (16000) / quiet
    * (8000), so the base fingerprint is the alternating bit pattern.
    * The perturbed twin quiets ONLY the last window (16000 → 1600),
    * which participates in exactly one gradient comparison (bit 63:
    * 8000 > 16000 was false, 8000 > 1600 is true) — Hamming distance
    * exactly 1, a constructed true near-duplicate. */
  private[graft] def canaryWav(perturbed: Boolean): Array[Byte] = {
    val per = 32
    val n = AfpWindows * per
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + dataSize)
      .put("WAVE".getBytes("ISO-8859-1"))
    out.put("fmt ".getBytes("ISO-8859-1")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000 * 2).putShort(2).putShort(16)
    out.put("data".getBytes("ISO-8859-1")).putInt(dataSize)
    for (w <- 0 until AfpWindows; _ <- 0 until per) {
      val base = if (w % 2 == 0) 16000 else 8000
      val amp = if (perturbed && w == AfpWindows - 1) 1600 else base
      out.putShort(amp.toShort)
    }
    out.array()
  }

  /** m06: near-dup AUDIO dedup census — m05's structure with the
    * decodable tier keyed by [[audioFingerprint64]] instead of dHash:
    * per method, items / candidate pairs / exact (Hamming 0) / true
    * near (0 < Hamming ≤ 3). Same 4×16 banding, same pigeonhole
    * exactness, same hot-bucket caps, same content fallback — one
    * census shape across modalities ([[bandedHashCensus]]). The gate
    * corpus carries no real audio, so the [[canaryWav]] pair keeps the
    * afp tier non-vacuous at every SF (the canaryBmp pattern). */
  def m06AudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = media(spark, dir).select(col("media_id"), col("payload"))
    val canary = Seq((-1L, canaryWav(false)), (-2L, canaryWav(true)))
      .toDF("media_id", "payload")
    val payloads = corpus.unionAll(canary)
    bandedHashCensus(spark, audioHashes(spark, payloads),
      payloads.count(), "afp")
  }

  private val FrameBytes = 16
  private val SampleEvery = 4
  private val MaxGifFrames = 64

  /** Decode every `step`-th frame of a (possibly animated) GIF via the
    * JDK's ImageIO GIF reader — the one video-ish container the JDK can
    * decode multi-frame, making frame sampling PIXEL-REAL for it (mp4
    * stays byte-fallback: no JDK codec). Returns (frameIndex, image)
    * pairs; bounded by [[MaxGifFrames]] and the same per-frame
    * decompression-bomb pixel guard as [[readImageBounded]]. Frames are
    * decoded standalone (no disposal-method compositing — each frame is
    * what the reader yields for its index, the public ImageIO
    * behavior); undecodable or oversized frames are skipped. */
  private[graft] def gifFrames(bytes: Array[Byte], step: Int = 1,
      maxFrames: Int = MaxGifFrames): Seq[(Int, java.awt.image.BufferedImage)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) Seq.empty
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          // getNumImages walks the stream and throws on truncation
          // (same fuzz-found class as the readImageBounded header probe)
          val n = try math.min(math.max(r.getNumImages(true), 0), maxFrames)
            catch { case scala.util.control.NonFatal(_) => 0 }
          (0 until n by math.max(1, step)).flatMap { i =>
            try {
              val (w, h) = (r.getWidth(i).toLong, r.getHeight(i).toLong)
              if (w <= 0 || h <= 0 || w * h > MaxImagePixels) None
              else Some(i -> r.read(i))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        } finally r.dispose()
      }
    } finally if (iis != null) iis.close()
  }

  /** The byte-frame rows of ONE payload, executor-side — the exact
    * Scala mirror of [[m03FrameSample]]'s columnar formula (same
    * frame_no stride, offset arithmetic, and 4-byte hex slice incl. the
    * short tail), used as the in-branch fallback when a GIF-sniffed
    * payload fails to decode: the row set must be indistinguishable
    * from the columnar path so a "GIF8"-prefixed non-image can never
    * desync from the oracle's byte replay. */
  private def byteFrameRows(id: Long, bytes: Array[Byte]): Seq[(Long, Long, Long, String)] =
    (0L to math.max(0L, (bytes.length - 1).toLong / FrameBytes) by SampleEvery).map { f =>
      val off = (f * FrameBytes).toInt
      val hex = bytes.slice(off, off + 4).map(b => f"${b & 0xff}%02X").mkString
      (id, f, f * FrameBytes, hex)
    }

  /** PIXEL-REAL frame rows for GIF payloads through the decode seam:
    * one row per sampled frame (every [[SampleEvery]]-th index, ≤
    * [[MaxGifFrames]]), frame_no = the frame INDEX, offset = -1 (frame
    * byte offsets are sub-stream positions the decoder doesn't expose —
    * the sentinel keeps the column honest), frame_hex = the frame's
    * [[dHash64]] as 16 hex chars — the SAME key m05's near-dup tier
    * bands on, so sampled video frames drop straight into perceptual
    * dedup. Decode failure (or zero decodable frames) falls back to
    * [[byteFrameRows]] — never throws, schema invariant. */
  private[graft] def gifFrameRows(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val frames =
          try gifFrames(bytes, SampleEvery)
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        if (frames.isEmpty) byteFrameRows(id, bytes)
        else frames.map { case (i, img) =>
          (id, i.toLong, -1L, f"${dHash64(img)}%016X")
        }
      })
      .toDF("media_id", "frame_no", "offset", "frame_hex")
  }

  /** Walk an AVI (RIFF) container's 'movi' LIST in pure byte
    * arithmetic and return every video frame chunk as (frameIndex,
    * dataOffset, dataLength) — the chunks whose fourcc ends 'dc'
    * (compressed) or 'db' (uncompressed), the MJPEG/DV frame carriers.
    * Defensive against malformed sizes (negative, truncated,
    * non-advancing) — returns what it parsed so far, never throws.
    * Unlike GIF, the container exposes REAL byte offsets per frame. */
  private[graft] def aviFrames(bytes: Array[Byte],
      maxFrames: Int = MaxGifFrames): Seq[(Int, Int, Int)] = {
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String =
      if (off + 4 <= bytes.length) new String(bytes, off, 4, "ISO-8859-1") else ""
    if (bytes.length < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ")
      return Seq.empty
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var off = 12
    var idx = 0
    while (off + 8 <= bytes.length && frames.length < maxFrames) {
      val id = fourcc(off)
      val sz = u32(off + 4)
      if (sz < 0 || sz > Int.MaxValue - 8) return frames.toSeq
      if (id == "LIST" && fourcc(off + 8) == "movi") {
        var p = off + 12
        val end = math.min(off + 8 + sz.toInt, bytes.length).toInt
        while (p + 8 <= end && frames.length < maxFrames) {
          val cid = fourcc(p)
          val csz = u32(p + 4)
          if (csz < 0 || p + 8 + csz > end) { p = end }
          else {
            if (cid.endsWith("dc") || cid.endsWith("db")) {
              frames += ((idx, p + 8, csz.toInt))
              idx += 1
            }
            p += 8 + csz.toInt + (csz.toInt & 1)
          }
        }
      }
      off += 8 + sz.toInt + (sz.toInt & 1)
    }
    frames.toSeq
  }

  /** Decode every `step`-th MJPEG frame of an AVI — [[aviFrames]]'s
    * movi walk feeding each sampled frame chunk through the REAL
    * [[readImageBounded]] JPEG seam (same decompression-bomb guard as
    * every image path). This closes the round-14 sanctioned mp4 fake:
    * the JDK ships no mp4 codec, but it DOES ship a JPEG codec, and
    * MJPEG-in-AVI is the classic container that needs nothing else —
    * the frame tier is now pixel-real for both its video containers
    * (GIF and AVI); ftyp/mp4 payloads fall back to the byte path like
    * any other codec-less format. */
  private[graft] def aviMjpegFrames(bytes: Array[Byte], step: Int = 1,
      maxFrames: Int = MaxGifFrames): Seq[(Int, java.awt.image.BufferedImage)] =
    aviFrames(bytes, maxFrames)
      .filter(_._1 % math.max(1, step) == 0)
      .flatMap { case (i, o, l) =>
        Option(readImageBounded(bytes.slice(o, o + l))).map(i -> _)
      }

  /** AVI frame rows through the SAME decode seam as [[gifFrameRows]]:
    * one row per sampled frame, frame_no = the frame index, offset =
    * the frame chunk's REAL data offset in the container (the column
    * GIF must sentinel with -1), frame_hex = the frame's [[dHash64]].
    * Parse/decode failure (or zero frames) falls back to
    * [[byteFrameRows]] — never throws, schema invariant, and a
    * 'RIFF…AVI '-prefixed non-video can never desync from the oracle's
    * byte replay. */
  private[graft] def aviFrameRows(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val rows =
          try aviFrames(bytes)
            .filter(_._1 % SampleEvery == 0)
            .flatMap { case (i, o, l) =>
              Option(readImageBounded(bytes.slice(o, o + l)))
                .map(img => (id, i.toLong, o.toLong, f"${dHash64(img)}%016X"))
            }
          catch { case scala.util.control.NonFatal(_) => Seq.empty }
        if (rows.isEmpty) byteFrameRows(id, bytes) else rows
      })
      .toDF("media_id", "frame_no", "offset", "frame_hex")
  }

  /** m03: frame sampling — every 4th 16-byte "frame" of the payload,
    * with its offset and a hex prefix (the shape a video keyframe
    * sampler produces: one row per sampled frame, partition-parallel).
    * GIF payloads take the PIXEL-REAL path instead ([[gifFrameRows]]:
    * decoded frames, dHash fingerprints), and so do AVI payloads
    * ([[aviFrameRows]] — MJPEG frames through the real JPEG codec,
    * with REAL container byte offsets). mp4 payloads take the byte
    * path like every other codec-less format (the round-14 fake-plane
    * stub is gone from the frame tier; mp4's real byte parsing lives
    * in the m06 container-metadata path). The route predicates read
    * ≤12 payload bytes (hex of byte-aligned slices), never the full
    * payload. The gate corpus carries no GIF/AVI payloads (verified:
    * no 'GIF8'/'RIFF' prefix at any SF), so the oracle replays the
    * byte path for every row; the GIF and AVI branches are pinned by
    * MultimodalSpec on constructed payloads. */
  def m03FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val m = media(spark, dir)
    val isGif = hex(substring(col("payload"), 1, 4)) === "47494638"
    val isAvi = hex(substring(col("payload"), 1, 4)) === "52494646" &&
      hex(substring(col("payload"), 9, 4)) === "41564920"
    val gifRows = gifFrameRows(spark,
      m.filter(isGif).select(col("media_id"), col("payload")))
    val aviRows = aviFrameRows(spark,
      m.filter(!isGif && isAvi).select(col("media_id"), col("payload")))
    byteFrameSample(m.filter(!isGif && !isAvi)).unionByName(gifRows)
      .unionByName(aviRows)
      .orderBy("media_id", "frame_no")
  }

  /** The columnar byte-frame sampler (all non-GIF payloads). */
  private def byteFrameSample(m: DataFrame): DataFrame =
    m.select(col("media_id"), col("payload"),
        // floor() because Column `/` is fractional division in both
        // engines (and DuckDB CAST(double AS BIGINT) ROUNDS, not truncates)
        explode(sequence(lit(0L),
          floor((col("meta.n_bytes") - 1) / lit(16.0)).cast("long"),
          lit(SampleEvery.toLong))).as("frame_no"))
      .select(col("media_id"),
        col("frame_no").cast("long").as("frame_no"),
        (col("frame_no") * FrameBytes).cast("long").as("offset"),
        // slice 4 payload BYTES at the frame offset, then hex the
        // slice. The old form hexed the ENTIRE payload once per
        // exploded frame row — O(n_bytes²/64) string work per document,
        // a genuine quadratic on megabyte media. Byte-aligned slices
        // render to the identical hex substring (2 chars/byte),
        // including the short tail when the payload ends mid-slice, so
        // the DuckDB oracle (which must slice hex — no BLOB substring
        // in its dialect) is unchanged.
        hex(col("payload").substr(
          (col("frame_no") * FrameBytes + 1).cast("int"), lit(4)))
          .as("frame_hex"))

  // ---- m07: video-LEVEL near-dup over per-frame fingerprints --------

  /** 64-bit SimHash (majority bit vote, ties → set) over a video's
    * per-frame [[dHash64]] multiset — the per-VIDEO signature m07
    * bands. SimHash, not MinHash-over-frames, deliberately: the shared
    * [[bandedHashCensus]] verifies candidates by HAMMING distance, and
    * the majority vote has exactly that locality (few changed frames →
    * few flipped majority bits), while concatenated MinHash chunks
    * change arbitrarily-many bits when one band's argmin moves —
    * band-EQUALITY semantics that would need a different verify tier
    * (d04 keeps MinHash where it belongs, on token-set Jaccard). */
  private[graft] def simhashOverFrames(frames: Seq[Long]): Long = {
    var sig = 0L
    var j = 0
    while (j < 64) {
      var cnt = 0
      frames.foreach(h => if (((h >>> j) & 1L) == 1L) cnt += 1)
      if (2 * cnt >= frames.length) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Per-video signatures through the SAME decode seam as m03's frame
    * sampler: GIF payloads decode every [[SampleEvery]]-th frame
    * pixel-real ([[gifFrames]]) and dHash each; AVI payloads do the
    * same through [[aviMjpegFrames]] (the real JPEG codec over the
    * movi chunk walk — both video tiers are now pixel-real, the
    * round-14 fake retired); the frame-hash multiset folds to one
    * [[simhashOverFrames]] signature per video (method "vsim").
    * Everything else — mp4 included (no JDK codec), and any video
    * that yields zero decodable frames — falls to the md5-prefix
    * content tier. Row shape matches
    * [[perceptualHashes]]/[[audioHashes]], so the shared census runs
    * unchanged. */
  private[graft] def videoHashes(spark: SparkSession, payloads: DataFrame): DataFrame = {
    import spark.implicits._
    payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val frames: Seq[Long] =
          try {
            magicOf(bytes) match {
              case "gif" => gifFrames(bytes, SampleEvery).map(f => dHash64(f._2))
              case "avi" => aviMjpegFrames(bytes, SampleEvery).map(f => dHash64(f._2))
              case _ => Seq.empty
            }
          } catch { case scala.util.control.NonFatal(_) => Seq.empty }
        if (frames.nonEmpty) (id, simhashOverFrames(frames), "vsim")
        else {
          val md = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          val prefix = (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (md(i) & 0xffL))
          (id, prefix, "content")
        }
      })
      .toDF("media_id", "phash", "method")
  }

  /** Deterministic canary pair for the m07 gate — two constructed
    * 5-frame animated GIFs (encoded with the JDK's own ImageIO GIF
    * writer, decoded back by the REAL [[gifFrames]] path). Frames 0-3
    * are a descending 9×8 gray gradient (dHash = all 64 bits CLEAR);
    * frame 4 is [[canaryBmp]]'s ascending gradient as a GIF frame
    * (dHash = all bits SET). The [[SampleEvery]]=4 sampler keeps
    * frames {0, 4}, so the signature's majority vote (2 frames,
    * tie → set) is the OR of the two frame hashes = all bits set. The
    * perturbed twin darkens frame 4's pixel (4,0) — canaryBmp's exact
    * one-bit flip, clearing gradient bit 3 in the sampled frame and
    * therefore bit 3 of the SIGNATURE: video-level Hamming exactly 1,
    * a constructed true near-duplicate pinned by MultimodalSpec. */
  private[graft] def canaryGif(perturbed: Boolean): Array[Byte] = {
    def frame(ascending: Boolean, perturb: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = if (perturb && y == 0 && x == 4) 10
          else if (ascending) 20 * x + 10 else 20 * (8 - x) + 10
        img.getRaster.setSample(x, y, 0, v)
      }
      img
    }
    val frames = Seq.fill(4)(frame(ascending = false, perturb = false)) :+
      frame(ascending = true, perturb = perturbed)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  /** Deterministic canary pair for m07's AVI tier — two constructed
    * MJPEG-in-AVI videos: 5 JPEG frames (encoded by the JDK's own
    * ImageIO JPEG writer at max quality, decoded back by the REAL
    * [[aviMjpegFrames]] path), 36×32 px with 4×4 constant blocks so
    * dHash's grid cells average whole blocks and JPEG's few-level
    * noise cancels. Frames 0-3: alternating columns 110/10 → dHash
    * bits at every odd gx = 0xAAAA…; frame 4: descending gradient →
    * dHash 0. [[SampleEvery]]=4 keeps {0, 4}; majority-with-tie→set
    * over 2 frames = OR ⇒ base signature 0xAAAA….  The perturbed twin
    * darkens frame 4's block (gx=4, gy=0) to 10, which SETS that
    * frame's bit 4 (70 > 10 where 70 > 90 failed) — bit 4 is clear in
    * 0xAA…, so the SIGNATURE flips exactly one bit: video-level
    * Hamming exactly 1, disjoint in every band from the GIF pair's
    * all-ones signatures (0xFFFF ≠ 0xAAAA in each 16-bit band), so
    * the two canary pairs can never cross-match. MultimodalSpec pins
    * the construction frame by frame. */
  private[graft] def canaryAvi(perturbed: Boolean): Array[Byte] = {
    def frame(kind: String, perturb: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(36, 32,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 32; x <- 0 until 36) {
        val gx = x / 4
        val v = if (perturb && y < 4 && gx == 4) 10
          else if (kind == "alt") { if (gx % 2 == 0) 110 else 10 }
          else 20 * (8 - gx) + 10 // descending
        img.getRaster.setSample(x, y, 0, v)
      }
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      try {
        w.setOutput(ios)
        val p = w.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(1.0f)
        w.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { w.dispose(); ios.close() }
      baos.toByteArray
    }
    val jpegs = Seq.fill(4)(frame("alt", perturb = false)) :+
      frame("desc", perturbed)
    aviContainer(jpegs)
  }

  /** Assemble MJPEG frames into a minimal RIFF/AVI container: a stub
    * hdrl LIST (skipped by the parser, present for container shape)
    * and the movi LIST of '00dc' frame chunks with even-byte padding —
    * the exact layout [[aviFrames]] walks. */
  private[graft] def aviContainer(frames: Seq[Array[Byte]]): Array[Byte] = {
    def u32le(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def cc(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
    val movi = new java.io.ByteArrayOutputStream()
    movi.write(cc("movi"))
    frames.foreach { j =>
      movi.write(cc("00dc")); movi.write(u32le(j.length)); movi.write(j)
      if ((j.length & 1) == 1) movi.write(0)
    }
    def list(content: Array[Byte]): Array[Byte] =
      cc("LIST") ++ u32le(content.length) ++ content
    val hdrl = cc("hdrl") ++ cc("avih") ++ u32le(56) ++ Array.fill[Byte](56)(0)
    val body = cc("AVI ") ++ list(hdrl) ++ list(movi.toByteArray)
    cc("RIFF") ++ u32le(body.length) ++ body
  }

  /** m07: video-level near-dup census — m05's structure one level up:
    * the decodable tier keys on the per-VIDEO [[simhashOverFrames]]
    * signature over m03's per-frame fingerprints instead of a single
    * image hash. Same 4×16 banding, same pigeonhole exactness for
    * Hamming ≤ 3, same hot-bucket caps, same content fallback — the
    * fourth modality through the ONE census shape
    * ([[bandedHashCensus]]). The gate corpus carries no GIF/AVI
    * payloads (the m03 invariant), so TWO canary pairs keep the vsim
    * tier non-vacuous at every SF — [[canaryGif]] (JDK GIF round-trip)
    * and [[canaryAvi]] (JDK JPEG round-trip through the MJPEG movi
    * walk), each Hamming exactly 1 within its pair and band-disjoint
    * across pairs. */
  def m07VideoNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = media(spark, dir).select(col("media_id"), col("payload"))
    val canary = Seq((-1L, canaryGif(false)), (-2L, canaryGif(true)),
        (-3L, canaryAvi(false)), (-4L, canaryAvi(true)))
      .toDF("media_id", "payload")
    val payloads = corpus.unionAll(canary)
    bandedHashCensus(spark, videoHashes(spark, payloads),
      payloads.count(), "vsim")
  }

  // ---- m08: incremental (delta-vs-index) media dedup ----------------

  /** Build the PERSISTED media-dedup index over a corpus — d13's
    * ingest-time pattern applied to m05's hash space (round-11 verdict
    * item 4). Two tables, each bucketed so batch-time joins read them
    * exchange-free:
    *
    *  - dHash band postings (media_id, phash, band, bh), BUCKETED by
    *    (band, bh) and sorted within buckets — the near-dup candidate
    *    join's corpus side; hot band buckets capped at write time
    *    (solid-color thumbnails all hash alike — the m05 cap);
    *  - content-hash rows (media_id, phash), BUCKETED by phash — the
    *    exact tier. Unlike d13 there is NO separate verify store: the
    *    8-byte phash rides the postings, and Hamming verify needs
    *    nothing else — the index is 33 bytes/row regardless of how
    *    many megabytes the payloads are, and the corpus is DECODED
    *    EXACTLY ONCE, at ingest. */
  /** `cap` — whether hot (band, bh) buckets are capped at write time.
    * The cap is a precision/perf valve for DEDUP (a capped bucket can
    * only miss candidate PAIRS among payloads that all hash alike —
    * acceptable there); RETRIEVAL (m11) builds with cap = false,
    * because a dropped posting silently breaks the pigeonhole-exact
    * recall guarantee for Hamming ≤ [[M05HammingMax]] (round-14
    * ADVICE): a query whose true match fell out of a hot bucket would
    * return a sentinel instead of the match. */
  private[graft] def m08BuildIndex(
      spark: SparkSession, corpus: DataFrame,
      cap: Boolean = true): (String, String) = {
    val wh = graft.core.IO.scratchDir("graft-m08")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val bandT = s"graft_m08_bands_$tag"
    val contT = s"graft_m08_content_$tag"
    val hashed = perceptualHashes(spark, corpus)
    val rawBands = dhashBands(hashed.filter(col("method") === "dhash"))
    val bands = if (cap) Dedup.capBandBuckets(
      rawBands, Seq("band", "bh"), Dedup.bandCap(corpus.count())) else rawBands
    bands.write.mode("overwrite").format("parquet")
      .bucketBy(Dedup.D13Buckets, "band", "bh").sortBy("band", "bh")
      .option("path", s"$wh/bands_$tag").saveAsTable(bandT)
    hashed.filter(col("method") === "content")
      .select(col("media_id"), col("phash"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(Dedup.D13Buckets, "phash").sortBy("phash")
      .option("path", s"$wh/content_$tag").saveAsTable(contT)
    (bandT, contT)
  }

  /** The per-batch half of m08: dedup a DELTA batch of payloads against
    * the persisted index WITHOUT re-decoding or re-shuffling the
    * corpus. Only the delta is decoded/hashed; its band keys shuffle
    * INTO the index's bucket layout (one delta-sized exchange) and
    * sort-merge against the bucketed postings — corpus side ZERO
    * exchange (PlanSpec pins it, mirroring d13). Verify is inline:
    * bit_count(xor) over the two phash columns already riding the
    * join. The content tier merge-joins the phash-bucketed exact
    * table the same way. */
  private[graft] def m08DeltaVsIndex(spark: SparkSession, delta: DataFrame,
      bandT: String, contT: String): DataFrame = {
    val hashed = perceptualHashes(spark, delta)
    val dhPairs = dhashBands(hashed.filter(col("method") === "dhash"))
      .as("d").hint("merge")
      .join(spark.table(bandT).as("c"),
        col("d.band") === col("c.band") && col("d.bh") === col("c.bh"))
      .select(col("d.media_id").as("delta_id"), col("c.media_id").as("corpus_id"),
        bit_count(col("d.phash").bitwiseXOR(col("c.phash"))).cast("long").as("hamming"))
      .distinct() // a pair can meet under several intact bands
      .filter(col("hamming") <= M05HammingMax)
      .withColumn("method", lit("dhash"))
    val contPairs = hashed.filter(col("method") === "content")
      .as("d").hint("merge")
      .join(spark.table(contT).as("c"), col("d.phash") === col("c.phash"))
      .select(col("d.media_id").as("delta_id"), col("c.media_id").as("corpus_id"),
        lit(0L).as("hamming"), lit("content").as("method"))
    dhPairs.unionByName(contPairs)
      .orderBy("method", "delta_id", "corpus_id")
  }

  /** [[m08DeltaVsIndex]] over a STREAMING delta frame — the
    * adaptations d13's stream variant established: `dropDuplicates`
    * keyed state in place of `distinct` (a streaming aggregate needs
    * either a watermark or keyed dedup state; the pair key is tiny),
    * no sort-merge hints (the static index side is already bucketed;
    * stream-static joins pick their own strategy), and no terminal
    * sort (unsupported on append streams — the gate orders after
    * landing). The decode seam (mapPartitions) runs per micro-batch
    * over delta payloads only; the corpus index tables stay the
    * static sides of both joins. */
  private[graft] def m08DeltaVsIndexStream(spark: SparkSession, delta: DataFrame,
      bandT: String, contT: String): DataFrame = {
    val hashed = perceptualHashes(spark, delta)
    val dhPairs = dhashBands(hashed.filter(col("method") === "dhash"))
      .as("d")
      .join(spark.table(bandT).as("c"),
        col("d.band") === col("c.band") && col("d.bh") === col("c.bh"))
      .select(col("d.media_id").as("delta_id"), col("c.media_id").as("corpus_id"),
        bit_count(col("d.phash").bitwiseXOR(col("c.phash"))).cast("long").as("hamming"))
      .dropDuplicates("delta_id", "corpus_id")
      .filter(col("hamming") <= M05HammingMax)
      .withColumn("method", lit("dhash"))
    val contPairs = hashed.filter(col("method") === "content")
      .as("d")
      .join(spark.table(contT).as("c"), col("d.phash") === col("c.phash"))
      .select(col("d.media_id").as("delta_id"), col("c.media_id").as("corpus_id"),
        lit(0L).as("hamming"), lit("content").as("method"))
    dhPairs.unionByName(contPairs)
  }

  /** Fold a deduped delta INTO the persisted media index — the tail of
    * the ingest cycle ([[graft.operators.Dedup.d13FoldIn]]'s twin):
    * the delta's band postings and content rows append with the
    * IDENTICAL bucketing (Spark validates the spec against the
    * catalog), so the next batch dedups against corpus ∪ delta with no
    * recompute of either. Exercised by MultimodalSpec; the GATE
    * deliberately does not fold (d13's evaluation-order argument). */
  private[graft] def m08FoldIn(spark: SparkSession, delta: DataFrame,
      bandT: String, contT: String): Unit = {
    val hashed = perceptualHashes(spark, delta)
    // corpus size re-derived from the index itself (postings/M05Bands
    // decodable items + content rows); the delta's postings are capped
    // against the PERSISTED occupancy so no degenerate (band, bh)
    // bucket grows past the build-time cap across fold-ins
    val cap = Dedup.bandCap(
      spark.table(bandT).count() / M05Bands + spark.table(contT).count() +
        delta.count())
    Dedup.capDeltaAgainstIndex(spark,
        dhashBands(hashed.filter(col("method") === "dhash")),
        bandT, Seq("band", "bh"), cap)
      .write.mode("append").format("parquet")
      .bucketBy(Dedup.D13Buckets, "band", "bh").sortBy("band", "bh")
      .saveAsTable(bandT)
    hashed.filter(col("method") === "content")
      .select(col("media_id"), col("phash"))
      .write.mode("append").format("parquet")
      .bucketBy(Dedup.D13Buckets, "phash").sortBy("phash")
      .saveAsTable(contT)
  }

  /** m08: INCREMENTAL media dedup — the d13 ingest cycle for binary
    * media: build the banded hash index once over the corpus, then
    * dedup each new batch against it at O(batch + candidates), never
    * re-decoding or re-shuffling the corpus. The GATE face mirrors
    * d13's: corpus = the p04 train+val media (bucket < 990), delta =
    * the test split (bucket ≥ 990); the corpus side carries
    * [[canaryBmp]](base) at id −1 and the delta carries the perturbed
    * twin at id −2, so the dhash tier always surfaces the constructed
    * Hamming-1 pair (the corpus has no decodable images — the m05
    * vacuity argument, cross-split). The oracle replays the content
    * tier's cross-split md5 join and carries the canary pair as the
    * literal it provably is. */
  def m08IncrementalMediaDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = media(spark, dir).select(col("media_id"), col("payload"))
    val corpus = base.filter(Sinks.splitBucket(col("media_id")) < 990)
      .unionAll(Seq((-1L, canaryBmp(false))).toDF("media_id", "payload"))
    val delta = base.filter(Sinks.splitBucket(col("media_id")) >= 990)
      .unionAll(Seq((-2L, canaryBmp(true))).toDF("media_id", "payload"))
    val (bandT, contT) = m08BuildIndex(spark, corpus)
    m08DeltaVsIndex(spark, delta, bandT, contT)
  }

  // ---- m09: cross-modal retrieval (image query → video frames) ------

  /** Deterministic frame-content EMBEDDING — the clearly-marked
    * stand-in for a real image encoder (CLIP-class; no such model is
    * public-knowledge-available in this container): dim j of a frame
    * with fingerprint value h is ((h mod 1000003)·(j+1) + j) mod
    * 2000003 / 1e6 − 1 — pure integer arithmetic, bit-identical in
    * both engines, and EQUAL FINGERPRINTS ⇒ EQUAL VECTORS (the
    * property the cross-modal canary needs). At deploy the real
    * encoder replaces exactly this expression; the id assignment /
    * index build / search plumbing on either side stays unchanged. */
  private def frameEmbedding(h: Column): Column =
    transform(sequence(lit(0), lit(63)), j =>
      ((pmod(h, lit(1000003L)) * (j + lit(1)) + j) % lit(2000003L))
        .cast("double") / lit(1e6) - lit(1.0))

  /** m09: CROSS-MODAL retrieval — "find the videos containing a frame
    * similar to this image", the query shape multimodal training-data
    * curation runs for clip-level dedup and retrieval-augmented
    * filtering. Composes three existing seams end to end (the e01
    * argument, across modalities): [[m03FrameSample]]'s per-frame
    * fingerprints → [[frameEmbedding]]'s encoder stand-in →
    * [[Similarity.s11BuildIndex]]/[[Similarity.s11Search]]'s persisted
    * IVF-PQ serving path — so interop drift between the multimodal and
    * similarity surfaces breaks THIS gate even when each per-operator
    * gate stays green.
    *
    * Mechanics: every VIDEO-modality media item's sampled frames get
    * dense vec_ids from 10 up (row_number over the bounded frame
    * catalog — a deliberate global window, the t16 precedent; at
    * deploy frame ids come from the ingest catalog), the query image
    * occupies the vec_id < 10 query space, and the frame embeddings
    * land as a scratch corpus so the UNCHANGED s11 build+serve
    * machinery indexes and searches them. The canary query (vec 0) is
    * an image whose content equals the FIRST video frame, so its
    * embedding equals that frame's vector exactly: the frame's PQ code
    * is the per-subspace argmin of the query itself — the minimum
    * possible ADC sum — and its cell is the query's own top probe, so
    * rank 1 is structural (OperatorSpec pins it; ties break to the
    * canary's minimal id). The DuckDB oracle replays the ENTIRE chain
    * — frame sampling, embedding arithmetic, two-level + PQ training,
    * hierarchical probe, cell-restricted ADC — row for row. */
  def m09CrossModalSearch(spark: SparkSession, dir: String): DataFrame = {
    val vids = media(spark, dir)
      .select(col("media_id"), modality(col("payload")).as("mod"))
      .filter(col("mod") === "video").select("media_id")
    val frames = m03FrameSample(spark, dir).join(vids, "media_id")
      .select(col("media_id"), col("frame_no"), col("frame_hex"))
    // Dense frame ids via the p06 TWO-PHASE prefix-sum shape (round-19
    // verdict item 4; guide §2): the old row_number() over
    // (media_id, frame_no) with no partition serialized the whole FRAME
    // catalog through one task. Now only per-MEDIA totals ride the
    // unpartitioned prefix sum (one row per video vs one per sampled
    // frame — the same "bounded group totals" argument p06's scaladoc
    // makes), and the per-frame rank is a window PARTITIONED by
    // media_id:
    //   vec_id = Σ nf(media' < media)  [media-total prefix sum]
    //          + rank of frame_no within this media + 9
    // — the exact same total order as before. (A fully partitioned
    // zipWithIndex variant — repartitionByRange + spark_partition_id
    // offsets — was tried and measured SLOWER at sf0.1: the range
    // sampler, the pinning checkpoint and the offset joins cost more
    // than they parallelize; revisit only if the media CATALOG itself
    // outgrows a single window task.)
    val wMedia = org.apache.spark.sql.expressions.Window
      .orderBy(col("media_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val base = frames.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
      .withColumn("fbase", coalesce(sum(col("nf")).over(wMedia), lit(0L)))
      .select(col("media_id"), col("fbase"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_no"))
    // three consumers walk the id catalog (the canary query row, the
    // embedding corpus, the final neighbor→video join) — materialize it
    // once instead of re-running the frame sample + assignment chain
    // per reference (bounded: one row per sampled frame)
    val ids = frames.join(base, Seq("media_id"))
      .withColumn("vec_id",
        col("fbase") + row_number().over(wIn).cast("long") + 9L)
      .drop("fbase")
      .localCheckpoint()
    val query = ids.filter(col("vec_id") === 10L)
      .select(lit(0L).as("vec_id"), col("frame_hex"))
    val h = conv(rpad(col("frame_hex"), 8, "0"), 16, 10).cast("long")
    val emb = query.unionByName(ids.select(col("vec_id"), col("frame_hex")))
      .select(col("vec_id"), frameEmbedding(h).as("embedding"))
    val m09Dir = graft.core.IO.scratchDir("graft-m09")
    emb.write.mode("overwrite").parquet(s"$m09Dir/embeddings.parquet")
    val (codesT, ccT, fcT, cbT) = Similarity.s11BuildIndex(spark, m09Dir)
    val (_, k2) = Similarity.d12Factors(
      graft.core.Tables.count(spark, m09Dir, "embeddings"))
    Similarity.s11Search(spark, m09Dir, codesT, ccT, fcT, cbT, k2)
      .join(ids.select(col("vec_id").as("neighbor_id"),
        col("media_id").as("video_id"), col("frame_no")), "neighbor_id")
      .select(col("query_id"), col("rnk"), col("video_id"),
        col("frame_no"), col("adc_units"))
      .orderBy("query_id", "rnk")
  }

  /** m04: exact MEDIA dedup census — the multimodal face of d01: blobs
    * are identical iff their content hash is, so the census is one
    * map-side md5 over the binary column + a per-modality aggregate
    * (count-distinct over fixed-width hashes shuffles 16 bytes/row, not
    * payloads — the property that matters when payloads are megabytes).
    * md5 here is a CONTENT FINGERPRINT, not security material, chosen
    * because both engines compute the identical hex for the same bytes
    * (xxhash64 would be cheaper but is Spark-only, and the gate needs
    * cross-engine equality). */
  def m04MediaDedup(spark: SparkSession, dir: String): DataFrame = {
    media(spark, dir)
      .select(modality(col("payload")).as("modality"), md5(col("payload")).as("h"))
      .groupBy(col("modality"))
      .agg(count(lit(1)).as("n_media"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dupes"))
      .orderBy("modality")
  }

  /** The oracle-side twin of [[modality]]: first PAYLOAD BYTE (not
    * code point — ascii() would diverge on non-ASCII text) decoded
    * from the hex rendering, DuckDB having no BLOB substring or conv:
    * two hex digits → value via strpos on the digit alphabet. */
  private val modalitySql: String = {
    def digit(i: Int) =
      s"(strpos('0123456789ABCDEF', substring(hex(encode(text)), $i, 1)) - 1)"
    s"CASE (${digit(1)} * 16 + ${digit(2)}) % 3 " +
      "WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"
  }

  /** m09 oracle: the WHOLE cross-modal chain in one WITH — the m03
    * frame formula filtered to video modality, dense ids, the canary
    * union, the integer embedding arithmetic, then the s09/s11 oracle's
    * own two-level + PQ + probe + cell-restricted-ADC CTE blocks over
    * THIS `e` (the [[graft.operators.Similarity.trainCtesBody]] /
    * twoLevelCtesBody seams), and the final join back to
    * (video_id, frame_no). Frame hex parses via the m02 digit trick
    * (rpad to 8, so the engine's conv(rpad(...)) sees the same value). */
  private val m09Sql: String = {
    def digit(i: Int) = s"(strpos('0123456789ABCDEF', substring(h8, $i, 1)) - 1)"
    val hParse = (1 to 8).map(i =>
      s"${digit(i)} * ${1L << (4 * (8 - i))}").mkString(" + ")
    val lr = Similarity.LloydRounds
    "WITH fr0 AS MATERIALIZED (SELECT media_id, frame_no, frame_hex FROM (" +
      "SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no, " +
      "substring(hex(encode(text)), frame_no * 32 + 1, 8) AS frame_hex, " +
      s"$modalitySql AS mod " +
      "FROM (SELECT doc_id, text, unnest(range(0, CAST(floor((length(text) - 1) / 16.0) AS BIGINT) + 1, 4)) AS frame_no " +
      "FROM documents)) WHERE mod = 'video'), " +
      "ids AS MATERIALIZED (SELECT media_id, frame_no, frame_hex, " +
      "row_number() OVER (ORDER BY media_id, frame_no) + 9 AS vec_id FROM fr0), " +
      "hx AS (SELECT vec_id, rpad(frame_hex, 8, '0') AS h8 FROM (" +
      "SELECT vec_id, frame_hex FROM ids " +
      "UNION ALL SELECT CAST(0 AS BIGINT), frame_hex FROM ids WHERE vec_id = 10)), " +
      "e AS MATERIALIZED (SELECT vec_id, list_transform(range(0, 64), " +
      s"j -> CAST(((($hParse) % 1000003) * (j + 1) + j) % 2000003 AS DOUBLE) / 1e6 - 1.0) AS emb FROM hx), " +
      Similarity.trainCtesBody(lr, Similarity.d12K1SqlOf("e")) +
      Similarity.twoLevelCtesBody(lr) +
      Similarity.pqCtesSql(Similarity.S07Rounds) +
      Similarity.probeCtesSql(lr) + " " +
      "SELECT t.qid AS query_id, t.rn AS rnk, i.media_id AS video_id, " +
      "i.frame_no, t.adc_units FROM (" +
      "SELECT qid, nid, adc_units, " +
      "row_number() OVER (PARTITION BY qid ORDER BY adc_units, nid) AS rn FROM (" +
      "SELECT p.qid, k.vec_id AS nid, CAST(sum(d.unit) AS BIGINT) AS adc_units " +
      "FROM fpr p JOIN fafin a ON a.cid = p.cid " +
      "JOIN codes k ON k.vec_id = a.vec_id " +
      "JOIN dtab d ON d.qid = p.qid AND d.sub = k.sub AND d.cid = k.cid " +
      "WHERE a.vec_id <> p.qid GROUP BY p.qid, k.vec_id)) t " +
      "JOIN ids i ON i.vec_id = t.nid " +
      "WHERE t.rn <= 5 ORDER BY query_id, rnk"
  }

  /** The m08 oracle SQL — shared verbatim by st11's invariant-row
    * reduction (the streamed ingest must reproduce this pair set). */
  private[graft] val m08Sql: String =
    "WITH ph AS (SELECT doc_id AS media_id, ((doc_id % 1000) * 761) % 1000 AS b, " +
      "substring(md5(text), 1, 16) AS h FROM documents), " +
      "cp AS (SELECT d.media_id AS delta_id, c.media_id AS corpus_id " +
      "FROM ph d JOIN ph c ON d.h = c.h AND d.b >= 990 AND c.b < 990) " +
      "SELECT delta_id, corpus_id, hamming, method FROM (" +
      "SELECT CAST(-2 AS BIGINT) AS delta_id, CAST(-1 AS BIGINT) AS corpus_id, " +
      "CAST(1 AS BIGINT) AS hamming, 'dhash' AS method " +
      "UNION ALL SELECT delta_id, corpus_id, 0, 'content' FROM cp) " +
      "ORDER BY method, delta_id, corpus_id"

  // ---- m10: audio energy segmentation (VAD-style) --------------------

  private[graft] val M10Windows = 64

  /** A 16-bit PCM mono WAV whose window structure is EXPLICIT: one
    * constant-amplitude block of 32 samples per entry of `pattern` —
    * 16000 where voiced, 800 where quiet. [[canaryWav]]'s builder
    * generalized from the two-amplitude alternation to an arbitrary
    * voiced mask, so m10's segment census is hand-computable. */
  private[graft] def segWav(pattern: Seq[Boolean]): Array[Byte] = {
    val per = 32
    val n = pattern.length * per
    val dataSize = n * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + dataSize)
      .put("WAVE".getBytes("ISO-8859-1"))
    out.put("fmt ".getBytes("ISO-8859-1")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(8000 * 2).putShort(2).putShort(16)
    out.put("data".getBytes("ISO-8859-1")).putInt(dataSize)
    for (v <- pattern; _ <- 0 until per)
      out.putShort(if (v) 16000.toShort else 800.toShort)
    out.array()
  }

  /** The two m10 canaries and their hand-computed censuses (the
    * oracle's literals — provable from [[segWav]]'s construction):
    *  - BLOCK: 20 voiced / 24 quiet / 20 voiced → window mean
    *    amplitude (16000·40 + 800·24)/64 = 10300; the 0.75·mean
    *    threshold (7725) admits exactly the 40 loud windows in TWO
    *    runs → (64 windows, 40 voiced, 2 segments);
    *  - ALT: strict alternation starting voiced → mean 8400,
    *    threshold 6300 → 32 voiced windows, each its own run →
    *    (64, 32, 32). All amplitudes are exact binary fractions of
    *    32768, so the double arithmetic is exact and the comparisons
    *    engine-independent. */
  private[graft] val M10BlockPattern: Seq[Boolean] =
    Seq.fill(20)(true) ++ Seq.fill(24)(false) ++ Seq.fill(20)(true)
  private[graft] val M10AltPattern: Seq[Boolean] =
    (0 until M10Windows).map(_ % 2 == 0)

  /** m10: audio ENERGY SEGMENTATION — the VAD-ish temporal-structure
    * census below m06's whole-file fingerprint: split the decoded
    * signal into [[M10Windows]] windows of mean |amplitude| (the m06
    * decode, shared via [[audioWindowEnergies]]), mark a window voiced
    * iff its energy ≥ 0.75 × the file's mean (4·e ≥ 3·mean in exact
    * arithmetic), and count maximal voiced runs per file — the
    * segmentation a speech pipeline runs before transcription
    * (silence trimming, segment-level sampling). The decode seam emits
    * BOUNDED rows (≤ [[M10Windows]] per file); segmentation itself is
    * the gaps-and-islands window pass, fully distributed. The gate
    * corpus carries no decodable audio, so payloads collapse into the
    * (-1, n_undecodable, 0, 0) fallback census row and the two
    * [[segWav]] canaries keep every face live: the real WAV decoder,
    * the threshold, and the run structure (2 block segments vs 32
    * alternating singletons). */
  def m10AudioSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val payloads = media(spark, dir).select(col("media_id"), col("payload"))
      .unionByName(Seq(
        (900000001L, segWav(M10BlockPattern)),
        (900000002L, segWav(M10AltPattern))).toDF("media_id", "payload"))
    val energies = payloads.select(col("media_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, b) =>
        val e = if (magicOf(b) == "wav") audioWindowEnergies(b, M10Windows)
          else None
        // the oracle's fallback census hard-codes that every CORPUS
        // payload is undecodable as audio (only the two constructed
        // canaries decode). Assert it here, in the decode seam, so a
        // future corpus/generator change that plants a decodable WAV
        // surfaces as a loud error instead of a silent oracle
        // mismatch (ADVICE r13)
        if (e.isDefined && id < 900000001L)
          throw new IllegalStateException(
            s"m10: corpus payload $id decoded as audio — the " +
              "fallback-census oracle literal no longer holds; " +
              "re-derive the fallback count from the decode census")
        (id, e.map(_.toSeq).orNull)
      }).toDF("media_id", "e")
    val dec = energies.filter(col("e").isNotNull)
      .select(col("media_id"), posexplode(col("e")).as(Seq("widx", "en")))
    val wM = org.apache.spark.sql.expressions.Window.partitionBy("media_id")
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("widx")
    val segments = dec
      .withColumn("voiced", col("en") * 4 >= avg(col("en")).over(wM) * 3)
      .withColumn("pv",
        coalesce(lag(col("voiced"), 1).over(wSeq), lit(false)))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"),
        sum(when(col("voiced") && !col("pv"), 1L).otherwise(0L)).as("n_segments"))
    val fallback = energies.filter(col("e").isNull)
      .agg(count(lit(1)).as("n_windows"))
      .select(lit(-1L).as("media_id"), col("n_windows"),
        lit(0L).as("n_voiced"), lit(0L).as("n_segments"))
    segments.unionByName(fallback).orderBy("media_id")
  }

  // ---- m11: reverse image search over the persisted media index ------

  /** Results kept per query — the retrieval page size. */
  private[graft] val M11TopK = 3

  /** m11: REVERSE IMAGE SEARCH — the retrieval verb on the persisted
    * media index, closing the same dedup↔retrieval asymmetry on the
    * media side that s01-s21 close for vectors (m08 DEDUPS deltas
    * against the banded index; m11 QUERIES it — the TinEye/"search by
    * image" shape): a query image decodes to its dHash64, probes the
    * (band, bh)-bucketed postings (pigeonhole-exact for Hamming ≤
    * [[M05HammingMax]]), verifies by bit_count(xor) on the phash
    * columns riding the join, and ranks matches by Hamming; query
    * payloads that don't decode route through the phash-bucketed
    * content table instead (exact-byte retrieval). Queries with no
    * candidate keep a sentinel row (the s19 zero-hit discipline).
    * The probe set: the perturbed canary (must retrieve the stored
    * canary at Hamming exactly 1), an exact canary copy (Hamming 0),
    * the reversed-gradient [[farBmp]] (all bands differ — provably no
    * candidate), and doc 0's own bytes (content tier, replayed by the
    * oracle from md5 prefixes — the corpus-dependent face). 100 TB:
    * identical to m08's serve shape — queries are delta-sized, probe
    * keys shuffle INTO the index's bucket layout, the corpus is never
    * re-decoded or re-shuffled. */
  def m11ReverseImageSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val corpus = media(spark, dir).select(col("media_id"), col("payload"))
      .unionAll(Seq((-1L, canaryBmp(false))).toDF("media_id", "payload"))
    // cap = false: retrieval needs every posting for the pigeonhole-
    // exact recall claim — see m08BuildIndex's cap scaladoc
    val (bandT, contT) = m08BuildIndex(spark, corpus, cap = false)
    val queries = Seq(
        (-101L, canaryBmp(true)), // near-dup probe → canary at Hamming 1
        (-102L, canaryBmp(false)), // exact probe → Hamming 0
        (-103L, farBmp)) // all bands differ → sentinel
      .toDF("media_id", "payload")
      .unionAll(corpus.filter(col("media_id") === 0L)
        .select(lit(-104L).as("media_id"), col("payload")))
    m11Search(spark, queries, bandT, contT)
  }

  /** The serve half of m11 over an already-built m08 index: banded
    * probe + inline Hamming verify for decodable queries, content-
    * table lookup for the rest, per-query top-[[M11TopK]], sentinel
    * rows for empty queries. */
  private[graft] def m11Search(spark: SparkSession, queries: DataFrame,
      bandT: String, contT: String): DataFrame = {
    val hashed = perceptualHashes(spark, queries)
    val dhCand = dhashBands(hashed.filter(col("method") === "dhash"))
      .as("d").hint("merge")
      .join(spark.table(bandT).as("c"),
        col("d.band") === col("c.band") && col("d.bh") === col("c.bh"))
      .select(col("d.media_id").as("qid"), col("c.media_id").as("mid"),
        bit_count(col("d.phash").bitwiseXOR(col("c.phash"))).cast("long").as("ham"))
      .distinct() // a pair can meet under several intact bands
      .withColumn("method", lit("dhash"))
    val contCand = hashed.filter(col("method") === "content")
      .as("d").hint("merge")
      .join(spark.table(contT).as("c"), col("d.phash") === col("c.phash"))
      .select(col("d.media_id").as("qid"), col("c.media_id").as("mid"),
        lit(0L).as("ham"), lit("content").as("method"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("ham").asc, col("mid").asc)
    val ranked = dhCand.unionByName(contCand)
      .withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= M11TopK)
    hashed.select(col("media_id").as("query_id")).distinct()
      .join(ranked, col("query_id") === col("qid"), "left")
      .select(col("query_id"),
        coalesce(col("rnk").cast("long"), lit(0L)).as("rnk"),
        coalesce(col("mid"), lit(-1L)).as("media_id"),
        coalesce(col("ham"), lit(-1L)).as("hamming"),
        coalesce(col("method"), lit("none")).as("method"))
      .orderBy("query_id", "rnk")
  }

  val oracles: Map[String, String] = Map(
    // m11: the three constructed probes enter as the literals their
    // construction proves (canary pair Hamming exactly 1 — spec-pinned
    // — and the reversed gradient at Hamming 64 → sentinel); the
    // content-tier probe is replayed from md5 prefixes (doc 0's bytes
    // retrieve every payload-identical corpus item), the m07/m08
    // oracle discipline
    "m11_reverse_image_search" ->
      ("WITH cq AS (SELECT doc_id, substring(md5(text), 1, 16) AS h FROM documents), " +
        "q0 AS (SELECT substring(md5(text), 1, 16) AS h FROM documents WHERE doc_id = 0), " +
        "cont AS (SELECT CAST(-104 AS BIGINT) AS query_id, " +
        "CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk, " +
        "doc_id AS media_id, CAST(0 AS BIGINT) AS hamming, 'content' AS method " +
        s"FROM cq, q0 WHERE cq.h = q0.h QUALIFY rnk <= $M11TopK) " +
        "SELECT * FROM (" +
        "SELECT CAST(-103 AS BIGINT) AS query_id, CAST(0 AS BIGINT) AS rnk, " +
        "CAST(-1 AS BIGINT) AS media_id, CAST(-1 AS BIGINT) AS hamming, 'none' AS method " +
        "UNION ALL SELECT -102, 1, -1, 0, 'dhash' " +
        "UNION ALL SELECT -101, 1, -1, 1, 'dhash' " +
        "UNION ALL SELECT query_id, rnk, media_id, hamming, method FROM cont) " +
        "ORDER BY query_id, rnk"),
    // m10: the fallback census is replayed from the corpus (every
    // documents-derived payload is undecodable as audio); the two
    // canary rows enter as the hand-computed literals they provably
    // are (see M10BlockPattern/M10AltPattern scaladoc)
    "m10_audio_segments" ->
      ("SELECT * FROM (" +
        "SELECT -1 AS media_id, (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_windows, " +
        "CAST(0 AS BIGINT) AS n_voiced, CAST(0 AS BIGINT) AS n_segments " +
        "UNION ALL SELECT 900000001, 64, 40, 2 " +
        "UNION ALL SELECT 900000002, 64, 32, 32) ORDER BY media_id"),
    "m09_cross_modal" -> m09Sql,
    "m08_incremental_media_dedup" ->
      // the d13 oracle argument, in hash space: the persisted-index
      // candidate generation must be semantically invisible, so the
      // oracle states the delta-vs-corpus joins directly — content
      // tier replayed from cross-split md5 prefixes, dhash tier = the
      // constructed canary pair (Hamming exactly 1, spec-pinned)
      m08Sql,
    "m07_video_neardup" ->
      // m05/m06's oracle shape: content tier replayed from md5
      // prefixes (no corpus payload sniffs gif/avi — the m03
      // invariant); the vsim tier is the TWO constructed canary pairs
      // (GIF + AVI, each signature Hamming exactly 1, band-disjoint
      // across pairs), entering as the literals they provably are
      // (MultimodalSpec pins both constructions)
      ("WITH ph AS (SELECT doc_id AS media_id, substring(md5(text), 1, 16) AS h FROM documents), " +
        "cp AS (SELECT a.media_id AS ida, b.media_id AS idb " +
        "FROM ph a JOIN ph b ON a.h = b.h AND a.media_id < b.media_id) " +
        "SELECT method, n_items, n_pairs, n_exact, n_near FROM (" +
        "SELECT 'content' AS method, (SELECT count(*) FROM ph) AS n_items, " +
        "(SELECT count(*) FROM cp) AS n_pairs, (SELECT count(*) FROM cp) AS n_exact, " +
        "CAST(0 AS BIGINT) AS n_near " +
        "UNION ALL SELECT 'vsim', CAST(4 AS BIGINT), CAST(2 AS BIGINT), " +
        "CAST(0 AS BIGINT), CAST(2 AS BIGINT)) ORDER BY method"),
    "m06_audio_neardup" ->
      // m05's oracle shape: content tier replayed from md5 prefixes;
      // the afp tier is the constructed canary pair (Hamming exactly
      // 1), so its census row enters as the literals it provably is
      ("WITH ph AS (SELECT doc_id AS media_id, substring(md5(text), 1, 16) AS h FROM documents), " +
        "cp AS (SELECT a.media_id AS ida, b.media_id AS idb " +
        "FROM ph a JOIN ph b ON a.h = b.h AND a.media_id < b.media_id) " +
        "SELECT method, n_items, n_pairs, n_exact, n_near FROM (" +
        "SELECT 'afp' AS method, CAST(2 AS BIGINT) AS n_items, CAST(1 AS BIGINT) AS n_pairs, " +
        "CAST(0 AS BIGINT) AS n_exact, CAST(1 AS BIGINT) AS n_near " +
        "UNION ALL SELECT 'content', (SELECT count(*) FROM ph), " +
        "(SELECT count(*) FROM cp), (SELECT count(*) FROM cp), CAST(0 AS BIGINT)) " +
        "ORDER BY method"),
    "m05_media_neardup" ->
      // content tier replayed from md5 prefixes (string equality on 16
      // hex chars == equality of the Spark side's 64-bit prefix); the
      // dhash tier is the canary pair — a fixed constant independent of
      // the corpus (2 synthetic images, Hamming exactly 1), so its
      // census row enters as the literals it provably is
      ("WITH ph AS (SELECT doc_id AS media_id, substring(md5(text), 1, 16) AS h FROM documents), " +
        "cp AS (SELECT a.media_id AS ida, b.media_id AS idb " +
        "FROM ph a JOIN ph b ON a.h = b.h AND a.media_id < b.media_id) " +
        "SELECT method, n_items, n_pairs, n_exact, n_near FROM (" +
        "SELECT 'content' AS method, (SELECT count(*) FROM ph) AS n_items, " +
        "(SELECT count(*) FROM cp) AS n_pairs, (SELECT count(*) FROM cp) AS n_exact, " +
        "CAST(0 AS BIGINT) AS n_near " +
        "UNION ALL SELECT 'dhash', CAST(2 AS BIGINT), CAST(1 AS BIGINT), " +
        "CAST(0 AS BIGINT), CAST(1 AS BIGINT)) ORDER BY method"),
    "m04_media_dedup" ->
      (s"SELECT $modalitySql AS modality, " +
        "count(*) AS n_media, count(DISTINCT md5(text)) AS n_distinct, " +
        "count(*) - count(DISTINCT md5(text)) AS n_dupes " +
        "FROM documents GROUP BY modality ORDER BY modality"),
    "m01_binary_meta" ->
      ("SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes, " +
        "substring(hex(encode(text)), 1, 8) AS magic_hex, " +
        s"$modalitySql AS modality FROM documents ORDER BY media_id"),
    "m02_media_features" ->
      // byte `dim` (1-based) via hex digits, the twin of the Spark-side
      // byte-fallback path: character substring would read code points,
      // not bytes. No corpus payload decodes as media (asserted in the
      // seam), so the corpus replays as the fallback; the two canaries'
      // REAL decoded features enter as the hand-derived literals
      // MultimodalSpec pins against m02FeatureRows
      ("SELECT doc_id AS media_id, dim, " +
        "round(CASE WHEN length(hex(encode(text))) >= 2 * dim THEN " +
        "(strpos('0123456789ABCDEF', substring(hex(encode(text)), 2 * dim - 1, 1)) - 1) * 16 + " +
        "(strpos('0123456789ABCDEF', substring(hex(encode(text)), 2 * dim, 1)) - 1) " +
        "ELSE 0 END / 255.0, 4) AS val " +
        "FROM documents, (SELECT unnest(range(1, 9)) AS dim) " +
        "UNION ALL SELECT CAST(900000001 AS BIGINT), CAST(dim AS BIGINT), CAST(val AS DOUBLE) " +
        "FROM (VALUES (1, 0.0022), (2, 0.0020), (3, 0.3529), (4, 0.3529), " +
        "(5, 0.3529), (6, 0.3529), (7, 0.2025), (8, 0.1406)) c1(dim, val) " +
        "UNION ALL SELECT CAST(900000002 AS BIGINT), CAST(dim AS BIGINT), CAST(val AS DOUBLE) " +
        "FROM (VALUES (1, 0.1250), (2, 0.0833), (3, 0.0043), (4, 0.5000), " +
        "(5, 0.3143), (6, 0.3863), (7, 0.0), (8, 0.0)) c2(dim, val) " +
        "ORDER BY media_id, dim"),
    "m03_frame_sample" ->
      ("SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no, " +
        "CAST(frame_no * 16 AS BIGINT) AS offset, " +
        "substring(hex(encode(text)), frame_no * 32 + 1, 8) AS frame_hex " +
        "FROM (SELECT doc_id, text, unnest(range(0, CAST(floor((length(text) - 1) / 16.0) AS BIGINT) + 1, 4)) AS frame_no " +
        "FROM documents) ORDER BY media_id, frame_no")
  )
}
