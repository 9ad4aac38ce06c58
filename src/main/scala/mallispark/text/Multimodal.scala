package mallispark.text

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata — and REAL decode for the uncompressed
  * containers that need no codec library:
  *
  *  - BMP (Windows bitmap, 24-bit uncompressed): header-parsed
  *    width/height/pixel-offset, per-channel pixel sums with row padding
  *    skipped;
  *  - WAV (RIFF/WAVE, PCM signed 16-bit LE): fmt-chunk-parsed
  *    channels/rate/bits, per-sample sum of squares + peak amplitude.
  *
  * Two execution paths with identical semantics FOR VALID PAYLOADS
  * (field values bit-agree; the golden fixtures pin both):
  *
  *  - [[decodeMedia]]: pure Column expressions over `hex(bin)` byte
  *    slices — whole-stage-codegen'd, DuckDB-mirrorable (the oracle
  *    slices the same hex string), right for thumbnails/clips whose
  *    pixel/sample count is small (the per-element `sequence` is
  *    materialized per row);
  *  - [[extractFeatures]]: batched per-partition JVM decode
  *    (`ByteBuffer`, constant memory, no per-row codegen limit) — the
  *    scale path for large payloads, and the slot where a codec-backed
  *    decoder plugs in unchanged (PNG inflate lives here — a zlib
  *    stream has no hex-arithmetic Column dual).
  *
  * MALFORMED payloads diverge by design in how they are CLASSIFIED
  * (never in decoded values — both paths refuse to emit stats for a
  * failed parse): the Column path keeps the magic-sniffed kind with
  * null stat structs (`kind = "bmp", img = null`) so schema validation
  * downstream can distinguish "claims BMP, corrupt" from "not media";
  * the JVM path folds failed parses into the opaque `"unknown"`
  * fallback features, because its contract is "always produce a usable
  * feature vector". */
object Multimodal {

  /** Typed metadata extracted scan-side without decoding: size, sha,
    * magic-byte sniffed kind. Pure Column exprs — codegen'd. */
  def mediaMetadata(bin: Column): Column = F.struct(
    F.length(bin).cast(LongType).as("n_bytes"),
    F.sha2(bin, 256).as("sha256"),
    F.when(F.hex(F.substring(bin, 1, 2)) === "FFD8", "jpeg")
      .when(F.hex(F.substring(bin, 1, 4)) === "89504E47", "png")
      .when(F.hex(F.substring(bin, 1, 4)) === "52494646", "riff")
      .otherwise("unknown").as("kind"))

  /** "Frame sampling" on the binary payload: n evenly-spaced fixed-width
    * byte windows (what a video frame sampler produces per keyframe).
    * Pure Column: array of binary slices. */
  def sampleWindows(bin: Column, n: Int, width: Int): Column = {
    val strideDen = math.max(n - 1, 1) // n=1: single window at offset 0
    F.transform(F.sequence(F.lit(0), F.lit(n - 1)), i =>
      F.substring(bin,
        (i * F.greatest((F.length(bin) - width) / strideDen, F.lit(1)) + 1)
          .cast(IntegerType),
        F.lit(width)))
  }

  // ---------------------------------------------------------------------
  // Column-expression byte arithmetic (hex-slice parity with DuckDB)
  // ---------------------------------------------------------------------

  /** Unsigned byte value at 1-based byte position `pos` of hex string
    * `h` (= `hex(bin)`). */
  private def byteAt(h: Column, pos: Column): Column =
    F.conv(h.substr(pos * 2 - 1, F.lit(2)), 16, 10).cast(LongType)

  /** Little-endian u16 at 1-based byte position `pos`. */
  private def leU16(h: Column, pos: Column): Column =
    byteAt(h, pos) + byteAt(h, pos + 1) * 256L

  /** Little-endian u32 at 1-based byte position `pos`. */
  private def leU32(h: Column, pos: Column): Column =
    byteAt(h, pos) + byteAt(h, pos + 1) * 256L +
      byteAt(h, pos + 2) * 65536L + byteAt(h, pos + 3) * 16777216L

  /** Little-endian SIGNED 16-bit sample at 1-based byte position. */
  private def leS16(h: Column, pos: Column): Column = {
    val u = leU16(h, pos)
    F.when(u < 32768L, u).otherwise(u - 65536L)
  }

  /** Cap on per-row pixel/sample element counts for the Column path —
    * `sequence` materializes the index array per row, so this path is
    * for thumbnails/clips; route bigger media through
    * [[extractFeatures]]. */
  private val MaxElems = 1 << 20

  /** Decode a 24-bit uncompressed BMP: header fields + per-channel
    * (B, G, R) pixel sums. Row padding (rows are padded to 4-byte
    * boundaries) is skipped — only the 3·w payload bytes of each of the
    * h rows contribute. Returns a struct
    * `(width, height, sum_b, sum_g, sum_r)`; null fields when the
    * payload is not a parseable 24-bit BMP.
    *
    * Format per the public BITMAPFILEHEADER/BITMAPINFOHEADER layout:
    * magic 'BM', pixel-array offset at byte 11 (u32 LE), width at 19,
    * height at 23 (i32 LE), planes at 27, bpp at 29 (u16 LE).
    *
    * Reads a PRE-PROJECTED hex string `h` = `hex(bin)` + byte length `n`
    * — project `hex(bin)` ONCE in a parent select when composing
    * decoders: the expression tree references every byte through `h`,
    * and recomputing `hex(bin)` per byte reference makes the interpreted
    * tree quadratic in practice (higher-order aggregates skip codegen
    * CSE). */
  def decodeBmpHex(h: Column, n: Column): Column = {
    val off = leU32(h, F.lit(11L)) // 0-based byte offset of pixel array
    val w = leU32(h, F.lit(19L))
    val ht = leU32(h, F.lit(23L))
    val bpp = leU16(h, F.lit(29L))
    // integer row stride: rows padded to 4 bytes (Column./ is double
    // division — floor() to match integer semantics)
    val rowSize = (F.floor((w * 3L + 3L) / 4L) * 4L).cast(LongType)
    val npx = w * ht
    // w/ht capped BEFORE the product: u32 garbage headers could overflow
    // Long in w*ht and sneak past the npx cap as a negative
    val ok = n >= 54L && leU16(h, F.lit(1L)) === 0x4D42L &&
      bpp === 24L && w.between(1L, MaxElems.toLong) &&
      ht.between(1L, MaxElems.toLong) && npx <= MaxElems &&
      off + rowSize * ht <= n
    val zero = F.struct(F.lit(0L).as("b"), F.lit(0L).as("g"),
      F.lit(0L).as("r"))
    // the whole result is assembled in the aggregate's FINISH lambda:
    // the accumulator there is a cheap lambda-variable reference, so the
    // pixel loop appears exactly ONCE in the expression tree (getField
    // on the aggregate from outside would clone the loop per field —
    // measured 2x wall on the decode gate)
    val bound = F.when(ok, npx).otherwise(F.lit(1L)) // loop only if valid
    F.aggregate(F.sequence(F.lit(0L), bound - 1L), zero,
      (acc, p) => {
        val y = F.floor(p / w).cast(LongType)
        val x = p - y * w
        val base = off + y * rowSize + x * 3L // 0-based; bytes are BGR
        F.struct(
          (acc.getField("b") + byteAt(h, base + 1L)).as("b"),
          (acc.getField("g") + byteAt(h, base + 2L)).as("g"),
          (acc.getField("r") + byteAt(h, base + 3L)).as("r"))
      },
      acc => F.when(ok, F.struct(
        w.as("width"), ht.as("height"),
        acc.getField("b").as("sum_b"), acc.getField("g").as("sum_g"),
        acc.getField("r").as("sum_r")))
        .otherwise(F.lit(null).cast(StructType(Seq(
          StructField("width", LongType), StructField("height", LongType),
          StructField("sum_b", LongType), StructField("sum_g", LongType),
          StructField("sum_r", LongType))))))
  }

  /** Decode a canonical RIFF/WAVE PCM s16le payload: fmt-chunk fields +
    * sum of squared samples + peak absolute amplitude. Returns a struct
    * `(n_samples, sample_rate, sum_sq, peak_abs)`; null fields when the
    * payload is not parseable PCM16.
    *
    * Layout per the public RIFF spec: 'RIFF' at 1, 'WAVE' at 9, 'fmt '
    * chunk at 13 with size at 17; within fmt: audio format at +0,
    * channels at +2, sample rate at +4, bits at +14. The next chunk tag
    * (at 21+fmtSize) must be 'data'; samples follow its u32 size.
    * Reads a pre-projected hex string + byte length, as
    * [[decodeBmpHex]] does. */
  def decodeWavHex(h: Column, n: Column): Column = {
    val fmtSize = leU32(h, F.lit(17L))
    val audioFmt = leU16(h, F.lit(21L))
    val channels = leU16(h, F.lit(23L))
    val rate = leU32(h, F.lit(25L))
    val bits = leU16(h, F.lit(35L))
    val dataTag = F.lit(21L) + fmtSize // 1-based pos of the next chunk tag
    val dataSize = leU32(h, dataTag + 4L)
    val first = dataTag + 8L // 1-based pos of first sample byte
    val nSamples = (F.floor(dataSize / 2L)).cast(LongType)
    val ok = n >= 44L &&
      h.substr(F.lit(1L), F.lit(8L)) === "52494646" && // 'RIFF'
      h.substr(F.lit(17L), F.lit(8L)) === "57415645" && // 'WAVE'
      h.substr(F.lit(25L), F.lit(8L)) === "666D7420" && // 'fmt '
      h.substr((dataTag - 1L) * 2L + 1L, F.lit(8L)) === "64617461" && // 'data'
      audioFmt === 1L && bits === 16L && channels >= 1L &&
      nSamples >= 1L && nSamples <= MaxElems &&
      first + dataSize - 1L <= n
    val zero = F.struct(F.lit(0L).as("sq"), F.lit(0L).as("pk"))
    // result assembled in the finish lambda — sample loop appears ONCE
    // in the tree (see decodeBmpHex)
    val bound = F.when(ok, nSamples).otherwise(F.lit(1L))
    F.aggregate(F.sequence(F.lit(0L), bound - 1L), zero,
      (acc, j) => {
        val v = leS16(h, first + j * 2L)
        F.struct((acc.getField("sq") + v * v).as("sq"),
          F.greatest(acc.getField("pk"), F.abs(v)).as("pk"))
      },
      acc => F.when(ok, F.struct(
        nSamples.as("n_samples"), rate.as("sample_rate"),
        acc.getField("sq").as("sum_sq"), acc.getField("pk").as("peak_abs")))
        .otherwise(F.lit(null).cast(StructType(Seq(
          StructField("n_samples", LongType),
          StructField("sample_rate", LongType),
          StructField("sum_sq", LongType),
          StructField("peak_abs", LongType))))))
  }

  /** Magic-dispatched decode: BMP → image stats, RIFF/WAVE → audio
    * stats, anything else → kind "unknown" with null sub-structs.
    * Returns `struct(kind, img struct, aud struct)` — nested so callers
    * can flatten via cheap attribute access after projecting it. */
  def decodeMedia(bin: Column): Column =
    decodeMediaHex(F.hex(bin), F.length(bin).cast(LongType))

  /** Same, over a pre-projected hex string + byte length (the form the
    * gate query uses — one `hex(bin)` projection feeds every byte
    * slice). */
  def decodeMediaHex(h: Column, n: Column): Column = {
    val kind = F.when(F.substring(h, 1, 4) === "424D", "bmp")
      .when(F.substring(h, 1, 8) === "52494646", "wav")
      .otherwise("unknown")
    // NESTED result — struct(kind, img struct, aud struct). Flattening
    // here with getField would clone each decoder subtree once per
    // field; callers project `m` first and read `m.img.width` etc as
    // attribute accesses (Catalyst keeps the projection separate: `m`
    // is referenced many times and is non-cheap, so CollapseProject
    // leaves it materialized once)
    F.struct(kind.as("kind"),
      F.when(F.substring(h, 1, 4) === "424D", decodeBmpHex(h, n))
        .as("img"),
      F.when(F.substring(h, 1, 8) === "52494646", decodeWavHex(h, n))
        .as("aud"))
  }

  // ---------------------------------------------------------------------
  // Batched JVM decode (the scale path / codec slot)
  // ---------------------------------------------------------------------

  final case class MediaRow(doc_id: Long, media: Array[Byte])
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, kind: String,
                                 features: Array[Float])

  /** Real single-payload decode (JVM, no codec libs needed for these
    * containers). Feature layout:
    *  - BMP:  [mean_b, mean_g, mean_r, n_pixels]
    *  - WAV:  [rms, peak/32768, n_samples, sample_rate]
    *  - else: [mean_byte, n_bytes, 0, 0] (opaque-payload fallback)
    * Means/RMS are computed as exact integer sums divided as doubles
    * then narrowed to float — bit-reproducible across engines. */
  private[mallispark] def decodeOne(bytes: Array[Byte]): (String, Array[Float]) = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def leU32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    val n = bytes.length
    if (n >= 54 && u8(0) == 'B' && u8(1) == 'M' && leU16(28) == 24) {
      val off = leU32(10)
      val w = leU32(18)
      val h = leU32(22)
      val rowSize = ((w * 3 + 3) / 4) * 4
      // cap w/h INDIVIDUALLY before any product — u32 garbage headers
      // would otherwise overflow Long in w*h / rowSize*h and sneak past
      // the bounds as negatives (same guard as the Column path)
      if (w >= 1 && w <= MaxElems && h >= 1 && h <= MaxElems &&
          w * h <= MaxElems && off >= 0 && off + rowSize * h <= n) {
        var sb = 0L; var sg = 0L; var sr = 0L
        var y = 0L
        while (y < h) {
          var x = 0L
          while (x < w) {
            val base = (off + y * rowSize + x * 3).toInt
            sb += u8(base); sg += u8(base + 1); sr += u8(base + 2)
            x += 1
          }
          y += 1
        }
        val npx = (w * h).toDouble
        return ("bmp", Array((sb / npx).toFloat, (sg / npx).toFloat,
          (sr / npx).toFloat, npx.toFloat))
      }
    }
    if (n >= 44 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' &&
        u8(3) == 'F' && u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V' &&
        u8(11) == 'E') {
      val fmtSize = leU32(16)
      // bound the u32 chunk size BEFORE narrowing to Int: a garbage
      // fmtSize near 2^31 would wrap dataTag negative (AIOOBE) or
      // silently misparse
      val dataTag = if (fmtSize >= 0 && fmtSize <= n) (20 + fmtSize).toInt
                    else Int.MaxValue - 16
      if (leU16(20) == 1 && leU16(22) >= 1 && leU16(34) == 16 &&
          dataTag + 8 <= n &&
          u8(dataTag) == 'd' && u8(dataTag + 1) == 'a' &&
          u8(dataTag + 2) == 't' && u8(dataTag + 3) == 'a') {
        val dataSize = leU32(dataTag + 4)
        val nS = dataSize / 2
        if (nS >= 1 && nS <= MaxElems && dataTag + 8 + dataSize <= n) {
          var sq = 0L; var pk = 0L
          var j = 0L
          while (j < nS) {
            val u = leU16((dataTag + 8 + j * 2).toInt)
            val v = if (u < 32768) u else u - 65536
            sq += v.toLong * v; pk = math.max(pk, math.abs(v).toLong)
            j += 1
          }
          val rate = leU32(24)
          return ("wav", Array(
            math.sqrt(sq.toDouble / nS).toFloat, (pk / 32768.0).toFloat,
            nS.toFloat, rate.toFloat))
        }
      }
    }
    if (n >= 33 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' &&
        u8(3) == 'G' && u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a &&
        u8(7) == 0x0a) {
      decodePng(bytes) match {
        case Some(r) => return r
        case None => // corrupt PNG: opaque fallback below
      }
    }
    var s = 0L
    var i = 0
    while (i < n) { s += (bytes(i) & 0xff); i += 1 }
    ("unknown",
      Array(if (n == 0) 0f else (s.toDouble / n).toFloat, n.toFloat, 0f, 0f))
  }

  /** PNG truecolor decode — the first COMPRESSED format through the
    * codec slot: chunk walk (IHDR → IDAT* → IEND), zlib inflate via
    * `java.util.zip.Inflater` (pure JVM, public spec), scanline
    * de-filtering (types 0-4: None/Sub/Up/Average/Paeth), per-channel
    * pixel means. Supports the canonical bit-depth-8 / color-type-2
    * (truecolor RGB) / non-interlaced layout; anything else → None
    * (caller falls back to opaque features). Feature layout:
    * `[mean_r, mean_g, mean_b, n_pixels]` (PNG stores RGB; BMP's
    * `[mean_b, mean_g, mean_r, ...]` keeps each container's native
    * channel order — features are kind-tagged). */
  private[mallispark] def decodePng(
      bytes: Array[Byte]): Option[(String, Array[Float])] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def beU32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def tag(i: Int): String =
      new String(bytes, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val n = bytes.length
    if (beU32(8) != 13L || tag(12) != "IHDR") return None
    val w = beU32(16)
    val h = beU32(20)
    val (depth, color, interlace) = (u8(24), u8(25), u8(28))
    // w/h capped individually before the product (overflow guard — same
    // discipline as the BMP header parse)
    if (depth != 8 || color != 2 || interlace != 0 ||
      w < 1 || w > MaxElems || h < 1 || h > MaxElems ||
      w * h > MaxElems) return None
    // chunk walk: concatenate IDAT payloads until IEND
    val idat = new java.io.ByteArrayOutputStream()
    var pos = 33 // 8 sig + 12 IHDR framing + 13 IHDR data
    var ended = false
    while (!ended) {
      if (pos + 8 > n) return None
      val len = beU32(pos)
      if (len > n || pos + 12 + len > n) return None
      val t = tag(pos + 4)
      if (t == "IDAT") idat.write(bytes, pos + 8, len.toInt)
      if (t == "IEND") ended = true
      pos += 12 + len.toInt
    }
    if (idat.size == 0) return None
    val stride = 3 * w.toInt
    val raw = new Array[Byte]((stride + 1) * h.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val complete =
      try {
        var off = 0
        var stuck = false
        while (!stuck && off < raw.length) {
          val k = inf.inflate(raw, off, raw.length - off)
          if (k == 0) stuck = true else off += k
        }
        off == raw.length && inf.finished()
      } catch {
        case _: java.util.zip.DataFormatException => false
      } finally inf.end()
    if (!complete) return None
    // de-filter + accumulate channel sums (bpp = 3 → "left" is x-3)
    var sr = 0L; var sg = 0L; var sb = 0L
    var prev = new Array[Int](stride)
    var cur = new Array[Int](stride)
    var y = 0
    while (y < h) {
      val rowBase = y * (stride + 1)
      val ft = raw(rowBase) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < stride) {
        val rv = raw(rowBase + 1 + x) & 0xff
        val a = if (x >= 3) cur(x - 3) else 0
        val b = prev(x)
        val c = if (x >= 3) prev(x - 3) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) / 2
          case 4 => // Paeth
            val p = a + b - c
            val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b),
              math.abs(p - c))
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        cur(x) = (rv + pred) & 0xff
        x += 1
      }
      var i = 0
      while (i < stride) {
        sr += cur(i); sg += cur(i + 1); sb += cur(i + 2)
        i += 3
      }
      val t = prev; prev = cur; cur = t
      y += 1
    }
    val npx = (w * h).toDouble
    Some(("png", Array((sr / npx).toFloat, (sg / npx).toFloat,
      (sb / npx).toFloat, npx.toFloat)))
  }

  /** Per-partition batched feature extraction — the Dataset analogue of
    * mapInPandas: one iterator per partition, constant memory. The
    * decode is REAL for uncompressed containers (BMP pixel means, WAV
    * RMS/peak via [[decodeOne]]); compressed formats (jpeg/mp3/…) take
    * the opaque fallback here and are the slot where a codec-backed
    * decoder plugs in without changing schema, batch shape, or
    * partitioning. */
  def extractFeatures(df: DataFrame, id: String,
                      binCol: String): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    implicit val encIn = Encoders.product[MediaRow]
    val typed = df.select(F.col(id).cast(LongType).as("doc_id"),
      F.col(binCol).as("media")).as[MediaRow]
    typed.mapPartitions { it =>
      it.map { row =>
        val bytes = if (row.media == null) Array.empty[Byte] else row.media
        val (kind, feats) = decodeOne(bytes)
        MediaFeatures(row.doc_id, bytes.length.toLong, kind, feats)
      }
    }
  }
}
