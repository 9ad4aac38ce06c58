package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.text.Multimodal

/** Multimodal queries over binary payloads: magic-byte metadata,
  * frame sampling, and real BMP/WAV/PNG decode on the Column and the
  * batched-JVM paths. */
private[graft] object MultimodalQueries {
  import SparkEntry.t

  // ------------------------------------------------------------------
  // multimodal test corpus: real BMP/WAV binaries synthesized
  // deterministically (pixels/samples from md5(text)), plus two
  // hand-assembled golden files pinning the byte layout to the
  // published format specs
  // ------------------------------------------------------------------

  /** 4-byte little-endian hex of an integer Column (for container
    * headers built in hex-string space, then unhex'd once). */
  private def u32leHex(c: Column): Column = {
    val be = F.lpad(F.hex(c), 8, "0")
    F.concat(F.substring(be, 7, 2), F.substring(be, 5, 2),
      F.substring(be, 3, 2), F.substring(be, 1, 2))
  }

  /** Hand-assembled 2×2 24-bit BMP (70 bytes): pixel rows are 8 bytes
    * (2 px · 3 B padded to 4-byte boundary). Expected per the spec:
    * width 2, height 2, sum_b 383, sum_g 319, sum_r 447 — padding bytes
    * excluded. */
  private val GoldenBmpHex =
    "424D460000000000000036000000" + // BITMAPFILEHEADER: 'BM', size 70, off 54
      "280000000200000002000000010018000000000010000000" + // info: 40,w2,h2,planes1,bpp24,comp0,img16
      "130B0000130B00000000000000000000" + // 2835 ppm × 2, 0 colors
      "FF000000FF000000" + // row 0: (B=FF)(G=FF px2) + 2 pad bytes
      "0000FF8040C00000"   // row 1: (R=FF)(80,40,C0) + 2 pad bytes

  /** Hand-assembled 2×2 truecolor PNG (82 bytes): IHDR(2,2,8,2) + one
    * IDAT holding a zlib stream with a single STORED deflate block
    * (hand-derivable — no compressor needed) of the filtered scanlines
    * `[0, (10,20,30),(40,50,60)] [2(Up), +100×6]` + IEND. Recon pixels
    * (10,20,30),(40,50,60),(110,120,130),(140,150,160) → means
    * r 75, g 85, b 95 over 4 px. */
  private val GoldenPngHex =
    "89504E470D0A1A0A" + // signature
      "0000000D4948445200000002000000020802000000FDD49A73" + // IHDR + crc
      "0000001949444154" + // IDAT len 25
      "7801010E00F1FF" + // zlib hdr + stored-block framing (len 14)
      "000A141E28323C02646464646464" + // filtered scanlines
      "103E032D" + "F9247B34" + // adler32 + chunk crc
      "0000000049454E44AE426082" // IEND

  /** doc_id + real container binary: BMP for even ids (w = 1 + id%3,
    * h = 2, pixels from md5(text) repeated), WAV PCM16 for odd ids
    * (8 samples = the 16 md5 bytes, 16 kHz), plus the two goldens. */
  private def mediaCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val id = F.col("doc_id")
    val m = F.md5(F.col("text")) // 32 hex chars = 16 bytes
    // BMP: header fields computed, rows taken from repeat(md5, 2)
    val w = F.lit(1L) + id % 3
    val rowSz = (F.floor((w * 3L + 3L) / 4L) * 4L).cast(LongType)
    val padHex = F.lit("000000").substr(F.lit(1L), (rowSz - w * 3L) * 2L)
    val pixSrc = F.concat(m, m)
    def rowHex(y: Int): Column =
      F.concat(pixSrc.substr(F.lit(y) * w * 6L + 1L, w * 6L), padHex)
    val bmpHex = F.concat(
      F.lit("424D"), u32leHex(F.lit(54L) + rowSz * 2L), F.lit("00000000"),
      u32leHex(F.lit(54L)), u32leHex(F.lit(40L)), u32leHex(w),
      u32leHex(F.lit(2L)), F.lit("0100"), F.lit("1800"),
      u32leHex(F.lit(0L)), u32leHex(rowSz * 2L),
      u32leHex(F.lit(2835L)), u32leHex(F.lit(2835L)),
      u32leHex(F.lit(0L)), u32leHex(F.lit(0L)),
      rowHex(0), rowHex(1))
    // WAV: canonical 44-byte header + 16 data bytes (8 s16le samples)
    val wavHex = F.concat(
      F.lit("52494646"), u32leHex(F.lit(36L + 16L)), F.lit("57415645"),
      F.lit("666D7420"), u32leHex(F.lit(16L)), F.lit("0100"), F.lit("0100"),
      u32leHex(F.lit(16000L)), u32leHex(F.lit(32000L)),
      F.lit("0200"), F.lit("1000"),
      F.lit("64617461"), u32leHex(F.lit(16L)), m)
    val synth = t(s, dir, "documents")
      .select(id, F.unhex(F.when(id % 2 === 0, bmpHex).otherwise(wavHex))
        .as("bin"))
    // golden ids sit far outside any documents id range (1e9+) so no
    // scale factor can collide them with synthesized rows
    val golden = Seq(
      (1000000001L, GoldenBmpHex),
      (1000000002L, "524946462C00000057415645" +
        "666D7420100000000100010040" + "1F0000803E000002001000" +
        "6461746108000000" + "E80330F8FF7F0080"))
      .toDF("doc_id", "fh")
      .select(F.col("doc_id"), F.unhex(F.col("fh")).as("bin"))
    synth.unionByName(golden)
  }

  def specs: Seq[QuerySpec] = Seq(

    // ---- multimodal metadata: magic-byte sniffing IS oracle-checkable
    //      (binary built with injected jpeg/png/riff prefixes) ----
    QuerySpec("multimodal_meta", (s, dir) => {
      val id = F.col("doc_id")
      val base = F.encode(F.col("text"), "UTF-8")
      val jpeg = F.lit(Array(0xFF, 0xD8).map(_.toByte))
      val png = F.lit(Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte))
      val riff = F.lit(Array(0x52, 0x49, 0x46, 0x46).map(_.toByte))
      val bin = F.when(id % 4 === 0, F.concat(jpeg, base))
        .when(id % 4 === 1, F.concat(png, base))
        .when(id % 4 === 2, F.concat(riff, base))
        .otherwise(base)
      t(s, dir, "documents")
        .select(id, Multimodal.mediaMetadata(bin).as("m"),
          F.md5(F.hex(bin)).as("content_h"))
        .select(id, F.col("m.n_bytes").as("n_bytes"),
          F.col("m.kind").as("kind"), F.col("content_h"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN '\xFF\xD8'::BLOB || encode(text)
        |       WHEN doc_id % 4 = 1 THEN '\x89PNG'::BLOB || encode(text)
        |       WHEN doc_id % 4 = 2 THEN 'RIFF'::BLOB || encode(text)
        |       ELSE encode(text) END AS bin
        |  FROM documents)
        |SELECT doc_id, CAST(octet_length(bin) AS BIGINT) AS n_bytes,
        |  CASE WHEN substring(hex(bin), 1, 4) = 'FFD8' THEN 'jpeg'
        |       WHEN substring(hex(bin), 1, 8) = '89504E47' THEN 'png'
        |       WHEN substring(hex(bin), 1, 8) = '52494646' THEN 'riff'
        |       ELSE 'unknown' END AS kind,
        |  md5(hex(bin)) AS content_h
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- frame sampling over the binary payload: n evenly-spaced
    //      fixed-width byte windows (video-keyframe shape), exploded with
    //      indices; md5 of each window's hex (DuckDB slices the hex
    //      string — blob substring parity per the md5(hex) route) ----
    QuerySpec("multimodal_frames", (s, dir) => {
      val id = F.col("doc_id")
      val base = F.encode(F.col("text"), "UTF-8")
      val jpeg = F.lit(Array(0xFF, 0xD8).map(_.toByte))
      val png = F.lit(Array(0x89, 0x50, 0x4E, 0x47).map(_.toByte))
      val riff = F.lit(Array(0x52, 0x49, 0x46, 0x46).map(_.toByte))
      val bin = F.when(id % 4 === 0, F.concat(jpeg, base))
        .when(id % 4 === 1, F.concat(png, base))
        .when(id % 4 === 2, F.concat(riff, base))
        .otherwise(base)
      t(s, dir, "documents")
        // posexplode_OUTER: constant-length window array (never empty) —
        // a plain posexplode lets InferFiltersFromGenerate rebuild the
        // whole window transform inside a size() Filter (double work)
        .select(id, F.posexplode_outer(
          Multimodal.sampleWindows(bin, n = 3, width = 8))
          .as(Seq("frame_idx", "frame")))
        .select(id, F.col("frame_idx").cast(LongType).as("frame_idx"),
          F.md5(F.hex(F.col("frame"))).as("frame_h"))
        .orderBy("doc_id", "frame_idx")
    }, oracle = Some(
      // sampleWindows mirror: stride = greatest((len-8)/2.0, 1.0) double
      // division (Column./), offset cast truncates → floor() here (DuckDB
      // CAST(double AS INT) rounds); blob windows sliced on the hex string
      """WITH b AS (SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN '\xFF\xD8'::BLOB || encode(text)
        |       WHEN doc_id % 4 = 1 THEN '\x89PNG'::BLOB || encode(text)
        |       WHEN doc_id % 4 = 2 THEN 'RIFF'::BLOB || encode(text)
        |       ELSE encode(text) END AS bin
        |  FROM documents),
        |fr AS (SELECT doc_id, i,
        |    CAST(floor(i * greatest((octet_length(bin) - 8) / 2.0, 1.0) + 1)
        |      AS BIGINT) AS pos,
        |    hex(bin) AS h
        |  FROM b CROSS JOIN (SELECT unnest(range(3)) AS i) ii)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  md5(substring(h, CAST((pos - 1) * 2 + 1 AS INT), 16)) AS frame_h
        |FROM fr ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- multimodal REAL decode, Column path: header-parsed BMP
    //      pixel sums + WAV PCM16 sum-of-squares/peak over a corpus of
    //      deterministically synthesized binaries + two hand-assembled
    //      golden files whose expected values are hardcoded from the
    //      public format specs (pins the parser to the spec, not to the
    //      synthesizer) ----
    QuerySpec("multimodal_decode", (s, dir) => {
      val d = mediaCorpus(s, dir)
        // hex(bin) projected ONCE — every byte slice in the decoder
        // references this column instead of re-hexing the payload
        .select(F.col("doc_id"), F.hex(F.col("bin")).as("h"),
          F.length(F.col("bin")).cast(LongType).as("n"))
      val m = Multimodal.decodeMediaHex(F.col("h"), F.col("n"))
      // flatten AFTER projecting m — attribute access, not subtree clones
      d.select(F.col("doc_id"), m.as("m"))
        .select(F.col("doc_id"), F.col("m.kind").as("kind"),
          F.col("m.img.width").as("width"),
          F.col("m.img.height").as("height"),
          F.col("m.img.sum_b").as("sum_b"),
          F.col("m.img.sum_g").as("sum_g"),
          F.col("m.img.sum_r").as("sum_r"),
          F.col("m.aud.n_samples").as("n_samples"),
          F.col("m.aud.sample_rate").as("sample_rate"),
          F.col("m.aud.sum_sq").as("sum_sq"),
          F.col("m.aud.peak_abs").as("peak_abs"))
        .orderBy("doc_id")
    }, oracle = Some(
      // Real-decode mirror, construction-based: the engine synthesizes a
      // BMP/WAV binary and parses it back with the generic header-driven
      // decoder; the oracle computes the expected stats straight from the
      // md5 pixel/sample source (checks decode = synth⁻¹ at every byte
      // position). The two golden rows are hand-computed from the public
      // format specs — they pin the parser to the spec itself.
      // Pixel byte i of pixel p channel c lives at md5-hex chars 6p+2c+1;
      // sample j is s16le at chars 4j+1 (lo) / 4j+3 (hi).
      """WITH syn AS (
        |  SELECT doc_id, md5(text) AS m, 1 + doc_id % 3 AS w FROM documents),
        |img AS (
        |  SELECT doc_id, max(w) AS w,
        |    CAST(SUM(('0x'||substring(repeat(m,2), p*6+1, 2))::BIGINT) AS BIGINT) AS sum_b,
        |    CAST(SUM(('0x'||substring(repeat(m,2), p*6+3, 2))::BIGINT) AS BIGINT) AS sum_g,
        |    CAST(SUM(('0x'||substring(repeat(m,2), p*6+5, 2))::BIGINT) AS BIGINT) AS sum_r
        |  FROM syn CROSS JOIN (SELECT unnest(range(6)) AS p) pp
        |  WHERE doc_id % 2 = 0 AND p < 2*w
        |  GROUP BY doc_id),
        |wav AS (
        |  SELECT doc_id, CAST(SUM(v*v) AS BIGINT) AS sum_sq,
        |    CAST(MAX(abs(v)) AS BIGINT) AS peak_abs
        |  FROM (
        |    SELECT doc_id, CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS v
        |    FROM (
        |      SELECT doc_id,
        |        ('0x'||substring(m, j*4+1, 2))::BIGINT
        |          + 256*('0x'||substring(m, j*4+3, 2))::BIGINT AS u
        |      FROM syn CROSS JOIN (SELECT unnest(range(8)) AS j) jj
        |      WHERE doc_id % 2 = 1) uu) vv
        |  GROUP BY doc_id)
        |SELECT doc_id, 'bmp' AS kind, CAST(w AS BIGINT) AS width,
        |  CAST(2 AS BIGINT) AS height, sum_b, sum_g, sum_r,
        |  CAST(NULL AS BIGINT) AS n_samples, CAST(NULL AS BIGINT) AS sample_rate,
        |  CAST(NULL AS BIGINT) AS sum_sq, CAST(NULL AS BIGINT) AS peak_abs
        |FROM img
        |UNION ALL
        |SELECT doc_id, 'wav', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(8 AS BIGINT), CAST(16000 AS BIGINT), sum_sq, peak_abs
        |FROM wav
        |UNION ALL
        |SELECT CAST(1000000001 AS BIGINT), 'bmp', CAST(2 AS BIGINT), CAST(2 AS BIGINT),
        |  CAST(383 AS BIGINT), CAST(319 AS BIGINT), CAST(447 AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT)
        |UNION ALL
        |SELECT CAST(1000000002 AS BIGINT), 'wav', CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  CAST(NULL AS BIGINT), CAST(4 AS BIGINT), CAST(8000 AS BIGINT),
        |  CAST(2152418113 AS BIGINT), CAST(32768 AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),

    // ---- multimodal REAL decode, batched-JVM path (the mapInPandas
    //      analogue / codec slot): per-partition ByteBuffer parse of the
    //      same corpus, feature vector = [mean_b, mean_g, mean_r, n_px]
    //      (BMP) / [rms, peak/32768, n, rate] (WAV); floats derived from
    //      exact integer sums so DuckDB mirrors them bit-for-bit ----
    QuerySpec("multimodal_features", (s, dir) => {
      import s.implicits._
      // + the golden PNG: the first COMPRESSED container through the
      // codec slot (zlib inflate + de-filtering happen JVM-side only —
      // no hex-arithmetic dual, so it joins this gate, not mediaCorpus)
      val d = mediaCorpus(s, dir).unionByName(
        Seq((1000000003L, GoldenPngHex)).toDF("doc_id", "fh")
          .select(F.col("doc_id"), F.unhex(F.col("fh")).as("bin")))
      val feats = Multimodal.extractFeatures(d, "doc_id", "bin").toDF()
      def f(i: Int) =
        F.round(F.col("features").getItem(i).cast(DoubleType), 3).as(s"f$i")
      feats.select(F.col("doc_id"), F.col("kind"), F.col("n_bytes"),
          f(0), f(1), f(2), f(3))
        .orderBy("doc_id")
    }, oracle = Some(
      // Batched-JVM decode mirror: features are exact integer sums divided
      // as doubles then narrowed to float32 on BOTH engines (IEEE —
      // bit-identical), rounded to 3 dp on the double widening. n_bytes is
      // the container size formula; golden features hand-derived from the
      // golden stats above.
      """WITH syn AS (
        |  SELECT doc_id, md5(text) AS m, 1 + doc_id % 3 AS w FROM documents),
        |img AS (
        |  SELECT doc_id, max(w) AS w,
        |    SUM(('0x'||substring(repeat(m,2), p*6+1, 2))::BIGINT) AS sum_b,
        |    SUM(('0x'||substring(repeat(m,2), p*6+3, 2))::BIGINT) AS sum_g,
        |    SUM(('0x'||substring(repeat(m,2), p*6+5, 2))::BIGINT) AS sum_r
        |  FROM syn CROSS JOIN (SELECT unnest(range(6)) AS p) pp
        |  WHERE doc_id % 2 = 0 AND p < 2*w
        |  GROUP BY doc_id),
        |wav AS (
        |  SELECT doc_id, SUM(v*v) AS sum_sq, MAX(abs(v)) AS peak_abs
        |  FROM (
        |    SELECT doc_id, CASE WHEN u < 32768 THEN u ELSE u - 65536 END AS v
        |    FROM (
        |      SELECT doc_id,
        |        ('0x'||substring(m, j*4+1, 2))::BIGINT
        |          + 256*('0x'||substring(m, j*4+3, 2))::BIGINT AS u
        |      FROM syn CROSS JOIN (SELECT unnest(range(8)) AS j) jj
        |      WHERE doc_id % 2 = 1) uu) vv
        |  GROUP BY doc_id)
        |SELECT doc_id, 'bmp' AS kind,
        |  CAST(54 + ((3*w+3)//4)*4*2 AS BIGINT) AS n_bytes,
        |  round(CAST(CAST(CAST(sum_b AS DOUBLE)/(2*w) AS REAL) AS DOUBLE), 3) AS f0,
        |  round(CAST(CAST(CAST(sum_g AS DOUBLE)/(2*w) AS REAL) AS DOUBLE), 3) AS f1,
        |  round(CAST(CAST(CAST(sum_r AS DOUBLE)/(2*w) AS REAL) AS DOUBLE), 3) AS f2,
        |  round(CAST(CAST(CAST(2*w AS DOUBLE) AS REAL) AS DOUBLE), 3) AS f3
        |FROM img
        |UNION ALL
        |SELECT doc_id, 'wav', CAST(60 AS BIGINT),
        |  round(CAST(CAST(sqrt(CAST(sum_sq AS DOUBLE)/8) AS REAL) AS DOUBLE), 3),
        |  round(CAST(CAST(CAST(peak_abs AS DOUBLE)/32768 AS REAL) AS DOUBLE), 3),
        |  8.0, 16000.0
        |FROM wav
        |UNION ALL
        |SELECT CAST(1000000001 AS BIGINT), 'bmp', CAST(70 AS BIGINT),
        |  95.75, 79.75, 111.75, 4.0
        |UNION ALL
        |SELECT CAST(1000000002 AS BIGINT), 'wav', CAST(52 AS BIGINT),
        |  round(CAST(CAST(sqrt(2152418113/4.0) AS REAL) AS DOUBLE), 3),
        |  1.0, 4.0, 8000.0
        |UNION ALL
        |SELECT CAST(1000000003 AS BIGINT), 'png', CAST(82 AS BIGINT),
        |  75.0, 85.0, 95.0, 4.0
        |ORDER BY doc_id""".stripMargin))
  )
}
