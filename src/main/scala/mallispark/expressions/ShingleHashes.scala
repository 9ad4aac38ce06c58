package mallispark.expressions

import org.apache.spark.sql.{Column, MallisparkBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Shared row-local kernel for the PORTABLE shingle hashes: lowercase
  * (UTF8String.toLowerCase — identical to `lower()`), split on ASCII
  * whitespace (identical to Java `\\s+`, which is ASCII-only), join word
  * n-grams with ' ', md5 the shingle bytes (identical to `md5()` of the
  * joined string), and read the leading hex digits as a BIGINT — exactly
  * `conv(substring(md5(s),1,H),16,10)` for H = 8 (h32) / 15 (h60).
  *
  * Purpose: the Column formulation (`transform(sequence, i →
  * array_join(slice(split(...)...)))` + per-shingle md5 through
  * interpreted HOFs) costs ~70% of the portable dedup paths; this kernel
  * produces BIT-IDENTICAL hashes in one pass with no intermediate
  * token/shingle strings, so the DuckDB oracle SQL is untouched. */
object ShingleKernel {

  /** Token [start, end) offsets within the lowered byte array — EXACTLY
    * Spark `split(s, "\\s+")` semantics (StringSplit with limit -1, NOT
    * Java's String.split): a leading whitespace run (or an empty string)
    * yields a leading EMPTY token, and a trailing whitespace run yields a
    * trailing EMPTY token. */
  def tokenize(bytes: Array[Byte]): (Array[Int], Array[Int], Int) = {
    val n = bytes.length
    val leadingEmpty = n == 0 || isWs(bytes(0))
    val trailingEmpty = n > 0 && isWs(bytes(n - 1))
    var cnt = (if (leadingEmpty) 1 else 0) + (if (trailingEmpty) 1 else 0)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) { cnt += 1; while (i < n && !isWs(bytes(i))) i += 1 }
    }
    val starts = new Array[Int](cnt)
    val ends = new Array[Int](cnt)
    var t = 0
    if (leadingEmpty) { starts(0) = 0; ends(0) = 0; t = 1 }
    i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        starts(t) = i
        while (i < n && !isWs(bytes(i))) i += 1
        ends(t) = i
        t += 1
      }
    }
    if (trailingEmpty) { starts(t) = n; ends(t) = n; t += 1 }
    (starts, ends, cnt)
  }

  @inline def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** First `hexDigits` hex digits of the md5 digest as a long —
    * `conv(substring(md5(s),1,hexDigits),16,10)`. */
  def hexPrefix(digest: Array[Byte], hexDigits: Int): Long = {
    var v = 0L
    var d = 0
    while (d < hexDigits) {
      val b = digest(d / 2) & 0xff
      val nibble = if (d % 2 == 0) b >>> 4 else b & 0xf
      v = (v << 4) | nibble
      d += 1
    }
    v
  }

  /** md5 of the i-th n-gram shingle (tokens i..i+n-1 joined by ' '). */
  def shingleDigest(md: java.security.MessageDigest, bytes: Array[Byte],
                    starts: Array[Int], ends: Array[Int], i: Int,
                    n: Int): Array[Byte] = {
    md.reset()
    var j = i
    while (j < i + n) {
      if (j > i) md.update(' '.toByte)
      md.update(bytes, starts(j), ends(j) - starts(j))
      j += 1
    }
    md.digest()
  }
}

/** Portable MinHash signature straight from text: k affine minima over
  * the md5-h32 shingle hashes — BIT-IDENTICAL to
  * `AffineMinHash(transform(array_distinct(shingles(text,n)), h32), k)`,
  * the specs' reference formulation (minima are multiset-invariant, so
  * distinctness is immaterial), in one
  * pass with no intermediate strings. Its generated code calls the Scala
  * body ([[ScalaBodyCodegen]]): the md5 calls dominate, and a generated
  * copy of the loop would only remove interpreter dispatch. */
case class ShingleMinHash(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ScalaBodyCodegen {

  require(n > 0 && n <= 16 && k > 0 && k <= 512)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_minhash needs string, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_minhash"

  private val P = mallispark.text.Dedup.MinhashP

  // one digest per THREAD: the codegen reference object is shared by
  // every task of the stage in an executor, and MessageDigest is stateful
  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(input: Any): Any = {
    val digest = md.get()
    val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
    val (starts, ends, cnt) = ShingleKernel.tokenize(bytes)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i + n <= cnt) {
      val dg = ShingleKernel.shingleDigest(digest, bytes, starts, ends, i, n)
      val h = ShingleKernel.hexPrefix(dg, 8)
      var s = 0
      while (s < k) {
        val m = (h * (2L * s + 1L) + 99991L * s) % P
        if (m < mins(s)) mins(s) = m
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleMinHash {
  def apply(text: Column, n: Int, k: Int): Column =
    MallisparkBridge.column(
      new ShingleMinHash(MallisparkBridge.expression(text), n, k))
}

/** Sorted DISTINCT 60-bit portable shingle hashes from text —
  * BIT-IDENTICAL to
  * `sort_array(array_distinct(transform(array_distinct(shingles(text,n)),
  * h60)))` (distinct-on-strings vs distinct-on-h60 agree up to 2^-60
  * collisions), with no intermediate strings. */
case class ShingleH60Set(child: Expression, n: Int)
    extends UnaryExpression with ScalaBodyCodegen {

  require(n > 0 && n <= 16)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_h60_set needs string, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_h60_set"

  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(input: Any): Any = {
    val digest = md.get()
    val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
    val (starts, ends, cnt) = ShingleKernel.tokenize(bytes)
    val m = math.max(cnt - n + 1, 0)
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      val dg = ShingleKernel.shingleDigest(digest, bytes, starts, ends, i, n)
      hs(i) = ShingleKernel.hexPrefix(dg, 15)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe in place
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleH60Set {
  def apply(text: Column, n: Int): Column =
    MallisparkBridge.column(
      new ShingleH60Set(MallisparkBridge.expression(text), n))
}

/** Portable 64-bit SimHash as two 32-bit halves [hi, lo] — BIT-IDENTICAL
  * to the Column formulation in `Dedup.simhashDF` (DISTINCT lowered
  * tokens, md5 of "hi:"+token / "lo:"+token, per-bit ±1 votes, pack
  * bit i iff votes > 0), in one pass with no intermediate arrays.
  * Token distinctness is EXACT (sort by byte content, unique), matching
  * `array_distinct` on the token strings. */
case class SimHashPortable(child: Expression)
    extends UnaryExpression with ScalaBodyCodegen {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_portable needs string, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_portable"

  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val HiPrefix = "hi:".getBytes("UTF-8")
  private val LoPrefix = "lo:".getBytes("UTF-8")

  override protected def nullSafeEval(input: Any): Any = {
    val digest = md.get()
    val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
    val (starts, ends, cnt) = ShingleKernel.tokenize(bytes)
    // exact distinct: sort token indices by byte content, then unique
    val ord = new Ordering[Int] {
      def compare(a: Int, b: Int): Int = {
        var i = starts(a); var j = starts(b)
        while (i < ends(a) && j < ends(b)) {
          val c = (bytes(i) & 0xff) - (bytes(j) & 0xff)
          if (c != 0) return c
          i += 1; j += 1
        }
        (ends(a) - starts(a)) - (ends(b) - starts(b))
      }
    }
    val idx = Array.range(0, cnt).sorted(ord)
    val hiVotes = new Array[Int](32)
    val loVotes = new Array[Int](32)
    var p = 0
    while (p < cnt) {
      if (p == 0 || ord.compare(idx(p), idx(p - 1)) != 0) {
        val t = idx(p)
        val hHi = tokenH32(digest, HiPrefix, bytes, starts(t), ends(t))
        val hLo = tokenH32(digest, LoPrefix, bytes, starts(t), ends(t))
        var b = 0
        while (b < 32) {
          hiVotes(b) += (if (((hHi >>> b) & 1L) == 1L) 1 else -1)
          loVotes(b) += (if (((hLo >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      p += 1
    }
    var hi = 0L; var lo = 0L
    var b = 0
    while (b < 32) {
      if (hiVotes(b) > 0) hi |= (1L << b)
      if (loVotes(b) > 0) lo |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  private def tokenH32(digest: java.security.MessageDigest,
                       prefix: Array[Byte], bytes: Array[Byte],
                       start: Int, end: Int): Long = {
    digest.reset()
    digest.update(prefix)
    digest.update(bytes, start, end - start)
    ShingleKernel.hexPrefix(digest.digest(), 8)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashPortable {
  def apply(text: Column): Column =
    MallisparkBridge.column(
      new SimHashPortable(MallisparkBridge.expression(text)))
}

/** Engine-native 64-bit SimHash straight from text: xxhash64 per DISTINCT
  * token (identity by token hash — collision odds 2^-64-scale), 64 ±1 bit
  * votes, packed. The native dual of `SimHashPortable` (md5) — NOT
  * DuckDB-portable; rows-only checks downstream. */
case class SimHashFromText(child: Expression)
    extends UnaryExpression with ScalaBodyCodegen {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash_from_text needs string, got ${other.sql}")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_from_text"

  override protected def nullSafeEval(input: Any): Any = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val bytes = input.asInstanceOf[UTF8String].toLowerCase.getBytes
    val (starts, ends, cnt) = ShingleKernel.tokenize(bytes)
    val hs = new Array[Long](cnt)
    var t = 0
    while (t < cnt) {
      var h = 42L
      var i = starts(t)
      while (i < ends(t)) { h = XXH64.hashInt(bytes(i) & 0xff, h); i += 1 }
      hs(t) = h
      t += 1
    }
    java.util.Arrays.sort(hs)
    val votes = new Array[Int](64)
    var p = 0
    while (p < cnt) {
      if (p == 0 || hs(p) != hs(p - 1)) {
        val h = hs(p)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      p += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashFromText {
  def apply(text: Column): Column =
    MallisparkBridge.column(
      new SimHashFromText(MallisparkBridge.expression(text)))
}
