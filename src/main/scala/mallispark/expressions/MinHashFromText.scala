package mallispark.expressions

import org.apache.spark.sql.{Column, MallisparkBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** MinHash signature straight from TEXT: tokenize (ASCII whitespace +
  * lowercase), roll an n-token ring of xxhash64 token hashes, combine into
  * a shingle hash, and track k per-seed minima — ONE loop (this Scala
  * body, called from generated code via [[ScalaBodyCodegen]]), no
  * intermediate token/shingle string arrays.
  *
  * Why: the shingle-string construction (`transform(sequence, i →
  * array_join(slice(tokens…)))`) costs ~45% of the whole LSH job at
  * bench scale — each shingle allocates a joined string only to be
  * hashed and thrown away. At 10^12 documents that alloc churn IS the
  * dedup job. This expression is the scale path; it is NOT
  * oracle-portable (engine-native hashes, ASCII-only lowercase) — the
  * md5-based `Dedup.minhashLSH` remains the DuckDB-checked dual.
  *
  * Duplicate shingles need no dedup: the signature is a MIN, and the min
  * over a multiset equals the min over its set. */
case class MinHashFromText(child: Expression, n: Int, k: Int)
    extends UnaryExpression with ScalaBodyCodegen {

  require(n > 0 && n <= 16, s"n out of range: $n")
  require(k > 0 && k <= 512, s"k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_from_text needs string, got ${other.sql}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "minhash_from_text"

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val mins = Array.fill(k)(Long.MaxValue)
    val ring = new Array[Long](n)
    var tok = 0
    var i = 0
    val len = bytes.length
    while (i < len) {
      // skip whitespace run
      while (i < len && isWs(bytes(i))) i += 1
      if (i < len) {
        val start = i
        var h = -7046029254386353131L // xxhash64 seed of the token stream
        while (i < len && !isWs(bytes(i))) {
          h = XXH64.hashInt(lower(bytes(i)), h)
          i += 1
        }
        if (i > start) {
          ring(tok % n) = h
          tok += 1
          if (tok >= n) {
            var sh = 0L
            var j = 0
            while (j < n) {
              sh = XXH64.hashLong(ring((tok - n + j) % n), sh)
              j += 1
            }
            var seed = 0
            while (seed < k) {
              val m = XXH64.hashLong(sh, seed.toLong)
              if (m < mins(seed)) mins(seed) = m
              seed += 1
            }
          }
        }
      }
    }
    new GenericArrayData(mins)
  }

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'

  @inline private def lower(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') (b + 32) & 0xff else b & 0xff

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFromText {
  /** Column wrapper. */
  def apply(text: Column, n: Int, k: Int): Column =
    MallisparkBridge.column(
      new MinHashFromText(MallisparkBridge.expression(text), n, k))
}
