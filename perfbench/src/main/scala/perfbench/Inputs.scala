package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.run.WebPages

/** Seeded inputs. The seed picks a window of document ids,
  * `[base, base + n)` with `base = windowOf(seed)`; every column is a pure
  * function of the id, so the same seed gives the same rows and another
  * seed gives other urls, texts, hosts, langs and partition hashes. The
  * engine never sees the seed, only the generated tables.
  *
  * `pages` has the shape of `WebPages.synthesize` (the flagship web-pages
  * table: Zipf-ish hosts and langs, 9-40 word texts) and the same
  * doc_id-arithmetic violation injections, which is what lets
  * [[Oracle]] count the expected verdicts without running the engine. */
object Inputs {

  /** Ids of one seed never overlap another seed's window for n < 10^7;
    * the window start is a multiple of 5, so dedup groups of 5 align. */
  def windowOf(seed: Long): Long = Math.floorMod(seed, 100000L) * 10000000L

  // violation injections by absolute doc_id, as in WebPages.synthesize
  val BadUrl = (2000L, 13L)
  val BadTs = (1000L, 17L)
  val EmptyText = (500L, 23L)
  val BadLang = (400L, 31L)

  private val Vocabulary = Seq("spark", "data", "table", "row", "join", "scan",
    "merge", "sort", "key", "value", "batch", "stream", "query", "filter")
  private val StreamWords = 4096

  private def isRes(id: Column, mr: (Long, Long)) = F.pmod(id, F.lit(mr._1)) === mr._2

  def pages(spark: SparkSession, base: Long, n: Long, parts: Int): DataFrame = {
    val id = F.col("id")
    def rnd(salt: Int) =
      (F.abs(F.xxhash64(id + F.lit(salt.toLong * 1000000007L))) % 1000000L)
        .cast(DoubleType) / 1000000.0
    val hostRank = F.floor(F.pow(rnd(1), 4.0) * 1000).cast(LongType)
    val langIdx = F.when(rnd(2) < 0.55, 0).when(rnd(2) < 0.75, 1)
      .when(rnd(2) < 0.87, 2).when(rnd(2) < 0.95, 3).otherwise(4)
    val langArr = F.array(WebPages.Langs.map(F.lit): _*)
    // a text is a run of 9-40 consecutive words of one seeded stream of
    // StreamWords words over the 14-word vocabulary of WebPages.synthesize:
    // a byte substring (O(1) to locate, unlike a character substring) of
    // the stream, so generation stays cheap and in generated code
    val rng = new scala.util.Random(base)
    val stream = Array.fill(StreamWords)(Vocabulary(rng.nextInt(Vocabulary.size)))
    val starts = F.lit(stream.scanLeft(1)(_ + _.length + 1))
    val first = F.pmod(F.xxhash64(id * 131), F.lit(StreamWords - 40L)).cast(IntegerType) + 1
    val words = (F.pmod(F.xxhash64(id), F.lit(32L)) + 9).cast(IntegerType)
    val textCol = F.lit(stream.mkString(" ").getBytes("UTF-8")).substr(
      F.element_at(starts, first),
      F.element_at(starts, first + words) - F.element_at(starts, first) - 1).cast(StringType)
    spark.range(base, base + n, 1L, parts).select(
      id.as("doc_id"),
      F.when(isRes(id, BadUrl), F.concat(F.lit("notaurl-"), id.cast(StringType)))
        .otherwise(F.concat(F.lit("https://host"), hostRank.cast(StringType),
          F.lit(".example.org/p/"), id.cast(StringType))).as("url"),
      F.timestamp_micros(
        (F.when(isRes(id, BadTs), F.lit(1800000000L))
          .otherwise(F.lit(WebPages.TsMinEpoch) + F.pmod(id * 37, F.lit(40000000L))))
          * 1000000L).as("warc_ts"),
      F.when(isRes(id, EmptyText), F.lit("")).otherwise(textCol).as("text"),
      F.when(isRes(id, BadLang), F.lit("xx"))
        .otherwise(F.element_at(langArr, langIdx + 1)).as("lang"))
      .withColumn("html", F.encode(F.col("text"), "UTF-8"))
      .select("doc_id", "url", "warc_ts", "html", "text", "lang")
  }

  /** The `graft.DedupScale` corpus shape: each body is shared by the 5 ids
    * of a group `floor(doc_id / 5)`, 9-32 tokens drawn from a 50k-token
    * vocabulary. */
  def corpus(spark: SparkSession, base: Long, n: Long, parts: Int): DataFrame = {
    val grp = F.floor(F.col("id") / 5)
    val text = F.array_join(
      F.transform(F.sequence(F.lit(0), (F.abs(F.xxhash64(grp)) % 24 + 8).cast(IntegerType)),
        i => F.concat(F.lit("w"),
          (F.abs(F.xxhash64(grp * 131 + i.cast(LongType))) % 50000).cast(StringType))),
      " ")
    spark.range(base, base + n, 1L, parts)
      .select(F.col("id").as("doc_id"), text.as("text"))
  }

  /** Mutation rule of snapshot state k >= 1, applied to the base table
    * (state 0). With i = doc_id - base:
    *  - i % 40 == k % 40        row dropped (2.5 %)
    *  - i % 30 == 7k % 30       text emptied: a `:string` violation (3.3 %)
    *  - else i % 25 == k % 25   text edited to `text || " rev<k>"` (4 %)
    *  - i % 33 == k % 33        lang set to "xx": an `:enum` violation (3 %)
    * so consecutive states differ by returning and newly dropped rows and
    * by the rows whose text or lang changed. */
  object Mutation {
    val Drop = 40L; val Empty = 30L; val Edit = 25L; val Lang = 33L
    def dropped(i: Long, k: Long): Boolean = k > 0 && i % Drop == k % Drop
    def emptied(i: Long, k: Long): Boolean = k > 0 && i % Empty == (7 * k) % Empty
    def edited(i: Long, k: Long): Boolean = k > 0 && !emptied(i, k) && i % Edit == k % Edit
    def langXx(i: Long, k: Long): Boolean = k > 0 && i % Lang == k % Lang

    def apply(df: DataFrame, base: Long, k: Long): DataFrame = {
      val i = F.col("doc_id") - base
      val text = F.when(F.pmod(i, F.lit(Empty)) === (7 * k) % Empty, F.lit(""))
        .when(F.pmod(i, F.lit(Edit)) === k % Edit,
          F.concat(F.col("text"), F.lit(s" rev$k")))
        .otherwise(F.col("text"))
      df.where(F.pmod(i, F.lit(Drop)) =!= k % Drop)
        .withColumn("text", text)
        .withColumn("lang", F.when(F.pmod(i, F.lit(Lang)) === k % Lang, F.lit("xx"))
          .otherwise(F.col("lang")))
        .withColumn("html", F.encode(F.col("text"), "UTF-8"))
        .select("doc_id", "url", "warc_ts", "html", "text", "lang")
    }
  }

  /** The payload `snapshotDiff` digests: text and lang. */
  val DiffPayload: Column = F.concat_ws("\u0001", F.col("text"), F.col("lang"))
}
