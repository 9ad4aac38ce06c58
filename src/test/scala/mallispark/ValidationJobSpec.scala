package mallispark

import org.apache.spark.sql.{functions => F}
import mallispark.run.{ValidationJob, WebPages}

/** ValidationJob: verdicts, violations, manifest resume (FIXTURES.md §3
  * resume row: kill after p of P partitions → rerun validates only the
  * rest; final verdicts identical to a single run). */
class ValidationJobSpec extends SparkSuite {

  private lazy val pages =
    WebPages.derive(spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  test("run: per-partition verdicts sum to the table; violations keyed") {
    val res = ValidationJob.run(pages, WebPages.schema, Seq("url"), nParts = 16)
    val verdicts = res.verdicts.collect()
    assert(verdicts.map(_.getLong(1)).sum === pages.count())
    assert(verdicts.length === 16)
    val nInvalid = res.flagged.where(!F.col("valid")).count()
    assert(nInvalid > 0) // injections present
    val distinctViolUrls = res.violations.select("url").distinct().count()
    assert(distinctViolUrls === nInvalid) // ≤1 violation per injected row
  }

  test("run fails fast when the input already carries a part_id column") {
    // silently replacing it would corrupt caller data AND the lineage
    val poisoned = pages.withColumn("part_id", F.lit(0L))
    val e = intercept[IllegalArgumentException](
      ValidationJob.run(poisoned, WebPages.schema, Seq("url")))
    assert(e.getMessage.contains("part_id"))
  }

  test("resume: partial manifest -> second pass completes; equals single run") {
    val dir = java.nio.file.Files.createTempDirectory("msresume").toString
    try {
      val runId = "r1"
      // simulate a killed run: validate only partitions 0-7 of 16 and commit
      // their manifest rows
      val withPart = pages.withColumn("part_id",
        F.pmod(F.xxhash64(F.col("url")), F.lit(16L)))
      val firstHalf = withPart.where(F.col("part_id") < 8).drop("part_id")
      ValidationJob.runResumable(spark, firstHalf, WebPages.schema,
        Seq("url"), dir, runId, nParts = 16)
      val afterPartial = ValidationJob.completedPartitions(spark, dir, runId)
        .collect().map(_.getLong(0)).toSet
      assert(afterPartial === (0L to 7L).toSet)

      // resume over the FULL input: only partitions 8-15 get validated
      val manifest = ValidationJob.runResumable(spark, pages, WebPages.schema,
        Seq("url"), dir, runId, nParts = 16)
      val byPart = manifest.collect()
        .map(r => r.getLong(r.fieldIndex("part_id")) ->
          r.getLong(r.fieldIndex("rows"))).toMap
      assert(byPart.keySet === (0L to 15L).toSet)

      // identical to a single, non-resumed run
      val single = ValidationJob.run(pages, WebPages.schema, Seq("url"),
        nParts = 16).verdicts.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val resumed = manifest.collect().map(r =>
        r.getLong(r.fieldIndex("part_id")) ->
          (r.getLong(r.fieldIndex("rows")),
            r.getLong(r.fieldIndex("valid_rows")))).toMap
      assert(resumed === single)

      // idempotent: a third pass finds nothing to do (no new manifest rows)
      val again = ValidationJob.runResumable(spark, pages, WebPages.schema,
        Seq("url"), dir, runId, nParts = 16)
      assert(again.count() === 16)
    } finally rmTree(dir)
  }

  test("readViolations: uncommitted rows dropped, a re-appended partition once") {
    val dir = java.nio.file.Files.createTempDirectory("msviols").toString
    try {
      val runId = "r1"
      ValidationJob.runResumable(spark, pages, WebPages.schema, Seq("url"),
        dir, runId, nParts = 16)
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
      val committed = rows(ValidationJob.readViolations(spark, dir, runId))
      assert(committed.nonEmpty)
      // a crash between the two writes: violation rows of a partition
      // with no manifest row, and a retry re-appending one committed
      // partition's rows
      val raw = spark.read.parquet(s"$dir/violations")
      val part = raw.agg(F.min("part_id")).head().getLong(0)
      raw.withColumn("part_id", F.lit(99L))
        .union(raw.where(F.col("part_id") === part))
        .write.mode("append").parquet(s"$dir/violations")
      assert(spark.read.parquet(s"$dir/violations").count() > committed.length)
      assert(rows(ValidationJob.readViolations(spark, dir, runId)) === committed)
    } finally rmTree(dir)
  }

  test("saltedCounts matches plain counts on skewed keys") {
    val salted = ValidationJob.saltedCounts(pages, "lang", salt = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = pages.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("skew: salting spreads the hot lang across reducers (SURVEY §7.5)") {
    // synthesized pages have Zipf lang skew: 'en' ~55% of rows
    val p = WebPages.synthesize(spark, 50000, partitions = 8)
    val langs = p.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs("en").toDouble / 50000 > 0.4, s"skew missing: $langs")
    // unsalted groupBy(lang): the hot key lands on ONE reducer task.
    // salted first phase: per-(lang, salt) groups are bounded by
    // hot/salt — verify the first-phase group sizes are balanced.
    val salt = 16
    val firstPhase = p.groupBy(F.col("lang"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt.toLong)).as("s"))
      .agg(F.count(F.lit(1)).as("c"))
    val sizes = firstPhase.collect().map(_.getLong(2))
    val maxGroup = sizes.max
    assert(maxGroup < langs("en") / (salt / 2),
      s"salting ineffective: max group $maxGroup vs hot ${langs("en")}")
    // and the salted aggregate still reduces to exact counts
    val merged = firstPhase.groupBy("lang").agg(F.sum("c").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged === langs)
  }

  test("synthesize: deterministic, injection rates as declared") {
    val p = WebPages.synthesize(spark, 20000, partitions = 4)
    val n = p.count()
    assert(n === 20000L)
    val badUrl = p.where(!F.col("url").rlike("^https?://[^\\s]+$")).count()
    assert(badUrl === 10L) // id % 2000 == 13
    val badLang = p.where(!F.col("lang").isin(WebPages.Langs: _*)).count()
    assert(badLang === 50L) // id % 400 == 31
    // determinism: same seed arithmetic -> same content hash
    val h1 = p.agg(F.sum(F.pmod(F.xxhash64(F.col("url"), F.col("text")),
      F.lit(1000003L)))).collect()(0).getLong(0)
    val h2 = WebPages.synthesize(spark, 20000, partitions = 8)
      .agg(F.sum(F.pmod(F.xxhash64(F.col("url"), F.col("text")),
        F.lit(1000003L)))).collect()(0).getLong(0)
    assert(h1 === h2) // partitioning does not change content
  }

  test("sampledViolations: exact counts, k-smallest exemplars, truncation") {
    import mallispark.compile.SchemaCompiler
    val viols = SchemaCompiler.violationsDF(WebPages.schema, pages,
      Seq("doc_id"))
    val k = 3
    val got = ValidationJob.sampledViolations(viols, "doc_id", k)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getSeq[Long](3).toVector)).toMap
    assert(got.nonEmpty)
    // ground truth from the unbounded frame (small scale only)
    val truth = viols.select("schema_path", "error_key", "doc_id").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (key, rs) => key -> rs.map(_.getLong(2)).sorted.toVector }
    assert(got.keySet === truth.keySet)
    truth.foreach { case (key, ids) =>
      val (n, ex) = got(key)
      assert(n === ids.size.toLong, s"count mismatch at $key")
      assert(ex === ids.take(k), s"exemplars not the k smallest at $key")
      // truncation is detectable exactly when the group exceeded k
      assert((n > ex.size) === (ids.size > k), s"truncation mark at $key")
    }
  }

  test("gate passes (0, 0) on an empty verdicts frame") {
    // empty input — or a resume with every partition already committed —
    // yields a 0-row verdicts frame whose sums are SQL NULL
    val empty = ValidationJob.run(pages.limit(0), WebPages.schema,
      Seq("url"), nParts = 4).verdicts
    assert(ValidationJob.gate(empty) === ((0L, 0L)))
  }

  test("gate: strict default fails on any invalid row; rate threshold holds") {
    val res = ValidationJob.run(pages, WebPages.schema, Seq("url"),
      nParts = 16)
    val total = pages.count()
    val invalid = res.flagged.where(!F.col("valid")).count()
    assert(invalid > 0)
    // strict m/assert semantics
    val e = intercept[IllegalStateException](ValidationJob.gate(res.verdicts))
    assert(e.getMessage.contains("gate tripped"))
    // a threshold just above the actual rate passes and reports counts
    val frac = invalid.toDouble / total
    val (rows, valid) = ValidationJob.gate(res.verdicts, frac + 1e-9)
    assert(rows === total && valid === total - invalid)
    // and just below trips
    intercept[IllegalStateException](
      ValidationJob.gate(res.verdicts, frac - 1e-9))
  }
}
