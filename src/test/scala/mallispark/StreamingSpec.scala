package mallispark

import org.apache.spark.sql.{functions => F}
import mallispark.run.WebPages
import mallispark.streaming.StreamingValidator

/** Streaming execution mode: same compiled expressions, AvailableNow
  * catch-up with checkpoint-based resume (only NEW files validated). */
class StreamingSpec extends SparkSuite {

  test("AvailableNow: validates a batch, checkpoint skips it on rerun") {
    val pages = WebPages.derive(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val base = java.nio.file.Files.createTempDirectory("msstream").toString
    try {
      val src = s"$base/src"; val out = s"$base/viol"; val cp = s"$base/cp"

      pages.where(F.col("doc_id") < 250).write.parquet(src)
      val sourceSchema = spark.read.parquet(src).schema

      StreamingValidator.runAvailableNow(spark, WebPages.schema, src,
        sourceSchema, Seq("doc_id", "url"), out, cp)
      val firstCount = spark.read.parquet(out).count()
      assert(firstCount > 0)

      // second batch of files lands; rerun validates ONLY the new ones
      pages.where(F.col("doc_id") >= 250).write.mode("append").parquet(src)
      StreamingValidator.runAvailableNow(spark, WebPages.schema, src,
        sourceSchema, Seq("doc_id", "url"), out, cp)
      val total = spark.read.parquet(out).count()

      // equals the batch violations over the full table (no dups, no misses)
      val batch = mallispark.compile.SchemaCompiler
        .violationsDF(WebPages.schema, pages, Seq("doc_id", "url")).count()
      assert(total === batch)
      assert(total > firstCount)
    } finally rmTree(base)
  }

  test("JSONL stream: raw documents parse, validate; malformed fail") {
    import mallispark.ir.SchemaIR._
    val base = java.nio.file.Files.createTempDirectory("msjsonl").toString
    try {
      val src = s"$base/src"; val cp = s"$base/cp"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/a.jsonl"),
        Seq("""{"id": 1, "tag": "x"}""",
          """{"id": 2}""",
          "{broken").mkString("\n").getBytes)
      val sch = SMap(Seq(Entry("id", SInt()), Entry("tag", SString())))
      val q = StreamingValidator.validateJsonStream(spark, sch, src)
        .writeStream.format("memory").queryName("jsonl_v")
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val rows = spark.table("jsonl_v")
        .orderBy("id").collect()
      assert(rows.length === 3)
      val valid = rows.map(r => (if (r.isNullAt(0)) null
        else r.getLong(0), r.getBoolean(2)))
      assert(valid.toSet === Set((null, false), (1L, true), (2L, false)))
    } finally rmTree(base)
  }

  test("stateful dedup: first sighting emitted once, later batches suppressed") {
    val pages = WebPages.derive(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .select(F.col("url"), F.col("doc_id")).where(F.col("url").isNotNull)
    val base = java.nio.file.Files.createTempDirectory("msdedup").toString
    try {
      val src = s"$base/src"; val out = s"$base/out"; val cp = s"$base/cp"

      def pass(batch: org.apache.spark.sql.DataFrame): Unit = {
        batch.coalesce(2).write.mode("append").parquet(src)
        val q = StreamingValidator
          .dedupStream(spark, src, batch.schema, "url", "doc_id")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // OVERLAPPING batches: %3==1 rows arrive in BOTH passes — their
      // second arrival must be suppressed by the checkpointed state
      pass(pages.where(F.col("doc_id") % 3 < 2))
      pass(pages.where(F.col("doc_id") % 3 > 0))

      val got = spark.read.parquet(out).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // one row per distinct url; winner = min doc_id within batch A when
      // the url appeared there (A ran first), else min within batch B
      val expect = pages.groupBy("url").agg(
          F.min(F.when(F.col("doc_id") % 3 < 2, F.col("doc_id"))).as("e"),
          F.min(F.when(F.col("doc_id") % 3 > 0, F.col("doc_id"))).as("o"))
        .collect()
        .map(r => r.getString(0) ->
          (if (r.isNullAt(1)) r.getLong(2) else r.getLong(1))).toMap
      assert(got === expect)
      // the overlap is real: some url must have been suppressed (seen in A,
      // re-arriving in B)
      assert(pages.where(F.col("doc_id") % 3 === 1).count() > 0)
    } finally rmTree(base)
  }

  test("windowed verdicts with watermark produce per-window counts") {
    val pages = WebPages.derive(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val validated = mallispark.compile.SchemaCompiler
      .validateDF(WebPages.schema, pages, "valid")
    // batch frame through the same aggregation shape (sanity of the plan)
    val w = StreamingValidator.windowedVerdicts(validated, "warc_ts",
      window = "30 days", watermark = "1 hour")
    val rows = w.collect()
    assert(rows.map(_.getLong(1)).sum === pages.count())
  }
}
