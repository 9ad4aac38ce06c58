package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S

/** Streaming queries (AvailableNow): violations to a checkpointed sink,
  * windowed verdicts, and stateful dedup across two passes. Their suite
  * cost is checkpoint and sink machinery, not plan work, so Bench and
  * `graft.Diag` run them at the small scale factor (`smallSf`). */
private[graft] object StreamingQueries {
  import SparkEntry.{deleteRecursively, P, pages, t}
  import ValidationQueries.{dirtyEvents, eventsSchema}

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to
    * the streaming-state partition count, 8. A stateful stream spawns one
    * state store per shuffle partition per micro-batch (delta + snapshot
    * files, task per partition) — the gate streams carry sf0.01-sized
    * state, so the session-wide 32 buys nothing but 4× the state-store
    * commit I/O (guide §2.2: fewer, larger partitions). At production
    * scale the count should match key cardinality / executor count; the
    * value is pinned into the checkpoint by the first run either way.
    * Results are partition-count-independent (grouping semantics don't
    * change). */
  private def withStreamStateParts[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try body finally s.conf.set(key, prev)
  }

  def specs: Seq[QuerySpec] = Seq(

    // ---- streaming mode (AvailableNow): same compiled expressions over
    //      readStream; checkpointed sink read back for the oracle ----
    QuerySpec("streaming_violations", (s, dir) => {
      val srcSchema = t(s, dir, "documents").schema
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("lang", S.enum_("en", "de", "fr")),
        S.req("n_chars", S.int(0L, 400L)))
      val out = java.nio.file.Files
        .createTempDirectory("stream_viol").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory("stream_ckpt").toString
      // the streaming file source wants a DIRECTORY; stage the single
      // parquet file into one (testdata is read-only)
      val srcStage = java.nio.file.Files.createTempDirectory("stream_src")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        srcStage.resolve("documents.parquet"))
      mallispark.streaming.StreamingValidator.runAvailableNow(
        s, sch, srcStage.toString, srcSchema,
        Seq("doc_id"), out, ckpt)
      val result = s.read.parquet(out)
        .select("doc_id", "schema_path", "error_key")
        .orderBy("doc_id", "schema_path")
      // Bench/Verify invoke this every session on a shared VM — collect the
      // (small, violations-only) sink and delete the three temp dirs so
      // /tmp doesn't grow unboundedly across runs
      val rows = result.collect().toIndexedSeq
      Seq(out, ckpt, srcStage.toString).foreach(deleteRecursively)
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1), result.schema)
    }, oracle = Some(
      """SELECT doc_id, 'lang' AS schema_path, ':enum' AS error_key
        |  FROM documents WHERE lang NOT IN ('en','de','fr')
        |UNION ALL
        |SELECT doc_id, 'n_chars', ':int' FROM documents
        |  WHERE n_chars < 0 OR n_chars > 400
        |ORDER BY doc_id, schema_path""".stripMargin), smallSf = true),

    // ---- windowed streaming verdicts: the same compiled validation over
    //      readStream, grouped into 1-hour event-time windows. Complete
    //      output mode to a memory sink (an AvailableNow append sink
    //      would emit nothing: the watermark never advances within the
    //      single catch-up batch); windows emitted as epoch seconds (no
    //      timestamps in outputs), oracled by DuckDB time_bucket ----
    QuerySpec("streaming_windowed", (s, dir) => {
      val ev = dirtyEvents(s, dir)
        .select("event_id", "ts", "event_type", "value")
      val stage = java.nio.file.Files.createTempDirectory("stream_ev")
      // few large files, not one per shuffle partition: the AvailableNow
      // batch pays per-file listing/open overhead in the streaming source
      ev.coalesce(4).write.mode("overwrite").parquet(stage.toString)
      val validated = mallispark.streaming.StreamingValidator
        .validateStream(s, eventsSchema, stage.toString, ev.schema)
      val win = mallispark.streaming.StreamingValidator
        .windowedVerdicts(validated, "ts")
      val qn = s"win_verdicts_${System.nanoTime}"
      withStreamStateParts(s) {
        val q = win.writeStream.format("memory").queryName(qn)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val res = s.table(qn)
        .select(
          F.unix_timestamp(F.col("window.start")).cast(LongType)
            .as("win_start"),
          F.col("rows").cast(LongType).as("n_rows"),
          F.col("valid_rows").cast(LongType).as("valid_rows"))
        .orderBy("win_start")
      val rows = res.collect().toIndexedSeq
      deleteRecursively(stage.toString)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), res.schema)
    }, oracle = Some(
      // same dirty-events derivation; 1-hour event-time windows as epoch
      // seconds via time_bucket — valid := the full eventsSchema conjunction
      s"""WITH dirty AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 101 = 13 THEN 'bogus' ELSE event_type END AS et,
         |    CASE WHEN event_id % 103 = 17 THEN -1.0 ELSE value END AS v,
         |    CASE WHEN event_id % 107 = 19 THEN TIMESTAMP '2030-01-01 00:00:00'
         |         ELSE ts END AS tts
         |  FROM events)
         |SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', tts)) AS BIGINT)
         |    AS win_start,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN event_id >= 0
         |    AND et IN ('view','click','signup','purchase','error')
         |    AND v >= 0.0 AND v <= 1000000000.0
         |    AND tts >= TIMESTAMP '2024-01-01 00:00:00'
         |    AND tts <= TIMESTAMP '2024-02-01 00:00:00'
         |    THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows
         |FROM dirty GROUP BY 1 ORDER BY 1""".stripMargin), smallSf = true),

    // ---- STATEFUL streaming dedup: flatMapGroupsWithState per-key state
    //      across TWO AvailableNow catch-up passes — the second pass reads
    //      only the new file (checkpoint) and its checkpointed state
    //      suppresses keys already emitted in the first ----
    QuerySpec("streaming_dedup", (s, dir) => {
      val p = pages(s, dir).select(F.col("url"), F.col("doc_id"))
        .where(F.col("url").isNotNull)
      val src = java.nio.file.Files.createTempDirectory("sdedup_src")
      val sink = java.nio.file.Files.createTempDirectory("sdedup_out")
      val ckpt = java.nio.file.Files.createTempDirectory("sdedup_ckpt")
      def pass(batch: DataFrame): Unit = {
        batch.coalesce(2).write.mode("append").parquet(src.toString)
        val dd = mallispark.streaming.StreamingValidator.dedupStream(
          s, src.toString, p.schema, "url", "doc_id")
        val q = dd.writeStream.format("parquet")
          .option("path", sink.toString)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // OVERLAPPING batches (doc_id%3 ∈ {0,1} then {1,2}): the %3==1 rows
      // and the parity-crossing dup-url twins reappear in pass B, so the
      // checkpointed state MUST suppress them — a broken state store
      // would re-emit and fail the oracle (disjoint batches would pass
      // trivially)
      withStreamStateParts(s) {
        pass(p.where(F.col("doc_id") % 3 < 2))
        pass(p.where(F.col("doc_id") % 3 > 0))
      }
      val res = s.read.parquet(sink.toString)
        .select(F.col("url"), F.col("first_id")).orderBy("url")
      val rows = res.collect().toIndexedSeq
      Seq(src, sink, ckpt).map(_.toString).foreach(deleteRecursively)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), res.schema)
    }, oracle = Some(
      // stateful streaming dedup: OVERLAPPING batches A = doc_id%3 in {0,1},
      // B = {1,2} — keys seen in A are state-suppressed in B; emitted =
      // min doc_id per url in A, plus min-in-B for urls A never saw
      // (NOT EXISTS, not NOT IN — a NULL in the subquery would poison NOT IN)
      s"""$P,
         |a AS (SELECT url, min(doc_id) AS first_id FROM pages
         |      WHERE url IS NOT NULL AND doc_id % 3 < 2 GROUP BY url),
         |b AS (SELECT url, min(doc_id) AS first_id FROM pages
         |      WHERE url IS NOT NULL AND doc_id % 3 > 0 GROUP BY url)
         |SELECT url, first_id FROM a
         |UNION ALL
         |SELECT b.url, b.first_id FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.url = b.url)
         |ORDER BY url""".stripMargin), smallSf = true)
  )
}
