package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import mallispark.compile.SchemaCompiler
import mallispark.checks.TableChecks
import mallispark.run.{SnapshotTable, ValidationJob, WebPages}
import mallispark.text.TextOps

/** Web-page validation and snapshot queries: the flagship verdicts,
  * violations and resumable job over `pages`, the table checks across
  * two snapshots of the pages table, and the `SnapshotTable` surface. */
private[graft] object WebQueries {
  import SparkEntry.{deleteRecursively, dh32, P, pages, t}

  /** Portable logical partition: md5-derived hash of url, mod 32. */
  private def partId(url: Column): Column = TextOps.h32(url) % 32

  private val validSql =
    """regexp_matches(url, '^https?://[^\s]+$')
      | AND warc_ts >= TIMESTAMP '2025-01-01 00:00:00'
      | AND warc_ts <= TIMESTAMP '2026-05-01 00:00:00'
      | AND length(text) >= 1
      | AND lang IN ('en','de','fr','es','zh')""".stripMargin.replace("\n", "")

  def specs: Seq[QuerySpec] = Seq(

    // ---- web-pages validation core (malli validate/explain) ----
    QuerySpec("web_verdicts", (s, dir) => {
      val p = SchemaCompiler.validateDF(WebPages.schema, pages(s, dir), "valid")
        .withColumn("part_id", partId(F.col("url")))
      p.groupBy("part_id").agg(
          F.count(F.lit(1)).as("n_rows"),
          F.sum(F.when(F.col("valid"), 1L).otherwise(0L)).as("valid_rows"))
        .withColumn("pass", F.col("n_rows") === F.col("valid_rows"))
        .orderBy("part_id")
    }, oracle = Some(
      s"""$P
         |SELECT ${dh32("url")} % 32 AS part_id,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
         |  count(*) = sum(CASE WHEN $validSql THEN 1 ELSE 0 END) AS pass
         |FROM pages GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("web_violations", (s, dir) => {
      SchemaCompiler.violationsDF(WebPages.schema, pages(s, dir),
          Seq("doc_id", "url"))
        .select("doc_id", "url", "schema_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      s"""$P
         |SELECT doc_id, url, 'url' AS schema_path, ':re' AS error_key
         |  FROM pages WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |UNION ALL
         |SELECT doc_id, url, 'warc_ts', ':time/instant' FROM pages
         |  WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |     OR warc_ts > TIMESTAMP '2026-05-01 00:00:00'
         |UNION ALL
         |SELECT doc_id, url, 'text', ':string' FROM pages WHERE length(text) < 1
         |UNION ALL
         |SELECT doc_id, url, 'lang', ':enum' FROM pages
         |  WHERE lang NOT IN ('en','de','fr','es','zh')
         |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- value masking (error.cljc:232-244 dual): violation sinks must
    //      not replicate document payloads — the value column carries a
    //      mask wherever a value was captured ----
    QuerySpec("web_violations_masked", (s, dir) => {
      SchemaCompiler.violationsDF(WebPages.schema, pages(s, dir),
          Seq("doc_id"), maskValue = Some("***"))
        .select("doc_id", "schema_path", "error_key", "value")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      // masking: every captured (non-null) violation value → '***'
      s"""$P
         |SELECT doc_id, 'url' AS schema_path, ':re' AS error_key,
         |    CASE WHEN url IS NOT NULL THEN '***' END AS value
         |  FROM pages WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |UNION ALL
         |SELECT doc_id, 'warc_ts', ':time/instant',
         |    CASE WHEN warc_ts IS NOT NULL THEN '***' END FROM pages
         |  WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |     OR warc_ts > TIMESTAMP '2026-05-01 00:00:00'
         |UNION ALL
         |SELECT doc_id, 'text', ':string',
         |    CASE WHEN text IS NOT NULL THEN '***' END FROM pages
         |  WHERE length(text) < 1
         |UNION ALL
         |SELECT doc_id, 'lang', ':enum',
         |    CASE WHEN lang IS NOT NULL THEN '***' END FROM pages
         |  WHERE lang NOT IN ('en','de','fr','es','zh')
         |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- manifest-resumable job end-to-end: two passes over the same
    //      input; the second sees every partition committed and appends
    //      NOTHING (a re-append would double n_rows and fail the oracle).
    //      Portable md5 part key so DuckDB reproduces the manifest ----
    QuerySpec("resumable_verdicts", (s, dir) => {
      val p = pages(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("resume_gate")
      val part = F.pmod(TextOps.h32(F.col("url")), F.lit(64L))
      def pass() = ValidationJob.runResumable(s, p, WebPages.schema,
        Seq("doc_id", "url"), tmp.toString, "gate", nParts = 64,
        partIdOf = Some(part))
      pass()
      val manifest = pass() // idempotent resume: no new rows
      val res = manifest.select(F.col("part_id"),
          F.col("rows").as("n_rows"), F.col("valid_rows"), F.col("pass"))
        .orderBy("part_id")
      val rows = res.collect().toIndexedSeq
      deleteRecursively(tmp.toString)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), res.schema)
    }, oracle = Some(
      // the manifest after two passes = the single-run verdicts (the second
      // pass must append nothing); portable md5 part key mod 64
      s"""$P
         |SELECT ${dh32("url")} % 64 AS part_id,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN $validSql THEN 1 ELSE 0 END) AS BIGINT) AS valid_rows,
         |  count(*) = sum(CASE WHEN $validSql THEN 1 ELSE 0 END) AS pass
         |FROM pages GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("web_unique_url", (s, dir) => {
      TableChecks.duplicates(pages(s, dir), "url").orderBy("url")
    }, oracle = Some(
      s"""$P
         |SELECT url, CAST(count(*) AS BIGINT) AS dup_cnt FROM pages
         |GROUP BY url HAVING count(*) > 1 ORDER BY url""".stripMargin)),

    QuerySpec("web_dup_rows", (s, dir) => {
      TableChecks.duplicateRows(pages(s, dir), "url", "warc_ts")
        .select("doc_id", "url").orderBy("doc_id")
    }, oracle = Some(
      s"""$P,
         |r AS (SELECT doc_id, url,
         |  row_number() OVER (PARTITION BY url ORDER BY warc_ts) AS rn
         |  FROM pages)
         |SELECT doc_id, url FROM r WHERE rn > 1 ORDER BY doc_id""".stripMargin)),

    QuerySpec("web_ref_orphans", (s, dir) => {
      val p = pages(s, dir)
      val prev = p.where(F.col("doc_id") % 97 =!= 3)
      TableChecks.orphans(p, "url", prev, "url")
        .select("doc_id", "url").orderBy("doc_id")
    }, oracle = Some(
      s"""$P,
         |prev AS (SELECT * FROM pages WHERE doc_id % 97 <> 3)
         |SELECT p.doc_id, p.url FROM pages p
         |WHERE NOT EXISTS (SELECT 1 FROM prev WHERE prev.url = p.url)
         |ORDER BY p.doc_id""".stripMargin)),

    QuerySpec("web_byte_identity", (s, dir) => {
      val p = pages(s, dir)
      val prev = p.withColumn("text",
        F.when(F.col("doc_id") % 97 === 5, F.concat(F.col("text"), F.lit("X")))
          .otherwise(F.col("text")))
      TableChecks.byteIdentityViolations(p, prev, "doc_id", "text")
        .select("doc_id").orderBy("doc_id")
    }, oracle = Some(
      s"""$P,
         |prev AS (SELECT doc_id,
         |  CASE WHEN doc_id % 97 = 5 THEN text || 'X' ELSE text END AS text
         |  FROM pages)
         |SELECT p.doc_id FROM pages p JOIN prev ON p.doc_id = prev.doc_id
         |WHERE md5(p.text) <> md5(prev.text) ORDER BY p.doc_id""".stripMargin)),

    // ---- cross-snapshot referential diff (added/removed/modified keys
    //      between two snapshots of the pages table; only key+digest
    //      shuffle — the oracle compares text directly, so the gate does
    //      not depend on the engine-side hash choice) ----
    QuerySpec("snapshot_diff", (s, dir) => {
      val p = pages(s, dir)
      // deterministic divergences: %97==3 only in curr (added), %89==7
      // only in prev (removed), %101==11 text modified between snapshots
      val prev = p.where(F.col("doc_id") % 97 =!= 3)
        .withColumn("text",
          F.when(F.col("doc_id") % 101 === 11,
            F.concat(F.col("text"), F.lit("~old"))).otherwise(F.col("text")))
      val curr = p.where(F.col("doc_id") % 89 =!= 7)
      TableChecks.snapshotDiff(curr, prev, "doc_id", F.col("text"))
        .orderBy("doc_id")
    }, oracle = Some(
      s"""$P,
         |prev AS (SELECT doc_id,
         |  CASE WHEN doc_id % 101 = 11 THEN text || '~old' ELSE text END AS text
         |  FROM pages WHERE doc_id % 97 <> 3),
         |curr AS (SELECT doc_id, text FROM pages WHERE doc_id % 89 <> 7)
         |SELECT COALESCE(c.doc_id, pv.doc_id) AS doc_id,
         |  CASE WHEN pv.doc_id IS NULL THEN 'added'
         |       WHEN c.doc_id IS NULL THEN 'removed'
         |       WHEN c.text IS DISTINCT FROM pv.text THEN 'modified' END AS change
         |FROM curr c FULL OUTER JOIN prev pv ON c.doc_id = pv.doc_id
         |WHERE pv.doc_id IS NULL OR c.doc_id IS NULL OR c.text IS DISTINCT FROM pv.text
         |ORDER BY doc_id""".stripMargin)),

    // ---- snapshot diff over a BINARY payload: the modified rows differ
    //      only in an invalid-UTF-8 tail byte (0xFE vs 0xFF) — a
    //      string-cast digest would collapse both to the replacement
    //      char and miss them; the byte-exact digest must not ----
    QuerySpec("snapshot_diff_binary", (s, dir) => {
      val p = pages(s, dir)
      val id = F.col("doc_id")
      def tail(hex: String) = F.when(id % 101 === 11,
        F.concat(F.col("html"), F.unhex(F.lit(hex)))).otherwise(F.col("html"))
      val prev = p.where(id % 97 =!= 3).withColumn("payload", tail("FE"))
      val curr = p.where(id % 89 =!= 7).withColumn("payload", tail("FF"))
      TableChecks.snapshotDiff(curr, prev, "doc_id", F.col("payload"))
        .orderBy("doc_id")
    }, oracle = Some(
      // blob-exact mirror: DuckDB compares the payload BLOBs directly
      // (sha256(BLOB) is unavailable in 1.0; equality of blobs is the same
      // classification the engine reaches via byte digests)
      s"""$P,
         |prev AS (SELECT doc_id,
         |  CASE WHEN doc_id % 101 = 11 THEN encode(text) || '\\xFE'::BLOB
         |       ELSE encode(text) END AS payload
         |  FROM pages WHERE doc_id % 97 <> 3),
         |curr AS (SELECT doc_id,
         |  CASE WHEN doc_id % 101 = 11 THEN encode(text) || '\\xFF'::BLOB
         |       ELSE encode(text) END AS payload
         |  FROM pages WHERE doc_id % 89 <> 7)
         |SELECT COALESCE(c.doc_id, pv.doc_id) AS doc_id,
         |  CASE WHEN pv.doc_id IS NULL THEN 'added'
         |       WHEN c.doc_id IS NULL THEN 'removed'
         |       WHEN c.payload IS DISTINCT FROM pv.payload THEN 'modified' END AS change
         |FROM curr c FULL OUTER JOIN prev pv ON c.doc_id = pv.doc_id
         |WHERE pv.doc_id IS NULL OR c.doc_id IS NULL
         |   OR c.payload IS DISTINCT FROM pv.payload
         |ORDER BY doc_id""".stripMargin)),

    // ---- the per-snapshot validation report: verdicts + violation
    //      counts + snapshot diff + frequency table in ONE composed run
    //      (the job a scheduler appends alongside each snapshot commit) ----
    QuerySpec("snapshot_report", (s, dir) => {
      val p = pages(s, dir)
      val prev = p.where(F.col("doc_id") % 97 =!= 3)
        .withColumn("text",
          F.when(F.col("doc_id") % 101 === 11,
            F.concat(F.col("text"), F.lit("~old"))).otherwise(F.col("text")))
      val curr = p.where(F.col("doc_id") % 89 =!= 7)
      ValidationJob.snapshotReport(curr, prev, WebPages.schema,
          "doc_id", F.col("text"), "lang")
        .orderBy("metric")
    }, oracle = Some(
      s"""$P,
         |curr AS (SELECT * FROM pages WHERE doc_id % 89 <> 7),
         |prev AS (SELECT doc_id,
         |  CASE WHEN doc_id % 101 = 11 THEN text || '~old' ELSE text END AS text
         |  FROM pages WHERE doc_id % 97 <> 3),
         |viol AS (
         |  SELECT ':re' AS ek FROM curr
         |    WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |  UNION ALL SELECT ':time/instant' FROM curr
         |    WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |       OR warc_ts > TIMESTAMP '2026-05-01 00:00:00'
         |  UNION ALL SELECT ':string' FROM curr WHERE length(text) < 1
         |  UNION ALL SELECT ':enum' FROM curr
         |    WHERE lang NOT IN ('en','de','fr','es','zh')),
         |diffv AS (
         |  SELECT CASE WHEN pv.doc_id IS NULL THEN 'added'
         |              WHEN c.doc_id IS NULL THEN 'removed'
         |              WHEN c.text IS DISTINCT FROM pv.text THEN 'modified' END AS change
         |  FROM curr c FULL OUTER JOIN prev pv ON c.doc_id = pv.doc_id
         |  WHERE pv.doc_id IS NULL OR c.doc_id IS NULL OR c.text IS DISTINCT FROM pv.text)
         |SELECT 'rows_total' AS metric, CAST(count(*) AS BIGINT) AS value
         |  FROM curr
         |UNION ALL
         |SELECT 'rows_valid', CAST(sum(CASE WHEN $validSql
         |  THEN 1 ELSE 0 END) AS BIGINT) FROM curr
         |UNION ALL
         |SELECT 'viol:' || ek, CAST(count(*) AS BIGINT) FROM viol GROUP BY 1
         |UNION ALL
         |SELECT 'diff:' || change, CAST(count(*) AS BIGINT) FROM diffv
         |  GROUP BY 1
         |UNION ALL
         |SELECT 'freq:lang:' || lang, CAST(count(*) AS BIGINT) FROM curr
         |  GROUP BY 1
         |ORDER BY metric""".stripMargin)),

    // ---- REAL table-format surface: the from-scratch snapshot-log
    //      format (SnapshotTable — parquet data files + atomic text
    //      manifests). commit → logical-replace commit → diff on ACTUAL
    //      snapshot ids, replacing the synthetic prev/curr pair: the
    //      gate proves snapshot-isolated time travel (snapshot 1 reads
    //      unchanged after commit 2) feeding the key+digest diff ----
    QuerySpec("snapshot_table_diff", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("mallispark_snaptab_").toString
      try {
        val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
        val s1 = SnapshotTable.commit(
          docs.where(F.col("doc_id") % 3 =!= 0), tmp)
        val curr = docs.withColumn("text",
          F.when(F.col("doc_id") % 7 === 0,
            F.concat(F.col("text"), F.lit("~v2"))).otherwise(F.col("text")))
        val s2 = SnapshotTable.commit(curr, tmp, SnapshotTable.Overwrite)
        val d = SnapshotTable.diff(s, tmp, s1, s2, "doc_id", F.col("text"))
          .orderBy("doc_id")
        // materialize before deleting the table dir the plan reads from
        val rows = d.collect().toIndexedSeq
        s.createDataFrame(s.sparkContext.parallelize(rows, 1), d.schema)
      } finally deleteRecursively(tmp)
    }, oracle = Some(
      // snapshot 1 = docs with doc_id%3<>0; snapshot 2 = ALL docs with
      // %7==0 texts rewritten → added = %3==0, modified = %7==0 ∧ %3<>0
      // (an appended %3==0 ∧ %7==0 row was absent from snapshot 1: added)
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'added'
        |       WHEN doc_id % 7 = 0 THEN 'modified' END AS change
        |FROM documents
        |WHERE doc_id % 3 = 0 OR doc_id % 7 = 0
        |ORDER BY doc_id""".stripMargin)),

    // ---- per-commit lineage + metrics manifest (parent id, mode, rows
    //      added, running total, file count) — the resumability /
    //      audit surface written alongside every snapshot commit ----
    QuerySpec("snapshot_table_lineage", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("mallispark_snaplin_").toString
      try {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        SnapshotTable.commit(docs.where(F.col("doc_id") % 3 =!= 0), tmp)
        SnapshotTable.commit(docs.where(F.col("doc_id") % 3 === 0), tmp)
        // lineage is driver-built (manifests only) — safe to delete after
        SnapshotTable.lineage(s, tmp)
          .select(F.col("snapshot_id"), F.col("parent_id"), F.col("mode"),
            F.col("rows_added"), F.col("total_rows"))
          .orderBy("snapshot_id")
      } finally deleteRecursively(tmp)
    }, oracle = Some(
      """WITH c AS (SELECT
        |    CAST(sum(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS base,
        |    CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS added
        |  FROM documents)
        |SELECT CAST(1 AS BIGINT) AS snapshot_id,
        |  CAST(NULL AS BIGINT) AS parent_id, 'append' AS mode,
        |  base AS rows_added, base AS total_rows FROM c
        |UNION ALL
        |SELECT 2, 1, 'append', added, base + added FROM c
        |ORDER BY snapshot_id""".stripMargin))
  )
}
