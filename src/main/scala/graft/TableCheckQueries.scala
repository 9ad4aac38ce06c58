package graft

import org.apache.spark.sql.{functions => F}
import mallispark.checks.TableChecks
import mallispark.run.ValidationJob
import mallispark.text.TextOps

/** Table-level checks over the TPC-H tables: column stats, null
  * counts, uniqueness, referential orphans, salted and joined
  * aggregations, distribution drift, top-k and stratified sampling. */
private[graft] object TableCheckQueries {
  import SparkEntry.{dh32, P, pages, t}

  def specs: Seq[QuerySpec] = Seq(

    // ---- column stats / uniqueness / referential on the TPC-H tables ----
    QuerySpec("stats_orders", (s, dir) => {
      TableChecks.columnStats(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey"))
        .select("column_name", "cnt", "null_cnt", "min_val", "max_val")
        .orderBy("column_name")
    }, oracle = Some(Seq("o_custkey", "o_orderkey").map { c =>
      s"""SELECT '$c' AS column_name, CAST(count($c) AS BIGINT) AS cnt,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt,
         |  CAST(min($c) AS VARCHAR) AS min_val, CAST(max($c) AS VARCHAR) AS max_val
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    QuerySpec("nulls_lineitem", (s, dir) => {
      val li = t(s, dir, "lineitem")
      TableChecks.nullCounts(li, li.columns.toSeq).orderBy("column_name")
    }, oracle = Some(Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate").map { c =>
      s"""SELECT '$c' AS column_name,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cnt,
         |  CAST(count(*) AS BIGINT) AS total FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name"))),

    QuerySpec("unique_orders", (s, dir) => {
      TableChecks.duplicates(t(s, dir, "orders"), "o_orderkey")
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey, CAST(count(*) AS BIGINT) AS dup_cnt FROM orders
        |GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""".stripMargin)),

    QuerySpec("ref_lineitem_orders", (s, dir) => {
      TableChecks.orphans(t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey", broadcastParent = true)
        .groupBy("l_orderkey").agg(F.count(F.lit(1)).as("orphan_rows"))
        .orderBy("l_orderkey")
    }, oracle = Some(
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS orphan_rows
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- skew-safe salted aggregation (two-phase: salted partials →
    //      merge) over the Zipf-skewed lang dimension ----
    QuerySpec("salted_lang_counts", (s, dir) => {
      ValidationJob.saltedCounts(pages(s, dir), "lang", salt = 8)
        .orderBy("lang")
    }, oracle = Some(
      s"""$P
         |SELECT lang, CAST(count(*) AS BIGINT) AS cnt
         |FROM pages GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- aggregation / join plumbing ----
    QuerySpec("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").as("sum_qty"),
          F.count(F.lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QuerySpec("join_priority_counts", (s, dir) => {
      t(s, dir, "lineitem")
        .join(F.broadcast(t(s, dir, "orders")),
          F.col("l_orderkey") === F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }, oracle = Some(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- distribution drift ----
    QuerySpec("drift_lang_freqs", (s, dir) => {
      t(s, dir, "documents").groupBy("lang").agg(
          F.sum(F.when(F.col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("ra"),
          F.sum(F.when(F.col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("rb"))
        .orderBy("lang")
    }, oracle = Some(
      """SELECT lang,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ra,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS rb
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    QuerySpec("drift_chisq_lang", (s, dir) => {
      val d = t(s, dir, "documents")
      TableChecks.chiSquare(
          d.where(F.col("doc_id") % 2 === 0),
          d.where(F.col("doc_id") % 2 === 1), "lang")
        .select(F.round(F.col("statistic"), 4).as("statistic"),
          F.col("dof"), F.col("n_a"), F.col("n_b"))
    }, oracle = Some(
      """WITH fa AS (SELECT lang, count(*) AS ra FROM documents
        |            WHERE doc_id % 2 = 0 GROUP BY 1),
        |fb AS (SELECT lang, count(*) AS rb FROM documents
        |       WHERE doc_id % 2 = 1 GROUP BY 1),
        |cells AS (SELECT COALESCE(ra, 0) AS ra, COALESCE(rb, 0) AS rb
        |          FROM fa FULL OUTER JOIN fb USING(lang)),
        |tots AS (SELECT CAST(sum(ra) AS BIGINT) AS na,
        |                CAST(sum(rb) AS BIGINT) AS nb,
        |                CAST(count(*) AS BIGINT) AS k FROM cells)
        |SELECT round(sum(pow(sqrt(nb * 1.0 / na) * ra
        |                   - sqrt(na * 1.0 / nb) * rb, 2) / (ra + rb)), 4)
        |         AS statistic,
        |  max(k) - 1 AS dof, max(na) AS n_a, max(nb) AS n_b
        |FROM cells, tots""".stripMargin)),

    QuerySpec("drift_ks_value", (s, dir) => {
      TableChecks.ksExact(t(s, dir, "events"), "value",
        F.col("event_id") % 2 === 0)
    }, oracle = Some(
      """WITH g AS (SELECT value AS v,
        |    CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS da,
        |    CAST(sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS db
        |  FROM events GROUP BY value),
        |tot AS (SELECT CAST(sum(da) AS BIGINT) AS na,
        |               CAST(sum(db) AS BIGINT) AS nb FROM g),
        |cum AS (SELECT sum(da) OVER (ORDER BY v) AS ca,
        |               sum(db) OVER (ORDER BY v) AS cb FROM g)
        |SELECT round(max(abs(ca * 1.0 / (SELECT na FROM tot)
        |                   - cb * 1.0 / (SELECT nb FROM tot))), 6) AS ks_stat,
        |  (SELECT na FROM tot) AS n_a, (SELECT nb FROM tot) AS n_b
        |FROM cum""".stripMargin)),

    // ---- top-k over hosts: two-stage (TakeOrderedAndProject), never a
    //      global unpartitioned window sort ----
    QuerySpec("top_hosts", (s, dir) => {
      val byHost = pages(s, dir)
        .select(F.regexp_extract(F.col("url"), "^https?://([^/]+)/", 1)
          .as("host"))
        .where(F.col("host") =!= "")
        .groupBy("host").agg(F.count(F.lit(1)).as("cnt"))
      TableChecks.topK(byHost, 5, F.col("cnt").desc, F.col("host").asc)
        .select("host", "cnt", "rank")
        .orderBy("rank")
    }, oracle = Some(
      s"""$P,
         |byhost AS (
         |  SELECT regexp_extract(url, '^https?://([^/]+)/', 1) AS host,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM pages
         |  WHERE regexp_extract(url, '^https?://([^/]+)/', 1) <> ''
         |  GROUP BY 1),
         |ranked AS (SELECT host, cnt,
         |  row_number() OVER (ORDER BY cnt DESC, host ASC) AS rank
         |  FROM byhost)
         |SELECT host, cnt, CAST(rank AS BIGINT) AS rank FROM ranked
         |WHERE rank <= 5 ORDER BY rank""".stripMargin)),

    // ---- deterministic stratified sampling: hash-gated per-stratum
    //      rates (downsample dominant langs, keep the tail) — portable
    //      md5 draw, reproducible at any parallelism ----
    QuerySpec("sample_stratified", (s, dir) => {
      TextOps.stratifiedSample(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
        .groupBy("lang").agg(F.count(F.lit(1)).as("n_sampled"))
        .orderBy("lang")
    }, oracle = Some(
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled FROM documents
         |WHERE ${dh32("CAST(doc_id AS VARCHAR) || '|s0'")} % 10000
         |  < CAST(CASE WHEN lang = 'de' THEN 0.25
         |              WHEN lang = 'en' THEN 0.5
         |              ELSE 0.1 END * 10000 AS BIGINT)
         |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
