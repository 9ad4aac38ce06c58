package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.compile.SchemaCompiler
import mallispark.run.WebPages

/** Error messages and violation triage: spell-check suggestions,
  * humanized and spliced messages, `:error/path` redirects, violation
  * counts and k-capped exemplars. */
private[graft] object MessageQueries {
  import SparkEntry.{P, pages, t}

  def specs: Seq[QuerySpec] = Seq(

    // ---- spell-check: closest known key by levenshtein (error.cljc
    //      -most-similar-to), distributed via F.levenshtein ----
    QuerySpec("spellcheck_suggestions", (s, dir) => {
      val keys = Seq("doc_id", "html", "lang", "text", "url", "warc_ts")
      val id = F.col("doc_id")
      val base = F.element_at(F.array(keys.map(F.lit): _*),
        (id % 6 + 1).cast(IntegerType))
      // two deterministic typo shapes: drop last char / swap first two
      val src0 = t(s, dir, "documents").select(id, base.as("base_k"))
      val src = src0.withColumn("typo",
        F.when(id % 2 === 0,
          F.col("base_k").substr(F.lit(1), F.length(F.col("base_k")) - 1))
          .otherwise(F.concat(
            F.substring(F.col("base_k"), 2, 1),
            F.substring(F.col("base_k"), 1, 1),
            F.col("base_k").substr(F.lit(3), F.length(F.col("base_k"))))))
      val dists = keys.map(k => F.levenshtein(F.col("typo"), F.lit(k)))
      val minD = dists.reduce((a, b) => F.least(a, b))
      val suggestion = keys.zip(dists).foldRight(
        F.lit(null).cast(StringType)) { case ((k, d), acc) =>
        F.when(d === minD, F.lit(k)).otherwise(acc)
      }
      // reference tolerance: max(len/3, 1) (error.cljc:249-281)
      val tol = F.greatest(F.floor(F.length(F.col("typo")) / 3), F.lit(1L))
      src.select(id, F.col("typo"),
          F.when(minD <= tol, suggestion).as("suggestion"))
        .orderBy("doc_id")
    }, oracle = Some {
      val keys = Seq("doc_id", "html", "lang", "text", "url", "warc_ts")
      val arr = keys.map(k => s"'$k'").mkString("[", ", ", "]")
      val dists = keys.map(k => s"levenshtein(typo, '$k')")
      val minD = dists.reduce((a, b) => s"least($a, $b)")
      val cases = keys.zip(dists)
        .map { case (k, d) => s"WHEN $d = m THEN '$k'" }.mkString(" ")
      s"""WITH src AS (SELECT doc_id,
         |  ($arr)[CAST(doc_id % 6 + 1 AS INT)] AS base_k
         |  FROM documents),
         |typos AS (SELECT doc_id,
         |  CASE WHEN doc_id % 2 = 0
         |       THEN substring(base_k, 1, length(base_k) - 1)
         |       ELSE substring(base_k, 2, 1) || substring(base_k, 1, 1)
         |         || substring(base_k, 3, length(base_k)) END AS typo
         |  FROM src),
         |scored AS (SELECT doc_id, typo, $minD AS m FROM typos)
         |SELECT doc_id, typo,
         |  CASE WHEN m <= greatest(length(typo) // 3, 1)
         |       THEN CASE $cases END END AS suggestion
         |FROM scored ORDER BY doc_id""".stripMargin
    }),

    // ---- humanized violations (error.cljc message table) ----
    // ---- distributed humanize over the flagship schema: the message
    //      lookup chain end-to-end (error.cljc:293-329) — a per-path
    //      :error/message override (warc_ts) wins over the default
    //      table, :string/:enum render the reference's SPLICED
    //      :error/fn strings (bounds baked from the schema, value from
    //      the row), the rest fall through to the defaults table ----
    QuerySpec("violations_humanized", (s, dir) => {
      val viols = SchemaCompiler.violationsDF(WebPages.schema, pages(s, dir),
        Seq("doc_id", "url"))
      viols.select(F.col("doc_id"), F.col("error_key"),
          mallispark.msg.Messages.messageColumn(WebPages.schema,
            pathOverrides =
              Map("warc_ts" -> "capture time outside the crawl window"))
            .as("message"))
        .orderBy("doc_id", "error_key")
    }, oracle = Some(
      // The message lookup chain end-to-end: warc_ts carries a per-path
      // :error/message override, text/lang render the reference's SPLICED
      // :error/fn strings, url falls through to the defaults table.
      s"""$P,
         |viols AS (
         |  SELECT doc_id, ':re' AS error_key,
         |         'should match regex' AS message FROM pages
         |    WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |  UNION ALL
         |  SELECT doc_id, ':time/instant',
         |         'capture time outside the crawl window' FROM pages
         |    WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |       OR warc_ts > TIMESTAMP '2026-05-01 00:00:00'
         |  UNION ALL
         |  SELECT doc_id, ':string',
         |         'should be at least 1 character' FROM pages
         |    WHERE length(text) < 1
         |  UNION ALL
         |  SELECT doc_id, ':enum',
         |         'should be either "en", "de", "fr", "es" or "zh"' FROM pages
         |    WHERE lang NOT IN ('en','de','fr','es','zh'))
         |SELECT doc_id, error_key, message
         |FROM viols ORDER BY doc_id, error_key""".stripMargin)),

    // ---- :error/message + :error/path SCHEMA properties (error.cljc
    //      218-226, 293-296; the error_test.cljc:623-631 "passwords
    //      don't match" fixture, distributed): a MiniEval :fn over a
    //      MapType column carries both props through an SProps wrapper —
    //      the message resolves from the schema and the violation's IN
    //      path REDIRECTS to creds/password2, all inside codegen ----
    QuerySpec("v_error_path", (s, dir) => {
      import mallispark.ir.SchemaIR.{NodeProps, SProps}
      val d = F.col("doc_id")
      val base = t(s, dir, "documents").select(d,
        F.map_from_arrays(
          F.array(F.lit("password"), F.lit("password2")),
          F.array(F.col("lang"),
            F.when(d % 7 === 0, F.lit("nope")).otherwise(F.col("lang"))))
          .as("creds"))
      val credsSchema = S.and(
        S.mapOf(S.string, S.string),
        SProps(NodeProps(errorMessage = Some("passwords don't match"),
          errorPath = Some(Seq("password2"))),
          S.fnS("(fn [m] (= (:password m) (:password2 m)))")))
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("creds", credsSchema))
      SchemaCompiler.violationsDF(sch, base, Seq("doc_id"))
        .select(d, F.col("schema_path"),
          mallispark.msg.Messages.errorPathRedirect(sch,
            F.col("schema_path"), F.col("in_path")).as("in_redirected"),
          mallispark.msg.Messages.messageColumn(sch).as("message"))
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      // :error/message resolves from the schema property; :error/path
      // redirects the in-path to creds/password2 (mismatch iff doc_id%7=0).
      """SELECT doc_id, 'creds/1' AS schema_path,
        |  'creds/password2' AS in_redirected,
        |  'passwords don''t match' AS message
        |FROM documents WHERE doc_id % 7 = 0
        |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- byte-exact :error/fn splicing for the remaining reference
    //      closures (error.cljc:47-55,145-172): comparator bounds,
    //      tuple size actual+expected, collection ::m/limits, :int
    //      range, := pr-str — all rendered inside codegen from
    //      (schema_path, error_key, value) ----
    QuerySpec("violations_spliced", (s, dir) => {
      val d = F.col("doc_id")
      val base = t(s, dir, "documents").select(d,
        F.when(d % 7 === 0, F.pmod(d, F.lit(800L)))
          .otherwise(F.lit(801L) + F.pmod(d, F.lit(100L))).as("n"),
        F.when(d % 5 === 0, F.array(F.col("lang"), F.lit("x"), F.lit("y")))
          .otherwise(F.array(F.col("lang"), F.lit("x"))).as("pair"),
        F.when(d % 11 === 0, F.sequence(F.lit(1L), F.lit(1L)))
          .otherwise(F.when(d % 13 === 0, F.sequence(F.lit(1L), F.lit(5L)))
            .otherwise(F.sequence(F.lit(1L), F.lit(3L)))).as("nums"),
        F.when(d % 17 === 0, F.lit(5L))
          .otherwise(F.when(d % 19 === 0, F.lit(95L)).otherwise(F.lit(50L)))
          .as("score"),
        F.when(d % 23 === 0, F.lit("bad")).otherwise(F.lit("ok")).as("flag"),
        F.when(d % 29 === 0, F.lit("en")).otherwise(F.lit("zz")).as("tag"),
        F.when(d % 31 === 0, F.lit(900L)).otherwise(F.lit(5L)).as("capped"))
      val sch = S.map(
        "n" -> S.gt(800L),
        "pair" -> S.tuple(S.string, S.string),
        "nums" -> S.vector(S.int, min = Some(2), max = Some(4)),
        "score" -> S.int(10L, 90L),
        "flag" -> S.eq_("ok"),
        // :not humanization: enum negation + comparator forwarding
        "tag" -> S.not(S.enum_("en", "de")),
        "capped" -> S.not(S.gt(800L)))
      SchemaCompiler.violationsDF(sch, base, Seq("doc_id"))
        .select(F.col("doc_id"), F.col("schema_path"), F.col("error_key"),
          mallispark.msg.Messages.messageColumn(sch).as("message"))
        .orderBy("doc_id", "schema_path", "error_key")
    }, oracle = Some(
      // Byte-exact :error/fn splicing (error.cljc:47-55,145-172): every
      // branch of messageColumn's CASE, mirrored as literal strings from
      // the same doc_id arithmetic.
      """WITH viols AS (
        |  SELECT doc_id, 'n' AS schema_path, ':>' AS error_key,
        |         'should be larger than 800' AS message
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id, 'pair', 'malli.core/tuple-size',
        |         'invalid tuple size 3, expected 2'
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, 'nums', 'malli.core/limits',
        |         CASE WHEN doc_id % 11 = 0
        |              THEN 'should have at least 2 elements'
        |              ELSE 'should have at most 4 elements' END
        |  FROM documents WHERE doc_id % 11 = 0 OR doc_id % 13 = 0
        |  UNION ALL
        |  SELECT doc_id, 'score', ':int',
        |         CASE WHEN doc_id % 17 = 0 THEN 'should be at least 10'
        |              ELSE 'should be at most 90' END
        |  FROM documents WHERE doc_id % 17 = 0 OR doc_id % 19 = 0
        |  UNION ALL
        |  SELECT doc_id, 'flag', ':=', 'should be "ok"'
        |  FROM documents WHERE doc_id % 23 = 0
        |  UNION ALL
        |  SELECT doc_id, 'tag', ':not',
        |         'should not be either "en" or "de"'
        |  FROM documents WHERE doc_id % 29 = 0
        |  UNION ALL
        |  SELECT doc_id, 'capped', ':not', 'should be at most 800'
        |  FROM documents WHERE doc_id % 31 = 0)
        |SELECT doc_id, schema_path, error_key, message
        |FROM viols ORDER BY doc_id, schema_path, error_key""".stripMargin)),

    // ---- violation summary (explode -> aggregate) ----
    QuerySpec("violation_counts", (s, dir) => {
      SchemaCompiler.violationsDF(WebPages.schema, pages(s, dir),
          Seq("doc_id"))
        .groupBy("error_key").agg(F.count(F.lit(1)).as("cnt"))
        .orderBy("error_key")
    }, oracle = Some(
      s"""$P,
         |counts AS (
         |  SELECT ':enum' AS error_key, CAST(count(*) AS BIGINT) AS cnt
         |    FROM pages WHERE lang NOT IN ('en','de','fr','es','zh')
         |  UNION ALL
         |  SELECT ':re', CAST(count(*) AS BIGINT) FROM pages
         |    WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |  UNION ALL
         |  SELECT ':string', CAST(count(*) AS BIGINT) FROM pages
         |    WHERE length(text) < 1
         |  UNION ALL
         |  SELECT ':time/instant', CAST(count(*) AS BIGINT) FROM pages
         |    WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |       OR warc_ts > TIMESTAMP '2026-05-01 00:00:00')
         |SELECT error_key, cnt FROM counts WHERE cnt > 0
         |ORDER BY error_key""".stripMargin)),

    // ---- bounded violation triage: exact counts + k-capped exemplar
    //      ids per (path, kind) — O(k) agg state however bad the input ----
    QuerySpec("violations_sampled", (s, dir) => {
      mallispark.run.ValidationJob.sampledViolations(
          SchemaCompiler.violationsDF(WebPages.schema, pages(s, dir),
            Seq("doc_id")), "doc_id", 5)
        .select(F.col("schema_path"), F.col("error_key"), F.col("n_viol"),
          F.array_join(F.transform(F.col("exemplars"),
            _.cast(StringType)), ",").as("exemplars"))
        .orderBy("schema_path", "error_key")
    }, oracle = Some(
      s"""$P,
         |vio AS (
         |  SELECT doc_id, 'url' AS schema_path, ':re' AS error_key
         |    FROM pages WHERE NOT regexp_matches(url, '^https?://[^\\s]+$$')
         |  UNION ALL
         |  SELECT doc_id, 'warc_ts', ':time/instant' FROM pages
         |    WHERE warc_ts < TIMESTAMP '2025-01-01 00:00:00'
         |       OR warc_ts > TIMESTAMP '2026-05-01 00:00:00'
         |  UNION ALL
         |  SELECT doc_id, 'text', ':string' FROM pages WHERE length(text) < 1
         |  UNION ALL
         |  SELECT doc_id, 'lang', ':enum' FROM pages
         |    WHERE lang NOT IN ('en','de','fr','es','zh'))
         |SELECT schema_path, error_key, CAST(count(*) AS BIGINT) AS n_viol,
         |  array_to_string(list_slice(list_sort(list(doc_id)), 1, 5), ',')
         |    AS exemplars
         |FROM vio GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
