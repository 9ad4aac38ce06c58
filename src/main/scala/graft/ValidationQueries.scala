package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR.ValidateErr
import mallispark.compile.SchemaCompiler
import mallispark.run.{NestedDocs, WebPages}

/** Schema validation queries beyond the flagship: collections and
  * nested maps, recursive refs, ident/custom/`:validate` leaves,
  * seq-regex tiers, composites, `:multi`, the `:time` family, and row
  * validation of the dirty lineitem/events tables. */
private[graft] object ValidationQueries {
  import SparkEntry.{P, pages, t}

  implicit private val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()

  // ------------------------------------------------------------------
  // dirty variants with deterministic violation injections (identical
  // CASE logic lives in the oracle SQL)
  // ------------------------------------------------------------------

  private def dirtyLineitem(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val k = F.col("l_orderkey")
    li.withColumn("l_quantity",
        F.when(k % 97 === 5, -F.col("l_quantity")).otherwise(F.col("l_quantity")))
      .withColumn("l_returnflag",
        F.when(k % 89 === 7, F.lit("X")).otherwise(F.col("l_returnflag")))
      .withColumn("l_shipdate",
        F.when(k % 101 === 11, F.lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")))
          .otherwise(F.col("l_shipdate")))
  }

  private val lineitemSchema: SchemaIR = S.map(
    "l_orderkey" -> S.intMin(1L),
    "l_quantity" -> S.double(1.0, 50.0),
    "l_returnflag" -> S.enum_("A", "N", "R"),
    "l_linestatus" -> S.enum_("O", "F"),
    "l_shipdate" -> S.instant(
      min = Some(java.time.Instant.parse("1990-01-01T00:00:00Z")),
      max = Some(java.time.Instant.parse("2010-01-01T00:00:00Z"))))

  private[graft] def dirtyEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val k = F.col("event_id")
    ev.withColumn("event_type",
        F.when(k % 101 === 13, F.lit("bogus")).otherwise(F.col("event_type")))
      .withColumn("value",
        F.when(k % 103 === 17, F.lit(-1.0)).otherwise(F.col("value")))
      .withColumn("ts",
        F.when(k % 107 === 19, F.lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
          .otherwise(F.col("ts")))
  }

  private[graft] val eventsSchema: SchemaIR = S.map(
    "event_id" -> S.intMin(0L),
    "ts" -> S.instant(
      min = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      max = Some(java.time.Instant.parse("2024-02-01T00:00:00Z"))),
    "event_type" -> S.enum_("view", "click", "signup", "purchase", "error"),
    "value" -> S.double(0.0, 1e9))


  // ------------------------------------------------------------------
  // nested/collection schemas over NestedDocs.derive (lockstep CTE)
  // ------------------------------------------------------------------

  /** Collection compiler paths: vector element+limits, set uniqueness,
    * tuple size+elements, map-of limits+values (reference fixtures
    * core_test.cljc:3113/3164). */
  private val nestedSchema: SchemaIR = S.mapE(false,
    S.req("doc_id", S.int),
    S.req("nums", S.vector(S.int(0L, 99L), min = Some(1), max = Some(8))),
    S.req("tags", S.set(S.string(min = 1))),
    S.req("pair", S.tuple(S.string(min = 1), S.enum_(NestedDocs.Langs: _*))),
    S.req("kvs", S.mapOf(S.string(min = 1), S.int(0L, 50L), min = Some(1))))

  /** Bounded :every — only the first max(min, max+1, limit)=2 elements are
    * examined (core.cljc:745-751): the beyond-window injection at index 3
    * must NOT be reported. */
  private val everySchema: SchemaIR = S.mapE(false,
    S.req("doc_id", S.int),
    S.req("nums2", S.every(S.intMin(0L), limit = 2)))

  def specs: Seq[QuerySpec] = Seq(

    // ---- collection / nested validation (vector/set/tuple/map-of) ----
    QuerySpec("v_nested_violations", (s, dir) => {
      SchemaCompiler.violationsDF(nestedSchema,
          NestedDocs.derive(t(s, dir, "documents")), Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "schema_path", "in_path")
    }, oracle = Some {
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id, 'nums' AS schema_path, 'nums' AS in_path,
         |       'malli.core/limits' AS error_key
         |  FROM nested WHERE len(nums) < 1 OR len(nums) > 8
         |UNION ALL
         |SELECT doc_id, 'nums/0', 'nums/' || CAST(idx - 1 AS VARCHAR), ':int'
         |  FROM (SELECT doc_id, unnest(nums) AS x,
         |               generate_subscripts(nums, 1) AS idx FROM nested)
         |  WHERE x < 0 OR x > 99
         |UNION ALL
         |SELECT doc_id, 'tags', 'tags', 'malli.core/duplicate-keys'
         |  FROM nested WHERE len(list_distinct(tags)) <> len(tags)
         |UNION ALL
         |SELECT doc_id, 'tags/0', 'tags/' || CAST(idx - 1 AS VARCHAR), ':string'
         |  FROM (SELECT doc_id, unnest(tags) AS x,
         |               generate_subscripts(tags, 1) AS idx FROM nested)
         |  WHERE length(x) < 1
         |UNION ALL
         |SELECT doc_id, 'pair', 'pair', 'malli.core/tuple-size'
         |  FROM nested WHERE len(pair) <> 2
         |UNION ALL
         |SELECT doc_id, 'pair/0', 'pair/0', ':string'
         |  FROM nested WHERE len(pair) = 2 AND length(pair[1]) < 1
         |UNION ALL
         |SELECT doc_id, 'pair/1', 'pair/1', ':enum'
         |  FROM nested WHERE len(pair) = 2
         |    AND pair[2] NOT IN ('en','de','fr','es','zh')
         |UNION ALL
         |SELECT doc_id, 'kvs', 'kvs', 'malli.core/limits'
         |  FROM nested WHERE kv_empty
         |UNION ALL
         |SELECT doc_id, 'kvs/1', 'kvs/' || k, ':int'
         |  FROM (SELECT doc_id, kv_empty, unnest(['k0','k1','k2']) AS k,
         |               unnest([v0, v1, v2]) AS vv FROM nested)
         |  WHERE NOT kv_empty AND (vv < 0 OR vv > 50)
         |ORDER BY doc_id, schema_path, in_path""".stripMargin
    }),

    // ---- bounded :every window semantics ----
    QuerySpec("v_every_window", (s, dir) => {
      SchemaCompiler.violationsDF(everySchema,
          NestedDocs.derive(t(s, dir, "documents")), Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "in_path")
    }, oracle = Some {
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id, 'nums2/0' AS schema_path,
         |       'nums2/' || CAST(idx - 1 AS VARCHAR) AS in_path,
         |       ':int' AS error_key
         |FROM (SELECT doc_id, unnest(nums2) AS x,
         |             generate_subscripts(nums2, 1) AS idx FROM nested)
         |WHERE idx <= 2 AND x < 0
         |ORDER BY doc_id, in_path""".stripMargin
    }),

    // ---- :seqable — the nil-tolerant collection (core_test.cljc:3482):
    //      a NULL array is a VALID empty seqable ((seqable? nil) is
    //      true, nil seqs empty) — only a :min bound reports on it;
    //      non-null arrays element-check like :vector. Injections
    //      (d = doc_id): d%7=1 → xs NULL (no violation — the point);
    //      d%12=5 → xs[1] = -3 (element error); d%10=2 → need NULL
    //      (violates {:min 1} → ::limits) ----
    QuerySpec("v_seqable_violations", (s, dir) => {
      val id = F.col("doc_id")
      val xs = F.when(id % 7 === 1,
          F.lit(null).cast(ArrayType(LongType)))
        .otherwise(F.transform(
          F.sequence(F.lit(1), (id % 4 + 1).cast(IntegerType)), i =>
            F.when(id % 12 === 5 && i === 2, F.lit(-3L))
              .otherwise((id * 11 + i.cast(LongType)) % 40)))
      val need = F.when(id % 10 === 2,
          F.lit(null).cast(ArrayType(LongType)))
        .otherwise(F.array(id % 9))
      val base = t(s, dir, "documents")
        .select(id.as("doc_id"), xs.as("xs"), need.as("need"))
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("xs", S.seqable(S.intMin(0L))),
        S.req("need", S.seqable(S.intMin(0L), min = Some(1))))
      SchemaCompiler.violationsDF(sch, base, Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "in_path")
    }, oracle = Some(
      """SELECT doc_id, 'xs/0' AS schema_path, 'xs/1' AS in_path,
        |       ':int' AS error_key
        |FROM documents WHERE doc_id % 12 = 5 AND doc_id % 7 <> 1
        |UNION ALL
        |SELECT doc_id, 'need', 'need', 'malli.core/limits'
        |FROM documents WHERE doc_id % 10 = 2
        |ORDER BY doc_id, in_path""".stripMargin)),

    // ---- fixed-key :map over a PHYSICAL MapType column: missing-key /
    //      child errors on declared keys, ::m/default rest-entry over the
    //      runtime stray key (its name lands in the schema path) ----
    QuerySpec("v_map_fixed", (s, dir) => {
      val n = NestedDocs.derive(t(s, dir, "documents"))
        .select("doc_id", "kvs")
      val inner = S.mapRest(S.int(0L, 9L),
        S.req("k0", S.int(0L, 49L)), S.req("k1", S.int(0L, 50L)))
      val sch = S.mapE(false, S.req("doc_id", S.int), S.req("kvs", inner))
      SchemaCompiler.violationsDF(sch, n, Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      // fixed-key map over MapType kvs: k0=(d*13)%50, k1=99 when d%29=10
      // else (d*13+1)%50, k2=(d*13+2)%50; empty map when d%31=12
      """WITH viol AS (
        |  SELECT doc_id, 'kvs/k0' AS schema_path, 'kvs/k0' AS in_path,
        |    'malli.core/missing-key' AS error_key
        |  FROM documents WHERE doc_id % 31 = 12
        |  UNION ALL
        |  SELECT doc_id, 'kvs/k1', 'kvs/k1', 'malli.core/missing-key'
        |  FROM documents WHERE doc_id % 31 = 12
        |  UNION ALL
        |  SELECT doc_id, 'kvs/k1', 'kvs/k1', ':int'
        |  FROM documents WHERE doc_id % 31 <> 12 AND doc_id % 29 = 10
        |  UNION ALL
        |  SELECT doc_id, 'kvs/malli.core/default/k2', 'kvs/k2', ':int'
        |  FROM documents WHERE doc_id % 31 <> 12 AND (doc_id * 13 + 2) % 50 > 9)
        |SELECT * FROM viol ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- recursive :ref schema over a fixed-depth comment tree
    //      (knot-tying semantics core.cljc:1994-2008; depth-bounded SRef
    //      expansion — the oracle unrolls the three levels). The schema
    //      is SELF-CONTAINED: the node definition travels in a :schema
    //      wrapper's local {:registry ...} property (-property-registry,
    //      core.cljc:322-324) instead of an ambient compile Ctx ----
    QuerySpec("v_recursive_ref", (s, dir) => {
      val sch = S.scoped("node" -> S.mapE(false,
          S.req("v", S.intMin(0L)),
          S.opt("kids", S.vector(S.ref("node")))))(
        S.mapE(false, S.req("doc_id", S.int),
          S.req("tree", S.ref("node"))))
      SchemaCompiler.violationsDF(sch,
          NestedDocs.deriveTree(t(s, dir, "documents")), Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "in_path")
    }, oracle = Some(
      s"""${NestedDocs.TreeOracleCte}
         |SELECT doc_id, 'tree/v' AS schema_path, 'tree/v' AS in_path,
         |    ':int' AS error_key FROM tr WHERE top_v < 0
         |UNION ALL
         |SELECT doc_id, 'tree/kids/0/v', 'tree/kids/0/v', ':int'
         |  FROM tr WHERE mid1_v < 0
         |UNION ALL
         |SELECT doc_id, 'tree/kids/0/kids/0/v', 'tree/kids/0/kids/0/v',
         |    ':int' FROM tr WHERE leaf1_v < 0
         |ORDER BY doc_id, in_path""".stripMargin)),

    // ---- ident/char predicate leaves (:keyword/:qualified-keyword/
    //      :symbol/:char — string-form validation, injections mirrored
    //      in the oracle's regexes) ----
    QuerySpec("v_ident_violations", (s, dir) => {
      val d = t(s, dir, "documents")
      val src = d.select(F.col("doc_id"),
        F.when(F.col("doc_id") % 97 === 3, F.lit("no colon"))
          .otherwise(F.concat(F.lit(":"), F.col("lang"))).as("kw"),
        F.when(F.col("doc_id") % 89 === 7, F.lit(":noslash"))
          .otherwise(F.concat(F.lit(":lang/"), F.col("lang"))).as("qkw"),
        F.when(F.col("doc_id") % 101 === 11, F.lit(":lead"))
          .otherwise(F.concat(F.lit("sym"),
            (F.col("doc_id") % 50).cast(StringType))).as("sym"),
        F.when(F.col("doc_id") % 103 === 13, F.lit("xx"))
          .otherwise(F.substring(F.col("lang"), 1, 1)).as("ch"),
        // {:namespace :user} property (core.cljc:753-755): shape-valid
        // qualified keywords under the WRONG namespace must also fail
        F.when(F.col("doc_id") % 91 === 5,
            F.concat(F.lit(":other/"), F.col("lang")))
          .otherwise(F.concat(F.lit(":user/"), F.col("lang"))).as("nskw"))
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("kw", S.keyword), S.req("qkw", S.qualifiedKeyword),
        S.req("sym", S.symbol), S.req("ch", S.char),
        S.req("nskw",
          mallispark.ir.SchemaIR.SIdent("qualified-keyword", Some("user"))))
      SchemaCompiler.violationsDF(sch, src, Seq("doc_id"))
        .select("doc_id", "schema_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      // ident/char leaves: regexes shared verbatim with SchemaCompiler.IdentRes
      s"""WITH src AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 97 = 3 THEN 'no colon'
         |         ELSE ':' || lang END AS kw,
         |    CASE WHEN doc_id % 89 = 7 THEN ':noslash'
         |         ELSE ':lang/' || lang END AS qkw,
         |    CASE WHEN doc_id % 101 = 11 THEN ':lead'
         |         ELSE 'sym' || CAST(doc_id % 50 AS VARCHAR) END AS sym,
         |    CASE WHEN doc_id % 103 = 13 THEN 'xx'
         |         ELSE substring(lang, 1, 1) END AS ch,
         |    CASE WHEN doc_id % 91 = 5 THEN ':other/' || lang
         |         ELSE ':user/' || lang END AS nskw
         |  FROM documents)
         |SELECT doc_id, 'kw' AS schema_path, ':keyword' AS error_key FROM src
         |WHERE kw IS NULL OR NOT regexp_matches(kw, '^:[^\\s/:]+(/[^\\s/:]+)?$$')
         |UNION ALL
         |SELECT doc_id, 'qkw', ':qualified-keyword' FROM src
         |WHERE qkw IS NULL OR NOT regexp_matches(qkw, '^:[^\\s/:]+/[^\\s/:]+$$')
         |UNION ALL
         |SELECT doc_id, 'sym', ':symbol' FROM src
         |WHERE sym IS NULL
         |   OR NOT regexp_matches(sym, '^[^\\s/:0-9][^\\s/:]*(/[^\\s/:]+)?$$')
         |UNION ALL
         |SELECT doc_id, 'ch', ':char' FROM src
         |WHERE ch IS NULL OR length(ch) <> 1
         |UNION ALL
         |SELECT doc_id, 'nskw', ':qualified-keyword' FROM src
         |WHERE nskw IS NULL
         |   OR NOT regexp_matches(nskw, '^:user/[^\\s/:]+$$')
         |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- seq-regex tiers 1-3 (tier 3 through the RowEval UDF) ----
    QuerySpec("seq_regex_valid", (s, dir) => {
      val n = NestedDocs.derive(t(s, dir, "documents"))
      val at = ArrayType(StringType)
      val t1s = S.cat(S.re("^a"), S.enum_(NestedDocs.Langs: _*), S.eq_("z"))
      val t2s = S.star(S.re("^[a-z]+$"))
      val t3s = S.star(S.cat(S.re("^k"), S.re("^v"))) // nested → tier 3
      n.select(F.col("doc_id"),
          SchemaCompiler.valid(t1s, F.col("seq1"), at).as("t1"),
          SchemaCompiler.valid(t2s, F.col("toks"), at).as("t2"),
          SchemaCompiler.valid(t3s, F.col("seq3"), at).as("t3"))
        .orderBy("doc_id")
    }, oracle = Some {
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id,
         |  COALESCE(len(seq1) = 3 AND regexp_matches(seq1[1], '^a')
         |    AND seq1[2] IN ('en','de','fr','es','zh')
         |    AND seq1[3] = 'z', FALSE) AS t1,
         |  len(list_filter(toks,
         |    t -> NOT regexp_matches(t, '^[a-z]+$$'))) = 0 AS t2,
         |  COALESCE(len(seq3) % 2 = 0
         |    AND len(list_filter(range(1, len(seq3) + 1),
         |      i -> CASE WHEN i % 2 = 1 THEN NOT regexp_matches(seq3[i], '^k')
         |                ELSE NOT regexp_matches(seq3[i], '^v') END)) = 0,
         |    FALSE) AS t3
         |FROM nested ORDER BY doc_id""".stripMargin
    }),

    // ---- tier-3 positional explain as violation rows: the general-form
    //      [:* [:cat re re]] on seq3 — the trailing 'k9' injection parses
    //      one element past the last pair and runs out of input ----
    QuerySpec("v_seq3_violations", (s, dir) => {
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("seq3", S.star(S.cat(S.re("^k"), S.re("^v")))))
      val n = NestedDocs.derive(t(s, dir, "documents"))
        .select("doc_id", "seq3")
      SchemaCompiler.violationsDF(sch, n, Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some {
      // tier-3 explain: the trailing 'k9' matches the inner :cat's first
      // element then runs out of input → ::m/end-of-input at the column
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id, 'seq3' AS schema_path, 'seq3' AS in_path,
         |  'malli.core/end-of-input' AS error_key
         |FROM nested WHERE len(seq3) % 2 = 1
         |ORDER BY doc_id, schema_path""".stripMargin
    }),

    // ---- custom leaf type (-simple-schema extension point,
    //      core.cljc:765-818): a named Column-builder leaf — stays inside
    //      whole-stage codegen, unlike the :fn UDF escape hatch ----
    QuerySpec("v_custom_violations", (s, dir) => {
      val even = S.custom(":user/even",
        (c, _) => c.cast(LongType) % 2 === 0,
        { case n: Long => n % 2 == 0
          case n: Int => n % 2 == 0
          case _ => false })
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("n_chars", even))
      SchemaCompiler.violationsDF(sch,
          t(s, dir, "documents").select("doc_id", "n_chars"), Seq("doc_id"))
        .select("doc_id", "schema_path", "error_key")
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, 'n_chars' AS schema_path, ':user/even' AS error_key
        |FROM documents WHERE n_chars % 2 = 1 ORDER BY doc_id""".stripMargin)),

    // ---- :validate — error-RETURNING fn (experimental/validate.cljc):
    //      each returned error carries its own type and in-suffix; one
    //      call can emit several errors (notaurl rows whose doc number
    //      is divisible by 3 produce BOTH) ----
    QuerySpec("v_validate_violations", (s, dir) => {
      val urlChecks = S.validate(":url/checks") { x =>
        val u = String.valueOf(x)
        val scheme =
          if (!u.startsWith("http"))
            Seq(ValidateErr(Seq("scheme"), ":url/no-scheme", u))
          else Nil
        val digits = u.reverse.takeWhile(_.isDigit).reverse
        val unlucky =
          if (digits.nonEmpty && digits.toLong % 3 == 0)
            Seq(ValidateErr(Seq("doc"), ":url/unlucky", digits))
          else Nil
        scheme ++ unlucky
      }
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("url", urlChecks))
      SchemaCompiler.violationsDF(sch,
          pages(s, dir).select("doc_id", "url"), Seq("doc_id"))
        .select("doc_id", "schema_path", "in_path", "error_key", "value")
        .orderBy("doc_id", "in_path")
    }, oracle = Some(
      s"""$P
         |SELECT * FROM (
         |  SELECT doc_id, 'url' AS schema_path, 'url/scheme' AS in_path,
         |         ':url/no-scheme' AS error_key, url AS value
         |  FROM pages WHERE url NOT LIKE 'http%'
         |  UNION ALL
         |  SELECT doc_id, 'url', 'url/doc', ':url/unlucky',
         |         regexp_extract(url, '([0-9]+)$$', 1)
         |  FROM pages
         |  WHERE CAST(regexp_extract(url, '([0-9]+)$$', 1) AS BIGINT) % 3 = 0)
         |ORDER BY doc_id, in_path""".stripMargin)),

    // ---- composite explain paths (:and/:or branch indices,
    //      core_test.cljc:239-250) ----
    QuerySpec("v_composite_violations", (s, dir) => {
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(id, (id % 150 - 20).as("v"))
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("v", S.and(S.intMin(0L), S.or(S.intMax(10L), S.intMin(100L)))))
      SchemaCompiler.violationsDF(sch, src, Seq("doc_id"))
        .select("doc_id", "schema_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      """WITH src AS (SELECT doc_id, doc_id % 150 - 20 AS v FROM documents)
        |SELECT doc_id, 'v/0' AS schema_path, ':int' AS error_key
        |  FROM src WHERE v < 0
        |UNION ALL
        |SELECT doc_id, 'v/1/0', ':int' FROM src
        |  WHERE NOT (v <= 10 OR v >= 100)
        |UNION ALL
        |SELECT doc_id, 'v/1/1', ':int' FROM src
        |  WHERE NOT (v <= 10 OR v >= 100)
        |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- declarative :merge schema validated end-to-end ----
    QuerySpec("merge_schema_verdicts", (s, dir) => {
      val sch = S.mergeOf(
        S.mapE(false, S.req("url", S.re("^https?://[^\\s]+$")),
          S.req("lang", S.enum_("en", "de"))),
        // right side widens lang and adds text — right bias must win
        S.mapE(false, S.req("lang", S.enum_(WebPages.Langs: _*)),
          S.req("text", S.string(min = 1))))
      SchemaCompiler.validateDF(sch, pages(s, dir), "ok")
        .select("doc_id", "ok").orderBy("doc_id")
    }, oracle = Some(
      s"""$P
         |SELECT doc_id,
         |  regexp_matches(url, '^https?://[^\\s]+$$')
         |  AND lang IN ('en','de','fr','es','zh')
         |  AND length(text) >= 1 AS ok
         |FROM pages ORDER BY doc_id""".stripMargin)),

    // sci-subset string :fn schemas: MiniEval-compiled predicates ship to
    // executors through the UDF escape hatch and round-trip through EDN
    // forms — closing §2.3's ":fn escape hatch" row with a value oracle.
    // Every fn is null-safe by construction so the SQL mirror is a plain
    // coalesce-to-false conjunction.
    QuerySpec("fn_string_verdicts", (s, dir) => {
      val sch = S.mapE(false,
        S.req("text", S.fnS(
          "(fn [t] (and (string? t) (> (count t) 120)))")),
        S.req("lang", S.fnS(
          "(fn [l] (or (= l \"en\") (= l \"de\") (= l \"fr\")))")),
        S.req("n_chars", S.fnS(
          "(fn [n] (and (int? n) (>= n 0) (< (mod n 7) 5)))")))
      // the schema must survive an EDN round-trip WITH its functions —
      // validate through the re-read schema, not the original (sci.cljc's
      // serialized-schema contract)
      val rt = mallispark.ir.Export.fromForm(SchemaIR.form(sch))
      val src = t(s, dir, "documents").select("doc_id", "text", "lang",
        "n_chars")
      SchemaCompiler.validateDF(rt, src, "ok")
        .select("doc_id", "ok").orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  coalesce(length(text) > 120, FALSE)
        |  AND coalesce(lang IN ('en','de','fr'), FALSE)
        |  AND coalesce(n_chars >= 0 AND (n_chars % 7) < 5, FALSE) AS ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- :multi keyword dispatch with ::m/default branch ----
    QuerySpec("multi_key_verdicts", (s, dir) => {
      val sch = S.multi("event_type",
        default = Some(S.mapE(false, S.req("value", S.double(0.0, 1e9)))))(
        "purchase" -> S.mapE(false, S.req("value", S.double(1.0, 1e9))),
        "error" -> S.mapE(false, S.req("value", S.double(0.0, 0.0))))
      val src = t(s, dir, "events").select("event_id", "event_type", "value")
      SchemaCompiler.validateDF(sch, src, "ok")
        .select("event_id", "ok").orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id,
        |  CASE event_type
        |    WHEN 'purchase' THEN value >= 1.0 AND value <= 1000000000.0
        |    WHEN 'error' THEN value = 0.0
        |    ELSE value >= 0.0 AND value <= 1000000000.0 END AS ok
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- :multi with expression dispatch (codegen'd, no UDF) ----
    QuerySpec("multi_expr_dispatch", (s, dir) => {
      val src = t(s, dir, "documents").select(F.col("doc_id"),
        F.col("n_chars").as("n"), F.col("lang"))
      val sch = S.multiExpr("len_band",
        c => F.when(c.getField("n") < 200L, F.lit("short"))
          .otherwise(F.lit("long")),
        { case r: org.apache.spark.sql.Row =>
            if (r.getAs[Long]("n") < 200L) "short" else "long"
          case _ => null })(
        "short" -> S.mapE(false, S.req("doc_id", S.int),
          S.req("n", S.int(0L, 199L)), S.req("lang", S.enum_("en", "de"))),
        "long" -> S.mapE(false, S.req("doc_id", S.int),
          S.req("n", S.intMin(200L)),
          S.req("lang", S.enum_(WebPages.Langs: _*))))
      src.select(F.col("doc_id"),
          SchemaCompiler.valid(sch,
            F.struct(src.columns.toIndexedSeq.map(F.col): _*),
            src.schema).as("ok"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  CASE WHEN n_chars < 200
        |       THEN n_chars BETWEEN 0 AND 199 AND lang IN ('en','de')
        |       ELSE n_chars >= 200
        |        AND lang IN ('en','de','fr','es','zh') END AS ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- ::m/default rest-entry schema for open maps ----
    QuerySpec("map_rest_verdicts", (s, dir) => {
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(id,
        F.when(id % 33 === 4, F.lit("")).otherwise(F.col("lang")).as("lang"),
        F.col("source"))
      val sch = S.mapRest(S.string(min = 1), S.req("doc_id", S.int))
      SchemaCompiler.validateDF(sch, src, "ok")
        .select("doc_id", "ok").orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  length(CASE WHEN doc_id % 33 = 4 THEN '' ELSE lang END) >= 1
        |  AND length(source) >= 1 AS ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- :time/* family over derived interval/NTZ/ISO-string columns ----
    QuerySpec("v_time_violations", (s, dir) => {
      val id = F.col("doc_id")
      val lt = F.when(id % 61 === 22, F.lit("25:99:00")).otherwise(F.concat(
        F.lpad(((id * 7) % 24).cast(StringType), 2, "0"), F.lit(":"),
        F.lpad((id % 60).cast(StringType), 2, "0"), F.lit(":"),
        F.lpad((id % 60).cast(StringType), 2, "0")))
      val zids = F.array(Seq("Europe/Paris", "America/New_York",
        "Asia/Tokyo", "UTC").map(F.lit): _*)
      val zoffs = F.array(Seq("+05:30", "Z", "-08:00").map(F.lit): _*)
      val src = t(s, dir, "documents").select(id,
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
          ((id * 11) % 5000).cast(DecimalType(18, 6))).as("dur"),
        F.make_ym_interval(F.lit(0), (id % 40).cast(IntegerType)).as("per"),
        F.timestamp_seconds(F.lit(1704067200L) + (id * 50021L) % 5000000L)
          .cast(TimestampNTZType).as("ldt"),
        lt.as("lt"),
        F.when(id % 67 === 30, F.lit("not a zone"))
          .otherwise(F.element_at(zids, (id % 4 + 1).cast(IntegerType)))
          .as("zid"),
        F.when(id % 71 === 33, F.lit("+19:00"))
          .otherwise(F.element_at(zoffs, (id % 3 + 1).cast(IntegerType)))
          .as("zoff"))
      val sch = S.mapE(false,
        S.req("doc_id", S.int),
        S.req("dur", S.duration(Some("PT100S"), Some("PT4000S"))),
        S.req("per", S.period(Some("P2M"), Some("P30M"))),
        S.req("ldt", S.localDateTime(Some("2024-01-05T00:00:00"),
          Some("2024-02-20T00:00:00"))),
        S.req("lt", S.localTime(Some("06:00:00"), Some("18:00:00"))),
        S.req("zid", S.zoneId),
        S.req("zoff", S.zoneOffset))
      SchemaCompiler.violationsDF(sch, src, Seq("doc_id"))
        .select("doc_id", "schema_path", "error_key")
        .orderBy("doc_id", "schema_path")
    }, oracle = Some(
      """WITH src AS (SELECT doc_id,
        |  (doc_id * 11) % 5000 AS dur_s,
        |  doc_id % 40 AS per_m,
        |  (doc_id * 50021) % 5000000 AS ldt_s,
        |  CASE WHEN doc_id % 61 = 22 THEN '25:99:00'
        |       ELSE lpad(CAST((doc_id * 7) % 24 AS VARCHAR), 2, '0') || ':'
        |         || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':'
        |         || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') END AS lt
        |  FROM documents)
        |SELECT doc_id, 'dur' AS schema_path, ':time/duration' AS error_key
        |  FROM src WHERE dur_s < 100 OR dur_s > 4000
        |UNION ALL
        |SELECT doc_id, 'per', ':time/period' FROM src
        |  WHERE per_m < 2 OR per_m > 30
        |UNION ALL
        |SELECT doc_id, 'ldt', ':time/local-date-time' FROM src
        |  WHERE ldt_s < 345600 OR ldt_s > 4320000
        |UNION ALL
        |SELECT doc_id, 'lt', ':time/local-time' FROM src
        |  WHERE doc_id % 61 = 22 OR lt < '06:00:00' OR lt > '18:00:00'
        |UNION ALL
        |SELECT doc_id, 'zid', ':time/zone-id' FROM src WHERE doc_id % 67 = 30
        |UNION ALL
        |SELECT doc_id, 'zoff', ':time/zone-offset' FROM src
        |  WHERE doc_id % 71 = 33
        |ORDER BY doc_id, schema_path""".stripMargin)),

    // ---- row validation over the TPC-H tables ----
    QuerySpec("v_lineitem_violations", (s, dir) => {
      SchemaCompiler.violationsDF(lineitemSchema, dirtyLineitem(s, dir),
          Seq("l_orderkey", "l_linenumber"))
        .select("l_orderkey", "l_linenumber", "schema_path", "error_key")
        .orderBy("l_orderkey", "l_linenumber", "schema_path")
    }, oracle = Some(
      s"""WITH dirty AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey % 97 = 5 THEN -l_quantity ELSE l_quantity END AS q,
         |    CASE WHEN l_orderkey % 89 = 7 THEN 'X' ELSE l_returnflag END AS rf,
         |    l_linestatus AS ls,
         |    CASE WHEN l_orderkey % 101 = 11 THEN TIMESTAMP '2031-01-01 00:00:00'
         |         ELSE l_shipdate END AS sd
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, 'l_orderkey' AS schema_path,
         |       ':int' AS error_key FROM dirty WHERE l_orderkey < 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, 'l_quantity', ':double'
         |  FROM dirty WHERE q < 1.0 OR q > 50.0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, 'l_returnflag', ':enum' FROM dirty
         |  WHERE rf NOT IN ('A','N','R')
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, 'l_linestatus', ':enum' FROM dirty
         |  WHERE ls NOT IN ('O','F')
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, 'l_shipdate', ':time/instant' FROM dirty
         |  WHERE sd < TIMESTAMP '1990-01-01 00:00:00'
         |     OR sd > TIMESTAMP '2010-01-01 00:00:00'
         |ORDER BY l_orderkey, l_linenumber, schema_path""".stripMargin)),

    QuerySpec("v_events_violations", (s, dir) => {
      SchemaCompiler.violationsDF(eventsSchema, dirtyEvents(s, dir),
          Seq("event_id"))
        .select("event_id", "schema_path", "error_key")
        .orderBy("event_id", "schema_path")
    }, oracle = Some(
      s"""WITH dirty AS (
         |  SELECT event_id,
         |    CASE WHEN event_id % 101 = 13 THEN 'bogus' ELSE event_type END AS et,
         |    CASE WHEN event_id % 103 = 17 THEN -1.0 ELSE value END AS v,
         |    CASE WHEN event_id % 107 = 19 THEN TIMESTAMP '2030-01-01 00:00:00'
         |         ELSE ts END AS tts
         |  FROM events)
         |SELECT event_id, 'event_type' AS schema_path, ':enum' AS error_key
         |  FROM dirty WHERE et NOT IN ('view','click','signup','purchase','error')
         |UNION ALL
         |SELECT event_id, 'value', ':double' FROM dirty
         |  WHERE v < 0.0 OR v > 1000000000.0
         |UNION ALL
         |SELECT event_id, 'ts', ':time/instant' FROM dirty
         |  WHERE tts < TIMESTAMP '2024-01-01 00:00:00'
         |     OR tts > TIMESTAMP '2024-02-01 00:00:00'
         |ORDER BY event_id, schema_path""".stripMargin))
  )
}
