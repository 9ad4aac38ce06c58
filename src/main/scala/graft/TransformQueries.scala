package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.ir.SchemaIR
import mallispark.compile.{SchemaCompiler, Transform}
import mallispark.run.NestedDocs
import mallispark.text.TextOps

/** Transformers and parsers: string/hinted/`:time` decode, JSON, ORC
  * and CSV ingestion, the full transform pipeline, coerce, and the
  * parse/unparse round-trips. */
private[graft] object TransformQueries {
  import SparkEntry.{deleteRecursively, t}

  def specs: Seq[QuerySpec] = Seq(

    // ---- sequential→set transformer (transform.cljc:211-233) gated:
    //      decode through [:set :string] = distinct; sorted csv output ----
    QuerySpec("transform_seq_set", (s, dir) => {
      val n = NestedDocs.derive(t(s, dir, "documents"))
      val setCol = Transform.decode(S.set(S.string), F.col("toks"),
        ArrayType(StringType), Transform.JsonMode)
      n.select(F.col("doc_id"),
          F.array_join(F.sort_array(setCol), ",").as("tok_set"),
          F.size(setCol).cast(LongType).as("n_distinct"))
        .orderBy("doc_id")
    }, oracle = Some {
      // sequential→set: distinct-ify, sorted csv + cardinality
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id,
         |  array_to_string(list_sort(list_distinct(toks)), ',') AS tok_set,
         |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
         |FROM nested ORDER BY doc_id""".stripMargin
    }),

    // ---- :time/* string decode (experimental/time/transform.cljc):
    //      ISO duration/period/local-date-time strings into native
    //      intervals/NTZ, emitted as seconds/months/formatted text ----
    QuerySpec("decode_time", (s, dir) => {
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(id,
        F.when(id % 97 === 3, F.lit("nope")).otherwise(
          F.concat(F.lit("PT"), (id % 5).cast(StringType), F.lit("H"),
            (id % 60).cast(StringType), F.lit("M"))).as("dur"),
        F.when(id % 89 === 7, F.lit("P1W")).otherwise(
          F.concat(F.lit("P"), (id % 3).cast(StringType), F.lit("Y"),
            (id % 12).cast(StringType), F.lit("M"))).as("per"),
        F.when(id % 101 === 11, F.lit("not-a-date")).otherwise(
          F.concat(F.lit("2024-03-"),
            F.lpad(((id % 28) + 1).cast(StringType), 2, "0"),
            F.lit("T"), F.lpad((id % 24).cast(StringType), 2, "0"),
            F.lit(":30:00"))).as("ldt"))
      val sch = S.mapE(false, S.req("doc_id", S.int),
        S.req("dur", S.duration()), S.req("per", S.period()),
        S.req("ldt", S.localDateTime()))
      Transform.decodeDF(sch.asInstanceOf[SchemaIR.SMap], src,
          Transform.StringMode)
        .select(id,
          F.col("dur").cast(LongType).as("dur_secs"),
          F.col("per").cast(IntegerType).cast(LongType).as("per_months"),
          F.date_format(F.col("ldt"), "yyyy-MM-dd HH:mm:ss").as("ldt_str"))
        .orderBy("doc_id")
    }, oracle = Some(
      // :time string decode — injections mirrored by predicate, ldt via
      // DuckDB timestamp cast + strftime
      """WITH src AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 101 = 11 THEN 'not-a-date'
        |         ELSE '2024-03-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
        |              || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
        |              || ':30:00' END AS ldt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 3 THEN NULL
        |       ELSE (doc_id % 5) * 3600 + (doc_id % 60) * 60 END AS dur_secs,
        |  CASE WHEN doc_id % 89 = 7 THEN NULL
        |       ELSE (doc_id % 3) * 12 + (doc_id % 12) END AS per_months,
        |  CASE WHEN doc_id % 101 = 11 THEN NULL
        |       ELSE strftime(CAST(ldt AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
        |       END AS ldt_str
        |FROM src ORDER BY doc_id""".stripMargin)),

    // ---- transformers (decode / coerce) ----
    QuerySpec("decode_strings", (s, dir) => {
      import mallispark.ir.SchemaIR.{SInt, SBoolean}
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(
        id,
        F.when(id % 10 === 0, F.concat(F.lit("x"), id.cast(StringType)))
          .otherwise(id.cast(StringType)).as("s_int"),
        F.when(id % 7 === 0, F.lit("true")).when(id % 7 === 1, F.lit("false"))
          .otherwise(F.lit("maybe")).as("s_bool"),
        F.when(id % 5 === 0, F.lit("")).otherwise(F.lit("v")).as("s_str"))
      src.select(id,
          Transform.decode(SInt(), F.col("s_int"), StringType,
            Transform.StringMode).as("d_int"),
          Transform.decode(SBoolean, F.col("s_bool"), StringType,
            Transform.StringMode).as("d_bool"),
          Transform.emptyStringToNull(F.col("s_str")).as("d_str"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 'x' || CAST(doc_id AS VARCHAR)
        |       ELSE CAST(doc_id AS VARCHAR) END AS s_int,
        |  CASE WHEN doc_id % 7 = 0 THEN 'true'
        |       WHEN doc_id % 7 = 1 THEN 'false' ELSE 'maybe' END AS s_bool,
        |  CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'v' END AS s_str
        |  FROM documents)
        |SELECT doc_id, TRY_CAST(s_int AS BIGINT) AS d_int,
        |  CASE WHEN s_bool = 'true' THEN true
        |       WHEN s_bool = 'false' THEN false ELSE NULL END AS d_bool,
        |  NULLIF(s_str, '') AS d_str
        |FROM src ORDER BY doc_id""".stripMargin)),

    // ---- schema-hinted transformation (:decode/<mode> interceptors,
    //      transform_test.cljc:824-928): enter → node transform → leave,
    //      compiled to Columns through the FmapColumns kernel ----
    QuerySpec("decode_hinted", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val id = F.col("doc_id")
      // [:and {:enter pad-2-digit :leave ×10-if-big} :int
      //       [:any {:enter inc :leave (partial * 2)}]]
      val andDecode = SProps(NodeProps(decodeHints = Seq("string" -> THint(
        enter =
          Some("""(fn [x] (if (re-matches "[0-9]{2}" x) (str x "0") x))"""),
        leave = Some("(fn [x] (if (>= x 100) (* 10 x) x))")))),
        SAnd(Seq(SInt(), SProps(NodeProps(decodeHints = Seq("string" ->
          THint(enter = Some("inc"), leave = Some("(partial * 2)")))),
          SAny))))
      // :or picks the first branch whose decoded result VALIDATES
      val orSel = SOr(Seq(
        SProps(NodeProps(decodeHints = Seq("string" ->
          THint(leave = Some("(partial * 2)")))), SInt(Some(1L), None)),
        SInt()))
      val upper = SProps(NodeProps(decodeHints =
        Seq("string" -> THint(enter = Some("str/upper-case")))), SString())
      // nested struct decode: declared fields coerce in place
      val nestedSchema = SMap(Seq(
        Entry("n", SInt()), Entry("kw", SIdent("keyword"))))
      val src = t(s, dir, "documents").select(id,
        (id % 137).cast(StringType).as("s_num"),
        ((id % 23) - 11).cast(StringType).as("s_or"),
        F.col("lang"),
        F.struct((id % 50).cast(StringType).as("n"),
          F.col("lang").as("kw")).as("nested"))
      val nestedT = src.schema("nested").dataType
      src.select(id,
          Transform.decode(andDecode, F.col("s_num"), StringType,
            Transform.StringMode).as("hinted_and"),
          Transform.decode(orSel, F.col("s_or"), StringType,
            Transform.StringMode).as("hinted_or"),
          Transform.decode(upper, F.col("lang"), StringType,
            Transform.StringMode).as("lang_up"),
          Transform.decode(nestedSchema, F.col("nested"), nestedT,
            Transform.StringMode).as("dec_nested"))
        .select(F.col("doc_id"), F.col("hinted_and"), F.col("hinted_or"),
          F.col("lang_up"),
          F.col("dec_nested.n").as("nested_n"),
          F.col("dec_nested.kw").as("nested_kw"))
        .orderBy("doc_id")
    }, oracle = Some(
      // hinted :and — enter pads 2-digit numbers with a trailing 0, the
      // int decode + inner (inc, *2) hints run in child order, leave ×10
      // past 100; hinted :or doubles via branch 1 only when the doubled
      // value still validates (>= 1)
      """WITH src AS (SELECT doc_id,
        |  CAST(doc_id % 137 AS VARCHAR) AS s_num,
        |  CAST(doc_id % 23 - 11 AS VARCHAR) AS s_or, lang
        |  FROM documents),
        |step AS (SELECT doc_id, s_or, lang,
        |  (CASE WHEN regexp_full_match(s_num, '[0-9]{2}')
        |        THEN CAST(s_num || '0' AS BIGINT)
        |        ELSE CAST(s_num AS BIGINT) END + 1) * 2 AS v2
        |  FROM src)
        |SELECT doc_id,
        |  CASE WHEN v2 >= 100 THEN v2 * 10 ELSE v2 END AS hinted_and,
        |  CASE WHEN CAST(s_or AS BIGINT) * 2 >= 1
        |       THEN CAST(s_or AS BIGINT) * 2
        |       ELSE CAST(s_or AS BIGINT) END AS hinted_or,
        |  upper(lang) AS lang_up,
        |  doc_id % 50 AS nested_n,
        |  ':' || lang AS nested_kw
        |FROM step ORDER BY doc_id""".stripMargin)),

    // ---- raw JSON-lines ingestion: from_json with the schema's own
    //      StructType → json-decode → flatten → validate; malformed
    //      documents surface as null fields and fail validation ----
    QuerySpec("json_ingest", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val d = F.col("doc_id")
      val raw = t(s, dir, "documents").select(d,
        F.when(d % 17 === 0, F.lit("{not json"))
          .otherwise(F.concat(
            F.lit("{\"id\": "), d.cast(StringType),
            F.lit(", \"lang\": \""), F.col("lang"), F.lit("\""),
            F.when(d % 13 === 0, F.lit(", \"score\": 1.5"))
              .otherwise(F.lit(", \"score\": 2")),
            F.lit("}"))).as("raw"))
      val sch = SMap(Seq(Entry("id", SInt()), Entry("lang", SString()),
        Entry("score", SDouble())))
      val parsed = Transform.fromJsonLines(sch, raw, "raw")
      // round-trip law IN ONE PROJECTION (no self-join, single scan):
      // re-parse the exported JSON and compare null-safe per field
      val st2 = SchemaCompiler.toStructType(sch)
      val rp = F.from_json(F.to_json(F.struct(
        F.col("id"), F.col("lang"), F.col("score"))), st2)
      SchemaCompiler.validateDF(sch, parsed, "ok", exclude = Set("doc_id"))
        .select(d, F.col("id"), F.col("lang").as("jlang"),
          F.col("score"), F.col("ok"),
          (F.col("id") <=> rp.getField("id") &&
           F.col("lang") <=> rp.getField("lang") &&
           F.col("score") <=> rp.getField("score")).as("rt_ok"))
        .orderBy("doc_id")
    }, oracle = Some(
      // json ingestion: the oracle rebuilds the parse result from the same
      // source columns (the JSON text was constructed from them); the
      // malformed every-17th document yields null fields and fails
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE doc_id END AS id,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE lang END AS jlang,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL
        |       WHEN doc_id % 13 = 0 THEN 1.5 ELSE 2.0 END AS score,
        |  doc_id % 17 <> 0 AS ok,
        |  true AS rt_ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- ORC source/sink round-trip: write documents as ORC, read
    //      back, validate, and signature-check the values per lang (the
    //      md5-derived sig replays in DuckDB over the PARQUET originals,
    //      so the gate proves the ORC round-trip preserved every field) ----
    QuerySpec("orc_ingest", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val tmp = java.nio.file.Files.createTempDirectory("orc_gate")
      t(s, dir, "documents").select("doc_id", "lang", "text", "n_chars")
        .write.mode("overwrite").orc(tmp.toString)
      val back = s.read.orc(tmp.toString)
      val sch = SMap(Seq(Entry("doc_id", SInt()), Entry("lang", SString(Some(1))),
        Entry("text", SString()), Entry("n_chars", SInt(Some(0L)))))
      val flagged = SchemaCompiler.validateDF(sch, back, "ok")
      val res = flagged.groupBy("lang").agg(
          F.count(F.lit(1)).as("n"),
          F.sum(F.pmod(TextOps.h32(F.concat(
            F.col("doc_id").cast(StringType), F.lit(":"), F.md5(F.col("text")),
            F.lit(":"), F.col("n_chars").cast(StringType))),
            F.lit(1000003L))).as("sig"),
          F.min(F.col("ok")).as("all_ok"))
        .orderBy("lang")
      val rows = res.collect().toIndexedSeq
      deleteRecursively(tmp.toString)
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), res.schema)
    }, oracle = Some(
      // the sig is computed over the ORC-round-tripped values engine-side
      // and over the parquet ORIGINALS here — equal iff ORC preserved
      // every field bit-for-bit
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(('0x'||substring(md5(
        |      CAST(doc_id AS VARCHAR)||':'||md5(text)||':'||
        |      CAST(n_chars AS VARCHAR)),1,8))::BIGINT % 1000003)
        |    AS BIGINT) AS sig,
        |  TRUE AS all_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- CSV sidecar ingestion: from_csv with the schema's StructType;
    //      a field failing its type (id "x") goes null and fails
    //      validation, the rest of the line still parses ----
    QuerySpec("csv_ingest", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val d = F.col("doc_id")
      val raw = t(s, dir, "documents").select(d,
        F.concat(
          F.when(d % 17 === 0, F.lit("x")).otherwise(d.cast(StringType)),
          F.lit(","), F.col("lang"), F.lit(","),
          F.when(d % 13 === 0, F.lit("1.5")).otherwise(F.lit("2")))
          .as("raw"))
      val sch = SMap(Seq(Entry("id", SInt()), Entry("lang", SString()),
        Entry("score", SDouble())))
      val parsed = Transform.fromCsvLines(sch, raw, "raw")
      SchemaCompiler.validateDF(sch, parsed, "ok", exclude = Set("doc_id"))
        .select(d, F.col("id"), F.col("lang").as("clang"),
          F.col("score"), F.col("ok"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE doc_id END AS id,
        |  lang AS clang,
        |  CASE WHEN doc_id % 13 = 0 THEN 1.5 ELSE 2.0 END AS score,
        |  doc_id % 17 <> 0 AS ok
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- full transformer pipeline: decodeDF → fillDefaults →
    //      renameKeys → stripExtraKeys → encode (gated end-to-end) ----
    QuerySpec("transform_pipeline", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(id,
        F.when(id % 9 === 2, F.lit("not-a-uuid")).otherwise(
          F.concat(F.lit("00000000-0000-4000-a000-"),
            F.lpad(id.cast(StringType), 12, "0"))).as("s_uuid"),
        F.concat(F.lit("2024-01-"),
          F.lpad((id % 28 + 1).cast(StringType), 2, "0")).as("s_date"),
        F.when(id % 8 === 3, id.cast(DoubleType) + 0.5)
          .otherwise(id.cast(DoubleType)).as("num"),
        F.when(id % 6 === 1, F.lit(null).cast(StringType))
          .otherwise(F.col("lang")).as("lang"))
      val sch = SMap(Seq(
        Entry("doc_id", SInt()),
        Entry("s_uuid", SUuid),
        Entry("s_date", SDate()),
        Entry("num", SInt()),
        Entry("lang", SString(), optional = true, default = Some("und"))))
      val decoded = Transform.decodeDF(sch, src, Transform.StringMode)
      val filled = Transform.fillDefaults(sch, decoded)
      val renamed = Transform.renameKeys(filled, Map("s_uuid" -> "uuid"))
      val target = SMap(Seq(Entry("doc_id", SInt()), Entry("uuid", SUuid),
        Entry("s_date", SDate()), Entry("num", SInt()),
        Entry("lang", SString())))
      val stripped = Transform.stripExtraKeys(target,
        renamed.withColumn("junk", F.lit(1)))
      stripped.select(F.col("doc_id"), F.col("uuid"),
          Transform.encode(SDate(), F.col("s_date"), DateType).as("d_date"),
          F.col("num").as("d_long"), F.col("lang"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 2 THEN 'not-a-uuid'
        |       ELSE '00000000-0000-4000-a000-'
        |         || lpad(CAST(doc_id AS VARCHAR), 12, '0') END AS s_uuid,
        |  '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS s_date,
        |  CASE WHEN doc_id % 8 = 3 THEN doc_id + 0.5
        |       ELSE CAST(doc_id AS DOUBLE) END AS num,
        |  CASE WHEN doc_id % 6 = 1 THEN NULL ELSE lang END AS lang
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(s_uuid,
        |    '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
        |    THEN s_uuid END AS uuid,
        |  strftime(TRY_CAST(s_date AS DATE), '%Y-%m-%d') AS d_date,
        |  CASE WHEN num = floor(num) THEN CAST(floor(num) AS BIGINT) END AS d_long,
        |  COALESCE(lang, 'und') AS lang
        |FROM src ORDER BY doc_id""".stripMargin)),

    // ---- coerce = decode → validate → split ----
    QuerySpec("coerce_split", (s, dir) => {
      import mallispark.ir.SchemaIR._
      val id = F.col("doc_id")
      val src = t(s, dir, "documents").select(id,
        F.when(id % 10 === 0, F.concat(F.lit("x"), id.cast(StringType)))
          .otherwise(id.cast(StringType)).as("s_int"))
      val sch = SMap(Seq(Entry("doc_id", SInt()),
        Entry("s_int", SInt(Some(0L), None))))
      val (ok, bad) = Transform.coerce(sch, src, Transform.StringMode)
      ok.agg(F.count(F.lit(1)).as("accepted"))
        .crossJoin(bad.agg(F.count(F.lit(1)).as("rejected")))
    }, oracle = Some(
      """WITH src AS (SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 'x' || CAST(doc_id AS VARCHAR)
        |       ELSE CAST(doc_id AS VARCHAR) END AS s_int
        |  FROM documents),
        |d AS (SELECT doc_id, TRY_CAST(s_int AS BIGINT) AS v FROM src)
        |SELECT
        |  CAST(sum(CASE WHEN v IS NOT NULL AND v >= 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS accepted,
        |  CAST(sum(CASE WHEN v IS NULL OR v < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rejected
        |FROM d""".stripMargin)),

    // ---- parse (tagged unions) as a gated query ----
    QuerySpec("parse_orn", (s, dir) => {
      val sch = S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L),
        "pos" -> S.intMin(1L))
      val src = t(s, dir, "documents").select(F.col("doc_id"),
        (F.col("doc_id") % 7 - 3).as("v"))
      src.select(F.col("doc_id"),
          mallispark.compile.Parse.parse(sch, F.col("v"), LongType).as("p"))
        .select(F.col("doc_id"), F.col("p.tag").as("tag"),
          F.col("p.value").as("value"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
        |  CASE WHEN v <= -1 THEN 'neg' WHEN v = 0 THEN 'zero'
        |       WHEN v >= 1 THEN 'pos' END AS tag,
        |  v AS value
        |FROM (SELECT doc_id, doc_id % 7 - 3 AS v FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // ---- :or composes child parsers: first accepting child shapes the
    //      result (core.cljc:1018 ->parser reduce), and the Column-tier
    //      unparse restores the input ----
    QuerySpec("parse_or", (s, dir) => {
      val P = mallispark.compile.Parse
      val sch = S.or(
        S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L)),
        S.orn("pos" -> S.intMin(1L)))
      val src = t(s, dir, "documents").select(F.col("doc_id"),
        (F.col("doc_id") % 7 - 3).as("v"))
      val parsed = P.parse(sch, F.col("v"), LongType)
      src.select(F.col("doc_id"), F.col("v"),
          parsed.getField("tag").as("tag"),
          parsed.getField("value").as("value"),
          F.coalesce(P.unparse(sch, parsed, LongType) === F.col("v"),
            F.lit(false)).as("rt_ok"))
        .orderBy("doc_id")
    }, oracle = Some(
      // :or parse = first accepting child (branch 1 covers <= 0, branch 2
      // the rest); unparse restores v exactly
      """SELECT doc_id, v,
        |  CASE WHEN v <= -1 THEN 'neg' WHEN v = 0 THEN 'zero'
        |       ELSE 'pos' END AS tag,
        |  v AS value, TRUE AS rt_ok
        |FROM (SELECT doc_id, doc_id % 7 - 3 AS v FROM documents)
        |ORDER BY doc_id""".stripMargin)),

    // ---- :and parses through its single transforming child
    //      (core.cljc:879-891; parser_test.cljc:132-180): the :orn child
    //      shapes the result, the :int sibling just validates; the
    //      :parse/transforming-child :none prop forces identity; a deep
    //      nest tags twice ----
    QuerySpec("parse_and_transforming", (s, dir) => {
      import mallispark.ir.SchemaIR.{SProps, NodeProps}
      val P = mallispark.compile.Parse
      val orn = S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L),
        "pos" -> S.intMin(1L))
      val sch = S.and(orn, S.int(-3L, 3L))
      val none = SProps(NodeProps(parseTransformingChild = Some(":none")),
        S.and(orn, S.int(-4L, 2L))) // tighter max: v=3 parses to ::m/invalid
      val deep = S.and(S.orn("l" -> S.and(orn, S.int)), S.int)
      val src = t(s, dir, "documents").select(F.col("doc_id"),
        (F.col("doc_id") % 7 - 3).as("v"))
      src.select(F.col("doc_id"),
          P.parse(sch, F.col("v"), LongType).as("p"),
          P.parse(none, F.col("v"), LongType).as("ident"),
          P.parse(deep, F.col("v"), LongType).as("d"))
        .select(F.col("doc_id"),
          F.col("p.tag").as("tag"), F.col("p.value").as("value"),
          F.col("ident"),
          F.col("d.tag").as("deep_tag"),
          F.col("d.value.tag").as("inner_tag"),
          F.col("d.value.value").as("inner_value"))
        .orderBy("doc_id")
    }, oracle = Some(
      // :and routes parse through the :orn child; the identity variant
      // nulls where the tightened sibling range rejects; the deep variant
      // nests Tag('l', Tag(branch, v))
      """WITH s AS (SELECT doc_id, doc_id % 7 - 3 AS v FROM documents),
        |tagged AS (SELECT doc_id, v,
        |  CASE WHEN v <= -1 THEN 'neg' WHEN v = 0 THEN 'zero'
        |       WHEN v >= 1 THEN 'pos' END AS btag FROM s)
        |SELECT doc_id, btag AS tag, v AS value,
        |  CASE WHEN v <= 2 THEN v END AS ident,
        |  'l' AS deep_tag, btag AS inner_tag, v AS inner_value
        |FROM tagged ORDER BY doc_id""".stripMargin)),

    // ---- :catn tagged parse + unparse round-trip over derived arrays;
    //      the middle entry is an :altn so its parse carries a branch TAG
    //      (Tag records core.cljc:164-183) — the injected 'xx' lang lands
    //      in the 'other' branch instead of failing the whole parse ----
    QuerySpec("parse_catn_roundtrip", (s, dir) => {
      val at = ArrayType(StringType)
      val sch = S.catn("a" -> S.re("^a"),
        "pl" -> S.altn("lang" -> S.enum_(NestedDocs.Langs: _*),
          "other" -> S.re("^x")),
        "z" -> S.eq_("z"))
      val n = NestedDocs.derive(t(s, dir, "documents"))
      val parsed = n.select(F.col("doc_id"), F.col("seq1"),
        mallispark.compile.Parse.parse(sch, F.col("seq1"), at).as("p"))
      parsed.select(F.col("doc_id"),
          F.col("p.a").as("a"),
          F.col("p.pl.tag").as("pl_tag"),
          F.col("p.pl.value").as("pl"), F.col("p.z").as("z"),
          F.coalesce(F.col("p").isNotNull &&
            mallispark.compile.Parse.unparse(sch, F.col("p"), at) ===
              F.col("seq1"), F.lit(false)).as("rt_ok"))
        .orderBy("doc_id")
    }, oracle = Some {
      // the :altn middle entry: first-matching branch names the tag
      // ('lang' before 'other', same order both engines)
      val NP = NestedDocs.OracleCte
      s"""$NP
         |SELECT doc_id,
         |  CASE WHEN ok THEN seq1[1] END AS a,
         |  CASE WHEN ok THEN
         |    CASE WHEN seq1[2] IN ('en','de','fr','es','zh') THEN 'lang'
         |         ELSE 'other' END END AS pl_tag,
         |  CASE WHEN ok THEN seq1[2] END AS pl,
         |  CASE WHEN ok THEN seq1[3] END AS z,
         |  ok AS rt_ok
         |FROM (SELECT doc_id, seq1,
         |  COALESCE(len(seq1) = 3 AND regexp_matches(seq1[1], '^a')
         |    AND (seq1[2] IN ('en','de','fr','es','zh')
         |         OR regexp_matches(seq1[2], '^x'))
         |    AND seq1[3] = 'z', FALSE) AS ok FROM nested)
         |ORDER BY doc_id""".stripMargin
    }),

    // ---- tier-3 (general-form) parse/unparse round-trip on seq3:
    //      [:* [:cat re re]] — reParse builds the iteration tree,
    //      reUnparse flattens it back; the oracle checks parse success,
    //      round-trip equality, and the tree arity relationally ----
    QuerySpec("parse_general_roundtrip", (s, dir) => {
      val sch = S.star(S.cat(S.re("^k"), S.re("^v")))
      val n = NestedDocs.derive(t(s, dir, "documents"))
      val rt = mallispark.compile.GeneralRegex
        .parseRoundTripStringSeq(sch)(F.col("seq3"))
      n.select(F.col("doc_id"), rt.as("r"))
        .select(F.col("doc_id"), F.col("r._1").as("parsed"),
          F.col("r._2").as("rt_ok"),
          F.col("r._3").cast(LongType).as("n_pairs"))
        .orderBy("doc_id")
    }, oracle = Some {
      // parse succeeds ⇔ even length AND alternating ^k/^v elements; the
      // round-trip then holds by construction (flatten ∘ build = id) and
      // the tree arity is len/2 iterations of the inner :cat
      val NP = NestedDocs.OracleCte
      s"""$NP,
         |bad AS (SELECT doc_id, count(*) AS nbad FROM
         |    (SELECT doc_id, unnest(seq3) AS e,
         |            generate_subscripts(seq3, 1) AS i FROM nested)
         |  WHERE (i % 2 = 1 AND NOT regexp_matches(e, '^k'))
         |     OR (i % 2 = 0 AND NOT regexp_matches(e, '^v'))
         |  GROUP BY doc_id),
         |dec AS (SELECT n.doc_id,
         |    len(n.seq3) % 2 = 0 AND coalesce(b.nbad, 0) = 0 AS parsed,
         |    CAST(len(n.seq3) AS BIGINT) AS sz
         |  FROM nested n LEFT JOIN bad b ON n.doc_id = b.doc_id)
         |SELECT doc_id, parsed, parsed AS rt_ok,
         |  CASE WHEN parsed THEN sz // 2 END AS n_pairs
         |FROM dec ORDER BY doc_id""".stripMargin
    })
  )
}
