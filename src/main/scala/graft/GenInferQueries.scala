package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.ir.SchemaIR
import mallispark.compile.SchemaCompiler
import mallispark.checks.TableChecks
import mallispark.run.WebPages

/** Generation, sketch-law gates, schema inference and the schema IR
  * surface (schema algebra, golden serialization forms). A law gate
  * pairs an engine-native sketch, which has no value oracle, with the
  * exact component DuckDB re-derives; the raw sketch queries are
  * bench-only (`oracle = None`). */
private[graft] object GenInferQueries {
  import SparkEntry.{P, pages, t}

  /** Compact malli-form tag of an inferred schema node (gate rendering —
    * enum members travel in their own column, see enumCsv). */
  private def inferTag(ir: SchemaIR): String = {
    import mallispark.ir.SchemaIR._
    ir match {
      case _: SInt => ":int"
      case _: SDouble => ":double"
      case _: SString => ":string"
      case SUuid => ":uuid"
      case _: SEnum => ":enum"
      case SBoolean => ":boolean"
      case SBinary => ":binary"
      case _: STimestamp => ":time/instant"
      case SMaybe(c) => s"[:maybe ${inferTag(c)}]"
      case STuple(cs) => cs.map(inferTag).mkString("[:tuple ", " ", "]")
      case SVector(c, _, _) => s"[:vector ${inferTag(c)}]"
      case SMapOf(k, v, _, _) => s"[:map-of ${inferTag(k)} ${inferTag(v)}]"
      case _: SMap => ":map"
      case _ => ":any"
    }
  }

  private def enumCsv(ir: SchemaIR): String = {
    import mallispark.ir.SchemaIR._
    ir match {
      case SEnum(vs) => vs.map(_.toString).sorted.mkString(",")
      case SMaybe(c) => enumCsv(c)
      case _ => ""
    }
  }

  def specs: Seq[QuerySpec] = Seq(

    // ---- generation, oracle-gated: the portable md5-seeded Rng makes
    //      every draw DuckDB-mirrorable, so the oracle recomputes all
    //      generated values from the same arithmetic; the engine side
    //      additionally runs the compiled validator over its own output
    //      (the reference's validate∘generate law, generator_test.cljc)
    //      and emits the verdict — the oracle expects all-true ----
    QuerySpec("gen_roundtrip", (s, dir) => {
      import mallispark.gen.Generate
      val schema = S.map(
        "name" -> S.string(3, 10),
        "age" -> S.int(0, 120),
        "score" -> S.double(0.0, 1.0),
        "flag" -> S.boolean,
        "lang" -> S.enum_("en", "de", "fr"),
        "tags" -> S.vector(S.enum_("a", "b", "c"), Some(1), Some(3)),
        "note" -> S.maybe(S.string(2, 6)))
      implicit val rng: Generate.Rng = Generate.PortableRng
      val rid = rng.mix(F.col("id"), F.lit(7L))
      val row = Generate.gen(schema, rid, 1)
      val gend = s.range(200).select(
        F.col("id").as("row_id"),
        row.getField("name").as("name"), row.getField("age").as("age"),
        row.getField("score").as("score"), row.getField("flag").as("flag"),
        row.getField("lang").as("lang"), row.getField("tags").as("tags"),
        row.getField("note").as("note"))
      SchemaCompiler.validateDF(schema, gend, "ok", exclude = Set("row_id"))
        .select(F.col("row_id"), F.col("name"), F.col("age"),
          F.col("score"), F.col("flag"), F.col("lang"),
          F.array_join(F.col("tags"), ",").as("tags_s"), F.col("note"),
          F.col("ok"))
        .orderBy("row_id")
    }, oracle = Some(
      // Generation mirror: the PortableRng draw is
      // h32("<id>:<salt>") ≡ ('0x'||substring(md5(...),1,8))::BIGINT and
      // child ids are h32("<id>#<k>") — the oracle replays every draw of
      // the gate schema (salts: entry i gets 1+13*(i+1); genString uses
      // salt/salt+1; sizeIn salt+99; collection elements salt+2 on the
      // mixed id; maybe gives the child salt+1). `ok` is expected
      // all-true: the engine side proves the validate∘generate law.
      """WITH r AS (
        |  SELECT i AS row_id,
        |    ('0x'||substring(md5(CAST(i AS VARCHAR)||'#7'),1,8))::BIGINT AS rid
        |  FROM (SELECT unnest(range(200)) AS i) b),
        |d AS (
        |  SELECT row_id, rid, rid_s,
        |    ('0x'||substring(md5(rid_s||':14'),1,8))::BIGINT % 8 AS d14,
        |    ('0x'||substring(md5(rid_s||':15'),1,8))::BIGINT % 8 AS d15,
        |    ('0x'||substring(md5(rid_s||':27'),1,8))::BIGINT % 121 AS d27,
        |    ('0x'||substring(md5(rid_s||':40'),1,8))::BIGINT % 1000000 AS d40,
        |    ('0x'||substring(md5(rid_s||':53'),1,8))::BIGINT % 2 AS d53,
        |    ('0x'||substring(md5(rid_s||':66'),1,8))::BIGINT % 3 AS d66,
        |    ('0x'||substring(md5(rid_s||':178'),1,8))::BIGINT % 3 AS d178,
        |    ('0x'||substring(md5(rid_s||':92'),1,8))::BIGINT % 4 AS d92,
        |    ('0x'||substring(md5(rid_s||':93'),1,8))::BIGINT % 8 AS d93,
        |    ('0x'||substring(md5(rid_s||':94'),1,8))::BIGINT % 5 AS d94,
        |    ('0x'||substring(md5(CAST(('0x'||substring(md5(rid_s||'#1'),1,8))::BIGINT AS VARCHAR)||':81'),1,8))::BIGINT % 3 AS e1,
        |    ('0x'||substring(md5(CAST(('0x'||substring(md5(rid_s||'#2'),1,8))::BIGINT AS VARCHAR)||':81'),1,8))::BIGINT % 3 AS e2,
        |    ('0x'||substring(md5(CAST(('0x'||substring(md5(rid_s||'#3'),1,8))::BIGINT AS VARCHAR)||':81'),1,8))::BIGINT % 3 AS e3
        |  FROM (SELECT row_id, rid, CAST(rid AS VARCHAR) AS rid_s FROM r) rr)
        |SELECT row_id,
        |  substring(['alpha','beta','gamma','delta','omega','kappa','sigma','theta'][CAST(d14 AS INT)+1]
        |    || 'xxxxxxxxxx', 1, CAST(3 + d15 AS INT)) AS name,
        |  CAST(d27 AS BIGINT) AS age,
        |  0.0 + CAST(d40 AS DOUBLE)/1000000*(1.0-0.0) AS score,
        |  d53 = 1 AS flag,
        |  ['en','de','fr'][CAST(d66 AS INT)+1] AS lang,
        |  concat_ws(',', ['a','b','c'][CAST(e1 AS INT)+1],
        |    CASE WHEN 1 + d178 >= 2 THEN ['a','b','c'][CAST(e2 AS INT)+1] END,
        |    CASE WHEN 1 + d178 >= 3 THEN ['a','b','c'][CAST(e3 AS INT)+1] END) AS tags_s,
        |  CASE WHEN d92 = 0 THEN NULL
        |       ELSE substring(['alpha','beta','gamma','delta','omega','kappa','sigma','theta'][CAST(d93 AS INT)+1]
        |         || 'xxxxxx', 1, CAST(2 + d94 AS INT)) END AS note,
        |  TRUE AS ok
        |FROM d ORDER BY row_id""".stripMargin)),

    // ---- :gen/... property overrides, oracle-gated (generator.cljc
    //      455-476 -create precedence + 78-87 -min-max): every draw AND
    //      every :gen/fmap is pure portable-Rng arithmetic the oracle
    //      replays — elements via the same element_at index, fmap via its
    //      SQL twin (concat_ws / arithmetic). The engine also validates
    //      its own output (ok expected all-true: gen props here are
    //      chosen INSIDE the child domains). ----
    QuerySpec("gen_props_roundtrip", (s, dir) => {
      import mallispark.gen.Generate
      import mallispark.ir.SchemaIR.{NodeProps, SProps}
      val schema = S.map(
        "pick" -> SProps(NodeProps(
          genElements = Some(Seq("aa", "bb", "cc"))), S.string),
        "tagged" -> SProps(NodeProps(genElements = Some(Seq(1L, 2L)),
          genFmap = Some("(partial str \"v_\")")), S.string),
        "ret" -> SProps(NodeProps(genReturn = Some(42L)), S.int(0, 100)),
        "bounded" -> SProps(NodeProps(genMin = Some(10.0),
          genMax = Some(20.0)), S.int(0, 100)),
        "nested" -> SProps(NodeProps(
          genSchema = Some(SProps(NodeProps(
            genElements = Some(Seq(5L, 6L))), S.int)),
          genFmap = Some("(fn [x] (str x \"!\"))")), S.string),
        "mapped" -> SProps(NodeProps(genSchema = Some(S.int(0, 9)),
          genFmap = Some("(fn [x] (+ (* x 2) 1))")), S.int(1, 19)))
      implicit val rng: Generate.Rng = Generate.PortableRng
      val rid = rng.mix(F.col("id"), F.lit(7L))
      val row = Generate.gen(schema, rid, 1)
      val gend = s.range(200).select(
        F.col("id").as("row_id"),
        row.getField("pick").as("pick"),
        row.getField("tagged").as("tagged"),
        row.getField("ret").as("ret"),
        row.getField("bounded").as("bounded"),
        row.getField("nested").as("nested"),
        row.getField("mapped").as("mapped"))
      SchemaCompiler.validateDF(schema, gend, "ok", exclude = Set("row_id"))
        .select(F.col("row_id"), F.col("pick"), F.col("tagged"),
          F.col("ret"), F.col("bounded"), F.col("nested"),
          F.col("mapped"), F.col("ok"))
        .orderBy("row_id")
    }, oracle = Some(
      // :gen/... override mirror — map-entry i draws at salt 1+13*(i+1)
      // (pick 14, tagged 27, ret none, bounded 53, nested 66, mapped 79);
      // :gen/elements indexes the literal array with the SAME salt,
      // :gen/schema delegates at the same salt, :gen/min-max narrows the
      // int span (10 + d%11), and each :gen/fmap replays as its SQL twin:
      // (partial str "v_") = 'v_'||x, (fn [x] (str x "!")) = x||'!',
      // (fn [x] (+ (* x 2) 1)) = 2*x+1.
      """WITH r AS (
        |  SELECT i AS row_id,
        |    ('0x'||substring(md5(CAST(i AS VARCHAR)||'#7'),1,8))::BIGINT AS rid
        |  FROM (SELECT unnest(range(200)) AS i) b),
        |d AS (
        |  SELECT row_id,
        |    ('0x'||substring(md5(rid_s||':14'),1,8))::BIGINT % 3 AS d14,
        |    ('0x'||substring(md5(rid_s||':27'),1,8))::BIGINT % 2 AS d27,
        |    ('0x'||substring(md5(rid_s||':53'),1,8))::BIGINT % 11 AS d53,
        |    ('0x'||substring(md5(rid_s||':66'),1,8))::BIGINT % 2 AS d66,
        |    ('0x'||substring(md5(rid_s||':79'),1,8))::BIGINT % 10 AS d79
        |  FROM (SELECT row_id, CAST(rid AS VARCHAR) AS rid_s FROM r) rr)
        |SELECT row_id,
        |  ['aa','bb','cc'][CAST(d14 AS INT)+1] AS pick,
        |  'v_' || CAST([1,2][CAST(d27 AS INT)+1] AS VARCHAR) AS tagged,
        |  CAST(42 AS BIGINT) AS ret,
        |  CAST(10 + d53 AS BIGINT) AS bounded,
        |  CAST([5,6][CAST(d66 AS INT)+1] AS VARCHAR) || '!' AS nested,
        |  CAST(2 * d79 + 1 AS BIGINT) AS mapped,
        |  TRUE AS ok
        |FROM d ORDER BY row_id""".stripMargin)),

    // ---- :re + recursive :ref generation, law-gated (generator.cljc
    //      -re-gen / -ref-gen analogues): regex draws reverse the
    //      AnchoredScan segment parser; refs unroll with recursion decay.
    //      Values aren't SQL-replayable (byte-level segment draws), so
    //      the gate follows the sketch-law pattern: the ENGINE proves
    //      validate∘generate plus depth/diversity and emits the verdicts
    //      the oracle pins as literals — deterministic because every
    //      draw is hash arithmetic. ----
    QuerySpec("gen_re_recursive_law", (s, dir) => {
      import mallispark.gen.Generate
      implicit val rng: Generate.Rng = Generate.PortableRng
      implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()
      val rid = rng.mix(F.col("id"), F.lit(11L))
      val urlP = "^https?://[^\\s]+$"
      val uuidP = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
        "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
      val tree = S.scoped("node" -> S.mapE(false,
        S.req("v", S.intMin(0L)),
        S.opt("kids", S.vector(S.ref("node")))))(S.ref("node"))
      val df = s.range(300).select(
        Generate.gen(S.re(urlP), rid, 1).as("u"),
        Generate.gen(S.re(uuidP), rid, 2).as("q"),
        Generate.gen(tree, rid, 3).as("n"))
      import org.apache.spark.sql.types.StringType
      val uOk = SchemaCompiler.valid(S.re(urlP), F.col("u"), StringType)
      val qOk = SchemaCompiler.valid(S.re(uuidP), F.col("q"), StringType)
      val tOk = SchemaCompiler.valid(tree, F.col("n"),
        df.schema("n").dataType)
      val gkid = F.get(F.get(F.col("n.kids"), F.lit(0))
        .getField("kids"), F.lit(0)).getField("v")
      df.agg(
        F.count(F.lit(1)).cast(LongType).as("n_rows"),
        F.every(uOk).as("re_all_valid"),
        (F.countDistinct(F.col("u")) > 100L).as("re_distinct_ok"),
        F.every(qOk).as("uuid_all_valid"),
        F.every(tOk).as("tree_all_valid"),
        (F.sum(F.when(gkid.isNotNull, 1L).otherwise(0L)) > 0L)
          .as("tree_has_depth2"))
    }, oracle = Some(
      // law gate (sketch-law pattern): the engine proves validate∘generate
      // for :re (reverse AnchoredScan) and recursive :ref (unrollRefs) plus
      // diversity/depth; the oracle pins the deterministic verdicts.
      """SELECT CAST(300 AS BIGINT) AS n_rows,
        |  TRUE AS re_all_valid, TRUE AS re_distinct_ok,
        |  TRUE AS uuid_all_valid, TRUE AS tree_all_valid,
        |  TRUE AS tree_has_depth2""".stripMargin)),

    // ---- generative function checking + shrinking (m/=> + mg/check +
    //      test.check shrink): law `f(v) <= 100` over identity on
    //      [:int {:min 0 :max 10000}]. Portable-RNG draws → the oracle
    //      replays every generated argument in SQL, finds the FIRST
    //      counterexample in generation order, and knows the law's true
    //      minimal counterexample (101) — which the greedy step-down
    //      shrinker must reach exactly. A law-abiding twin (clamp) pins
    //      check() = None on the same draws. ----
    QuerySpec("fn_check_shrink", (s, dir) => {
      import mallispark.gen.{FnSchemas, Generate}
      import mallispark.ir.SchemaIR.{Entry, SInt, SMap}
      val sch = FnSchemas.FnSchema(
        Seq(SInt(Some(0L), Some(10000L))), SInt(None, Some(100L)))
      val ident: Seq[Any] => Any = _.head
      val clamp: Seq[Any] => Any =
        args => math.min(args.head.asInstanceOf[Long], 100L)
      def run(f: Seq[Any] => Any, shrink: Boolean) =
        FnSchemas.check(s, sch, f, n = 100, seed = 7L, shrink = shrink,
          rng = Generate.PortableRng)
      val cex = run(ident, shrink = false)
      val shrunk = run(ident, shrink = true)
      def longOf(r: Option[(Seq[Any], Any)]) = r
        .map(x => F.lit(x._1.head.asInstanceOf[Long]))
        .getOrElse(F.lit(null)).cast(LongType)
      // replay surface: the same 100 portable draws the checker consumed
      val gen = Generate.dfFromSchema(s,
        SMap(Seq(Entry("a0", sch.input.head))), 100L, 7L,
        rng = Generate.PortableRng)
      gen.agg(F.sum(F.when(F.col("a0") > 100, 1L).otherwise(0L))
          .cast(LongType).as("n_fail"))
        .select(F.col("n_fail"),
          F.lit(cex.isDefined).as("found"),
          longOf(cex).as("cex"),
          longOf(shrunk).as("shrunk"),
          F.lit(run(clamp, shrink = false).isDefined).as("clamped_found"))
    }, oracle = Some(
      // Replays the checker's 100 portable-RNG draws (rid = h32(i||'#'||seed),
      // a0 = 0 + h32(rid||':14') % 10001 — map-entry salt 1+13*1), takes the
      // first law violation in generation order as the counterexample, and
      // pins the shrinker to the law's true minimum (101 is the smallest
      // int > 100; the step-down candidate makes the greedy fixpoint exact).
      """WITH r AS (
        |  SELECT i,
        |    ('0x'||substring(md5(CAST(i AS VARCHAR)||'#7'),1,8))::BIGINT AS rid
        |  FROM (SELECT unnest(range(100)) AS i) b),
        |d AS (
        |  SELECT i,
        |    ('0x'||substring(md5(CAST(rid AS VARCHAR)||':14'),1,8))::BIGINT
        |      % 10001 AS a0
        |  FROM r),
        |cex AS (SELECT a0 FROM d WHERE a0 > 100 ORDER BY i LIMIT 1)
        |SELECT
        |  CAST((SELECT count(*) FROM d WHERE a0 > 100) AS BIGINT) AS n_fail,
        |  EXISTS(SELECT 1 FROM cex) AS found,
        |  (SELECT CAST(a0 AS BIGINT) FROM cex) AS cex,
        |  CASE WHEN EXISTS(SELECT 1 FROM cex)
        |       THEN CAST(101 AS BIGINT) END AS shrunk,
        |  FALSE AS clamped_found""".stripMargin)),

    // ---- SKETCH LAW GATES: the approx paths can't be value-matched
    //      cross-engine (sketches are engine-private), but their LAWS
    //      can — each gate emits an exact component DuckDB re-derives
    //      PLUS an engine-proved tolerance/agreement verdict the oracle
    //      expects to be true ----

    // HLL vs exact distinct: exact counts cross-checked; a tight sketch
    // (rsd 0.01 — the scale path would use the default 0.05) must land
    // within 5% of them (deterministic hash sketch, no run-to-run noise)
    QuerySpec("approx_distinct_law", (s, dir) => {
      t(s, dir, "lineitem").agg(
          F.countDistinct(F.col("l_orderkey")).as("exact_orders"),
          F.countDistinct(F.col("l_partkey")).as("exact_parts"),
          F.approx_count_distinct(F.col("l_orderkey"), 0.01).as("ao"),
          F.approx_count_distinct(F.col("l_partkey"), 0.01).as("ap"))
        .select(F.col("exact_orders"), F.col("exact_parts"),
          (F.abs(F.col("ao") - F.col("exact_orders")).cast(DoubleType)
            / F.col("exact_orders") <= 0.05 &&
           F.abs(F.col("ap") - F.col("exact_parts")).cast(DoubleType)
            / F.col("exact_parts") <= 0.05).as("within_5pct"))
    }, oracle = Some(
      """SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS within_5pct
        |FROM lineitem""".stripMargin)),

    // HLL distinct sketch (law gate: approx_distinct_law)
    QuerySpec("stats_approx_distinct", (s, dir) => {
      t(s, dir, "lineitem").agg(
          F.approx_count_distinct(F.col("l_orderkey"))
            .as("approx_orders"),
          F.approx_count_distinct(F.col("l_partkey")).as("approx_parts"))
        .select(F.col("approx_orders"), F.col("approx_parts"))
    }, oracle = None),

    // percentile-sketch KS vs the distributed exact KS: the exact D is
    // cross-checked (same arithmetic as drift_ks_value); the 256-quantile
    // sketch estimate must track it
    QuerySpec("ks_sketch_law", (s, dir) => {
      val ev = t(s, dir, "events")
      val exact = TableChecks.ksExact(ev, "value",
          F.col("event_id") % 2 === 0).select(F.col("ks_stat"))
      val sk = TableChecks.ksStatistic(
        ev.where(F.col("event_id") % 2 === 0),
        ev.where(F.col("event_id") % 2 =!= 0), "value")
      exact.crossJoin(sk).select(F.col("ks_stat"),
        (F.abs(F.col("ks_statistic") - F.col("ks_stat")) <= 0.05)
          .as("sketch_close"))
    }, oracle = Some(
      // exact-D arithmetic identical to drift_ks_value's oracle
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
        |  TRUE AS sketch_close
        |FROM cum""".stripMargin)),

    // percentile_approx-sketch KS (law gate: ks_sketch_law)
    QuerySpec("drift_ks_sketch", (s, dir) => {
      val ev = t(s, dir, "events")
      TableChecks.ksStatistic(
        ev.where(F.col("event_id") % 2 === 0),
        ev.where(F.col("event_id") % 2 =!= 0), "value")
    }, oracle = None),

    // native (engine-hash) kernels: byte-identical duplicate texts MUST
    // produce identical native MinHash signatures and SimHash values —
    // the dup-pair list is cross-checked via md5, the signature equality
    // is the engine-proved law
    QuerySpec("native_hash_law", (s, dir) => {
      import mallispark.expressions.{MinHashFromText, SimHashFromText}
      // the self-join on md5(text) keeps ONLY duplicate-text pairs — so
      // compute the expensive 64-seed MinHash/SimHash kernels ONLY for
      // docs whose text hash recurs (guide §3.2: reduce the side before
      // the expensive work), not for every doc on both join sides.
      // NO forced broadcast of the dup-hash set: its size is bounded
      // only by corpus content (boilerplate-heavy crawls), and the
      // repo rule is that adversarial corpora degrade, never kill, the
      // job — the set comes out of an aggregation, so AQE sees its REAL
      // size at runtime and converts the join to broadcast exactly when
      // it is small (the gate-scale case).
      val basep = pages(s, dir).where(F.octet_length(F.col("text")) > 0)
        .select(F.col("doc_id"), F.col("text"), F.md5(F.col("text")).as("th"))
      val dups = basep.groupBy("th").agg(F.count(F.lit(1)).as("c"))
        .where(F.col("c") > 1).select("th")
      val p = basep.join(dups, "th")
        .select(F.col("doc_id"), F.col("th"),
          MinHashFromText(F.col("text"), 3, 64).as("mh"),
          SimHashFromText(F.col("text")).as("sh"))
        .localCheckpoint(true)
      val a = p.select(F.col("doc_id").as("id_a"), F.col("th"),
        F.col("mh").as("mh_a"), F.col("sh").as("sh_a"))
      val b = p.select(F.col("doc_id").as("id_b"), F.col("th"),
        F.col("mh").as("mh_b"), F.col("sh").as("sh_b"))
      a.join(b, "th").where(F.col("id_a") < F.col("id_b"))
        .select(F.col("id_a"), F.col("id_b"),
          (F.col("mh_a") === F.col("mh_b")).as("minhash_equal"),
          (F.col("sh_a") === F.col("sh_b")).as("simhash_equal"))
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""$P,
         |g AS (SELECT md5(text) AS th, doc_id FROM pages
         |      WHERE length(text) > 0)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  TRUE AS minhash_equal, TRUE AS simhash_equal
         |FROM g a JOIN g b ON a.th = b.th AND a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin)),

    // HLL-mode inference must reach the SAME schema decisions as the
    // exact mode on this data (the n^0.7 map-of rule and :enum gating
    // consume the distinct counts); exact mode is separately oracled
    QuerySpec("infer_approx_law", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select("doc_id", "lang", "text",
        "n_chars")
      val ex = mallispark.infer.Infer.infer(d,
        mallispark.infer.Infer.Options(exact = true))
      val ap = mallispark.infer.Infer.infer(d,
        mallispark.infer.Infer.Options(exact = false))
      val exm = ex.entries.map(e =>
        e.key -> (inferTag(e.child), e.optional, enumCsv(e.child))).toMap
      ap.entries.map { e =>
        (e.key,
          exm.get(e.key).contains(
            (inferTag(e.child), e.optional, enumCsv(e.child))))
      }.toDF("col", "agree").orderBy("col")
    }, oracle = Some(
      """SELECT col, TRUE AS agree FROM (VALUES ('doc_id'), ('lang'),
        |  ('text'), ('n_chars')) t(col) ORDER BY col""".stripMargin)),

    // ---- schema inference (malli.provider) — exact-aggregate path; the
    // derived table exercises every heuristic (:uuid narrowing, :enum,
    // [:maybe _], :tuple-vs-:vector, :map-vs-:map-of n^0.7 rule) and the
    // DuckDB oracle COMPUTES the same decisions from the same data ----
    QuerySpec("infer_schema", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents")
      val h = F.md5(F.col("doc_id").cast(StringType))
      val src = d.select(
        F.col("doc_id"), F.col("lang"), F.col("text"),
        F.concat_ws("-", F.substring(h, 1, 8), F.substring(h, 9, 4),
          F.substring(h, 13, 4), F.substring(h, 17, 4),
          F.substring(h, 21, 12)).as("uid"),
        F.when(F.col("doc_id") % 7 === 0, F.lit(null).cast(DoubleType))
          .otherwise(F.col("n_chars") / 100.0).as("score"),
        F.array(F.col("n_chars"),
          F.length(F.col("text")).cast(LongType)).as("pair"),
        F.split(F.col("text"), " ").as("toks"),
        F.map(F.lit("len"), F.col("n_chars"),
          F.lit("band"), F.pmod(F.col("doc_id"), F.lit(5L))).as("meta_fixed"),
        F.map(F.concat(F.lit("k"), F.col("doc_id").cast(StringType)),
          F.col("n_chars")).as("meta_wide"))
      // exact mode is multi-pass (map-key explodes, enum collects) —
      // persist the derived table so each pass reuses it instead of
      // re-deriving split/md5 columns from the scan (infer materializes
      // everything before returning, so unpersist is safe right after)
      val cached = src.persist()
      try {
        val sch = mallispark.infer.Infer.infer(cached,
          mallispark.infer.Infer.Options(exact = true))
        sch.entries.map(e =>
            (e.key, inferTag(e.child), e.optional, enumCsv(e.child)))
          .toDF("col", "inferred", "optional", "enum_vals").orderBy("col")
      } finally cached.unpersist(blocking = false)
    }, oracle = Some(
      // mirrors Infer.infer(exact=true) heuristic-for-heuristic: uuid
      // narrowing (all values uuid-shaped), :enum (dist<=16 AND
      // dist/cnt<=0.1), [:maybe _] on observed nulls, :tuple on constant
      // array length in [1,16], :map-of on distinct-keys > n^0.7
      // (provider.cljc:58-59) — every decision COMPUTED from the data
      s"""WITH d AS (SELECT doc_id, lang, text, n_chars,
         |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |src AS (SELECT doc_id, lang, text, n_chars,
         |    substring(h,1,8) || '-' || substring(h,9,4) || '-' ||
         |      substring(h,13,4) || '-' || substring(h,17,4) || '-' ||
         |      substring(h,21,12) AS uid,
         |    CASE WHEN doc_id % 7 = 0 THEN NULL
         |         ELSE n_chars / 100.0 END AS score,
         |    [n_chars, length(text)] AS pair,
         |    string_split(text, ' ') AS toks
         |  FROM d),
         |tot AS (SELECT count(*) AS n FROM src),
         |strs AS (
         |  SELECT s.col, s.cnt, s.dist, s.uuidc,
         |    CASE WHEN s.cnt > 0 AND s.uuidc = s.cnt THEN ':uuid'
         |         WHEN s.dist <= 16
         |              AND s.dist * 1.0 / greatest(s.cnt, 1) <= 0.1
         |           THEN ':enum' ELSE ':string' END AS base
         |  FROM (
         |    SELECT 'lang' AS col, count(lang) AS cnt,
         |      count(DISTINCT lang) AS dist,
         |      count(CASE WHEN regexp_matches(lang, '${mallispark.infer.Infer.UuidRe}')
         |            THEN 1 END) AS uuidc FROM src
         |    UNION ALL
         |    SELECT 'text', count(text), count(DISTINCT text),
         |      count(CASE WHEN regexp_matches(text, '${mallispark.infer.Infer.UuidRe}')
         |            THEN 1 END) FROM src
         |    UNION ALL
         |    SELECT 'uid', count(uid), count(DISTINCT uid),
         |      count(CASE WHEN regexp_matches(uid, '${mallispark.infer.Infer.UuidRe}')
         |            THEN 1 END) FROM src) s),
         |arrs AS (
         |  SELECT a.col, a.cnt,
         |    CASE WHEN a.cnt > 0 AND a.mn = a.mx AND a.mn BETWEEN 1 AND 16
         |         THEN '[:tuple ' || trim(repeat(a.elem || ' ', CAST(a.mn AS INT))) || ']'
         |         ELSE '[:vector ' || a.elem || ']' END AS base
         |  FROM (
         |    SELECT 'pair' AS col, count(pair) AS cnt, min(len(pair)) AS mn,
         |      max(len(pair)) AS mx, ':int' AS elem FROM src
         |    UNION ALL
         |    SELECT 'toks', count(toks), min(len(toks)), max(len(toks)),
         |      ':string' FROM src) a),
         |maps AS (
         |  SELECT m.col, m.cnt,
         |    CASE WHEN m.dk > pow(m.nocc, 0.7)
         |         THEN '[:map-of :string :int]' ELSE ':map' END AS base
         |  FROM (
         |    SELECT 'meta_fixed' AS col, (SELECT n FROM tot) AS cnt,
         |      count(*) AS nocc, count(DISTINCT k) AS dk
         |      FROM (SELECT unnest(['len','band']) AS k FROM src) q
         |    UNION ALL
         |    SELECT 'meta_wide', (SELECT n FROM tot), count(*),
         |      count(DISTINCT k)
         |      FROM (SELECT 'k' || CAST(doc_id AS VARCHAR) AS k FROM src) q
         |  ) m),
         |langvals AS (SELECT string_agg(l, ',' ORDER BY l) AS vs
         |  FROM (SELECT DISTINCT lang AS l FROM src WHERE lang IS NOT NULL) q),
         |decided AS (
         |  SELECT 'doc_id' AS col, count(doc_id) AS cnt, ':int' AS base,
         |    '' AS enum_vals FROM src
         |  UNION ALL
         |  SELECT 'score', count(score), ':double', '' FROM src
         |  UNION ALL
         |  SELECT col, cnt, base,
         |    CASE WHEN base = ':enum' AND col = 'lang'
         |         THEN (SELECT vs FROM langvals) ELSE '' END FROM strs
         |  UNION ALL
         |  SELECT col, cnt, base, '' FROM arrs
         |  UNION ALL
         |  SELECT col, cnt, base, '' FROM maps)
         |SELECT col,
         |  CASE WHEN cnt < (SELECT n FROM tot)
         |       THEN '[:maybe ' || base || ']' ELSE base END AS inferred,
         |  cnt < (SELECT n FROM tot) AS optional, enum_vals
         |FROM decided ORDER BY col""".stripMargin)),

    // ONE-PASS approx inference (law gate: infer_approx_law)
    QuerySpec("infer_schema_approx", (s, dir) => {
      import s.implicits._
      val d = t(s, dir, "documents").select("doc_id", "lang", "text",
        "n_chars")
      val sch = mallispark.infer.Infer.infer(d,
        mallispark.infer.Infer.Options(exact = false))
      sch.entries.map(e =>
          (e.key, inferTag(e.child), e.optional, enumCsv(e.child)))
        .toDF("col", "inferred", "optional", "enum_vals").orderBy("col")
    }, oracle = None),

    // ---- programmatic schema algebra, oracle-gated: merge (right-
    //      biased lang narrowing) → selectKeys → optionalKeys(text) →
    //      closedSchema, then validate pages through the COMPOSED
    //      schema; nulls injected into text prove the optionality
    //      actually took effect (mu/merge, mu/select-keys,
    //      mu/optional-keys, mu/closed-schema — util.cljc) ----
    QuerySpec("schema_ops_verdicts", (s, dir) => {
      import mallispark.ir.SchemaOps
      val narrowed = SchemaOps.merge(WebPages.schema,
        S.mapE(false, S.req("lang", S.enum_("en", "de", "fr"))))
      val composed = SchemaOps.closedSchema(SchemaOps.optionalKeys(
        SchemaOps.selectKeys(narrowed.asInstanceOf[SchemaIR.SMap],
          Set("url", "text", "lang")),
        Some(Set("text"))))
      val p = pages(s, dir).select(F.col("doc_id"), F.col("url"),
        F.when(F.col("doc_id") % 53 === 9, F.lit(null).cast(StringType))
          .otherwise(F.col("text")).as("text"),
        F.col("lang"))
      SchemaCompiler.validateDF(composed, p, "ok", exclude = Set("doc_id"))
        .select("doc_id", "ok").orderBy("doc_id")
    }, oracle = Some(
      // effective schema after the composition: url (re) required, lang
      // narrowed to en/de/fr required, text string{min 1} OPTIONAL (null
      // accepted), closed over the three physical columns
      s"""$P
         |SELECT doc_id,
         |  regexp_matches(url, '^https?://[^\\s]+$$')
         |  AND lang IN ('en','de','fr')
         |  AND (doc_id % 53 = 9 OR length(text) >= 1) AS ok
         |FROM pages ORDER BY doc_id""".stripMargin)),

    // ---- union / renameKeys / dissoc composition: colliding `lang`
    //      entries become :or (mu/union), `text` is renamed to `body`,
    //      `url` is dissoc'd (rows validate without it — a stale
    //      required entry would fail every row as missing-key);
    //      injected empty bodies prove the kept :string{min 1} bites.
    //      `lang` is REQUIRED in a but OPTIONAL in b — union's
    //      merge-required is (and r1 r2) (util.cljc:110), so the unioned
    //      entry must be optional: injected null langs must PASS ----
    QuerySpec("schema_ops_union", (s, dir) => {
      import mallispark.ir.SchemaOps
      import mallispark.ir.SchemaIR.SMap
      val a = S.mapE(false,
        S.req("url", S.re("^https?://[^\\s]+$")),
        S.req("lang", S.enum_("en", "de")),
        S.req("text", S.string(1)))
      val b = S.mapE(false, S.opt("lang", S.enum_("fr", "es")))
      val composed = SchemaOps.dissoc(
        SchemaOps.renameKeys(
          SchemaOps.union(a, b).asInstanceOf[SMap],
          Map("text" -> "body")),
        "url")
      val p = pages(s, dir).select(F.col("doc_id"),
        F.when(F.col("doc_id") % 37 === 3, F.lit(null).cast(StringType))
          .otherwise(F.col("lang")).as("lang"),
        F.when(F.col("doc_id") % 41 === 5, F.lit(""))
          .otherwise(F.col("text")).as("body"))
      SchemaCompiler.validateDF(composed, p, "ok", exclude = Set("doc_id"))
        .select("doc_id", "ok").orderBy("doc_id")
    }, oracle = Some(
      // body = '' when doc_id%41=5 (this gate's injection) OR when the
      // pages CTE itself injected an empty text — both must fail :string{min 1}
      s"""$P
         |SELECT doc_id,
         |  (doc_id % 37 = 3 OR lang IN ('en','de') OR lang IN ('fr','es'))
         |  AND doc_id % 41 <> 5 AND length(text) >= 1 AS ok
         |FROM pages ORDER BY doc_id""".stripMargin)),

    // ---- golden serialization gate: the flagship schema's vector form,
    //      AST JSON, and JSON-Schema, plus a scoped recursive schema's
    //      form — pinned as oracle literals so any drift in the
    //      serialization surface fails the oracle gate ----
    QuerySpec("export_forms", (s, dir) => {
      import s.implicits._
      import mallispark.ir.Export
      val scoped = S.scoped("node" -> S.mapE(false,
          S.req("v", S.intMin(0L)),
          S.opt("kids", S.vector(S.ref("node")))))(S.ref("node"))
      // EDN-form round-trip: parse the flagship's own vector-syntax form
      // back through fromForm and re-serialize — must be a fixpoint
      val ednBack = Export.fromForm(SchemaIR.form(WebPages.schema))
      // StructType DDL dual of the compiled schema
      val ddl = SchemaCompiler.toStructType(
        WebPages.schema.asInstanceOf[SchemaIR.SMap]).toDDL
      // registry modes resolve to the same schemas a compile would see
      val mut = new SchemaIR.MutableRegistry()
      mut.register("page", S.mapE(false, S.req("x", S.int)))
      val lz = new SchemaIR.LazyRegistry(
        n => if (n == "leaf") Some(S.intMin(0L)) else None)
      // lite DSL + visual emitters + swagger: rendered here, pinned as
      // oracle literals (multi-line emitter output travels with \n
      // rewritten to the 2-char "\\n" so the golden stays one line)
      val liteForm = SchemaIR.form(mallispark.ir.Lite.obj(
        "id" -> ":int", "tag" -> mallispark.ir.Lite.optional(":string"),
        "langs" -> mallispark.ir.Lite.vector(":string")))
      val pageScoped = S.scoped(
        "Page" -> S.mapE(false,
          S.req("url", S.string),
          S.req("meta", S.mapE(false,
            S.req("lang", S.enum_("en", "de"))))))(S.ref("Page"))
      Seq(
        ("flagship_form", SchemaIR.form(WebPages.schema)),
        ("flagship_ast", Export.toJson(WebPages.schema)),
        ("flagship_jsonschema", Export.toJsonSchema(WebPages.schema)),
        ("flagship_swagger", Export.toSwagger(WebPages.schema)),
        ("scoped_form", SchemaIR.form(scoped)),
        // registry refs render as #/definitions pointers with the defs
        // collected at the document root (json_schema.cljc:17-37)
        ("scoped_jsonschema", Export.toJsonSchema(scoped)),
        ("scoped_swagger", Export.toSwagger(scoped)),
        // swagger-spec: body keeps its $ref (definitions hoist to root),
        // query/header flatten one parameter per map entry
        ("swagger_spec", Export.swaggerSpec(
          parameters = Seq(
            "body" -> S.scoped("req-body" -> S.mapOf(S.keyword, S.any))(
              S.ref("req-body")),
            "query" -> S.mapE(false, S.req("a", S.int),
              S.req("b", S.string(min = 10))),
            "header" -> S.mapE(false, S.req("c", S.string))),
          responses = Seq(
            (200, Some(S.mapE(false, S.req("bar", S.keyword))), None),
            (500, None, Some("fail"))))),
        // value-universe decode/encode (tier-3 dual of Transform):
        // seqex gate, keep-original-on-failure, heterogeneous :or
        ("value_decode_cat", {
          import mallispark.eval.ValueTransform
          import mallispark.compile.Transform.StringMode
          // seq-impl-agnostic rendering (varargs Seqs print ArraySeq)
          def show(v: Any): String = v match {
            case xs: Seq[_] => xs.map(show).mkString("[", " ", "]")
            case other => String.valueOf(other)
          }
          Seq(
            ValueTransform.decode(S.cat(S.int, S.keyword),
              Seq("1", "kikka"), StringMode),
            ValueTransform.decode(S.int, "abc", StringMode),
            ValueTransform.decode(S.or(S.posInt, S.keyword), "-1",
              StringMode),
            ValueTransform.encode(S.repeat(S.int, 2, 4), Seq(1L)),
            ValueTransform.encode(S.repeat(S.int, 2, 4), Seq(1L, 2L)))
            .map(show).mkString("|")
        }),
        ("edn_roundtrip", SchemaIR.form(ednBack)),
        ("struct_ddl", ddl),
        ("registry_mutable_form", SchemaIR.form(mut.snapshot("page"))),
        ("registry_lazy_form", SchemaIR.form(lz.force("leaf")("leaf"))),
        ("lite_form", liteForm),
        ("dot_page", mallispark.ir.Dot.transform(pageScoped)
          .replace("\n", "\\n")),
        ("plantuml_page", mallispark.ir.Dot.plantuml(pageScoped)
          .replace("\n", "\\n")),
        // m/walk postwalk fold + mu/subschemas path enumeration
        ("walk_fold", {
          val n = SchemaIR.fold(WebPages.schema, 0)((acc, _) => acc + 1)
          val paths = mallispark.ir.SchemaOps.subschemas(WebPages.schema)
            .map(_._1.mkString("/")).mkString(",")
          s"nodes=$n;paths=$paths"
        }),
        // mu/get-in lens: top-level entry, nested path, missing path
        ("lens_get_in", {
          val nested = S.mapE(false,
            S.req("a", S.mapE(false, S.req("b", S.int))))
          SchemaIR.form(SchemaIR.getIn(WebPages.schema, Seq("lang")).get) +
            "|" + SchemaIR.form(SchemaIR.getIn(nested, Seq("a", "b")).get) +
            "|" + SchemaIR.getIn(WebPages.schema, Seq("nope")).isEmpty
        }),
        ("flagship_describe",
          mallispark.ir.Describe.describe(WebPages.schema)),
        // clj-kondo linter config (clj_kondo.cljc accept/linter-config):
        // flagship type map + a two-fn namespace exercising the
        // fixed-arity and varargs/:min-arity paths
        ("kondo_flagship", mallispark.ir.CljKondo.edn(
          mallispark.ir.CljKondo.transform(WebPages.schema))),
        ("kondo_config", mallispark.ir.CljKondo.linterConfig(Seq(
          mallispark.ir.CljKondo.FnDef("graft.pages", "valid-page?",
            Seq(WebPages.schema), S.boolean),
          mallispark.ir.CljKondo.FnDef("graft.pages", "merge-texts",
            Seq(S.string), S.string, rest = Some(S.string))))),
        // malli.dev.pretty — the rendered Validation Error report for a
        // fixed invalid value (plain colors; \n escaped for the one-line
        // golden like dot_page)
        ("pretty_page", mallispark.dev.Pretty.explain(
          S.mapE(false,
            S.req("url", S.string),
            S.req("count", S.intMin(0L)),
            S.opt("lang", S.enum_("en", "de"))),
          Map("url" -> 42L, "count" -> 3L, "lang" -> "xx"))
          .get.replace("\n", "\\n")),
        // malli.generator-ast — the recursive formula fixture's generator
        // as data (generator_ast_test.clj:6-43; rec-gen/scalar-gen fold)
        ("generator_ast_formula", mallispark.gen.GeneratorAst.generatorAst(
          S.scoped("formula" -> S.or(
            S.boolean,
            S.tuple(S.enum_(":not"), S.boolean),
            S.tuple(S.enum_(":and"), S.star(S.ref("formula"))),
            S.tuple(S.enum_(":or"), S.star(S.ref("formula")))))(
            S.ref("formula")))),
        // mu/explain-data (util.cljc:209-238): serializable explain —
        // schema objects replaced by their forms; ::m type keys only on
        // the special errors (util_test.cljc:1031-1069 fixtures)
        ("explain_data", {
          import mallispark.eval.RowEval
          val sch = Export.fromForm("[:map [:a [:vector [:maybe :string]]]]")
          def show(r: Option[RowEval.DataExplain]): String = r match {
            case None => "nil"
            case Some(d) => d.errors.map(e =>
              s"path=${e.path.mkString("/")};in=${e.in.mkString("/")}" +
                s";schema=${e.schema};value=${String.valueOf(e.value)}" +
                e.errType.map(";type=" + _).getOrElse("")).mkString("|")
          }
          Seq(
            RowEval.explainData(sch, Map("a" -> Seq("kikka"))),
            RowEval.explainData(sch, Map("a" -> 1L)),
            RowEval.explainData(sch, Map("a" -> Seq(true))),
            RowEval.explainData(sch, Map.empty[String, Any]))
            .map(show).mkString(" ~ ")
        }),
        // :-> sugar + m/-function-info view (core.cljc:2382-2391,
        // 2211-2218): arrow == :=> under fn-schema-info; varargs arity
        ("fn_arrow_info", {
          import mallispark.gen.FnSchemas
          def show(i: FnSchemas.FnInfo): String =
            s"{:min ${i.min}, :max ${i.max.map(_.toString).getOrElse("nil")}" +
              s", :arity ${i.arity}, :input ${i.input}" +
              s", :output ${i.output}, :guard ${i.guard.getOrElse("nil")}}"
          val arrow = FnSchemas.functionInfo(
            FnSchemas.arrow(Seq(S.int, S.int, S.int)))
          val direct = FnSchemas.functionInfo(
            FnSchemas.FnSchema(Seq(S.int, S.int), S.int))
          val varargs = FnSchemas.functionInfo(
            FnSchemas.FnSchema(Seq(S.int), S.int, rest = Some(S.string)))
          s"eq=${arrow == direct}|${show(arrow)}|${show(varargs)}"
        }),
        // malli.destructure — arglist → schema extraction (vanilla,
        // schematized+options, and the multi-arity function wrapper)
        ("destructure_vararg", mallispark.ir.Destructure.parse(
          "[url :- :string, opts [k vs & more] & pages]").schemaForm),
        ("destructure_map", mallispark.ir.Destructure.parse(
          "[{:keys [url lang] :or {lang \"en\"} :as page}]",
          mallispark.ir.Destructure.Options(requiredKeys = true)).schemaForm),
        ("destructure_fn", mallispark.ir.Destructure.Edn.print(
          mallispark.ir.Destructure.functionSchema(Seq(
            "[page :- :string]",
            "[page :- :string & rest :- [:* :int]]")))))
        .toDF("name", "text").orderBy("name")
    }, oracle = Some {
      // golden serialization literals — HARD-CODED (not computed from the
      // same code, which would be tautological): drift in form/AST/
      // JSON-Schema emission fails this gate
      val flagshipForm =
        """[:map {:closed true} [:doc_id {:optional true} :int] [:url [:re "^https?://[^\\s]+$"]] [:warc_ts [:time/instant {:min "2025-01-01T00:00:00Z" :max "2026-05-01T00:00:00Z"}]] [:html :bytes] [:text [:string {:min 1}]] [:lang [:enum "en" "de" "fr" "es" "zh"]]]"""
      val flagshipAst =
        """{"type": "map", "closed": true, "entries": [{"key": "doc_id", "optional": true, "schema": {"type": "int"}}, {"key": "url", "optional": false, "schema": {"type": "re", "pattern": "^https?://[^\\s]+$"}}, {"key": "warc_ts", "optional": false, "schema": {"type": "instant", "min": "2025-01-01T00:00:00Z", "max": "2026-05-01T00:00:00Z"}}, {"key": "html", "optional": false, "schema": {"type": "bytes"}}, {"key": "text", "optional": false, "schema": {"type": "string", "min": 1}}, {"key": "lang", "optional": false, "schema": {"type": "enum", "values": [{"t": "string", "v": "en"}, {"t": "string", "v": "de"}, {"t": "string", "v": "fr"}, {"t": "string", "v": "es"}, {"t": "string", "v": "zh"}]}}]}"""
      val flagshipJs =
        """{"type": "object", "properties": {"doc_id": {"type": "integer"}, "url": {"type": "string", "pattern": "^https?://[^\\s]+$"}, "warc_ts": {"type": "string", "format": "date-time"}, "html": {"type": "string", "contentEncoding": "base64"}, "text": {"type": "string", "minLength": 1}, "lang": {"type": "string", "enum": ["en", "de", "fr", "es", "zh"]}}, "required": ["url", "warc_ts", "html", "text", "lang"], "additionalProperties": false}"""
      val scopedForm =
        """[:schema {:registry {:node [:map [:v [:int {:min 0}]] [:kids {:optional true} [:vector [:ref node]]]]}} [:ref node]]"""
      val scopedJs =
        """{"$ref": "#/definitions/node", "definitions": {"node": {"type": "object", "properties": {"v": {"type": "integer", "minimum": 0}, "kids": {"type": "array", "items": {"$ref": "#/definitions/node"}}}, "required": ["v"]}}}"""
      val scopedSwagger =
        """{"$ref": "#/definitions/node", "definitions": {"node": {"type": "object", "properties": {"v": {"type": "integer", "format": "int64", "minimum": 0}, "kids": {"type": "array", "items": {"$ref": "#/definitions/node"}}}, "required": ["v"]}}}"""
      val swaggerSpec =
        """{"parameters": [{"in": "body", "name": "body", "description": "", "required": true, "schema": {"$ref": "#/definitions/req-body"}}, """ +
          """{"in": "query", "name": "a", "description": "", "required": true, "type": "integer", "format": "int64"}, """ +
          """{"in": "query", "name": "b", "description": "", "required": true, "type": "string", "minLength": 10}, """ +
          """{"in": "header", "name": "c", "description": "", "required": true, "type": "string"}], """ +
          """"responses": {"200": {"description": "", "schema": {"type": "object", "properties": {"bar": {"type": "string"}}, "required": ["bar"]}}, "500": {"description": "fail"}}, """ +
          """"definitions": {"req-body": {"type": "object", "additionalProperties": {}}}}"""
      val structDdl =
        "doc_id BIGINT,url STRING NOT NULL,warc_ts TIMESTAMP NOT NULL," +
          "html BINARY NOT NULL,text STRING NOT NULL,lang STRING NOT NULL"
      val flagshipSwagger =
        """{"type": "object", "properties": {"doc_id": {"type": "integer", "format": "int64"}, "url": {"type": "string", "pattern": "^https?://[^\\s]+$"}, "warc_ts": {"type": "string", "format": "date-time"}, "html": {"type": "string", "contentEncoding": "base64"}, "text": {"type": "string", "minLength": 1}, "lang": {"type": "string", "enum": ["en", "de", "fr", "es", "zh"]}}, "required": ["url", "warc_ts", "html", "text", "lang"], "additionalProperties": false}"""
      val liteForm =
        """[:map [:id :int] [:tag {:optional true} :string] [:langs [:vector :string]]]"""
      val dotPage =
        """digraph {\n  node [shape="record", style="filled", color="#000000"]\n  edge [dir="back", arrowtail="none"]\n  \n  "Page" [label="{Page|:url :string\l:meta Page$Meta\l}", fillcolor="#fff0cd"]\n  "Page$Meta" [label="{Page$Meta|:lang [:enum \"en\" \"de\"]\l}", fillcolor="#e6caab"]\n  \n  "Page" -> "Page$Meta" [arrowtail="diamond"]\n}\n"""
      val umlPage =
        """@startuml\nentity Page {\n :url :string\n :meta Page$Meta\n}\nabstract Page$Meta {\n :lang [:enum "en" "de"]\n}\nPage *-- Page$Meta\n@enduml\n"""
      val kondoFlagship =
        """{:op :keys, :opt {:doc_id :int}, :req {:url :string, :warc_ts :any, :html :char-sequence, :text :string, :lang :string}}"""
      val kondoConfig =
        """{:linters {:unresolved-symbol {:exclude [(malli.core/=>)]}, :type-mismatch {:namespaces {graft.pages {valid-page? {:arities {1 {:args [""" +
          kondoFlagship +
          """], :ret :boolean}}}, merge-texts {:arities {:varargs {:args [:string {:op :rest, :spec :string}], :ret :string, :min-arity 1}}}}}}}}"""
      // malli.destructure extraction goldens (reference
      // destructure.cljc:59-119 fold semantics over the fixture bindings)
      val destructVararg =
        "[:cat :string :any [:maybe [:cat [:? :any] [:? :any] [:* :any]]] [:* :any]]"
      val destructMap =
        "[:cat [:orn [:map [:map [:url :any] [:lang :any]]]" +
          " [:args [:schema [:* [:alt [:cat [:= :url] :any]" +
          " [:cat [:= :lang] :any]" +
          " [:cat [:not [:enum :url :lang]] :any]]]]]]]"
      val destructFn =
        "[:function [:=> [:cat :string] :any] [:=> [:cat :string [:* :int]] :any]]"
      val prettyPage =
        """-- Validation Error ----------------------------------------\n\n""" +
          """Value\n\n  {:count ..., :lang "xx", :url 42}\n\n""" +
          """Errors\n\n  {:lang ["should be one of the allowed values"],\n""" +
          """   :url ["should be a string"]}\n\n""" +
          """Schema\n\n  [:map\n   [:url :string]\n   [:count [:int {:min 0}]]\n""" +
          """   [:lang {:optional true} [:enum "en" "de"]]]\n\n""" +
          """More information\n\n  https://cljdoc.org/d/metosin/malli/CURRENT\n\n""" +
          ("-" * 60)
      val genAstRecur = "{:op :recur, :target :recur0}"
      val genAstFormula =
        "{:op :recursive-gen, :target :recur0, :max-depth 3, " +
          ":rec-gen {:op :one-of, :generators [" +
          "{:op :boolean} " +
          "{:op :tuple, :generators [{:op :return, :value :not} {:op :boolean}]} " +
          "{:op :tuple, :generators [{:op :return, :value :and} " +
          s"{:op :vector, :generator $genAstRecur, :max-elements 8}]} " +
          "{:op :tuple, :generators [{:op :return, :value :or} " +
          s"{:op :vector, :generator $genAstRecur, :max-elements 8}]}]}, " +
          ":scalar-gen {:op :one-of, :generators [" +
          "{:op :boolean} " +
          "{:op :tuple, :generators [{:op :return, :value :not} {:op :boolean}]}]}}"
      def lit(x: String) = "'" + x.replace("'", "''") + "'"
      val explainData =
        "nil ~ path=a;in=a;schema=[:vector [:maybe :string]];value=1" +
          ";type=:malli.core/invalid-type" +
          " ~ path=a/0/0;in=a/0;schema=:string;value=true" +
          " ~ path=a;in=a;schema=[:map [:a [:vector [:maybe :string]]]]" +
          ";value=null;type=:malli.core/missing-key"
      val fnArrowInfo =
        "eq=true|{:min 2, :max 2, :arity 2, :input [:cat :int :int], " +
          ":output :int, :guard nil}|{:min 1, :max nil, :arity :varargs, " +
          ":input [:cat :int [:* :string]], :output :int, :guard nil}"
      Seq("flagship_ast" -> flagshipAst, "flagship_form" -> flagshipForm,
        "explain_data" -> explainData,
        "fn_arrow_info" -> fnArrowInfo,
        "generator_ast_formula" -> genAstFormula,
        "kondo_flagship" -> kondoFlagship,
        "kondo_config" -> kondoConfig,
        "destructure_vararg" -> destructVararg,
        "destructure_map" -> destructMap,
        "destructure_fn" -> destructFn,
        "pretty_page" -> prettyPage,
        "flagship_jsonschema" -> flagshipJs,
        "flagship_swagger" -> flagshipSwagger,
        "lite_form" -> liteForm,
        "dot_page" -> dotPage,
        "plantuml_page" -> umlPage,
        // flagship = closed map of 6 leaf entries → 7 nodes; subschema
        // paths = root + one per entry, in declaration order
        "walk_fold" ->
          "nodes=7;paths=,doc_id,url,warc_ts,html,text,lang",
        "lens_get_in" ->
          """[:enum "en" "de" "fr" "es" "zh"]|:int|true""",
        "scoped_form" -> scopedForm,
        "value_decode_cat" -> "[1 :kikka]|abc|:-1|[1]|[1 2]",
        "scoped_jsonschema" -> scopedJs,
        "scoped_swagger" -> scopedSwagger,
        "swagger_spec" -> swaggerSpec,
        // fromForm∘form fixpoint: the round-trip must land back on the
        // flagship's own golden form literal
        "edn_roundtrip" -> flagshipForm,
        "struct_ddl" -> structDdl,
        "registry_mutable_form" -> "[:map [:x :int]]",
        "registry_lazy_form" -> "[:int {:min 0}]",
        // malli.experimental/describe wording of the flagship schema
        "flagship_describe" -> ("map where {:doc_id (optional) -> " +
          "<integer>, :url -> <regex pattern matching " +
          "\"^https?://[^\\s]+$\">, :warc_ts -> <inst (aka date time)>, " +
          ":html -> <bytes>, :text -> <string with length >= 1>, " +
          ":lang -> <enum of en, de, fr, es, zh>} with no other keys"))
        .map { case (n, v) => s"SELECT '$n' AS name, ${lit(v)} AS text" }
        .mkString("", "\nUNION ALL\n", "\nORDER BY name")
    })
  )
}
