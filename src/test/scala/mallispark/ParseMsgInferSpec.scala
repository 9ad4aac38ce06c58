package mallispark

import org.apache.spark.sql.Row
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.S
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._
import mallispark.compile.{Parse, SchemaCompiler}
import mallispark.msg.Messages
import mallispark.infer.Infer
import mallispark.eval.RowEval

class ParseMsgInferSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)

  // F2: parse [:orn [:pos pos-int?] [:neg neg-int?]] — core_test.cljc:257-261
  test("parse orn: Tag(pos,1); invalid -> null (::m/invalid)") {
    val s = S.orn("pos" -> S.posInt, "neg" -> S.negInt)
    val d = df(Seq(Row(1L), Row(-3L), Row(0L)),
      StructType(Seq(StructField("v", LongType))))
    val out = d.select(Parse.parse(s, F.col("v"), LongType).as("p"))
      .select(F.col("p.tag"), F.col("p.value")).collect()
    assert(out(0).getString(0) === "pos" && out(0).getLong(1) === 1L)
    assert(out(1).getString(0) === "neg" && out(1).getLong(1) === -3L)
    assert(out(2).isNullAt(0))
    // round-trip: unparse(parse(x)) == x for valid values
    val rt = d.where(F.col("v") =!= 0)
      .select(F.col("v"), Parse.unparse(s,
        Parse.parse(s, F.col("v"), LongType), LongType).as("u"))
      .collect()
    assert(rt.forall(r => r.getLong(0) === r.getLong(1)))
  }

  test("parse catn: named struct from positions; unparse restores array") {
    val s = S.catn("prop" -> S.string, "val" -> S.string)
    val d = df(Seq(Row(Seq("-p", "x")), Row(Seq("only-one"))),
      StructType(Seq(StructField("v", ArrayType(StringType)))))
    val out = d.select(Parse.parse(s, F.col("v"), ArrayType(StringType)).as("p"))
      .select(F.col("p.prop"), F.col("p.val")).collect()
    assert(out(0).getString(0) === "-p" && out(0).getString(1) === "x")
    assert(out(1).isNullAt(0)) // wrong arity -> invalid
    val rt = d.limit(1).select(Parse.unparse(s,
      Parse.parse(s, F.col("v"), ArrayType(StringType)),
      ArrayType(StringType)).as("u")).collect()(0).getSeq[String](0)
    assert(rt === Seq("-p", "x"))
  }

  test("parse multi: dispatch tag") {
    val s = S.multi("kind")(
      "a" -> S.mapE(false, S.req("kind", S.string)),
      "b" -> S.mapE(false, S.req("kind", S.string)))
    val dt = StructType(Seq(StructField("kind", StringType)))
    val d = df(Seq(Row(Row("a")), Row(Row("zz"))),
      StructType(Seq(StructField("v", dt))))
    val out = d.select(Parse.parse(s, F.col("v"), dt).as("p"))
      .select(F.col("p.tag")).collect()
    assert(out(0).getString(0) === "a")
    assert(out(1).isNullAt(0))
  }

  // parser_test.cljc:132-180 (and-complex-parser-test) + 107-130
  // (parser-info-test): :and parses THROUGH its single transforming child
  test(":and parses through its single transforming child") {
    val d = df(Seq(Row(1L)), StructType(Seq(StructField("v", LongType))))
    val orn = S.orn("left" -> S.int, "right" -> S.int)
    val fnNum = S.fn("number?")(v =>
      v.isInstanceOf[Long] || v.isInstanceOf[Double])
    // [:and [:orn [:left :int] [:right :int]] [:fn number?]] → Tag(:left 1),
    // in BOTH child orders (parser_test.cljc:135-136)
    for (s <- Seq(S.and(orn, fnNum), S.and(fnNum, orn))) {
      assert(!SchemaIR.simpleParser(s))
      val p = d.select(Parse.parse(s, F.col("v"), LongType).as("p"))
        .select(F.col("p.tag"), F.col("p.value")).collect()(0)
      assert(p.getString(0) === "left" && p.getLong(1) === 1L)
      val u = d.select(Parse.unparse(s,
        Parse.parse(s, F.col("v"), LongType), LongType).as("u"))
        .collect()(0)
      assert(u.getLong(0) === 1L)
    }
    // {:parse/transforming-child :none} forces the identity parser
    // (parser_test.cljc:137)
    val none = SProps(NodeProps(parseTransformingChild = Some(":none")),
      S.and(fnNum, orn))
    assert(SchemaIR.simpleParser(none))
    assert(d.select(Parse.parse(none, F.col("v"), LongType).as("p"))
      .collect()(0).getLong(0) === 1L)
    // [:and :int [:or :int :boolean]] is simple → parses to 1
    // (parser_test.cljc:138-139)
    val simpleAnd = S.and(S.int, S.or(S.int, S.boolean))
    assert(SchemaIR.simpleParser(simpleAnd))
    assert(d.select(Parse.parse(simpleAnd, F.col("v"), LongType).as("p"))
      .collect()(0).getLong(0) === 1L)
    // nesting: [:and [:and [:orn ...] :int] :int] → Tag (parser_test:142)
    val orn2 = S.orn("int" -> S.int, "boolean" -> S.boolean)
    val nested = S.and(S.and(orn2, S.int), S.int)
    val np = d.select(Parse.parse(nested, F.col("v"), LongType).as("p"))
      .select(F.col("p.tag"), F.col("p.value")).collect()(0)
    assert(np.getString(0) === "int" && np.getLong(1) === 1L)
    // deep: [:and [:orn [:l [:and [:orn ...] :int]]] :int]
    // → Tag(:l, Tag(:int, 1)) (parser_test.cljc:143-146)
    val deep = S.and(S.orn("l" -> S.and(orn2, S.int)), S.int)
    val dp = d.select(Parse.parse(deep, F.col("v"), LongType).as("p"))
      .select(F.col("p.tag"), F.col("p.value.tag"), F.col("p.value.value"))
      .collect()(0)
    assert(dp.getString(0) === "l" && dp.getString(1) === "int" &&
      dp.getLong(2) === 1L)
    // deep unparse inverts back to the raw value
    val du = d.select(Parse.unparse(deep,
      Parse.parse(deep, F.col("v"), LongType), LongType).as("u")).collect()(0)
    assert(du.getLong(0) === 1L)
    // two transforming children without the prop is the reference's
    // ::and-schema-multiple-transforming-parsers error (core.cljc:858-859)
    intercept[IllegalArgumentException](
      Parse.parse(S.and(orn, orn2), F.col("v"), LongType))
    // :parse/transforming-child index picks one (parser_test.cljc:155-168)
    val two = S.and(S.orn("l" -> S.int), S.orn("r" -> S.int))
    def pick(i: Long): String = {
      val s = SProps(NodeProps(parseTransformingChild = Some(i)), two)
      d.select(Parse.parse(s, F.col("v"), LongType).as("p"))
        .select(F.col("p.tag")).collect()(0).getString(0)
    }
    assert(pick(0L) === "l")
    assert(pick(1L) === "r")
    intercept[IllegalArgumentException](pick(7L)) // index out of range
    // parser-info facts (parser_test.cljc:107-121): :not is ALWAYS
    // simple, :multi and seq-regex are transforming, containers inherit
    assert(SchemaIR.simpleParser(S.not(orn)))
    assert(SchemaIR.simpleParser(S.not(S.andn("t" -> S.int))))
    assert(!SchemaIR.simpleParser(
      S.multi("k")("a" -> S.mapE(false, S.req("k", S.string)))))
    assert(!SchemaIR.simpleParser(S.catn("a" -> S.int)))
    assert(!SchemaIR.simpleParser(S.vector(orn)))
    assert(SchemaIR.simpleParser(S.vector(S.int)))
    assert(SchemaIR.simpleParser(S.maybe(S.int)))
    assert(!SchemaIR.simpleParser(S.maybe(orn)))
  }

  // parser_test.cljc:214-290 (cycle-detection-test): parser-info
  // terminates on recursive registries; shadowed same-name refs are NOT
  // recursion points
  test("parser-info cycle detection over recursive registries") {
    def scoped(reg: (String, SchemaIR)*)(body: SchemaIR): SchemaIR =
      SScoped(reg.toMap, body)
    // ::Value recursive JSONish tree, all simple children → simple
    val jsonish = scoped(
      "Name" -> S.or(S.string, S.string),
      "Value" -> S.or(S.int, S.string, S.boolean,
        S.vector(S.ref("Value")), S.mapOf(S.ref("Name"), S.ref("Value"))),
      "Arguments" -> S.mapOf(S.ref("Name"), S.ref("Value")))(
      S.ref("Arguments"))
    assert(SchemaIR.simpleParser(jsonish))
    // same shape but ::Name is an :orn → transforming through the cycle
    val jsonishT = scoped(
      "Name" -> S.orn("k" -> S.string, "s" -> S.string),
      "Value" -> S.or(S.int, S.vector(S.ref("Value")),
        S.mapOf(S.ref("Name"), S.ref("Value"))),
      "Arguments" -> S.mapOf(S.ref("Name"), S.ref("Value")))(
      S.ref("Arguments"))
    assert(!SchemaIR.simpleParser(jsonishT))
    // [:sequential [:orn [:a [:ref ::Value]]]] — transforming cycle
    val seqT = scoped(
      "Value" -> S.vector(S.orn("a" -> S.ref("Value"))))(S.ref("Value"))
    assert(!SchemaIR.simpleParser(seqT))
    // pure self-cycle reads simple (the reference's fixpoint choice)
    assert(SchemaIR.simpleParser(
      scoped("a" -> S.maybe(S.ref("a")))(S.ref("a"))))
    // inner ::a SHADOWS outer ::a — different resolved schema, so the
    // inner ref is not a recursion point with the outer one
    val shadowed = scoped(
      "a" -> scoped("a" -> S.orn("t" -> S.int))(S.ref("a")))(S.ref("a"))
    assert(!SchemaIR.simpleParser(shadowed))
    val shadowedSimple = scoped(
      "a" -> scoped("a" -> S.eq_(42L))(S.ref("a")))(S.ref("a"))
    assert(SchemaIR.simpleParser(shadowedSimple))
  }

  test("container parse recurses: [:vector [:orn ...]] and tuple entries") {
    // collection parsers map the child parser over elements
    // (core.cljc:1530-1541)
    val s = S.vector(S.orn("pos" -> S.posInt, "neg" -> S.negInt))
    val at = ArrayType(LongType)
    val d = df(Seq(Row(Seq(1L, -2L)), Row(Seq(0L))),
      StructType(Seq(StructField("v", at))))
    val out = d.select(Parse.parse(s, F.col("v"), at).as("p")).collect()
    val r0 = out(0).getSeq[Row](0)
    assert(r0(0).getString(0) === "pos" && r0(0).getLong(1) === 1L)
    assert(r0(1).getString(0) === "neg" && r0(1).getLong(1) === -2L)
    assert(out(1).isNullAt(0)) // 0 matches neither branch → whole invalid
    val rt = d.limit(1).select(Parse.unparse(s,
      Parse.parse(s, F.col("v"), at), at).as("u")).collect()(0)
    assert(rt.getSeq[Long](0) === Seq(1L, -2L))
    // tuple: per-position child parse (core.cljc:1640-1650)
    val tup = S.tuple(S.orn("i" -> S.int), S.string)
    val tt = StructType(Seq(StructField("_1", LongType),
      StructField("_2", StringType)))
    val td = df(Seq(Row(Row(5L, "x"))),
      StructType(Seq(StructField("v", tt))))
    val tp = td.select(Parse.parse(tup, F.col("v"), tt).as("p"))
      .select(F.col("p._1.tag"), F.col("p._1.value"), F.col("p._2"))
      .collect()(0)
    assert(tp.getString(0) === "i" && tp.getLong(1) === 5L &&
      tp.getString(2) === "x")
    val tu = td.select(Parse.unparse(tup,
      Parse.parse(tup, F.col("v"), tt), tt).as("u")).collect()(0).getStruct(0)
    assert(tu.getLong(0) === 5L && tu.getString(1) === "x")
  }

  // value-universe m/parse — the row-level tier the Column tier's
  // "heterogeneous parse types" bound points to
  test("parseValue/unparseValue: value-tier parse without the type bound") {
    import RowEval.{parseValue, unparseValue, RTag}
    // heterogeneous :orn is FINE at the value tier (the Column tier
    // throws its documented one-static-type error)
    val het = S.orn("i" -> S.int, "s" -> S.string)
    assert(parseValue(het, 1L) === Some(RTag("i", 1L)))
    assert(parseValue(het, "x") === Some(RTag("s", "x")))
    assert(parseValue(het, true) === None)
    assert(unparseValue(het, RTag("s", "x")) === Some("x"))
    assert(unparseValue(het, RTag("nope", "x")) === None)
    // :and routes through the transforming child, same as the Column tier
    val orn = S.orn("left" -> S.int, "right" -> S.int)
    val sch = S.and(orn, S.int(-3L, 3L))
    assert(parseValue(sch, 1L) === Some(RTag("left", 1L)))
    assert(parseValue(sch, 9L) === None) // sibling range rejects
    assert(unparseValue(sch, RTag("left", 1L)) === Some(1L))
    assert(unparseValue(sch, RTag("left", 9L)) === None) // sibling again
    // :multi tags the matched branch; ::m/default participates
    val multi = S.multi("kind", default = Some(S.any))(
      "a" -> S.mapE(false, S.req("kind", S.string)))
    val va = Map("kind" -> "a")
    assert(parseValue(multi, va) === Some(RTag("a", va)))
    val vz = Map("kind" -> "zz")
    assert(parseValue(multi, vz) === Some(RTag("malli.core/default", vz)))
    assert(unparseValue(multi, RTag("a", va)) === Some(va))
    // containers parse entries/elements in place
    val m = S.mapE(false, S.req("x", het), S.opt("y", S.int))
    assert(parseValue(m, Map("x" -> "s1", "y" -> 2L)) ===
      Some(Map("x" -> RTag("s", "s1"), "y" -> 2L)))
    assert(parseValue(m, Map("x" -> true)) === None)
    assert(unparseValue(m, Map("x" -> RTag("s", "s1"), "y" -> 2L)) ===
      Some(Map("x" -> "s1", "y" -> 2L)))
    assert(parseValue(S.vector(het), Seq(1L, "a")) ===
      Some(Seq(RTag("i", 1L), RTag("s", "a"))))
    assert(unparseValue(S.vector(het),
      Seq(RTag("i", 1L), RTag("s", "a"))) === Some(Seq(1L, "a")))
    // map-of may transform KEYS here (the Column tier refuses)
    val kv = S.mapOf(het, S.int)
    assert(parseValue(kv, Map("k" -> 5L)) ===
      Some(Map(RTag("s", "k") -> 5L)))
    // seq-regex parsers COMPOSE with plain transforming elements
    val cat = S.cat(het, S.re("^v"))
    assert(RowEval.reParse(cat, Seq(1L, "v1")) ===
      Some(Vector(RTag("i", 1L), "v1")))
    assert(RowEval.reUnparse(cat, Vector(RTag("i", 1L), "v1")) ===
      Seq(1L, "v1"))
    // :andn parses every branch; unparse goes through the LEFT-MOST and
    // the remaining branches must re-accept
    val andn = S.andn("t1" -> S.int, "t2" -> S.intMin(0L))
    assert(parseValue(andn, 4L) ===
      Some(RowEval.RTags(Map("t1" -> 4L, "t2" -> 4L))))
    assert(parseValue(andn, -4L) === None)
    assert(unparseValue(andn,
      RowEval.RTags(Map("t1" -> 4L, "t2" -> 4L))) === Some(4L))
    assert(unparseValue(andn,
      RowEval.RTags(Map("t1" -> -4L, "t2" -> -4L))) === None)
  }

  // :merge/:union/:select-keys stand for their expansion (util.cljc:394-418)
  // in parse and unparse too, not only in validate/explain
  test("parseValue/unparseValue see through :merge, :union and :select-keys") {
    import RowEval.{parseValue, unparseValue, RTag}
    import mallispark.ir.SchemaOps
    val tagged = S.mapE(false, S.req("x", S.orn("i" -> S.int, "s" -> S.string)))
    val other = S.mapE(false, S.req("y", S.int))
    val schemas = Seq(S.mergeOf(tagged, other), S.unionOf(tagged, other),
      S.selectKeysOf(S.mergeOf(tagged, other), "x"))
    val values = Seq(Map("x" -> 1L, "y" -> 2L), Map("x" -> "a", "y" -> 2L),
      Map("x" -> true, "y" -> 2L), Map("y" -> 2L))
    schemas.foreach { sch =>
      val expanded = SchemaOps.expand(sch, Registry.empty)
      values.foreach { v =>
        val p = parseValue(sch, v)
        assert(p === parseValue(expanded, v), s"parse of $v under ${SchemaIR.form(sch)}")
        p.foreach(t => assert(unparseValue(sch, t) === unparseValue(expanded, t),
          s"unparse of $t under ${SchemaIR.form(sch)}"))
      }
    }
    assert(parseValue(S.mergeOf(tagged, other), Map("x" -> 1L, "y" -> 2L)) ===
      Some(Map("x" -> RTag("i", 1L), "y" -> 2L)))
    assert(unparseValue(S.unionOf(tagged, other),
      Map("x" -> RTag("s", "a"), "y" -> 2L)) === Some(Map("x" -> "a", "y" -> 2L)))
  }

  test("Column-tier parse sees through the merge family") {
    import mallispark.ir.SchemaOps
    val tagged = S.mapE(false,
      S.req("x", S.orn("lo" -> S.int(0L, 9L), "hi" -> S.int(10L, 99L))))
    val other = S.mapE(false, S.req("y", S.int))
    val dt = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
    val d = df(Seq(Row(Row(3L, 1L)), Row(Row(42L, 2L)), Row(Row(500L, 3L))),
      StructType(Seq(StructField("v", dt))))
    Seq(S.mergeOf(tagged, other), S.unionOf(tagged, other),
        S.selectKeysOf(S.mergeOf(tagged, other), "x", "y")).foreach { sch =>
      val expanded = SchemaOps.expand(sch, ctx.registry)
      assert(Parse.parseType(sch, dt) === Parse.parseType(expanded, dt))
      val got = d.select(Parse.parse(sch, F.col("v"), dt).as("p"),
        Parse.parse(expanded, F.col("v"), dt).as("e")).collect()
      got.foreach(r => assert(r.get(0) === r.get(1), SchemaIR.form(sch)))
      assert(got(0).getStruct(0).getStruct(0) === Row("lo", 3L))
      val rt = d.select(F.col("v"), Parse.unparse(sch,
        Parse.parse(sch, F.col("v"), dt), dt).as("u")).collect()
      assert(rt.take(2).forall(r => r.get(0) === r.get(1)), SchemaIR.form(sch))
    }
  }

  // m/old-parse-format (core.cljc:185-196; core_test.cljc:1240-1245)
  test("old-parse-format rewrites Tag trees to the pre-0.18 shape") {
    import RowEval.{parseValue, oldParseFormat, RTag}
    val sch = S.orn(
      "foo" -> S.catn("i" -> S.int, "s" -> S.string),
      "bar" -> S.uuid)
    val parsed = parseValue(sch, Seq(1L, "a")).get
    assert(parsed === RTag("foo", RowEval.RTags(Map("i" -> 1L, "s" -> "a"))))
    assert(oldParseFormat(parsed) ===
      Vector("foo", Map("i" -> 1L, "s" -> "a")))
    // nested tags rewrite everywhere (postwalk)
    assert(oldParseFormat(RTag("l", RTag("i", 1L))) ===
      Vector("l", Vector("i", 1L)))
    assert(oldParseFormat(Seq(RTag("x", 2L), 3L)) ===
      Vector(Vector("x", 2L), 3L))
  }

  test("parse duality: Column tier and value tier agree on shared shapes") {
    import RowEval.{parseValue, RTag}
    val orn = S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L),
      "pos" -> S.intMin(1L))
    val sch = S.and(orn, S.int(-3L, 3L))
    val vals = (-3L to 3L) ++ Seq(9L, -9L)
    val d = df(vals.map(Row(_)), StructType(Seq(StructField("v", LongType))))
    val colSide = d.select(F.col("v"),
      Parse.parse(sch, F.col("v"), LongType).as("p")).collect()
    colSide.foreach { r =>
      val v = r.getLong(0)
      (parseValue(sch, v), if (r.isNullAt(1)) None else Some(r.getStruct(1)))
        match {
        case (Some(RTag(tag, value)), Some(row)) =>
          assert(row.getString(0) === tag && row.getLong(1) === value)
        case (None, None) => // both ::m/invalid
        case (a, b) => fail(s"tiers disagree at $v: value=$a column=$b")
      }
    }
    // :or composes child parsers on BOTH tiers (first accepting child);
    // Column round-trips through unparse
    val orOfOrns = S.or(
      S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L)),
      S.orn("pos" -> S.intMin(1L)))
    val d2 = df(vals.map(Row(_)), StructType(Seq(StructField("v", LongType))))
    val got = d2.select(F.col("v"),
      Parse.parse(orOfOrns, F.col("v"), LongType).as("p"),
      Parse.unparse(orOfOrns,
        Parse.parse(orOfOrns, F.col("v"), LongType), LongType).as("u"))
      .collect()
    got.foreach { r =>
      val v = r.getLong(0)
      (parseValue(orOfOrns, v), Option(r.getStruct(1))) match {
        case (Some(RTag(tag, value)), Some(row)) =>
          assert(row.getString(0) === tag && row.getLong(1) === value,
            s"or-parse tiers disagree at $v")
          assert(!r.isNullAt(2) && r.getLong(2) === v,
            s"or unparse round-trip failed at $v")
        case (a, b) => fail(s"or-parse tiers disagree at $v: $a vs $b")
      }
    }
  }

  test("general seq-regex parse/unparse: [:* [:catn ...]] CLI-args shape") {
    // mirror of the reference parser fixture shapes
    // (perf/malli/perf/perf_test.cljc:345-382): nested tagged parse of a
    // flag/value stream, and unparse as its inverse
    val sch = S.star(S.catn(
      "prop" -> S.re("^-"),
      "val" -> S.alt(S.enum_("true", "false"), S.string(min = 1))))
    val in = Seq("-p", "8080", "-v", "true", "-q", "x")
    val parsed = RowEval.reParse(sch, in)
    assert(parsed.isDefined)
    val tree = parsed.get.asInstanceOf[Vector[RowEval.RTags]]
    assert(tree.size === 3)
    assert(tree(0) === RowEval.RTags(Map("prop" -> "-p", "val" -> "8080")))
    assert(tree(1) === RowEval.RTags(Map("prop" -> "-v", "val" -> "true")))
    // unparse is the exact inverse
    assert(RowEval.reUnparse(sch, parsed.get) === in)
    // no match → None (::m/invalid)
    assert(RowEval.reParse(sch, Seq("-p")).isEmpty)
    assert(RowEval.reParse(sch, null).isEmpty)
    // backtracking parse: [:cat [:* int] [:= 9]] must leave the 9
    val bt = S.cat(S.star(S.int), S.eq_(9L))
    val t2 = RowEval.reParse(bt, Seq(1L, 2L, 9L)).get.asInstanceOf[Vector[Any]]
    assert(t2(0) === Vector(1L, 2L))
    assert(t2(1) === 9L)
    assert(RowEval.reUnparse(bt, t2) === Seq(1L, 2L, 9L))
    // :? and :repeat shapes
    val opt = S.cat(S.optional(S.enum_("x")), S.repeat(S.int, 1, 2))
    val t3 = RowEval.reParse(opt, Seq(5L, 6L)).get.asInstanceOf[Vector[Any]]
    assert(t3(0) === null) // :? not taken
    assert(t3(1) === Vector(5L, 6L))
    assert(RowEval.reUnparse(opt, t3) === Seq(5L, 6L))
  }

  test("humanize: error.cljc default strings, path-keyed") {
    val h = Messages.humanize(Seq(
      ("z", ErrorKeys.MissingKey),
      ("xs/1", ":int"),
      ("", ErrorKeys.InvalidType)))
    assert(h(Seq("z")) === Seq("missing required key"))
    assert(h(Seq("xs", "1")) === Seq("should be an int"))
    assert(h(Seq.empty) === Seq("invalid type"))
    assert(Messages.message("nope") === "unknown error")
    // :error/message property override (error.cljc:312-329)
    assert(Messages.message(":int", Map(":int" -> "custom")) === "custom")
  }

  // error_test.cljc humanize-throws-test-1271: redirected :error/path
  // segments that do not fit the value's shape must degrade, never throw
  test("shaped humanize: mismatched :error/path shapes degrade (1271)") {
    def h(v: Any, errs: (Seq[String], String)*): Any =
      Messages.humanizeShaped(v, errs)
    val u = "unknown error"
    // key into a map (present-nil, missing, numeric, negative): attaches
    assert(h(Map("foo" -> null), Seq("foo") -> u) ===
      Map("foo" -> Seq(u)))
    assert(h(Map.empty[String, Any], Seq("foo") -> u) ===
      Map("foo" -> Seq(u)))
    assert(h(Map.empty[String, Any], Seq("5") -> u) === Map("5" -> Seq(u)))
    assert(h(Map.empty[String, Any], Seq("-1") -> u) === Map("-1" -> Seq(u)))
    // index past the end of a vector value: nil-pad up to it
    assert(h(Vector.empty[Any], Seq("5") -> u) ===
      Seq(null, null, null, null, null, Seq(u)))
    // negative index into a vector value: the shape is wrong — collapse
    // to the invalid-type marker instead of crashing
    assert(h(Vector.empty[Any], Seq("-1") -> u) === Seq("invalid type"))
    assert(h(Seq(Seq.empty[Any]), Seq("0", "-1") -> u) ===
      Seq(Seq("invalid type")))
    // root-attached error on a sequence value
    assert(h(Vector.empty[Any], Seq.empty[String] -> u) === Seq(u))
  }

  test("value-shaped humanize (-push-in; error_test.cljc:105-180)") {
    def h(v: Any, errs: (Seq[String], String)*): Any =
      Messages.humanizeShaped(v, errs)
    // nil if success; top-level error is a bare message vector
    assert(h(1L) === null)
    assert(h("1", Seq.empty[String] -> "should be an int") ===
      Seq("should be an int"))
    // vector: pad with nulls up to the deepest error position
    assert(h(Seq(Seq(1L, 2L), Seq(2L, 2L), Seq(3L, "4")),
      Seq("2", "1") -> "should be an int") ===
      Seq(null, null, Seq(null, Seq("should be an int"))))
    // mixed bag (fixture :136-145)
    assert(h(
      Seq(Map("x" -> Seq(1L, 2L, 3L)), Map("x" -> Seq(1L, "2", "3"))),
      Seq("1", "x", "1") -> "should be an int",
      Seq("1", "x", "2") -> "should be an int") ===
      Seq(null, Map("x" ->
        Seq(null, Seq("should be an int"), Seq("should be an int")))))
    // multiple errors on one key accumulate
    assert(h(Map.empty[String, Any],
      Seq("x") -> "missing required key",
      Seq("x") -> "missing required key") ===
      Map("x" -> Seq("missing required key", "missing required key")))
    // a map with both its own and child errors parks the root messages
    // under "malli/error" (fixture :172-176)
    assert(h(Map("person" -> Map.empty[String, Any]),
      Seq("person", "name") -> "missing required key",
      Seq("person") -> "should be a seq") ===
      Map("person" -> Map("name" -> Seq("missing required key"),
        "malli/error" -> Seq("should be a seq"))))
    // child errors win over a later parent error ("lose it")
    assert(h(Seq("a"),
      Seq("0") -> "should be an int",
      Seq.empty[String] -> "parent") ===
      Seq(Seq("should be an int")))

    // end-to-end composing-with-and (error_test.cljc:248-262): map-entry
    // errors nest per key, the :and's own :fn message parks under
    // "malli/error"
    val sch = S.and(
      S.mapE(false, S.req("x", S.int), S.req("y", S.int),
        S.req("z", S.int)),
      SProps(NodeProps(errorMessage = Some("(> x y)")),
        S.fnS("(fn [m] (> (:x m) (:y m)))")))
    val bad = Map("x" -> 1L, "y" -> 2L, "z" -> "1")
    val errs = mallispark.eval.RowEval.explain(sch, bad)
    assert(Messages.humanizeErrorsShaped(sch, bad,
      errs.map(e => (e.path.toSeq, e.in.toSeq, e.key))) ===
      Map("z" -> Seq("should be an int"),
        "malli/error" -> Seq("(> x y)")))

    // robustness: random (possibly dangling) error paths over random
    // value trees never throw, and every emitted message came from the
    // input set
    val rnd = new scala.util.Random(42)
    def rv(d: Int): Any =
      if (d == 0) rnd.nextInt(5) match {
        case 0 => rnd.nextLong(100); case 1 => "s"; case _ => null
      }
      else rnd.nextInt(3) match {
        case 0 => Map((0 until rnd.nextInt(3)).map(i =>
          s"k$i" -> rv(d - 1)): _*)
        case 1 => Seq.fill(rnd.nextInt(4))(rv(d - 1))
        case _ => rnd.nextLong(10)
      }
    def rp(): Seq[String] = Seq.fill(rnd.nextInt(4))(
      if (rnd.nextBoolean()) s"k${rnd.nextInt(3)}" else rnd.nextInt(4).toString)
    (0 until 200).foreach { i =>
      val v = rv(3)
      val es = (0 until rnd.nextInt(5)).map(j => rp() -> s"m$j")
      val out = Messages.humanizeShaped(v, es)
      def msgs(x: Any): Seq[String] = x match {
        case null => Seq.empty
        case s: String => Seq(s)
        case m: Map[_, _] => m.values.toSeq.flatMap(msgs)
        case xs: Seq[_] => xs.flatMap(msgs)
        case _ => Seq.empty
      }
      val emitted = msgs(out)
      assert(emitted.forall(m => m == "invalid type" ||
        es.map(_._2).contains(m)), s"iteration $i: $emitted from $es")
    }
  }

  test(":error/message + :error/path schema props (error_test.cljc:623-631)") {
    import mallispark.ir.SchemaIR.{NodeProps, SProps}
    // the reference's "passwords don't match" #554 fixture, driver-side:
    // the :fn carries both props; humanize lands the message at
    // [:password2] instead of the error's own (empty) in-path
    val sch = S.and(
      S.mapE(false,
        S.req("password", S.string),
        S.req("password2", S.string)),
      SProps(NodeProps(errorMessage = Some("passwords don't match"),
        errorPath = Some(Seq("password2"))),
        S.fnS("(fn [m] (= (:password m) (:password2 m)))")))
    val bad = Map("password" -> "secret", "password2" -> "faarao")
    val errs = mallispark.eval.RowEval.explain(sch, bad)
    assert(errs.nonEmpty)
    val h = Messages.humanizeErrors(sch,
      errs.map(e => (e.path.toSeq, e.in.toSeq, e.key)))
    assert(h === Map(Seq("password2") -> Seq("passwords don't match")))
    // matching passwords produce no errors at all
    assert(mallispark.eval.RowEval.explain(sch,
      Map("password" -> "s", "password2" -> "s")).isEmpty)
    // without :error/path the same message lands at the error's own in
    val plain = S.and(
      S.mapE(false,
        S.req("password", S.string), S.req("password2", S.string)),
      SProps(NodeProps(errorMessage = Some("passwords don't match")),
        S.fnS("(fn [m] (= (:password m) (:password2 m)))")))
    val h2 = Messages.humanizeErrors(plain,
      mallispark.eval.RowEval.explain(plain, bad)
        .map(e => (e.path.toSeq, e.in.toSeq, e.key)))
    assert(h2 === Map(Seq.empty -> Seq("passwords don't match")))
  }

  test("spell-check: closest known key within tolerance (error.cljc:249-281)") {
    assert(Messages.spellCheck("typpe", Set("type", "name")) === Some("type"))
    assert(Messages.spellCheck("zzz", Set("type", "name")) === None)
  }

  test("infer: provider-style schema from a DataFrame") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType),
      StructField("score", DoubleType), StructField("note", StringType)))
    val rows = (1L to 200L).map { i =>
      Row(i, Seq("en", "de", "fr")((i % 3).toInt),
        i / 10.0, if (i % 4 == 0) null else s"note-$i")
    }
    val inferred = Infer.infer(df(rows, schema))
    val byKey = inferred.entries.map(e => e.key -> e).toMap
    assert(byKey("id").child === SInt())
    assert(byKey("id").optional === false)
    assert(byKey("lang").child === SEnum(Seq("de", "en", "fr")))
    assert(byKey("score").child === SDouble())
    assert(byKey("note").optional === true) // nulls observed
    // nulls observed → [:maybe X] (provider.cljc:87-88); high cardinality:
    // no enum inside the maybe
    assert(byKey("note").child === SMaybe(SString()))
    // inferred schema validates its own data (provider law)
    val d2 = df(rows, schema)
    val invalid = SchemaCompiler.validateDF(inferred, d2, "ok")
      .where(!F.col("ok")).count()
    assert(invalid === 0L)
    // withBounds: observed duals of :min/:max
    val bounded = Infer.infer(df(rows, schema), Infer.Options(withBounds = true))
    assert(bounded.entries.find(_.key == "id").get.child ===
      SInt(Some(1L), Some(200L)))
  }

  test(":andn named conjunction: validate / explain tags / parse / unparse") {
    // core.cljc:930-1003 — validates like :and, explains under branch
    // TAGS, parses to Tags({tag → x}) with all branches required,
    // unparses the left-most tag's value
    val sch = S.andn("pos" -> S.intMin(1L), "small" -> S.intMax(100L))
    assert(RowEval.validate(sch, 50L))
    assert(!RowEval.validate(sch, 0L))
    assert(!RowEval.validate(sch, 500L))
    // explain reports the failing branch under its tag
    assert(RowEval.explain(sch, 0L).map(e => e.path.mkString("/")) ===
      Vector("pos"))
    assert(RowEval.explain(sch, 500L).map(e => e.path.mkString("/")) ===
      Vector("small"))
    // Catalyst duality + Column parse/unparse round-trip
    val d = df(Seq(Row(50L), Row(0L), Row(500L)),
      StructType(Seq(StructField("v", LongType))))
    val got = d.select(
      SchemaCompiler.valid(sch, F.col("v"), LongType).as("ok"),
      Parse.parse(sch, F.col("v"), LongType).as("p")).collect()
    assert(got.map(_.getBoolean(0)).toSeq === Seq(true, false, false))
    assert(got(0).getStruct(1).getLong(0) === 50L) // Tags{pos: 50}
    assert(got(0).getStruct(1).getLong(1) === 50L) // Tags{small: 50}
    assert(got(1).isNullAt(1)) // ::m/invalid
    val un = d.select(Parse.unparse(sch,
      Parse.parse(sch, F.col("v"), LongType), LongType).as("u")).collect()
    assert(un(0).getLong(0) === 50L)
  }

  test(":altn named alternation in regex position: tags in the parse tree") {
    // core.cljc:2968-3024 + Tag records 164-183: the winning branch names
    // the tag; the regex matcher treats it like :alt
    val sch = S.star(S.altn("num" -> S.re("^[0-9]+$"),
      "word" -> S.re("^[a-z]+$")))
    assert(RowEval.validate(sch, Seq("12", "ab")))
    assert(!RowEval.validate(sch, Seq("12", "AB")))
    val tree = RowEval.reParse(sch, Seq("12", "ab")).get
      .asInstanceOf[Seq[Any]]
    assert(tree === Seq(RowEval.RTag("num", "12"), RowEval.RTag("word", "ab")))
    // unparse restores the element sequence through the tags
    assert(RowEval.reUnparse(sch, tree) === Seq("12", "ab"))
    // explain attributes the failing element under both branch tags
    val errs = RowEval.explain(sch, Seq("12", "AB"))
    assert(errs.nonEmpty &&
      errs.forall(e => e.path.mkString("/").matches("0/(num|word)")))
  }

  test("props around :alt/:altn in a sequence position splice like the bare op") {
    val props = NodeProps(extra = Seq(":user/tag" -> 1L))
    val alt = S.cat(SProps(props, S.alt(S.int, S.string)))
    assert(RowEval.validate(alt, Seq(1L)) && RowEval.reExplain(alt, Seq(1L)).isEmpty)
    assert(RowEval.reParse(alt, Seq(1L)) === Some(Vector(1L)))
    assert(RowEval.reUnparse(alt, Vector(1L)) === Seq(1L))
    val altn = S.cat(SProps(props, S.altn("n" -> S.int, "s" -> S.string)))
    assert(RowEval.reParse(altn, Seq("x")) ===
      Some(Vector(RowEval.RTag("s", "x"))))
    // a regex branch splices through the props too: two elements, one :cat
    val nested = S.cat(SProps(props, S.alt(S.cat(S.int, S.int), S.string)))
    assert(RowEval.validate(nested, Seq(1L, 2L)))
    assert(RowEval.reParse(nested, Seq(1L, 2L)) === Some(Vector(Vector(1L, 2L))))
    assert(!RowEval.validate(nested, Seq(1L)) &&
      RowEval.reExplain(nested, Seq(1L)).nonEmpty &&
      RowEval.reParse(nested, Seq(1L)).isEmpty)
  }

  test("regex reference semantics: greedy parse, epsilon repeat, mixed alt") {
    import mallispark.eval.RowEval
    // GREEDY: the first :* consumes first (impl/regex.cljc:278-321 —
    // item parser before the epsilon fallback)
    val amb = S.cat(S.star(S.int), S.star(S.int))
    assert(RowEval.reParse(amb, Seq(1L)) ===
      Some(Vector(Vector(1L), Vector())))
    assert(RowEval.reUnparse(amb,
      RowEval.reParse(amb, Seq(1L, 2L)).get) === Seq(1L, 2L))
    // repeat of a NULLABLE child: epsilon iterations count toward :min
    // (reference compulsories phase runs the child with no progress
    // requirement), so {:min 2} of [:? :int] accepts [] and [7]
    val rep = S.repeat(S.optional(S.int), 2, 2)
    assert(RowEval.validate(rep, Seq.empty))
    assert(RowEval.validate(rep, Seq(7L)))
    assert(RowEval.validate(rep, Seq(7L, 8L)))
    assert(!RowEval.validate(rep, Seq(7L, 8L, 9L))) // over :max
    // mixed plain/regex :alt unparses through the branch that MATCHED,
    // not blindly through the head
    val mixed = S.alt(S.star(S.int), S.string)
    val viaString = RowEval.reParse(mixed, Seq("x")).get
    assert(RowEval.reUnparse(mixed, viaString) === Seq("x"))
    val viaStar = RowEval.reParse(mixed, Seq(1L, 2L)).get
    assert(RowEval.reUnparse(mixed, viaStar) === Seq(1L, 2L))
    // mixed the other way: plain first, regex second
    val mixed2 = S.alt(S.int, S.plus(S.int))
    val two = RowEval.reParse(mixed2, Seq(1L, 2L)).get
    assert(RowEval.reUnparse(mixed2, two) === Seq(1L, 2L))
  }

  test("duality fixes: string code points, null dispatch, spellcheck ties") {
    import mallispark.eval.RowEval
    import mallispark.msg.Messages
    // supplementary char counts as ONE like Spark's length()
    val emoji = new String(Character.toChars(0x1F600))
    assert(RowEval.validate(S.string(1, 1), emoji))
    // null dispatch value routes to the DEFAULT branch (compiled twin)
    val multi = SMulti("k",
      Seq("null" -> S.mapE(false, S.req("k", S.string))),
      Some(S.any))
    assert(RowEval.validate(multi, Map("k" -> null)))
    // comparator + tuple-size keys humanize (not "unknown error")
    assert(Messages.message(":>") === "should be larger than the bound")
    assert(Messages.message(
      ErrorKeys.TupleSize) === "invalid tuple size")
    // levenshtein ties break lexicographically, set-order-independent
    assert(Messages.spellCheck("ab", Set("bb", "aa")) === Some("aa"))
    assert(Messages.spellCheck("ab", Set("zz", "bb", "aa")) === Some("aa"))
  }

  test("infer: provider parity heuristics (uuid / tuple / map-of / maybe)") {
    // mirrors provider_test.cljc shapes in their Spark-physical form:
    // - a string column whose every value is uuid-shaped → :uuid
    //   (::value-decoders narrowing analogue, provider.cljc:70-72)
    // - constant-length arrays → :tuple; varying → :vector
    //   (provider.cljc:50-55; per-index agreement is physical here)
    // - map keys with distinct > n^0.7 → :map-of, else fixed-key :map
    //   with optionality per key (provider.cljc:57-68, -map-of-accept)
    val schema = StructType(Seq(
      StructField("uid", StringType), StructField("pair", ArrayType(LongType)),
      StructField("var_arr", ArrayType(LongType)),
      StructField("m_wide", MapType(StringType, LongType)),
      StructField("m_fixed", MapType(StringType, LongType))))
    val rows = (1L to 100L).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val uuid = s"${md.substring(0, 8)}-${md.substring(8, 12)}-" +
        s"${md.substring(12, 16)}-${md.substring(16, 20)}-${md.substring(20)}"
      Row(uuid, Seq(i, i + 1), (0L to (i % 5)).toSeq,
        Map(s"k$i" -> i),
        if (i % 10 == 0) Map("a" -> i) else Map("a" -> i, "b" -> i))
    }
    val inferred = Infer.infer(df(rows, schema), Infer.Options(exact = true))
    val byKey = inferred.entries.map(e => e.key -> e.child).toMap
    assert(byKey("uid") === SUuid)
    assert(byKey("pair") === STuple(Seq(SInt(), SInt())))
    assert(byKey("var_arr") === SVector(SInt()))
    // 100 distinct keys over 100 occurrences: 100 > 100^0.7 ≈ 25 → map-of
    assert(byKey("m_wide") === SMapOf(SString(), SInt()))
    // 2 distinct keys over 190 occurrences: 2 < 190^0.7 → fixed map,
    // with "b" optional (missing from every 10th row)
    assert(byKey("m_fixed") === SMap(Seq(
      Entry("a", SInt(), optional = false),
      Entry("b", SInt(), optional = true))))
  }

  test("recursive ref: depth-bounded compile + RowEval agreement") {
    // [:ref "node"] where node = [:map [:v int?] [:kids {:optional true} [:vector [:ref node]]]]
    val reg = Registry(Map("node" -> S.mapE(false,
      S.req("v", S.int),
      S.opt("kids", S.vector(S.ref("node"))))), maxDepth = 4)
    val rctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx(reg, depth = 4)
    val leafT = StructType(Seq(StructField("v", LongType)))
    val dt = StructType(Seq(StructField("v", LongType),
      StructField("kids", ArrayType(leafT))))
    val d = df(Seq(
      Row(Row(1L, Seq(Row(2L), Row(3L)))),
      Row(Row(1L, Seq(Row(null), Row(3L))))),
      StructType(Seq(StructField("t", dt))))
    val out = d.select(SchemaCompiler.valid(S.ref("node"), F.col("t"), dt)(rctx)
      .as("ok")).collect().map(_.getBoolean(0))
    assert(out.toSeq === Seq(true, false))
    // RowEval agrees
    implicit val reg2: Registry = reg
    assert(RowEval.validate(S.ref("node"),
      Map("v" -> 1L, "kids" -> Seq(Map("v" -> 2L)))))
    assert(!RowEval.validate(S.ref("node"),
      Map("v" -> 1L, "kids" -> Seq(Map("x" -> 2L)))))
  }

  test("describe: reference wording fixtures (describe_test.cljc)") {
    import mallispark.ir.Describe.describe
    // strings (describe_test.cljc:11-14)
    assert(describe(S.string(min = 5)) === "string with length >= 5")
    assert(describe(S.string(max = 5)) === "string with length <= 5")
    assert(describe(S.string(3, 5)) ===
      "string with length between 3 and 5 inclusive")
    // vector / compound (describe_test.cljc:7-9, 40-42)
    assert(describe(S.vector(S.int)) === "vector of integer")
    assert(describe(S.vector(S.every(S.set(S.int)))) ===
      "vector of sequence of set of integer")
    // ints (describe_test.cljc:91-97)
    assert(describe(S.intMin(0L)) === "integer greater than or equal to 0")
    assert(describe(S.intMax(1L)) === "integer less than or equal to 1")
    assert(describe(S.int(0, 1)) === "integer between 0 and 1 inclusive")
    // maps (describe_test.cljc:22-31)
    assert(describe(S.mapE(false, S.req("x", S.int))) ===
      "map where {:x -> <integer>}")
    assert(describe(S.mapE(false, S.opt("x", S.int),
      S.req("y", S.boolean))) ===
      "map where {:x (optional) -> <integer>, :y -> <boolean>}")
    assert(describe(S.mapE(true, S.req("x", S.int))) ===
      "map where {:x -> <integer>} with no other keys")
    assert(describe(S.mapOf(S.int, S.string)) ===
      "map from <integer> to <string>")
    // multi (describe_test.cljc:49-52)
    assert(describe(S.multi("type")(
      "dog" -> S.mapE(false, S.req("x", S.int)),
      "cat" -> S.any)) ===
      "one of <:dog = map where {:x -> <integer>} | :cat = anything>" +
        " dispatched by :type")
    // recursive local registry (describe_test.cljc:86-89)
    assert(describe(S.scoped(
      "ConsCell" -> S.maybe(S.tuple(S.int, S.ref("ConsCell"))))(
      S.ref("ConsCell"))) ===
      "ConsCell <nullable vector with exactly 2 items of type: " +
        "integer, \"ConsCell\">")
    // repeat (describe_test.cljc:104-105)
    assert(describe(S.repeat(S.int, 1, 7)) ===
      "repeat <integer> at least 1 time, up to 7 times")
    // enum + maybe + or
    assert(describe(S.enum_("en", "de", "fr")) === "enum of en, de, fr")
    assert(describe(S.or(S.int, S.nil)) === "integer, or null")
  }

  // messageColumn: the full error.cljc:293-329 lookup chain as ONE
  // codegen CASE — path :error/message override > caller :errors table >
  // :error/fn splicing (bound from schema, value from row) > defaults.
  test("messageColumn: lookup chain precedence + :error/fn splicing") {
    val sch = S.map(
      "a" -> S.int(10L, 90L),
      "b" -> S.eq_("ok"),
      "c" -> S.string(min = 2),
      "e" -> S.enum_("x", "y"))
    val rows = Seq(
      Row("a", ":int", "5"), Row("a", ":int", "95"),
      Row("b", ":=", "bad"), Row("c", ":string", "z"),
      Row("c", ":string", null), Row("e", ":enum", "q"),
      Row("z", ":weird-key", "1"), Row("z", ":nil", "1"))
    val d = df(rows, StructType(Seq(
      StructField("schema_path", StringType),
      StructField("error_key", StringType),
      StructField("value", StringType))))

    def render(pathO: Map[String, String] = Map.empty,
               keyO: Map[String, String] = Map.empty): Seq[String] =
      d.select(Messages.messageColumn(sch, pathO, keyO).as("m"))
        .collect().toSeq.map(_.getString(0))

    // spliced :error/fn strings + defaults fallthrough
    assert(render() === Seq(
      "should be at least 10", "should be at most 90",
      "should be \"ok\"", "should be at least 2 characters",
      "should be a string", "should be either \"x\" or \"y\"",
      "unknown error", "should be nil"))
    // caller :errors table beats splicing; path override beats both
    assert(render(keyO = Map(":int" -> "K")).take(2) === Seq("K", "K"))
    assert(render(pathO = Map("a" -> "P"),
      keyO = Map(":int" -> "K")).take(2) === Seq("P", "P"))
    // plan stays UDF-free (whole-stage codegen eligible)
    val plan = d.select(Messages.messageColumn(sch).as("m"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("udf"))
  }

  test("messageColumn: :not humanization (error_test not-humanize-test)") {
    val sch = S.map(
      "n1" -> S.not(S.string),
      "n2" -> S.not(S.int(1L, 1L)),
      "n3" -> S.not(S.gt(1L)),
      "n4" -> S.not(S.lte(1L)),
      "n5" -> S.not(S.enum_("a")),
      "n6" -> S.not(S.enum_(1L, 2L, 3L)),
      "n7" -> S.not(S.string(min = 1)),
      "n8" -> S.not(S.intMin(1L)),
      "n9" -> S.not(S.boolean),
      "n10" -> S.not(S.re(".*")),
      "n11" -> S.not(S.keyword),
      "n12" -> S.not(S.nil),
      // nested nots cancel pairwise (nested-not-humanize-test)
      "n13" -> S.not(S.not(S.eq_(1L))),
      "n14" -> S.not(S.not(S.not(S.gt(1L)))),
      // a child :error/message negates as a string (custom-negating-test)
      "n15" -> S.not(SProps(
        NodeProps(errorMessage = Some("should be a multiple of 3")),
        S.fnS("(fn [x] (= 0 (mod x 3)))"))))
    val rows = Seq(
      Row("n1", "x"), Row("n2", "1"), Row("n3", "2"), Row("n4", "0"),
      Row("n5", "a"), Row("n6", "1"), Row("n7", "a"), Row("n8", "1"),
      Row("n9", "true"), Row("n10", "zz"), Row("n11", ":a"),
      Row("n12", null), Row("n13", "7"), Row("n14", "2"), Row("n15", "3"))
    val d = df(rows.map(r => Row(r.get(0), ":not", r.get(1))),
      StructType(Seq(
        StructField("schema_path", StringType),
        StructField("error_key", StringType),
        StructField("value", StringType))))
    val out = d.select(Messages.messageColumn(sch).as("m"))
      .collect().toSeq.map(_.getString(0))
    assert(out === Seq(
      "should not be a string",
      "should not be 1",
      "should be at most 1",      // comparator negation FORWARDS
      "should be larger than 1",
      "should not be \"a\"",
      "should not be either 1, 2 or 3",
      "should not be at least 1 character",
      "should not be at least 1",
      "should not be a boolean",
      "should not match regex",
      "should not be a keyword",
      "should not be nil",
      "should be 1",              // double negation cancels
      "should be at most 1",      // triple = single negation
      "should not be a multiple of 3"))
  }

  // reference core_test.cljc issue fixtures over the value tier
  test("issue-925: catn order is retained through parse+unparse") {
    import RowEval.{parseValue, unparseValue, RTags}
    val sch = S.catn(('a' to 'i').map(c => c.toString -> (S.int: SchemaIR)): _*)
    val in: Seq[Any] = (1L to 9L)
    val p = parseValue(sch, in).get
    assert(p === RTags(('a' to 'i').zip(1L to 9L)
      .map { case (c, v) => c.toString -> (v: Any) }.toMap))
    assert(unparseValue(sch, p) === Some(in))
  }

  test("issue-937: single-entry :altn nested under :*") {
    import RowEval.{parseValue, unparseValue, RTag}
    val sch = S.star(S.altn("a" -> S.eq_(":a")))
    val v = Seq(":a")
    assert(RowEval.validate(sch, v))
    assert(RowEval.explain(sch, v, Vector.empty, Vector.empty).isEmpty)
    val p = parseValue(sch, v).get
    assert(p === Vector(RTag("a", ":a")))
    assert(unparseValue(sch, p) === Some(v))
  }

  test("cat/catn unparse validates elements (core_test cat-catn-unparse)") {
    import RowEval.{unparseValue, RTags}
    val cat = S.cat(S.string(), S.int, S.string())
    assert(unparseValue(cat, Vector("1", 2L, "3")) === Some(Seq("1", 2L, "3")))
    assert(unparseValue(cat, Vector(1L, 2L, 3L)) === None) // ::m/invalid
    val catn = S.catn("a" -> S.string(), "b" -> S.int, "c" -> S.string())
    assert(unparseValue(catn,
      RTags(Map("a" -> "1", "b" -> 2L, "c" -> "3"))) === Some(Seq("1", 2L, "3")))
    assert(unparseValue(catn,
      RTags(Map("a" -> 1L, "b" -> 2L, "c" -> 3L))) === None)
    // a PLAIN map is not a Tags record — it belongs to the value universe
    assert(unparseValue(catn, Map("a" -> "1", "b" -> 2L, "c" -> "3")) === None)
  }

  // #1150/#1153: parse/unparse round-trips even when the schema could
  // match the SHAPE of another branch's parse result — Tag/Tags are
  // distinct records, and :or unparse tries branches in parse order
  test("unparse-confusion: :or branches never swallow Tag/Tags trees") {
    import RowEval.{parseValue, unparseValue}
    def rt(sch: SchemaIR, v: Any): Unit =
      assert(unparseValue(sch, parseValue(sch, v).get) === Some(v),
        SchemaIR.form(sch))
    rt(S.or(S.tuple(S.string(), S.keyword), S.orn("any" -> S.keyword)), ":k")
    rt(S.or(S.mapE(false, S.req("key", S.string()), S.req("value", S.keyword)),
      S.orn("any" -> S.keyword)), ":k")
    rt(S.or(S.mapE(false, S.req("s", S.string())),
      S.catn("s" -> S.string())), Seq("k"))
    rt(S.or(S.mapE(false, S.req("values", S.mapE(false, S.req("s", S.string())))),
      S.catn("s" -> S.string())), Seq("k"))
    // and :or parse composes child parsers — an :orn branch tags
    assert(parseValue(
      S.or(S.tuple(S.string(), S.keyword), S.orn("any" -> S.keyword)),
      ":k") === Some(RowEval.RTag("any", ":k")))
  }

  test("repeat unparse bounds + nested repeat/star (repeat-unparse-test)") {
    import RowEval.{parseValue, unparseValue}
    val r12 = S.repeat(S.cat(S.int, S.int), 1, 2)
    assert(RowEval.validate(r12, Seq(1L, 2L, 3L, 4L)))
    assert(parseValue(r12, Seq(1L, 2L, 3L, 4L)) ===
      Some(Vector(Vector(1L, 2L), Vector(3L, 4L))))
    assert(unparseValue(r12, Vector(Vector(1L, 2L), Vector(3L, 4L))) ===
      Some(Seq(1L, 2L, 3L, 4L)))
    // out-of-bounds iteration counts are ::m/invalid, not crashes
    assert(unparseValue(S.repeat(S.cat(S.int, S.int), 1, 1),
      Vector(Vector(1L, 2L), Vector(3L, 4L))) === None)
    assert(unparseValue(S.repeat(S.cat(S.int, S.int), 0, 1),
      Vector(Vector(1L, 2L), Vector(3L, 4L))) === None)
    assert(unparseValue(S.repeat(S.cat(S.int, S.int), 3, Int.MaxValue),
      Vector(Vector(1L, 2L), Vector(3L, 4L))) === None)
    // nested quantifiers wrap one tree level per regex op
    val rStar = S.repeat(S.star(S.int), 0, Int.MaxValue)
    assert(parseValue(rStar, Seq(1L, 2L, 3L, 4L)) ===
      Some(Vector(Vector(1L, 2L, 3L, 4L))))
    assert(unparseValue(rStar, Vector(Vector(1L, 2L, 3L, 4L))) ===
      Some(Seq(1L, 2L, 3L, 4L)))
    val starR = S.star(S.repeat(S.int, 0, Int.MaxValue))
    assert(parseValue(starR, Seq(1L, 2L, 3L, 4L)) ===
      Some(Vector(Vector(1L, 2L, 3L, 4L))))
    assert(unparseValue(starR, Vector(Vector(1L, 2L, 3L, 4L))) ===
      Some(Seq(1L, 2L, 3L, 4L)))
    val rr = S.repeat(S.repeat(S.int, 0, Int.MaxValue), 0, Int.MaxValue)
    assert(parseValue(rr, Seq(1L, 2L, 3L, 4L)) ===
      Some(Vector(Vector(1L, 2L, 3L, 4L))))
    assert(unparseValue(rr, Vector(Vector(1L, 2L, 3L, 4L))) ===
      Some(Seq(1L, 2L, 3L, 4L)))
    assert(parseValue(rr, Seq(1L, null, 3L, 4L)) === None)
    assert(unparseValue(rr, Vector(Vector(1L, null, 3L, 4L))) === None)
    // unparse of a mis-shaped tree (plain value fed to a :cat) is invalid
    assert(unparseValue(S.cat(S.int), 5L) === None)
  }

  test(":andn unparses the left-most PRESENT conjunct (andn-test)") {
    import RowEval.{parseValue, unparseValue, RTag, RTags}
    val isNum = SFn("number?", {
      case _: Long | _: Int | _: Double => true; case _ => false })
    val sch = S.andn(
      "o" -> S.orn("left" -> S.int, "right" -> S.int),
      "f" -> isNum)
    val p = parseValue(sch, 1L).get
    assert(p === RTags(Map("o" -> RTag("left", 1L), "f" -> 1L)))
    assert(unparseValue(sch, p) === Some(1L))
    // left-most present key drives the unparse; the rest are ignored
    assert(unparseValue(sch,
      RTags(Map("o" -> RTag("left", 2L), "f" -> 1L))) === Some(2L))
    assert(unparseValue(sch,
      RTags(Map("o" -> RTag("left", 1L), "f" -> 2L))) === Some(1L))
    assert(unparseValue(sch, RTags(Map("f" -> 2L))) === Some(2L))
    assert(unparseValue(sch, RTags(Map.empty)) === None)
    // unknown keys reject; a plain map is not a Tags record
    assert(unparseValue(sch, RTags(Map("zz" -> 1L))) === None)
    assert(unparseValue(sch, Map("o" -> RTag("left", 1L), "f" -> 1L)) === None)
    // a map-validating andn round-trips a map value (Tags stays distinct)
    val mapish = S.andn("m" -> S.mapE(false),
      "f" -> SFn("map?", _.isInstanceOf[scala.collection.Map[_, _]]))
    val mp = parseValue(mapish, Map.empty[String, Any]).get
    assert(mp === RTags(Map("m" -> Map.empty, "f" -> Map.empty)))
    assert(unparseValue(mapish, mp) === Some(Map.empty[String, Any]))
  }
}
