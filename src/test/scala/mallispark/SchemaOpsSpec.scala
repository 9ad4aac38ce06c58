package mallispark

import org.apache.spark.sql.Row
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.{Export, S, SchemaIR, SchemaOps}
import mallispark.ir.SchemaIR._
import mallispark.compile.{GeneralRegex, SchemaCompiler}

/** malli.util schema algebra + tier-3 general seq-regex UDF. */
class SchemaOpsSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  private val A = S.mapE(false,
    S.req("x", S.int), S.opt("y", S.string)).asInstanceOf[SMap]
  private val B = S.mapE(true,
    S.req("y", S.int), S.req("z", S.boolean)).asInstanceOf[SMap]

  test("merge: right-biased entries, closedness ORs (util.cljc:53-101)") {
    val m = SchemaOps.merge(A, B).asInstanceOf[SMap]
    assert(m.closed)
    assert(m.entries.map(_.key) === Seq("x", "y", "z"))
    assert(m.entries.find(_.key == "y").get.child === SInt()) // right wins
    assert(!m.entries.find(_.key == "y").get.optional) // right's requiredness
  }

  test("merge joins :and on the FIRST child, keeps the rest (util.cljc:78)") {
    val withPred = SAnd(Seq(A, SNot(SNil)))
    // and+map: the map merges into the head; the predicate survives ONCE
    val m = SchemaOps.merge(withPred, B).asInstanceOf[SAnd]
    assert(m.children.size === 2)
    assert(m.children(1) === SNot(SNil)) // kept as-is, not right-overwritten
    assert(m.children.head.asInstanceOf[SMap].entries.map(_.key) ===
      Seq("x", "y", "z"))
    // map+and mirrors; and+and concatenates the kept tails
    val m2 = SchemaOps.merge(A, withPred).asInstanceOf[SAnd]
    assert(m2.children(1) === SNot(SNil))
    val m3 = SchemaOps.merge(withPred, withPred).asInstanceOf[SAnd]
    assert(m3.children.count(_ == SNot(SNil)) === 2)
  }

  test("merge distributes over :multi, right then left (util.cljc:85-88)") {
    val multi = SMulti("kind", Seq(
      "a" -> S.mapE(false, S.req("x", S.int)),
      "b" -> S.mapE(false, S.req("y", S.string))), None)
    val extra = S.mapE(false, S.req("z", S.boolean)).asInstanceOf[SMap]
    // [:merge multi extra]: every branch gains z
    val r = SchemaOps.merge(multi, extra).asInstanceOf[SMulti]
    assert(r.branches.forall(_._2.asInstanceOf[SMap]
      .entries.exists(_.key == "z")))
    // [:merge extra multi]: branches gain z on the LEFT (z first)
    val l = SchemaOps.merge(extra, multi).asInstanceOf[SMulti]
    assert(l.branches.head._2.asInstanceOf[SMap]
      .entries.map(_.key) === Seq("z", "x"))
    // multi × multi NESTS: outer keeps the left dispatch, each branch
    // becomes the right multi with the branch map merged in
    // (distributive_test.cljc:123-138, different dispatch keys)
    val multi2 = SMulti("other", Seq(
      "c" -> S.mapE(false, S.req("w", S.int))), None)
    val nested = SchemaOps.merge(multi, multi2).asInstanceOf[SMulti]
    assert(nested.dispatchKey === "kind")
    val innerA = nested.branches.head._2.asInstanceOf[SMulti]
    assert(innerA.dispatchKey === "other")
    assert(innerA.branches.head._2.asInstanceOf[SMap]
      .entries.map(_.key) === Seq("x", "w"))
  }

  // distributive_test parse/gen fixtures: the DISTRIBUTED schema parses
  // to nested Tags and generates only branch-consistent rows
  test("distributed multi×multi: nested-tag parse + generate law") {
    import mallispark.eval.RowEval
    import mallispark.gen.Generate
    val my = SMulti("y", Seq(
      "1" -> S.mapE(false, S.req("y", S.eq_(1L))),
      "2" -> S.mapE(false, S.req("y", S.eq_(2L)))), None)
    val mz = SMulti("z", Seq(
      "3" -> S.mapE(false, S.req("z", S.eq_(3L))),
      "4" -> S.mapE(false, S.req("z", S.eq_(4L)))), None)
    val merged = SchemaOps.merge(my, mz)
    // parse {:y 1 :z 3} → Tag(1, Tag(3, v)) (parse-distributive-multi-test)
    val v = Map("y" -> 1L, "z" -> 3L)
    assert(RowEval.parseValue(merged, v) ===
      Some(RowEval.RTag("1", RowEval.RTag("3", v))))
    assert(RowEval.parseValue(merged, Map("y" -> 1L, "z" -> 9L)) === None)
    // every generated row validates and lands on a real (y, z) pair
    // (gen-distributive-multi-test's law, deterministic draws here)
    val rows = (0 until 50).map { i =>
      val df = spark.range(i, i + 1)
      df.select(Generate.gen(merged, F.col("id")).as("g"))
        .select("g.y", "g.z").collect()(0)
    }
    rows.foreach { r =>
      assert(Set(1L, 2L).contains(r.getLong(0)))
      assert(Set(3L, 4L).contains(r.getLong(1)))
      assert(RowEval.validate(merged,
        Map("y" -> r.getLong(0), "z" -> r.getLong(1))))
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.size > 1)
  }

  test("derefRecursive keeps only genuinely-recursive refs (core_test:3434)") {
    // the ::user fixture: ::address inlines fully, the self-referential
    // friends ref stays a literal [:ref ...]
    val schema = S.scoped(
      "user-id" -> S.uuid,
      "address" -> S.mapE(false,
        S.req("street", S.string),
        S.opt("lonlat", S.tuple(S.double, S.double))),
      "user" -> S.mapE(false,
        S.req("id", S.ref("user-id")),
        S.req("name", S.string),
        S.opt("friends", S.set(S.ref("user"))),
        S.req("address", S.ref("address"))))(S.ref("user"))
    val d = SchemaOps.derefRecursive(schema)
    assert(SchemaIR.form(d) ===
      "[:map [:id :uuid] [:name :string] " +
        "[:friends {:optional true} [:set [:ref user]]] " +
        "[:address [:map [:street :string] " +
        "[:lonlat {:optional true} [:tuple :double :double]]]]]")
    // util-schema leg: the declarative :merge resolves on the way
    val merged = SchemaOps.derefRecursive(
      SMergeOf(Seq(S.mapE(false, S.req("x", S.int)),
        S.mapE(false, S.req("y", S.int)))))
    assert(SchemaIR.form(merged) === "[:map [:x :int] [:y :int]]")
  }

  test("derefRecursive reaches every node kind's children") {
    // a non-recursive ref under an expression-dispatch :multi, the merge
    // family and a scope body inlines like anywhere else
    val reg = Map("a" -> S.int)
    val multi = S.multiExpr("m", c => c, x => String.valueOf(x),
      default = Some(S.ref("a")))("x" -> S.vector(S.ref("a")))
    val d = SchemaOps.derefRecursive(S.scoped(reg.toSeq: _*)(multi))
      .asInstanceOf[SMultiExpr]
    assert(d.branches === Seq("x" -> S.vector(S.int)) && d.default === Some(S.int))
    for (node <- Seq(SMergeOf(Seq(S.ref("a"))), SUnionOf(Seq(S.ref("a"))),
        SSelectKeysOf(S.ref("a"), Seq("k")),
        SScoped(Map("b" -> S.string), S.ref("a"), boundary = true)))
      assert(SchemaIR.mapChildren(node)(_ => S.int) !== node, node)
  }

  test("union: colliding entries become :or (util.cljc:103-112)") {
    val u = SchemaOps.union(A, B).asInstanceOf[SMap]
    assert(u.entries.find(_.key == "y").get.child ===
      SOr(Seq(SString(None, None), SInt())))
    // y is optional in A, required in B: union's merge-required is
    // (and r1 r2) (util.cljc:110) → optional-on-either-side wins
    assert(u.entries.find(_.key == "y").get.optional)
    assert(!u.closed) // closed only if both closed
  }

  test("selectKeys/dissoc/renameKeys/assoc/optional-required toggles") {
    assert(SchemaOps.selectKeys(A, Set("x")).entries.map(_.key) === Seq("x"))
    assert(SchemaOps.dissoc(A, "y").entries.map(_.key) === Seq("x"))
    assert(SchemaOps.renameKeys(A, Map("x" -> "xx")).entries.head.key === "xx")
    assert(SchemaOps.assoc(A, Entry("w", SBoolean)).entries.map(_.key) ===
      Seq("x", "y", "w"))
    assert(SchemaOps.optionalKeys(A).entries.forall(_.optional))
    assert(SchemaOps.requiredKeys(A).entries.forall(!_.optional))
  }

  test("findFirst/updateProperties/transformEntries/update (util.cljc)") {
    val nested = S.mapE(false,
      S.req("a", S.mapE(false, S.req("b", S.vector(S.int)))))
    // find-first: prewalk, first hit wins (util_test.cljc:681)
    assert(SchemaOps.findFirst(nested) {
      case (_: SVector, p) => Some(p); case _ => None
    } === Some(Seq("a", "b")))
    assert(SchemaOps.findFirst(nested) {
      case (SBoolean, _) => Some(1); case _ => None
    } === None)
    // update-properties adds/updates/drops the SProps wrapper
    val titled = SchemaOps.updateProperties(S.int)(
      _.copy(title = Some("t")))
    assert(titled === SProps(NodeProps(title = Some("t")), S.int))
    assert(SchemaOps.updateProperties(titled)(_.copy(title = None))
      === S.int)
    // transform-entries (util_test.cljc:642): rename every key
    val m = A
    val renamed = SchemaOps.transformEntries(m)(
      _.map(e => e.copy(key = "p_" + e.key)))
    assert(renamed.entries.map(_.key) === Seq("p_x", "p_y"))
    // update: fn of the existing child; absent key creates REQUIRED
    val widened = SchemaOps.update(A, "x")(c => SMaybe(c.get))
    assert(widened.entries.find(_.key == "x").get.child === SMaybe(S.int))
    val added = SchemaOps.update(A, "w")(c => { assert(c.isEmpty); S.boolean })
    assert(added.entries.find(_.key == "w").exists(!_.optional))
  }

  test("keys/find/assoc-in/update-in lenses (util.cljc:301-381)") {
    assert(SchemaOps.keys(A) === Seq("x", "y"))
    assert(SchemaOps.find(A, "y").get.optional)
    assert(SchemaOps.find(A, "nope").isEmpty)
    val nested = S.mapE(false,
      S.req("a", S.mapE(false, S.req("b", S.vector(S.int)))))
    // deep replace: the vector's ELEMENT schema via the "0" marker
    val swapped = SchemaOps.assocIn(nested, Seq("a", "b", "0"), S.string)
    assert(SchemaIR.getIn(swapped, Seq("a", "b", "0")).get ===
      SString(None, None))
    // spine preserved around the edit
    assert(SchemaIR.form(SchemaIR.getIn(swapped, Seq("a")).get)
      .startsWith("[:map"))
    // update-in applies a function in place
    val widened = SchemaOps.updateIn(nested, Seq("a", "b"))(v =>
      SMaybe(v))
    assert(SchemaIR.getIn(widened, Seq("a", "b")).get.isInstanceOf[SMaybe])
    // creating through a missing FINAL map key (mu/assoc semantics)
    val added = SchemaOps.assocIn(nested, Seq("a", "c"), S.boolean)
    assert(SchemaIR.getIn(added, Seq("a", "c")).get === SBoolean)
    // missing non-map segment refuses
    intercept[IllegalArgumentException] {
      SchemaOps.assocIn(nested, Seq("a", "b", "5"), S.int)
    }
  }

  test("in->paths is the inverse image of path->in (util.cljc:196-207)") {
    val s = S.mapE(false,
      S.req("v", S.or(S.int, S.mapE(false, S.req("w", S.string)))))
    // the :or's branches vanish in value space: value path v maps back
    // to the schema paths v, v/0 and v/1 (plus nothing else)
    assert(SchemaOps.inToPaths(s, Seq("v")).toSet ===
      Set(Seq("v"), Seq("v", "0"), Seq("v", "1")))
    assert(SchemaOps.inToPaths(s, Seq("v", "w")) === Seq(Seq("v", "1", "w")))
    assert(SchemaOps.inToPaths(s, Seq("nope")) === Seq.empty)
    // duality: every reported path maps forward to the same in
    SchemaOps.inToPaths(s, Seq("v", "w")).foreach(p =>
      assert(SchemaOps.pathToIn(s, p) === Seq("v", "w")))
  }

  test("closedSchema/openSchema walk nested maps (util.cljc:128-166)") {
    val nested = S.mapE(false, S.req("inner", A)).asInstanceOf[SMap]
    val closed = SchemaOps.closedSchema(nested).asInstanceOf[SMap]
    assert(closed.closed)
    assert(closed.entries.head.child.asInstanceOf[SMap].closed)
    val reopened = SchemaOps.openSchema(closed).asInstanceOf[SMap]
    assert(!reopened.closed &&
      !reopened.entries.head.child.asInstanceOf[SMap].closed)
  }

  test("subschemas + path->in duality (util.cljc:168-207)") {
    val s = S.mapE(false,
      S.req("xs", S.vector(S.and(S.int, S.posInt))))
    val subs = SchemaOps.subschemas(s)
    assert(subs.map(_._1).contains(Seq("xs", "0", "1")))
    // schema path xs/0/1 (vector child, :and branch 1) → value path xs/<idx>
    assert(SchemaOps.pathToIn(s, Seq("xs", "0", "1")) === Seq("xs", "0"))
    // map-only path: branch indices vanish
    val s2 = S.mapE(false, S.req("a", S.or(S.int, S.string)))
    assert(SchemaOps.pathToIn(s2, Seq("a", "1")) === Seq("a"))
  }

  test("general seq-regex via RowEval UDF: [:* [:catn ...]] (tier 3)") {
    val schema = S.star(S.catn("prop" -> S.re("^-"),
      "val" -> S.alt(S.re("^[^-]"), S.boolean)))
    val rows = Seq(Row(Seq("-p", "x", "-q", "y")), Row(Seq("-p", "x", "-q")),
      Row(Seq.empty[String]), Row(null))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(StructField("v", ArrayType(StringType)))))
    val out = df.select(GeneralRegex.validStringSeq(schema)(F.col("v")))
      .collect().map(_.getBoolean(0))
    assert(out.toSeq === Seq(true, false, true, false))
  }

  test(":fn escape hatch: exceptions -> false (core.cljc:209)") {
    implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()
    val schema = S.fn("even-half") { v =>
      100 / v.asInstanceOf[Long].toInt >= 0 && v.asInstanceOf[Long] % 2 == 0
    }
    val rows = Seq(Row(4L), Row(3L), Row(0L)) // 0 -> div by zero -> false
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(StructField("v", LongType))))
    val out = df.select(SchemaCompiler.valid(schema, F.col("v"), LongType))
      .collect().map(_.getBoolean(0))
    assert(out.toSeq === Seq(true, false, false))
  }

  // mu/update-entry-properties (util.cljc:120-126; util_test.cljc:1081-1107)
  test("updateEntryProperties: map + orn entries, lens composition, no-entry") {
    import SchemaOps.{updateEntryProperties, assocProp}
    val m0 = Export.fromForm("[:map [:me {:a 1} :int]]")
    val m1 = updateEntryProperties(m0, "me")(assocProp(_, ":b", 1L))
    assert(SchemaIR.form(m1) === "[:map [:me {:a 1 :b 1} :int]]")
    // assoc REPLACES in place on an existing key
    val m1b = updateEntryProperties(m1, "me")(assocProp(_, ":a", 7L))
    assert(SchemaIR.form(m1b) === "[:map [:me {:a 7 :b 1} :int]]")
    val o0 = Export.fromForm("[:orn [:me {:a 1} :int]]")
    val o1 = updateEntryProperties(o0, "me")(assocProp(_, ":b", 1L))
    assert(SchemaIR.form(o1) === "[:orn [:me {:a 1 :b 1} :int]]")
    // composes under a lens like (mu/update [:vector ..] 0 ...)
    val v0 = Export.fromForm("[:vector [:map [:me {:a 1} :int]]]")
    val v1 = SchemaOps.updateIn(v0, Seq("0"))(
      s => updateEntryProperties(s, "me")(assocProp(_, ":b", 1L)))
    assert(SchemaIR.form(v1) === "[:vector [:map [:me {:a 1 :b 1} :int]]]")
    // :optional routes to the structural flag on :map entries
    val m2 = updateEntryProperties(m0, "me")(assocProp(_, ":optional", true))
    assert(SchemaIR.form(m2) === "[:map [:me {:optional true :a 1} :int]]")
    assert(m2.asInstanceOf[SMap].entries.head.optional)
    // dropping every prop unwraps the entry wrapper entirely
    val m3 = updateEntryProperties(m1, "me")(_ => Nil)
    assert(SchemaIR.form(m3) === "[:map [:me :int]]")
    assert(m3.asInstanceOf[SMap].entries.head.child === S.int)
    // missing entry / non-entry schema throw the ::mu/no-entry analogue
    val ex = intercept[IllegalArgumentException] {
      updateEntryProperties(SMap(Nil), "invalid")(identity) }
    assert(ex.getMessage.contains(":malli.util/no-entry"))
    intercept[IllegalArgumentException] {
      updateEntryProperties(m0, "nope")(identity) }
  }

  // m/-regex-min-max (core_test.cljc:2448-2490 fixture table)
  test("regexMinMax: seqex size bounds, :schema boundary, ref recursion") {
    def mm(form: String): (Int, Option[Int]) =
      SchemaOps.regexMinMax(Export.fromForm(form))
    assert(mm(":int") === (1, Some(1)))
    assert(mm("[:cat]") === (0, Some(0)))
    assert(mm("[:cat :int]") === (1, Some(1)))
    assert(mm("[:cat :int [:cat]]") === (1, Some(1)))
    assert(mm("[:cat :int [:cat :string :int]]") === (3, Some(3)))
    // top-level :schema is transparent; NESTED it is a splice boundary
    assert(mm("[:schema [:cat :int [:cat :string :int]]]") === (3, Some(3)))
    assert(mm("[:cat :int [:schema [:cat :string :int]]]") === (2, Some(2)))
    assert(mm("[:cat :int [:schema [:catn [:s :string] [:i :int]]]]") ===
      (2, Some(2)))
    assert(mm("[:catn]") === (0, Some(0)))
    assert(mm("[:catn [:n :int]]") === (1, Some(1)))
    assert(mm("[:catn [:n :int] [:named [:cat]]]") === (1, Some(1)))
    assert(mm("[:catn [:n :int] [:named [:cat :string :int]]]") ===
      (3, Some(3)))
    assert(mm("[:alt :int]") === (1, Some(1)))
    assert(mm("[:alt :int [:cat]]") === (0, Some(1)))
    assert(mm("[:altn [:n :int]]") === (1, Some(1)))
    assert(mm("[:altn [:n :int] [:empty [:cat]]]") === (0, Some(1)))
    assert(mm("[:* :int]") === (0, None))
    assert(mm("[:? :int]") === (0, Some(1)))
    assert(mm("[:? [:cat :int :int]]") === (0, Some(2)))
    assert(mm("[:? [:schema [:cat :int :int]]]") === (0, Some(1)))
    assert(mm("[:+ [:cat :string :int]]") === (2, None))
    assert(mm("[:+ [:schema [:cat :string :int]]]") === (1, None))
    assert(mm("[:+ [:? :int]]") === (0, None))
    assert(mm("[:repeat {:min 5 :max 15} [:cat :string :int]]") ===
      (10, Some(30)))
    assert(mm("[:repeat {:min 5 :max 15} [:* :int]]") === (0, None))
    // acyclic refs deref transparently (malli's plain registry lookup);
    // a nested [:schema [:ref ..]] re-wraps the boundary (the reference
    // fixture puts :registry on :cat; here the top-level :schema carries
    // it — transparent at top level, so the bounds agree)
    val named = "{:registry {:named [:cat :string :int]}}"
    assert(mm(s"[:schema $named [:cat [:ref :named]]]") === (2, Some(2)))
    assert(mm(s"[:schema $named [:cat " +
      "[:repeat {:min 5 :max 15} [:ref :named]]]]") === (10, Some(30)))
    assert(mm(s"[:schema $named [:cat " +
      "[:repeat {:min 5 :max 15} [:schema [:ref :named]]]]]") ===
      (5, Some(15)))
    // recursive seqex refs throw ::m/potentially-recursive-seqex
    val ex = intercept[IllegalArgumentException](
      mm("[:schema {:registry {:ints [:cat :int [:ref :ints]]}} " +
        "[:ref :ints]]"))
    assert(ex.getMessage.contains("potentially-recursive-seqex"))
  }

  // props-wrapped regex ops still SPLICE in the surrounding seqex
  // (properties never change regex-ness; reference regexs carry
  // :gen/* props routinely)
  test("regex ops with properties splice, not consume-one") {
    import mallispark.eval.RowEval
    val s = Export.fromForm("[:cat :int [:cat {:x 1} :string :int]]")
    assert(RowEval.validate(s, Seq(1L, "a", 2L)))
    assert(!RowEval.validate(s, Seq(1L, Seq("a", 2L))))
    assert(RowEval.reParse(s, Seq(1L, "a", 2L)) ===
      Some(Vector(1L, Vector("a", 2L))))
    val unparsed = RowEval.reUnparse(
      s.asInstanceOf[SchemaIR.SCat].children.last, Vector("a", 2L))
    assert(unparsed === Seq("a", 2L))
  }

  // {:registry ..} props on ARBITRARY nodes + bare keyword refs
  // (core_test.cljc issue-451 "registry -in schema vector syntax")
  test("registry props on any node; bare keyword refs; seqex transparency") {
    import mallispark.eval.RowEval
    val s = Export.fromForm(
      "[:map {:registry {:my/string-like :string}} " +
        "[:entry [:my/string-like {:some \"prop\"}]]]")
    assert(RowEval.validate(s, Map("entry" -> "a")))
    assert(!RowEval.validate(s, Map("entry" -> 1L)))
    // form renders the prop ON the node and round-trips; ast too
    val f = SchemaIR.form(s)
    assert(f.startsWith("[:map {:registry"))
    assert(Export.fromForm(f) === s)
    assert(Export.fromJson(Export.toJson(s)) === s)
    // registry names may chain to other names (issue-451 derived-str)
    val chain = Export.fromForm(
      "[:map {:registry {:derived :string :derived2 :derived}} " +
        "[:k :derived2]]")
    assert(RowEval.validate(chain, Map("k" -> "x")))
    assert(!RowEval.validate(chain, Map("k" -> 1L)))
    // a registry prop on a NESTED seqex op does not create a boundary:
    // the inner :cat still splices (unlike [:schema ..])
    val sx = Export.fromForm(
      "[:cat :int [:cat {:registry {:t :string}} :t :int]]")
    assert(RowEval.validate(sx, Seq(1L, "a", 2L)))
    assert(!RowEval.validate(sx, Seq(1L, Seq("a", 2L))))
    assert(SchemaOps.regexMinMax(sx) === (3, Some(3)))
    // unknown names still fail loudly — at resolution
    val dangling = Export.fromForm("[:map [:k :my/unregistered]]")
    val ex = intercept[IllegalArgumentException](
      RowEval.validate(dangling, Map("k" -> "x")))
    assert(ex.getMessage.contains("unknown schema ref"))
  }

  // issue-937 (single-entry :altn nested in :*) and issue-925
  // (:catn parse∘unparse retains order at 9 entries)
  test("issue-937 single-entry altn; issue-925 catn order retention") {
    import mallispark.eval.RowEval
    val s937 = Export.fromForm("[:* [:altn [:a [:= :a]]]]")
    assert(RowEval.validate(s937, Seq(":a")))
    assert(RowEval.explain(s937, Seq(":a")) === Vector.empty)
    assert(RowEval.reParse(s937, Seq(":a")) ===
      Some(Vector(RowEval.RTag("a", ":a"))))
    assert(RowEval.reUnparse(s937,
      RowEval.reParse(s937, Seq(":a")).get) === Seq(":a"))
    val s925 = Export.fromForm(
      "[:catn [:a :int] [:b :int] [:c :int] [:d :int] [:e :int] " +
        "[:f :int] [:g :int] [:h :int] [:i :int]]")
    val input = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)
    assert(RowEval.reUnparse(s925, RowEval.reParse(s925, input).get) ===
      input)
  }

  // mu/explain-data (util.cljc:209-238; util_test.cljc:1031-1069)
  test("explainData: pure-data errors with schema forms") {
    import mallispark.eval.RowEval
    import mallispark.eval.RowEval.{DataErr, DataExplain}
    val schema = Export.fromForm("[:map [:a [:vector [:maybe :string]]]]")
    // valid → nil
    assert(RowEval.explainData(schema, Map("a" -> Seq("kikka"))) === None)
    // invalid-type: error carries the vector schema's form + ::m type key
    assert(RowEval.explainData(schema, Map("a" -> 1L)) === Some(DataExplain(
      "[:map [:a [:vector [:maybe :string]]]]", Map("a" -> 1L),
      Vector(DataErr(Vector("a"), Vector("a"), "[:vector [:maybe :string]]",
        1L, Some(":malli.core/invalid-type"))))))
    // plain leaf failure: schema at [:a 0 0] = :string, NO type key
    assert(RowEval.explainData(schema, Map("a" -> Seq(true))) ===
      Some(DataExplain(
        "[:map [:a [:vector [:maybe :string]]]]", Map("a" -> Seq(true)),
        Vector(DataErr(Vector("a", "0", "0"), Vector("a", "0"),
          ":string", true, None)))))
    // missing-key attaches the PARENT map form (core.cljc:1306-1307)
    val errs = RowEval.explainData(schema, Map.empty[String, Any]).get.errors
    assert(errs === Vector(DataErr(Vector("a"), Vector("a"),
      "[:map [:a [:vector [:maybe :string]]]]", null,
      Some(":malli.core/missing-key"))))
    // paths resolve THROUGH :ref / local registries (deref on the walk)
    val scoped = Export.fromForm(
      "[:schema {:registry {:node [:map [:v [:int {:min 0}]]]}} " +
        "[:ref :node]]")
    val e2 = RowEval.explainData(scoped, Map("v" -> -1L)).get.errors
    assert(e2 === Vector(DataErr(Vector("v"), Vector("v"),
      "[:int {:min 0}]", -1L, None)))
    // ... and through props around a :ref, or around a scope whose names
    // the path's refs use (a regex op splices through both)
    val tag = SchemaIR.NodeProps(extra = Seq(":user/tag" -> 1L))
    val viaProps = SchemaIR.SScoped(Map("item" -> S.mapE(false, S.req("n", S.int))),
      S.mapE(false, S.req("x", SchemaIR.SProps(tag, S.ref("item")))), boundary = true)
    assert(RowEval.explainData(viaProps, Map("x" -> Map("n" -> "a"))).get.errors ===
      Vector(DataErr(Vector("x", "n"), Vector("x", "n"), ":int", "a", None)))
    val seqScope = SchemaIR.SProps(tag, SchemaIR.SScoped(Map("t" -> S.int(0L, 9L)),
      S.cat(S.ref("t"), S.star(S.int)), boundary = false))
    assert(RowEval.explainData(seqScope, Seq("b")).get.errors ===
      Vector(DataErr(Vector("0"), Vector("0"), "[:int {:min 0 :max 9}]", "b", None)))
  }

  // m/explicit-keys + m/default-schema (core.cljc:2817-2833)
  test("explicitKeys/defaultSchema accessors") {
    val m = Export.fromForm(
      "[:map [:x :int] [:y {:optional true} :string] " +
        "[::default [:map-of :string :int]]]")
    assert(SchemaOps.explicitKeys(m) === Some(Seq("x", "y")))
    assert(SchemaOps.defaultSchema(m).map(SchemaIR.form) ===
      Some("[:map-of :string :int]"))
    assert(SchemaOps.explicitKeys(S.int) === None)
    assert(SchemaOps.defaultSchema(Export.fromForm("[:map [:x :int]]")) ===
      None)
  }
}
