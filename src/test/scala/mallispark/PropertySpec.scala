package mallispark

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import mallispark.ir.S
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._
import mallispark.compile.SchemaCompiler
import mallispark.eval.RowEval

/** Property tests mirroring malli's generator laws
  * (test/malli/generator_test.cljc): schema-conforming rows validate;
  * a single mutated field produces exactly one violation at that path;
  * Catalyst and RowEval agree on arbitrary values. */
class PropertySpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()

  /** Seed-pinned sampling: an unseeded .sample at driver-run time could
    * stumble on a new adversarial case and redden the gate outside the
    * builder loop — determinism here, exploration via changed seeds. */
  private def seeded[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get

  private val rowSchema = S.mapE(false,
    S.req("a", S.int(0, 1000)),
    S.req("b", S.string(min = 1, max = 20)),
    S.opt("c", S.enum_("x", "y", "z")),
    S.req("d", S.vector(S.int(-5, 5), max = Some(6))))

  private val dt = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType),
    StructField("c", StringType),
    StructField("d", ArrayType(LongType))))

  private val genConforming: Gen[Row] = for {
    a <- Gen.chooseNum(0L, 1000L)
    b <- Gen.chooseNum(1, 20).flatMap(n => Gen.stringOfN(n, Gen.alphaChar))
    c <- Gen.oneOf("x", "y", "z", null)
    d <- Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-5L, 5L)))
  } yield Row(a, b, c, d)

  private def catalystErrs(rows: Seq[Row]): Seq[(Boolean, Set[(String, String, String)])] = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType(Seq(StructField("v", dt))))
    df.select(
      SchemaCompiler.valid(rowSchema, F.col("v"), dt).as("ok"),
      SchemaCompiler.errors(rowSchema, F.col("v"), dt, "", F.lit("")).as("e"))
      .collect().toSeq.map { r =>
        (r.getBoolean(0), r.getSeq[Row](1).map(e =>
          (e.getString(0), e.getString(1), e.getString(2))).toSet)
      }
  }

  test("hash kernels are bit-identical to the Column md5 path on random text") {
    import mallispark.expressions.{ShingleH60Set, ShingleMinHash, SimHashPortable}
    import mallispark.text.TextOps
    // adversarial token soup: whitespace runs, tabs/newlines, empty-ish
    // strings, unicode uppercase, punctuation
    val word = Gen.oneOf(
      Gen.stringOfN(3, Gen.alphaChar), Gen.stringOfN(1, Gen.alphaNumChar),
      Gen.oneOf("ÉCOLE", "Straße", "ÅNGSTRÖM", "x.y,z", "UPPER", "123"))
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val genText: Gen[String] = for {
      lead <- Gen.oneOf("", " ", "\t")
      n <- Gen.chooseNum(0, 12)
      ws <- Gen.listOfN(n, word)
      ss <- Gen.listOfN(n, sep)
    } yield lead + ws.zip(ss).map { case (w, s) => w + s }.mkString
    val texts = seeded(Gen.listOfN(80, genText), 101L).zipWithIndex
      .map { case (t, i) => Row(i.toLong, t) }
    val t = spark.createDataFrame(
      new java.util.ArrayList[Row](texts.asJava),
      StructType(Seq(StructField("id", LongType),
        StructField("text", StringType))))
    val sh = F.array_distinct(TextOps.shingles(F.col("text"), 3))
    val toks = F.array_distinct(TextOps.tokens(F.col("text")))
    val got = t.select(
      AffineMinHash(F.transform(sh, s => TextOps.h32(s)), 8).as("cs"),
      ShingleMinHash(F.col("text"), 3, 8).as("ks"),
      F.sort_array(F.array_distinct(F.transform(sh, s =>
        F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(LongType))))
        .as("ch"),
      ShingleH60Set(F.col("text"), 3).as("kh"),
      HashRefs.packBits(HashRefs.voteBits(
        F.transform(toks, x => TextOps.h32(F.lit("hi"), x)))).as("chi"),
      HashRefs.packBits(HashRefs.voteBits(
        F.transform(toks, x => TextOps.h32(F.lit("lo"), x)))).as("clo"),
      SimHashPortable(F.col("text")).as("ksim")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"minhash row $i")
      assert(r.getSeq[Long](2) === r.getSeq[Long](3), s"h60 row $i")
      assert(r.getLong(4) === r.getSeq[Long](6)(0), s"simhash hi row $i")
      assert(r.getLong(5) === r.getSeq[Long](6)(1), s"simhash lo row $i")
    }
  }

  test("conforming rows always validate (Catalyst and RowEval agree)") {
    val rows = seeded(Gen.listOfN(200, genConforming), 102L)
    val got = catalystErrs(rows.map(r => Row(r)))
    got.foreach { case (ok, errs) =>
      assert(ok, s"conforming row flagged invalid: $errs")
      assert(errs.isEmpty)
    }
  }

  /** Mutations that break exactly one field. */
  private val mutations: Seq[(String, Row => Row)] = Seq(
    "a" -> (r => Row(-1L, r.get(1), r.get(2), r.get(3))),
    "b" -> (r => Row(r.get(0), "", r.get(2), r.get(3))),
    "c" -> (r => Row(r.get(0), r.get(1), "BAD", r.get(3))),
    "d" -> (r => Row(r.get(0), r.get(1), r.get(2),
      List(99L))))

  test("single-field mutation -> violation(s) exactly at that field's path") {
    val base = seeded(Gen.listOfN(50, genConforming), 103L)
    mutations.foreach { case (field, mutate) =>
      val got = catalystErrs(base.map(r => Row(mutate(r))))
      got.foreach { case (ok, errs) =>
        assert(!ok, s"mutated $field still valid")
        assert(errs.nonEmpty)
        val roots = errs.map(_._1.split("/").head)
        assert(roots === Set(field),
          s"mutating $field produced errors at $roots")
      }
    }
  }

  test("lens laws over random trees: get∘assoc, update-in fixpoint, in->paths") {
    import mallispark.ir.SchemaOps
    val leafGen: Gen[SchemaIR] = Gen.oneOf(
      S.int(0L, 100L), S.string(min = 1, max = 6), S.boolean,
      S.enum_("a", "b", "c"))
    def nodeGen(d: Int): Gen[SchemaIR] =
      if (d <= 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        1 -> leafGen.map(S.maybe),
        1 -> Gen.lzy(nodeGen(d - 1)).map(c => S.vector(c, max = Some(4))),
        1 -> Gen.zip(leafGen, leafGen).map { case (a, b) => S.tuple(a, b) },
        1 -> Gen.lzy(mapGen2(d - 1)))
    def mapGen2(d: Int): Gen[SchemaIR] = for {
      n <- Gen.chooseNum(1, 3)
      cs <- Gen.listOfN(n, nodeGen(d))
    } yield S.mapE(false,
      cs.zipWithIndex.map { case (c, i) => S.req(s"f$i", c) }: _*)
    val schemas = seeded(Gen.listOfN(25, mapGen2(2)), 50260817L)
    schemas.foreach { sch =>
      SchemaOps.subschemas(sch).foreach { case (path, sub) =>
        // getIn addresses every enumerated subschema
        assert(SchemaIR.getIn(sch, path).contains(sub),
          s"getIn miss at $path in ${SchemaIR.form(sch)}")
        // get∘assoc law: writing then reading returns the written value
        if (path.nonEmpty) {
          val written = SchemaOps.assocIn(sch, path, SBinary)
          assert(SchemaIR.getIn(written, path).contains(SBinary),
            s"assocIn/getIn broke at $path in ${SchemaIR.form(sch)}")
        }
        // update-in with identity is a fixpoint
        assert(SchemaOps.updateIn(sch, path)(identity) === sch)
        // in->paths is a true inverse image: it contains this path and
        // everything it returns maps forward to the same value path
        val in = SchemaOps.pathToIn(sch, path)
        val back = SchemaOps.inToPaths(sch, in)
        assert(back.contains(path))
        back.foreach(p => assert(SchemaOps.pathToIn(sch, p) === in))
      }
    }
  }

  test("random schema trees: generate→validate law, export fixpoints, duality") {
    import mallispark.ir.Export
    import mallispark.gen.Generate
    val leafGen: Gen[SchemaIR] = Gen.oneOf(
      S.int(0L, 100L), S.string(min = 1, max = 6), S.boolean,
      S.enum_("a", "b", "c"), S.double(0.0, 1.0), S.keyword, S.uuid)
    def nodeGen(d: Int): Gen[SchemaIR] =
      if (d <= 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        1 -> leafGen.map(S.maybe),
        1 -> Gen.lzy(nodeGen(d - 1)).map(c => S.vector(c, max = Some(4))),
        1 -> Gen.zip(leafGen, leafGen).map { case (a, b) => S.tuple(a, b) },
        // ARBITRARY user props are validation-transparent and must
        // survive form/AST fixpoints (NodeProps.extra)
        1 -> Gen.lzy(nodeGen(d - 1)).map(c =>
          SProps(NodeProps(extra = Seq(":user/tag" -> 1L)), c)),
        // a {:registry ..} prop scope (boundary=false) + ref through it
        // is invisible to validation, paths, and generation
        1 -> Gen.lzy(nodeGen(d - 1)).map(c =>
          SScoped(Map("t" -> c), SRef("t"), boundary = false)),
        1 -> Gen.lzy(mapGen(d - 1)))
    def mapGen(d: Int): Gen[SchemaIR] = for {
      n <- Gen.chooseNum(1, 3)
      cs <- Gen.listOfN(n, nodeGen(d))
      opts <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield S.mapE(false, cs.zip(opts).zipWithIndex.map { case ((c, o), i) =>
      if (o) S.opt(s"f$i", c) else S.req(s"f$i", c) }: _*)
    val schemas = seeded(Gen.listOfN(20, mapGen(2)), 20260817L)
      .map(_.asInstanceOf[SMap])
    schemas.zipWithIndex.foreach { case (sch, i) =>
      val f = SchemaIR.form(sch)
      // AST and vector-form round-trips are fixpoints
      val json = Export.toJson(sch)
      assert(SchemaIR.form(Export.fromJson(json)) === f, s"ast rt: $f")
      assert(Export.toJson(Export.fromJson(json)) === json, s"ast fix: $f")
      assert(SchemaIR.form(Export.fromForm(f)) === f, s"form rt: $f")
      // every generated row validates, on BOTH engines
      val df = Generate.dfFromSchema(spark, sch, 100, seed = 100 + i)
      val flagged = SchemaCompiler.validateDF(sch, df, "__ok")
      val bad = flagged.where(!F.col("__ok"))
      assert(bad.count() === 0L, s"schema $f generated invalid rows")
      // same law under the PORTABLE (md5) draw source — the gate only
      // covers a fixed 7-node schema; random trees cover the rest
      val dfP = Generate.dfFromSchema(spark, sch, 60, seed = 100 + i,
        rng = Generate.PortableRng)
      assert(SchemaCompiler.validateDF(sch, dfP, "__ok")
        .where(!F.col("__ok")).count() === 0L,
        s"schema $f generated invalid rows (portable rng)")
      val subSchema = StructType(flagged.schema.fields.filter(_.name != "__ok"))
      val collected = flagged.drop("__ok").collect()
      collected.take(40).foreach { r =>
        val v = new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(r.toSeq.toArray, subSchema)
        assert(RowEval.validate(sch, v),
          s"roweval rejects generated row of $f\nrow=$v\nerrs=${
            RowEval.explain(sch, v).mkString("; ")}")
      }
      // null-mutation duality: nulling each top-level field in turn drives
      // the missing-key / optional / acceptsNull logic on BOTH engines —
      // valid AND the full error sets must agree
      val mutated = collected.take(10).flatMap { r =>
        subSchema.fields.indices.map { k =>
          Row.fromSeq(r.toSeq.updated(k, null))
        }
      }
      val mdf = spark.createDataFrame(
        new java.util.ArrayList[Row](mutated.toSeq.asJava), subSchema)
      val catalyst = mdf.select(
        SchemaCompiler.valid(sch,
          F.struct(subSchema.fieldNames.toIndexedSeq.map(F.col): _*),
          subSchema).as("ok"),
        SchemaCompiler.errors(sch,
          F.struct(subSchema.fieldNames.toIndexedSeq.map(F.col): _*),
          subSchema, "", F.lit("")).as("e"))
        .collect().toSeq.map { r =>
          (r.getBoolean(0), r.getSeq[Row](1).map(e =>
            (e.getString(0), e.getString(1), e.getString(2))).toSet)
        }
      mutated.zip(catalyst).foreach { case (m, (ok, errs)) =>
        val v = new org.apache.spark.sql.catalyst.expressions
          .GenericRowWithSchema(m.toSeq.toArray, subSchema)
        assert(RowEval.validate(sch, v) === ok,
          s"null-mutation valid mismatch on $f: $m")
        val re = RowEval.explain(sch, v).map(e =>
          (e.path.mkString("/"), e.in.mkString("/"), e.key)).toSet
        assert(re === errs,
          s"null-mutation errors mismatch on $f: $m\nroweval=$re\ncat=$errs")
      }
    }
  }

  test("duality on MapType :map — random maps (stray keys, nulls) agree across engines") {
    val mdt = MapType(StringType, LongType)
    val schemas = Seq(
      // open with rest-entry: stray values must satisfy [:int {:max 5}]
      S.mapRest(S.int(0L, 5L),
        S.req("a", S.int(0L, 10L)), S.opt("b", S.intMin(3L))),
      // closed: stray non-null values are ::m/extra-key
      S.mapE(true, S.req("a", S.int(0L, 10L)), S.opt("b", S.intMin(3L))))
    val genMap: Gen[Map[String, Any]] = for {
      keys <- Gen.someOf("a", "b", "x", "y")
      vals <- Gen.listOfN(keys.size,
        Gen.oneOf(Gen.chooseNum(-2L, 12L).map(l => l: Any), Gen.const(null: Any)))
    } yield keys.zip(vals).toMap
    val maps = seeded(Gen.listOfN(150, genMap), 104L)
    schemas.foreach { sch =>
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](maps.map(m => Row(m)).asJava),
        StructType(Seq(StructField("v", mdt))))
      val catalyst = df.select(
        SchemaCompiler.valid(sch, F.col("v"), mdt).as("ok"),
        SchemaCompiler.errors(sch, F.col("v"), mdt, "", F.lit("")).as("e"))
        .collect().toSeq.map { r =>
          (r.getBoolean(0), r.getSeq[Row](1).map(e =>
            (e.getString(0), e.getString(1), e.getString(2))).toSet)
        }
      maps.zip(catalyst).foreach { case (m, (ok, errs)) =>
        assert(RowEval.validate(sch, m) === ok, s"valid mismatch on $m")
        val re = RowEval.explain(sch, m).map(e =>
          (e.path.mkString("/"), e.in.mkString("/"), e.key)).toSet
        assert(re === errs, s"errors mismatch on $m: roweval $re vs $errs")
      }
    }
  }

  // a :merge-family child may EXPAND to a nil-accepting node ([:union :nil
  // :int] → [:or :nil :int]; a merge with a non-map last returns it), yet
  // a null required field under it is ::missing-key on both tiers, and
  // the field's Spark type stays non-nullable
  test("duality: a null required :merge-family field is ::missing-key on both tiers") {
    val children = Seq(S.unionOf(S.nil, S.int), S.mergeOf(S.int, S.maybe(S.int)),
      S.unionOf(S.int, S.maybe(S.int)))
    val sdt = StructType(Seq(StructField("x", LongType)))
    val mdt = MapType(StringType, LongType)
    children.foreach { child =>
      val sch = S.mapE(false, S.req("x", child))
      assert(!SchemaCompiler.dataTypeOf(sch).asInstanceOf[StructType]("x").nullable)
      Seq[(DataType, Seq[Any])](
        sdt -> Seq(Row(null), Row(5L)),
        mdt -> Seq(Map("x" -> null), Map("x" -> 5L))).foreach { case (vdt, vs) =>
        val df = spark.createDataFrame(
          new java.util.ArrayList[Row](vs.map(v => Row(v)).asJava),
          StructType(Seq(StructField("v", vdt))))
        val catalyst = df.select(
          SchemaCompiler.valid(sch, F.col("v"), vdt).as("ok"),
          SchemaCompiler.errors(sch, F.col("v"), vdt, "", F.lit("")).as("e"))
          .collect().toSeq.map { r =>
            (r.getBoolean(0), r.getSeq[Row](1).map(e =>
              (e.getString(0), e.getString(1), e.getString(2))).toSet)
          }
        vs.zip(catalyst).foreach { case (v, (ok, errs)) =>
          val value = v match {
            case r: Row => new org.apache.spark.sql.catalyst.expressions
              .GenericRowWithSchema(r.toSeq.toArray, sdt)
            case m => m
          }
          assert(RowEval.validate(sch, value) === ok, s"valid mismatch on $v under $child")
          val re = RowEval.explain(sch, value).map(e =>
            (e.path.mkString("/"), e.in.mkString("/"), e.key)).toSet
          assert(re === errs, s"errors mismatch on $v under $child")
        }
        assert(catalyst.map(_._2) === Seq(
          Set(("x", "x", SchemaIR.ErrorKeys.MissingKey)), Set.empty), s"under $child")
      }
    }
  }

  // :altn over one value is an any-of like :or/:orn/:alt on both tiers:
  // a failure explains every branch under its tag
  test("duality: a standalone :altn and one under a :map key explain per branch") {
    val altn = S.altn("a" -> S.int(0L, 5L), "b" -> S.int(10L, 15L))
    val mdt = StructType(Seq(StructField("x", LongType)))
    Seq[(SchemaIR, DataType, Seq[Any])](
      (altn, LongType, Seq(3L, 7L, 12L, 20L)),
      (S.mapE(false, S.req("x", altn)), mdt,
        Seq(3L, 7L, 12L, 20L).map(x => Row(x)))).foreach { case (sch, vdt, vs) =>
      val catalyst = spark.createDataFrame(
        new java.util.ArrayList[Row](vs.map(v => Row(v)).asJava),
        StructType(Seq(StructField("v", vdt)))).select(
        SchemaCompiler.valid(sch, F.col("v"), vdt).as("ok"),
        SchemaCompiler.errors(sch, F.col("v"), vdt, "", F.lit("")).as("e"))
        .collect().toSeq.map { r =>
          (r.getBoolean(0), r.getSeq[Row](1).map(e =>
            (e.getString(0), e.getString(1), e.getString(2))).toSet)
        }
      vs.zip(catalyst).foreach { case (v, (ok, errs)) =>
        val value = v match {
          case r: Row => new org.apache.spark.sql.catalyst.expressions
            .GenericRowWithSchema(r.toSeq.toArray, mdt)
          case x => x
        }
        assert(RowEval.validate(sch, value) === ok, s"valid mismatch on $v")
        val re = RowEval.explain(sch, value).map(e =>
          (e.path.mkString("/"), e.in.mkString("/"), e.key)).toSet
        assert(re === errs, s"errors mismatch on $v: roweval $re vs $errs")
      }
      assert(catalyst.map(_._1) === Seq(true, false, true, false))
      assert(catalyst(1)._2.map(_._1).toSet.size === 2, SchemaIR.form(sch))
    }
  }

  test("duality: Catalyst and RowEval agree on random (possibly invalid) rows") {
    val genAny: Gen[Row] = for {
      a <- Gen.oneOf(Gen.chooseNum(-100L, 2000L), Gen.const(null))
      b <- Gen.oneOf(Gen.alphaStr.map(_.take(30)), Gen.const(null))
      c <- Gen.oneOf("x", "bad", null)
      d <- Gen.oneOf(
        Gen.listOfN(3, Gen.chooseNum(-10L, 10L)),
        Gen.listOfN(8, Gen.chooseNum(-5L, 5L)),
        Gen.const(null))
    } yield Row(a, b, c, d)
    val rows = seeded(Gen.listOfN(300, genAny), 105L)
    val catalyst = catalystErrs(rows.map(r => Row(r)))
    rows.zip(catalyst).foreach { case (r, (ok, errs)) =>
      val asValue = new org.apache.spark.sql.catalyst.expressions
        .GenericRowWithSchema(r.toSeq.toArray, dt)
      assert(RowEval.validate(rowSchema, asValue) === ok,
        s"valid mismatch on $r")
      val re = RowEval.explain(rowSchema, asValue).map(e =>
        (e.path.mkString("/"), e.in.mkString("/"), e.key)).toSet
      assert(re === errs, s"errors mismatch on $r")
    }
  }

  test("string length bounds: byte-length sketch ≡ length() on random and invalid UTF-8") {
    // code points of every UTF-8 width, plus raw random bytes (invalid
    // lead/continuation bytes, truncated sequences) cast binary → string,
    // so Spark's numChars walks strings no decoder would accept
    val widths = Seq(Gen.chooseNum(0x20, 0x7e), Gen.chooseNum(0x80, 0x7ff),
      Gen.chooseNum(0x800, 0xd7ff), Gen.chooseNum(0x10000, 0x10ffff))
    val cp: Gen[Int] = Gen.frequency(widths.zip(Seq(4, 2, 2, 2)).map(_.swap): _*)
    def encode(cs: List[Int]) =
      new String(cs.toArray, 0, cs.length).getBytes("UTF-8")
    val mixed: Gen[Array[Byte]] = Gen.chooseNum(0, 45)
      .flatMap(n => Gen.listOfN(n, cp)).map(encode)
    // one width per string puts b = w·n on the edges of the byte band
    val uniform: Gen[Array[Byte]] = for {
      w <- Gen.oneOf(widths)
      n <- Gen.chooseNum(0, 10)
      cs <- Gen.listOfN(n, w)
    } yield encode(cs)
    val utf8 = Gen.oneOf(mixed, uniform)
    val raw: Gen[Array[Byte]] = Gen.chooseNum(0, 60)
      .flatMap(n => Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)))
      .map(_.toArray)
    val genBytes = Gen.frequency(5 -> utf8, 3 -> raw,
      1 -> Gen.zip(utf8, raw).map { case (a, b) => a ++ b },
      1 -> Gen.const(null: Array[Byte]))
    val rows = seeded(Gen.listOfN(500, genBytes), 106L)
    val local = spark.createDataFrame(
        new java.util.ArrayList[Row](rows.map(b => Row(b)).asJava),
        StructType(Seq(StructField("b", BinaryType))))
      .select(F.col("b").cast(StringType).as("s"))
    val bounds = Seq(None, Some(0), Some(1), Some(2), Some(3), Some(5),
      Some(8), Some(40))
    val cases: Seq[(SchemaIR, Column)] = {
      val s = F.col("s")
      def ref(mn: Option[Int], mx: Option[Int]) = s.isNotNull &&
        mn.fold(F.lit(true))(F.length(s) >= _) &&
        mx.fold(F.lit(true))(F.length(s) <= _)
      (SIdent("char"), ref(Some(1), Some(1))) +:
        (for (mn <- bounds; mx <- bounds) yield (SString(mn, mx), ref(mn, mx)))
    }
    val dir = java.nio.file.Files.createTempDirectory("strlen_prop").toString
    try {
      // LocalRelation (interpreted, folded while planning) and parquet
      // (whole-stage codegen) evaluate the same columns
      local.write.mode("overwrite").parquet(dir)
      for (df <- Seq(local, spark.read.parquet(dir))) {
        val out = df.select(F.col("s") +: F.expr("is_valid_utf8(s)") +:
            cases.flatMap { case (ir, r) =>
              Seq(SchemaCompiler.valid(ir, F.col("s"), StringType), r)
            }: _*).collect()
        assert(out.count(r => !r.isNullAt(1) && !r.getBoolean(1)) > 50,
          "too few invalid UTF-8 rows to exercise numChars")
        out.foreach { r =>
          cases.zipWithIndex.foreach { case ((ir, _), i) =>
            val got = r.getBoolean(2 + 2 * i)
            assert(got === r.getBoolean(3 + 2 * i),
              s"$ir sketch != length() on ${r.getString(0)}")
            // RowEval decodes to a JVM string: invalid UTF-8 becomes
            // replacement chars, so it is a twin on valid strings only
            if (r.isNullAt(1) || r.getBoolean(1))
              assert(RowEval.validate(ir, r.getString(0)) === got,
                s"$ir RowEval mismatch on ${r.getString(0)}")
          }
        }
      }
    } finally rmTree(dir)
  }

  test("decode duality: Column null-on-failure ⟺ value keep-original") {
    import mallispark.compile.Transform
    import mallispark.eval.ValueTransform
    // mixed bag: parseable longs/doubles/booleans, empties, garbage —
    // whitespace excluded (Spark's cast trims, Scala's toLong doesn't;
    // the engines document the stricter no-trim contract for values)
    val genS: Gen[String] = Gen.oneOf(
      Gen.chooseNum(-100000L, 100000L).map(_.toString),
      Gen.chooseNum(-1000.0, 1000.0).map(_.toString),
      Gen.oneOf("true", "false", "TRUE", "", "1x", "--3"),
      Gen.stringOfN(4, Gen.alphaChar))
    val inputs = seeded(Gen.listOfN(400, genS), 7701L)
    val src = spark.createDataFrame(
      new java.util.ArrayList[Row](inputs.map(Row(_)).asJava),
      StructType(Seq(StructField("s", StringType))))
    Seq[(String, SchemaIR)]("int" -> SInt(), "double" -> SDouble(),
      "bool" -> SBoolean,
      // child-inferring nodes and keyword decode ride the same duality
      "kw" -> SIdent("keyword"),
      "enum-kw" -> SEnum(Seq(":a", ":b")),
      "enum-int" -> SEnum(Seq(1L, 2L)),
      "eq-dbl" -> SCompare("=", 1.5)).foreach { case (nm, sch) =>
      val colVals = src.select(Transform.decode(sch, F.col("s"),
        StringType, Transform.StringMode).as("d")).collect()
      inputs.zip(colVals).foreach { case (in, row) =>
        val vd = ValueTransform.decode(sch, in, Transform.StringMode)
        if (row.isNullAt(0))
          assert(vd === in, s"$nm '$in': column failed, value decoded $vd")
        else
          assert(vd === row.get(0),
            s"$nm '$in': column ${row.get(0)} vs value $vd")
      }
    }
    // the two hint kernels (FmapColumns vs row-level MiniEval) must
    // produce IDENTICAL results over the shared vocabulary
    val hinted = SProps(NodeProps(decodeHints = Seq("string" -> THint(
      enter =
        Some("""(fn [x] (if (re-matches "[0-9]{2}" x) (str x "0") x))"""),
      leave = Some("(fn [x] (if (>= x 100) (* 10 x) x))")))),
      SAnd(Seq(SInt(), SProps(NodeProps(decodeHints = Seq("string" ->
        THint(enter = Some("inc"), leave = Some("(partial * 2)")))),
        SAny))))
    val nums = (0 until 150).map(_.toString)
    val ncol = spark.createDataFrame(
      new java.util.ArrayList[Row](nums.map(Row(_)).asJava),
      StructType(Seq(StructField("s", StringType))))
    val colHinted = ncol.select(Transform.decode(hinted, F.col("s"),
      StringType, Transform.StringMode).as("d")).collect().map(_.getLong(0))
    nums.zip(colHinted).foreach { case (in, c) =>
      assert(ValueTransform.decode(hinted, in, Transform.StringMode) === c,
        s"hint kernels disagree on '$in'")
    }
  }

  // container decode duality — the nested in-place decode (SMap↔struct,
  // SVector↔array) against the value twin, elementwise: a failed leaf is
  // NULL on the Column tier and the ORIGINAL value on the value tier;
  // successful leaves must agree exactly
  test("decode duality on containers: elementwise null ⟺ keep-original") {
    import mallispark.compile.Transform
    import mallispark.eval.ValueTransform
    val elemGen: Gen[String] = Gen.oneOf(
      Gen.chooseNum(-999L, 999L).map(_.toString),
      Gen.oneOf("true", "false", "x", ""),
      Gen.const(null: String))
    val arrGen = Gen.chooseNum(0, 5).flatMap(n => Gen.listOfN(n, elemGen))
    val rows = seeded(
      Gen.listOfN(200, Gen.zip(arrGen, elemGen, elemGen)), 4242L)
    val st = StructType(Seq(
      StructField("xs", ArrayType(StringType, containsNull = true)),
      StructField("m", StructType(Seq(StructField("a", StringType),
        StructField("b", StringType))))))
    val src = spark.createDataFrame(new java.util.ArrayList[Row](
      rows.map { case (xs, a, b) => Row(xs, Row(a, b)) }.asJava), st)
    val vecSch = S.vector(S.int)
    val mapSch = S.mapE(false, S.req("a", S.int), S.opt("b", S.boolean))
      .asInstanceOf[SMap]
    val got = src.select(
      Transform.decode(vecSch, F.col("xs"),
        st("xs").dataType, Transform.StringMode).as("dxs"),
      Transform.decode(mapSch, F.col("m"),
        st("m").dataType, Transform.StringMode).as("dm")).collect()
    def lawLeaf(sch: SchemaIR, in: Any, colOut: Any, where: => String): Unit = {
      val vd = ValueTransform.decode(sch, in, Transform.StringMode)
      if (colOut == null && in != null)
        assert(vd === in, s"$where: column failed, value decoded $vd")
      else if (colOut != null)
        assert(vd === colOut, s"$where: column $colOut vs value $vd")
      else assert(vd == null, s"$where: null input decoded to $vd")
    }
    rows.zip(got).foreach { case ((xs, a, b), r) =>
      // vector: element-for-element
      val dxs = if (r.isNullAt(0)) null else r.getSeq[Any](0)
      if (xs == null) assert(dxs == null)
      else {
        assert(dxs != null && dxs.size === xs.size)
        xs.zip(dxs).zipWithIndex.foreach { case ((in, out), i) =>
          lawLeaf(S.int, in, out, s"xs[$i] of $xs") }
        // whole-container value twin agrees with the elementwise law
        val vv = ValueTransform.decode(vecSch, xs.toVector,
          Transform.StringMode)
        assert(vv.asInstanceOf[Seq[Any]].size === xs.size)
      }
      // struct: field-for-field
      val dm = r.getStruct(1)
      lawLeaf(S.int, a, if (dm.isNullAt(0)) null else dm.get(0), s"m.a=$a")
      lawLeaf(S.boolean, b, if (dm.isNullAt(1)) null else dm.get(1),
        s"m.b=$b")
      val vm = ValueTransform.decode(mapSch,
        Map("a" -> a, "b" -> b), Transform.StringMode)
        .asInstanceOf[scala.collection.Map[String, Any]]
      assert(vm.keySet === Set("a", "b"))
    }
  }

  // encode duality over GENERATED (valid, typed) values: the Column
  // encoder and the value twin must agree exactly — encode never fails
  // on schema-conforming input, so this is a strict equality law
  test("encode duality on generated values: Column ⟺ value tier") {
    import mallispark.compile.Transform
    import mallispark.eval.ValueTransform
    import mallispark.gen.Generate
    def norm(v: Any): Any = v match {
      case r: Row if r.schema != null =>
        r.schema.fieldNames.zip(r.toSeq.map(norm)).toMap
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => norm(k) -> norm(x) }.toMap
      case xs: scala.collection.Seq[_] => xs.toVector.map(norm)
      case a: Array[_] => a.toVector.map(norm)
      case d: java.sql.Date => d.toString
      case t: java.sql.Timestamp => t.toInstant.toString
      case x => x
    }
    val shapes: Seq[(String, SchemaIR)] = Seq(
      "i" -> S.int(0L, 1000L),
      "d" -> S.double(0.0, 10.0),
      "b" -> S.boolean,
      "kw" -> S.keyword,
      "vec" -> S.vector(S.int(0L, 9L), max = Some(4)),
      "nested" -> S.mapE(false, S.req("x", S.int(0L, 9L)),
        S.req("y", S.string(min = 1, max = 4))),
      "mb" -> S.maybe(S.int(0L, 9L)))
    val top = S.mapE(false,
      shapes.map { case (k, c) => S.req(k, c) }: _*).asInstanceOf[SMap]
    Seq(Transform.StringMode, Transform.JsonMode).foreach { mode =>
      val df = Generate.dfFromSchema(spark, top, 200, seed = 77)
      val st = df.schema
      val enc = df.select(shapes.map { case (k, sch) =>
        Transform.encode(sch, F.col(k), st(k).dataType, mode).as(k) }: _*)
      val before = df.collect()
      val after = enc.collect()
      before.zip(after).foreach { case (b, a) =>
        shapes.zipWithIndex.foreach { case ((k, sch), _) =>
          val in = norm(b.get(st.fieldIndex(k)))
          val colOut = norm(a.get(a.schema.fieldIndex(k)))
          val valOut = norm(ValueTransform.encode(sch, in, mode))
          assert(valOut === colOut,
            s"encode($mode) $k on $in: column $colOut vs value $valOut")
        }
      }
    }
  }

  // parse∘unparse identity over GENERATED values — the reference's parser
  // round-trip property (generator_test + parser_test): for every v drawn
  // from gen(schema), parse(v) succeeds and unparse(parse(v)) == v. Shapes
  // chosen to exercise every TRANSFORMING parser (tags, tags-records,
  // iteration trees) plus props-wrapped splicing.
  test("parse∘unparse identity on generated values (transforming parsers)") {
    import mallispark.gen.Generate
    import RowEval.{parseValue, unparseValue}
    def norm(v: Any): Any = v match {
      case r: Row if r.schema != null =>
        r.schema.fieldNames.zip(r.toSeq.map(norm)).toMap
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => norm(k) -> norm(x) }.toMap
      case xs: scala.collection.Seq[_] => xs.toVector.map(norm)
      case a: Array[_] => a.toVector.map(norm)
      case x => x
    }
    val shapes: Seq[(String, SchemaIR)] = Seq(
      "orn" -> S.orn("neg" -> S.intMax(-1L), "zero" -> S.eq_(0L),
        "pos" -> S.intMin(1L)),
      "catn" -> S.catn("a" -> S.int(0L, 5L), "b" -> S.int(10L, 15L)),
      "star" -> S.star(S.enum_("a", "b")),
      "rep" -> S.repeat(S.int(0L, 3L), 1, 3),
      "cat_alt" -> S.cat(S.int(0L, 5L),
        S.alt(S.int(10L, 15L), S.int(20L, 25L))),
      "or_simple" -> S.or(S.int(0L, 10L), S.int(50L, 60L)),
      "vec_orn" -> S.vector(
        S.orn("lo" -> S.int(0L, 4L), "hi" -> S.int(5L, 9L)), max = Some(4)),
      "andn" -> S.andn("o" -> S.orn("l" -> S.int(0L, 9L)), "f" -> S.gte(0L)),
      // props on a regex op must SPLICE through parse and unparse
      "props_catn" -> SProps(NodeProps(extra = Seq(":user/tag" -> 1L)),
        S.catn("x" -> S.int(0L, 5L), "y" -> S.int(10L, 15L))))
    val top = S.mapE(false,
      shapes.map { case (k, c) => S.req(k, c) }: _*).asInstanceOf[SMap]
    val df = Generate.dfFromSchema(spark, top, 300, seed = 31)
    val sub = df.schema
    df.collect().foreach { r =>
      shapes.foreach { case (k, sch) =>
        val raw = r.get(sub.fieldIndex(k))
        val v = norm(raw)
        val p = parseValue(sch, v)
        assert(p.isDefined, s"parse failed for $k on $v")
        val un = unparseValue(sch, p.get)
        assert(un.isDefined, s"unparse failed for $k on tree ${p.get}")
        assert(norm(un.get) === v, s"round-trip drift for $k: $v -> ${un.get}")
        // and the value still validates after the round trip
        assert(RowEval.validate(sch, un.get), s"post-roundtrip invalid: $k")
      }
    }
  }

  // the four sequence-regex entry points (validate, explain, parse,
  // unparse) share one set of combinators in the reference
  // (impl/regex.cljc validator/explainer/parser/unparser): over random
  // nested seq-regex schemas and short sequences they must agree on every
  // verdict, and unparse must invert parse
  test("seq-regex validate ⇔ parse ⇔ explain, unparse∘parse = id") {
    val props = NodeProps(extra = Seq(":user/tag" -> 1L))
    val leafGen: Gen[SchemaIR] = Gen.oneOf(
      S.int(0L, 5L), S.int(3L, 9L), S.enum_("a", "b"), S.string(max = 1),
      // transforming leaf: parses to a tag inside the sequence
      S.orn("lo" -> S.int(0L, 4L), "hi" -> S.int(5L, 9L)),
      SProps(props, S.int(0L, 9L)))
    def opGen(d: Int): Gen[SchemaIR] = {
      val sub = Gen.lzy(nodeGen(d - 1))
      Gen.oneOf(
        Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, sub)).map(cs => S.cat(cs: _*)),
        Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, sub)).map(cs =>
          S.catn(cs.zipWithIndex.map { case (c, i) => s"k$i" -> c }: _*)),
        sub.map(S.star), sub.map(S.plus), sub.map(S.optional),
        for { c <- sub; mn <- Gen.chooseNum(0, 2); ex <- Gen.chooseNum(0, 2) }
          yield S.repeat(c, mn, mn + ex),
        // :repeat with a :min over a nullable child (epsilon iterations)
        sub.map(c => S.repeat(S.optional(c), 2, 3)),
        // props and registry-prop scopes splice around a regex op
        Gen.lzy(opGen(d - 1)).map(c => SProps(props, c)),
        Gen.lzy(opGen(d - 1)).map(c => SScoped(Map("t" -> S.int(0L, 9L)),
          S.cat(S.ref("t"), c), boundary = false)))
    }
    def altGen(d: Int): Gen[SchemaIR] = {
      val bs = Gen.chooseNum(2, 3).flatMap(Gen.listOfN(_, Gen.lzy(nodeGen(d - 1))))
      Gen.oneOf(bs.map(cs => S.alt(cs: _*)), bs.map(cs =>
        S.altn(cs.zipWithIndex.map { case (c, i) => s"b$i" -> c }: _*)))
    }
    def nodeGen(d: Int): Gen[SchemaIR] =
      if (d <= 0) leafGen
      else Gen.frequency(
        3 -> leafGen,
        3 -> opGen(d),
        2 -> altGen(d),
        // props around :alt/:altn splice like props around any regex op
        1 -> altGen(d).map(SProps(props, _)))
    // a sequence the schema accepts (the generator's regex semantics)
    def sample(ir: SchemaIR)(implicit reg: Registry): Gen[Vector[Any]] = ir match {
      case SProps(_, c) => sample(c)
      case SScoped(l, c, false) => sample(c)(Registry(reg.schemas ++ l))
      case SCat(cs) => Gen.sequence[Vector[Vector[Any]], Vector[Any]](cs.map(sample))
        .map(_.flatten)
      case SCatn(es) => sample(SCat(es.map(_._2)))
      case SAlt(cs) => Gen.oneOf(cs).flatMap(sample)
      case SAltn(es) => Gen.oneOf(es.map(_._2)).flatMap(sample)
      case SStar(c) => Gen.chooseNum(0, 2).flatMap(n => sample(SRepeat(c, n, n)))
      case SPlus(c) => Gen.chooseNum(1, 2).flatMap(n => sample(SRepeat(c, n, n)))
      case SOpt(c) => Gen.oneOf(Gen.const(Vector.empty[Any]), sample(c))
      case SRepeat(c, mn, mx) => Gen.chooseNum(mn, mx).flatMap(n =>
        Gen.listOfN(n, sample(c)).map(_.toVector.flatten))
      case leaf => Gen.oneOf(Seq[Any](0L, 2L, 4L, 5L, 7L, 9L, "a", "b")
        .filter(RowEval.validate(leaf, _)(reg, 8))).map(Vector(_))
    }
    val elem: Gen[Any] = Gen.oneOf[Any](0L, 2L, 4L, 5L, 7L, 9L, "a", "b", "ab", true)
    val topGen = opGen(3).filter(r => SchemaIR.isRegexOp(r))
    val schemas = seeded(Gen.listOfN(150, topGen), 20261020L)
    var valid, invalid = 0
    schemas.zipWithIndex.foreach { case (sch, i) =>
      val f = SchemaIR.form(sch)
      val seqs = seeded(Gen.listOfN(6, sample(sch)(Registry.empty)), 7000L + i) ++
        seeded(Gen.listOfN(10, Gen.chooseNum(0, 5).flatMap(
          Gen.listOfN(_, elem)).map(_.toVector)), 9000L + i)
      seqs.foreach { xs =>
        val ok = RowEval.validate(sch, xs)
        val parsed = RowEval.reParse(sch, xs)
        val errs = RowEval.reExplain(sch, xs)
        assert(parsed.isDefined === ok, s"parse/validate disagree on $f at $xs")
        assert(errs.isEmpty === ok, s"explain/validate disagree on $f at $xs: $errs")
        parsed.foreach { t =>
          assert(RowEval.reUnparse(sch, t) === xs,
            s"unparse∘parse drift on $f at $xs (tree $t)")
        }
        errs.foreach { e =>
          assert(e.key == SchemaIR.ErrorKeys.EndOfInput ||
            e.key == SchemaIR.ErrorKeys.InputRemaining ||
            e.in.head.toInt < xs.length, s"explain position out of range on $f at $xs: $e")
        }
        if (ok) valid += 1 else invalid += 1
      }
    }
    // both verdicts are well represented
    assert(valid > 500 && invalid > 500, s"valid $valid, invalid $invalid")
  }
}
