package mallispark

import org.apache.spark.sql.{functions => F, DataFrame, Row}
import org.apache.spark.sql.types._
import mallispark.ir.{S, SchemaIR}
import mallispark.ir.SchemaIR._
import mallispark.compile.SchemaCompiler

class DeepNestSpec extends SparkSuite {
  implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()
  // depth-D closed-innermost chain whose innermost level carries a stray
  // BINARY field and a struct-valued stray with a NULL field, a date and
  // a timestamp — the hatch's value stringifier must match to_json
  // exactly (base64 binaries, null struct fields dropped, dates quoted ISO)
  private def strayFixture(D: Int): (SMap, StructType, DataFrame) = {
    import scala.jdk.CollectionConverters._
    def bsch(d: Int): SchemaIR =
      if (d == 0) S.mapE(true, S.req("leaf", S.int(0L, 100L)))
      else S.mapE(false, S.req("leaf", S.int(0L, 100L)),
        S.req("kid", bsch(d - 1)))
    def bdt(d: Int): DataType =
      if (d == 0) StructType(Seq(StructField("leaf", LongType),
        StructField("stray", BinaryType),
        StructField("strayrec", StructType(Seq(
          StructField("a", LongType, nullable = true),
          StructField("d", DateType),
          StructField("t", TimestampType))))))
      else StructType(Seq(StructField("leaf", LongType),
        StructField("kid", bdt(d - 1))))
    def bv(d: Int, x: Long): Any =
      if (d == 0) Row(x, Array[Byte](1, 2, (x % 100).toByte),
        Row(null, java.sql.Date.valueOf("2024-03-05"),
          java.sql.Timestamp.from(
            java.time.Instant.parse("2024-03-05T12:34:56.250Z"))))
      else Row(x, bv(d - 1, x))
    val top = S.mapE(false, S.req("root", bsch(D))).asInstanceOf[SMap]
    val st = StructType(Seq(StructField("root", bdt(D))))
    val rows = (0 until 30).map(i =>
      Row(bv(D, (i * 7) % 130).asInstanceOf[Row]))
    (top, st, spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), st))
  }

  test("30-level nested struct validates via the interpreter escape hatch") {
    import scala.jdk.CollectionConverters._
    def sch(d: Int): SchemaIR =
      if (d == 0) S.int(0L, 100L)
      else S.mapE(false, S.req("leaf", S.int(0L, 100L)), S.req("kid", sch(d - 1)))
    def dt(d: Int): DataType =
      if (d == 0) LongType
      else StructType(Seq(StructField("leaf", LongType), StructField("kid", dt(d - 1))))
    def v(d: Int, x: Long): Any = if (d == 0) x else Row(x, v(d - 1, x))
    val D = Integer.parseInt(sys.env.getOrElse("PROBE_DEPTH", "30"))
    val top = S.mapE(false, S.req("root", sch(D))).asInstanceOf[SMap]
    val st = StructType(Seq(StructField("root", dt(D))))
    val rows = (0 until 200).map(i => Row(v(D, i % 120).asInstanceOf[Row]))
    val tmp = java.nio.file.Files.createTempDirectory("deep").toString
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), st)
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val t0 = System.nanoTime()
    val flagged = SchemaCompiler.validateDF(top, df, "ok")
    val built = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val bad = flagged.where(!F.col("ok")).collect().length
    val first = (System.nanoTime() - t1) / 1e9
    println(s"[probe] build ${built}s first ${first}s bad=$bad")
    val t2 = System.nanoTime()
    val nv = SchemaCompiler.violationsDF(top, df, Seq.empty).count()
    println(s"[probe] violations ${(System.nanoTime() - t2) / 1e9}s nv=$nv")
    assert(nv === bad.toLong * (D + 1)) // every level flags the bad leaf
    rmTree(tmp)
    // leaf values cycle i % 120; values 101..119 are invalid -> for 200
    // rows that is the count of i with (i % 120) > 100
    val expectBad = (0 until 200).count(i => i % 120 > 100)
    assert(bad === expectBad)

  }

  // a 20-level chain behind a :merge is as deep as the chain itself: the
  // depth estimate and the top-level entry see through the merge, so the
  // plan carries the hatch UDF instead of the exponential inline compile.
  // The plan is checked ANALYZED, before anything runs: an inline compile
  // of this chain would spend minutes or exhaust the driver in codegen
  private def mergeChain(D: Int): (SchemaIR, DataFrame) = {
    import scala.jdk.CollectionConverters._
    def sch(d: Int): SchemaIR =
      if (d == 0) S.int(0L, 100L)
      else S.mapE(false, S.req("leaf", S.int(0L, 100L)),
        S.req("kid", sch(d - 1)))
    def dt(d: Int): DataType =
      if (d == 0) LongType
      else StructType(Seq(StructField("leaf", LongType),
        StructField("kid", dt(d - 1))))
    def v(d: Int, x: Long): Any = if (d == 0) x else Row(x, v(d - 1, x))
    val st = StructType(Seq(StructField("root", dt(D))))
    val rows = (0 until 40).map(i => Row(v(D, (i * 7) % 130)))
    (sch(D), spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), st))
  }

  /** `merged` must take the hatch and agree with `plain`; each of
    * `plain`'s error paths stands for the paths `paths` maps it to. */
  private def hatchVerdicts(merged: SchemaIR, plain: SchemaIR, df: DataFrame,
                            paths: String => Seq[String] = Seq(_)): Unit = {
    def analyzedUdf(out: DataFrame) =
      out.queryExecution.analyzed.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF]))
    val valid = SchemaCompiler.validateDF(merged, df, "ok")
    assert(analyzedUdf(valid), "merged deep chain compiled inline (valid)")
    val explained = SchemaCompiler.explainDF(merged, df, "e")
    assert(analyzedUdf(explained), "merged deep chain compiled inline (errors)")
    def verdicts(out: DataFrame) = out.select("ok").collect().map(_.getBoolean(0)).toSeq
    def errs(out: DataFrame) = out.select("e").collect().map(_.getSeq[Row](0)
      .map(e => (e.getString(0), e.getString(1), e.getString(2), e.getString(3)))
      .toSet).toSeq
    val plainValid = SchemaCompiler.validateDF(plain, df, "ok")
    assert(verdicts(valid) === verdicts(plainValid))
    assert(verdicts(valid).count(!_) === (0 until 40).count(i => (i * 7) % 130 > 100))
    assert(errs(explained) === errs(SchemaCompiler.explainDF(plain, df, "e"))
      .map(_.flatMap { case (p, i, k, v) => paths(p).map((_, i, k, v)) }))
  }

  test("a deep chain nested behind :merge rides the hatch") {
    val (chain, df) = mergeChain(20)
    val extra = S.mapE(false, S.opt("note", S.string))
    hatchVerdicts(
      S.mapE(false, S.req("root", S.mergeOf(chain, extra))),
      S.mapE(false, S.req("root", chain)), df)
  }

  test("a deep chain under a top-level :merge rides the hatch") {
    val (chain, df) = mergeChain(20)
    val top = S.mapE(false, S.req("root", chain))
    hatchVerdicts(S.mergeOf(top, S.mapE(false, S.opt("note", S.string))), top, df)
  }

  // a top-level schema that peels to no :map at all is measured too
  test("a deep chain under a top-level [:and m m] rides the hatch") {
    val (chain, df) = mergeChain(20)
    val top = S.mapE(false, S.req("root", chain))
    hatchVerdicts(S.and(top, top), top, df, p => Seq(s"0/$p", s"1/$p"))
  }

  // the hatch must be INVISIBLE semantically: just past each threshold
  // the interpreter UDF's output equals the Column tier's
  // single-expression output on the same data
  test("escape-hatch ≡ Column tier at both threshold boundaries") {
    import scala.jdk.CollectionConverters._
    def sch(d: Int): SchemaIR =
      if (d == 0) S.int(0L, 100L)
      else S.mapE(false, S.req("leaf", S.int(0L, 100L)),
        S.req("kid", sch(d - 1)))
    def dt(d: Int): DataType =
      if (d == 0) LongType
      else StructType(Seq(StructField("leaf", LongType),
        StructField("kid", dt(d - 1))))
    def v(d: Int, x: Long): Any = if (d == 0) x else Row(x, v(d - 1, x))
    def mk(D: Int) = {
      val top = S.mapE(false, S.req("root", sch(D))).asInstanceOf[SMap]
      val st = StructType(Seq(StructField("root", dt(D))))
      val rows = (0 until 60).map(i =>
        Row(v(D, (i * 7) % 130).asInstanceOf[Row]))
      (top, st, spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), st))
    }
    // valid: depth 17 rides the hatch; the generic route still compiles
    locally {
      val (top, st, df) = mk(17)
      val hatch = SchemaCompiler.validateDF(top, df, "ok")
        .select("ok").collect().map(_.getBoolean(0))
      val generic = df.select(SchemaCompiler.valid(top,
          F.struct(F.col("root")), st).as("ok"))
        .collect().map(_.getBoolean(0))
      assert(hatch.toSeq === generic.toSeq)
    }
    // a deep chain wrapped in :maybe at every level must STILL count as
    // deep (the heuristic descends wrappers) — depth 30 through maybes
    // completes instead of hitting the codegen wall
    locally {
      def msch(d: Int): SchemaIR =
        if (d == 0) S.int(0L, 100L)
        else S.maybe(S.mapE(false, S.req("leaf", S.int(0L, 100L)),
          S.req("kid", msch(d - 1))))
      val top = S.mapE(false, S.req("root", msch(30))).asInstanceOf[SMap]
      val st = StructType(Seq(StructField("root", dt(30))))
      val rows = (0 until 20).map(i =>
        Row(v(30, (i * 7) % 130).asInstanceOf[Row]))
      val df = spark.createDataFrame(
        new java.util.ArrayList[Row](rows.asJava), st)
      val bad = SchemaCompiler.validateDF(top, df, "ok")
        .where(!F.col("ok")).count()
      assert(bad === (0 until 20).count(i => (i * 7) % 130 > 100))
    }
    // errors: depth 11 rides the hatch (errors wall is lower); a stray
    // BINARY field under a closed innermost map pins value-string parity
    // (base64 on both tiers — not a JVM array identity hash)
    locally {
      val (top, st, df) = strayFixture(11)
      def errSet(r: Row) = r.getSeq[Row](0)
        .map(e => (e.getString(0), e.getString(1), e.getString(2),
          e.getString(3))).toSet
      val hatch = SchemaCompiler.explainDF(top, df, "e")
        .select(F.col("e")).collect()
      val generic = df.select(SchemaCompiler.errors(top,
          F.struct(F.col("root")), st, "", F.lit("")).as("e"))
        .collect()
      hatch.zip(generic).zipWithIndex.foreach { case ((h, g), i) =>
        assert(errSet(h) === errSet(g), s"row $i binary-errors diverge")
      }
      // every row carries the stray binary -> extra-key with base64 value
      val sample = errSet(hatch.head)
      assert(sample.exists { case (_, _, k, v) =>
        k == ErrorKeys.ExtraKey && v == java.util.Base64.getEncoder
          .encodeToString(Array[Byte](1, 2, 0)) })
    }
    // errors: depth 11 rides the hatch (errors wall is lower)
    locally {
      val (top, st, df) = mk(11)
      def errSet(r: Row) = r.getSeq[Row](0)
        .map(e => (e.getString(0), e.getString(1), e.getString(2),
          e.getString(3))).toSet
      val hatch = SchemaCompiler.explainDF(top, df, "e")
        .select(F.col("e")).collect()
      val generic = df.select(SchemaCompiler.errors(top,
          F.struct(F.col("root")), st, "", F.lit("")).as("e"))
        .collect()
      hatch.zip(generic).zipWithIndex.foreach { case ((h, g), i) =>
        assert(errSet(h) === errSet(g), s"row $i errors diverge")
      }
    }
  }

  // the hatch renders timestamps in UTC while to_json follows the session
  // zone: under any other zone the hatch refuses instead of diverging
  test("deep-nest errors over a timestamp fail fast off a UTC session zone") {
    val (top, _, df) = strayFixture(11)
    val conf = "spark.sql.session.timeZone"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "America/New_York")
      val e = intercept[IllegalArgumentException] {
        SchemaCompiler.explainDF(top, df, "e")
      }
      assert(e.getMessage.contains(conf), e.getMessage)
      spark.conf.set(conf, "Etc/UTC") // an alias of UTC is accepted
      SchemaCompiler.explainDF(top, df, "e")
    } finally spark.conf.set(conf, prev)
  }

  // a ref whose TARGET is a deep struct chain must count its
  // dereferenced depth (the valid()/errors() compile inline-unrolls the
  // target), not a flat 1 — otherwise the exponential-codegen OOM the
  // hatch prevents is reachable through one [:ref]
  test("ref targets count dereferenced depth; shallow recursion stays codegen") {
    import scala.jdk.CollectionConverters._
    def sch(d: Int): SchemaIR =
      if (d == 0) S.int(0L, 100L)
      else S.mapE(false, S.req("leaf", S.int(0L, 100L)),
        S.req("kid", sch(d - 1)))
    def dt(d: Int): DataType =
      if (d == 0) LongType
      else StructType(Seq(StructField("leaf", LongType),
        StructField("kid", dt(d - 1))))
    def v(d: Int, x: Long): Any = if (d == 0) x else Row(x, v(d - 1, x))
    val D = 18 // > valid threshold 16 once dereferenced; codegen twin still compiles
    val top = S.scoped("chain" -> sch(D))(
      S.mapE(false, S.req("root", S.ref("chain"))))
    val st = StructType(Seq(StructField("root", dt(D))))
    val rows = (0 until 60).map(i => Row(v(D, (i * 7) % 130).asInstanceOf[Row]))
    // parquet round-trip: ConvertToLocalRelation would eagerly fold a
    // LocalRelation plan and hide the hatch UDF from the assertion
    val tmp = java.nio.file.Files.createTempDirectory("refdeep").toString
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), st)
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    val flagged = SchemaCompiler.validateDF(top, df, "ok")
    assert(flagged.queryExecution.executedPlan.toString.contains("UDF"),
      "deep ref chain did not engage the interpreter hatch")
    val hatch = flagged.select("ok").collect().map(_.getBoolean(0))
    val generic = df.select(SchemaCompiler.valid(top,
        F.struct(F.col("root")), st).as("ok"))
      .collect().map(_.getBoolean(0))
    assert(hatch.toSeq === generic.toSeq)
    // the v_recursive_ref shape (1 map per unroll, ctx.depth 8) must stay
    // on the codegen tier — over-counting would silently route shallow
    // recursive schemas through the row interpreter
    val rec = S.scoped("node" -> S.mapE(false,
        S.req("v", S.intMin(0L)),
        S.opt("kids", S.vector(S.ref("node")))))(
      S.mapE(false, S.req("doc_id", S.int), S.req("tree", S.ref("node"))))
    val treeDt = StructType(Seq(StructField("v", LongType),
      StructField("kids", ArrayType(StructType(Seq(
        StructField("v", LongType)))))))
    val recSt = StructType(Seq(StructField("doc_id", LongType),
      StructField("tree", treeDt)))
    val recRows = (0 until 5).map(i =>
      Row(i.toLong, Row(i.toLong, Seq(Row(i.toLong)))))
    val tmp2 = java.nio.file.Files.createTempDirectory("refshal").toString
    spark.createDataFrame(
        new java.util.ArrayList[Row](recRows.asJava), recSt)
      .write.mode("overwrite").parquet(tmp2)
    val recDf = spark.read.parquet(tmp2)
    val recPlan = SchemaCompiler.validateDF(rec, recDf, "ok")
      .queryExecution.executedPlan.toString
    assert(!recPlan.contains("UDF"),
      "shallow recursive ref wrongly engaged the hatch")
    // MUTUAL recursion A→B→A: the unroll budget is SHARED across refs
    // (one ctx.depth unit per deref, whichever name), so two 2-map
    // segments alternating 8 times compile ~17 levels deep — the
    // estimate must count that (a self-reference-only check would see
    // depth 4 and compile the exponential chain)
    def seg(to: String): SchemaIR =
      S.mapE(false, S.req("leaf", S.int(0L, 100L)),
        S.req("kid", S.mapE(false, S.req("leaf", S.int(0L, 100L)),
          S.req("kid", S.ref(to)))))
    val mut = S.scoped("A" -> seg("B"), "B" -> seg("A"))(
      S.mapE(false, S.req("root", S.ref("A"))))
    val mutSt = StructType(Seq(StructField("root", dt(20))))
    val mutRows = (0 until 40).map(i =>
      Row(v(20, (i * 7) % 130).asInstanceOf[Row]))
    val tmp3 = java.nio.file.Files.createTempDirectory("refmut").toString
    spark.createDataFrame(new java.util.ArrayList[Row](mutRows.asJava), mutSt)
      .write.mode("overwrite").parquet(tmp3)
    val mutDf = spark.read.parquet(tmp3)
    val mutFlagged = SchemaCompiler.validateDF(mut, mutDf, "ok")
    assert(mutFlagged.queryExecution.executedPlan.toString.contains("UDF"),
      "mutually recursive deep chain did not engage the hatch")
    val mutHatch = mutFlagged.select("ok").collect().map(_.getBoolean(0))
    val mutGeneric = mutDf.select(SchemaCompiler.valid(mut,
        F.struct(F.col("root")), mutSt).as("ok"))
      .collect().map(_.getBoolean(0))
    assert(mutHatch.toSeq === mutGeneric.toSeq)
    rmTree(tmp); rmTree(tmp2); rmTree(tmp3)
  }
}
