package mallispark

import org.apache.spark.sql.Row
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.checks.TableChecks

/** Table-check fixtures (FIXTURES.md §3): known injected anomalies →
  * exact expected outputs. */
class TableChecksSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  private def df(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(new java.util.ArrayList[Row](rows.asJava), schema)

  private val kv = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("columnStats: exact counts, native-type min/max, HLL within 5%") {
    val rows = (1L to 100L).map(i =>
      Row(i, if (i % 10 == 0) null else s"s$i"))
    val stats = TableChecks.columnStats(df(rows, kv), Seq("k", "v"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(stats("k").getLong(1) === 100L) // cnt
    assert(stats("k").getLong(2) === 0L)   // nulls
    assert(stats("k").getString(3) === "1" && stats("k").getString(4) === "100")
    assert(stats("v").getLong(2) === 10L)  // injected nulls
    val approx = stats("k").getLong(5)
    assert(math.abs(approx - 100L) <= 5, s"HLL too far: $approx")
  }

  test("duplicates + duplicateRows: exactly k injected dup rows flagged") {
    val rows = (1L to 50L).map(i => Row(i, s"v$i")) ++
      Seq(Row(7L, "dup1"), Row(7L, "dup2"), Row(13L, "dup3"))
    val d = df(rows, kv)
    val dups = TableChecks.duplicates(d, "k").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups === Map(7L -> 3L, 13L -> 2L))
    val extra = TableChecks.duplicateRows(d, "k", "v").collect()
    assert(extra.length === 3) // rows beyond first occurrence: 2 for k=7, 1 for k=13
    assert(extra.forall(_.getString(2) === "malli.core/duplicate-keys"))
  }

  test("orphans: m dropped parents -> m orphan children") {
    val child = df((1L to 20L).map(i => Row(i, s"c$i")), kv)
    val parent = df((1L to 20L).filterNot(i => i == 3 || i == 17)
      .map(i => Row(i, s"p$i")), kv)
    val orphans = TableChecks.orphans(child, "k", parent, "k",
      broadcastParent = true).collect().map(_.getLong(0)).sorted
    assert(orphans.toSeq === Seq(3L, 17L))
  }

  test("byteIdentity: j perturbed texts -> j hash mismatches") {
    // plus null <-> value (31, 34), null <-> "" (32, 35) and null <-> null
    // (33): a null digests to the empty binary, so only 33 matches
    val nulls = Seq((31L, null, "x"), (32L, null, ""), (33L, null, null),
      (34L, "x", null), (35L, "", null))
    val a = df((1L to 30L).map(i => Row(i, s"text$i")) ++
      nulls.map(n => Row(n._1, n._2)), kv)
    val b = df((1L to 30L).map(i =>
      Row(i, if (i % 11 == 0) s"text${i}X" else s"text$i")) ++
      nulls.map(n => Row(n._1, n._3)), kv)
    val bad = TableChecks.byteIdentityViolations(a, b, "k", "v")
      .collect().map(_.getLong(0)).sorted
    assert(bad.toSeq === Seq(11L, 22L, 31L, 32L, 34L, 35L))
  }

  test("snapshotDiff: added/removed/modified classified; unchanged and null-null excluded") {
    val prev = df(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c"),
      Row(5L, null)), kv)
    val curr = df(Seq(Row(1L, "a"), Row(2L, "B"), Row(4L, "d"),
      Row(5L, null)), kv)
    val diff = TableChecks.snapshotDiff(curr, prev, "k", F.col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 unchanged, 5 null-in-both (unchanged) — both excluded
    assert(diff === Map(2L -> "modified", 3L -> "removed", 4L -> "added"))
  }

  test("snapshotDiff: null-vs-value payload is modified, not added/removed") {
    val prev = df(Seq(Row(1L, "a")), kv)
    val curr = df(Seq(Row(1L, null)), kv)
    val diff = TableChecks.snapshotDiff(curr, prev, "k", F.col("v")).collect()
    assert(diff.length === 1 && diff(0).getString(1) === "modified")
  }

  test("snapshotDiff: null <-> empty payload is modified (null sentinel never collides)") {
    // the null sentinel is the empty binary; sha2 of an empty payload is
    // still 32 bytes, so null and "" must digest apart, both directions
    // and for string and binary payloads alike
    val prev = df(Seq(Row(1L, null), Row(2L, ""), Row(3L, null)), kv)
    val curr = df(Seq(Row(1L, ""), Row(2L, null), Row(3L, null)), kv)
    val diff = TableChecks.snapshotDiff(curr, prev, "k", F.col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diff === Map(1L -> "modified", 2L -> "modified"))
    val bin = StructType(Seq(
      StructField("k", LongType), StructField("v", BinaryType)))
    val prevB = df(Seq(Row(1L, null), Row(2L, Array.emptyByteArray)), bin)
    val currB = df(Seq(Row(1L, Array.emptyByteArray), Row(2L, null)), bin)
    val diffB = TableChecks.snapshotDiff(currB, prevB, "k", F.col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(diffB === Map(1L -> "modified", 2L -> "modified"))
  }

  test("chiSquare: shifted distribution flags, identical passes") {
    val a = df((1L to 300L).map(i => Row(i, if (i % 3 == 0) "x" else "y")), kv)
    val same = df((1L to 300L).map(i => Row(i, if (i % 3 == 0) "x" else "y")), kv)
    val shifted = df((1L to 300L).map(i => Row(i, if (i % 3 == 0) "y" else "x")), kv)
    val statSame = TableChecks.chiSquare(a, same, "v").collect()(0).getDouble(0)
    val statShift = TableChecks.chiSquare(a, shifted, "v").collect()(0).getDouble(0)
    assert(statSame < 0.001)
    assert(statShift > 50.0) // massive shift
  }

  test("columnStats and nullCounts survive dotted column names") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("a.b", LongType), StructField("plain", StringType)))
    val rows = Seq(Row(1L, "x"), Row(null, "y"), Row(3L, null))
    val d = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), sch)
    val stats = TableChecks.columnStats(d, Seq("a.b", "plain"))
      .orderBy("column_name").collect()
    assert(stats.map(_.getString(0)).toSeq === Seq("a.b", "plain"))
    assert(stats(0).getLong(1) === 2L) // cnt of a.b
    assert(stats(0).getLong(2) === 1L) // null_cnt of a.b
    val nulls = TableChecks.nullCounts(d, Seq("a.b", "plain"))
      .orderBy("column_name").collect()
    assert(nulls.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a.b", 1L), ("plain", 1L)))
  }

  test("chiSquare on empty inputs keeps the degenerate contract") {
    // both frames empty → statistic 0.0, dof -1, zero totals (never an
    // all-NULL row a threshold comparison would silently skip)
    val e1 = df(Seq.empty[Row], kv)
    val e2 = df(Seq.empty[Row], kv)
    val r = TableChecks.chiSquare(e1, e2, "v").collect()(0)
    assert(r.getDouble(0) === 0.0)
    assert(r.getLong(1) === -1L)
    assert(r.getLong(2) === 0L)
    assert(r.getLong(3) === 0L)
  }

  test("chiSquare streams a 10^6-category column (distributive state)") {
    // one distinct category per row: the pre-round-6 implementation
    // packed all 10^6 cells into a single collect_list buffer; the
    // distributive form sums per-cell statistics through ordinary
    // partial+final aggregation, so this must complete with exact output
    val n = 1000000L
    val a = spark.range(n)
      .select(F.concat(F.lit("c"), F.col("id")).as("v"))
    val b = spark.range(n / 2, n + n / 2)
      .select(F.concat(F.lit("c"), F.col("id")).as("v"))
    val r = TableChecks.chiSquare(a, b, "v").collect()(0)
    // identical halves contribute 0; each disjoint cell contributes
    // (1*1 - 0)^2/1 = 1 (k1=k2=1 since n_a=n_b) → statistic = 10^6
    assert(math.abs(r.getDouble(0) - n.toDouble) < 1e-6)
    assert(r.getLong(1) === (n + n / 2 - 1)) // dof = cells-1
    assert(r.getLong(2) === n && r.getLong(3) === n)
  }

  test("ksExact matches a driver-side reference KS on seeded random samples") {
    val rnd = new scala.util.Random(20260817L)
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("grp", LongType)))
    // two overlapping-but-different distributions with repeated values
    val a = Seq.fill(400)(math.floor(rnd.nextGaussian() * 10) / 4.0)
    val b = Seq.fill(300)(math.floor((rnd.nextGaussian() + 0.7) * 10) / 4.0)
    val rows = a.map(Row(_, 0L)) ++ b.map(Row(_, 1L))
    val got = TableChecks.ksExact(df(rows, schema), "x",
      F.col("grp") === 0L).collect()(0).getDouble(0)
    // reference: D = max over all observed values of |F_a - F_b|
    val values = (a ++ b).distinct.sorted
    val expect = values.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.size -
        b.count(_ <= v).toDouble / b.size)
    }.max
    assert(math.abs(got - expect) < 1e-6,
      s"ksExact $got vs reference $expect")
  }

  test("ksExact: identical samples D=0; disjoint ranges D=1") {
    val schema = StructType(Seq(
      StructField("x", DoubleType), StructField("grp", LongType)))
    // value depends on i/2 so both parity groups see identical samples
    val same = df((1 to 200).map(i => Row((i / 2).toDouble % 50, i.toLong)), schema)
    val d0 = TableChecks.ksExact(same, "x", F.col("grp") % 2 === 0)
      .collect()(0).getDouble(0)
    assert(d0 < 0.02)
    val disjoint = df((1 to 200).map(i =>
      Row(if (i % 2 == 0) i.toDouble else i + 10000.0, i.toLong)), schema)
    val d1 = TableChecks.ksExact(disjoint, "x", F.col("grp") % 2 === 0)
      .collect()(0).getDouble(0)
    assert(d1 === 1.0)
  }

  test("nullCounts exact") {
    val rows = (1L to 40L).map(i => Row(i, if (i <= 8) null else "x"))
    val out = TableChecks.nullCounts(df(rows, kv), Seq("k", "v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("k" -> 0L, "v" -> 8L))
  }
}
