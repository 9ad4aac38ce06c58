package mallispark

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{LongType, StringType}
import org.scalatest.BeforeAndAfterAll
import mallispark.compile.SchemaCompiler
import mallispark.ir.{S, SchemaIR}
import mallispark.run.{SnapshotTable, ValidationJob, WebPages}

/** The snapshot pass — commit, `validateSnapshot`, `snapshotReport`, a
  * done resume — against independent references, and its structural
  * budget: how many times each operation scans a snapshot's data files. */
class SnapshotPassSpec extends SparkSuite with BeforeAndAfterAll {

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = dirs.foreach(rmTree)

  private def freshDir(): String = {
    val dir = Files.createTempDirectory("snappass_spec_").toString
    dirs += dir
    dir
  }

  private val schema = S.mapE(false, S.req("id", S.int),
    S.req("v", S.intMin(0L)), S.req("k", S.string(min = 1)))

  /** (id, v, k) for id in [from, until): v = -1 where id % 10 == 3, k = ""
    * where id % 7 == 2 and NULL where id % 11 == 5, so some rows carry two
    * errors. */
  private def mk(from: Long, until: Long): DataFrame = {
    val id = F.col("id")
    spark.range(from, until, 1, 3).select(id,
      F.when(id % 10 === 3, F.lit(-1L)).otherwise(id).as("v"),
      F.when(id % 7 === 2, F.lit(""))
        .when(id % 11 === 5, F.lit(null).cast(StringType))
        .otherwise(F.concat(F.lit("k"), id.cast(StringType))).as("k"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  // ---- validateSnapshot vs ValidationJob.run ----

  for (keyCols <- Seq(Seq("id"), Seq("id", "k")))
    test(s"validateSnapshot on a fresh snapshot writes run's manifest and " +
        s"violation rows (keys ${keyCols.mkString(",")})") {
      val dir = freshDir()
      SnapshotTable.commit(mk(0L, 300L), dir)
      // an earlier run leaves rows in the shared manifest and violations
      ValidationJob.validateSnapshot(spark, dir, schema, keyCols, nParts = 8)
      SnapshotTable.commit(mk(150L, 500L), dir, SnapshotTable.Overwrite)
      val m = ValidationJob.validateSnapshot(spark, dir, schema, keyCols,
        nParts = 8)
      val ref = ValidationJob.run(SnapshotTable.read(spark, dir, Some(2L)),
        schema, keyCols, nParts = 8)
      assert(rows(m.drop("run_id", "committed_at")) === rows(ref.verdicts))
      assert(m.agg(F.sum("rows")).head().getLong(0) === 350L)
      val viols = spark.read.parquet(s"$dir/validation/violations")
        .where(F.col("run_id") === "snap-000002").drop("run_id")
      assert(viols.columns.toSeq === ref.violations.columns.toSeq)
      val want = rows(ref.violations)
      assert(want.size > 100 && viols.count() === want.size.toLong)
      assert(rows(viols) === want)
    }

  // ---- snapshotReport vs its four-branch formulation ----

  /** The report as four separately aggregated branches over the two
    * snapshots: verdicts, violation rows by error key, the diff and the
    * frequency table. */
  private def reportRef(curr: DataFrame, prev: DataFrame, schema: SchemaIR,
                        keyCol: String, payload: Column,
                        freqCol: String): DataFrame = {
    val verdicts = SchemaCompiler.validateDF(schema, curr, "valid").agg(
      F.count(F.lit(1)).as("rows"),
      F.sum(F.when(F.col("valid"), 1L).otherwise(0L)).as("valid_rows"))
      .select(F.explode(F.map(
        F.lit("rows_total"), F.col("rows"),
        F.lit("rows_valid"), F.col("valid_rows"))).as(Seq("metric", "value")))
    val viols = SchemaCompiler.violationsDF(schema, curr, Seq(keyCol))
      .groupBy(F.concat(F.lit("viol:"), F.col("error_key")).as("metric"))
      .agg(F.count(F.lit(1)).as("value"))
    val diff = mallispark.checks.TableChecks
      .snapshotDiff(curr, prev, keyCol, payload)
      .groupBy(F.concat(F.lit("diff:"), F.col("change")).as("metric"))
      .agg(F.count(F.lit(1)).as("value"))
    val freqs = curr.groupBy(
        F.concat(F.lit(s"freq:$freqCol:"),
          F.coalesce(F.col(freqCol).cast(StringType), F.lit("__NULL__")))
          .as("metric"))
      .agg(F.count(F.lit(1)).as("value"))
    verdicts.unionByName(viols).unionByName(diff).unionByName(freqs)
      .select(F.col("metric"), F.col("value").cast(LongType).as("value"))
  }

  private def reportOf(df: DataFrame): Map[String, Option[Long]] = {
    val out = df.collect()
    assert(out.map(_.getString(0)).distinct.length === out.length)
    out.map(r => r.getString(0) ->
      Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
  }

  private def sameReport(curr: DataFrame, prev: DataFrame, schema: SchemaIR,
                         keyCol: String, payload: Column,
                         freqCol: String): Map[String, Option[Long]] = {
    val got = ValidationJob.snapshotReport(curr, prev, schema, keyCol,
      payload, freqCol)
    val want = reportRef(curr, prev, schema, keyCol, payload, freqCol)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    val g = reportOf(got)
    assert(g === reportOf(want))
    g
  }

  test("snapshotReport equals its four-branch formulation on the " +
      "snapshot_report fixture") {
    val p = WebPages.derive(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val prev = p.where(F.col("doc_id") % 97 =!= 3)
      .withColumn("text",
        F.when(F.col("doc_id") % 101 === 11,
          F.concat(F.col("text"), F.lit("~old"))).otherwise(F.col("text")))
    val curr = p.where(F.col("doc_id") % 89 =!= 7)
    val r = sameReport(curr, prev, WebPages.schema, "doc_id", F.col("text"),
      "lang")
    assert(r.keys.exists(_.startsWith("viol:")) &&
      r.keys.exists(_.startsWith("diff:")) && r("rows_valid").nonEmpty)
  }

  test("snapshotReport of an empty snapshot: rows_total 0, rows_valid NULL") {
    val prev = mk(0L, 40L)
    val r = sameReport(prev.where(F.lit(false)), prev, schema, "id",
      F.col("k"), "k")
    assert(r("rows_total") === Some(0L) && r("rows_valid") === None)
    assert(r("diff:removed") === Some(40L))
    // and over a snapshot read from files with no row
    val dir = freshDir()
    SnapshotTable.commit(prev, dir)
    SnapshotTable.commit(prev.where(F.col("id") < 0), dir,
      SnapshotTable.Overwrite)
    assert(sameReport(SnapshotTable.read(spark, dir, Some(2L)),
      SnapshotTable.read(spark, dir, Some(1L)), schema, "id", F.col("k"),
      "k") === r)
  }

  test("snapshotReport with NULL frequency values and rows with two errors") {
    val curr = mk(0L, 200L)
    val prev = mk(20L, 220L).withColumn("v", F.col("v") + 1)
    val r = sameReport(curr, prev, schema, "id", F.col("v"), "k")
    val nulls = curr.where(F.col("k").isNull).count()
    assert(nulls > 0 && r("freq:k:__NULL__") === Some(nulls))
    assert(r.keys.count(_.startsWith("viol:")) >= 2, r)
    // every row valid: rows_valid equals rows_total, no viol:* metric
    val ok = mk(0L, 50L).where(F.col("id") % 10 =!= 3 &&
      F.col("id") % 7 =!= 2 && F.col("id") % 11 =!= 5)
    val r2 = sameReport(ok, prev, schema, "id", F.col("v"), "v")
    assert(r2("rows_valid") === r2("rows_total") &&
      !r2.keys.exists(_.startsWith("viol:")))
  }

  // ---- commit's row counts ----

  test("commit records exact rows_added and total_rows: append, " +
      "overwrite, empty writes") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(0, 1000, 1, 7).toDF("id"), dir)
    SnapshotTable.commit(spark.range(0, 37, 1, 2).toDF("id"), dir)
    // empty partitions written by tasks, then a plan Spark folds to an
    // empty relation
    SnapshotTable.commit(spark.range(0, 100, 1, 4).toDF("id")
      .where(F.col("id") < 0), dir)
    SnapshotTable.commit(spark.range(5).toDF("id").where(F.lit(false)), dir)
    SnapshotTable.commit(spark.range(0, 12, 1, 3).toDF("id"), dir,
      SnapshotTable.Overwrite)
    SnapshotTable.commit(spark.range(5).toDF("id").where(F.lit(false)), dir,
      SnapshotTable.Overwrite)
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    val lineage = SnapshotTable.lineage(spark, dir).orderBy("snapshot_id")
      .collect().map(r => (r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    assert(lineage === Seq(("append", 1000L, 1000L), ("append", 37L, 1037L),
      ("append", 0L, 1037L), ("append", 0L, 1037L),
      ("overwrite", 12L, 12L), ("overwrite", 0L, 0L), ("append", 3L, 3L)))
    for (id <- 1L to 7L)
      assert(SnapshotTable.read(spark, dir, Some(id)).count() === lineage(
        id.toInt - 1)._3, s"snapshot $id")
  }

  // ---- the structural budget ----

  /** What the queries `body` runs did: per snapshot id, how many times a
    * file scan over that snapshot's data files ran, and whether any plan
    * held a left-anti join. A cached frame's plan counts once, in the
    * query that first meets it: its scan runs when the cache fills. */
  private def scansBy[A](body: => A): (Map[Long, Int], Boolean, A) = {
    import org.apache.spark.TestListenerBus
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qes.add(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = qes.add(qe)
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out =
      try { val o = body; TestListenerBus.drain(spark.sparkContext); o }
      finally spark.listenerManager.unregister(listener)
    // the plans that ran (`initial` = false), or the plans as first
    // planned, before adaptive execution drops a join against an empty
    // side (`initial` = true)
    def ran(initial: Boolean): Seq[SparkPlan] = {
      val cached = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec =>
          nodes(if (initial) a.inputPlan else a.executedPlan)
        case s: QueryStageExec => nodes(s.plan)
        case _: ReusedExchangeExec => Seq(p) // its child ran elsewhere
        case m: InMemoryTableScanExec =>
          if (cached.add(m.relation.cacheBuilder))
            m +: nodes(m.relation.cacheBuilder.cachedPlan)
          else Seq(m)
        case _ => p +: p.children.flatMap(nodes)
      }
      qes.asScala.toSeq.flatMap(qe => nodes(qe.executedPlan))
    }
    // a file scan lists the files of a snapshot read, the directory of a
    // read-back of the files just written
    val snap = """data/snap-(\d+)(?:/|$)""".r.unanchored
    val scans = ran(initial = false).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.toString).collect {
        case snap(id) => id.toLong }.distinct
    }.flatten
    val anti = ran(initial = true).exists {
      case j: BaseJoinExec => j.joinType == LeftAnti
      case _ => false
    }
    (scans.groupBy(identity).view.mapValues(_.size).toMap, anti, out)
  }

  test("snapshot pass budget: commit reads nothing back, a fresh " +
      "validation scans once with no anti-join, the report scans the " +
      "snapshot at most twice, a done resume not at all") {
    val dir = freshDir()
    val key = Seq("id")
    SnapshotTable.commit(mk(0L, 2000L), dir)
    ValidationJob.validateSnapshot(spark, dir, schema, key, nParts = 16)
    val base = SnapshotTable.read(spark, dir, Some(1L))

    val (commitScans, _, id) = scansBy(SnapshotTable.commit(
      base.withColumn("v", F.col("v") + 1), dir, SnapshotTable.Overwrite))
    assert(id === 2L)
    assert(commitScans.getOrElse(2L, 0) === 0,
      s"commit read its own files back: $commitScans")

    val (valScans, anti, m) = scansBy(ValidationJob.validateSnapshot(
      spark, dir, schema, key, nParts = 16).collect())
    assert(m.map(_.getLong(1)).sum === 2000L)
    assert(valScans === Map(2L -> 1), "first validateSnapshot")
    assert(!anti, "first validateSnapshot anti-joins the manifest")

    val (repScans, _, rep) = scansBy(ValidationJob.snapshotReport(
      SnapshotTable.read(spark, dir, Some(2L)),
      SnapshotTable.read(spark, dir, Some(1L)), schema, "id", F.col("v"),
      "k").collect())
    assert(rep.nonEmpty)
    assert(repScans.getOrElse(2L, 0) <= 2 && repScans.getOrElse(1L, 0) === 1,
      s"snapshotReport: $repScans")

    val (resumeScans, _, again) = scansBy(ValidationJob.validateSnapshot(
      spark, dir, schema, key, nParts = 16).collect())
    assert(again.map(_.getLong(1)).sum === 2000L)
    assert(resumeScans.isEmpty, s"done resume: $resumeScans")
  }
}
