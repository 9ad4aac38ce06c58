package mallispark

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.scalatest.BeforeAndAfterAll
import mallispark.ir.S
import mallispark.run.{SnapshotTable, ValidationJob}

/** Snapshot-log table format: atomic commits, snapshot-isolated time
  * travel, append vs logical-replace, lineage, cross-snapshot diff. */
class SnapshotTableSpec extends SparkSuite with BeforeAndAfterAll {

  // every table this spec writes, for the known-schema read sweep
  private val tables = scala.collection.mutable.ArrayBuffer.empty[String]

  override def afterAll(): Unit = tables.foreach(rmTree)

  private def freshDir(): String = {
    val dir = Files.createTempDirectory("snaptab_spec_").toString
    tables += dir
    dir
  }

  /** The data files a snapshot's manifest lists. */
  private def manifestFiles(dir: String, id: Long): Seq[String] =
    Files.readAllLines(Paths.get(dir, f"snap-$id%06d.manifest")).asScala
      .dropWhile(!_.startsWith("files ")).drop(1)
      .map(f => Paths.get(dir, f).toString).toSeq

  private val schema = S.mapE(false, S.req("id", S.int),
    S.req("v", S.intMin(0L)))

  /** (id, v) for id in [from, until); v = -1 (invalid) where id % 10 == 3. */
  private def mk(from: Long, until: Long) = spark.range(from, until)
    .select(F.col("id"),
      F.when(F.col("id") % 10 === 3, F.lit(-1L))
        .otherwise(F.col("id")).as("v"))

  private def rowsOf(m: DataFrame) = m.agg(F.sum("rows")).head().getLong(0)

  private def record(dir: String, id: Long) =
    Paths.get(dir, "validation", f"snap-$id%06d.record")

  test("commit/append: time travel reads each snapshot's own rows") {
    val dir = freshDir()
    val a = spark.range(10).select(F.col("id"), (F.col("id") * 2).as("v"))
    val b = spark.range(10, 15).select(F.col("id"), (F.col("id") * 2).as("v"))
    val s1 = SnapshotTable.commit(a, dir)
    val s2 = SnapshotTable.commit(b, dir) // append
    assert(s1 === 1L && s2 === 2L)
    assert(SnapshotTable.currentSnapshotId(dir) === Some(2L))
    // snapshot 1 is ISOLATED from commit 2
    assert(SnapshotTable.read(spark, dir, Some(s1)).count() === 10L)
    assert(SnapshotTable.read(spark, dir).count() === 15L)
    assert(SnapshotTable.read(spark, dir)
      .agg(F.sum("id")).collect()(0).getLong(0) === (0L until 15L).sum)
  }

  test("overwrite replaces logically; old snapshot stays readable") {
    val dir = freshDir()
    val s1 = SnapshotTable.commit(spark.range(8).toDF("id"), dir)
    val s2 = SnapshotTable.commit(spark.range(100, 103).toDF("id"), dir,
      SnapshotTable.Overwrite)
    assert(SnapshotTable.read(spark, dir, Some(s2))
      .collect().map(_.getLong(0)).sorted === Array(100L, 101L, 102L))
    assert(SnapshotTable.read(spark, dir, Some(s1)).count() === 8L)
  }

  test("lineage records parent/mode/rows per commit") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(6).toDF("id"), dir)
    SnapshotTable.commit(spark.range(6, 10).toDF("id"), dir)
    SnapshotTable.commit(spark.range(2).toDF("id"), dir,
      SnapshotTable.Overwrite)
    val rows = SnapshotTable.lineage(spark, dir)
      .orderBy("snapshot_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2), r.getLong(3),
      r.getLong(4))).toSeq ===
      Seq((1L, "append", 6L, 6L), (2L, "append", 4L, 10L),
        (3L, "overwrite", 2L, 2L)))
    assert(rows(0).isNullAt(1) && rows(1).getLong(1) === 1L)
  }

  test("diff on real snapshot ids classifies added/removed/modified") {
    val dir = freshDir()
    val prev = spark.range(10)
      .select(F.col("id"), F.concat(F.lit("t"), F.col("id")).as("text"))
    val s1 = SnapshotTable.commit(prev.where(F.col("id") =!= 4), dir)
    val curr = prev.where(F.col("id") =!= 7)
      .withColumn("text", F.when(F.col("id") === 2, F.lit("changed"))
        .otherwise(F.col("text")))
    val s2 = SnapshotTable.commit(curr, dir, SnapshotTable.Overwrite)
    val d = SnapshotTable.diff(spark, dir, s1, s2, "id", F.col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(4L -> "added", 7L -> "removed", 2L -> "modified"))
  }

  test("snapshot reads keep column pruning + filter pushdown at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = freshDir()
    SnapshotTable.commit(spark.range(1000)
      .select(F.col("id"), (F.col("id") * 3).as("v"),
        F.concat(F.lit("p"), F.col("id")).as("payload")), dir)
    SnapshotTable.commit(spark.range(1000, 1500)
      .select(F.col("id"), (F.col("id") * 3).as("v"),
        F.concat(F.lit("p"), F.col("id")).as("payload")), dir)
    // the explicit manifest file list must NOT defeat parquet pushdown:
    // a 2-column filtered projection reads 2 columns + pushes the filter
    val q = SnapshotTable.read(spark, dir)
      .where(F.col("v") > 1200).select("id", "v")
    val scans = q.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("id", "v"),
      s"payload not pruned: ${scans.head.requiredSchema}")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(v,1200)"), s"not pushed: $pushed")
    assert(q.count() === 1099L) // both commits' files feed one scan
  }

  test("validateSnapshot: manifest rides the table dir, resumes per snapshot") {
    val dir = freshDir()
    SnapshotTable.commit(mk(0L, 100L), dir)
    val m1 = ValidationJob.validateSnapshot(spark, dir, schema,
      Seq("id"), nParts = 4)
    assert(m1.agg(F.sum("rows")).collect()(0).getLong(0) === 100L)
    assert(m1.where(F.col("pass")).count() < 4) // injected violations
    // rerun of the SAME snapshot: fully resumed, nothing re-validated
    val m1again = ValidationJob.validateSnapshot(spark, dir, schema,
      Seq("id"), nParts = 4)
    assert(m1again.count() === m1.count() &&
      m1again.agg(F.sum("rows")).collect()(0).getLong(0) === 100L)
    // a new commit validates under its own run id, previous kept
    SnapshotTable.commit(mk(100L, 150L), dir)
    val m2 = ValidationJob.validateSnapshot(spark, dir, schema,
      Seq("id"), nParts = 4)
    assert(m2.agg(F.sum("rows")).collect()(0).getLong(0) === 150L)
    assert(m2.select("run_id").distinct().collect()(0)
      .getString(0) === "snap-000002")
  }

  test("read of an empty table fails fast") {
    intercept[IllegalArgumentException] {
      SnapshotTable.read(spark, freshDir())
    }
  }

  test("logically-empty commit stays readable via the manifest schema") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(5).toDF("id"), dir)
    val s2 = SnapshotTable.commit(
      spark.range(5).toDF("id").where(F.lit(false)), dir,
      SnapshotTable.Overwrite)
    val empty = SnapshotTable.read(spark, dir, Some(s2))
    assert(empty.count() === 0L)
    assert(empty.schema.fieldNames.toSeq === Seq("id"))
    // diff against the empty snapshot: everything in snap-1 is removed
    val d = SnapshotTable.diff(spark, dir, 1L, s2, "id", F.col("id"))
      .collect().map(_.getString(1)).toSet
    assert(d === Set("removed"))
  }

  test("readers are isolated from in-flight and crashed commits") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    // a concurrent committer's claim = a SIDECAR marker for the next id
    // (also what a hard-crashed commit leaves behind)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir).resolve("snap-000002.claim"))
    // readers and lineage keep serving the last PUBLISHED snapshot —
    // Iceberg-style isolation, never an error
    assert(SnapshotTable.read(spark, dir).count() === 3L)
    assert(SnapshotTable.lineage(spark, dir).count() === 1L)
    // a racing committer of the claimed id fails fast, protecting the
    // in-flight winner's data directory
    intercept[IllegalStateException] {
      SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    }
    // recovery from a crashed claimant: expire the orphan, then commit
    // (explicit 0 — the default keeps a 10-minute safety window so a
    // sweep can never kill a LIVE in-flight commit's claim)
    assert(SnapshotTable.expireClaims(dir, olderThanMillis = 0L) === Seq(2L))
    val s2 = SnapshotTable.commit(spark.range(2).toDF("id"), dir)
    assert(s2 === 2L)
    assert(SnapshotTable.read(spark, dir).count() === 5L)
    // a still-fresh claim survives a TTL'd expiry sweep
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir).resolve("snap-000003.claim"))
    assert(SnapshotTable.expireClaims(dir, olderThanMillis = 60000L)
      .isEmpty)
    intercept[IllegalStateException] {
      SnapshotTable.commit(spark.range(1).toDF("id"), dir)
    }
    // the default TTL also protects this fresh claim; 0 forces it out
    assert(SnapshotTable.expireClaims(dir) === Seq.empty)
    assert(SnapshotTable.expireClaims(dir, olderThanMillis = 0L) === Seq(3L))
  }

  test("a failed commit releases its claim; a crashed publish does not " +
      "wedge reads") {
    val dir = freshDir()
    SnapshotTable.commit(spark.range(3).toDF("id"), dir)
    // an in-JVM write failure (ANSI overflow at execution time) must
    // release the claim so the NEXT commit succeeds without manual expiry
    intercept[Throwable] {
      SnapshotTable.commit(
        spark.range(3).toDF("id")
          .selectExpr("CAST(id AS INT) + 2147483647 AS id"), dir)
    }
    val s2 = SnapshotTable.commit(spark.range(4).toDF("id"), dir)
    assert(s2 === 2L)
    assert(SnapshotTable.read(spark, dir).count() === 7L)
  }

  test("validateSnapshot: a done snapshot returns its manifest, no Spark job") {
    val dir = freshDir()
    SnapshotTable.commit(mk(0L, 100L), dir)
    val m1 = ValidationJob.validateSnapshot(spark, dir, schema, Seq("id"),
      nParts = 4)
    assert(Files.readAllLines(record(dir, 1L)).asScala.last === "done")
    val (jobs, again) = jobsStartedBy(ValidationJob.validateSnapshot(
      spark, dir, schema, Seq("id"), nParts = 4))
    assert(jobs === 0)
    assert(again.schema === m1.schema)
    assert(again.collect().toSet === m1.collect().toSet)
    assert(rowsOf(again) === 100L)
  }

  test("validateSnapshot fails fast on a changed part key, done or cut short") {
    val dir = freshDir()
    SnapshotTable.commit(mk(0L, 100L), dir)
    ValidationJob.validateSnapshot(spark, dir, schema, Seq("id"),
      nParts = 4)
    def refused(): Unit = {
      val e = intercept[IllegalArgumentException](
        ValidationJob.validateSnapshot(spark, dir, schema, Seq("id"),
          nParts = 8))
      assert(e.getMessage.contains("n_parts: recorded 4, requested 8"),
        e.getMessage)
      assert(e.getMessage.contains(record(dir, 2L).toString), e.getMessage)
    }
    // a run cut short: a part key that overflows at execution time fails
    // the first validation write, after the parameters were recorded
    SnapshotTable.commit(mk(100L, 200L), dir)
    val overflow = F.pmod(F.xxhash64(F.col("id")), F.lit(4L)) +
      F.lit(Long.MaxValue)
    intercept[Exception](ValidationJob.validateSnapshot(spark, dir, schema,
      Seq("id"), nParts = 4, partIdOf = Some(overflow)))
    assert(!Files.readAllLines(record(dir, 2L)).asScala.contains("done"))
    refused()
    // the done snapshot 1 refuses another hash space too
    val e = intercept[IllegalArgumentException](
      ValidationJob.validateSnapshot(spark, dir, schema, Seq("id"),
        snapshotId = Some(1L), nParts = 8))
    assert(e.getMessage.contains("n_parts: recorded 4, requested 8") &&
      e.getMessage.contains(record(dir, 1L).toString), e.getMessage)
  }

  test("validateSnapshot after a crash before the done mark: no manifest " +
      "row twice, done mark rewritten") {
    val dir = freshDir()
    SnapshotTable.commit(mk(0L, 100L), dir)
    val m1 = ValidationJob.validateSnapshot(spark, dir, schema, Seq("id"),
      nParts = 4)
    val nRows = m1.count()
    // the crash window: manifest appended, done mark not yet written
    val rec = record(dir, 1L)
    Files.write(rec, Files.readAllLines(rec).asScala
      .filterNot(_ == "done").asJava)
    val (jobs, m2) = jobsStartedBy(ValidationJob.validateSnapshot(
      spark, dir, schema, Seq("id"), nParts = 4))
    assert(jobs > 0) // the resumable path ran
    assert(m2.count() === nRows && rowsOf(m2) === 100L)
    assert(Files.readAllLines(rec).asScala.last === "done")
    val (jobs3, m3) = jobsStartedBy(ValidationJob.validateSnapshot(
      spark, dir, schema, Seq("id"), nParts = 4))
    assert(jobs3 === 0 && rowsOf(m3) === 100L)
  }

  test("snapshot reads pass the manifest schema: the footers' schema, no " +
      "Spark job") {
    // the DDL round trip over types, nesting and a name that needs quoting
    val dir = freshDir()
    val wide = spark.range(20).selectExpr("id",
      "CAST(id AS INT) AS `an int`", "CAST(id AS DECIMAL(12, 3)) AS dec",
      "TIMESTAMP '2026-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id)" +
        " AS ts",
      "DATE '2026-01-01' + CAST(id AS INT) AS d",
      "CAST(CAST(id AS STRING) AS BINARY) AS bin",
      "array(CAST(id AS STRING), NULL) AS arr",
      "map('k', CAST(id AS DOUBLE)) AS m",
      "named_struct('a', id, 'b `q`', array(id)) AS st")
    SnapshotTable.commit(wide, dir)
    SnapshotTable.commit(wide.where(F.col("id") > 15), dir)
    SnapshotTable.commit(wide.where(F.lit(false)), dir,
      SnapshotTable.Overwrite)
    // every snapshot of every table this spec has written so far
    for (t <- tables.toSeq;
         id <- 1L to SnapshotTable.currentSnapshotId(t).getOrElse(0L)) {
      val (jobs, df) = jobsStartedBy(SnapshotTable.read(spark, t, Some(id)))
      assert(jobs === 0, s"snapshot $id of $t")
      val files = manifestFiles(t, id)
      assert(files.nonEmpty, s"snapshot $id of $t lists no file")
      assert(df.schema === spark.read.parquet(files: _*).schema,
        s"snapshot $id of $t")
    }
  }
}
