package mallispark.run

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.SchemaIR
import mallispark.compile.SchemaCompiler

/** The validation job: per-row verdicts + violation rows + per-partition
  * pass/fail manifest with resume (north rule, SURVEY §7 M4).
  *
  * Partitioning for resume: Spark's physical partition ids are not stable
  * across runs/cluster sizes, so the manifest is keyed by a LOGICAL
  * partition `part_id = pmod(xxhash64(key), nParts)` — stable, data-derived,
  * identical at any parallelism. Resume anti-joins the input against the
  * manifest's completed partitions (the manifest is tiny — broadcast).
  *
  * Scale: the verdict aggregation is a map-side-combined hash agg on
  * `part_id` (one shuffle of nParts rows per executor); violations explode
  * only from failing rows (typically a tiny fraction).
  */
object ValidationJob {

  final case class Result(flagged: DataFrame, verdicts: DataFrame,
                          violations: DataFrame)

  /** Validate `df` against `schema`; key columns identify rows in the
    * violation sink. */
  def run(df: DataFrame, schema: SchemaIR, keyCols: Seq[String],
          nParts: Int = 256)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): Result = {
    val withPart = withPartId(df, keyCols, nParts, None)
    val flagged = SchemaCompiler.validateDF(schema, withPart, "valid",
      exclude = Set("part_id"))
    val violations = SchemaCompiler
      .violationsDF(schema, withPart, keyCols :+ "part_id",
        exclude = Set("part_id"))
    Result(flagged, verdictsOf(flagged), violations)
  }

  /** The logical part key: `partIdOf`, or by default engine-native
    * xxhash64 of the first key column (fast). */
  private def partKey(keyCols: Seq[String], nParts: Int,
                      partIdOf: Option[Column]): Column =
    partIdOf.getOrElse(
      F.pmod(F.xxhash64(F.col(keyCols.head)), F.lit(nParts.toLong)))

  /** `df` plus the logical `part_id` ([[partKey]]). */
  private def withPartId(df: DataFrame, keyCols: Seq[String], nParts: Int,
                         partIdOf: Option[Column]): DataFrame = {
    // part_id is this job's bookkeeping column in every output (verdicts,
    // manifest, violation rows) — silently REPLACING a caller column of
    // that name would corrupt both their data and the lineage, so the
    // collision fails fast instead (rename upstream)
    require(!df.columns.contains("part_id"),
      "input already has a part_id column — rename it; part_id is the " +
        "validation job's partition-lineage column")
    df.withColumn("part_id", partKey(keyCols, nParts, partIdOf))
  }

  /** The per-`part_id` verdicts of a frame with a boolean `valid`
    * column: row count, valid rows and pass/fail. */
  private def verdictsOf(flagged: DataFrame): DataFrame =
    flagged.groupBy("part_id").agg(
      F.count(F.lit(1)).as("rows"),
      F.sum(F.when(F.col("valid"), 1L).otherwise(0L)).as("valid_rows"),
      F.min(F.col("valid")).as("pass"))

  private def manifestPath(dir: String) = s"$dir/manifest"
  private def violationsPath(dir: String) = s"$dir/violations"

  /** Completed part_ids for a run (empty frame when no manifest yet). */
  def completedPartitions(spark: SparkSession, dir: String,
                          runId: String): DataFrame =
    completed(spark, dir, runId, None)

  /** [[completedPartitions]], reading the manifest with `schema` when the
    * caller knows it: a schema-less parquet read starts a Spark job to
    * infer the schema from the footers. */
  private def completed(spark: SparkSession, dir: String, runId: String,
                        schema: Option[StructType]): DataFrame = {
    // ONLY a missing manifest means "first run" — a transient IO error
    // or corrupt footer must FAIL the resume, not silently restart from
    // zero and double-append already-committed partitions. Test for the
    // path instead of reading it and catching PATH_NOT_FOUND: Spark
    // reports a failed read to its query-execution listeners, and the
    // Observation listener then logs the caught error as a stack trace
    val p = new org.apache.hadoop.fs.Path(manifestPath(dir))
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      schema.fold(spark.read)(spark.read.schema).parquet(p.toString)
        .where(F.col("run_id") === runId).select("part_id").distinct()
    else
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("part_id", LongType))))
  }

  /** One resumable pass: skip partitions already in the manifest, validate
    * the rest, append per-partition verdicts (lineage + metrics) and
    * violation rows. Restart-safe: rerunning after a partial failure
    * validates only the remaining partitions; union of manifest rows over
    * all attempts equals the single-run result. The remaining rows are
    * validated and written by [[commitParts]] from one narrow cached
    * frame. */
  def runResumable(spark: SparkSession, df: DataFrame, schema: SchemaIR,
                   keyCols: Seq[String], dir: String, runId: String,
                   nParts: Int = 256,
                   partIdOf: Option[Column] = None)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    // pass a portable md5-derived partIdOf (e.g. pmod(TextOps.h32(url), n))
    // when the manifest must be reproducible by another engine (the
    // oracle gate)
    val withPart = withPartId(df, keyCols, nParts, partIdOf)
    // the completed read passes the schema this call writes (it needs
    // only its part_id and run_id columns), so it starts no
    // footer-inference job
    val doneParts = completed(spark, dir, runId, Some(StructType(Seq(
      withPart.schema("part_id"), StructField("run_id", StringType)))))
    commitParts(spark, withPart.join(F.broadcast(doneParts), Seq("part_id"),
      "left_anti"), schema, keyCols, dir, runId)
  }

  /** Validate `todo` (the input rows, with `part_id`, of partitions not
    * yet committed) and append its violation rows and manifest rows;
    * returns the run's manifest rows.
    *
    * Both writes derive from ONE narrow frame, (keyCols, part_id, valid,
    * errors), persisted so the scan and both compiled checks run once:
    * the violation rows explode its errors, the manifest rows aggregate
    * its verdicts. It holds no payload column, so the cache stays small
    * however wide the input is.
    *
    * Violations first, manifest second: the manifest row is the COMMIT
    * point. A crash between the two leaves orphaned violation rows for
    * uncommitted partitions; `readViolations` filters them out by joining
    * against the manifest, and the retry re-appends them under a now-
    * committed partition — exactly-once as observed through the reader. */
  private def commitParts(spark: SparkSession, todo: DataFrame,
                          schema: SchemaIR, keyCols: Seq[String],
                          dir: String, runId: String)(
      implicit ctx: SchemaCompiler.Ctx): DataFrame = {
    val checked = SchemaCompiler.explainDF(schema,
        SchemaCompiler.validateDF(schema, todo, "valid",
          exclude = Set("part_id")),
        "__errs", exclude = Set("part_id", "valid"))
      .select((keyCols ++ Seq("part_id", "valid", "__errs")).map(F.col): _*)
    val violations = SchemaCompiler
      .violationRows(checked, "__errs", keyCols :+ "part_id")
      .withColumn("run_id", F.lit(runId))
    val verdicts = verdictsOf(checked)
      .withColumn("run_id", F.lit(runId))
      .withColumn("committed_at", F.current_timestamp())
    checked.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      violations.write.mode(SaveMode.Append).parquet(violationsPath(dir))
      verdicts.write.mode(SaveMode.Append).parquet(manifestPath(dir))
    } finally checked.unpersist(blocking = false)
    readManifest(spark, dir, runId, verdicts.schema)
  }

  /** A run's manifest rows, read with the schema they were written with. */
  private def readManifest(spark: SparkSession, dir: String, runId: String,
                           schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(manifestPath(dir))
      .where(F.col("run_id") === runId)

  /** Resumable validation of one SNAPSHOT of a snapshot-log table
    * ([[SnapshotTable]]): the run id IS the snapshot id, so the
    * per-partition manifest lives under the table directory alongside
    * the commit manifests (the north-rule "checkpointed per-partition
    * manifest with lineage + metrics written alongside each commit").
    * Kill/rerun resumes the same snapshot's remaining partitions; a NEW
    * commit validates under a fresh run id automatically. Returns the
    * snapshot's committed manifest rows.
    *
    * A snapshot is immutable, so its run also keeps a completion record,
    * `validation/snap-N.record`, published like a snapshot manifest
    * (temp file + rename):
    * {{{
    *   mallispark-validation v1
    *   n_parts 256
    *   part_key pmod(xxhash64(doc_id), 256L)
    *   manifest_schema part_id BIGINT,rows BIGINT,...   (second write)
    *   done                                             (second write)
    * }}}
    * The first write, before any validation write, holds the parameters
    * that define the run's hash space (`part_key` is the part-key
    * Column's text, `partIdOf` or the default); the second adds the manifest's
    * schema and the `done` mark once the manifest append has succeeded.
    * So the order is: violations, manifest rows, then the done mark. A
    * crash before the done mark leaves the record without it, and the
    * next call takes the resumable path, which appends no row for an
    * already-committed partition. A call that finds the done mark
    * returns the manifest read with the recorded schema: it builds no
    * snapshot frame and starts no Spark job. A call whose `nParts` or
    * part key differs from a record (done or not) fails fast: resuming
    * under another hash space would skip rows never validated.
    *
    * A call that finds no record is the run's first: the record is
    * written before any validation write, so no partition of the run
    * can be committed yet, and the whole snapshot is validated without
    * reading the manifest (no anti-join against the completed
    * partitions of every earlier run). Manifest rows of a snapshot
    * validated before completion records existed are therefore not
    * consulted. */
  def validateSnapshot(spark: SparkSession, tableDir: String,
                       schema: SchemaIR, keyCols: Seq[String],
                       snapshotId: Option[Long] = None,
                       nParts: Int = 256,
                       partIdOf: Option[Column] = None)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    val id = snapshotId.orElse(SnapshotTable.currentSnapshotId(tableDir))
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshots committed in $tableDir"))
    val dir = s"$tableDir/validation"
    val runId = f"snap-$id%06d"
    val record = Paths.get(dir, s"$runId.record")
    val params = Seq("n_parts" -> nParts.toString,
      "part_key" -> partKey(keyCols, nParts, partIdOf).toString)
    val prior = readRecord(record)
    prior.foreach { kv =>
      val diffs = params.collect { case (k, v) if !kv.get(k).contains(v) =>
        s"$k: recorded ${kv.getOrElse(k, "(none)")}, requested $v" }
      if (diffs.nonEmpty)
        throw new IllegalArgumentException(
          s"validation of $runId was started with other parameters " +
            s"(${diffs.mkString("; ")}) — see $record")
    }
    prior.filter(_.contains("done")) match {
      case Some(kv) =>
        readManifest(spark, dir, runId,
          StructType.fromDDL(kv("manifest_schema")))
      case None =>
        val snap = SnapshotTable.read(spark, tableDir, Some(id))
        val m =
          if (prior.isEmpty) {
            Files.createDirectories(record.getParent)
            writeRecord(record, params)
            commitParts(spark, withPartId(snap, keyCols, nParts, partIdOf),
              schema, keyCols, dir, runId)
          } else runResumable(spark, snap, schema, keyCols, dir, runId,
            nParts, partIdOf)
        writeRecord(record, params ++ Seq(
          "manifest_schema" -> m.schema.toDDL, "done" -> ""))
        m
    }
  }

  private val RecordHeader = "mallispark-validation v1"

  private def writeRecord(path: Path, kv: Seq[(String, String)]): Unit =
    SnapshotTable.publish(path, (RecordHeader +: kv.map {
      case (k, "") => k
      case (k, v) => s"$k $v"
    }).mkString("\n"))

  /** The record's key-value lines (a bare key maps to ""), if it exists. */
  private def readRecord(path: Path): Option[Map[String, String]] =
    if (!Files.exists(path)) None
    else {
      val lines = Files.readAllLines(path).asScala.toSeq
      require(lines.headOption.contains(RecordHeader),
        s"bad validation record $path")
      Some(lines.drop(1).map { l =>
        val i = l.indexOf(' ')
        if (i < 0) l -> "" else l.take(i) -> l.drop(i + 1)
      }.toMap)
    }

  /** Committed violation rows for a run: only partitions present in the
    * manifest count, and rows re-appended by a crash-retry collapse via
    * dropDuplicates (violation rows are deterministic per partition, so
    * duplicates are bit-identical). */
  def readViolations(spark: SparkSession, dir: String,
                     runId: String): DataFrame = {
    val committed = spark.read.parquet(manifestPath(dir))
      .where(F.col("run_id") === runId).select("part_id").distinct()
    spark.read.parquet(violationsPath(dir))
      .where(F.col("run_id") === runId)
      .join(F.broadcast(committed), Seq("part_id"), "left_semi")
      .dropDuplicates()
  }

  /** The per-snapshot validation report (north rule: metrics written
    * alongside each snapshot commit): ONE composed run over the new
    * snapshot — schema verdicts, violation counts by error key,
    * added/removed/modified counts vs the previous snapshot, and the
    * categorical frequency table drift feeds on — emitted as a tiny
    * (metric, value) frame a scheduler appends per commit.
    *
    * Scale: one scan of the new snapshot computes each row's verdict,
    * error keys and frequency bucket, aggregated map-side into one row
    * per (bucket, verdict, error keys) — a handful of groups however
    * large the snapshot. `rows_total`, `rows_valid`, every `viol:*` and
    * every `freq:*` expand from those groups. The diff joins (key,
    * digest) projections only, so the snapshot is scanned twice and the
    * previous one once. Nothing here shuffles payloads, and every output
    * is integer-exact (oracle-portable). */
  def snapshotReport(curr: DataFrame, prev: DataFrame, schema: SchemaIR,
                     keyCol: String, payload: Column, freqCol: String)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    // null frequency values render as a literal bucket: concat
    // null-propagates and a NULL metric key breaks the ORDER-BY-
    // non-null-keys determinism rule (Spark sorts nulls first,
    // DuckDB last)
    val groups = SchemaCompiler.explainDF(schema,
        SchemaCompiler.validateDF(schema, curr, "valid"), "__errs",
        exclude = Set("valid"))
      .groupBy(
        F.coalesce(F.col(freqCol).cast(StringType), F.lit("__NULL__"))
          .as("bucket"),
        F.col("valid"), F.col("__errs.error_key").as("error_keys"))
      .agg(F.count(F.lit(1)).as("n"))
    def metric(name: Column, value: Column): Column =
      F.struct(name.as("metric"), value.as("value"))
    val n = F.col("n")
    val fromGroups = groups.select(F.explode_outer(F.concat(
        F.array(
          metric(F.lit("rows_total"), n),
          metric(F.lit("rows_valid"),
            F.when(F.col("valid"), n).otherwise(0L)),
          metric(F.concat(F.lit(s"freq:$freqCol:"), F.col("bucket")), n)),
        F.transform(F.col("error_keys"),
          k => metric(F.concat(F.lit("viol:"), k), n)))).as("m"))
      .select("m.metric", "m.value")
    // an empty snapshot has no group: these rows keep its rows_total a
    // count (0) and its rows_valid a sum over no row (NULL)
    val totals = curr.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row("rows_total", 0L),
        org.apache.spark.sql.Row("rows_valid", null)),
      StructType(Seq(StructField("metric", StringType),
        StructField("value", LongType))))
    val diff = mallispark.checks.TableChecks
      .snapshotDiff(curr, prev, keyCol, payload)
      .select(F.concat(F.lit("diff:"), F.col("change")).as("metric"),
        F.lit(1L).as("value"))
    fromGroups.unionByName(totals).unionByName(diff)
      .groupBy("metric").agg(F.sum("value").as("value"))
  }

  /** `m/assert`'s job-level analogue (core.cljc:2590-2596 throws on an
    * invalid VALUE; a distributed run throws on an invalid RATE): fail
    * when the invalid fraction exceeds `maxInvalidFrac` — the circuit
    * breaker that keeps a mis-schema'd ingest from flooding downstream
    * sinks with terabytes of garbage. One aggregation over the tiny
    * (nParts-row) verdicts frame; returns (rows, validRows) on success.
    * The default 0.0 is the strict m/assert semantics: any invalid row
    * fails the job. */
  def gate(verdicts: DataFrame, maxInvalidFrac: Double = 0.0): (Long, Long) = {
    // coalesce: sum() over an EMPTY verdicts frame (empty input, or a
    // resume with nothing left to do) is SQL NULL — an empty run passes
    val r = verdicts.agg(
      F.coalesce(F.sum("rows"), F.lit(0L)).as("r"),
      F.coalesce(F.sum("valid_rows"), F.lit(0L)).as("v")).head()
    val rows = r.getLong(0)
    val valid = r.getLong(1)
    val frac = if (rows == 0L) 0.0 else (rows - valid).toDouble / rows
    if (frac > maxInvalidFrac)
      throw new IllegalStateException(
        f"validation gate tripped: ${rows - valid}%d of $rows%d rows " +
          f"invalid (${frac * 100}%.3f%% > ${maxInvalidFrac * 100}%.3f%%)")
    (rows, valid)
  }

  /** Bounded violation triage — the 100-TB-safe summary of a violations
    * frame. Per (schema_path, error_key): the EXACT violation count plus
    * at most `k` exemplar row ids (the k smallest, via
    * [[mallispark.expressions.BoundedCollectMin]]'s size-capped heap —
    * O(k) aggregation state per group at every stage). A catastrophically
    * mismatched input thus produces a few summary rows instead of a
    * violations table larger than the data; `n_viol > size(exemplars)`
    * marks a truncated group, and when the true count is ≤ k the
    * exemplar list is complete. DuckDB mirror:
    * `list_slice(list_sort(list(id)), 1, k)` + `count(*)`. */
  def sampledViolations(viols: DataFrame, idCol: String,
                        k: Int): DataFrame =
    viols.groupBy("schema_path", "error_key").agg(
      F.count(F.lit(1)).as("n_viol"),
      mallispark.expressions.BoundedCollectMin(
        F.col(idCol).cast(LongType), k).as("exemplars"))

  /** Salted per-key aggregation for skewed keys (lang/host — SURVEY §4):
    * two-phase count with a salt on the hot dimension so no single reducer
    * owns a hot key. At 10^12 rows the first phase fans a hot lang across
    * `salt` reducers; the second phase merges `salt` rows per key. */
  def saltedCounts(df: DataFrame, key: String, salt: Int = 32): DataFrame =
    df.groupBy(F.col(key),
        F.pmod(F.xxhash64(F.col(key), F.monotonically_increasing_id()),
          F.lit(salt.toLong)).as("__salt"))
      .agg(F.count(F.lit(1)).as("__c"))
      .groupBy(F.col(key)).agg(F.sum("__c").as("cnt"))
}
