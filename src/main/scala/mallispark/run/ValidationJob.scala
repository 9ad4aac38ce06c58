package mallispark.run

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
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): Result =
    validateParts(withPartId(df, keyCols, nParts, None), schema, keyCols)

  /** `df` plus the logical `part_id`: `partIdOf`, or by default
    * engine-native xxhash64 of the first key column (fast). */
  private def withPartId(df: DataFrame, keyCols: Seq[String], nParts: Int,
                         partIdOf: Option[Column]): DataFrame = {
    // part_id is this job's bookkeeping column in every output (verdicts,
    // manifest, violation rows) — silently REPLACING a caller column of
    // that name would corrupt both their data and the lineage, so the
    // collision fails fast instead (rename upstream)
    require(!df.columns.contains("part_id"),
      "input already has a part_id column — rename it; part_id is the " +
        "validation job's partition-lineage column")
    df.withColumn("part_id", partIdOf.getOrElse(
      F.pmod(F.xxhash64(F.col(keyCols.head)), F.lit(nParts.toLong))))
  }

  /** The shared core of `run` and `runResumable`: row verdicts, the
    * per-`part_id` verdict aggregation and the violation rows of an
    * input that already carries `part_id`. */
  private def validateParts(withPart: DataFrame, schema: SchemaIR,
                            keyCols: Seq[String])(
      implicit ctx: SchemaCompiler.Ctx): Result = {
    val flagged = SchemaCompiler.validateDF(schema, withPart, "valid",
      exclude = Set("part_id"))
    val verdicts = flagged.groupBy("part_id").agg(
      F.count(F.lit(1)).as("rows"),
      F.sum(F.when(F.col("valid"), 1L).otherwise(0L)).as("valid_rows"),
      F.min(F.col("valid")).as("pass"))
    val violations = SchemaCompiler
      .violationsDF(schema, withPart, keyCols :+ "part_id",
        exclude = Set("part_id"))
    Result(flagged, verdicts, violations)
  }

  private def manifestPath(dir: String) = s"$dir/manifest"
  private def violationsPath(dir: String) = s"$dir/violations"

  /** Completed part_ids for a run (empty frame when no manifest yet). */
  def completedPartitions(spark: SparkSession, dir: String,
                          runId: String): DataFrame = {
    val p = manifestPath(dir)
    try {
      spark.read.parquet(p).where(F.col("run_id") === runId)
        .select("part_id").distinct()
    } catch {
      // ONLY a missing manifest means "first run" — a transient IO error
      // or corrupt footer must FAIL the resume, not silently restart
      // from zero and double-append already-committed partitions
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" ||
            e.getMessage.contains("Path does not exist") =>
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          StructType(Seq(StructField("part_id", LongType))))
    }
  }

  /** One resumable pass: skip partitions already in the manifest, validate
    * the rest, append per-partition verdicts (lineage + metrics) and
    * violation rows. Restart-safe: rerunning after a partial failure
    * validates only the remaining partitions; union of manifest rows over
    * all attempts equals the single-run result. */
  def runResumable(spark: SparkSession, df: DataFrame, schema: SchemaIR,
                   keyCols: Seq[String], dir: String, runId: String,
                   nParts: Int = 256,
                   partIdOf: Option[Column] = None)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    // pass a portable md5-derived partIdOf (e.g. pmod(TextOps.h32(url), n))
    // when the manifest must be reproducible by another engine (the
    // oracle gate)
    val todo = withPartId(df, keyCols, nParts, partIdOf).join(
      F.broadcast(completedPartitions(spark, dir, runId)), Seq("part_id"),
      "left_anti")
    val r = validateParts(todo, schema, keyCols)
    val verdicts = r.verdicts
      .withColumn("run_id", F.lit(runId))
      .withColumn("committed_at", F.current_timestamp())
    val violations = r.violations.withColumn("run_id", F.lit(runId))

    // violations first, manifest second: the manifest row is the COMMIT
    // point. A crash between the two leaves orphaned violation rows for
    // uncommitted partitions; `readViolations` filters them out by joining
    // against the manifest, and the retry re-appends them under a now-
    // committed partition — exactly-once as observed through the reader.
    // `todo` feeds BOTH writes — persist it so the scan + anti-join +
    // compiled validation run once, not once per lineage (at the scale
    // this module targets that halves the pass).
    todo.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      violations.write.mode(SaveMode.Append).parquet(violationsPath(dir))
      verdicts.write.mode(SaveMode.Append).parquet(manifestPath(dir))
    } finally todo.unpersist(blocking = false)
    spark.read.parquet(manifestPath(dir)).where(F.col("run_id") === runId)
  }

  /** Resumable validation of one SNAPSHOT of a snapshot-log table
    * ([[SnapshotTable]]): the run id IS the snapshot id, so the
    * per-partition manifest lives under the table directory alongside
    * the commit manifests (the north-rule "checkpointed per-partition
    * manifest with lineage + metrics written alongside each commit").
    * Kill/rerun resumes the same snapshot's remaining partitions; a NEW
    * commit validates under a fresh run id automatically. Returns the
    * snapshot's committed manifest rows. */
  def validateSnapshot(spark: SparkSession, tableDir: String,
                       schema: SchemaIR, keyCols: Seq[String],
                       snapshotId: Option[Long] = None,
                       nParts: Int = 256,
                       partIdOf: Option[Column] = None)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    val id = snapshotId.orElse(SnapshotTable.currentSnapshotId(tableDir))
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshots committed in $tableDir"))
    runResumable(spark, SnapshotTable.read(spark, tableDir, Some(id)),
      schema, keyCols, s"$tableDir/validation", f"snap-$id%06d",
      nParts, partIdOf)
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
    * Scale: verdict + violation aggregation are map-side-combined scans of
    * the new snapshot; the diff joins (key, digest) projections only; the
    * frequency table is one partial+final agg. Nothing here shuffles
    * payloads, and every output is integer-exact (oracle-portable). */
  def snapshotReport(curr: DataFrame, prev: DataFrame, schema: SchemaIR,
                     keyCol: String, payload: Column, freqCol: String)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataFrame = {
    val flagged = SchemaCompiler.validateDF(schema, curr, "valid")
    val verdicts = flagged.agg(
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
    // null frequency values render as a literal bucket: concat
    // null-propagates and a NULL metric key breaks the ORDER-BY-
    // non-null-keys determinism rule (Spark sorts nulls first,
    // DuckDB last)
    val freqs = curr.groupBy(
        F.concat(F.lit(s"freq:$freqCol:"),
          F.coalesce(F.col(freqCol).cast(StringType), F.lit("__NULL__")))
          .as("metric"))
      .agg(F.count(F.lit(1)).as("value"))
    verdicts.unionByName(viols).unionByName(diff).unionByName(freqs)
      .select(F.col("metric"), F.col("value").cast(LongType).as("value"))
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
