package mallispark.run

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StructType

/** Minimal snapshot-log table format — the Iceberg-style operational
  * surface the north rule names (snapshot-isolated reads, time travel,
  * cross-snapshot diff, lineage + metrics alongside each commit),
  * implemented from scratch over plain parquet + text manifests (no
  * table-format jars exist in this sandbox; the MECHANICS are what the
  * engine integrates against).
  *
  * Layout under a table directory:
  * {{{
  *   data/snap-000001/part-*.parquet   files written by commit 1
  *   snap-000001.manifest              snapshot manifest (see below)
  *   snap-000002.manifest
  *   validation/manifest/              per-partition verdicts, all runs
  *   validation/violations/            violation rows, all runs
  *   validation/snap-000001.record     completion record of a run
  * }}}
  * The `validation/` entries belong to
  * [[ValidationJob.validateSnapshot]]: within a run the violations are
  * appended first, the manifest rows second (the commit point), and the
  * record's `done` mark last, so a run with the mark has nothing left to
  * validate and the next call reads its manifest alone.
  *
  * A manifest is the COMPLETE file listing visible at that snapshot plus
  * lineage (parent id, commit mode, rows added, total rows) — reading a
  * snapshot never lists the data directory, so readers are isolated from
  * in-flight writers exactly like Iceberg's metadata-tree reads: a
  * manifest file EXISTS only once its snapshot is fully published
  * (in-flight commits hold a `snap-N.claim` sidecar instead), so
  * `currentSnapshotId` always resolves to the last committed snapshot
  * even while a writer is mid-commit or after one crashed. Commits are
  * atomic via write-temp + rename; the current snapshot is the highest
  * manifest id (a production implementation would swap a catalog
  * pointer instead — same protocol, different atom).
  *
  * Scale: the manifest holds file PATHS only (one line per file — a
  * 100 TB table at 1 GB files is a ~10^5-line text file); data files are
  * never rewritten on append, so commit cost is O(new data). Reads hand
  * Spark the explicit file list, keeping partition pruning and parquet
  * pushdown intact. */
object SnapshotTable {

  sealed trait Mode { def name: String }
  case object Append extends Mode { val name = "append" }
  case object Overwrite extends Mode { val name = "overwrite" }

  /** Snapshot lineage record (mirrors an Iceberg snapshot summary). */
  final case class Snapshot(id: Long, parent: Option[Long], mode: String,
                            rowsAdded: Long, totalRows: Long,
                            schemaDdl: String, files: Seq[String])

  private val Header = "mallispark-snapshot v1"

  /** Commit `df` to the table at `dir`; returns the new snapshot id.
    * Append keeps the parent's files and adds the new ones; Overwrite
    * starts the file list fresh (logical replace — parent files stay on
    * disk for time travel, like Iceberg until expiry).
    *
    * Concurrency: the snapshot id is CLAIMED up front by atomically
    * creating a SIDECAR marker `snap-N.claim` (create-fails-if-exists)
    * BEFORE any data is written, so a racing committer gets an
    * IllegalStateException instead of silently replacing the winner's
    * manifest or clobbering its data directory (Linux rename(2) — and
    * therefore ATOMIC_MOVE — replaces silently). Because the claim is a
    * sidecar and NOT the manifest itself, readers and `lineage()` keep
    * resolving the last PUBLISHED snapshot throughout — Iceberg-style
    * reader isolation. The claim is removed after publish (and on a
    * clean in-JVM failure); a hard-crashed commit leaves an orphaned
    * claim that blocks only future commits of that id — recover with
    * [[expireClaims]]. A production implementation swaps a catalog
    * pointer with the same claim-then-publish protocol. */
  def commit(df: DataFrame, dir: String, mode: Mode = Append): Long = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val parent = currentSnapshotId(dir)
    val id = parent.getOrElse(0L) + 1
    val manifestPath = root.resolve(f"snap-$id%06d.manifest")
    val claimPath = root.resolve(f"snap-$id%06d.claim")
    try Files.createFile(claimPath) // atomic id claim (sidecar, not manifest)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent commit: snapshot $id already claimed in $dir " +
            "(if the claimant crashed, recover with expireClaims)")
    }
    // a racer that read the same parent may have already PUBLISHED this id
    // and released its claim before ours was created — publish precedes
    // release, so checking the manifest after a successful claim closes
    // that window. Without it we would overwrite the racer's committed
    // data directory AND then silently replace its manifest (rename(2)
    // and therefore ATOMIC_MOVE replace, they do not fail)
    if (Files.exists(manifestPath)) {
      Files.deleteIfExists(claimPath)
      throw new IllegalStateException(
        s"concurrent commit: snapshot $id was published while claiming " +
          s"in $dir — re-read currentSnapshotId and retry")
    }
    try {
      val subdir = f"data/snap-$id%06d"
      // the row count rides the write as an observed metric (Observations
      // complete on a write too), so no job reads the new files back
      val written = Observation()
      df.observe(written, F.count(F.lit(1)).as("rows"))
        .write.mode("overwrite").parquet(root.resolve(subdir).toString)
      val rowsAdded = written.get("rows").asInstanceOf[Long]
      // an all-empty write may produce ZERO part files — the manifest's
      // schema line keeps the snapshot readable as an empty frame
      val newFiles = {
        val st = Files.list(root.resolve(subdir))
        try st.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => s"$subdir/${p.getFileName}").toSeq.sorted
        finally st.close()
      }
      val (files, total) = mode match {
        case Append =>
          val p = parent.map(readManifest(dir, _))
          (p.map(_.files).getOrElse(Seq.empty) ++ newFiles,
            p.map(_.totalRows).getOrElse(0L) + rowsAdded)
        case Overwrite => (newFiles, rowsAdded)
      }
      val manifest = (Seq(Header, s"id $id",
        s"parent ${parent.map(_.toString).getOrElse("-")}",
        s"mode ${mode.name}", s"rows_added $rowsAdded", s"total_rows $total",
        s"schema ${df.schema.toDDL}",
        s"files ${files.size}") ++ files).mkString("\n")
      publish(manifestPath, manifest)
      Files.deleteIfExists(claimPath)
      id
    } catch {
      // clean in-JVM failure (analysis error, task abort): release the
      // claim so the table is immediately committable again; only a hard
      // crash leaves an orphan for expireClaims
      case e: Throwable =>
        if (!Files.exists(manifestPath)) Files.deleteIfExists(claimPath)
        throw e
    }
  }

  /** Remove orphaned claim sidecars — claims whose snapshot was published
    * (stale leftovers) plus, when `olderThanMillis` has elapsed since the
    * claim's mtime, claims from hard-crashed commits. The default is a
    * 10-minute window: a zero default would expire the claim of a LIVE
    * in-flight commit and re-open the concurrent-clobber the claim
    * prevents — pass 0 explicitly only when no committer can be running.
    * Returns the ids whose claims were removed. The data directory of a
    * crashed commit (if any) is left in place — it is unreachable (no
    * manifest lists it) and the next commit of that id overwrites it. */
  def expireClaims(dir: String,
                   olderThanMillis: Long = 10L * 60 * 1000): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val st = Files.list(root)
      val claims =
        try st.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("snap-") && n.endsWith(".claim")
        }.toSeq
        finally st.close()
      val now = System.currentTimeMillis()
      claims.flatMap { p =>
        val id = p.getFileName.toString
          .stripPrefix("snap-").stripSuffix(".claim").toLong
        val published =
          Files.exists(root.resolve(f"snap-$id%06d.manifest"))
        val expired = now - Files.getLastModifiedTime(p).toMillis >=
          olderThanMillis
        if (published || expired) { Files.deleteIfExists(p); Some(id) }
        else None
      }.sorted
    }
  }

  /** Highest committed snapshot id, if any. */
  def currentSnapshotId(dir: String): Option[Long] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) None
    else {
      val st = Files.list(root)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect {
          case s if s.startsWith("snap-") && s.endsWith(".manifest") =>
            s.stripPrefix("snap-").stripSuffix(".manifest").toLong }
        .maxOption
      finally st.close()
    }
  }

  /** Write `text` to `path` so it appears fully formed or not at all:
    * a temp file beside it, then an atomic rename. */
  private[run] def publish(path: Path, text: String): Unit = {
    val tmp = path.resolveSibling(s"${path.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readManifest(dir: String, id: Long): Snapshot = {
    val p = Paths.get(dir).resolve(f"snap-$id%06d.manifest")
    val lines = Files.readAllLines(p).asScala.toSeq
    require(lines.headOption.contains(Header),
      s"bad manifest $p (an empty file is a crashed in-flight commit)")
    // key-value lines until `files N`, then exactly N path lines
    val body = lines.drop(1)
    val kvLines = body.takeWhile(!_.startsWith("files "))
    val kv = kvLines.map { l =>
      val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1)
    }.toMap
    val nFiles = body(kvLines.size).stripPrefix("files ").toInt
    Snapshot(kv("id").toLong,
      Some(kv("parent")).filter(_ != "-").map(_.toLong),
      kv("mode"), kv("rows_added").toLong, kv("total_rows").toLong,
      kv("schema"),
      body.slice(kvLines.size + 1, kvLines.size + 1 + nFiles))
  }

  /** Snapshot-isolated read; default = current snapshot (time travel via
    * an explicit id). The explicit file list preserves pushdown/pruning,
    * and the manifest's schema line is passed to the reader: a schema-less
    * parquet read starts a Spark job to infer it from the footers, so
    * building this frame starts none (up to 32 files; Spark lists a longer
    * path list with a job). */
  def read(spark: SparkSession, dir: String,
           snapshotId: Option[Long] = None): DataFrame = {
    val id = snapshotId.orElse(currentSnapshotId(dir)).getOrElse(
      throw new IllegalArgumentException(s"no snapshots in $dir"))
    val m = readManifest(dir, id)
    // a logically-empty snapshot (no files) stays READABLE: the manifest
    // carries the schema, so downstream diffs/validation see an empty frame
    spark.read.schema(StructType.fromDDL(m.schemaDdl))
      .parquet(m.files.map(f => Paths.get(dir).resolve(f).toString): _*)
  }

  /** Lineage + metrics of every committed snapshot, oldest first —
    * the "manifest with lineage and metrics written alongside each
    * commit" surface (resumability reads this to find its base). */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val snaps = (1L to currentSnapshotId(dir).getOrElse(0L))
      .map(readManifest(dir, _))
    val schema = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("mode", StringType, nullable = false),
      StructField("rows_added", LongType, nullable = false),
      StructField("total_rows", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(snaps.map(s =>
        Row(s.id, s.parent.map(Long.box).orNull, s.mode, s.rowsAdded,
          s.totalRows, s.files.size.toLong)), 1),
      schema)
  }

  /** Cross-snapshot diff on REAL snapshot ids — key + payload digest
    * only shuffle ([[mallispark.checks.TableChecks.snapshotDiff]]). */
  def diff(spark: SparkSession, dir: String, fromId: Long, toId: Long,
           key: String, payload: Column): DataFrame =
    mallispark.checks.TableChecks.snapshotDiff(
      read(spark, dir, Some(toId)), read(spark, dir, Some(fromId)),
      key, payload)
}
