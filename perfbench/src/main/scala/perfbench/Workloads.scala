package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import mallispark.run.{SnapshotTable, ValidationJob, WebPages}
import mallispark.text.Dedup

/** Operation accounting. An operation is one call into a public entry
  * point followed by a check of its output; only the call is timed. An
  * operation fails when the call throws or the check rejects the output;
  * after a throw the rest of the pass is skipped and counted as failed,
  * so every pass attempts the same operations. */
final class Ops(val tracer: Tracer) {
  var attempted, failed, wallNs, cpuNs = 0L
  /** Wall seconds of each pass, and of each operation by name. */
  val passWalls = collection.mutable.ArrayBuffer.empty[Double]
  val opWalls = collection.mutable.LinkedHashMap.empty[String, collection.mutable.ArrayBuffer[Double]]
  val wrong = collection.mutable.ArrayBuffer.empty[String]
  private var broken = false

  def pass(body: => Unit): Unit = {
    broken = false
    val w0 = wallNs
    tracer.span("bench", "pass")(body)
    passWalls += (wallNs - w0) / 1e9
  }

  def op[T](layer: String, name: String)(call: => T)(check: T => Boolean): Unit = {
    attempted += 1
    if (broken) failed += 1
    else {
      val c0 = Ops.cpuNs()
      val t0 = System.nanoTime()
      val out =
        try Right(tracer.span(layer, name)(call))
        catch { case NonFatal(e) => Left(e) }
      val dt = System.nanoTime() - t0
      wallNs += dt
      opWalls.getOrElseUpdate(name, collection.mutable.ArrayBuffer()) += dt / 1e9
      cpuNs += Ops.cpuNs() - c0
      out match {
        case Left(e) =>
          System.err.println(s"[perfbench] $name threw: $e")
          failed += 1
          broken = true
        case Right(v) =>
          val ok = try check(v) catch {
            case NonFatal(e) => System.err.println(s"[perfbench] check of $name threw: $e"); false
          }
          if (!ok) {
            System.err.println(s"[perfbench] $name: output rejected by the check")
            failed += 1
            wrong += name
          }
      }
    }
  }
}

object Ops {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: task threads, GC and JIT. */
  def cpuNs(): Long = os.getProcessCpuTime
}

/** One workload: inputs made in `setup`, then passes of the same
  * operations. A run times `--seconds / passSeconds` passes (at least one),
  * `passSeconds` being about the wall time of one warm pass at local[4]. */
trait Workload {
  def docsPerPass: Long
  def warmupPasses: Int
  def passSeconds: Double
  def pass(ops: Ops): Unit
}

object Workload {
  val Names = Seq("validate_verdicts", "snapshot_commit")

  def setup(name: String, env: Env): Workload = name match {
    case "validate_verdicts" => new ValidateVerdicts(env)
    case "snapshot_commit" => new SnapshotCommit(env)
  }

  /** Rows and valid rows of a manifest or verdicts frame. */
  def totals(verdicts: DataFrame): (Long, Long) = {
    val r = verdicts.agg(F.sum("rows"), F.sum("valid_rows")).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** The flagship `WebPages.schema` over a parquet web-pages table, through
  * `ValidationJob.run` verdicts and `ValidationJob.gate`. */
final class ValidateVerdicts(env: Env) extends Workload {
  val docsPerPass = 1000000L
  val warmupPasses = 12
  val passSeconds = 1.0
  private val base = Inputs.windowOf(env.seed)
  private val expected = Oracle.pages(base, docsPerPass)
  private val df = env.writeRead("pages", Inputs.pages(env.spark, base, docsPerPass, env.files))

  def pass(ops: Ops): Unit =
    ops.op("run", "ValidationJob.run+gate") {
      val r = ValidationJob.run(df, WebPages.schema, Seq("doc_id"))
      ValidationJob.gate(r.verdicts, maxInvalidFrac = 0.01)
    } { _ == (expected.rows, expected.valid) }
}

/** Each pass commits mutated state k of the table as a new snapshot,
  * validates it resumably, reports it against the previous snapshot and
  * validates it again, which must find nothing left to do. */
final class SnapshotCommit(env: Env) extends Workload {
  val rows = 200000L
  val warmupPasses = 3
  val passSeconds = 5.0
  private val base = Inputs.windowOf(env.seed)
  private val spark = env.spark
  private val dir = env.path("table").toString
  SnapshotTable.commit(Inputs.pages(spark, base, rows, env.files), dir,
    SnapshotTable.Overwrite)
  private val baseDf = SnapshotTable.read(spark, dir, Some(1L))
  private var k = 0L
  def docsPerPass: Long = rows

  def pass(ops: Ops): Unit = {
    k += 1
    SnapshotCommit.pass(spark, ops, dir, baseDf, base, rows, k)
  }
}

object SnapshotCommit {
  private val key = Seq("doc_id")

  /** The four operations of one pass over state k (snapshot k + 1). */
  def pass(spark: SparkSession, ops: Ops, dir: String, baseDf: DataFrame,
           base: Long, rows: Long, k: Long): Unit = {
    val want = Oracle.state(base, rows, k)
    val wantDiff = Oracle.diff(base, rows, k)
    val verdicts = (want.rows, want.valid)
    def validate() = Workload.totals(
      ValidationJob.validateSnapshot(spark, dir, WebPages.schema, key))
    ops.op("run", "SnapshotTable.commit") {
      SnapshotTable.commit(Inputs.Mutation(baseDf, base, k), dir, SnapshotTable.Overwrite)
    } { _ == k + 1 }
    ops.op("run", "ValidationJob.validateSnapshot")(validate())(_ == verdicts)
    ops.op("run", "ValidationJob.snapshotReport") {
      ValidationJob.snapshotReport(SnapshotTable.read(spark, dir, Some(k + 1)),
        SnapshotTable.read(spark, dir, Some(k)), WebPages.schema, "doc_id",
        Inputs.DiffPayload, "lang").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    } { report =>
      val freqs = report.filter(_._1.startsWith("freq:lang:"))
      val rest = report -- freqs.keys
      rest == Map("rows_total" -> want.rows, "rows_valid" -> want.valid) ++
        want.byKey.filter(_._2 > 0).map { case (e, c) => s"viol:$e" -> c } ++
        wantDiff.filter(_._2 > 0).map { case (c, n) => s"diff:$c" -> n } &&
        freqs.values.sum == want.rows &&
        freqs.getOrElse("freq:lang:xx", 0L) == want.byKey(Oracle.KeyLang)
    }
    ops.op("run", "ValidationJob.validateSnapshot resume")(validate()) { v =>
      v == verdicts && resumeIdempotent(spark, dir, k + 1, want)
    }
  }

  /** After the second `validateSnapshot` on a snapshot, its manifest totals
    * (checked by the caller) still equal the oracle's, so no partition was
    * committed twice, and the violation sink holds each violation exactly
    * once: its rows for the run, by error key, are the oracle's counts. */
  private def resumeIdempotent(spark: SparkSession, dir: String, snap: Long,
                               want: Oracle.Counts): Boolean =
    spark.read.parquet(s"$dir/validation/violations")
      .where(F.col("run_id") === f"snap-$snap%06d")
      .groupBy("error_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == want.byKey.filter(_._2 > 0)
}

/** `Dedup.exactDupGroups`, then `Dedup.ngramJaccardWithinBuckets` into
  * `Dedup.dupClusters`, over a corpus of 5-copy groups: the dedup part of
  * the traced run's layer sweep. */
object DedupClusters {
  def pass(ops: Ops, df: DataFrame, base: Long, n: Long): Unit = {
    ops.op("text", "Dedup.exactDupGroups") {
      Dedup.exactDupGroups(df, "doc_id", "text").select("dup_cnt", "doc_ids")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    } { g => Oracle.exactGroupsOk(base, n, g.toSeq) }
    var verified: DataFrame = null
    ops.op("text", "Dedup.ngramJaccardWithinBuckets") {
      verified = Dedup.ngramJaccardWithinBuckets(df, "doc_id", "text", threshold = 0.9,
        maxShingleDf = 1000).localCheckpoint(true)
      verified
    } { p =>
      Oracle.pairsOk(base, n, p.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    ops.op("text", "Dedup.dupClusters") {
      // the inner span holds only the jobs dupClusters starts itself
      ops.tracer.span("text", "Dedup.dupClusters call")(
        Dedup.dupClusters(verified, "id_a", "id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    } { c => Oracle.clustersOk(base, n, c.toSeq) }
  }
}
