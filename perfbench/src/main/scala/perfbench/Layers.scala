package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import mallispark.checks.TableChecks
import mallispark.compile.SchemaCompiler
import mallispark.expressions.{MinHashFromText, ShingleH60Set}
import mallispark.ir.S
import mallispark.ir.SchemaIR.SMap
import mallispark.run.{SnapshotTable, ValidationJob, WebPages}
import mallispark.text.Dedup

/** The traced run's layer sweep: the same calls in every traced run,
  * over probe inputs made from the run's seed, each measured from outside
  * through the spans of [[Tracer]]. Every call runs twice and the second,
  * warmer run is measured, except the snapshot pass, which runs once. CPU figures are summed task CPU time; a
  * `*_cpu_s` of the compile layer is taken above the CPU of a scan-only
  * job over the same columns (`run.scan_cpu_s`). */
object Layers {
  val LayerNames = Seq("bench", "run", "compile", "checks", "text", "expressions")
  val PagesN = 200000L
  val CorpusN = 25000L

  private val leafKeys = Map("url" -> Some(Oracle.KeyUrl), "warc_ts" -> Some(Oracle.KeyTs),
    "html" -> None, "text" -> Some(Oracle.KeyText), "lang" -> Some(Oracle.KeyLang))

  def sweep(env: Env): (Seq[(String, Double, String)], Seq[String]) = {
    val t = env.tracer
    val spark = env.spark
    val base = Inputs.windowOf(env.seed)
    val want = Oracle.pages(base, PagesN)
    val ops = new Ops(t)
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))
    val mb = 1048576.0
    val t0 = System.nanoTime()
    def progress(section: String): Unit =
      System.err.println(f"[perfbench] sweep: $section done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

    /** Runs `call` twice; returns the span of the second run. */
    def twice[T](layer: String, name: String)(call: => T)(check: T => Boolean): Int = {
      ops.op(layer, name)(call)(check)
      ops.op(layer, name)(call)(check)
      t.last(name)
    }
    def cpuS(span: Int) = t.metrics(span).cpuNs / 1e9

    val (pages, corpus) = t.span("bench", "sweep inputs")((
      env.writeRead("sweep-pages", Inputs.pages(spark, base, PagesN, env.files)),
      env.writeRead("sweep-corpus", Inputs.corpus(spark, base, CorpusN, env.files))))

    progress("inputs")
    // ---- run / compile over the web-pages table ----
    // every job reads all six columns and aggregates like ValidationJob.run
    val touch = pages.columns.map(c => F.col(c).isNull).reduce(_ || _)
    def verdicts(df: DataFrame, valid: Column): (Long, Long) = {
      val r = df.withColumn("part_id", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(256L)))
        .groupBy("part_id").agg(F.count(F.lit(1)).as("n"),
          F.sum(F.when(valid, 1L).otherwise(0L)).as("v"), F.max(touch).as("t"))
        .agg(F.sum("n"), F.sum("v")).head()
      (r.getLong(0), r.getLong(1))
    }
    val floor = cpuS(twice("run", "scan floor")(verdicts(pages, F.lit(true)))(
      _ == (PagesN, PagesN)))
    put("run.scan_cpu_s", floor, "s")
    val SMap(entries, _, _) = WebPages.schema
    for (e <- entries if leafKeys.contains(e.key)) {
      val expectValid = PagesN - leafKeys(e.key).map(want.byKey).getOrElse(0L)
      val span = twice("compile", s"leaf ${e.key}") {
        verdicts(SchemaCompiler.validateDF(S.mapE(false, e), pages, "valid"), F.col("valid"))
      }(_ == (PagesN, expectValid))
      put(s"compile.leaf_cpu_s.${e.key}", cpuS(span) - floor, "s")
    }
    val schemaSpan = twice("compile", "ValidationJob.run+gate") {
      ValidationJob.gate(ValidationJob.run(pages, WebPages.schema, Seq("doc_id")).verdicts, 0.01)
    }(_ == (want.rows, want.valid))
    put("compile.schema_cpu_s", cpuS(schemaSpan) - floor, "s")
    val errorsSpan = twice("compile", "violationsDF") {
      SchemaCompiler.violationsDF(WebPages.schema, pages, Seq("doc_id"))
        .groupBy("error_key").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }(_ == want.byKey.filter(_._2 > 0))
    put("compile.errors_cpu_s", cpuS(errorsSpan) - floor, "s")
    val planMs = t.span("compile", "plan") {
      (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        SchemaCompiler.validateDF(WebPages.schema, pages, "valid").queryExecution.executedPlan
        (System.nanoTime() - t0) / 1e6
      }
    }
    put("compile.plan_ms", median(planMs), "ms")
    val codegen = {
      val v = ValidationJob.run(pages, WebPages.schema, Seq("doc_id")).verdicts
      v.collect()
      org.apache.spark.sql.execution.debug.codegenStringSeq(v.queryExecution.executedPlan)
        .map(_._2.length.toLong).sum
    }
    put("compile.codegen_bytes", codegen.toDouble, "bytes")
    val validateTasks = t.metrics(schemaSpan).taskMs.values.maxBy(_.sum).toSeq.sorted
    put("run.part_s_p50", median(validateTasks.map(_ / 1e3)), "s")
    put("run.part_s_max", validateTasks.last / 1e3, "s")
    val rateN = PagesN / t.wallS(schemaSpan)

    progress("run/compile")
    // ---- run / checks over a snapshot table ----
    val dir = env.path("sweep-table").toString
    t.span("bench", "sweep table")(SnapshotTable.commit(pages, dir, SnapshotTable.Overwrite))
    val baseDf = SnapshotTable.read(spark, dir, Some(1L))
    SnapshotCommit.pass(spark, ops, dir, baseDf, base, PagesN, 1)
    def wall(name: String) = t.wallS(t.last(name))
    put("run.commit_s", wall("SnapshotTable.commit"), "s")
    put("run.sink_s", wall("ValidationJob.validateSnapshot"), "s")
    put("run.bytes_written_mb", Seq("SnapshotTable.commit", "ValidationJob.validateSnapshot")
      .map(n => t.metrics(t.last(n)).written).sum / mb, "MB")
    put("run.report_s", wall("ValidationJob.snapshotReport"), "s")
    put("run.resume_noop_s", wall("ValidationJob.validateSnapshot resume"), "s")
    val diffSpan = twice("checks", "TableChecks.snapshotDiff") {
      TableChecks.snapshotDiff(SnapshotTable.read(spark, dir, Some(2L)),
        SnapshotTable.read(spark, dir, Some(1L)), "doc_id", Inputs.DiffPayload)
        .groupBy("change").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }(_ == Oracle.diff(base, PagesN, 1).filter(_._2 > 0))
    put("checks.diff_cpu_s", cpuS(diffSpan), "s")
    put("checks.diff_shuffle_mb", t.metrics(diffSpan).shuffleWrite / mb, "MB")

    progress("snapshot/checks")
    // ---- expressions / text over the dedup corpus ----
    val kernelSpan = twice("expressions", "MinHashFromText+ShingleH60Set") {
      val r = corpus.select(F.size(MinHashFromText(F.col("text"), 3, 16)).as("s"),
          F.size(ShingleH60Set(F.col("text"), 3)).as("h"))
        .agg(F.sum("s"), F.min("h")).head()
      (r.getLong(0), r.getInt(1))
    } { case (sigs, minSet) => sigs == 16 * CorpusN && minSet > 0 }
    put("expressions.kernel_cpu_s", cpuS(kernelSpan), "s")
    val bandsSpan = twice("text", "Dedup.minhashBandsFast") {
      Dedup.minhashBandsFast(corpus, "doc_id", "text", 16, 8, 3).count()
    }(_ == 8 * CorpusN)
    put("text.bands_cpu_s", cpuS(bandsSpan), "s")
    for (_ <- 1 to 2) DedupClusters.pass(ops, corpus, base, CorpusN)
    put("text.exact_cpu_s", cpuS(t.last("Dedup.exactDupGroups")), "s")
    val pairs = t.metrics(t.last("Dedup.ngramJaccardWithinBuckets"))
    put("text.pairs_cpu_s", pairs.cpuNs / 1e9, "s")
    put("text.pairs_shuffle_mb", pairs.shuffleWrite / mb, "MB")
    put("text.pairs_spill_mb", pairs.spill / mb, "MB")
    put("text.cluster_s", wall("Dedup.dupClusters"), "s")
    put("text.cluster_jobs", t.metrics(t.last("Dedup.dupClusters call")).jobs.toDouble, "count")
    // candidate-pair slots: C(size, 2) over the LSH buckets the pair step
    // expands (more than one and at most its default cap of 4096 members)
    val slots = t.span("bench", "bucket slots") {
      val c = F.col("count")
      Dedup.minhashBandsFast(corpus, "doc_id", "text", 16, 8, 3)
        .groupBy("band", "band_key").count()
        .agg(F.sum(F.when(c > 1 && c <= 4096, (c * (c - 1) / 2).cast("long")).otherwise(0L)))
        .head().getLong(0)
    }
    put("text.verify_yield", CorpusN / 5 * 10 / slots.toDouble, "ratio")

    progress("expressions/text")
    // ---- north-rule scaling: the same job at local[1] ----
    env.stop()
    env.start(1)
    val pages1 = env.spark.read.parquet(env.path("sweep-pages").toString)
    val one = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      ValidationJob.gate(ValidationJob.run(pages1, WebPages.schema, Seq("doc_id")).verdicts, 0.01)
      (System.nanoTime() - t0) / 1e9
    }
    progress("local[1]")
    put("run.eff_1_n", rateN / (env.cores * (PagesN / median(one.tail))), "ratio")

    val wrong = ops.wrong.toSeq ++
      (if (ops.failed > ops.wrong.size) Seq("a sweep call threw") else Nil)
    (out.toSeq, wrong)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
