package mallispark

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, Attribute,
  Expression, Length, Size}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Project}
import org.apache.spark.sql.execution.FileSourceScanExec
import mallispark.ir.S
import mallispark.compile.SchemaCompiler
import mallispark.run.WebPages

/** Physical-plan quality gates (the 100-TB questions): column pruning to
  * the scan, filter pushdown, broadcast joins for small dims, whole-stage
  * codegen over the validation expressions, map-side partial aggregation.
  * These assert the plan SHAPE, not timings — shape survives scale-up. */
class PlanSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString()
  }

  test("column pruning: validating one column reads ONLY that column") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val schema = S.map("l_returnflag" -> S.enum_("A", "N", "R"))
    val validated = SchemaCompiler.validateDF(schema, li, "valid")
      .select("valid")
    val scans = validated.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_returnflag"),
      s"scan reads $readCols — pruning failed")
  }

  test("filter pushdown: violation predicate reaches the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(F.col("l_quantity") > 49.0)
    val scans = li.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThan(l_quantity,49.0)"),
      s"not pushed: $pushed")
  }

  test("snapshot diff shuffles only (key, digest) — payloads pruned at the scan") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val diff = mallispark.checks.TableChecks
      .snapshotDiff(d, d.where(F.col("doc_id") % 3 =!= 0), "doc_id",
        F.col("text"))
    // sparkPlan, not executedPlan: AQE wraps the join in
    // AdaptiveSparkPlanExec whose children aren't visible to collect
    val scans = diff.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // every scan reads exactly the key + payload column — lang/source/
    // n_chars never enter the plan, and the join input is (key, 64-hex
    // digest), so full payloads never shuffle
    scans.foreach { sc =>
      assert(sc.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
        s"scan reads ${sc.requiredSchema.fieldNames.mkString(",")}")
    }
    val plan = planOf(diff)
    assert(plan.contains("FullOuter"), s"no full-outer join:\n$plan")
  }

  test("snapshot_report plan: codegen only (no UDF), partial+final aggregation") {
    val plan = planOf(graft.SparkEntry.queries("snapshot_report")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      "report path must stay inside codegen")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no hash aggregation found:\n$plan")
  }

  test("bucketed tables join with no shuffle exchange (co-located layout)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang")
    mallispark.run.Bucketing.writeBucketed(d, "bt_a", "doc_id", 4)
    mallispark.run.Bucketing.writeBucketed(
      d.withColumnRenamed("lang", "lang2"), "bt_b", "doc_id", 4)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the join path a 10^12-row table would take (no broadcast)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("bt_a").join(spark.table("bt_b"), "doc_id")
      val plan = j.queryExecution.sparkPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bt_a")
      spark.sql("DROP TABLE IF EXISTS bt_b")
    }
  }

  test("broadcast join chosen for the small dimension side") {
    val plan = planOf(graft.SparkEntry.queries("join_priority_counts")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("whole-stage codegen covers the validation expressions") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    val validated = SchemaCompiler.validateDF(WebPages.schema, pages, "valid")
    val plan = planOf(validated)
    // `*(n)` marks WholeStageCodegen stage n in the compact plan string
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    // no UDFs / interpreted escapes in the core validation path
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("string bounds decide from the byte length: no Length in the flagship plan") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    val lengths = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.optimizedPlan.flatMap(
        _.expressions.flatMap(_.collect { case l: Length => l }))
    // [:string {:min 1}] and every other flagship leaf settle on
    // octet_length alone, on the valid and the errors path
    val valid = SchemaCompiler.validateDF(WebPages.schema, pages, "valid")
    assert(lengths(valid).isEmpty,
      s"Length in the flagship plan:\n${valid.queryExecution.optimizedPlan}")
    val viols = SchemaCompiler.violationsDF(WebPages.schema, pages, Seq("doc_id"))
    assert(lengths(viols).isEmpty,
      s"Length in the violations plan:\n${viols.queryExecution.optimizedPlan}")
    // a bound with an ambiguous byte band still counts code points there
    val bounded = SchemaCompiler.validateDF(S.map("text" -> S.string(3, 5)),
      pages.select("text"), "valid")
    assert(lengths(bounded).nonEmpty, "bounded :string lost its length()")
  }

  test("the flagship's compiled size is pinned: expression nodes per projection") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    // every expression node in the optimized plan's projections and
    // generators: a compile change that grows the hot path moves these
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case p: Project => p.projectList
        case g: Generate => Seq(g.generator)
      }.flatten.map(_.collect { case e => e }.size).sum
    val valid = SchemaCompiler.validateDF(WebPages.schema, pages, "valid")
    val viols = SchemaCompiler.violationsDF(WebPages.schema, pages, Seq("doc_id"))
    assert((nodes(valid), nodes(viols)) === ((228, 431)))
  }

  /** Filter conditions that re-evaluate a computed array: a size() of a
    * non-attribute, or a text kernel itself. Either is pushed below the
    * projection that computes the array and runs the kernel twice a row. */
  private def kernelFilters(df: org.apache.spark.sql.DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists {
        case Size(c, _) => !c.isInstanceOf[Attribute]
        case e => Set("shingle_h60_set", "minhash_from_text", "shingle_minhash")
          .contains(e.prettyName)
      } => f.condition
    }

  test("text kernels run once per row: no filter re-evaluates a kernel array") {
    // every docsets branch of the unmaterialized Jaccard path (no hot
    // cap, broadcast hot set, anti-join re-collect) filters on attributes
    // only and gives the materialized output
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def jac(maxShingleDf: Int, maxHot: Int, materialize: Boolean) =
      mallispark.text.Dedup.ngramJaccardWithinBuckets(docs, "doc_id", "text",
        threshold = 0.5, maxShingleDf = maxShingleDf,
        maxHotBroadcast = maxHot, materialize = materialize)
    for ((df, hot) <- Seq((0, 1 << 20), (1, 1 << 20), (1, 0))) {
      val lazyJac = jac(df, hot, materialize = false)
      val bad = kernelFilters(lazyJac)
      assert(bad.isEmpty, s"filter re-evaluates a kernel array " +
        s"(maxShingleDf=$df, maxHotBroadcast=$hot): $bad")
      val rows = (d: org.apache.spark.sql.DataFrame) =>
        d.collect().map(_.toSeq).toSet
      assert(rows(lazyJac) === rows(jac(df, hot, materialize = true)),
        s"materialize changes the output (maxShingleDf=$df, maxHotBroadcast=$hot)")
    }
    // the banding of both MinHash families
    val queries = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    for (q <- Seq("dedup_minhash_lsh", "dedup_minhash_fast")) {
      val bad = kernelFilters(queries(q)(spark, sf))
      assert(bad.isEmpty, s"$q: filter re-evaluates a kernel array: $bad")
    }
  }

  test("the Jaccard pair step computes one array_intersect per pair") {
    // the Jaccard filter is pushed into the pair join's condition, so an
    // intersection projected above the join would run there too
    val jac = mallispark.text.Dedup.ngramJaccardWithinBuckets(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      threshold = 0.5, materialize = false)
    val plan = jac.queryExecution.optimizedPlan
    val intersects = plan.collect { case p =>
      p.expressions.map(_.collect { case a: ArrayIntersect => a }.size).sum
    }.sum
    assert(intersects === 1, s"array_intersect count $intersects:\n$plan")
  }

  test("verdict aggregation is partial+final (map-side combine)") {
    val pages = WebPages.derive(spark.read.parquet(s"$sf/documents.parquet"))
    val res = mallispark.run.ValidationJob.run(pages, WebPages.schema,
      Seq("url"), nParts = 16)
    val plan = planOf(res.verdicts)
    // two HashAggregates around one exchange: partial then final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("Exchange hashpartitioning(part_id"))
  }

  test("anti-join referential check uses a join, not a subquery per row") {
    val plan = planOf(graft.SparkEntry.queries("ref_lineitem_orders")(spark, sf))
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
  }

  test("top_hosts is two-stage top-k, not a global window sort") {
    val plan = planOf(graft.SparkEntry.queries("top_hosts")(spark, sf))
    // TakeOrderedAndProject = per-partition top-k + k-row merge; the only
    // Window in the plan runs AFTER the limit, over exactly k rows
    assert(plan.contains("TakeOrderedAndProject"), s"no 2-stage top-k:\n$plan")
    assert(!plan.contains("Exchange singlepartition\n+- *(") ||
      plan.contains("TakeOrderedAndProject"))
  }

  test("dedup paths run through the one-pass hash kernels") {
    // the portable md5 shingle work must appear as the fused kernel
    // expressions, not as interpreted transform/array_join HOF chains
    val lsh = planOf(graft.SparkEntry.queries("dedup_minhash_lsh")(spark, sf))
    assert(lsh.contains("shingle_minhash"), s"no kernel in LSH plan:\n$lsh")
    // no per-shingle string construction in-plan (band-key joins over the
    // k signature values are fine — that's k elements per doc, not per
    // shingle); the tokenizing split would betray the old HOF path
    assert(!lsh.contains("split(lower("), "shingle tokenization in-plan")
    // the bench query materializes the one-pass kernel projection
    // (localCheckpoint), which hides the expression from the final plan —
    // assert the wiring on the unmaterialized variant, and that the
    // materialized bench plan carries no tokenizing HOF chain either
    val jacWiring = planOf(mallispark.text.Dedup.ngramJaccardWithinBuckets(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text",
      n = 3, threshold = 0.9, k = 16, bands = 8, materialize = false))
    assert(jacWiring.contains("shingle_h60_set"),
      "no h60 kernel in jaccard plan")
    assert(jacWiring.contains("minhash_from_text") ||
      jacWiring.contains("shingle_minhash"),
      "no minhash kernel in jaccard plan")
    val jac = planOf(graft.SparkEntry.queries("dedup_jaccard")(spark, sf))
    assert(!jac.contains("split(lower("), "shingle tokenization in-plan")
    val sim = planOf(graft.SparkEntry.queries("dedup_simhash")(spark, sf))
    assert(sim.contains("simhash_portable"), "no kernel in simhash plan")
    val ann = planOf(graft.SparkEntry.queries("ann_lsh_topk")(spark, sf))
    assert(ann.contains("hyperplane_buckets"), "no kernel in ANN plan")
    assert(ann.contains("BroadcastExchange"), "query side not broadcast")
  }

  test("IVF path: centroids broadcast, no corpus-wide window") {
    val plan = planOf(graft.SparkEntry.queries("ann_ivf_topk")(spark, sf))
    assert(plan.contains("BroadcastExchange"), s"centroids not broadcast:\n$plan")
    // the only windows partition by query_id (few rows) — the corpus cell
    // assignment is a partial+final max-struct aggregate, never a window
    val windows = "Window .*partitionBy".r.findAllIn(plan).toSeq
    assert(!plan.contains("windowspecdefinition(vec_id"),
      s"corpus-wide window in IVF plan:\n$plan")
  }

  test("multimodal frame sampling stays pure-Column (codegen, no UDF)") {
    val plan = planOf(graft.SparkEntry.queries("multimodal_frames")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF in frames plan:\n$plan")
  }

  test("multimodal decode stays pure-Column (no UDF, no shuffle before sort)") {
    // the pixel/sample sums are higher-order `aggregate` expressions —
    // Spark keeps those OUT of whole-stage codegen by design, but they
    // are still closure-free Catalyst expressions (no serialization
    // boundary, no ScalaUDF); the large-payload scale path is the
    // batched JVM decoder (extractFeatures)
    val plan = planOf(graft.SparkEntry.queries("multimodal_decode")(spark, sf))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"UDF in decode plan:\n$plan")
    assert(!plan.contains("hashpartitioning"),
      s"unexpected shuffle in decode plan:\n$plan")
  }

  test("generation is scan-free codegen over range (no shuffle, no UDF)") {
    val plan = planOf(graft.SparkEntry.queries("gen_roundtrip")(spark, sf))
    assert(!plan.contains("ScalaUDF"), s"UDF in gen plan:\n$plan")
    assert(plan.contains("Range"), s"no Range source:\n$plan")
    // one exchange is the final orderBy sort; generation itself must not
    // shuffle — with 200 rows the sort collapses to a single partition
    assert(!plan.contains("hashpartitioning"),
      s"unexpected hash shuffle in gen plan:\n$plan")
  }

  test("embedding near-dup candidates are bucket-gated (no cartesian pairs)") {
    val qe = graft.SparkEntry.queries("dedup_embedding")(spark, sf)
      .queryExecution
    val physical = qe.sparkPlan.toString()
    // the only all-pairs work is WITHIN (tbl, bucket) cells — a full
    // corpus self-cartesian would appear as a nested-loop/cartesian join
    assert(!physical.contains("CartesianProduct"),
      s"cartesian pair generation:\n$physical")
    assert(qe.optimizedPlan.toString().contains("bucket"),
      "candidate join is not bucket-keyed")
  }

  test("hot-bucket cap predicate + bounded member collect are in-plan") {
    // the bucket-size cap must be a PLAN predicate (an adversarial
    // corpus degrades recall, never the job), and group member lists
    // must aggregate through the k-capped heap, not collect_list
    val jac = graft.SparkEntry.queries("dedup_jaccard")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(jac.contains("bsz"), s"no bucket-size cap filter:\n$jac")
    assert(jac.contains("bounded_collect_min"),
      "bucket member collect is not state-bounded")
    val degen = graft.SparkEntry.queries("dedup_degenerate")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(degen.contains("bounded_collect_min"),
      "degenerate-group member collect is not state-bounded")
    val emb = graft.SparkEntry.queries("dedup_embedding")(spark, sf)
      .queryExecution.optimizedPlan.toString()
    assert(emb.contains("bsz"), s"no embedding bucket cap:\n$emb")
  }

  test("bounded collects aggregate partial+final (map-side heap merge)") {
    // the k-capped heap must combine map-side like any aggregate —
    // per-task state ≤ k per group BEFORE the shuffle, so a degenerate
    // group never ships its full membership across the exchange
    val df = spark.range(0, 1000, 1, 4)
      .select(F.pmod(F.col("id"), F.lit(5L)).as("g"), F.col("id"))
    val plan = df.groupBy("g")
      .agg(mallispark.expressions.BoundedCollectMin(F.col("id"), 3).as("b"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("partial_bounded_collect_min"),
      s"no partial aggregation for the bounded heap:\n$plan")
    assert(plan.contains("bounded_collect_min"), s"kernel missing:\n$plan")
  }

  test("violations_sampled plan: explode feeds a partial+final capped agg") {
    // the triage summary must combine map-side — a catastrophic input's
    // exemplar heaps stay O(k) per group per task BEFORE the shuffle
    val df = graft.SparkEntry.queries("violations_sampled")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_bounded_collect_min"),
      s"no partial aggregation in the triage plan:\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect in the triage plan:\n$plan")
  }

  test("LSH-gated jaccard has no full-table shingle self-join") {
    // the standalone quadratic shingle join is gone from the hot path:
    // every join in dedup_jaccard is either the banded candidate join or
    // keyed by (doc, shingle) against the candidate set
    val df = graft.SparkEntry.queries("dedup_jaccard")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString()
    // candidate gating present: band_key equi-join appears before any
    // shingle = shingle condition in the logical plan
    assert(optimized.contains("band_key"), s"no LSH gate:\n$optimized")
  }
}
