package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import mallispark.run.WebPages

/** Driver contract — see SURVEY.md §7 + FIXTURES.md §4.
  *
  * Every query is one `QuerySpec` in a per-family file beside it
  * (`WebQueries`, `ValidationQueries`, …): the Spark builder (the engine)
  * next to its DuckDB oracle SQL (ground truth on the same parquet) and
  * the fixtures both read. `queries`, `benchOnlyQueries` and `oracleSql`
  * are views of `registry`.
  * Cross-engine determinism rules used throughout:
  *  - hashes are md5-derived (never engine-private hash functions)
  *  - aggregates are exact integers, or doubles rounded to 4-6 dp
  *  - every output is ORDER BY'd on non-null keys
  *  - timestamps never appear in outputs (only in predicates)
  */
object SparkEntry {

  // ------------------------------------------------------------------
  // shared by the query families
  // ------------------------------------------------------------------

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private[graft] def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }
  }

  private[graft] def pages(s: SparkSession, dir: String): DataFrame =
    WebPages.derive(t(s, dir, "documents"))

  private[graft] val P = WebPages.OracleCte // WITH base AS (...), pages AS (...)

  /** Portable hash in DuckDB. */
  private[graft] def dh32(e: String) = s"('0x' || substring(md5($e),1,8))::BIGINT"

  // ------------------------------------------------------------------
  // the registry and its views
  // ------------------------------------------------------------------

  /** Every query, family by family. A new query goes into the family
    * file of its kind, as one `QuerySpec`. */
  lazy val registry: Seq[QuerySpec] = distinctNames(
    WebQueries.specs ++ ValidationQueries.specs ++ StreamingQueries.specs ++
      TableCheckQueries.specs ++ TransformQueries.specs ++
      MessageQueries.specs ++ TextQueries.specs ++ AnnQueries.specs ++
      MultimodalQueries.specs ++ GenInferQueries.specs)

  /** `specs`, after checking that no two share a name: a view keyed by
    * name would keep only one of them. */
  private[graft] def distinctNames(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** The oracle-gated queries: Verify dumps each for the DuckDB comparison
    * with its `oracleSql` entry. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case q if q.oracle.isDefined => q.name -> q.build }
      .toMap

  /** The bench-only queries (`oracle = None`): timed by Bench, not gated. */
  lazy val benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.collect { case q if q.oracle.isEmpty => q.name -> q.build }.toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Flagship: per-partition pass/fail verdicts of the web-pages
    * validation on sf=0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("web_verdicts")(spark, "/root/testdata/sf0.001")
}
