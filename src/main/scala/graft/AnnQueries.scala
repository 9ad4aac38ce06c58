package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.text.Similarity

/** Similarity search over embeddings: brute-force, LSH and IVF top-k,
  * their recall gates, and embedding near-dup pairs. Every parameter is
  * shared by the Spark query and its oracle, which replays the same
  * hyperplanes and centroids in DuckDB. */
private[graft] object AnnQueries {
  import SparkEntry.t

  // ANN-LSH parameters shared by the Spark queries and the oracle SQL.
  // Sized for recall ≥ 0.9 on the test embeddings (measured 0.92-0.96
  // at sf0.001/sf0.01): the synthetic vectors are near-uniform (top-5
  // neighbor cosine ≈ 0.32), the hardest case for hyperplane LSH — real
  // web embeddings cluster, so the same machinery prunes far harder
  // there; planes should grow ≈ log2(N/bucket) with corpus size.

  private val AnnPlanes = 3
  private val AnnTables = 10
  private val AnnDims = 64

  /** Near-dup LSH uses FINER buckets than ANN top-k: a 0.98-cosine pair
    * still co-buckets in ≥1 of the 10 OR-tables with P ≈ 1-5e-5 at 6
    * planes (miss prob per plane ≈ acos(0.98)/π ≈ 0.064), while the
    * candidate-pair count drops ~8× vs planes=3 (cells shrink from
    * n/8 to n/64 per table; pair cost is Σ|cell|²). The oracle replays
    * the SAME plane count, so the gate stays exact. */
  private val NearDupPlanes = 6

  /** Hot-bucket cap shared VERBATIM by the engine call and the oracle's
    * bucket-size HAVING clause — the cap is part of the operator's
    * semantics, so the SQL must replay it at any scale (gate corpora
    * sit far below it; an adversarial cell would be dropped by BOTH
    * engines identically). */
  private val NearDupMaxBucket = 4096
  // IVF params sized for recall ≥ 0.9 on the near-uniform test vectors
  // (measured 0.94/0.96 at the two gate scales): like the LSH path, the
  // worst-case data needs a high candidate fraction (nprobe/nCentroids ≈
  // 0.8 here); clustered real embeddings probe far fewer cells, and the
  // pruning ratio improves with nCentroids at corpus scale
  private val IvfCentroids = 16
  private val IvfProbe = 13
  // seeded Lloyd iterations for the IVF coarse quantizer — unrolled
  // iteration-for-iteration in the oracle CTEs (annIvfCtes)
  private val IvfIters = 2

  /** Per-table LSH bucket SELECTs with the SAME literal hyperplane signs
    * the Spark plan inlines (Similarity.planeSigns) — UNION ALL of one
    * SELECT per table producing (idCol, tbl, bucket). */
  private def lshBucketSql(src: String, idCol: String, vecCol: String,
                           planes: Int = AnnPlanes): String =
    (0 until AnnTables).map { tbl =>
      val signs = Similarity.planeSigns(tbl, planes, AnnDims)
      val bits = signs.zipWithIndex.map { case (sv, p) =>
        val arr = sv.map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]")
        s"""(CASE WHEN round(list_sum(list_transform(list_zip($vecCol, $arr),
           |  z -> CAST(z[1] AS DOUBLE) * z[2])), 4) >= 0
           |  THEN ${1L << p} ELSE 0 END)""".stripMargin
      }.mkString(" + ")
      s"SELECT $idCol, $tbl AS tbl, $bits AS bucket FROM $src"
    }.mkString("\nUNION ALL\n")

  /** Cosine between two list columns, matching Similarity.cosine's
    * element-order double arithmetic. */
  private def cosSqlOf(a: String, b: String) =
    s"""list_sum(list_transform(list_zip($a, $b),
       |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |   * sqrt(list_sum(list_transform($b,
       |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  private val cosSql = cosSqlOf("embedding", "qe")

  /** One unrolled Lloyd iteration for the IVF oracle: assign to the
    * max-cosine centroid of `prev` (ties → lowest cent_id), then the
    * quantized-integer-sum mean per (cell, dim) — `sum(round(x·10⁴))` is
    * an exact BIGINT sum, so the division `CAST(s AS DOUBLE)/c/10000.0`
    * is bit-identical to Similarity.kmeansCentroids' driver-side fold.
    * Cells with no members keep the previous centroid (LEFT JOIN +
    * coalesce). */
  private def kmeansIterSql(i: Int, prev: String): String =
    s"""asg$i AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSqlOf("c.embedding", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM corpus c CROSS JOIN $prev ct) WHERE rk = 1),
       |sums$i AS (SELECT cell, dim,
       |    sum(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS s,
       |    count(*) AS c
       |  FROM (SELECT a.cell, generate_subscripts(c.embedding, 1) AS dim,
       |          unnest(c.embedding) AS x
       |        FROM corpus c JOIN asg$i a USING (vec_id))
       |  GROUP BY cell, dim),
       |cents$i AS (SELECT ct.cent_id,
       |    coalesce(mm.arr, ct.cvec) AS cvec
       |  FROM $prev ct LEFT JOIN (
       |    SELECT cell AS cent_id,
       |      list(CAST(s AS DOUBLE) / c / 10000.0 ORDER BY dim) AS arr
       |    FROM sums$i GROUP BY cell) mm USING (cent_id))""".stripMargin

  /** Shared CTE chain for the IVF-ANN oracles: seeded k-means centroids
    * (init = lowest-id vectors quantized to 1e-4, then $IvfIters unrolled
    * Lloyd iterations), corpus cell assignment, query probes, candidate
    * refinement. */
  private def annIvfCtes: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |      WHERE vec_id < 10),
       |cents0 AS (SELECT vec_id AS cent_id,
       |    list_transform(embedding, x ->
       |      CAST(CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS DOUBLE)
       |        / 10000.0) AS cvec
       |  FROM corpus ORDER BY vec_id LIMIT $IvfCentroids),
       |${(1 to IvfIters).map(i => kmeansIterSql(i, s"cents${i - 1}"))
           .mkString(",\n")},
       |cents AS (SELECT cent_id, cvec FROM cents$IvfIters),
       |casg AS (SELECT vec_id, cell FROM (
       |  SELECT c.vec_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY c.vec_id
       |      ORDER BY ${cosSqlOf("c.embedding", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM corpus c CROSS JOIN cents ct) WHERE rk = 1),
       |qasg AS (SELECT query_id, cell FROM (
       |  SELECT qq.query_id, ct.cent_id AS cell,
       |    row_number() OVER (PARTITION BY qq.query_id
       |      ORDER BY ${cosSqlOf("qq.qe", "ct.cvec")} DESC,
       |        ct.cent_id ASC) AS rk
       |  FROM q qq CROSS JOIN cents ct) WHERE rk <= $IvfProbe),
       |ivf_pairs AS (SELECT DISTINCT qasg.query_id, casg.vec_id
       |  FROM casg JOIN qasg USING (cell)),
       |ivf_scored AS (SELECT p.query_id, p.vec_id, $cosSql AS cos
       |  FROM ivf_pairs p JOIN corpus USING (vec_id) JOIN q USING (query_id)),
       |ivf_ranked AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
       |    AS rank FROM ivf_scored)""".stripMargin

  /** Shared CTE chain for the LSH-ANN oracles: corpus/queries, bucketed
    * sides, candidate pairs, scored + ranked candidates. */
  private def annLshCtes: String =
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
       |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
       |      WHERE vec_id < 10),
       |cb AS (${lshBucketSql("corpus", "vec_id", "embedding")}),
       |qb AS (${lshBucketSql("q", "query_id", "qe")}),
       |pairs AS (SELECT DISTINCT qb.query_id, cb.vec_id
       |  FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket),
       |scored AS (SELECT p.query_id, p.vec_id,
       |  $cosSql AS cos
       |  FROM pairs p JOIN corpus USING (vec_id) JOIN q USING (query_id)),
       |lsh_ranked AS (SELECT query_id, vec_id,
       |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
       |    AS rank FROM scored)""".stripMargin

  def specs: Seq[QuerySpec] = Seq(

    // ---- similarity search over embeddings ----
    QuerySpec("ann_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      """WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10),
        |q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        |      WHERE vec_id < 10),
        |scored AS (SELECT query_id, vec_id,
        |  list_sum(list_transform(list_zip(embedding, qe),
        |    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / (sqrt(list_sum(list_transform(embedding,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |   * sqrt(list_sum(list_transform(qe,
        |       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM corpus, q),
        |ranked AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
        |    AS rank FROM scored)
        |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // LSH-bucketed ANN — scale path, EXACTLY mirrored in DuckDB (literal
    // hyperplane signs shared by both engines). Params are AnnPlanes=3
    // (2^3 = 8 buckets/table) × AnnTables=10 OR-tables — sized by the
    // recall gate (ann_lsh_recall ≥ 0.9 on the near-uniform worst-case
    // test vectors), not by corpus size; at 10^12 vectors raise
    // planes ≈ log2(N/bucket_size) and keep tables for recall
    QuerySpec("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.annTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5, planes = AnnPlanes,
          tables = AnnTables, dims = AnnDims)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      s"""$annLshCtes
         |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         |FROM lsh_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // ---- embedding-cosine near-dup dedup (the fifth dedup family the
    //      pipeline spec names): LSH-bucketed candidate pairs + exact
    //      cosine refine. Synthetic near-dups injected deterministically
    //      (exact copy at +10000, first-element-perturbed copy at
    //      +20000 for vec_id % 50 == 7); oracle replicates the
    //      hyperplane buckets from the shared literal signs ----
    QuerySpec("dedup_embedding", (s, dir) => {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val seeds = emb.where(F.col("vec_id") % 50 === 7)
      val dup = seeds.select((F.col("vec_id") + 10000L).as("vec_id"),
        F.col("embedding"))
      // perturb element 0 in DOUBLE then narrow to float — IEEE-identical
      // to the oracle's CAST(CAST(e[1] AS DOUBLE) + 0.05 AS REAL)
      val near = seeds.select((F.col("vec_id") + 20000L).as("vec_id"),
        F.concat(
          F.array((F.element_at(F.col("embedding"), 1).cast(DoubleType)
            + 0.05).cast(FloatType)),
          F.slice(F.col("embedding"), 2, 1 << 20)).as("embedding"))
      // gate-scale corpus is tiny — checkpoint it so the 5 downstream
      // references (bucket sizes, both self-join sides, both vector
      // re-joins) don't each re-scan parquet + recompute the union
      // (at production scale the corpus arrives materialized anyway)
      val corpus = emb.unionByName(dup).unionByName(near)
        .localCheckpoint(true)
      Similarity.nearDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.98, planes = NearDupPlanes, tables = AnnTables,
          dims = AnnDims, maxBucket = NearDupMaxBucket)
        .orderBy("id_a", "id_b")
    }, oracle = Some(
      s"""WITH base AS (SELECT vec_id, embedding FROM embeddings),
         |seeds AS (SELECT vec_id, embedding FROM base WHERE vec_id % 50 = 7),
         |dup AS (SELECT vec_id + 10000 AS vec_id, embedding FROM seeds),
         |near AS (SELECT vec_id + 20000 AS vec_id,
         |  list_prepend(CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS REAL),
         |    embedding[2:]) AS embedding FROM seeds),
         |corpus2 AS (SELECT * FROM base UNION ALL SELECT * FROM dup
         |            UNION ALL SELECT * FROM near),
         |b2 AS (${lshBucketSql("corpus2", "vec_id", "embedding",
             NearDupPlanes)}),
         |ok AS (SELECT tbl, bucket FROM b2 GROUP BY 1, 2
         |       HAVING count(*) <= $NearDupMaxBucket),
         |b3 AS (SELECT b2.* FROM b2 JOIN ok USING (tbl, bucket)),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM b3 a JOIN b3 b
         |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |scored AS (SELECT id_a, id_b,
         |    round(${cosSqlOf("va.embedding", "vb.embedding")}, 4) AS cos
         |  FROM cand JOIN corpus2 va ON va.vec_id = id_a
         |            JOIN corpus2 vb ON vb.vec_id = id_b)
         |SELECT id_a, id_b, cos FROM scored WHERE cos >= 0.98
         |ORDER BY id_a, id_b""".stripMargin)),

    // IVF (inverted-file) ANN — the second scale path the pipeline spec
    // names: coarse-quantizer cells + nprobe probing; deterministic
    // centroids make it exactly DuckDB-mirrorable
    QuerySpec("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
          qs, "query_id", "qe", k = 5, nCentroids = IvfCentroids,
          nprobe = IvfProbe, trainIters = IvfIters,
          centroidCacheKey = Some(dir))
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast(LongType).as("rank"))
        .orderBy("query_id", "rank")
    }, oracle = Some(
      s"""$annIvfCtes
         |SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         |FROM ivf_ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QuerySpec("ann_ivf_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5).select("query_id", "vec_id")
      val ivf = Similarity.ivfTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5, nCentroids = IvfCentroids,
        nprobe = IvfProbe, trainIters = IvfIters,
        centroidCacheKey = Some(dir)).select("query_id", "vec_id")
      val hits = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("hits"))
      val total = exact.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total).select(F.col("hits"), F.col("total"),
        F.floor(F.col("hits") * 100L / F.col("total")).as("recall_pct"))
    }, oracle = Some(
      s"""$annIvfCtes,
         |ex_scored AS (SELECT query_id, vec_id, $cosSql AS cos
         |  FROM corpus, q),
         |ex_ranked AS (SELECT query_id, vec_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |    AS rank FROM ex_scored),
         |ex AS (SELECT query_id, vec_id FROM ex_ranked WHERE rank <= 5),
         |iv AS (SELECT query_id, vec_id FROM ivf_ranked WHERE rank <= 5)
         |SELECT CAST(count(*) FILTER (WHERE iv.vec_id IS NOT NULL) AS BIGINT) AS hits,
         |  CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(*) FILTER (WHERE iv.vec_id IS NOT NULL) * 100
         |       // count(*) AS BIGINT) AS recall_pct
         |FROM ex LEFT JOIN iv
         |  ON ex.query_id = iv.query_id AND ex.vec_id = iv.vec_id""".stripMargin)),

    // recall@k of the LSH path vs the exact brute-force top-k — the
    // quality gate the scale path must hold (recall ≥ 0.9)
    QuerySpec("ann_lsh_recall", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(F.col("vec_id") >= 10)
      val qs = emb.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qe"))
      val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5).select("query_id", "vec_id")
      val lsh = Similarity.annTopK(corpus, "vec_id", "embedding",
        qs, "query_id", "qe", k = 5, planes = AnnPlanes,
        tables = AnnTables, dims = AnnDims).select("query_id", "vec_id")
      val hits = exact.join(lsh, Seq("query_id", "vec_id"), "left_semi")
        .agg(F.count(F.lit(1)).as("hits"))
      val total = exact.agg(F.count(F.lit(1)).as("total"))
      hits.crossJoin(total).select(F.col("hits"), F.col("total"),
        F.floor(F.col("hits") * 100L / F.col("total")).as("recall_pct"))
    }, oracle = Some(
      s"""$annLshCtes,
         |ex_scored AS (SELECT query_id, vec_id, $cosSql AS cos
         |  FROM corpus, q),
         |ex_ranked AS (SELECT query_id, vec_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
         |    AS rank FROM ex_scored),
         |ex AS (SELECT query_id, vec_id FROM ex_ranked WHERE rank <= 5),
         |ls AS (SELECT query_id, vec_id FROM lsh_ranked WHERE rank <= 5)
         |SELECT CAST(count(*) FILTER (WHERE ls.vec_id IS NOT NULL) AS BIGINT) AS hits,
         |  CAST(count(*) AS BIGINT) AS total,
         |  CAST(count(*) FILTER (WHERE ls.vec_id IS NOT NULL) * 100
         |       // count(*) AS BIGINT) AS recall_pct
         |FROM ex LEFT JOIN ls
         |  ON ex.query_id = ls.query_id AND ex.vec_id = ls.vec_id""".stripMargin))
  )
}
