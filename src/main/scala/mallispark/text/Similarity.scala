package mallispark.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over embedding columns
  * (Array[Float]).
  *
  * Baseline: brute-force cosine top-k (exact; broadcast the query side).
  * Scale path: random-hyperplane LSH bucketing — signatures are pure
  * Column expressions with md5-derived pseudo-random hyperplane signs, so
  * buckets are deterministic and portable; the exact cosine runs only
  * within buckets. At 10^12 vectors the bucket join shuffles (bucket, id)
  * pairs; the embedding column moves only for in-bucket refinement. */
object Similarity {

  /** Cosine similarity between two array<float/double> columns (summed
    * in DOUBLE, left-to-right, for cross-engine determinism). Runs
    * through the codegen [[mallispark.expressions.CosineSim]] kernel —
    * bit-identical to the Column/higher-order-function formulation the
    * specs keep as its reference, but inside whole-stage codegen instead
    * of interpreted per-element lambdas. */
  def cosine(a: Column, b: Column): Column =
    mallispark.expressions.CosineSim(a, b)

  /** The top-k tail of every search: rank each query's scored rows by
    * `cos` descending, ties to the lowest corpus id, and keep the first
    * `k` — (queryId, corpusId, cos, rank). The window partitions by query,
    * so only the scored rows shuffle, never the corpus. */
  private def topK(scored: DataFrame, queryId: String, corpusId: String,
                   k: Int): DataFrame = {
    val w = Window.partitionBy(F.col(queryId))
      .orderBy(F.col("cos").desc, F.col(corpusId).asc)
    scored.withColumn("rank", F.row_number().over(w))
      .where(F.col("rank") <= k)
      .select(F.col(queryId), F.col(corpusId), F.col("cos"), F.col("rank"))
  }

  /** Exact cosine + top-k over candidate (queryId, corpusId) `pairs`: the
    * embeddings join back only for the candidates (the query side
    * broadcast). Shared by the IVF and LSH searches. */
  private def refineTopK(pairs: DataFrame,
                         corpus: DataFrame, corpusId: String, corpusVec: String,
                         queries: DataFrame, queryId: String, queryVec: String,
                         k: Int): DataFrame =
    topK(pairs
      .join(corpus, corpusId)
      .join(F.broadcast(queries), queryId)
      .withColumn("cos", cosine(F.col(corpusVec), F.col(queryVec))),
      queryId, corpusId, k)

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * corpus, window top-k per query. One corpus scan, no corpus shuffle
    * beyond the top-k aggregation. */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame =
    topK(corpus.crossJoin(F.broadcast(queries))
      .withColumn("cos", cosine(F.col(corpusVec), F.col(queryVec))),
      queryId, corpusId, k)

  /** Portable md5-derived 32-bit hash of a STRING, computed driver-side —
    * byte-identical to `TextOps.h32` / the DuckDB formula. Used to derive
    * the hyperplane sign constants once at plan build. */
  private def h32Scala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** Deterministic ±1 hyperplane signs for LSH table `table`:
    * planes × dims constants from md5 parity of "table_plane_dim".
    * Computed ONCE and inlined as literals into the plan (and into the
    * DuckDB oracle SQL) — zero per-row hash work, unlike a per-element
    * hash which costs planes×dims md5 calls per vector. */
  def planeSigns(table: Int, planes: Int, dims: Int): Seq[Seq[Double]] =
    Seq.tabulate(planes)(p => Seq.tabulate(dims)(i =>
      if (h32Scala(s"${table}_${p}_${i}") % 2 == 0) 1.0 else -1.0))

  /** (id, tbl, bucket) rows — ONE pass through the `HyperplaneBuckets`
    * kernel computes every table's random-hyperplane bucket (`planes`
    * sign bits of round(dot(v, r_p), 4), r_p ∈ {±1}^d from
    * [[planeSigns]], packed into one BIGINT), then explodes with
    * positional indices. The sign is taken on the rounded dot: both
    * engines sum doubles in element order with ≤1e-12 discrepancy, so the
    * rounded comparison cannot disagree. */
  private def bucketed(df: DataFrame, idCol: String, vecCol: String,
                       planes: Int, tables: Int, dims: Int): DataFrame =
    // posexplode_OUTER: the bucket array has constant length `tables`
    // ≥ 1, so outer explode emits identical rows — a plain posexplode
    // lets InferFiltersFromGenerate add a size(hyperplane_buckets(vec))
    // Filter below the projection, running the kernel TWICE per vector
    // null-vector rows produce a null bucket array (null-in-null-out
    // kernel) — drop their single outer-explode row so they cannot pool
    // into one shared (null, null) LSH cell (the plain posexplode
    // dropped them implicitly; the filter runs on the GENERATED column,
    // so no kernel re-evaluation is inferable from it)
    df.select(F.col(idCol),
        F.posexplode_outer(mallispark.expressions.HyperplaneBuckets(
          F.col(vecCol), planes, tables, dims)).as(Seq("tbl", "bucket")))
      .where(F.col("tbl").isNotNull)
      .select(F.col(idCol), F.col("tbl"), F.col("bucket"))

  /** Embedding-cosine NEAR-DUP pair generation — the embedding analogue
    * of the MinHash-banded text path: hyperplane-LSH bucketed candidate
    * pairs (all-pairs work only WITHIN a (table, bucket) cell), then an
    * exact cosine refinement at `threshold`. At 10^12 rows the
    * quadratic blowup is bounded by the bucket sizes; signatures are a
    * one-pass scan-side kernel. Returns (id_a < id_b, cos rounded to
    * 4dp) — the rounding makes the threshold comparison cross-engine
    * deterministic (both engines sum doubles in element order). */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, planes: Int, tables: Int,
                   dims: Int, maxBucket: Int = 4096): DataFrame = {
    // cells over `maxBucket` vectors are skipped and counted as
    // `embedding_lsh_dropped_buckets`; ids must be integral
    val cand = Dedup.bucketPairs(
      bucketed(df, idCol, vecCol, planes, tables, dims),
      Seq("tbl", "bucket"), idCol, maxBucket, "embedding")
    val va = df.select(F.col(idCol).as("id_a"), F.col(vecCol).as("va"))
    val vb = df.select(F.col(idCol).as("id_b"), F.col(vecCol).as("vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
      .where(F.col("cos") >= threshold)
      .select(F.col("id_a"), F.col("id_b"), F.col("cos"))
  }

  /** Element quantization for the k-means trainer: `round(x·10⁴)` as an
    * exact BIGINT. Integer sums are ORDER-INDEPENDENT, so the per-cell
    * means are bit-identical across engines regardless of partitioning /
    * aggregation order — the property a double-sum mean cannot give. The
    * 1e-4 resolution is ample for a COARSE quantizer's centroids. */
  private def qint(x: Column): Column =
    F.round(x.cast(DoubleType) * 10000).cast(LongType)

  /** Trained-centroid memo: production IVF trains its coarse quantizer
    * ONCE and persists it; within a session the deterministic training
    * result (a k×dims literal seq) is cached so repeated index builds
    * over the same corpus snapshot skip the Lloyd passes. The caller's
    * key alone is NOT trusted to identify the corpus — a fingerprint
    * (row count + commutative id checksum, ONE cheap aggregation job,
    * far cheaper than the 2·iters corpus jobs it saves) is folded in,
    * so data changing under a reused key/path retrains instead of
    * serving stale centroids. Bit-identical by construction — training
    * is deterministic in (corpus, k, iters). */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, Int),
      Seq[(Long, Seq[Double])]]()

  /** (count, sum of pmod(xxhash64(id, vec)), xor of xxhash64(id, vec))
    * — order-independent corpus identity covering BOTH the ids and the
    * vector contents (a re-embedded corpus under the same ids must
    * retrain), robust to partitioning (pmod before sum: raw 64-bit
    * hashes overflow an ANSI sum); collisions need an engineered corpus
    * pair, acceptable for a training memo. */
  private def corpusFingerprint(corpus: DataFrame, id: String,
                                vec: String): String = {
    val h = F.xxhash64(F.col(id), F.col(vec))
    val r = corpus.agg(
      F.count(F.lit(1)),
      F.sum(F.pmod(h, F.lit(1000000007L))),
      F.bit_xor(h)).collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Seeded deterministic k-means for the IVF coarse quantizer: init =
    * the `k` lowest-id vectors (the deterministic "seed"), then `iters`
    * fixed Lloyd iterations. Per iteration: assign every vector to its
    * max-cosine centroid (ties → lowest cent_id), recompute each centroid
    * as the mean of its members — computed as exact integer sums of
    * quantized elements divided once in double (`sum/count/10⁴`, left-
    * assoc), so the result is bit-identical in DuckDB's unrolled-CTE
    * mirror. Cells that lose all members keep their previous centroid.
    * Centroids collect to the driver (k × dims values) after each
    * iteration and re-enter the plan as literals — the plan never grows
    * with iterations, and the assignment scan stays one broadcast join
    * per iteration at any corpus size. */
  def kmeansCentroids(corpus: DataFrame, id: String, vec: String,
                      k: Int, iters: Int,
                      cacheKey: Option[String] = None): DataFrame = {
    val spark = corpus.sparkSession
    val centSchema = StructType(Seq(
      StructField("cent_id", LongType, nullable = false),
      StructField("cvec", ArrayType(DoubleType), nullable = false)))
    def literalDf(cs: Seq[(Long, Seq[Double])]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          cs.map { case (cid, v) => org.apache.spark.sql.Row(cid, v) }, 1),
        centSchema)
    val fp = cacheKey.map(_ => corpusFingerprint(corpus, id, vec))
    val cached = cacheKey.flatMap(ck =>
      Option(centroidCache.get((ck, fp.get, k, iters))))
    if (cached.isDefined) literalDf(cached.get)
    else {
    var cents: Seq[(Long, Seq[Double])] =
      corpus.orderBy(F.col(id)).limit(k)
        .select(F.col(id).cast(LongType),
          F.transform(F.col(vec), x => qint(x).cast(DoubleType) / 10000.0))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    for (_ <- 1 to iters) {
      val assigned = corpus.crossJoin(F.broadcast(literalDf(cents)))
        .withColumn("sim", cosine(F.col(vec), F.col("cvec")))
        .groupBy(F.col(id))
        .agg(F.max(F.struct(F.col("sim"), (-F.col("cent_id")).as("nc")))
          .as("best"))
        .select(F.col(id), (-F.col("best.nc")).as("cell"))
      val sums = corpus.join(assigned, id)
        .select(F.col("cell"), F.posexplode(F.col(vec)).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(F.sum(qint(F.col("x"))).as("s"), F.count(F.lit(1)).as("c"))
        .collect()
      val byCell: Map[Long, Seq[Double]] = sums
        .groupBy(_.getAs[Long]("cell"))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getAs[Int]("dim")).toSeq
            .map(r => r.getAs[Long]("s").toDouble / r.getAs[Long]("c") / 10000.0)
        }
      cents = cents.map { case (cid, old) => (cid, byCell.getOrElse(cid, old)) }
    }
    cacheKey.foreach(ck => centroidCache.put((ck, fp.get, k, iters), cents))
    literalDf(cents)
    }
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every corpus
    * vector to its nearest CENTROID cell (one map-side-combinable
    * `max(struct(sim, -cent))` aggregation — no window, no shuffle of the
    * corpus beyond the cell groupBy); queries probe their `nprobe`
    * nearest cells; exact cosine + top-k runs only over the probed cells'
    * members (~nprobe/nCentroids of the corpus).
    *
    * The quantizer is DETERMINISTIC either way, so the DuckDB oracle
    * reproduces the assignment exactly: `trainIters = 0` uses the
    * `nCentroids` lowest-id corpus vectors directly; `trainIters > 0`
    * refines them with that many seeded Lloyd iterations
    * (`kmeansCentroids` — quantized integer-sum means, unrolled
    * iteration-for-iteration in the oracle SQL). */
  def ivfTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, nCentroids: Int = 16, nprobe: Int = 4,
              trainIters: Int = 0,
              centroidCacheKey: Option[String] = None): DataFrame = {
    val cents =
      if (trainIters > 0)
        kmeansCentroids(corpus, corpusId, corpusVec, nCentroids, trainIters,
          centroidCacheKey)
      else corpus.orderBy(F.col(corpusId)).limit(nCentroids)
        .select(F.col(corpusId).as("cent_id"), F.col(corpusVec).as("cvec"))
    // corpus→cell: argmax cosine, ties to the LOWEST centroid id, via a
    // partial-aggregable max over (sim, -cent_id) — scan-side combine,
    // never a per-vector window
    val corpusCells = corpus.crossJoin(F.broadcast(cents))
      .withColumn("sim", cosine(F.col(corpusVec), F.col("cvec")))
      .groupBy(F.col(corpusId))
      .agg(F.max(F.struct(F.col("sim"), (-F.col("cent_id")).as("nc")))
        .as("best"))
      .select(F.col(corpusId), (-F.col("best.nc")).as("cell"))
    // queries→nprobe cells (queries are few: a window over nCentroids
    // rows per query is driver-scale work)
    val qw = Window.partitionBy(F.col(queryId))
      .orderBy(F.col("sim").desc, F.col("cent_id").asc)
    val queryCells = queries.crossJoin(F.broadcast(cents))
      .withColumn("sim", cosine(F.col(queryVec), F.col("cvec")))
      .withColumn("rk", F.row_number().over(qw))
      .where(F.col("rk") <= nprobe)
      .select(F.col(queryId), F.col("cent_id").as("cell"))
    val pairs = corpusCells.join(F.broadcast(queryCells), "cell")
      .select(F.col(queryId), F.col(corpusId)).distinct()
    refineTopK(pairs, corpus, corpusId, corpusVec, queries, queryId,
      queryVec, k)
  }

  /** ANN top-k via multi-table (OR-banded) hyperplane LSH: `tables`
    * independent sign tables; a candidate is any (query, corpus) pair
    * co-bucketed in AT LEAST ONE table — recall grows with tables while
    * per-table buckets stay selective. Exact cosine + per-query top-k runs
    * only on the candidate set.
    *
    * Scale: candidates shuffle as (tbl, bucket) pairs; embeddings move
    * only for the candidate re-join. Size planes to the corpus
    * (planes ≈ log2(N / wanted_bucket_size)) and add tables for recall. */
  def annTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, planes: Int = 16, tables: Int = 4,
              dims: Int = 64): DataFrame = {
    val pairs = bucketed(corpus, corpusId, corpusVec, planes, tables, dims)
      .join(F.broadcast(
        bucketed(queries, queryId, queryVec, planes, tables, dims)),
        Seq("tbl", "bucket"))
      .select(F.col(queryId), F.col(corpusId)).distinct()
    refineTopK(pairs, corpus, corpusId, corpusVec, queries, queryId,
      queryVec, k)
  }
}
