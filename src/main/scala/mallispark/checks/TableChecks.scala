package mallispark.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Table-level checks (north rule; SURVEY §2.4-§2.5).
  *
  * malli has no table scope (one value at a time) — these are the
  * engine-side duals of its schema properties: observed min/max vs declared
  * `:min`/`:max` (core.cljc:726-736), per-key null counts vs `{:optional}`
  * inference (provider.cljc:61-68), duplicate-key errors (core.cljc:551-556).
  *
  * Scale notes (100 TB / 10^12 rows):
  *  - `columnStats` is ONE partial+final hash aggregation — no shuffle of
  *    data rows, only of per-partition aggregate buffers (bytes per column).
  *  - `duplicates` shuffles only the key column + count (pre-aggregated
  *    map-side), not whole rows; `duplicateRows` is the row-fetch variant.
  *  - `orphans`/`byteIdentity` join on the key; broadcast when one side is
  *    small, else sort-merge with AQE skew splitting.
  *  - drift aggregates to a tiny frequency table / quantile sketch; the
  *    statistic is computed on the aggregated result (driver-sized),
  *    never on raw rows.
  */
object TableChecks {

  /** Backtick-quote a column NAME for expression strings and F.col —
    * bare dotted names would otherwise resolve as struct paths. */
  private def bq(c: String): String = "`" + c.replace("`", "``") + "`"

  /** SQL string literal for a column name inside stack(). */
  private def sqlLit(c: String): String =
    "'" + c.replace("\\", "\\\\").replace("'", "\\'") + "'"

  // ---- column stats (count / null-rate / min / max / distinct) ----------

  /** One row per column: cnt, nulls, min, max, approx_distinct.
    * HLL++ for distinct (exact countDistinct would be a second shuffle per
    * column at scale). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val total = F.count(F.lit(1)).as("total")
    val aggs = cols.flatMap { c =>
      Seq(
        F.count(F.col(bq(c))).as(s"${c}__cnt"),
        // min/max on the NATIVE type (string-casting first would give
        // lexicographic extremes), stringified only for the long format
        F.min(F.col(bq(c))).cast(StringType).as(s"${c}__min"),
        F.max(F.col(bq(c))).cast(StringType).as(s"${c}__max"),
        F.approx_count_distinct(F.col(bq(c))).as(s"${c}__dist"))
    }
    val wide = df.agg(total, aggs: _*)
    // unpivot driver-side-free: stack() into long format. Names are
    // backtick-quoted (and literals escaped) so dotted/quoted column
    // names survive the SQL round-trip.
    val stackExpr = cols.map(c =>
      s"${sqlLit(c)}, ${bq(c + "__cnt")}, ${bq(c + "__min")}, " +
        s"${bq(c + "__max")}, ${bq(c + "__dist")}")
      .mkString(s"stack(${cols.length}, ", ", ",
        ") as (column_name, cnt, min_val, max_val, approx_distinct)")
    wide.select(F.col("total"), F.expr(stackExpr))
      .select(
        F.col("column_name"),
        F.col("cnt").cast(LongType).as("cnt"),
        (F.col("total") - F.col("cnt")).cast(LongType).as("null_cnt"),
        F.col("min_val"), F.col("max_val"),
        F.col("approx_distinct").cast(LongType).as("approx_distinct"))
  }

  /** Exact null counts per column (for the DuckDB oracle; single agg). */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.map(c =>
      F.sum(F.when(F.col(bq(c)).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"))
    val wide = df.agg(F.count(F.lit(1)).as("total"), aggs: _*)
    val stackExpr = cols.map(c => s"${sqlLit(c)}, ${bq(c + "__nulls")}")
      .mkString(s"stack(${cols.length}, ", ", ", ") as (column_name, null_cnt)")
    wide.select(F.col("total").cast(LongType).as("total"), F.expr(stackExpr))
      .select(F.col("column_name"), F.col("null_cnt").cast(LongType).as("null_cnt"),
        F.col("total"))
  }

  // ---- uniqueness --------------------------------------------------------

  /** Keys appearing more than once (duplicate-key check). Map-side partial
    * aggregation means only (key, count) pairs shuffle. */
  def duplicates(df: DataFrame, key: String): DataFrame =
    df.groupBy(F.col(key)).agg(F.count(F.lit(1)).as("dup_cnt"))
      .where(F.col("dup_cnt") > 1)

  /** The duplicate ROWS beyond the first occurrence per key, ordered by
    * `orderCol` (row_number over a window — one shuffle on the key).
    * These become violation rows with error key ::m/duplicate-keys. */
  def duplicateRows(df: DataFrame, key: String, orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(F.col(key)).orderBy(F.col(orderCol))
    df.withColumn("__rn", F.row_number().over(w))
      .where(F.col("__rn") > 1)
      .drop("__rn")
      .withColumn("error_key", F.lit("malli.core/duplicate-keys"))
  }

  /** Distributed top-k with dense 1..k ranks: `orderBy().limit(k)` compiles
    * to TakeOrderedAndProject — per-partition top-k, then a merge of
    * k×partitions rows — instead of an unpartitioned global Window sort
    * (which collapses the whole table into ONE task at web scale). The
    * row_number window that assigns ranks runs over exactly k rows. */
  def topK(df: DataFrame, k: Int, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = df.orderBy(order: _*).limit(k)
    top.withColumn("rank",
      F.row_number().over(Window.orderBy(order: _*)).cast(LongType))
  }

  // ---- referential --------------------------------------------------------

  /** Child keys with no parent (FK orphan detection): left_anti join.
    * `broadcastParent` hints the small-dim case explicitly. */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String,
              broadcastParent: Boolean = false): DataFrame = {
    val p0 = parent.select(F.col(parentKey).as(childKey)).distinct()
    val p = if (broadcastParent) F.broadcast(p0) else p0
    child.join(p, Seq(childKey), "left_anti")
  }

  /** The payload digest both snapshot checks compare: the raw 32-byte
    * SHA-256 of `payload`'s bytes (`df` tells whether it is binary).
    * BINARY payloads are digested byte-for-byte: a string round-trip
    * would decode them as UTF-8 (invalid sequences → replacement chars)
    * and two distinct payloads could digest equal. The raw digest, not
    * sha2's 64-char hex, halves what a join shuffles. A null payload
    * digests to the empty binary (a SHA-256 is always 32 bytes, so no
    * value collides with it): bare sha2(NULL) is NULL, and a null side
    * would drop a null↔value change from `=!=` or misclassify a
    * present-but-null row in a full outer join. */
  private def payloadDigest(df: DataFrame, payload: Column): Column = {
    val isBinary = df.select(payload).schema.head.dataType == BinaryType
    val bytes =
      if (isBinary) payload else payload.cast(StringType).cast(BinaryType)
    F.when(payload.isNull, F.lit(Array.emptyByteArray))
      .otherwise(F.unhex(F.sha2(bytes, 256)))
  }

  /** Byte-identity of `textCol` per `key` across two snapshots
    * (input_hint invariant): inner join on key + digest mismatch
    * (`payloadDigest`, no charset round-trips, SURVEY §7.6). */
  def byteIdentityViolations(curr: DataFrame, prev: DataFrame, key: String,
                             textCol: String): DataFrame = {
    val digest = payloadDigest(curr, F.col(textCol))
    curr.select(F.col(key), digest.as("curr_sha"))
      .join(prev.select(F.col(key), digest.as("prev_sha")), Seq(key), "inner")
      .where(F.col("curr_sha") =!= F.col("prev_sha"))
  }

  /** Cross-snapshot referential diff (north rule: referential checks across
    * table snapshots): classify every key as added / removed / modified
    * between two snapshots of the same table. Each side is projected to
    * (key, digest) BEFORE the join, so at 10^12 rows only the key plus a
    * 32-byte binary SHA-256 shuffle — payloads never move. The join
    * hash-partitions both sides on the key (sort-merge, AQE skew
    * splitting); unchanged keys drop out in the post-join filter. Assumes `key` is unique per snapshot
    * (run `duplicates` first otherwise). */
  def snapshotDiff(curr: DataFrame, prev: DataFrame, key: String,
                   payload: Column): DataFrame = {
    val digest = payloadDigest(curr, payload)
    val c = curr.select(F.col(key), digest.as("curr_sha"))
    val p = prev.select(F.col(key), digest.as("prev_sha"))
    c.join(p, Seq(key), "full_outer")
      .withColumn("change",
        F.when(F.col("prev_sha").isNull, F.lit("added"))
          .when(F.col("curr_sha").isNull, F.lit("removed"))
          .when(F.col("curr_sha") =!= F.col("prev_sha"), F.lit("modified")))
      .where(F.col("change").isNotNull)
      .select(F.col(key), F.col("change"))
  }

  // ---- distribution drift -------------------------------------------------

  /** Chi-square statistic between the categorical distributions of `col`
    * in `a` vs `b`. Two tiny aggregations + one broadcast-sized join;
    * statistic lives in the result row (driver-free compute).
    *
    * Returns one row: (statistic, dof, n_a, n_b). Uses the standard
    * two-sample chi-square: sum over cells of (K1*R_b - K2*R_a)^2 /
    * (R_a+R_b), K1=sqrt(N_b/N_a), K2=sqrt(N_a/N_b).
    *
    * FULLY DISTRIBUTIVE: totals (N_a, N_b, cell count) come from a first
    * 1-row aggregation, broadcast back onto the cell table as constants,
    * and the per-cell statistic then SUMS through ordinary partial+final
    * aggregation — per-group state is a handful of scalars, so a
    * high-cardinality category column streams through instead of packing
    * every cell into one collect_list buffer. */
  def chiSquare(a: DataFrame, b: DataFrame, col: String): DataFrame = {
    val fa = a.groupBy(F.col(col)).agg(F.count(F.lit(1)).as("cnt_a"))
    val fb = b.groupBy(F.col(col)).agg(F.count(F.lit(1)).as("cnt_b"))
    val joined = fa.join(fb, Seq(col), "full_outer")
      .select(F.col(col),
        F.coalesce(F.col("cnt_a"), F.lit(0L)).as("ra"),
        F.coalesce(F.col("cnt_b"), F.lit(0L)).as("rb"))
    val totals = joined.agg(
      F.sum("ra").as("n_a"), F.sum("rb").as("n_b"),
      F.count(F.lit(1)).as("cells"))
    val ra = F.col("ra").cast(DoubleType)
    val rb = F.col("rb").cast(DoubleType)
    val k1 = F.sqrt(F.col("n_b").cast(DoubleType) / F.col("n_a"))
    val k2 = F.sqrt(F.col("n_a").cast(DoubleType) / F.col("n_b"))
    joined.crossJoin(F.broadcast(totals))
      .agg(
        // degenerate (both frames empty) → zero cells: keep the original
        // fold's contract of statistic 0.0 / dof -1 / zero totals, not an
        // all-NULL row a threshold comparison would silently skip
        F.coalesce(
          F.sum(F.pow(k1 * ra - k2 * rb, 2.0) / (ra + rb)),
          F.lit(0.0)).as("statistic"),
        (F.coalesce(F.max("cells"), F.lit(0L)) - 1)
          .cast(LongType).as("dof"),
        F.coalesce(F.max("n_a"), F.lit(0L)).cast(LongType).as("n_a"),
        F.coalesce(F.max("n_b"), F.lit(0L)).cast(LongType).as("n_b"))
  }

  /** EXACT two-sample KS: group by value, order, running CDFs, max diff.
    * One sort shuffle over DISTINCT values (fine up to ~10^8 distincts;
    * beyond that use `ksStatistic`'s sketch path). Oracle-portable. */
  /** Exact two-sample KS, DISTRIBUTED: per-value counts are
    * RANGE-partitioned by value, per-partition totals prefix-sum on the
    * driver (`parts` rows), and the global cumulative = broadcast prefix
    * + a per-partition running sum — `parts` INDEPENDENT window tasks
    * instead of the classic single-task unpartitioned window. Exact for
    * any distinct-value cardinality that fits `parts` range partitions
    * (the per-value count table, not the raw rows). */
  def ksExact(df: DataFrame, valueCol: String, isA: Column,
              parts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nulls carry no order: they must not form a spurious first CDF step
    // nor count toward n_a/n_b (the sketch path's percentile_approx
    // ignores them too — the two paths must agree on the population)
    val nn = df.where(F.col(valueCol).isNotNull)
    val g = nn.groupBy(F.col(valueCol).as("v")).agg(
      F.sum(F.when(isA, 1L).otherwise(0L)).as("da"),
      F.sum(F.when(isA, 0L).otherwise(1L)).as("db"))
      .repartitionByRange(parts, F.col("v"))
      // pid must be IDENTICAL for the totals pass and the cumsum pass —
      // materialize (spark_partition_id is plan-dependent otherwise)
      .withColumn("pid", F.spark_partition_id())
      .localCheckpoint(true)
    val ptots = g.groupBy("pid")
      .agg(F.sum("da").as("pa"), F.sum("db").as("pb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    var (accA, accB) = (0L, 0L)
    val prefix = ptots.map { case (pid, pa, pb) =>
      val row = (pid, accA, accB); accA += pa; accB += pb; row
    }
    val spark = df.sparkSession
    val prefDf = spark.createDataFrame(
      spark.sparkContext.parallelize(prefix.toIndexedSeq.map {
        case (pid, a, b) => org.apache.spark.sql.Row(pid, a, b) }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pid", IntegerType, false),
        org.apache.spark.sql.types.StructField("prefa", LongType, false),
        org.apache.spark.sql.types.StructField("prefb", LongType, false))))
    val w = Window.partitionBy(F.col("pid")).orderBy(F.col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.join(F.broadcast(prefDf), "pid")
      .select((F.sum("da").over(w) + F.col("prefa")).as("ca"),
        (F.sum("db").over(w) + F.col("prefb")).as("cb"))
    val nA = accA
    val nB = accB
    cum.agg(
      F.round(F.max(F.abs(
        F.col("ca").cast(DoubleType) / F.lit(nA) -
          F.col("cb").cast(DoubleType) / F.lit(nB))), 6).as("ks_stat"),
      F.max(F.lit(nA)).as("n_a"), F.max(F.lit(nB)).as("n_b"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic on a numeric column via
    * `percentile_approx` quantile sketches (SURVEY §2.5): D = max over the
    * merged quantile grid of |F_a - F_b| approximated on `q` quantiles.
    * Sketches aggregate distributed; the max-diff folds over a q-sized
    * array in the result row. */
  def ksStatistic(a: DataFrame, b: DataFrame, col: String,
                  q: Int = 256): DataFrame = {
    val probs = F.array((1 until q).map(i => F.lit(i.toDouble / q)): _*)
    val qa = a.agg(F.percentile_approx(F.col(col), probs, F.lit(10000))
      .as("qa")).select(F.lit(1).as("k"), F.col("qa"))
    val qb = b.agg(F.percentile_approx(F.col(col), probs, F.lit(10000))
      .as("qb")).select(F.lit(1).as("k"), F.col("qb"))
    // For each quantile level i/q of A, F_a = i/q; F_b at that value is
    // estimated by the rank of qa[i] within qb (searchsorted via filter).
    qa.join(qb, "k").select(
      F.aggregate(
        F.zip_with(F.col("qa"), F.sequence(F.lit(1), F.lit(q - 1)),
          (v, i) => F.struct(v.as("v"), i.as("i"))),
        F.lit(0.0),
        (acc, s) => {
          val fa = s.getField("i").cast(DoubleType) / q
          val fb = F.size(F.filter(F.col("qb"),
            x => x <= s.getField("v"))).cast(DoubleType) / q
          F.greatest(acc, F.abs(fa - fb))
        }).as("ks_statistic"))
  }
}
