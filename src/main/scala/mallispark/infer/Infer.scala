package mallispark.infer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** Schema inference from data — the `malli.provider` analogue
  * (reference: /root/reference/src/malli/provider.cljc:14-111).
  *
  * malli folds a stats accumulator over sample values row-at-a-time
  * (`-inferrer`, provider.cljc:14-36); we run ONE distributed aggregation
  * over the DataFrame (count, null count, distinct per column) and derive:
  *  - leaf type from the physical Spark type (malli's type preference
  *    order, provider.cljc:5-6, is subsumed — parquet already types it)
  *  - `[:maybe X]` when nulls observed (provider.cljc:87-88 wraps the
  *    non-nil child in :maybe on a nil/type mix), PLUS `{:optional true}`
  *    on the entry — parquet conflates "key absent" with "value nil", so
  *    both of malli's signals are emitted
  *  - `:enum` for low-cardinality strings (the value-frequency map,
  *    provider.cljc:33) under enumMaxCard/enumMaxRatio — decided IN the
  *    single pass via a bounded distinct-set aggregate
  *    (`BoundedStringSet` with k = enumMaxCard+1: overflow proves
  *    non-enum-hood, otherwise the result is the exact value set), so a
  *    wide table never pays one distinct job per candidate column
  *  - `:uuid` for string columns whose every value is uuid-shaped — the
  *    physical-string analogue of malli's `::value-decoders` narrowing
  *    (provider.cljc:70-72, -decoded): a Clojure UUID object is `uuid?`
  *    directly; a parquet string column can only reveal itself by value
  *  - `:tuple` for array columns with CONSTANT length ≤ tupleMaxLen
  *    (provider.cljc:50-55 — per-index schema agreement is guaranteed
  *    here by the uniform physical element type)
  *  - `:map-of` vs `:map` for map columns by malli's key-cardinality rule
  *    `distinct-keys > n^0.7` where n = total key OCCURRENCES
  *    (provider.cljc:57-59, -map-of-accept); fixed-key maps get per-key
  *    entries with `{:optional true}` when a key misses rows
  *    (provider.cljc:66-68)
  *  - observed min/max attached as bounds for numeric/timestamp columns
  *    (the observed duals of `:min`/`:max` props).
  *
  * `exact = true` enables the per-map-column key pass (`:map-of` vs
  * fixed-key `:map` needs a key explode) — everything else, including
  * the enum decision, is exact and single-pass in BOTH modes; the
  * approx path is the 100-TB default (one aggregation job total). */
object Infer {

  final case class Options(enumMaxCard: Int = 16, enumMaxRatio: Double = 0.1,
                           withBounds: Boolean = false,
                           exact: Boolean = false,
                           nilAsMaybe: Boolean = true,
                           tupleMaxLen: Int = 16,
                           narrowStrings: Boolean = true)

  /** Lowercase uuid shape (the md5-formatted 8-4-4-4-12 layout; malli's
    * uuid regex modulo case). Shared with the DuckDB oracle literal. */
  val UuidRe = "^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"

  def infer(df: DataFrame, opts: Options = Options()): SMap = {
    val cols = df.schema.fields.toSeq
    val aggs = cols.flatMap { f =>
      val c = F.col(f.name)
      Seq(F.count(c).as(s"${f.name}__cnt"),
        (f.dataType match {
          // the :enum decision rides the SAME pass as a bounded distinct
          // set (k = enumMaxCard+1, O(k) agg state): an overflowing
          // result proves non-enum-hood, a smaller one IS the exact
          // value set — no per-column distinct job, exact in BOTH modes
          case StringType =>
            mallispark.expressions.BoundedStringSet(c, opts.enumMaxCard + 1)
          case _ => F.array().cast(ArrayType(StringType))
        }).as(s"${f.name}__enumv")) ++
        (if (isOrdered(f.dataType))
           Seq(F.min(c).cast(StringType).as(s"${f.name}__min"),
             F.max(c).cast(StringType).as(s"${f.name}__max"))
         else Seq.empty) ++
        (f.dataType match {
          case StringType if opts.narrowStrings =>
            // 36-byte gate: codegen's && short-circuits, so long non-uuid
            // strings (document bodies) never enter the regex. UuidRe is
            // ASCII-only, so a match is 36 bytes (and "<uuid>\n", which
            // `$` accepts, is 37) — no code-point count needed
            Seq(F.count(F.when(F.octet_length(c) === 36 && c.rlike(UuidRe), 1))
              .as(s"${f.name}__uuid"))
          case _: ArrayType =>
            Seq(F.min(F.size(c)).as(s"${f.name}__szmin"),
              F.max(F.size(c)).as(s"${f.name}__szmax"))
          case _ => Seq.empty
        })
    }
    val stats = df.agg(F.count(F.lit(1)).as("__total"), aggs: _*).collect()(0)
    val total = stats.getAs[Long]("__total")

    val entries = cols.map { f =>
      val cnt = stats.getAs[Long](s"${f.name}__cnt")
      val optional = cnt < total
      // exact distinct values when the column has ≤ enumMaxCard of them;
      // an (enumMaxCard+1)-sized set means "more than enumMaxCard"
      def enumVals: Seq[String] =
        stats.getAs[scala.collection.Seq[String]](s"${f.name}__enumv")
          .toSeq.sorted
      val base = f.dataType match {
        case StringType
            if opts.narrowStrings && cnt > 0 &&
              stats.getAs[Long](s"${f.name}__uuid") == cnt =>
          SUuid
        case StringType
            if enumVals.nonEmpty && enumVals.size <= opts.enumMaxCard &&
              total > 0 &&
              enumVals.size.toDouble / math.max(cnt, 1) <= opts.enumMaxRatio =>
          // (nonEmpty: an all-null column must fall through to :string —
          // [:enum] with zero members is degenerate and invalid malli)
          SEnum(enumVals)
        case at: ArrayType =>
          val szMin = Option(stats.getAs[Any](s"${f.name}__szmin"))
            .map(_.asInstanceOf[Number].longValue)
          val szMax = Option(stats.getAs[Any](s"${f.name}__szmax"))
            .map(_.asInstanceOf[Number].longValue)
          if (cnt > 0 && szMin == szMax &&
              szMin.exists(n => n >= 1 && n <= opts.tupleMaxLen))
            STuple(Seq.fill(szMin.get.toInt)(
              leafFor(at.elementType, f.name, stats, Options())))
          else SVector(leafFor(at.elementType, f.name, stats, Options()))
        case mt: MapType if opts.exact =>
          inferMapCol(df, f.name, mt, cnt, opts)
        case other => leafFor(other, f.name, stats, opts)
      }
      val child =
        if (opts.nilAsMaybe && optional && total > 0) SMaybe(base) else base
      Entry(f.name, child, optional = optional)
    }
    SMap(entries)
  }

  /** `:map-of` vs fixed-key `:map` for one map column — malli's
    * -map-of-accept (provider.cljc:58-59): distinct keys > n^0.7 over
    * n total key occurrences. Exact path only: needs a key-explode pass
    * per map column (gate-scale work; the one-pass approx path keeps
    * `:map-of`, which is always sound for a uniform physical map type). */
  private def inferMapCol(df: DataFrame, name: String, mt: MapType,
                          nonNullRows: Long, opts: Options): SchemaIR = {
    // materialize the per-key counts once: the totals aggregate AND the
    // fixed-key collect below both consume them (the collect otherwise
    // re-runs the whole explode+groupBy)
    val keyRows = df.select(F.explode(F.map_keys(F.col(name))).as("k"))
      .groupBy("k").agg(F.count(F.lit(1)).as("kc"))
      .localCheckpoint(true)
    val ks = stats(keyRows)
    val (nOcc, dk) = ks
    val kLeaf = leafFor(mt.keyType, name, null, Options())
    val vLeaf = leafFor(mt.valueType, name, null, Options())
    if (dk > math.pow(nOcc.toDouble, 0.7)) SMapOf(kLeaf, vLeaf)
    else {
      // fixed-key map: collect the (≤ n^0.7-bounded, additionally
      // hard-capped) key set with per-key counts for entry optionality
      val keyList = keyRows.orderBy("k").limit(MaxMapKeys + 1).collect()
      if (keyList.length > MaxMapKeys) SMapOf(kLeaf, vLeaf)
      else SMap(keyList.toSeq.map { r =>
        Entry(r.get(0).toString, vLeaf,
          optional = r.getAs[Long]("kc") < nonNullRows)
      })
    }
  }

  private val MaxMapKeys = 64

  private def stats(keyRows: DataFrame): (Long, Long) = {
    val r = keyRows.agg(F.sum("kc"), F.count(F.lit(1))).collect()(0)
    (Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L), r.getLong(1))
  }

  private def isOrdered(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | TimestampType | DateType => true
    case _ => false
  }

  private def leafFor(dt: DataType, name: String,
                      stats: org.apache.spark.sql.Row,
                      opts: Options): SchemaIR = {
    def minS = Option(stats).flatMap(s => Option(s.getAs[String](s"${name}__min")))
    def maxS = Option(stats).flatMap(s => Option(s.getAs[String](s"${name}__max")))
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        if (opts.withBounds) SInt(minS.map(_.toLong), maxS.map(_.toLong))
        else SInt()
      case FloatType | DoubleType =>
        if (opts.withBounds) SDouble(minS.map(_.toDouble), maxS.map(_.toDouble))
        else SDouble()
      case BooleanType => SBoolean
      case BinaryType => SBinary
      case TimestampType =>
        // the string came from `cast(col as string)` under the SESSION
        // time zone (UTC engine-wide, CLAUDE.md); Timestamp.valueOf
        // would re-interpret it in the JVM DEFAULT zone and shift the
        // bound by the zone offset — parse explicitly as UTC
        def utc(s: String): java.time.Instant =
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)
        if (opts.withBounds) STimestamp(minS.map(utc), maxS.map(utc))
        else STimestamp()
      case DateType =>
        // observed duals like the numeric/timestamp leaves (the agg
        // already pays for min/max; dropping them wasted the work)
        if (opts.withBounds) SDate(minS, maxS) else SDate()
      case StringType => SString()
      case ArrayType(et, _) =>
        SVector(leafFor(et, name, stats, Options(withBounds = false)))
      case MapType(kt, vt, _) =>
        SMapOf(leafFor(kt, name, stats, Options(withBounds = false)),
          leafFor(vt, name, stats, Options(withBounds = false)))
      case st: StructType =>
        SMap(st.fields.toSeq.map(f =>
          Entry(f.name, leafFor(f.dataType, name, stats,
            Options(withBounds = false)), optional = f.nullable)))
      case _ => SAny
    }
  }
}
