package mallispark.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** Schema-driven data generation — the `malli.generator` analogue
  * (reference: /root/reference/src/malli/generator.cljc; the
  * validate∘generate law is the backbone of the reference's property
  * suite, test/malli/generator_test.cljc).
  *
  * malli wraps test.check generators; ours are deterministic Column
  * expressions over `spark.range` (xxhash64-seeded, no Random, no wall
  * clock) so generation is distributed, reproducible, and scales linearly
  * with parallelism. `validate(generate(schema))` must hold for every
  * supported schema — asserted in GenerateSpec.
  *
  * Unsupported for generation (throw): `:re` with arbitrary patterns
  * (regex→string synthesis needs a regex solver; malli needs test.chuck
  * for the same reason), `:not`, `:fn`, `:ref` beyond depth. */
object Generate {

  /** Draw source for the deterministic generators.
    *
    * [[XxRng]] (default): engine-native xxhash64 — fast codegen'd path.
    * [[PortableRng]]: md5-derived (`TextOps.h32` arithmetic) — every
    * draw has an exact DuckDB equivalent
    * (`('0x'||substring(md5(x),1,8))::BIGINT`), so generated rows can be
    * oracle-gated cross-engine (the `gen_roundtrip` gate). */
  sealed trait Rng {
    /** Uniform in [0, bound) keyed by (row id, path salt). */
    def rnd(id: Column, salt: Int, bound: Long): Column
    /** Derive a child row-id (collection elements, seeding). */
    def mix(id: Column, k: Column): Column
    /** 16 deterministic hex chars keyed by (id, salt) — uuid synthesis. */
    def hex16(id: Column, salt: Int): Column
  }

  object XxRng extends Rng {
    def rnd(id: Column, salt: Int, bound: Long): Column =
      F.pmod(F.xxhash64(id, F.lit(salt)), F.lit(bound))
    def mix(id: Column, k: Column): Column = F.xxhash64(id, k)
    def hex16(id: Column, salt: Int): Column =
      F.lpad(F.hex(F.abs(F.xxhash64(id, F.lit(salt)))), 16, "0")
  }

  object PortableRng extends Rng {
    import mallispark.text.TextOps
    def rnd(id: Column, salt: Int, bound: Long): Column =
      F.pmod(TextOps.h32(
        F.concat(id.cast(StringType), F.lit(":" + salt))), F.lit(bound))
    def mix(id: Column, k: Column): Column =
      TextOps.h32(F.concat(id.cast(StringType), F.lit("#"),
        k.cast(StringType)))
    def hex16(id: Column, salt: Int): Column =
      F.substring(F.md5(
        F.concat(id.cast(StringType), F.lit("~" + salt))), 1, 16)
  }

  /** Uniform draw via the in-scope Rng. */
  private def rnd(id: Column, salt: Int, bound: Long)
                 (implicit rng: Rng): Column = rng.rnd(id, salt, bound)

  def gen(ir: SchemaIR, id: Column, salt: Int = 1)
         (implicit rng: Rng = XxRng): Column = ir match {
    // `:gen/...` property overrides — the reference's `-create` precedence
    // (generator.cljc:455-476): return > elements > schema > the child's
    // own generator (with `-min-max`-narrowed bounds, generator.cljc:78-87
    // and `:gen/infinite?`/`:gen/NaN?` for doubles); `:gen/fmap` wraps
    // LAST, over whichever base was chosen.
    case SProps(p, c) =>
      val base: Column =
        if (p.genReturn.isDefined) litCol(p.genReturn.get, c)
        else p.genElements match {
          case Some(vs) => F.element_at(F.array(vs.map(litCol(_, c)): _*),
            (rnd(id, salt, vs.size) + 1).cast(IntegerType))
          case None => p.genSchema match {
            case Some(s) => gen(s, id, salt)
            case None =>
              val g0 = gen(withGenBounds(c, p), id, salt)
              // double specials ride dedicated draws so bounded schemas
              // without the flags keep their exact value distribution
              val g1 =
                if (p.genInfinite && genTypeFor(c) == DoubleType)
                  F.when(rnd(id, salt + 101, 8) === 0,
                      F.lit(Double.PositiveInfinity))
                    .when(rnd(id, salt + 101, 8) === 1,
                      F.lit(Double.NegativeInfinity))
                    .otherwise(g0)
                else g0
              if (p.genNaN && genTypeFor(c) == DoubleType)
                F.when(rnd(id, salt + 103, 8) === 2, F.lit(Double.NaN))
                  .otherwise(g1)
              else g1
          }
        }
      p.genFmap match {
        case Some(src) =>
          FmapColumns.compile(src, base, baseTypeOf(p, c))._1
        case None => base
      }
    case SAny => genString(id, salt, 1, 12)
    case SString(mn, mx) =>
      genString(id, salt, mn.getOrElse(0), mx.getOrElse(mn.getOrElse(0) + 12))
    case SNil => F.lit(null).cast(StringType)
    case SSome => genString(id, salt, 1, 8)
    case SInt(mn, mx) =>
      val lo = mn.getOrElse(-1000000L)
      val hi = mx.getOrElse(lo + 2000000L)
      F.lit(lo) + rnd(id, salt, hi - lo + 1)
    case SDouble(mn, mx) =>
      val lo = mn.getOrElse(-1e6)
      val hi = mx.getOrElse(lo + 2e6)
      F.lit(lo) + rnd(id, salt, 1000000L).cast(DoubleType) / 1e6 * (hi - lo)
    case SBoolean => rnd(id, salt, 2) === 1
    case SBinary => F.unbase64(F.base64(F.encode(
      genString(id, salt, 4, 16), "UTF-8")))
    case SUuid =>
      // canonical v4-shaped uuid from two hashes
      val h1 = rng.hex16(id, salt)
      val h2 = rng.hex16(id, salt + 7)
      F.lower(F.concat(
        F.substring(h1, 1, 8), F.lit("-"), F.substring(h1, 9, 4),
        F.lit("-4"), F.substring(h1, 13, 3), F.lit("-a"),
        F.substring(h2, 1, 3), F.lit("-"), F.substring(h2, 4, 12)))
    case SIdent(kind, ns) =>
      // hash-salted name segment — always matches the IdentRes shapes
      val nm = F.concat(F.lit("g"), rnd(id, salt, 10000).cast(StringType))
      kind match {
        case "keyword" | "simple-keyword" => F.concat(F.lit(":"), nm)
        case "qualified-keyword" =>
          // honor the {:namespace ...} property when present
          F.concat(F.lit(":" + ns.getOrElse("ns") + "/"), nm)
        case "symbol" | "simple-symbol" => nm
        case "qualified-symbol" => F.concat(F.lit("ns/"), nm)
        case "char" => F.element_at(
          F.array("abcdefgh".map(c => F.lit(c.toString)): _*),
          (rnd(id, salt, 8) + 1).cast(IntegerType))
        case other => throw new IllegalArgumentException(
          s"unknown ident kind $other")
      }
    case STimestamp(mn, mx) =>
      val lo = mn.map(_.getEpochSecond).getOrElse(1577836800L) // 2020-01-01
      val hi = mx.map(_.getEpochSecond).getOrElse(lo + 157766400L)
      F.timestamp_seconds(F.lit(lo) + rnd(id, salt, hi - lo + 1))
    case SDate(mn, mx) =>
      val lo = mn.map(java.time.LocalDate.parse(_).toEpochDay)
        .getOrElse(18262L)
      val hi = mx.map(java.time.LocalDate.parse(_).toEpochDay)
        .getOrElse(lo + 1825)
      F.date_add(F.lit(java.sql.Date.valueOf("1970-01-01")),
        (F.lit(lo) + rnd(id, salt, hi - lo + 1)).cast(IntegerType))
    case STime(kind, mn, mx) => kind match {
      case "duration" =>
        val lo = mn.map(java.time.Duration.parse(_).getSeconds).getOrElse(0L)
        val hi = mx.map(java.time.Duration.parse(_).getSeconds)
          .getOrElse(lo + 86400L)
        F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
          (F.lit(lo) + rnd(id, salt, hi - lo + 1))
            .cast(DecimalType(18, 6)))
      case "period" =>
        val lo = mn.map(java.time.Period.parse(_).toTotalMonths).getOrElse(0L)
        val hi = mx.map(java.time.Period.parse(_).toTotalMonths)
          .getOrElse(lo + 36L)
        F.make_ym_interval(F.lit(0),
          (F.lit(lo) + rnd(id, salt, hi - lo + 1)).cast(IntegerType))
      case "local-date-time" =>
        def sec(s: String) = java.time.LocalDateTime.parse(s)
          .toEpochSecond(java.time.ZoneOffset.UTC)
        val lo = mn.map(sec).getOrElse(1704067200L)
        val hi = mx.map(sec).getOrElse(lo + 31536000L)
        localAt(F.lit(lo) + rnd(id, salt, hi - lo + 1))
      case "local-time" =>
        // bounds are fixed-width HH:mm:ss — generate within [lo, hi] secs
        def sec(s: String) = java.time.LocalTime.parse(s).toSecondOfDay.toLong
        val lo = mn.map(sec).getOrElse(0L)
        val hi = mx.map(sec).getOrElse(86399L)
        fmtTimeOfDay(F.lit(lo) + rnd(id, salt, hi - lo + 1))
      case "zone-offset" =>
        F.element_at(F.array(zoneOffsetLabels.map(F.lit): _*),
          (rnd(id, salt, zoneOffsetLabels.size) + 1).cast(IntegerType))
      // composite kinds — the reference composes these from parts
      // (experimental/time/generator.cljc -offset-time-gen binds a
      // local-time draw with a zone-offset draw; -offset-date-time-gen /
      // -zoned-date-time-gen bind an instant draw with an offset/zone):
      // same structure here, with the offset drawn from a fixed table so
      // label and seconds stay consistent inside one Column expression
      case "offset-time" =>
        // bounds apply to the local-time component (the reference's
        // `:accessor #(.toLocalTime %)` projection of min/max)
        def sec(s: String) =
          java.time.OffsetTime.parse(s).toLocalTime.toSecondOfDay.toLong
        val lo = mn.map(sec).getOrElse(0L)
        val hi = mx.map(sec).getOrElse(86399L)
        val t = F.lit(lo) + rnd(id, salt, hi - lo + 1)
        F.concat(fmtTimeOfDay(t),
          F.element_at(F.array(zoneOffsetLabels.map(F.lit): _*),
            (rnd(id, salt + 7, zoneOffsetLabels.size) + 1)
              .cast(IntegerType)))
      case "offset-date-time" =>
        def sec(s: String) =
          java.time.OffsetDateTime.parse(s).toEpochSecond
        val lo = mn.map(sec).getOrElse(1577836800L) // 2020-01-01T00:00:00Z
        val hi = mx.map(sec).getOrElse(lo + 157766400L)
        fmtInstantAtOffset(F.lit(lo) + rnd(id, salt, hi - lo + 1),
          rnd(id, salt + 7, 4), zoned = false)
      case "zoned-date-time" =>
        def sec(s: String) =
          java.time.ZonedDateTime.parse(s).toInstant.getEpochSecond
        val lo = mn.map(sec).getOrElse(1577836800L)
        val hi = mx.map(sec).getOrElse(lo + 157766400L)
        fmtInstantAtOffset(F.lit(lo) + rnd(id, salt, hi - lo + 1),
          rnd(id, salt + 7, 4), zoned = true)
      case "zone-id" =>
        F.element_at(F.array(Seq("Europe/Paris", "America/New_York",
          "Asia/Tokyo", "UTC").map(F.lit): _*),
          (rnd(id, salt, 4) + 1).cast(IntegerType))
      case other => throw new IllegalArgumentException(
        s"cannot generate :time/$other (needs a custom generator)")
    }
    case SEnum(vs) =>
      F.element_at(F.array(vs.map(v => F.lit(v)): _*),
        (rnd(id, salt, vs.size) + 1).cast(IntegerType))
    // :re — reverse AnchoredScan (the -re-gen analogue); anchored-subset
    // patterns draw segment-by-segment, others fail fast as before
    case SRegex(p) => ReGen.gen(p, id, salt)
    // :schema + local registry: unroll refs with recursion decay
    // (generator.cljc -ref-gen / recursion scaling), then generate the
    // ref-free expansion; non-ref-bearing children pass through unchanged
    case sc: SScoped => gen(unrollRefs(sc), id, salt)
    case SCompare(op, v) => op match {
      case ">" | ">=" => F.lit(v) + rnd(id, salt, 100) + lit1(op == ">")
      case "<" | "<=" => F.lit(v) - rnd(id, salt, 100) - lit1(op == "<")
      case "=" => F.lit(v)
      case "not=" => F.lit(v) + rnd(id, salt, 100) + F.lit(1)
    }
    case SMaybe(c) =>
      F.when(rnd(id, salt, 4) === 0, F.lit(null).cast(genTypeFor(c)))
        .otherwise(gen(c, id, salt + 1))
    case SAnd(cs) => gen(cs.head, id, salt) // first child governs (malli's
      // such-that filter is replaced by: author puts the generative child
      // first — document)
    case SOr(cs) =>
      // pick a branch per row — types must unify; use first branch's type
      val n = cs.size
      cs.zipWithIndex.tail.foldLeft(gen(cs.head, id, salt)) {
        case (acc, (c, i)) =>
          F.when(rnd(id, salt + 31 * i, n) === i, gen(c, id, salt + i)).otherwise(acc)
      }
    case SOrn(bs) => gen(SOr(bs.map(_._2)), id, salt)
    case SAndn(bs) => gen(SAnd(bs.map(_._2)), id, salt)
    case SMap(entries, _, _) =>
      F.struct(entries.zipWithIndex.map { case (e, i) =>
        val v = gen(e.child, id, salt + 13 * (i + 1))
        (if (e.optional)
          F.when(rnd(id, salt + 17 * (i + 1), 4) === 0,
            F.lit(null).cast(genTypeFor(e.child))).otherwise(v)
        else v).as(e.key)
      }: _*)
    case SMapOf(k, v, mn, mx) =>
      val n = sizeIn(id, salt, mn, mx)
      // keys must be DISTINCT (ANSI rejects duplicate map keys) and typed
      // per the key schema
      val keys = k match {
        case SInt(kmn, _) =>
          val base = kmn.getOrElse(0L)
          F.transform(F.sequence(F.lit(1), n), i =>
            F.lit(base) + i.cast(LongType))
        case _: SString | SAny =>
          F.transform(F.sequence(F.lit(1), n), i =>
            F.concat(gen(k, id, salt + 3).cast(StringType),
              i.cast(StringType)))
        case other => throw new IllegalArgumentException(
          s"cannot generate map keys from ${SchemaIR.form(other)}")
      }
      F.map_from_arrays(keys,
        F.transform(F.sequence(F.lit(1), n), i => gen(v, rng.mix(id, i), salt + 5)))
    case SVector(c, mn, mx) => genColl(c, id, salt, mn, mx)
    case SSeqable(c, mn, mx) => genColl(c, id, salt, mn, mx)
    case SEvery(c, mn, mx, _) => genColl(c, id, salt, mn, mx)
    case SSet(c, mn, mx) =>
      // element distinctness must be BY CONSTRUCTION where possible:
      // array_distinct over random draws can drop below :min count
      val n = sizeIn(id, salt, mn, mx)
      c match {
        case SInt(imn, imx) =>
          val lo = imn.getOrElse(-1000000L)
          val hi = imx.getOrElse(lo + 2000000L)
          val span = hi - lo + 1
          val off = rnd(id, salt + 7, span)
          // lo + (off + i) mod span: pairwise distinct while n ≤ span
          F.when(n === 0, F.array().cast(ArrayType(LongType)))
            .otherwise(F.transform(
              F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
              i => F.lit(lo) + F.pmod(off + i.cast(LongType), F.lit(span))))
        case _ =>
          // oversample ×4, dedupe, cut to n — :min holds unless the child
          // domain itself is smaller than n (unsatisfiable set schema)
          val cand = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.greatest(n * 4, F.lit(1))),
            i => gen(c, rng.mix(id, i), salt + 2)))
          F.when(n === 0, F.array().cast(ArrayType(genTypeFor(c))))
            .otherwise(F.slice(cand, F.lit(1), n))
      }
    case STuple(cs) =>
      // homogeneous → array; heterogeneous → struct (ANSI would otherwise
      // coerce array(string, bigint) to array<bigint> with runtime casts;
      // the validator handles tuples over StructType positionally)
      if (cs.map(genTypeFor).distinct.size == 1)
        F.array(cs.zipWithIndex.map { case (c, i) => gen(c, id, salt + i + 1) }: _*)
      else
        F.struct(cs.zipWithIndex.map { case (c, i) =>
          gen(c, id, salt + i + 1).as(s"_${i + 1}")
        }: _*)
    case SMulti(_, bs, _) =>
      // generate per branch, pick one; branches must share physical type
      val n = bs.size
      bs.zipWithIndex.tail.foldLeft(gen(bs.head._2, id, salt)) {
        case (acc, ((_, c), i)) =>
          F.when(rnd(id, salt + 41 * i, n) === i, gen(c, id, salt + i)).otherwise(acc)
      }
    case SCat(cs) =>
      F.array(cs.zipWithIndex.map { case (c, i) => gen(c, id, salt + i + 1) }: _*)
    case SCatn(es) => gen(SCat(es.map(_._2)), id, salt)
    case SStar(c) => genColl(c, id, salt, None, Some(8))
    case SPlus(c) => genColl(c, id, salt, Some(1), Some(8))
    case SOpt(c) => genColl(c, id, salt, None, Some(1))
    case SRepeat(c, mn, mx) => genColl(c, id, salt, Some(mn), Some(mx))
    case SAlt(cs) => gen(SOr(cs), id, salt)
    case SAltn(es) => gen(SOr(es.map(_._2)), id, salt)
    case other => throw new IllegalArgumentException(
      s"cannot generate from ${SchemaIR.form(other)} (needs a custom generator)")
  }

  private def lit1(b: Boolean): Column = if (b) F.lit(1) else F.lit(0)

  /** "HH:mm:ss" from a seconds-of-day column (0..86399). */
  private def fmtTimeOfDay(t: Column): Column = F.concat(
    F.lpad(F.floor(t / 3600).cast(StringType), 2, "0"), F.lit(":"),
    F.lpad(F.floor((t % 3600) / 60).cast(StringType), 2, "0"), F.lit(":"),
    F.lpad((t % 60).cast(StringType), 2, "0"))

  /** Free-standing offset labels for :time/zone-offset and the offset
    * part of :time/offset-time (no instant arithmetic needed there). */
  private val zoneOffsetLabels = Seq("+05:30", "Z", "-08:00", "+01:00")

  /** Offset table for the INSTANT-bearing composite kinds (offset- and
    * zoned-date-time) — distinct from [[zoneOffsetLabels]] by design:
    * each label pairs with its second count and a DST-free zone id so
    * the local-time arithmetic and the printed zone stay consistent.
    * The zoned rows use
    * FIXED-OFFSET zone ids (no DST) so the printed offset is correct at
    * every instant; index 0 is the bracketless "Z" form (the zone
    * bracket is optional in java.time's zoned shape). */
  private val offsetTable: Seq[(String, Long, String)] = Seq(
    ("Z", 0L, ""),
    ("+09:00", 32400L, "[Asia/Tokyo]"),
    ("+05:30", 19800L, "[Asia/Kolkata]"),
    ("-07:00", -25200L, "[America/Phoenix]"))

  /** The local date-time `secs` seconds after 1970-01-01T00:00, as an
    * NTZ built zone-free: no step goes through the session zone, so a
    * draw never shifts across a DST gap. */
  private def localAt(secs: Column): Column =
    F.lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)) +
      F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
        secs.cast(DecimalType(18, 6)))

  /** ISO local date-time of `epoch + offset` seconds plus the offset
    * label — "yyyy-MM-ddTHH:mm:ss±HH:MM" (and "[Zone]" when zoned).
    * The local date-time is one [[localAt]] cast to a string: no
    * session-timezone dependence anywhere. Building it once keeps the
    * column small — rebuilt for the date and each time-of-day part, it
    * multiplied through every reference once predicate pushdown inlined
    * the column, and a generate-then-validate plan outgrew the 64 KB
    * codegen method. */
  private def fmtInstantAtOffset(epoch: Column, offIdx: Column,
                                 zoned: Boolean): Column = {
    def pick(f: ((String, Long, String)) => Any): Column =
      F.element_at(F.array(offsetTable.map(r => F.lit(f(r))): _*),
        (offIdx + 1).cast(IntegerType))
    val local = localAt(epoch + pick(_._2))
    // an NTZ casts to "yyyy-MM-dd HH:mm:ss" with no zone conversion
    // (date_format would go through the session zone, shifting DST gaps)
    F.concat(Seq(F.translate(local.cast(StringType), " ", "T"), pick(_._1)) ++
      (if (zoned) Seq(pick(_._3)) else Nil): _*)
  }

  /** `:ref` unroll depth for generation — the reference's `-ref-gen`
    * scales recursion down with the generator size (generator.cljc
    * `::rec-gen` / recursion scaling); three levels matches its
    * small-size draws. Callers wanting deeper trees pre-expand with
    * [[unrollRefs]] themselves. */
  val RefDepth = 3

  /** Statically unroll `:ref`s for generation: each level re-enters its
    * target until `depth` is exhausted, then the target is TERMINATED —
    * pruned to its non-recursive spine (optional ref-bearing map entries
    * drop, ref-bearing `:maybe` becomes nil, zero-min ref-bearing
    * collections go empty, or/multi prefer ref-free branches). The
    * result is ref-free, so the Column generators apply unchanged, and
    * every draw still validates: the validator treats missing optional
    * entries, nulls under `:maybe`, and empty collections as valid at
    * ANY unroll depth. Fails fast when a REQUIRED path cannot terminate
    * (e.g. `[:map [:next [:ref "x"]]]` — such schemas admit no finite
    * value at all). */
  def unrollRefs(ir: SchemaIR, reg: Registry = Registry.empty,
                 depth: Int = RefDepth): SchemaIR = ir match {
    case SRef(n) =>
      if (depth > 0) unrollRefs(reg(n), reg, depth - 1)
      else terminate(reg(n), reg)
    case SScoped(l, c, _) =>
      unrollRefs(c, Registry(reg.schemas ++ l, reg.maxDepth), depth)
    case other => SchemaIR.mapChildren(other)(unrollRefs(_, reg, depth))
  }

  private[gen] def terminate(ir: SchemaIR, reg: Registry): SchemaIR = ir match {
    case SRef(n) => throw new IllegalArgumentException(
      s"cannot generate: required recursive path through :ref $n never " +
        "terminates (no finite value satisfies the schema)")
    case SScoped(l, c, _) =>
      terminate(c, Registry(reg.schemas ++ l, reg.maxDepth))
    case m: SMap => m.copy(
      entries = m.entries.flatMap { e =>
        if (!containsRef(e.child)) Some(e)
        else if (e.optional) None // prune the recursive branch
        else Some(e.copy(child = terminate(e.child, reg)))
      },
      rest = m.rest.map(r => if (containsRef(r)) terminate(r, reg) else r))
    case SMaybe(c) => if (containsRef(c)) SNil else SMaybe(c)
    case SVector(c, mn, mx) if containsRef(c) =>
      if (mn.forall(_ == 0)) SVector(SAny, Some(0), Some(0))
      else SVector(terminate(c, reg), mn, mx)
    case SSeqable(c, mn, mx) if containsRef(c) =>
      if (mn.forall(_ == 0)) SSeqable(SAny, Some(0), Some(0))
      else SSeqable(terminate(c, reg), mn, mx)
    case SSet(c, mn, mx) if containsRef(c) =>
      if (mn.forall(_ == 0)) SSet(SAny, Some(0), Some(0))
      else SSet(terminate(c, reg), mn, mx)
    case SEvery(c, mn, mx, l) if containsRef(c) =>
      if (mn.forall(_ == 0)) SEvery(SAny, Some(0), Some(0), l)
      else SEvery(terminate(c, reg), mn, mx, l)
    case SStar(c) if containsRef(c) => SVector(SAny, Some(0), Some(0))
    case SMapOf(k, v, mn, mx) if containsRef(k) || containsRef(v) =>
      SMapOf(terminate(k, reg), terminate(v, reg), mn, mx)
    case SOr(cs) =>
      val free = cs.filterNot(containsRef)
      if (free.nonEmpty) SOr(free) else SOr(cs.map(terminate(_, reg)))
    case SOrn(bs) =>
      val free = bs.filterNot(b => containsRef(b._2))
      if (free.nonEmpty) SOrn(free)
      else SOrn(bs.map { case (t, c) => t -> terminate(c, reg) })
    case SAlt(cs) =>
      val free = cs.filterNot(containsRef)
      if (free.nonEmpty) SAlt(free) else SAlt(cs.map(terminate(_, reg)))
    case SAltn(es) =>
      val free = es.filterNot(e => containsRef(e._2))
      if (free.nonEmpty) SAltn(free)
      else SAltn(es.map { case (t, c) => t -> terminate(c, reg) })
    case SMulti(d, bs, df) =>
      val free = bs.filterNot(b => containsRef(b._2))
      if (free.nonEmpty) SMulti(d, free, df.filterNot(containsRef))
      else SMulti(d, bs.map { case (t, c) => t -> terminate(c, reg) },
        df.map(terminate(_, reg)))
    case other if containsRef(other) =>
      SchemaIR.mapChildren(other)(terminate(_, reg))
    case other => other
  }

  private def containsRef(s: SchemaIR): Boolean = s match {
    case _: SRef => true
    // childrenWithPath is transparent over SProps (skips the child node
    // itself) — look through explicitly
    case SProps(_, c) => containsRef(c)
    case _ => SchemaIR.childrenWithPath(s).exists {
      case (_, c) => containsRef(c)
    }
  }

  /** A `:gen/return`/`:gen/elements` literal as a Column; nil takes the
    * CHILD's physical type so CASE branches unify. */
  private def litCol(v: Any, c: SchemaIR): Column = v match {
    case null => F.lit(null).cast(genTypeFor(c))
    case xs: Seq[_] => F.array(xs.map(x => litCol(x, c)): _*)
    case m: Map[_, _] => throw new IllegalArgumentException(
      s"map-valued :gen literals are not supported: $m")
    case other => F.lit(other)
  }

  /** Physical type of a `:gen` literal (nil defers to the child). */
  private def litTypeOf(v: Any, c: SchemaIR): DataType = v match {
    case null => genTypeFor(c)
    case _: String => StringType
    case _: Long | _: Int => LongType
    case _: Double => DoubleType
    case _: Boolean => BooleanType
    case xs: Seq[_] if xs.nonEmpty => ArrayType(litTypeOf(xs.head, c))
    case other => throw new IllegalArgumentException(
      s"cannot type :gen literal $other")
  }

  /** The type `:gen/fmap`'s INPUT has under the `-create` precedence. */
  private def baseTypeOf(p: NodeProps, c: SchemaIR): DataType =
    if (p.genReturn.isDefined) litTypeOf(p.genReturn.get, c)
    else p.genElements match {
      case Some(vs) => litTypeOf(vs.head, c)
      case None => p.genSchema.map(genTypeFor).getOrElse(genTypeFor(c))
    }

  /** `-min-max` (generator.cljc:78-87): `:gen/min`/`:gen/max` NARROW the
    * child's own bounds; a gen bound outside the validated range is an
    * invalid property (the reference fails ::invalid-property — values
    * drawn there could never validate). Applies to the bounded kinds;
    * other children pass through untouched. */
  private[gen] def withGenBounds(c: SchemaIR, p: NodeProps): SchemaIR =
    if (p.genMin.isEmpty && p.genMax.isEmpty) c
    else {
      def chk[T](g: Option[T], b: Option[T], lo: Boolean)
                (implicit ord: Ordering[T]): Unit =
        for (gv <- g; bv <- b)
          require(if (lo) ord.gteq(gv, bv) else ord.lteq(gv, bv),
            s"invalid property: :gen/${if (lo) "min" else "max"} $gv " +
              s"outside :${if (lo) "min" else "max"} $bv")
      val gmnL = p.genMin.map(_.toLong); val gmxL = p.genMax.map(_.toLong)
      val gmnI = p.genMin.map(_.toInt); val gmxI = p.genMax.map(_.toInt)
      c match {
        case SInt(mn, mx) =>
          chk(gmnL, mn, lo = true); chk(gmxL, mx, lo = false)
          SInt(gmnL.orElse(mn), gmxL.orElse(mx))
        case SDouble(mn, mx) =>
          chk(p.genMin, mn, lo = true); chk(p.genMax, mx, lo = false)
          SDouble(p.genMin.orElse(mn), p.genMax.orElse(mx))
        case SString(mn, mx) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SString(gmnI.orElse(mn), gmxI.orElse(mx))
        case SVector(ch, mn, mx) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SVector(ch, gmnI.orElse(mn), gmxI.orElse(mx))
        case SSeqable(ch, mn, mx) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SSeqable(ch, gmnI.orElse(mn), gmxI.orElse(mx))
        case SSet(ch, mn, mx) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SSet(ch, gmnI.orElse(mn), gmxI.orElse(mx))
        case SEvery(ch, mn, mx, l) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SEvery(ch, gmnI.orElse(mn), gmxI.orElse(mx), l)
        case SMapOf(k, v, mn, mx) =>
          chk(gmnI, mn, lo = true); chk(gmxI, mx, lo = false)
          SMapOf(k, v, gmnI.orElse(mn), gmxI.orElse(mx))
        case other => other
      }
    }

  private def sizeIn(id: Column, salt: Int, mn: Option[Int],
                     mx: Option[Int])(implicit rng: Rng): Column = {
    val lo = mn.getOrElse(0)
    val hi = mx.getOrElse(lo + 6)
    (F.lit(lo) + rnd(id, salt + 99, (hi - lo + 1).toLong)).cast(IntegerType)
  }

  private def genColl(c: SchemaIR, id: Column, salt: Int, mn: Option[Int],
                      mx: Option[Int])(implicit rng: Rng): Column = {
    val n = sizeIn(id, salt, mn, mx)
    F.when(n === 0, F.array().cast(ArrayType(genTypeFor(c))))
      .otherwise(F.transform(F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        i => gen(c, rng.mix(id, i), salt + 2)))
  }

  private def genString(id: Column, salt: Int, mn: Int, mx: Int)
                       (implicit rng: Rng): Column = {
    val words = F.array(Seq("alpha", "beta", "gamma", "delta", "omega",
      "kappa", "sigma", "theta").map(F.lit): _*)
    val base = F.element_at(words, (rnd(id, salt, 8) + 1).cast(IntegerType))
    val len = F.lit(mn) + rnd(id, salt + 1, (mx - mn + 1).toLong)
    // pad to the requested MAX (not a fixed 64) then cut — :min beyond the
    // pad length would otherwise generate too-short strings and break the
    // validate∘generate law
    F.substring(F.concat(base, F.repeat(F.lit("x"), math.max(mx, 1))),
      F.lit(1), F.greatest(len, F.lit(mn)).cast(IntegerType))
  }

  /** The physical type gen() actually EMITS. Differs from the compiler's
    * natural mapping for heterogeneous tuples: gen emits a struct (ANSI
    * array(a, b) would runtime-cast mixed types), while dataTypeOf's
    * natural tuple type is the head-typed array — using the latter for
    * null/empty-array casts made CASE branches type-clash (caught by the
    * random-schema property). */
  private def genTypeFor(ir: SchemaIR): DataType = ir match {
    case STuple(cs) =>
      val ts = cs.map(genTypeFor)
      if (ts.distinct.size == 1) ArrayType(ts.head)
      else StructType(ts.zipWithIndex.map { case (t, i) =>
        StructField(s"_${i + 1}", t) })
    case SVector(c, _, _) => ArrayType(genTypeFor(c))
    case SSeqable(c, _, _) => ArrayType(genTypeFor(c))
    case SSet(c, _, _) => ArrayType(genTypeFor(c))
    case SEvery(c, _, _, _) => ArrayType(genTypeFor(c))
    case SMaybe(c) => genTypeFor(c)
    case sc: SScoped => genTypeFor(unrollRefs(sc))
    case SProps(p, c) =>
      val bt = baseTypeOf(p, c)
      p.genFmap.map(src => FmapColumns.outType(src, bt)).getOrElse(bt)
    case SMap(es, _, _) => StructType(es.map(e =>
      StructField(e.key, genTypeFor(e.child), nullable = true)))
    case SMapOf(k, v, _, _) => MapType(genTypeFor(k), genTypeFor(v))
    case other => dataTypeFor(other)
  }

  private def dataTypeFor(ir: SchemaIR): DataType =
    mallispark.compile.SchemaCompiler.dataTypeOf(ir)

  /** Generate an n-row DataFrame from a top-level `:map` schema.
    * Deterministic in (schema, n, seed); linear in parallelism. */
  def dfFromSchema(spark: SparkSession, ir: SMap, n: Long, seed: Long = 42L,
                   partitions: Int = 0, rng: Rng = XxRng): DataFrame = {
    implicit val r: Rng = rng
    val base = if (partitions > 0) spark.range(0, n, 1, partitions)
               else spark.range(n)
    val id = rng.mix(F.col("id"), F.lit(seed))
    val row = gen(ir, id, 1)
    base.select(ir.entries.map(e => row.getField(e.key).as(e.key)): _*)
  }
}
