package mallispark.compile

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** IR → Catalyst compiler.
  *
  * The malli analogue is the compile step of `m/validator` / `m/explainer`
  * (reference: /root/reference/src/malli/core.cljc:2643-2682) — but where
  * malli composes row-at-a-time Clojure closures (`-every-pred`,
  * impl/util.cljc:67-69), we build ONE Catalyst `Column` expression tree per
  * schema and let whole-stage codegen evaluate it over columnar batches.
  * Compile-once-reuse (malli caches validators per schema, core.cljc:362-370)
  * maps to: build the Column once per job, never per row.
  *
  * Two products per schema:
  *   - `valid(ir, col, dt)`   : BooleanType Column (never null)
  *   - `errors(ir, col, dt)`  : array<struct<path,in,error_key,value>> —
  *     malli's explain errors ({:path :in :type :value},
  *     impl/util.cljc:19-21) with `path` = schema path ("/"-joined segments:
  *     map keys, branch indices — core_test.cljc:239-250) and `in` = value
  *     path (array indices resolved at runtime inside `transform` lambdas).
  *
  * Everything is ANSI-mode safe: `get`/`try_element_at`/`try_cast` instead of
  * their throwing counterparts (Spark 4 defaults ansi=true).
  */
object SchemaCompiler {

  /** Violation row schema — the explain error record. */
  val violStruct: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("in", StringType, nullable = false),
    StructField("error_key", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  val violArrType: ArrayType = ArrayType(violStruct, containsNull = false)

  private def emptyViols: Column = F.array().cast(violArrType)

  private def viol(path: String, in: Column, key: String, value: Column): Column =
    F.struct(
      F.lit(path).as("path"),
      F.coalesce(in, F.lit("")).as("in"),
      F.lit(key).as("error_key"),
      value.cast(StringType).as("value"))

  private def one(path: String, in: Column, key: String, value: Column): Column =
    F.array(viol(path, in, key, value)).cast(violArrType)

  /** Violation whose schema-path tail is RUNTIME data (MapType stray keys;
    * in StructType maps every key is static so `one` suffices). */
  private def oneD(path: Column, in: Column, key: String, value: Column): Column =
    F.array(F.struct(
      F.coalesce(path.cast(StringType), F.lit("")).as("path"),
      F.coalesce(in, F.lit("")).as("in"),
      F.lit(key).as("error_key"),
      value.cast(StringType).as("value"))).cast(violArrType)

  /** Dynamic schema-path join (runtime map-key segment). */
  private def jD(path: String, seg: Column): Column =
    if (path.isEmpty) seg.cast(StringType)
    else F.concat(F.lit(path + "/"), seg.cast(StringType))

  /** Prepend a runtime prefix to every violation's schema path — lets a
    * subtree compiled with an EMPTY static path (rest-entry errors under a
    * runtime map key) be re-rooted after the fact. */
  private def prependPath(viols: Column, prefix: Column): Column =
    F.transform(viols, e => F.struct(
      F.when(F.length(e.getField("path")) === 0, prefix)
        .otherwise(F.concat(prefix, F.lit("/"), e.getField("path")))
        .as("path"),
      e.getField("in").as("in"),
      e.getField("error_key").as("error_key"),
      e.getField("value").as("value"))).cast(violArrType)

  /** Schema-path join (static). */
  private def j(path: String, seg: String): String =
    if (path.isEmpty) seg else path + "/" + seg

  /** Value-path join (runtime — array indices are data). */
  private def jin(in: Column, seg: Column): Column =
    F.when(F.length(in) === 0, seg.cast(StringType))
      .otherwise(F.concat(in, F.lit("/"), seg.cast(StringType)))

  private def jin(in: Column, seg: String): Column = jin(in, F.lit(seg))

  /** Printable value for the violation row. */
  private def valueStr(col: Column, dt: DataType): Column = dt match {
    case BinaryType => F.base64(col)
    case _: StructType | _: ArrayType | _: MapType => F.to_json(col)
    case NullType => F.lit(null).cast(StringType)
    case _ => col.cast(StringType)
  }

  // --------------------------------------------------------------------
  // Expected physical types
  // --------------------------------------------------------------------

  /** The Spark type this schema naturally describes (used by toStructType
    * and by static invalid-type detection). `reg` lets :ref children and
    * ref-bearing :merge/:union/:select-keys nodes resolve; without one a
    * :ref degrades to StringType (the old behavior). */
  def dataTypeOf(ir: SchemaIR)(
      implicit reg: Registry = Registry.empty): DataType =
    dataTypeOfD(ir, 8)

  private def dataTypeOfD(ir: SchemaIR, d: Int)(
      implicit reg: Registry): DataType = {
    def dataTypeOf(c: SchemaIR): DataType = dataTypeOfD(c, d)
    ir match {
    case SAny | SSome => StringType // unconstrained; only used for synthesis
    case SNil => NullType
    case _: SString | SUuid | _: SRegex | _: SIdent => StringType
    case _: SInt => LongType
    case _: SDouble => DoubleType
    case SBoolean => BooleanType
    case SBinary => BinaryType
    case _: STimestamp => TimestampType
    case _: SDate => DateType
    case STime(kind, _, _) => kind match {
      case "duration" => DayTimeIntervalType()
      case "period" => YearMonthIntervalType()
      case "local-date-time" => TimestampNTZType
      case _ => StringType // local-time / offset-* / zoned / zone-id / zone-offset
    }
    case SEnum(vs) => vs.headOption.map(litType).getOrElse(StringType)
    case SCompare(_, v) => litType(v)
    case _: SFn => StringType
    case _: SCustom => StringType
    case _: SValidate => StringType
    case SMaybe(c) => dataTypeOf(c)
    case SAnd(cs) => cs.headOption.map(dataTypeOf).getOrElse(StringType)
    case SOr(cs) => cs.headOption.map(dataTypeOf).getOrElse(StringType)
    case SOrn(bs) => bs.headOption.map(b => dataTypeOf(b._2)).getOrElse(StringType)
    case SAndn(bs) => bs.headOption.map(b => dataTypeOf(b._2)).getOrElse(StringType)
    case SNot(c) => dataTypeOf(c)
    // a REQUIRED key whose child accepts nil (:maybe/:nil/:any) is still
    // a nullable field — valid() accepts null there, so the emitted
    // StructType/DDL must not reject the very nulls the schema declares
    // legal
    case SMap(entries, _, _) => StructType(entries.map(e =>
      StructField(e.key, dataTypeOf(e.child),
        nullable = e.optional || acceptsNull(e.child, reg))))
    case SMultiExpr(_, _, _, bs, d) =>
      (bs.map(_._2) ++ d).headOption.map(dataTypeOf).getOrElse(StringType)
    case SMapOf(k, v, _, _) => MapType(dataTypeOf(k), dataTypeOf(v))
    case SVector(c, _, _) => ArrayType(dataTypeOf(c))
    case SSeqable(c, _, _) => ArrayType(dataTypeOf(c))
    case SSet(c, _, _) => ArrayType(dataTypeOf(c))
    case SEvery(c, _, _, _) => ArrayType(dataTypeOf(c))
    case STuple(cs) => ArrayType(cs.headOption.map(dataTypeOf).getOrElse(StringType))
    case SMulti(_, bs, d) =>
      (bs.map(_._2) ++ d).headOption.map(dataTypeOf).getOrElse(StringType)
    case SRef(n) =>
      // depth-bounded deref (recursive refs bottom out at StringType, the
      // old unconditional fallback)
      if (d > 0) reg.schemas.get(n).map(dataTypeOfD(_, d - 1))
        .getOrElse(StringType)
      else StringType
    case SScoped(local, c, _) =>
      dataTypeOfD(c, d)(Registry(reg.schemas ++ local, reg.maxDepth))
    case SProps(_, c) => dataTypeOfD(c, d)
    case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
      dataTypeOf(mallispark.ir.SchemaOps.expand(alg, reg))
    case SCat(cs) => ArrayType(cs.headOption.map(dataTypeOf).getOrElse(StringType))
    case SCatn(es) => ArrayType(es.headOption.map(e => dataTypeOf(e._2)).getOrElse(StringType))
    case SAlt(cs) => dataTypeOf(cs.head)
    case SAltn(es) => dataTypeOf(es.head._2)
    case SStar(c) => ArrayType(dataTypeOf(c))
    case SPlus(c) => ArrayType(dataTypeOf(c))
    case SOpt(c) => ArrayType(dataTypeOf(c))
    case SRepeat(c, _, _) => ArrayType(dataTypeOf(c))
  }
  }

  private def litType(v: Any): DataType = v match {
    case _: String => StringType
    case _: Int | _: Long => LongType
    case _: Double | _: Float => DoubleType
    case _: Boolean => BooleanType
    case _ => StringType
  }

  /** `SchemaIR → StructType` for a top-level `:map` schema (the expected
    * physical schema of the table). */
  def toStructType(ir: SchemaIR)(
      implicit reg: Registry = Registry.empty): StructType = ir match {
    case m: SMap => dataTypeOf(m).asInstanceOf[StructType]
    case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
      toStructType(mallispark.ir.SchemaOps.expand(alg, reg))
    case other => throw new IllegalArgumentException(
      s"top-level schema must be :map, got ${SchemaIR.form(other)}")
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def isFloating(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Does the physical type fit the leaf schema? Static invalid-type
    * (malli: type errors at runtime; for us the column type is static so a
    * mismatched column fails every row — see SURVEY §7 hard-part 4). */
  private def typeOk(ir: SchemaIR, dt: DataType): Boolean = ir match {
    case SProps(_, c) => typeOk(c, dt)
    case _: SString | SUuid | _: SRegex | _: SIdent => dt == StringType
    case _: SInt => isIntegral(dt)
    case _: SDouble => isFloating(dt)
    case SBoolean => dt == BooleanType
    case SBinary => dt == BinaryType
    case _: STimestamp => dt == TimestampType
    case _: SDate => dt == DateType || dt == TimestampType
    case SEnum(vs) => vs.isEmpty || (litType(vs.head) match {
      // an enum of strings against a numeric column (or vice versa) must
      // degrade to statically-false like every other leaf — ANSI would
      // otherwise cast the literals and throw at runtime
      case StringType => dt == StringType
      case LongType => isIntegral(dt) || isFloating(dt)
      case DoubleType => isFloating(dt) || isIntegral(dt)
      case BooleanType => dt == BooleanType
      case _ => true
    })
    case _ => true
  }

  // --------------------------------------------------------------------
  // Compiler context
  // --------------------------------------------------------------------

  final case class Ctx(registry: Registry = Registry.empty, depth: Int = 8)

  /** Canonical ISO-8601 string forms for the :time/... kinds that have no
    * Spark physical type (anchored; `java.time` toString/parse shapes). */
  object TimeRes {
    private val off = "([+-](0\\d|1[0-8]):[0-5]\\d|Z)"
    val localTime = "^([01]\\d|2[0-3]):[0-5]\\d:[0-5]\\d(\\.\\d{1,9})?$"
    val offsetDateTime =
      "^\\d{4}-\\d{2}-\\d{2}T([01]\\d|2[0-3]):[0-5]\\d(:[0-5]\\d(\\.\\d{1,9})?)?" + off + "$"
    val offsetTime = "^([01]\\d|2[0-3]):[0-5]\\d(:[0-5]\\d(\\.\\d{1,9})?)?" + off + "$"
    val zonedDateTime =
      "^\\d{4}-\\d{2}-\\d{2}T([01]\\d|2[0-3]):[0-5]\\d(:[0-5]\\d(\\.\\d{1,9})?)?" +
        off + "(\\[[A-Za-z_]+(/[A-Za-z0-9_+\\-]+)+\\])?$"
    val zoneId =
      "^([A-Za-z_]+(/[A-Za-z0-9_+\\-]+)+|UTC|GMT|UT|Z|[+-]\\d{2}(:\\d{2})?)$"
    val zoneOffset = "^([+-](0\\d|1[0-8]):[0-5]\\d(:[0-5]\\d)?|Z)$"
  }

  private[compile] val uuidRe =
    // canonical UUID regex — reference: /root/reference/src/malli/transform.cljc:115-116
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** String-form shapes for the ident leaves (core.cljc:828-831): one
    * non-empty segment of non-whitespace/non-'/'/non-':' chars, keywords
    * prefixed ':', symbols starting with a non-digit. Pragmatic subset of
    * the Clojure reader's grammar, shared verbatim with the DuckDB oracle
    * and the RowEval twin. :char has no regex — exactly one code point. */
  object IdentRes {
    private val seg = "[^\\s/:]+"
    private val seg0 = "[^\\s/:]*" // rest of a symbol segment (may be empty)
    val keyword = s"^:$seg(/$seg)?$$"
    val simpleKeyword = s"^:$seg$$"
    val qualifiedKeyword = s"^:$seg/$seg$$"
    val symbol = s"^[^\\s/:0-9]$seg0(/$seg)?$$"
    val simpleSymbol = s"^[^\\s/:0-9]$seg0$$"
    val qualifiedSymbol = s"^[^\\s/:0-9]$seg0/$seg$$"
    def forKind(kind: String): Option[String] = kind match {
      case "keyword" => Some(keyword)
      case "simple-keyword" => Some(simpleKeyword)
      case "qualified-keyword" => Some(qualifiedKeyword)
      case "symbol" => Some(symbol)
      case "simple-symbol" => Some(simpleSymbol)
      case "qualified-symbol" => Some(qualifiedSymbol)
      case "char" => None
      case other => throw new IllegalArgumentException(
        s"unknown ident kind $other")
    }
  }

  // --------------------------------------------------------------------
  // valid: SchemaIR → Column (boolean, never null)
  // --------------------------------------------------------------------

  def valid(ir: SchemaIR, col: Column, dt: DataType)(implicit ctx: Ctx): Column =
    ir match {
      case SAny => F.lit(true)
      case SNil => col.isNull
      case SSome => col.isNotNull

      case s: SString if !typeOk(s, dt) => F.lit(false)
      case SString(mn, mx) =>
        col.isNotNull && between(F.length(col), mn.map(_.toLong), mx.map(_.toLong))

      case s: SInt if !typeOk(s, dt) => F.lit(false)
      case SInt(mn, mx) => col.isNotNull && between(col, mn, mx)

      case s: SDouble if !typeOk(s, dt) => F.lit(false)
      case SDouble(mn, mx) => col.isNotNull && between(col, mn, mx)

      case SBoolean => if (dt == BooleanType) col.isNotNull else F.lit(false)
      case SBinary => if (dt == BinaryType) col.isNotNull else F.lit(false)

      case SUuid =>
        // \z anchor, not $: RowEval full-matches and DuckDB's RE2 has no
        // $-before-final-newline rule, so "<uuid>\n" must fail on all
        // three engines. The anchored-scan kernel handles the {n}
        // quantifiers (and \z) natively — rlike never runs here.
        if (dt != StringType) F.lit(false)
        else {
          val re = uuidRe.stripSuffix("$") + "\\z"
          col.isNotNull &&
            mallispark.expressions.AnchoredScan.column(col, re)
              .getOrElse(col.rlike(re))
        }

      case SIdent(kind, ns) =>
        // {:namespace ...} property-pred (core.cljc:753-755): the
        // canonical string form pins the namespace as a literal prefix
        val nsOk: Column = ns match {
          case Some(n) if kind == "qualified-keyword" =>
            col.startsWith(s":$n/")
          case _ => F.lit(true)
        }
        if (dt != StringType) F.lit(false)
        else nsOk && (IdentRes.forKind(kind) match {
          // Java-regex '$' (what rlike runs) matches BEFORE a final
          // newline; RE2 (DuckDB) and RowEval's full-match do not — swap
          // the anchor for \z engine-side so ":en\n" fails on all three.
          // The anchored-scan kernel covers the ident shapes (their
          // `(/segment)?` tails are one optional group)
          case Some(re) =>
            val z = re.stripSuffix("$") + "\\z"
            col.isNotNull &&
              mallispark.expressions.AnchoredScan.column(col, z)
                .getOrElse(col.rlike(z))
          // :char — exactly one code point (Spark length() counts code
          // points, as does DuckDB's; RowEval mirrors via codePointCount)
          case None => col.isNotNull && F.length(col) === 1
        })

      case s: STimestamp if !typeOk(s, dt) => F.lit(false)
      case STimestamp(mn, mx) =>
        col.isNotNull &&
          between(col, mn.map(java.sql.Timestamp.from), mx.map(java.sql.Timestamp.from))

      case s: SDate if !typeOk(s, dt) => F.lit(false)
      case SDate(mn, mx) =>
        col.isNotNull && between(col.cast(DateType),
          mn.map(java.sql.Date.valueOf), mx.map(java.sql.Date.valueOf))

      // :time/* family (experimental/time.cljc:85-100) — native interval /
      // NTZ types where Spark has them, canonical ISO-8601 strings elsewhere
      case STime(kind, mn, mx) => kind match {
        case "duration" => dt match {
          case _: DayTimeIntervalType =>
            col.isNotNull && between(col,
              mn.map(java.time.Duration.parse), mx.map(java.time.Duration.parse))
          case _ => F.lit(false)
        }
        case "period" => dt match {
          case _: YearMonthIntervalType =>
            col.isNotNull && between(col,
              mn.map(java.time.Period.parse), mx.map(java.time.Period.parse))
          case _ => F.lit(false)
        }
        case "local-date-time" => dt match {
          case TimestampNTZType =>
            col.isNotNull && between(col,
              mn.map(java.time.LocalDateTime.parse),
              mx.map(java.time.LocalDateTime.parse))
          case _ => F.lit(false)
        }
        case "local-time" =>
          // compare as SECONDS-OF-DAY, not lexicographically: the form
          // admits an optional fractional part, so widths can differ and
          // "06:00:00" would string-compare BELOW a "06:00:00.0" bound
          // despite being temporally equal (for canonical same-width
          // values the two orders agree, so oracle parity holds)
          if (dt != StringType) F.lit(false)
          else {
            def secs(c: Column): Column = {
              val p = F.split(c, ":")
              F.element_at(p, 1).cast(DoubleType) * 3600 +
                F.element_at(p, 2).cast(DoubleType) * 60 +
                F.coalesce(
                  F.try_element_at(p, F.lit(3)).cast(DoubleType),
                  F.lit(0.0))
            }
            def bound(s: String): Double =
              java.time.LocalTime.parse(s).toNanoOfDay / 1e9
            col.isNotNull && col.rlike(TimeRes.localTime) &&
              F.coalesce(between(secs(col), mn.map(bound), mx.map(bound)),
                F.lit(false))
          }
        case "offset-date-time" =>
          if (dt != StringType) F.lit(false)
          else {
            val parsed = F.coalesce(
              F.try_to_timestamp(col),
              F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
              F.try_to_timestamp(col, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")))
            // coalesce(.., false): a regex-passing but UNPARSEABLE value
            // (month 13, offset +18:30) makes `between(null, ..)` NULL,
            // and valid() must never return null — null && true is null,
            // which would make a coerce row vanish from BOTH outputs
            col.isNotNull && col.rlike(TimeRes.offsetDateTime) &&
              F.coalesce(between(parsed,
                mn.map(s => java.sql.Timestamp.from(
                  java.time.OffsetDateTime.parse(s).toInstant)),
                mx.map(s => java.sql.Timestamp.from(
                  java.time.OffsetDateTime.parse(s).toInstant))),
                F.lit(false))
          }
        case "offset-time" =>
          if (dt != StringType) F.lit(false)
          else col.isNotNull && col.rlike(TimeRes.offsetTime)
        case "zoned-date-time" =>
          if (dt != StringType) F.lit(false)
          else col.isNotNull && col.rlike(TimeRes.zonedDateTime)
        case "zone-id" =>
          if (dt != StringType) F.lit(false)
          else col.isNotNull && col.rlike(TimeRes.zoneId)
        case "zone-offset" =>
          if (dt != StringType) F.lit(false)
          else col.isNotNull && col.rlike(TimeRes.zoneOffset)
        case other => throw new IllegalArgumentException(
          s"unknown :time kind $other")
      }

      case s: SEnum if !typeOk(s, dt) => F.lit(false)
      case SEnum(vs) => col.isNotNull && col.isin(vs: _*)

      // malli :re uses re-find ⇒ PARTIAL match: do NOT anchor
      // (core.cljc:1730-1731). rlike is already find-semantics.
      // Anchored prefix+class patterns (the url-check shape) compile to
      // the AnchoredScan byte-scan kernel instead of java.util.regex —
      // same find semantics (parity-tested incl. the `$`-before-final-
      // newline nuance), no per-row String copy.
      case SRegex(p) =>
        if (dt != StringType) F.lit(false)
        else col.isNotNull &&
          mallispark.expressions.AnchoredScan.column(col, p)
            .getOrElse(col.rlike(p))

      case SCompare(op, v) =>
        val l = F.lit(v)
        val cmp = op match {
          case ">" => col > l
          case ">=" => col >= l
          case "<" => col < l
          case "<=" => col <= l
          case "=" => col === l
          case "not=" => col =!= l
          case other => throw new IllegalArgumentException(s"bad compare op $other")
        }
        col.isNotNull && cmp

      case SFn(_, f) =>
        // :fn escape hatch — non-codegen scalar UDF, exceptions→false
        // (malli -safe-pred, core.cljc:209)
        val safe = F.udf((v: Any) => try f(v) catch { case _: Throwable => false })
        safe(col)

      case SCustom(_, p, _) =>
        // codegen path: the Column builder runs inline (coalesce keeps the
        // never-null contract when the pred null-propagates)
        F.coalesce(p(col, dt), F.lit(false))

      case SValidate(_, f) =>
        // :validate escape hatch — valid iff the error fn returns nothing
        // (experimental/validate.cljc:28, -safe-pred over nil?∘f);
        // a LOST fn (deserialized schema) fails fast, not safe-false
        val safe = F.udf((v: Any) =>
          try f(v).isEmpty catch {
            case e: SchemaIR.LostFnException => throw e
            case _: Throwable => false
          })
        safe(col)

      case SMaybe(c) => col.isNull || valid(c, col, dt)
      case SAnd(cs) => cs.map(valid(_, col, dt)).reduce(_ && _)
      case SOr(cs) => cs.map(valid(_, col, dt)).reduce(_ || _)
      case SOrn(bs) => bs.map(b => valid(b._2, col, dt)).reduce(_ || _)
      case SAndn(bs) => bs.map(b => valid(b._2, col, dt)).reduce(_ && _)
      case SNot(c) => !valid(c, col, dt)

      case SMap(entries, closed, rest) =>
        dt match {
          case st: StructType =>
            col.isNotNull &&
              validStructFields(entries, closed, rest, st,
                name => col.getField(name))

          // fixed-key :map over a MapType column (malli maps ARE open
          // string-keyed maps; parquet map<string, V> is their physical
          // shape when keys vary by row). Entry lookup via try_element_at
          // (ANSI element_at throws on absent keys); the missing-vs-null
          // conflation matches RowEval's asMap semantics, and stray-key
          // checks skip null values exactly like the StructType branch.
          case mt: MapType if mt.keyType == StringType =>
            val vt = mt.valueType
            val known = entries.map(_.key)
            def knownK(kc: Column): Column =
              if (known.isEmpty) F.lit(false) else kc.isin(known: _*)
            val checks = entries.map { e =>
              val vCol = F.try_element_at(col, F.lit(e.key))
              if (e.optional) {
                if (onlyNullCheck(e.child, vt)) F.lit(true)
                else vCol.isNull || valid(e.child, vCol, vt)
              } else if (acceptsNull(e.child, ctx.registry)) valid(e.child, vCol, vt)
              else vCol.isNotNull && valid(e.child, vCol, vt)
            }
            val extraOk =
              if (!closed) F.lit(true)
              else F.coalesce(F.forall(F.map_entries(col), kv =>
                knownK(kv.getField("key")) || kv.getField("value").isNull),
                F.lit(true))
            val restOk = rest match {
              case None => F.lit(true)
              case Some(r) => F.coalesce(F.forall(F.map_entries(col), kv =>
                knownK(kv.getField("key")) || kv.getField("value").isNull ||
                  valid(r, kv.getField("value"), vt)), F.lit(true))
            }
            col.isNotNull &&
              checks.foldLeft(extraOk && restOk)(_ && _)

          case _ => F.lit(false)
        }

      case SMapOf(k, v, mn, mx) =>
        dt match {
          case MapType(kt, vt, _) =>
            val keysOk = F.forall(F.map_keys(col), kc => valid(k, kc, kt))
            val valsOk = F.forall(F.map_values(col), vc => valid(v, vc, vt))
            col.isNotNull &&
              between(F.size(col), mn.map(_.toLong), mx.map(_.toLong)) &&
              F.coalesce(keysOk, F.lit(false)) && F.coalesce(valsOk, F.lit(false))
          case _ => F.lit(false)
        }

      case SVector(c, mn, mx) => collValid(c, col, dt, mn, mx, unique = false)
      // :seqable — NULL is valid ((seqable? nil) is true; it seqs to the
      // empty sequence, so the :min bound must hold against size 0)
      case SSeqable(c, mn, mx) =>
        F.when(col.isNull, mn.forall(_ <= 0))
          .otherwise(collValid(c, col, dt, mn, mx, unique = false))
      case SSet(c, mn, mx) => collValid(c, col, dt, mn, mx, unique = true)

      case SEvery(c, mn, mx, limit) =>
        dt match {
          case ArrayType(et, _) =>
            // bounded element checks: first max(min, max+1, limit)
            // elements (core.cljc:745-751). NULL is valid like the
            // reference's `(m/validate [:every :int] nil)` — nil is
            // seqable and seqs empty, so only a :min bound can fail it
            val eff = effectiveEveryLimit(mn, mx, limit)
            val bounded = F.slice(col, 1, eff)
            F.when(col.isNull, mn.forall(_ <= 0)).otherwise(
              between(F.size(col), mn.map(_.toLong), mx.map(_.toLong)) &&
                F.coalesce(F.forall(bounded, x => valid(c, x, et)),
                  F.lit(true)))
          case _ => F.lit(false)
        }

      case STuple(cs) =>
        dt match {
          case ArrayType(et, _) =>
            val sizeOk = F.size(col) === cs.length
            val elems = cs.zipWithIndex.map { case (c, i) =>
              valid(c, F.get(col, F.lit(i)), et)
            }
            col.isNotNull && sizeOk && elems.foldLeft(F.lit(true))(_ && _)
          case st: StructType if st.fields.length == cs.length =>
            val elems = cs.zip(st.fields).map { case (c, f) =>
              valid(c, col.getField(f.name), f.dataType)
            }
            col.isNotNull && elems.foldLeft(F.lit(true))(_ && _)
          case _ => F.lit(false)
        }

      case SMulti(dk, bs, default) =>
        dt match {
          case st: StructType =>
            val dv = col.getField(dk)
            val fallback = default.map(valid(_, col, dt)).getOrElse(F.lit(false))
            col.isNotNull && bs.foldRight(fallback) { case ((tag, c), acc) =>
              F.when(dv === F.lit(tag), valid(c, col, dt)).otherwise(acc)
            }
          case _ => F.lit(false)
        }

      // :multi with an arbitrary dispatch — the dispatch builds a Column
      // expression over the value, so the whole chain stays codegen'd
      // (core.cljc:1876-1890 accepts any :dispatch fn)
      case SMultiExpr(_, disp, _, bs, default) =>
        val dv = disp(col)
        val fallback = default.map(valid(_, col, dt)).getOrElse(F.lit(false))
        col.isNotNull && bs.foldRight(fallback) { case ((tag, c), acc) =>
          F.when(dv === F.lit(tag), valid(c, col, dt)).otherwise(acc)
        }

      case SRef(name) =>
        if (ctx.depth <= 0) F.lit(true) // depth-bounded unroll (SURVEY §7.1)
        else valid(ctx.registry(name), col, dt)(ctx.copy(depth = ctx.depth - 1))

      // :schema with a local registry: layer the local names over the Ctx
      // registry for the child subtree (local wins — -property-registry)
      case SScoped(local, c, _) =>
        valid(c, col, dt)(ctx.copy(registry =
          Registry(ctx.registry.schemas ++ local, ctx.registry.maxDepth)))

      // property wrapper: validation ignores non-structural props
      case SProps(_, c) => valid(c, col, dt)

      // declarative :merge/:union/:select-keys (util.cljc:394-418):
      // structural expansion, then compile the result
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        valid(mallispark.ir.SchemaOps.expand(alg, ctx.registry), col, dt)

      // ---- seq-regex: general (nested) forms -> RowEval UDF (tier 3) ----
      case r if isGeneralRegex(r) =>
        dt match {
          case ArrayType(StringType, _) =>
            mallispark.compile.GeneralRegex.validStringSeq(r)(col)
          case ArrayType(LongType, _) =>
            mallispark.compile.GeneralRegex.validLongSeq(r)(col)
          case other => throw new IllegalArgumentException(
            s"general seq-regex ${SchemaIR.form(r)} needs array<string|long>, " +
              s"got ${other.simpleString}")
        }

      // ---- seq-regex bounded forms (SURVEY §2.9 tiers 1-2) ----
      case SCat(cs) =>
        dt match {
          case ArrayType(et, _) =>
            val elems = cs.zipWithIndex.map { case (c, i) =>
              elemValid(c, F.get(col, F.lit(i)), et)
            }
            col.isNotNull && F.size(col) === cs.length &&
              elems.foldLeft(F.lit(true))(_ && _)
          case _ => F.lit(false)
        }
      case SCatn(es) => valid(SCat(es.map(_._2)), col, dt)
      case SAlt(cs) => cs.map(valid(_, col, dt)).reduce(_ || _)
      case SAltn(es) => es.map(e => valid(e._2, col, dt)).reduce(_ || _)
      case SStar(c) =>
        dt match {
          case ArrayType(et, _) =>
            col.isNotNull &&
              F.coalesce(F.forall(col, x => elemValid(c, x, et)), F.lit(true))
          case _ => F.lit(false)
        }
      case SPlus(c) =>
        dt match {
          case ArrayType(et, _) =>
            col.isNotNull && F.size(col) >= 1 &&
              F.coalesce(F.forall(col, x => elemValid(c, x, et)), F.lit(true))
          case _ => F.lit(false)
        }
      case SOpt(c) =>
        dt match {
          case ArrayType(et, _) =>
            col.isNotNull && F.size(col) <= 1 &&
              F.coalesce(F.forall(col, x => elemValid(c, x, et)), F.lit(true))
          case _ => F.lit(false)
        }
      case SRepeat(c, mn, mx) =>
        dt match {
          case ArrayType(et, _) =>
            col.isNotNull && F.size(col).between(mn, mx) &&
              F.coalesce(F.forall(col, x => elemValid(c, x, et)), F.lit(true))
          case _ => F.lit(false)
        }
    }

  private def isGeneralRegex(ir: SchemaIR): Boolean =
    SchemaIR.isGeneralRegex(ir)

  /** Element check inside a regex op: an SAlt among plain schemas matches
    * one element (bounded form); nested regex ops would need the general
    * engine (RowEval UDF). */
  private def elemValid(c: SchemaIR, elem: Column, et: DataType)(
      implicit ctx: Ctx): Column = c match {
    case SAlt(cs) => cs.map(valid(_, elem, et)).reduce(_ || _)
    case SAltn(es) => es.map(e => valid(e._2, elem, et)).reduce(_ || _)
    case other => valid(other, elem, et)
  }

  private def collValid(c: SchemaIR, col: Column, dt: DataType,
                        mn: Option[Int], mx: Option[Int], unique: Boolean)(
      implicit ctx: Ctx): Column = dt match {
    case ArrayType(et, _) =>
      val base = col.isNotNull &&
        between(F.size(col), mn.map(_.toLong), mx.map(_.toLong)) &&
        F.coalesce(F.forall(col, x => valid(c, x, et)), F.lit(true))
      if (unique) base && F.size(F.array_distinct(col)) === F.size(col) else base
    case _ => F.lit(false)
  }

  /** malli's :every bounded-check window: max(min, max+1, limit)
    * (core.cljc:745-751). */
  private def effectiveEveryLimit(mn: Option[Int], mx: Option[Int],
                                  limit: Int): Int =
    Seq(Some(limit), mn, mx.map(_ + 1)).flatten.max

  /** Struct-shaped `:map` explain over a FIELD ACCESSOR — the errors()
    * twin of [[validStructFields]], same O(width²) rationale. */
  private def errorStructFields(entries: Seq[Entry], closed: Boolean,
                                rest: Option[SchemaIR], st: StructType,
                                fieldOf: String => Column,
                                path: String, in: Column)(
      implicit ctx: Ctx): Column = {
    val perEntry = entries.map { e =>
      val p = j(path, e.key)
      val i2 = jin(in, e.key)
      st.find(_.name == e.key) match {
        case None =>
          if (e.optional) emptyViols
          else one(p, i2, ErrorKeys.MissingKey, F.lit(null).cast(StringType))
        case Some(f) =>
          val fc = fieldOf(e.key)
          val childErrs = errors(e.child, fc, f.dataType, p, i2)
          if (e.optional) F.when(fc.isNull, emptyViols).otherwise(childErrs)
          // required key whose child accepts nil: null is a value
          else if (acceptsNull(e.child, ctx.registry)) childErrs
          // Parquet conflates missing-key and null value (SURVEY §7.4):
          // a null required field reports ::missing-key.
          else F.when(fc.isNull,
            one(p, i2, ErrorKeys.MissingKey, F.lit(null).cast(StringType)))
            .otherwise(childErrs)
      }
    }
    val known = entries.map(_.key).toSet
    val undeclared = st.fields.filterNot(f => known(f.name)).toSeq
    val extras: Seq[Column] =
      if (!closed) Seq.empty
      else undeclared.map { f =>
        // ::m/extra-key fires only when the stray field is present
        F.when(fieldOf(f.name).isNotNull,
          one(j(path, f.name), jin(in, f.name), ErrorKeys.ExtraKey,
            valueStr(fieldOf(f.name), f.dataType)))
          .otherwise(emptyViols)
      }
    // ::m/default rest-entry errors: undeclared PRESENT fields
    // validate against the rest schema, path segment ::m/default
    // (mirror of the reference's default-branch explain)
    val restErrs: Seq[Column] = rest match {
      case None => Seq.empty
      case Some(r) => undeclared.map { f =>
        val fc = fieldOf(f.name)
        F.when(fc.isNotNull,
          errors(r, fc, f.dataType,
            j(j(path, "malli.core/default"), f.name), jin(in, f.name)))
          .otherwise(emptyViols)
      }
    }
    concatViols(perEntry ++ extras ++ restErrs)
  }

  /** Struct-shaped `:map` validity over a FIELD ACCESSOR — shared by the
    * nested-struct branch (accessor = `col.getField`) and the top-level
    * DataFrame entry points (accessor = `F.col`). The top level must NOT
    * route through one rebuilt row-struct: every check embedding a copy
    * of a width-N CreateStruct makes the pre-optimization tree O(N²),
    * which costs SECONDS of driver planning per action on wide tables
    * (measured ~8 s at 250 columns) even though the optimizer collapses
    * it before execution. */
  private def validStructFields(entries: Seq[Entry], closed: Boolean,
                                rest: Option[SchemaIR], st: StructType,
                                fieldOf: String => Column)(
      implicit ctx: Ctx): Column = {
    val checks = entries.map { e =>
      st.find(_.name == e.key) match {
        case None =>
          if (e.optional) F.lit(true) else F.lit(false) // static missing
        case Some(f) =>
          val fc = fieldOf(e.key)
          if (e.optional) {
            // peephole: a boundless leaf only asserts non-null, so
            // `isNull || isNotNull` is a tautology — elide it
            // (malli's no-op elision spirit, core.cljc:35-37)
            if (onlyNullCheck(e.child, f.dataType)) F.lit(true)
            else fc.isNull || valid(e.child, fc, f.dataType)
          } else if (acceptsNull(e.child, ctx.registry))
            // required key whose child accepts nil (:maybe/:nil/:any)
            // — null is a VALUE here, not a missing key
            valid(e.child, fc, f.dataType)
          else fc.isNotNull && valid(e.child, fc, f.dataType)
      }
    }
    val known = entries.map(_.key).toSet
    val undeclared = st.fields.filterNot(f => known(f.name)).toSeq
    // closed map: any extra PHYSICAL field must be absent (null) —
    // the non-null case is ::m/extra-key (core.cljc:1315-1322)
    val closedChecks =
      if (!closed) Seq.empty
      else undeclared.map(f => fieldOf(f.name).isNull)
    // ::m/default rest-entry (core.cljc:586-587, 1237): every
    // PRESENT undeclared field must satisfy the rest schema
    val restChecks = rest match {
      case None => Seq.empty
      case Some(r) => undeclared.map { f =>
        val fc = fieldOf(f.name)
        fc.isNull || valid(r, fc, f.dataType)
      }
    }
    (checks ++ closedChecks ++ restChecks)
      .foldLeft(F.lit(true))(_ && _)
  }

  /** Does the schema accept a null VALUE (vs null meaning missing-key)? */
  private def acceptsNull(ir: SchemaIR, reg: Registry,
                          seen: Set[(String, SchemaIR)] = Set.empty)
      : Boolean = ir match {
    case SAny | SNil | _: SMaybe => true
    // nil is a seqable VALUE (seqs empty) — a physical null under these
    // reads as present-nil, never missing-key; the child itself reports
    // ::limits when a :min bound needs size
    case _: SSeqable | _: SEvery => true
    case SOr(cs) => cs.exists(acceptsNull(_, reg, seen))
    case SOrn(bs) => bs.exists(b => acceptsNull(b._2, reg, seen))
    case SAnd(cs) => cs.forall(acceptsNull(_, reg, seen))
    case SAndn(bs) => bs.forall(b => acceptsNull(b._2, reg, seen))
    // props/scopes never change nullability — peel (mirrors the
    // row-level twin)
    case SProps(_, c) => acceptsNull(c, reg, seen)
    case SScoped(local, c, _) =>
      acceptsNull(c, Registry(reg.schemas ++ local, reg.maxDepth), seen)
    // a ref derefs (a [:ref ...→ :maybe] under a required key accepts a
    // present-nil); cycle-guarded on the RESOLVED (name, target) like
    // simpleParser, so shadowed same-name refs are not false cycles
    case SRef(n) => reg.schemas.get(n).exists(t =>
      !seen((n, t)) && acceptsNull(t, reg, seen + ((n, t))))
    case _ => false
  }

  /** True iff the schema's only possible failure on this physical type is
    * null-ness (boundless leaf of a matching type). */
  private def onlyNullCheck(ir: SchemaIR, dt: DataType): Boolean = ir match {
    case SAny => true
    case SSome => true
    case SString(None, None) => dt == StringType
    case SInt(None, None) => isIntegral(dt)
    case SDouble(None, None) => isFloating(dt)
    case SBoolean => dt == BooleanType
    case SBinary => dt == BinaryType
    case STimestamp(None, None) => dt == TimestampType
    case STime("duration", None, None) => dt.isInstanceOf[DayTimeIntervalType]
    case STime("period", None, None) => dt.isInstanceOf[YearMonthIntervalType]
    case STime("local-date-time", None, None) => dt == TimestampNTZType
    case _ => false
  }

  private def between(c: Column, mn: Option[Any], mx: Option[Any]): Column =
    (mn, mx) match {
      case (None, None) => F.lit(true)
      case (Some(a), None) => c >= F.lit(a)
      case (None, Some(b)) => c <= F.lit(b)
      case (Some(a), Some(b)) => c >= F.lit(a) && c <= F.lit(b)
    }

  // --------------------------------------------------------------------
  // errors: SchemaIR → Column (array of violation structs)
  //   malli explain semantics (core.cljc:2659-2682): empty array ⇔ valid.
  // --------------------------------------------------------------------

  def errors(ir: SchemaIR, col: Column, dt: DataType, path: String, in: Column)(
      implicit ctx: Ctx): Column = {
    def leaf(key: String): Column =
      F.when(valid(ir, col, dt), emptyViols)
        .otherwise(one(path, in, key, valueStr(col, dt)))

    ir match {
      case SAny => emptyViols
      case SNil => leaf(":nil")
      case SSome => leaf(":some")
      case _: SString => leaf(":string")
      case _: SInt => leaf(":int")
      case _: SDouble => leaf(":double")
      case SBoolean => leaf(":boolean")
      case SBinary => leaf(":bytes")
      case SUuid => leaf(":uuid")
      case SIdent(kind, _) => leaf(s":$kind")
      case _: STimestamp => leaf(":time/instant")
      case _: SDate => leaf(":time/local-date")
      case STime(kind, _, _) => leaf(s":time/$kind")
      case _: SEnum => leaf(":enum")
      case _: SRegex => leaf(":re")
      case SCompare(op, _) => leaf(s":$op")
      case SFn(name, _) => leaf(s":fn/$name")
      case SCustom(name, _, _) => leaf(name)

      case SValidate(_, f) =>
        // errors come from the fn itself (validate.cljc:31-37): each
        // returned error carries its own error type and in-path SUFFIX,
        // spliced after the enclosing in; an explainer exception degrades
        // to one ":validate/error" row (the reference conj's an error
        // typed (:type (ex-data e))). Violation-struct fields are
        // coalesced to literals — violArrType's NOT NULL fields reject
        // bare nullable refs.
        val errsUdf = F.udf((v: Any) =>
          try f(v).map(e => (e.in.mkString("/"), e.errType, e.value))
          catch {
            case e: SchemaIR.LostFnException => throw e
            case _: Throwable =>
              Seq(("", ":validate/error", String.valueOf(v)))
          })
        F.transform(errsUdf(col), e => F.struct(
          F.lit(path).as("path"),
          F.coalesce(
            F.when(F.coalesce(F.length(e.getField("_1")), F.lit(0)) === 0,
                F.coalesce(in, F.lit("")))
              .otherwise(jin(F.coalesce(in, F.lit("")), e.getField("_1"))),
            F.lit("")).as("in"),
          F.coalesce(e.getField("_2"), F.lit(":validate/error"))
            .as("error_key"),
          e.getField("_3").as("value"))).cast(violArrType)

      case SMaybe(c) =>
        F.when(col.isNull, emptyViols)
          .otherwise(errors(c, col, dt, j(path, "0"), in))

      case SAnd(cs) =>
        // every failing child reports, at its branch index
        // (core_test.cljc:239-250)
        concatViols(cs.zipWithIndex.map { case (c, i) =>
          errors(c, col, dt, j(path, i.toString), in)
        })

      case SOr(cs) =>
        // errors from ALL branches only when none match
        F.when(valid(ir, col, dt), emptyViols).otherwise(
          concatViols(cs.zipWithIndex.map { case (c, i) =>
            errors(c, col, dt, j(path, i.toString), in)
          }))

      case SOrn(bs) =>
        F.when(valid(ir, col, dt), emptyViols).otherwise(
          concatViols(bs.map { case (tag, c) =>
            errors(c, col, dt, j(path, tag), in)
          }))

      // :andn explains EVERY failing branch under its tag, like :and with
      // tag segments instead of indices (core.cljc:951-954)
      case SAndn(bs) =>
        concatViols(bs.map { case (tag, c) =>
          errors(c, col, dt, j(path, tag), in)
        })

      case SNot(c) =>
        F.when(valid(c, col, dt), one(path, in, ":not", valueStr(col, dt)))
          .otherwise(emptyViols)

      case SMap(entries, closed, rest) =>
        dt match {
          case st: StructType =>
            val nullErr = one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType))
            F.when(col.isNull, nullErr)
              .otherwise(errorStructFields(entries, closed, rest, st,
                name => col.getField(name), path, in))

          // fixed-key :map over MapType — mirror of the valid() branch;
          // stray keys carry the RUNTIME key in the schema path (RowEval
          // parity: path :+ k), via oneD/jD/prependPath
          case mt: MapType if mt.keyType == StringType =>
            val vt = mt.valueType
            val known = entries.map(_.key)
            def knownK(kc: Column): Column =
              if (known.isEmpty) F.lit(false) else kc.isin(known: _*)
            val nullErr = one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType))
            val perEntry = entries.map { e =>
              val p = j(path, e.key)
              val i2 = jin(in, e.key)
              val vCol = F.try_element_at(col, F.lit(e.key))
              val childErrs = errors(e.child, vCol, vt, p, i2)
              if (e.optional) F.when(vCol.isNull, emptyViols).otherwise(childErrs)
              else if (acceptsNull(e.child, ctx.registry)) childErrs
              else F.when(vCol.isNull,
                one(p, i2, ErrorKeys.MissingKey, F.lit(null).cast(StringType)))
                .otherwise(childErrs)
            }
            val extras: Seq[Column] =
              if (!closed) Seq.empty
              else Seq(F.flatten(F.transform(F.map_entries(col), kv =>
                F.when(!knownK(kv.getField("key")) &&
                    kv.getField("value").isNotNull,
                  oneD(jD(path, kv.getField("key")),
                    jin(in, kv.getField("key")), ErrorKeys.ExtraKey,
                    valueStr(kv.getField("value"), vt)))
                  .otherwise(emptyViols))))
            val restErrs: Seq[Column] = rest match {
              case None => Seq.empty
              case Some(r) => Seq(F.flatten(F.transform(F.map_entries(col), kv =>
                F.when(!knownK(kv.getField("key")) &&
                    kv.getField("value").isNotNull,
                  prependPath(
                    errors(r, kv.getField("value"), vt, "",
                      jin(in, kv.getField("key"))),
                    jD(j(path, "malli.core/default"), kv.getField("key"))))
                  .otherwise(emptyViols))))
            }
            F.when(col.isNull, nullErr)
              .otherwise(concatViols(perEntry ++ extras ++ restErrs))

          case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
        }

      case SMapOf(k, v, mn, mx) =>
        dt match {
          case MapType(kt, vt, _) =>
            val limitsOk = between(F.size(col), mn.map(_.toLong), mx.map(_.toLong))
            val limitsErr = F.when(limitsOk, emptyViols)
              .otherwise(one(path, in, ErrorKeys.Limits, F.size(col).cast(StringType)))
            val entryErrs = F.flatten(F.transform(F.map_entries(col), kv => {
              val keyE = errors(k, kv.getField("key"), kt, j(path, "0"),
                jin(in, kv.getField("key").cast(StringType)))
              val valE = errors(v, kv.getField("value"), vt, j(path, "1"),
                jin(in, kv.getField("key").cast(StringType)))
              F.concat(keyE, valE)
            }))
            F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType)))
              .otherwise(concatViols(Seq(limitsErr, entryErrs)))
          case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
        }

      case SVector(c, mn, mx) => collErrors(c, col, dt, mn, mx, path, in, unique = false)
      // :seqable — NULL seqs empty: no error unless a :min bound fails
      case SSeqable(c, mn, mx) =>
        F.when(col.isNull,
          if (mn.exists(_ > 0))
            one(path, in, ErrorKeys.Limits, F.lit("0"))
          else emptyViols)
          .otherwise(collErrors(c, col, dt, mn, mx, path, in, unique = false))
      case SSet(c, mn, mx) => collErrors(c, col, dt, mn, mx, path, in, unique = true)

      case SEvery(c, mn, mx, limit) =>
        dt match {
          case ArrayType(et, _) =>
            val limitsOk = between(F.size(col), mn.map(_.toLong), mx.map(_.toLong))
            val limitsErr = F.when(limitsOk, emptyViols)
              .otherwise(one(path, in, ErrorKeys.Limits, F.size(col).cast(StringType)))
            val bounded = F.slice(col, 1, effectiveEveryLimit(mn, mx, limit))
            val elemErrs = F.flatten(F.transform(bounded, (x, i) =>
              errors(c, x, et, j(path, "0"), jin(in, i))))
            // NULL is a valid empty seqable — only :min > 0 reports
            F.when(col.isNull,
              if (mn.exists(_ > 0))
                one(path, in, ErrorKeys.Limits, F.lit("0"))
              else emptyViols)
              .otherwise(concatViols(Seq(limitsErr, elemErrs)))
          case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
        }

      case STuple(cs) =>
        dt match {
          case ArrayType(et, _) =>
            val sizeErr = F.when(F.size(col) === cs.length, emptyViols)
              .otherwise(one(path, in, ErrorKeys.TupleSize, F.size(col).cast(StringType)))
            val elemErrs = cs.zipWithIndex.map { case (c, i) =>
              F.when(F.size(col) === cs.length,
                errors(c, F.get(col, F.lit(i)), et, j(path, i.toString), jin(in, i.toString)))
                .otherwise(emptyViols)
            }
            F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType)))
              .otherwise(concatViols(sizeErr +: elemErrs))
          case st: StructType if st.fields.length == cs.length =>
            val elemErrs = cs.zip(st.fields).zipWithIndex.map { case ((c, f), i) =>
              errors(c, col.getField(f.name), f.dataType,
                j(path, i.toString), jin(in, i.toString))
            }
            F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType)))
              .otherwise(concatViols(elemErrs))
          case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
        }

      case SMulti(dk, bs, default) =>
        dt match {
          case st: StructType =>
            val dv = col.getField(dk)
            val fallback = default
              .map(d => errors(d, col, dt, j(path, "malli.core/default"), in))
              .getOrElse(one(path, in, ErrorKeys.InvalidDispatch,
                dv.cast(StringType)))
            val chain = bs.foldRight(fallback) { case ((tag, c), acc) =>
              F.when(dv === F.lit(tag), errors(c, col, dt, j(path, tag), in))
                .otherwise(acc)
            }
            F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
              F.lit(null).cast(StringType))).otherwise(chain)
          case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
        }

      case SMultiExpr(_, disp, _, bs, default) =>
        val dv = disp(col)
        val fallback = default
          .map(d => errors(d, col, dt, j(path, "malli.core/default"), in))
          .getOrElse(one(path, in, ErrorKeys.InvalidDispatch,
            dv.cast(StringType)))
        val chain = bs.foldRight(fallback) { case ((tag, c), acc) =>
          F.when(dv === F.lit(tag), errors(c, col, dt, j(path, tag), in))
            .otherwise(acc)
        }
        F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
          F.lit(null).cast(StringType))).otherwise(chain)

      case SRef(name) =>
        if (ctx.depth <= 0) emptyViols
        else errors(ctx.registry(name), col, dt, path, in)(
          ctx.copy(depth = ctx.depth - 1))

      case SScoped(local, c, _) =>
        errors(c, col, dt, path, in)(ctx.copy(registry =
          Registry(ctx.registry.schemas ++ local, ctx.registry.maxDepth)))

      case SProps(_, c) => errors(c, col, dt, path, in)

      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        errors(mallispark.ir.SchemaOps.expand(alg, ctx.registry),
          col, dt, path, in)

      // general (nested) seq-regex: positional error attribution from the
      // RowEval backtracking explainer (impl/regex.cljc:585-628 analogue) —
      // the UDF reports RELATIVE path/in; prefix the static schema path
      // and the runtime in path here
      case r if isGeneralRegex(r) =>
        val rel = dt match {
          case ArrayType(StringType, _) =>
            mallispark.compile.GeneralRegex.explainStringSeq(r)(col)
          case ArrayType(LongType, _) =>
            mallispark.compile.GeneralRegex.explainLongSeq(r)(col)
          case other => throw new IllegalArgumentException(
            s"general seq-regex ${SchemaIR.form(r)} needs array<string|long>, " +
              s"got ${other.simpleString}")
        }
        F.transform(rel, e => {
          val rp = e.getField("path")
          val ri = e.getField("in")
          val pOut =
            if (path.isEmpty) rp
            else F.when(rp === "", F.lit(path))
              .otherwise(F.concat(F.lit(path + "/"), rp))
          val iOut = F.when(ri === "", F.coalesce(in, F.lit("")))
            .otherwise(jin(in, ri))
          // coalesce to non-null literals: violStruct fields are NOT NULL
          // and a nullable struct field cannot cast into them
          F.struct(F.coalesce(pOut, F.lit("")).as("path"),
            F.coalesce(iOut, F.lit("")).as("in"),
            F.coalesce(e.getField("error_key"), F.lit("")).as("error_key"),
            e.getField("value").as("value"))
        }).cast(violArrType)

      // seq-regex bounded errors — ::end-of-input / ::input-remaining parity
      case SCat(cs) => catErrors(cs.zipWithIndex.map { case (c, i) => (i.toString, c) },
        col, dt, path, in)
      case SCatn(es) => catErrors(es, col, dt, path, in)

      case SAlt(cs) =>
        F.when(valid(ir, col, dt), emptyViols).otherwise(
          concatViols(cs.zipWithIndex.map { case (c, i) =>
            errors(c, col, dt, j(path, i.toString), in)
          }))

      case SAltn(es) =>
        F.when(valid(ir, col, dt), emptyViols).otherwise(
          concatViols(es.map { case (tag, c) =>
            errors(c, col, dt, j(path, tag), in)
          }))

      case SStar(c) => regexCollErrors(c, col, dt, path, in, None, None)
      case SPlus(c) => regexCollErrors(c, col, dt, path, in, Some(1), None)
      case SOpt(c) => regexCollErrors(c, col, dt, path, in, None, Some(1))
      case SRepeat(c, mn, mx) =>
        regexCollErrors(c, col, dt, path, in, Some(mn), Some(mx))
    }
  }

  private def catErrors(es: Seq[(String, SchemaIR)], col: Column, dt: DataType,
                        path: String, in: Column)(implicit ctx: Ctx): Column =
    dt match {
      case ArrayType(et, _) =>
        val n = es.length
        val sizeErr =
          F.when(F.size(col) < n,
            one(path, in, ErrorKeys.EndOfInput, F.size(col).cast(StringType)))
            .when(F.size(col) > n,
              one(path, in, ErrorKeys.InputRemaining, F.size(col).cast(StringType)))
            .otherwise(emptyViols)
        val elemErrs = es.zipWithIndex.map { case ((tag, c), i) =>
          F.when(F.size(col) === n,
            elemErrors(c, F.get(col, F.lit(i)), et, j(path, tag), jin(in, i.toString)))
            .otherwise(emptyViols)
        }
        F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
          F.lit(null).cast(StringType)))
          .otherwise(concatViols(sizeErr +: elemErrs))
      case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
    }

  private def elemErrors(c: SchemaIR, elem: Column, et: DataType, path: String,
                         in: Column)(implicit ctx: Ctx): Column = c match {
    case SAlt(cs) =>
      F.when(cs.map(valid(_, elem, et)).reduce(_ || _), emptyViols).otherwise(
        concatViols(cs.zipWithIndex.map { case (cc, i) =>
          errors(cc, elem, et, j(path, i.toString), in)
        }))
    case SAltn(es) =>
      F.when(es.map(e => valid(e._2, elem, et)).reduce(_ || _), emptyViols)
        .otherwise(concatViols(es.map { case (tag, cc) =>
          errors(cc, elem, et, j(path, tag), in)
        }))
    case other => errors(other, elem, et, path, in)
  }

  private def regexCollErrors(c: SchemaIR, col: Column, dt: DataType,
                              path: String, in: Column, mn: Option[Int],
                              mx: Option[Int])(implicit ctx: Ctx): Column =
    dt match {
      case ArrayType(et, _) =>
        val limitsOk = between(F.size(col), mn.map(_.toLong), mx.map(_.toLong))
        val limitsErr = F.when(limitsOk, emptyViols)
          .otherwise(one(path, in, ErrorKeys.Limits, F.size(col).cast(StringType)))
        val elemErrs = F.flatten(F.transform(col, (x, i) =>
          elemErrors(c, x, et, j(path, "0"), jin(in, i))))
        F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
          F.lit(null).cast(StringType)))
          .otherwise(concatViols(Seq(limitsErr, elemErrs)))
      case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
    }

  private def collErrors(c: SchemaIR, col: Column, dt: DataType,
                         mn: Option[Int], mx: Option[Int], path: String,
                         in: Column, unique: Boolean)(implicit ctx: Ctx): Column =
    dt match {
      case ArrayType(et, _) =>
        val limitsOk = between(F.size(col), mn.map(_.toLong), mx.map(_.toLong))
        val limitsErr = F.when(limitsOk, emptyViols)
          .otherwise(one(path, in, ErrorKeys.Limits, F.size(col).cast(StringType)))
        val dupErr =
          if (!unique) emptyViols
          else F.when(F.size(F.array_distinct(col)) === F.size(col), emptyViols)
            .otherwise(one(path, in, ErrorKeys.DuplicateKey, valueStr(col, dt)))
        val elemErrs = F.flatten(F.transform(col, (x, i) =>
          errors(c, x, et, j(path, "0"), jin(in, i))))
        F.when(col.isNull, one(path, in, ErrorKeys.InvalidType,
          F.lit(null).cast(StringType)))
          .otherwise(concatViols(Seq(limitsErr, dupErr, elemErrs)))
      case _ => one(path, in, ErrorKeys.InvalidType, valueStr(col, dt))
    }

  private def concatViols(cols: Seq[Column]): Column = {
    val nonTrivial = cols.filter(_ != null)
    if (nonTrivial.isEmpty) emptyViols
    else if (nonTrivial.size == 1) nonTrivial.head
    else F.concat(nonTrivial: _*)
  }

  // --------------------------------------------------------------------
  // DataFrame-level entry points (top-level :map schema over columns)
  // --------------------------------------------------------------------

  /** Whole-row struct so a top-level `:map` schema addresses columns
    * uniformly; Catalyst's SimplifyExtractValueOps collapses
    * GetStructField(CreateStruct(...)) back to the raw column, so this
    * costs nothing in the physical plan. */
  private def rowStruct(df: DataFrame,
                        exclude: Set[String]): (Column, StructType) = {
    val fields = df.schema.fields.filterNot(f => exclude(f.name))
    val cols = fields.map(f => F.col(f.name).as(f.name))
    (F.struct(cols.toIndexedSeq: _*), StructType(fields))
  }

  /** `m/validate` over a DataFrame: adds a boolean `valid` column.
    * `exclude` names engine-added bookkeeping columns (e.g. part_id) that
    * a closed map must not see as extra keys. */
  def validateDF(ir: SchemaIR, df: DataFrame, outCol: String = "valid",
                 exclude: Set[String] = Set.empty)(
      implicit ctx: Ctx = Ctx()): DataFrame =
    topMap(ir, ctx) match {
      // top-level :map validates the DataFrame's COLUMNS directly — no
      // rebuilt row-struct, so planning stays O(width) on wide tables
      // (a DataFrame row itself is never null)
      case Some((m, ctx2)) =>
        val st = StructType(df.schema.fields
          .filterNot(f => (exclude + outCol)(f.name)))
        if (structMapDepth(m, st)(ctx2) > DeepNestThreshold)
          df.withColumn(outCol, deepValidUdf(m, st, ctx2))
        else
          df.withColumn(outCol,
            validStructFields(m.entries, m.closed, m.rest, st, F.col)(ctx2))
      case None =>
        val (row, st) = rowStruct(df, exclude + outCol)
        df.withColumn(outCol, valid(ir, row, st))
    }

  /** Deep-nesting escape hatch: Spark's whole-stage codegen duplicates
    * subexpression-elimination state per conditional branch, which is
    * EXPONENTIAL in nested-conditional depth — a 30-level struct-map
    * chain OOMs the driver building >2 GB of generated source (measured:
    * fine to ~depth 18, ~2× codegen wall per +4 levels after). Past the
    * threshold, validation drops to the engine's row-level interpreter
    * as a scalar UDF over the row struct — the same escape-hatch tier
    * the general seq-regex uses (SURVEY §2.9): linear in schema size,
    * no codegen, row-local. */
  private def deepValidUdf(m: SMap, st: StructType, ctx: Ctx): Column = {
    val (reg, d) = (ctx.registry, ctx.depth)
    val f = F.udf(new org.apache.spark.sql.api.java.UDF1[
        org.apache.spark.sql.Row, Boolean] {
      override def call(r: org.apache.spark.sql.Row): Boolean =
        mallispark.eval.RowEval.validate(m, r)(reg, d)
    }, BooleanType)
    f(rowStructCol(st))
  }

  /** explainDF twin of [[deepValidUdf]] — row-level explain emitting the
    * violStruct rows directly (absolute paths; values via the shared
    * deterministic stringifier that mirrors the Column tier's valueStr
    * shape — base64 binaries, compact-JSON containers). */
  private def deepErrorsUdf(m: SMap, st: StructType, ctx: Ctx): Column = {
    val (reg, d) = (ctx.registry, ctx.depth)
    val f = F.udf(new org.apache.spark.sql.api.java.UDF1[
        org.apache.spark.sql.Row, Seq[org.apache.spark.sql.Row]] {
      override def call(r: org.apache.spark.sql.Row)
          : Seq[org.apache.spark.sql.Row] =
        mallispark.eval.RowEval
          .explain(m, r, Vector.empty, Vector.empty)(reg, d)
          .map(e => org.apache.spark.sql.Row(
            e.path.mkString("/"), e.in.mkString("/"), e.key,
            mallispark.eval.RowEval.errValueString(e.value)))
    }, violArrType)
    f(rowStructCol(st))
  }

  private def rowStructCol(st: StructType): Column =
    F.struct(st.fieldNames.toIndexedSeq.map(F.col): _*)

  /** `m/explain` over a DataFrame: adds an `errors` array column
    * (empty ⇔ valid). */
  def explainDF(ir: SchemaIR, df: DataFrame, outCol: String = "errors",
                exclude: Set[String] = Set.empty)(
      implicit ctx: Ctx = Ctx()): DataFrame =
    topMap(ir, ctx) match {
      case Some((m, ctx2)) =>
        val st = StructType(df.schema.fields
          .filterNot(f => (exclude + outCol)(f.name)))
        if (structMapDepth(m, st)(ctx2) > DeepNestErrorsThreshold) {
          requireUtcForHatch(df, st)
          df.withColumn(outCol, deepErrorsUdf(m, st, ctx2))
        } else
          df.withColumn(outCol, errorStructFields(m.entries, m.closed,
            m.rest, st, F.col, "", F.lit(""))(ctx2))
      case None =>
        val (row, st) = rowStruct(df, exclude + outCol)
        df.withColumn(outCol, errors(ir, row, st, "", F.lit("")))
    }

  /** The hatch renders timestamp values in UTC (`RowEval.JsonTsFmt`),
    * while the Column tier's `to_json` follows the session zone: under
    * any other zone the two tiers would disagree on violation values, so
    * a timestamp-bearing input fails fast instead. */
  private def requireUtcForHatch(df: DataFrame, st: StructType): Unit = {
    def hasTs(dt: DataType): Boolean = dt match {
      case TimestampType => true
      case s: StructType => s.fields.exists(f => hasTs(f.dataType))
      case ArrayType(e, _) => hasTs(e)
      case MapType(k, v, _) => hasTs(k) || hasTs(v)
      case _ => false
    }
    val conf = "spark.sql.session.timeZone"
    lazy val tz = df.sparkSession.conf.get(conf)
    require(!hasTs(st) || org.apache.spark.sql.catalyst.util.DateTimeUtils
        .getZoneId(tz).normalized() == java.time.ZoneOffset.UTC,
      s"deep-nest errors over a timestamp column render values in UTC; " +
        s"set $conf=UTC (it is '$tz')")
  }

  /** Peel validation-transparent wrappers down to a top-level `:map`,
    * threading registry scopes into the ctx — the shapes eligible for
    * the direct-column fast path above. */
  private def topMap(ir: SchemaIR, ctx: Ctx): Option[(SMap, Ctx)] =
    ir match {
      case m: SMap => Some((m, ctx))
      case SProps(_, c) => topMap(c, ctx)
      case SScoped(local, c, _) => topMap(c, ctx.copy(registry =
        Registry(ctx.registry.schemas ++ local, ctx.registry.maxDepth)))
      case _ => None
    }

  /** A child that is itself a struct-shaped `:map` (through props
    * wrappers only — scoped children keep their inline compile because
    * they carry their own registries). */
  /** Depth of the nested-conditional chain the compiled expression will
    * have — codegen's subexpression-elimination state is exponential in
    * it (fine to ~18 for valid, ~10 for errors; OOM at 30). Counts every
    * `:map`-over-struct level, DESCENDING through props/scoped/maybe
    * wrappers, and/or/orn/andn/multi branches, collections, tuples and
    * map-of values — a deep chain is a deep chain however it is wrapped.
    * Refs DEREFERENCE through the registry consuming the SAME shared
    * unroll budget valid()/errors() consume (one ctx.depth unit per
    * deref, whichever ref it is — see the SRef case of valid()), so the
    * estimate models the compiled conditional chain EXACTLY for direct
    * AND mutual recursion alike; counting a ref as a flat 1 let the
    * exponential-codegen OOM the hatch exists to prevent sneak past the
    * heuristic through one [:ref] to a deep chain, and a
    * self-reference-only multiply would still miss A→B→A cycles. The
    * budget also makes the traversal terminate without a seen-set —
    * the physical DataType bottoming out ends it sooner in practice. */
  private def structMapDepth(ir: SchemaIR, dt: DataType)(
      implicit ctx: Ctx): Int = ir match {
    case m: SMap => dt match {
      case st: StructType =>
        val kids = m.entries.flatMap(e => st.find(_.name == e.key)
          .map(f => structMapDepth(e.child, f.dataType)))
        1 + (if (kids.isEmpty) 0 else kids.max)
      case _ => 1
    }
    case SProps(_, c) => structMapDepth(c, dt)
    case SScoped(local, c, _) =>
      structMapDepth(c, dt)(ctx.copy(registry =
        Registry(ctx.registry.schemas ++ local, ctx.registry.maxDepth)))
    case SMaybe(c) => structMapDepth(c, dt)
    case SAnd(cs) => (0 +: cs.map(structMapDepth(_, dt))).max
    case SOr(cs) => (0 +: cs.map(structMapDepth(_, dt))).max
    case SOrn(bs) => (0 +: bs.map(b => structMapDepth(b._2, dt))).max
    case SAndn(bs) => (0 +: bs.map(b => structMapDepth(b._2, dt))).max
    case SMulti(_, bs, d) =>
      (0 +: (bs.map(_._2) ++ d).map(structMapDepth(_, dt))).max
    case SMultiExpr(_, _, _, bs, d) =>
      (0 +: (bs.map(_._2) ++ d).map(structMapDepth(_, dt))).max
    case SVector(c, _, _) => elemDepth(c, dt)
    case SSeqable(c, _, _) => elemDepth(c, dt)
    case SSet(c, _, _) => elemDepth(c, dt)
    case SEvery(c, _, _, _) => elemDepth(c, dt)
    case STuple(cs) => dt match {
      case st: StructType =>
        (0 +: cs.zip(st.fields).map { case (c, f) =>
          structMapDepth(c, f.dataType) }).max
      case ArrayType(et, _) =>
        (0 +: cs.map(structMapDepth(_, et))).max
      case _ => 0
    }
    case SMapOf(_, v, _, _) => dt match {
      case mt: MapType => structMapDepth(v, mt.valueType)
      case _ => 0
    }
    case SRef(name) =>
      // mirror valid()'s unroll: one shared budget unit per deref; at
      // exhaustion the compile emits lit(true) — depth 0
      if (ctx.depth <= 0) 0
      else ctx.registry.schemas.get(name) match {
        case Some(target) =>
          structMapDepth(target, dt)(ctx.copy(depth = ctx.depth - 1))
        case None => 1 // unresolvable ref compiles to a leaf check
      }
    case _ => 0
  }

  private def elemDepth(c: SchemaIR, dt: DataType)(
      implicit ctx: Ctx): Int = dt match {
    case ArrayType(et, _) => structMapDepth(c, et)
    case _ => 0
  }

  /** Nesting thresholds for the row-level-interpreter escape hatch in
    * validateDF/explainDF — codegen's conditional-branch subexpression
    * state is exponential in depth, and the errors expression (a CASE
    * chain per level) hits the wall earlier than the validity conjunct
    * (measured: valid fine to ~18, OOM at 30; errors 24 s at depth 12,
    * 131 s at 14). */
  private val DeepNestThreshold = 16
  private val DeepNestErrorsThreshold = 10

  /** Violation rows: one output row per error, keyed by `keyCols`
    * (the explode/"UDTF" shape of SURVEY §2.12). `keyCols` select the
    * OUTPUT identity columns; they are still validated like any other
    * column (declare them in the schema or list them in `exclude` when a
    * closed map must not see them). */
  /** `maskValue`: replace the violation's captured value with a mask
    * string — the engine-side dual of error.cljc's value masking
    * (232-244): at web scale, violation sinks must not replicate document
    * payloads (PII / storage blowup); keys + paths + error keys are
    * enough to triage. */
  def violationsDF(ir: SchemaIR, df: DataFrame, keyCols: Seq[String],
                   exclude: Set[String] = Set.empty,
                   maskValue: Option[String] = None)(
      implicit ctx: Ctx = Ctx()): DataFrame = {
    val withErrs = explainDF(ir, df, "__errs", exclude)
    // explode_OUTER + null-filter, NOT a size(__errs) > 0 pre-filter and
    // NOT a plain explode: both of those end with a size(<full errors
    // expression>) Filter below the projection — the explicit filter by
    // predicate pushdown, the plain explode by InferFiltersFromGenerate
    // re-deriving it — evaluating the whole errors expression twice per
    // input row (confirmed in the physical plan; guide §4.4's
    // duplication, for pure columns). No filter can be inferred from an
    // outer generate; the null-filter on the generated column drops the
    // one extra row an errorless input contributes, after the expression
    // ran once.
    val exploded = withErrs
      .select(keyCols.map(F.col) :+
        F.explode_outer(F.col("__errs")).as("e"): _*)
      .where(F.col("e").isNotNull)
    val valueCol = maskValue match {
      case Some(m) => F.when(F.col("e.value").isNotNull, F.lit(m))
        .otherwise(F.lit(null).cast(StringType))
      case None => F.col("e.value")
    }
    exploded.select(
      keyCols.map(F.col) ++ Seq(
        F.col("e.path").as("schema_path"),
        F.col("e.in").as("in_path"),
        F.col("e.error_key").as("error_key"),
        valueCol.as("value")): _*)
  }
}
