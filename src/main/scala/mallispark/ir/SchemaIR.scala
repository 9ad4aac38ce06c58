package mallispark.ir

import java.time.Instant

/** Schema intermediate representation.
  *
  * Mirrors the *semantics* of malli's schema types (reference:
  * /root/reference/src/malli/core.cljc — vector syntax parsed at 2567-2589,
  * type table at 820-832 and 2934-3038) as a Scala ADT. This is NOT a port:
  * malli compiles schemas to row-at-a-time Clojure closures; we compile this
  * IR to Catalyst `Column` expression trees (see mallispark.compile).
  *
  * Naming note: error keys follow malli's qualified keywords
  * (e.g. `::m/missing-key`, core.cljc:1306-1307) so explain output is
  * fixture-comparable with the reference test suite.
  */
sealed trait SchemaIR extends Serializable

object SchemaIR {

  /** Thrown when a deserialized function-carrying schema (`:custom`,
    * `:validate`) is evaluated without its function having been
    * re-registered. Deliberately NOT swallowed by the -safe-pred
    * exception→invalid rule: a lost fn must fail fast, never silently
    * reject (or accept) every value. */
  final class LostFnException(msg: String)
    extends IllegalArgumentException(msg)

  // ---- leaves ------------------------------------------------------------

  /** `:any` — always valid (core.cljc:821). */
  case object SAny extends SchemaIR

  /** `:nil` — value must be null (core.cljc:820). */
  case object SNil extends SchemaIR

  /** `:some` — value must be non-null (core.cljc:822). */
  case object SSome extends SchemaIR

  /** `:string` with optional `:min`/`:max` LENGTH bounds
    * (core.cljc:823, -min-max-pred 726-736). */
  final case class SString(min: Option[Int] = None, max: Option[Int] = None)
      extends SchemaIR

  /** `:int` / `int?` / `pos-int?` etc. with optional value bounds
    * (core.cljc:824, 2934-2939). 64-bit. */
  final case class SInt(min: Option[Long] = None, max: Option[Long] = None)
      extends SchemaIR

  /** `:double`/`:float`/`number?` with optional value bounds (core.cljc:825-826). */
  final case class SDouble(min: Option[Double] = None, max: Option[Double] = None)
      extends SchemaIR

  /** `:boolean` (core.cljc:827). */
  case object SBoolean extends SchemaIR

  /** `bytes?` predicate schema (core.cljc:2939) → BinaryType. */
  case object SBinary extends SchemaIR

  /** `:uuid` (core.cljc:832) — string + canonical UUID regex
    * (regex from transform.cljc:115-116). */
  case object SUuid extends SchemaIR

  /** The ident/char predicate leaves — `:keyword` / `:simple-keyword` /
    * `:qualified-keyword` / `:symbol` / `:simple-symbol` /
    * `:qualified-symbol` / `:char` (core.cljc:828-831; predicate table
    * 2934-2937). A Spark row carries no Keyword/Symbol/Character runtime
    * object, so the engine validates the canonical STRING form these
    * values take in a parquet column: ":name" / ":ns/name" for keywords,
    * "name" / "ns/name" for symbols (first char not ':' or a digit),
    * exactly one code point for :char. `kind` is one of the seven type
    * names above (sans ':'). `ns` is the `{:namespace ...}` property on
    * `:qualified-keyword` (core.cljc:753-755, 830
    * -qualified-keyword-pred): the value's namespace segment must equal
    * it exactly; other kinds ignore it (the reference wires the
    * property-pred only into -qualified-keyword-schema). */
  final case class SIdent(kind: String,
                          ns: Option[String] = None) extends SchemaIR

  /** `:time/instant` with `:min`/`:max` range
    * (experimental/time.cljc:85-94, range compare 48-66). */
  final case class STimestamp(min: Option[Instant] = None,
                              max: Option[Instant] = None) extends SchemaIR

  /** `:time/local-date` (experimental/time.cljc). */
  final case class SDate(min: Option[String] = None, max: Option[String] = None)
      extends SchemaIR

  /** The rest of the `:time/...` family (experimental/time.cljc:85-100):
    * `kind` ∈ duration | period | local-time | local-date-time |
    * offset-date-time | offset-time | zoned-date-time | zone-id |
    * zone-offset. Physical mapping (Spark-idiomatic): duration →
    * DayTimeIntervalType, period → YearMonthIntervalType (year/month
    * Periods only — Spark has no Y-M-D interval), local-date-time →
    * TimestampNTZType; the zoned/offset/id kinds validate canonical
    * ISO-8601 STRING forms (Spark has no physical type for them).
    * `min`/`max` are ISO-8601 strings of the kind ("PT10S", "P1Y2M",
    * "06:00:00", "2024-01-01T00:00:00"); range compare mirrors the
    * reference's -min-max-pred (time.cljc:48-66). */
  final case class STime(kind: String, min: Option[String] = None,
                         max: Option[String] = None) extends SchemaIR

  /** `:enum` — value ∈ literal set (core.cljc:1669-1714, membership 1688-1689). */
  final case class SEnum(values: Seq[Any]) extends SchemaIR

  /** `:re` — regex on strings. malli uses `re-find`, i.e. PARTIAL match
    * (core.cljc:1730-1731): the pattern is NOT auto-anchored. */
  final case class SRegex(pattern: String) extends SchemaIR

  /** Comparator schemas `:>` `:>=` `:<` `:<=` `:=` `:not=` against a literal
    * child (core.cljc:2947-2951). */
  final case class SCompare(op: String, value: Any) extends SchemaIR

  /** `:fn` — arbitrary predicate; exceptions → false (-safe-pred,
    * core.cljc:209, 1770-1817). Escape hatch: compiles to a Scala UDF
    * (non-codegen, flagged). `name` keys the violation. */
  final case class SFn(name: String, f: Any => Boolean) extends SchemaIR

  /** Custom leaf type — the `-simple-schema` extension point
    * (core.cljc:765-818): a NAMED leaf whose validator is supplied as a
    * codegen-friendly Column builder plus its row-level twin for the
    * RowEval duality interpreter. Unlike `SFn` (opaque UDF), the Column
    * side stays inside whole-stage codegen. The functions don't
    * serialize — Export carries the name only, like `SFn`. `name` is the
    * error key (e.g. ":user/even"). */
  final case class SCustom(name: String,
                           colPred: (org.apache.spark.sql.Column,
                             org.apache.spark.sql.types.DataType) =>
                             org.apache.spark.sql.Column,
                           rowPred: Any => Boolean) extends SchemaIR

  /** One custom error returned by a `:validate` function: `in` is the
    * value-path SUFFIX relative to the validated value (spliced after the
    * enclosing in-path), `errType` the error keyword driving humanize
    * lookup, `value` the offending sub-value already rendered to its
    * violation-row string form. */
  final case class ValidateErr(in: Seq[String], errType: String,
                               value: String)

  /** `:validate` — experimental error-RETURNING predicate
    * (experimental/validate.cljc:9-59): `f` returns Nil for a valid value
    * or the list of custom errors, each contributing its own error type
    * and in-path suffix to explain output (validate_test.cljc:7-107).
    * Validator = `f(v).isEmpty` under -safe-pred semantics (exception →
    * invalid); an explainer exception yields ONE error keyed
    * ":validate/error" (the reference splices `(:type (ex-data e))`,
    * nil for plain exceptions — humanize renders "unknown error" either
    * way). Like `SFn` the function is opaque (non-codegen UDF) and does
    * not serialize — Export carries `name` only and deserialization
    * fails fast like `SCustom`. */
  final case class SValidate(name: String,
                             f: Any => Seq[ValidateErr]) extends SchemaIR

  // ---- combinators -------------------------------------------------------

  /** `:maybe` — null or child (core.cljc:1819-1868). */
  final case class SMaybe(child: SchemaIR) extends SchemaIR

  /** `:and` (core.cljc:834-928). Explain reports every failing child with
    * its branch index in the schema path. */
  final case class SAnd(children: Seq[SchemaIR]) extends SchemaIR

  /** `:or` (core.cljc:1005-1051). Explain reports errors from ALL branches
    * when none match (see validation-test core_test.cljc:239-250). */
  final case class SOr(children: Seq[SchemaIR]) extends SchemaIR

  /** `:orn` — tagged union; parse emits Tag(name, value)
    * (core.cljc:1053-1114, tags 164-183). */
  final case class SOrn(branches: Seq[(String, SchemaIR)]) extends SchemaIR

  /** `:andn` — named conjunction (core.cljc:930-1003): validates like
    * `:and` over the branch children, explains each failing branch under
    * its TAG, parses to Tags({tag → parsed}) with every branch required,
    * unparses the left-most tag's value checked against the rest. */
  final case class SAndn(branches: Seq[(String, SchemaIR)]) extends SchemaIR

  /** `:not` (core.cljc:1116-1160). */
  final case class SNot(child: SchemaIR) extends SchemaIR

  /** One `:map` entry: key, optionality (`{:optional true}`), default
    * (`:default` prop, transform.cljc:492-528), child schema. */
  final case class Entry(key: String, child: SchemaIR,
                         optional: Boolean = false,
                         default: Option[Any] = None) extends Serializable

  /** `:map` — record; open by default, `{:closed true}` rejects extra keys
    * (core.cljc:1219-1363; closed 1264-1268/1315-1322). `rest` is the
    * `::m/default` rest-entry schema (core.cljc:586-587, 1237): undeclared
    * keys validate against it instead of being ignored (open) or rejected
    * (closed); closed and rest are mutually exclusive like the reference. */
  final case class SMap(entries: Seq[Entry], closed: Boolean = false,
                        rest: Option[SchemaIR] = None) extends SchemaIR

  /** `:map-of` with optional entry-count bounds (core.cljc:1365-1459, 1384). */
  final case class SMapOf(key: SchemaIR, value: SchemaIR,
                          min: Option[Int] = None, max: Option[Int] = None)
      extends SchemaIR

  /** `:vector`/`:sequential` with count bounds
    * (core.cljc:3034-3036, -collection-schema 1478-1591, limits 743). */
  final case class SVector(child: SchemaIR, min: Option[Int] = None,
                           max: Option[Int] = None) extends SchemaIR

  /** `:seqable` (core.cljc:3034-3036; core_test.cljc:3482) — like
    * `:sequential` but `seqable?`-gated, so a NULL value is VALID (in
    * Clojure `(seqable? nil)` is true: nil seqs to the empty sequence —
    * which also means the count bounds see nil as size 0). Elements are
    * fully checked like `:vector` (the reference's bounded window
    * applies only to UNCOUNTED lazy seqs, which have no ArrayType
    * analogue). */
  final case class SSeqable(child: SchemaIR, min: Option[Int] = None,
                            max: Option[Int] = None) extends SchemaIR

  /** `:set` — unique elements (core.cljc:3038); on ArrayType payloads
    * uniqueness is part of the check. */
  final case class SSet(child: SchemaIR, min: Option[Int] = None,
                        max: Option[Int] = None) extends SchemaIR

  /** `:every` — bounded check: only the first
    * max(min, max+1, coll-check-limit=101) elements are examined
    * (core.cljc:745-751, 1499-1522). */
  final case class SEvery(child: SchemaIR, min: Option[Int] = None,
                          max: Option[Int] = None, limit: Int = 101)
      extends SchemaIR

  /** `:tuple` — fixed-arity heterogeneous vector; size mismatch →
    * `::tuple-size` (core.cljc:1593-1667, 1626-1630). */
  final case class STuple(children: Seq[SchemaIR]) extends SchemaIR

  /** `:multi` — keyword dispatch on a map key; missing branch →
    * `::invalid-dispatch-value` (core.cljc:1870-1947, 1908-1914).
    * `default` is the `::m/default` branch (1890). */
  final case class SMulti(dispatchKey: String,
                          branches: Seq[(String, SchemaIR)],
                          default: Option[SchemaIR] = None) extends SchemaIR

  /** `:multi` with an ARBITRARY dispatch function (core.cljc:1876-1890
    * accepts any `:dispatch` fn, not just a keyword). Spark-first dual
    * representation: `dispatch` builds a Column expression over the value
    * (stays codegen'd — no UDF), `dispatchRow` is the row-level twin for
    * the RowEval duality interpreter. Like `SFn`, the functions don't
    * serialize — Export writes the name only. */
  final case class SMultiExpr(
      name: String,
      dispatch: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      dispatchRow: Any => String,
      branches: Seq[(String, SchemaIR)],
      default: Option[SchemaIR] = None) extends SchemaIR

  /** `:ref` — named reference into a registry (core.cljc:1963-2064).
    * Compiled by depth-bounded inline expansion (SURVEY §7 hard-part 1). */
  final case class SRef(name: String) extends SchemaIR

  /** `:schema` wrapper carrying a LOCAL `{:registry {...}}` property
    * (core.cljc:2066-2152; -property-registry 322-324): scopes named
    * schemas to this subtree, which makes RECURSIVE schemas
    * self-contained serializable data — `:ref`s inside resolve against
    * the local names (layered over the outer registry, local wins).
    * Compilation extends the Ctx registry for the child subtree only. */
  final case class SScoped(registry: Map[String, SchemaIR],
                           child: SchemaIR,
                           // true for an explicit `[:schema ...]` wrapper
                           // (a SPLICE BOUNDARY inside a seqex,
                           // core.cljc:2147-2150); false when the scope
                           // came from a `{:registry ...}` PROP on an
                           // arbitrary node (issue-451 syntax) — then the
                           // wrapper is pure registry plumbing and fully
                           // transparent (regex ops keep splicing, paths
                           // don't gain a level, forms render the prop
                           // on the node itself)
                           boundary: Boolean = true) extends SchemaIR

  /** Non-structural schema properties — the slice of malli's property map
    * that validation IGNORES but other interpreters read:
    *
    *  - `:gen/...` generator overrides (generator.cljc:455-476 `-create`
    *    precedence: return > elements > schema > default; then `:gen/fmap`
    *    wraps; `:gen/min`/`:gen/max` narrow bounds per `-min-max`,
    *    generator.cljc:78-87; `:gen/infinite?`/`:gen/NaN?` feed the double
    *    generator). Consumed by [[mallispark.gen.Generate]].
    *  - `:title` / `:description` / `:default` and namespaced
    *    `:json-schema/...` keys, merged into JSON-Schema/Swagger output
    *    (json_schema.cljc:39, 201-208). Consumed by [[Export]].
    *  - `:error/path` — redirect a humanized message to a child path
    *    (error.cljc:218-222). Consumed by [[mallispark.msg.Messages]].
    *
    * Values for `ret`/`elements`/`default`/`jsonSchema` are EDN-shaped:
    * String | Long | Double | Boolean | Seq[Any] | Map[String, Any]
    * (keyword strings keep their leading colon, like [[SEnum]] values). */
  final case class NodeProps(
      genReturn: Option[Any] = None,
      genElements: Option[Seq[Any]] = None,
      genFmap: Option[String] = None,
      genSchema: Option[SchemaIR] = None,
      genMin: Option[Double] = None,
      genMax: Option[Double] = None,
      genInfinite: Boolean = false,
      genNaN: Boolean = false,
      title: Option[String] = None,
      description: Option[String] = None,
      default: Option[Any] = None,
      jsonSchema: Seq[(String, Any)] = Nil,
      jsonSchemaFull: Option[Any] = None,
      swagger: Seq[(String, Any)] = Nil,
      swaggerFull: Option[Any] = None,
      errorMessage: Option[String] = None,
      errorPath: Option[Seq[String]] = None,
      decodeHints: Seq[(String, THint)] = Nil,
      encodeHints: Seq[(String, THint)] = Nil,
      // `:parse/transforming-child` on `:and` (core.cljc:846-860):
      // Long index selects the child whose parser shapes the result;
      // the keyword string ":none" forces the identity parser.
      parseTransformingChild: Option[Any] = None,
      // ARBITRARY non-structural props (malli allows any key in a props
      // map; util_test.cljc:1081-1107 update-entry-properties works over
      // such maps). EDN-shaped values, keyword-string keys WITH the
      // leading colon, declaration order preserved for deterministic
      // form rendering.
      extra: Seq[(String, Any)] = Nil,
      // true when these props sit in ENTRY position — `[:k {..} child]`
      // under :map / :orn / :catn / ... — rather than on the child schema
      // itself ([:k [:int {..}]]). malli keeps the two distinct (entry
      // props land on the ::m/val wrapper); semantically this wrapper
      // behaves identically either way, so the flag only steers FORM/AST
      // rendering position so round-trips are faithful. Never rendered
      // textually: position implies it on re-parse.
      entryLevel: Boolean = false) {
    def isEmpty: Boolean = this == NodeProps.empty
  }
  object NodeProps {
    val empty: NodeProps = NodeProps()

    /** Collapse two STACKED props wrappers into one map. The vector
      * syntax has a single props position per node, so nested wrappers
      * must render as their merge; the OUTER wrapper wins on key
      * conflicts (mu/update-properties layering — the newest write sits
      * outermost). Keyed sequences (extra, json-schema/swagger
      * passthrough, hints) dedupe by key/mode, outer first. */
    def merge(outer: NodeProps, inner: NodeProps): NodeProps = {
      def seqMerge[A](o: Seq[(String, A)], i: Seq[(String, A)]) =
        o ++ i.filterNot(e => o.exists(_._1 == e._1))
      NodeProps(
        genReturn = outer.genReturn.orElse(inner.genReturn),
        genElements = outer.genElements.orElse(inner.genElements),
        genFmap = outer.genFmap.orElse(inner.genFmap),
        genSchema = outer.genSchema.orElse(inner.genSchema),
        genMin = outer.genMin.orElse(inner.genMin),
        genMax = outer.genMax.orElse(inner.genMax),
        genInfinite = outer.genInfinite || inner.genInfinite,
        genNaN = outer.genNaN || inner.genNaN,
        title = outer.title.orElse(inner.title),
        description = outer.description.orElse(inner.description),
        default = outer.default.orElse(inner.default),
        jsonSchema = seqMerge(outer.jsonSchema, inner.jsonSchema),
        jsonSchemaFull = outer.jsonSchemaFull.orElse(inner.jsonSchemaFull),
        swagger = seqMerge(outer.swagger, inner.swagger),
        swaggerFull = outer.swaggerFull.orElse(inner.swaggerFull),
        errorMessage = outer.errorMessage.orElse(inner.errorMessage),
        errorPath = outer.errorPath.orElse(inner.errorPath),
        decodeHints = seqMerge(outer.decodeHints, inner.decodeHints),
        encodeHints = seqMerge(outer.encodeHints, inner.encodeHints),
        parseTransformingChild = outer.parseTransformingChild
          .orElse(inner.parseTransformingChild),
        extra = seqMerge(outer.extra, inner.extra),
        entryLevel = outer.entryLevel || inner.entryLevel)
    }
  }

  /** A schema-hinted transformation interceptor (`:decode/<name>` /
    * `:encode/<name>` props — reference core.cljc `-parent-children-
    * transformers`, fixtures transform_test.cljc:824-928): MiniEval fn
    * sources run around the built-in transformer. A plain fn value is
    * an `:enter` (runs before the node's own transform and children);
    * `:leave` runs after. */
  final case class THint(enter: Option[String] = None,
                         leave: Option[String] = None)

  /** A property-carrying wrapper around any schema. In malli properties
    * live in the schema's own map (`[:int {:gen/min 1}]` IS an `:int`);
    * here the structural fields (`:min`/`:max`/`:closed`/...) stay on the
    * typed nodes and the non-structural slice wraps. The wrapper is
    * TRANSPARENT to validation, typing and error paths — every semantic
    * matcher delegates to the child — and its `form`/`ast` rendering
    * splices the properties back into the child's property map, so a
    * round-trip through the EDN/JSON serializers is head-faithful. */
  final case class SProps(props: NodeProps, child: SchemaIR) extends SchemaIR

  // ---- declarative schema-algebra nodes (malli.util proxy schemas,
  //      util.cljc:394-418) — expand structurally before compilation, so
  //      SERIALIZED schemas can carry merge/union/select-keys ----

  /** `:merge` — right-biased entry merge of map schemas (util.cljc:394). */
  final case class SMergeOf(children: Seq[SchemaIR]) extends SchemaIR

  /** `:union` — colliding entries become `:or` (util.cljc:402). */
  final case class SUnionOf(children: Seq[SchemaIR]) extends SchemaIR

  /** `:select-keys` — projection of a map schema (util.cljc:410). */
  final case class SSelectKeysOf(child: SchemaIR, keys: Seq[String])
      extends SchemaIR

  // ---- sequence-regex (bounded forms; impl/regex.cljc) --------------------

  /** `:cat` — positional sequence (core.cljc:2968-3024). Bounded form:
    * size + element_at checks (SURVEY §2.9 tier 1). */
  final case class SCat(children: Seq[SchemaIR]) extends SchemaIR

  /** `:catn` — named positional sequence; parse → named struct. */
  final case class SCatn(entries: Seq[(String, SchemaIR)]) extends SchemaIR

  /** `:alt` over single elements (bounded form). */
  final case class SAlt(children: Seq[SchemaIR]) extends SchemaIR

  /** `:altn` — named alternation in regex position (core.cljc:2968-3024;
    * parse tags 164-183): matches like `:alt`, parses the winning branch
    * to Tag(tag, parsed), explains under the branch TAG. */
  final case class SAltn(entries: Seq[(String, SchemaIR)]) extends SchemaIR

  /** `:*` of a single child → forall (SURVEY §2.9 tier 2). */
  final case class SStar(child: SchemaIR) extends SchemaIR

  /** `:+` — one or more. */
  final case class SPlus(child: SchemaIR) extends SchemaIR

  /** `:?` — zero or one. */
  final case class SOpt(child: SchemaIR) extends SchemaIR

  /** `:repeat` with {:min :max} of a single child (impl/regex.cljc:348-458
    * general; here the bounded single-child form). */
  final case class SRepeat(child: SchemaIR, min: Int, max: Int) extends SchemaIR

  // ---- parser-info ---------------------------------------------------------

  /** parser-info (reference core.cljc ParserInfo, default extension
    * 109-124): `true` ⇔ parse is identity-on-valid ("simple parser").
    * Tagged nodes (:orn/:andn/:catn/:altn), :multi, and ALL seq-regex
    * ops are transforming (no -parser-info impl in the reference ⇒
    * falsy); :not is always simple (core.cljc:1157-1158) even over a
    * transforming child; :and delegates to its transforming child
    * (core.cljc:923-926); containers inherit from children; :every is
    * bounded ⇒ simple; :ref cycles read simple (core.cljc:2057-2062).
    * Cycles are identified by (name, RESOLVED schema) — a same-named ref
    * in a shadowing inner registry is a different ref, not a recursion
    * point (parser_test.cljc:214-259 shadowed-scope fixtures). */
  def simpleParser(ir: SchemaIR, reg: Registry = Registry.empty,
                   seen: Set[(String, SchemaIR)] = Set.empty): Boolean =
    ir match {
    case _: SOrn | _: SAndn | _: SMulti | _: SMultiExpr => false
    case _: SCat | _: SCatn | _: SAlt | _: SAltn |
         _: SStar | _: SPlus | _: SOpt | _: SRepeat => false
    case SProps(p, a: SAnd) =>
      andTransformingIdx(a.children, p, reg, seen)
        .forall(i => simpleParser(a.children(i), reg, seen))
    case SProps(_, c) => simpleParser(c, reg, seen)
    case SAnd(cs) =>
      andTransformingIdx(cs, NodeProps.empty, reg, seen)
        .forall(i => simpleParser(cs(i), reg, seen))
    case _: SNot | _: SEvery => true
    case SMaybe(c) => simpleParser(c, reg, seen)
    case SVector(c, _, _) => simpleParser(c, reg, seen)
    case SSet(c, _, _) => simpleParser(c, reg, seen)
    case SSeqable(c, _, _) => simpleParser(c, reg, seen)
    case SMapOf(k, v, _, _) =>
      simpleParser(k, reg, seen) && simpleParser(v, reg, seen)
    case SMap(entries, _, rest) =>
      entries.forall(e => simpleParser(e.child, reg, seen)) &&
        rest.forall(simpleParser(_, reg, seen))
    case STuple(cs) => cs.forall(simpleParser(_, reg, seen))
    case SOr(cs) => cs.forall(simpleParser(_, reg, seen))
    case SMergeOf(cs) => cs.forall(simpleParser(_, reg, seen))
    case SUnionOf(cs) => cs.forall(simpleParser(_, reg, seen))
    case SSelectKeysOf(c, _) => simpleParser(c, reg, seen)
    case SRef(name) =>
      reg.schemas.get(name) match {
        case None => true
        case Some(resolved) =>
          seen((name, resolved)) ||
            simpleParser(resolved, reg, seen + ((name, resolved)))
      }
    case SScoped(local, c, _) =>
      simpleParser(c, Registry(reg.schemas ++ local, reg.maxDepth), seen)
    case _ => true // leaves, :fn, :custom, :validate
  }

  /** The `:and` transforming-child index (core.cljc:846-860
    * `->transforming-parser-idx`): an explicit
    * `:parse/transforming-child` prop wins (`:none` ⇒ identity, an
    * index must be in range); otherwise the UNIQUE non-simple child —
    * two or more is the reference's
    * `::and-schema-multiple-transforming-parsers` error. */
  def andTransformingIdx(children: Seq[SchemaIR], props: NodeProps,
                         reg: Registry = Registry.empty,
                         seen: Set[(String, SchemaIR)] = Set.empty)
      : Option[Int] =
    props.parseTransformingChild match {
      case Some(":none") => None
      case Some(i: Long) if i >= 0 && i < children.length => Some(i.toInt)
      case Some(other) => throw new IllegalArgumentException(
        s":and invalid :parse/transforming-child $other " +
          s"(need an index < ${children.length} or :none)")
      case None =>
        val ts = children.zipWithIndex
          .collect { case (c, i) if !simpleParser(c, reg, seen) => i }
        if (ts.lengthCompare(1) > 0) throw new IllegalArgumentException(
          ":and has multiple transforming parsers (indices " +
            ts.mkString("[", " ", "]") +
            ") — pick one with :parse/transforming-child")
        ts.lastOption
    }

  // ---- registry -----------------------------------------------------------

  /** Immutable registry of named schemas (malli.registry fast/composite
    * registries, registry.cljc:17-59). Recursive refs unroll to `maxDepth`. */
  final case class Registry(schemas: Map[String, SchemaIR], maxDepth: Int = 8)
      extends Serializable {
    def apply(name: String): SchemaIR =
      schemas.getOrElse(name,
        throw new IllegalArgumentException(s"unknown schema ref: $name"))
    def +(kv: (String, SchemaIR)): Registry = copy(schemas = schemas + kv)
  }
  object Registry {
    val empty: Registry = Registry(Map.empty)
    /** composite-registry (registry.cljc:54-59): later registries win. */
    def composite(regs: Registry*): Registry =
      Registry(regs.map(_.schemas).reduceOption(_ ++ _).getOrElse(Map.empty),
        regs.map(_.maxDepth).maxOption.getOrElse(8))
  }

  /** mutable-registry (registry.cljc:61-69): thread-safe registration;
    * `snapshot` yields the immutable view a compilation uses — plans are
    * built against a POINT-IN-TIME registry (Catalyst plans are immutable
    * once built, so the var/dynamic reference semantics of the Clojure
    * original reduce to snapshot-at-compile here). */
  final class MutableRegistry(initial: Map[String, SchemaIR] = Map.empty) {
    private val ref =
      new java.util.concurrent.atomic.AtomicReference(initial)
    def register(name: String, s: SchemaIR): Unit = {
      ref.updateAndGet(m => m + (name -> s)); ()
    }
    def snapshot: Registry = Registry(ref.get)
  }

  /** lazy-registry (registry.cljc:81-95): schemas provided on first
    * reference, memoized; `force` materializes the requested names (plus
    * anything already resolved) into an immutable Registry for compile. */
  final class LazyRegistry(provider: String => Option[SchemaIR]) {
    private val cache =
      new java.util.concurrent.ConcurrentHashMap[String, SchemaIR]()
    def resolve(name: String): SchemaIR =
      cache.computeIfAbsent(name, n => provider(n).getOrElse(
        throw new IllegalArgumentException(s"lazy registry misses: $n")))
    def force(names: String*): Registry = {
      names.foreach(resolve)
      Registry(scala.jdk.CollectionConverters.MapHasAsScala(cache)
        .asScala.toMap)
    }
  }

  // ---- error keys (malli parity) ------------------------------------------

  object ErrorKeys {
    val MissingKey = "malli.core/missing-key"            // core.cljc:1306-1307
    val ExtraKey = "malli.core/extra-key"                // core.cljc:1315-1322
    val InvalidType = "malli.core/invalid-type"          // error.cljc defaults
    val Limits = "malli.core/limits"                     // count/length bounds
    val TupleSize = "malli.core/tuple-size"              // core.cljc:1636
    val InvalidDispatch = "malli.core/invalid-dispatch-value" // 1908-1914
    val DuplicateKey = "malli.core/duplicate-keys"       // core.cljc:551-556
    val EndOfInput = "malli.core/end-of-input"
    val InputRemaining = "malli.core/input-remaining"
  }

  /** `m/-infer` (core.cljc:243-245) in the engine's string-form value
    * universe: keyword literals are ":"-prefixed strings, so a
    * homogeneous ":"-prefixed set infers `:keyword` and other strings
    * infer `:string` (the reference's string?-first probe order is
    * otherwise preserved; symbols conflate with strings here, like
    * everywhere else in the string-form universe). Drives the
    * `:enum`/`:=` child-inferring transformers
    * (transform.cljc:236-248 `-infer-child-compiler`). */
  def inferLeaf(vs: Seq[Any]): Option[SchemaIR] =
    if (vs.isEmpty) None
    else if (vs.forall(v => v.isInstanceOf[String] &&
      v.asInstanceOf[String].startsWith(":"))) Some(SIdent("keyword"))
    else if (vs.forall(_.isInstanceOf[String])) Some(SString())
    else if (vs.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[Int]))
      Some(SInt())
    else if (vs.forall(v => v.isInstanceOf[Double] || v.isInstanceOf[Float]))
      Some(SDouble())
    else None

  /** Is this a sequence-regex operator node? Properties never change a
    * node's regex-ness (`[:cat {:gen/fmap ..} ..]` still splices) — peel
    * the SProps wrapper before testing. */
  def isRegexOp(ir: SchemaIR): Boolean = ir match {
    case _: SCat | _: SCatn | _: SStar | _: SPlus | _: SOpt | _: SRepeat => true
    case SProps(_, c) => isRegexOp(c)
    // registry-prop scope — transparent; [:schema ..] stays a boundary
    case SScoped(_, c, false) => isRegexOp(c)
    case _ => false
  }

  /** A regex op whose children are THEMSELVES regex ops (other than a
    * single-element :alt) needs backtracking — the bounded Column
    * compilation cannot express it (SURVEY §2.9 tier 3). */
  def isGeneralRegex(ir: SchemaIR): Boolean = {
    def nestedChildren(s: SchemaIR): Seq[SchemaIR] = s match {
      case SProps(_, c) => nestedChildren(c)
      case SScoped(_, c, false) => nestedChildren(c)
      case SCat(cs) => cs
      case SCatn(es) => es.map(_._2)
      case SAlt(cs) => cs
      case SAltn(es) => es.map(_._2)
      case SStar(c) => Seq(c)
      case SPlus(c) => Seq(c)
      case SOpt(c) => Seq(c)
      case SRepeat(c, _, _) => Seq(c)
      case _ => Seq.empty
    }
    def peel(s: SchemaIR): SchemaIR = s match {
      case SProps(_, c) => peel(c)
      case SScoped(_, c, false) => peel(c)
      case o => o
    }
    isRegexOp(ir) && nestedChildren(ir).map(peel).exists(c =>
      isRegexOp(c) || (c match {
        case SAlt(cs) => cs.exists(isRegexOp)
        case SAltn(es) => es.exists(e => isRegexOp(e._2))
        case _ => false
      }))
  }

  // ---- walking / lens (mu/get-in, m/walk; util.cljc:320-388, core 2628) ---

  /** Children of a node paired with their schema-path segment (malli `:path`
    * uses entry keys for maps and branch indices for and/or — see
    * core_test.cljc:239-250 where `[:and int? [:or ...]]` errors at [1 0]). */
  /** Structural one-level map over a node's children — every node kind
    * [[childrenWithPath]] lists children of (leaves pass through
    * untouched; `SScoped` maps the BODY only — callers that must walk the
    * local registry handle it themselves, like SchemaOps.mapMaps does). */
  def mapChildren(s: SchemaIR)(f: SchemaIR => SchemaIR): SchemaIR =
    s match {
      case SMaybe(c) => SMaybe(f(c))
      case SNot(c) => SNot(f(c))
      case SAnd(cs) => SAnd(cs.map(f))
      case SOr(cs) => SOr(cs.map(f))
      case SOrn(bs) => SOrn(bs.map { case (t, c) => t -> f(c) })
      case SAndn(bs) => SAndn(bs.map { case (t, c) => t -> f(c) })
      case m: SMap => m.copy(
        entries = m.entries.map(e => e.copy(child = f(e.child))),
        rest = m.rest.map(f))
      case SMapOf(k, v, mn, mx) => SMapOf(f(k), f(v), mn, mx)
      case SVector(c, mn, mx) => SVector(f(c), mn, mx)
      case SSeqable(c, mn, mx) => SSeqable(f(c), mn, mx)
      case SSet(c, mn, mx) => SSet(f(c), mn, mx)
      case SEvery(c, mn, mx, l) => SEvery(f(c), mn, mx, l)
      case STuple(cs) => STuple(cs.map(f))
      case SMulti(d, bs, df) =>
        SMulti(d, bs.map { case (t, c) => t -> f(c) }, df.map(f))
      case m: SMultiExpr => m.copy(
        branches = m.branches.map { case (t, c) => t -> f(c) },
        default = m.default.map(f))
      case SMergeOf(cs) => SMergeOf(cs.map(f))
      case SUnionOf(cs) => SUnionOf(cs.map(f))
      case SSelectKeysOf(c, ks) => SSelectKeysOf(f(c), ks)
      case SScoped(r, c, boundary) => SScoped(r, f(c), boundary)
      case SCat(cs) => SCat(cs.map(f))
      case SCatn(es) => SCatn(es.map { case (t, c) => t -> f(c) })
      case SAlt(cs) => SAlt(cs.map(f))
      case SAltn(es) => SAltn(es.map { case (t, c) => t -> f(c) })
      case SStar(c) => SStar(f(c))
      case SPlus(c) => SPlus(f(c))
      case SOpt(c) => SOpt(f(c))
      case SRepeat(c, mn, mx) => SRepeat(f(c), mn, mx)
      case SProps(p, c) => SProps(p, f(c))
      case leaf => leaf
    }

  def childrenWithPath(ir: SchemaIR): Seq[(String, SchemaIR)] = ir match {
    case SMaybe(c)      => Seq("0" -> c)
    case SNot(c)        => Seq("0" -> c)
    case SAnd(cs)       => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SOr(cs)        => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SOrn(bs)       => bs.map { case (t, c) => t -> c }
    case SAndn(bs)      => bs.map { case (t, c) => t -> c }
    case SMap(es, _, rest) => es.map(e => e.key -> e.child) ++
      rest.map("malli.core/default" -> _)
    case SMapOf(k, v, _, _) => Seq("0" -> k, "1" -> v)
    case SVector(c, _, _)   => Seq("0" -> c)
    case SSeqable(c, _, _)  => Seq("0" -> c)
    case SSet(c, _, _)      => Seq("0" -> c)
    case SEvery(c, _, _, _) => Seq("0" -> c)
    case STuple(cs)     => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SMulti(_, bs, d) =>
      bs.map { case (t, c) => t -> c } ++ d.map("malli.core/default" -> _)
    case SMultiExpr(_, _, _, bs, d) =>
      bs.map { case (t, c) => t -> c } ++ d.map("malli.core/default" -> _)
    case SMergeOf(cs)   => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SUnionOf(cs)   => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SSelectKeysOf(c, _) => Seq("0" -> c)
    case SCat(cs)       => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SCatn(es)      => es.map { case (t, c) => t -> c }
    case SAlt(cs)       => cs.zipWithIndex.map { case (c, i) => i.toString -> c }
    case SAltn(es)      => es.map { case (t, c) => t -> c }
    case SStar(c)       => Seq("0" -> c)
    case SPlus(c)       => Seq("0" -> c)
    case SOpt(c)        => Seq("0" -> c)
    case SRepeat(c, _, _) => Seq("0" -> c)
    // a registry-prop scope (boundary=false) is invisible to paths, like
    // SProps; only an explicit [:schema ...] wrapper adds the "0" level
    case SScoped(_, c, false) => childrenWithPath(c)
    case SScoped(_, c, _)  => Seq("0" -> c)
    // properties never add a path level in malli — navigate straight
    // through to the child's children (paths match the unwrapped schema)
    case SProps(_, c)   => childrenWithPath(c)
    case _              => Seq.empty
  }

  /** Postwalk fold (m/walk, core.cljc:2628-2641). */
  def fold[A](ir: SchemaIR, z: A)(f: (A, SchemaIR) => A): A = {
    val afterChildren = childrenWithPath(ir).foldLeft(z) {
      case (acc, (_, c)) => fold(c, acc)(f)
    }
    f(afterChildren, ir)
  }

  /** Schema navigation by path segments (mu/get-in, util.cljc:331-340). */
  def getIn(ir: SchemaIR, path: Seq[String]): Option[SchemaIR] =
    path.foldLeft(Option(ir)) { (cur, seg) =>
      cur.flatMap(s => childrenWithPath(s).collectFirst {
        case (p, c) if p == seg => c
      })
    }

  /** Vector-syntax form (m/form, core.cljc:2591-2596) — EDN-shaped like
    * the reference prints: bounded leaves wrap as `[:int {:min 1}]`,
    * string literals are quoted, so `Export.fromForm` can parse it back
    * (the edn.cljc round-trip dual). */
  def form(ir: SchemaIR): String = ir match {
    case SAny => ":any"
    case SNil => ":nil"
    case SSome => ":some"
    case SString(mn, mx) => leafForm(":string", bounds(mn, mx))
    case SInt(mn, mx) => leafForm(":int", bounds(mn, mx))
    case SDouble(mn, mx) => leafForm(":double", bounds(mn, mx))
    case SBoolean => ":boolean"
    case SBinary => ":bytes"
    case SUuid => ":uuid"
    case SIdent(kind, ns) =>
      ns.fold(s":$kind")(n => s"[:$kind {:namespace :$n}]")
    case STimestamp(mn, mx) =>
      leafForm(":time/instant",
        bounds(mn.map(i => q(i.toString)), mx.map(i => q(i.toString))))
    case SDate(mn, mx) => leafForm(":time/local-date", bounds(mn.map(q), mx.map(q)))
    case STime(kind, mn, mx) =>
      leafForm(s":time/$kind", bounds(mn.map(q), mx.map(q)))
    case SEnum(vs) => vs.map(lit).mkString("[:enum ", " ", "]")
    case SRegex(p) => s"[:re ${q(p)}]"
    case SCompare(op, v) => s"[:$op ${lit(v)}]"
    // a MiniEval source "(fn [x] ...)" prints QUOTED so the form
    // round-trips into a REAL function (sci.cljc's purpose); opaque
    // Scala closures keep the bare name-only rendering
    case SFn(n, _) =>
      if (mallispark.ir.MiniEval.isFnSource(n)) s"[:fn ${q(n)}]"
      else s"[:fn $n]"
    case SCustom(n, _, _) => s"[:custom $n]"
    case SValidate(n, _) => s"[:validate $n]"
    case SMaybe(c) => s"[:maybe ${form(c)}]"
    case SAnd(cs) => cs.map(form).mkString("[:and ", " ", "]")
    case SOr(cs) => cs.map(form).mkString("[:or ", " ", "]")
    case SOrn(bs) => bs.map { case (t, c) => taggedForm(s":$t", c) }
      .mkString("[:orn ", " ", "]")
    case SAndn(bs) => bs.map { case (t, c) => taggedForm(s":$t", c) }
      .mkString("[:andn ", " ", "]")
    case SNot(c) => s"[:not ${form(c)}]"
    case SMap(es, closed, rest) =>
      val props = if (closed) " {:closed true}" else ""
      val restStr = rest.map(r => s" [::default ${form(r)}]").getOrElse("")
      es.map { e =>
        // entry-level props ([:k {..} child]) live as an entryLevel
        // SProps directly under the entry; merge :optional in front
        val (ep, inner) = e.child match {
          case SProps(p, c) if p.entryLevel => (propsStr(p), c)
          case c => ("", c)
        }
        val eps = (if (e.optional) Seq(":optional true") else Nil) ++
          (if (ep.nonEmpty) Seq(ep) else Nil)
        val opt = if (eps.nonEmpty) eps.mkString(" {", " ", "}") else ""
        s"[:${e.key}$opt ${form(inner)}]"
      }.mkString(s"[:map$props ", " ", s"$restStr]")
    case SMapOf(k, v, _, _) => s"[:map-of ${form(k)} ${form(v)}]"
    case SVector(c, mn, mx) => s"[:vector${bounds(mn, mx)} ${form(c)}]"
    case SSeqable(c, mn, mx) => s"[:seqable${bounds(mn, mx)} ${form(c)}]"
    case SSet(c, mn, mx) => s"[:set${bounds(mn, mx)} ${form(c)}]"
    case SEvery(c, mn, mx, _) => s"[:every${bounds(mn, mx)} ${form(c)}]"
    case STuple(cs) => cs.map(form).mkString("[:tuple ", " ", "]")
    case SMulti(d, bs, _) => bs.map { case (t, c) => taggedForm(t, c) }
      .mkString(s"[:multi {:dispatch :$d} ", " ", "]")
    case SMultiExpr(n, _, _, bs, _) =>
      bs.map { case (t, c) => taggedForm(t, c) }
        .mkString(s"[:multi {:dispatch $n} ", " ", "]")
    case SRef(n) => s"[:ref $n]"
    case SScoped(reg, c, boundary) =>
      val entries = reg.toSeq.sortBy(_._1)
        .map { case (n, s) => s":$n ${form(s)}" }.mkString(" ")
      if (boundary) s"[:schema {:registry {$entries}} ${form(c)}]"
      // registry-prop scope renders the prop on the node itself
      // ([:map {:registry {..}} ...], issue-451 syntax)
      else spliceProps(form(c), s":registry {$entries}")
    case SMergeOf(cs) => cs.map(form).mkString("[:merge ", " ", "]")
    case SUnionOf(cs) => cs.map(form).mkString("[:union ", " ", "]")
    case SSelectKeysOf(c, ks) =>
      s"[:select-keys ${form(c)} [${ks.mkString(" ")}]]"
    case SCat(cs) => cs.map(form).mkString("[:cat ", " ", "]")
    case SCatn(es) => es.map { case (t, c) => taggedForm(s":$t", c) }
      .mkString("[:catn ", " ", "]")
    case SAlt(cs) => cs.map(form).mkString("[:alt ", " ", "]")
    case SAltn(es) => es.map { case (t, c) => taggedForm(s":$t", c) }
      .mkString("[:altn ", " ", "]")
    case SStar(c) => s"[:* ${form(c)}]"
    case SPlus(c) => s"[:+ ${form(c)}]"
    case SOpt(c) => s"[:? ${form(c)}]"
    case SRepeat(c, mn, mx) => s"[:repeat {:min $mn :max $mx} ${form(c)}]"
    // canonical nesting for rendering: a registry-prop scope sits OUTSIDE
    // other props (what fromForm produces) — re-nest before splicing so
    // the semantically-equal SProps(SScoped(..)) composition renders the
    // same prop order and the form fixpoint holds for both
    // stacked wrappers collapse to one props map (outer wins) — splicing
    // both would print duplicate keys, which EDN forbids and fromForm
    // cannot round-trip
    case SProps(p, SProps(p2, c)) =>
      form(SProps(NodeProps.merge(p, p2), c))
    case SProps(p, SScoped(l, c, false)) =>
      form(SScoped(l, SProps(p, c), boundary = false))
    case SProps(p, c) => spliceProps(form(c), propsStr(p))
  }

  /** Render a [[NodeProps]] as EDN prop-map ENTRIES (no braces) in a fixed
    * key order, so forms are deterministic and `Export.fromForm` can read
    * them back. */
  def propsStr(p: NodeProps): String = {
    def n(d: Double): String =
      if (d == d.toLong.toDouble) d.toLong.toString else d.toString
    (p.genReturn.map(v => s":gen/return ${ednLit(v)}").toSeq ++
     p.genElements.map(vs =>
       vs.map(ednLit).mkString(":gen/elements [", " ", "]")) ++
     p.genFmap.map(src => s":gen/fmap ${q(src)}") ++
     p.genSchema.map(s => s":gen/schema ${form(s)}") ++
     p.genMin.map(v => s":gen/min ${n(v)}") ++
     p.genMax.map(v => s":gen/max ${n(v)}") ++
     (if (p.genInfinite) Seq(":gen/infinite? true") else Nil) ++
     (if (p.genNaN) Seq(":gen/NaN? true") else Nil) ++
     p.title.map(t => s":title ${q(t)}") ++
     p.description.map(d => s":description ${q(d)}") ++
     p.default.map(d => s":default ${ednLit(d)}") ++
     p.jsonSchemaFull.map(v => s":json-schema ${ednLit(v)}") ++
     p.jsonSchema.map { case (k, v) => s":json-schema/$k ${ednLit(v)}" } ++
     p.swaggerFull.map(v => s":swagger ${ednLit(v)}") ++
     p.swagger.map { case (k, v) => s":swagger/$k ${ednLit(v)}" } ++
     p.errorMessage.map(m => s":error/message ${q(m)}") ++
     p.errorPath.map(segs =>
       segs.map(":" + _).mkString(":error/path [", " ", "]")) ++
     p.decodeHints.map { case (n, h) => s":decode/$n ${hintStr(h)}" } ++
     p.encodeHints.map { case (n, h) => s":encode/$n ${hintStr(h)}" } ++
     p.parseTransformingChild.map(v => s":parse/transforming-child ${ednLit(v)}") ++
     p.extra.map { case (k, v) => s"$k ${ednLit(v)}" }
    ).mkString(" ")
  }

  /** Canonical hint rendering: enter-only prints as the plain fn source
    * (the compact reference spelling); anything else as the
    * `{:enter .. :leave ..}` interceptor map. */
  private def hintStr(h: THint): String = h match {
    case THint(Some(e), None) => q(e)
    case THint(e, l) =>
      (e.map(s => s":enter ${q(s)}") ++ l.map(s => s":leave ${q(s)}"))
        .mkString("{", " ", "}")
  }

  /** EDN literal for property VALUES: keyword strings print bare, other
    * strings quoted; vectors/maps recurse (map keys must be keyword
    * strings — the form reader's prop-map constraint). */
  def ednLit(v: Any): String = v match {
    case s: String if s.startsWith(":") => s
    case s: String => q(s)
    case null => "nil"
    case xs: Seq[_] => xs.map(ednLit).mkString("[", " ", "]")
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1)
      .map { case (k, x) =>
        s"${if (k.startsWith(":")) k else ":" + k} ${ednLit(x)}" }
      .mkString("{", " ", "}")
    case other => String.valueOf(other)
  }

  /** One tagged entry/branch (`[:tag child]` of :orn/:catn/:altn/:andn,
    * `[tag child]` of :multi — caller passes the rendered tag). An
    * entryLevel [[SProps]] directly under the branch renders its props in
    * ENTRY position (`[:tag {..} child]`) like the reference's entry
    * syntax, instead of splicing them into the child's own prop map. */
  private def taggedForm(tag: String, c: SchemaIR): String = c match {
    case SProps(p, inner) if p.entryLevel =>
      s"[$tag {${propsStr(p)}} ${form(inner)}]"
    case _ => s"[$tag ${form(c)}]"
  }

  /** Splice extra prop-map entries into a rendered child form: bare leaf
    * keywords gain a bracket+map, an existing head prop map gains the
    * entries at its FRONT (no matching-brace scan needed), and headed
    * forms without a prop map gain one after the head. Relies on this
    * printer's own deterministic output shape. */
  private def spliceProps(cf: String, gp: String): String =
    if (gp.isEmpty) cf
    else if (!cf.startsWith("[")) s"[$cf {$gp}]"
    else {
      val sp = cf.indexOf(' ')
      if (sp < 0) s"${cf.dropRight(1)} {$gp}]"
      else if (cf.charAt(sp + 1) == '{')
        cf.substring(0, sp + 2) + gp + " " + cf.substring(sp + 2)
      else cf.substring(0, sp + 1) + "{" + gp + "} " + cf.substring(sp + 1)
    }

  private def bounds(mn: Option[_], mx: Option[_]): String =
    if (mn.isEmpty && mx.isEmpty) ""
    else s" {${mn.map(m => s":min $m").getOrElse("")}${
      if (mn.nonEmpty && mx.nonEmpty) " " else ""}${
      mx.map(m => s":max $m").getOrElse("")}}"

  /** Bounded leaves print bracketed (`[:int {:min 1}]`) like the
    * reference; boundless ones stay bare keywords. */
  private def leafForm(t: String, b: String): String =
    if (b.isEmpty) t else s"[$t$b]"

  /** EDN string literal. */
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    } + "\""

  /** EDN literal: strings quoted, numbers/booleans bare. */
  private def lit(v: Any): String = v match {
    case s: String => q(s)
    case other => String.valueOf(other)
  }
}
