package mallispark.eval

import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** Row-at-a-time reference interpreter over plain Scala values.
  *
  * This is the malli-shaped evaluator (closure-per-node, like malli's
  * core.cljc `-validator`/`-explainer`) kept for three purposes only:
  *   1. duality tests — the Catalyst compilation and this interpreter must
  *      agree on every fixture (SURVEY §5.3);
  *   2. the general sequence-regex escape hatch (nested/backtracking forms
  *      that the bounded Column compilation can't express — impl/regex.cljc
  *      semantics via a backtracking matcher, SURVEY §2.9 tier 3);
  *   3. `:fn` predicates inside UDFs.
  *
  * It is NOT the engine: production validation runs through
  * mallispark.compile.SchemaCompiler (whole-stage codegen).
  *
  * Each decision has one definition, which validate, explain, explain-data,
  * parse and unparse all call:
  *   - wrappers (`:ref` with its unroll budget, `:schema` scopes, props,
  *     `:merge`/`:union`/`:select-keys`) reach their node by [[Peel]]; a
  *     props or registry-prop scope around a regex op splices into its
  *     sequence by [[Splice]] (nullability, [[acceptsNull]], mirrors the
  *     compiler's twin instead: a budget-free `:ref`, and no present nil
  *     under the merge family);
  *   - every sequence-regex op by the one backtracking matcher
  *     [[matchAt]]: validate, [[reExplain]] (with the deepest-failure
  *     tracker) and unparse's re-check run it with `validate` at the
  *     leaves, [[reParse]] with `parseValue`; [[reUnparse]] flattens a tree
  *     through the same splices;
  *   - `:multi` (keyword or expression dispatch) by [[dispatch]];
  *   - any-of (`:or`/`:orn`, and `:alt`/`:altn` over one value) and all-of
  *     (`:and`/`:andn`) through the [[AnyOf]]/[[AllOf]] views;
  *   - the bounded collections (`:vector`/`:seqable`/`:set`/`:every`)
  *     through the [[Coll]] view — nil as the empty seqable by
  *     [[Bounded.nilVerdict]], the count bounds by [[within]], their
  *     errors (and the bounded-form repetitions') by [[collExplain]];
  *   - container parse and unparse by one child-wise [[walk]], which
  *     takes the direction's function (parse checks the whole container
  *     before the walk, unparse after it — [[wholeOk]]).
  * A new wrapper node needs only a [[Peel]] case; a new regex op a
  * [[matchAt]] case and its flattening in [[reUnparse]].
  */
object RowEval {

  final case class Err(path: Vector[String], in: Vector[String], key: String,
                       value: Any)

  /** Tagged parse-tree node — malli's Tag record (core.cljc:164-183):
    * `:altn` parses the winning branch to RTag(tag, parsed). */
  final case class RTag(tag: String, value: Any)

  /** The `Tags` record (core.cljc:175-183): `:catn`/`:andn` parse to
    * RTags(tag → parse), DISTINCT from a plain map — the reference makes
    * Tag/Tags first-class records exactly so `:map`'s parser/unparser
    * can reject them (core.cljc:1244 "prevent unparsing :catn/:orn/etc
    * parse results as maps", issues #1150/#1153); here the distinction
    * falls out of the type (asMap does not accept RTags). */
  final case class RTags(values: Map[String, Any])

  def validate(ir: SchemaIR, v: Any)(implicit reg: Registry = Registry.empty,
                                     depth: Int = 8): Boolean = ir match {
    case SAny => true
    case SNil => v == null
    case SSome => v != null
    case SString(mn, mx) => v match {
      // code points, not UTF-16 units — Spark's length() counts code
      // points, and duality with the compiled validator must hold for
      // supplementary characters (s.length would count an emoji as 2)
      case s: String =>
        val n = s.codePointCount(0, s.length)
        mn.forall(n >= _) && mx.forall(n <= _)
      case _ => false
    }
    case SInt(mn, mx) => v match {
      case n: Long => mn.forall(n >= _) && mx.forall(n <= _)
      case n: Int => mn.forall(n >= _) && mx.forall(n <= _)
      case n: Short => mn.forall(n >= _) && mx.forall(n <= _)
      case n: Byte => mn.forall(n >= _) && mx.forall(n <= _)
      case _ => false
    }
    case SDouble(mn, mx) => v match {
      case n: Double => mn.forall(n >= _) && mx.forall(n <= _)
      case n: Float => mn.forall(n >= _) && mx.forall(n <= _)
      case _ => false
    }
    case SBoolean => v.isInstanceOf[Boolean]
    case SBinary => v.isInstanceOf[Array[Byte]]
    case SUuid => v match {
      case s: String => s.matches(
        "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")
      case _ => false
    }
    case SIdent(kind, ns) => v match {
      case s: String =>
        val nsOk = ns.forall(n =>
          kind != "qualified-keyword" || s.startsWith(s":$n/"))
        nsOk &&
          (mallispark.compile.SchemaCompiler.IdentRes.forKind(kind) match {
            case Some(re) => s.matches(re.drop(1).dropRight(1))
            // :char — one code point (mirrors Spark length() semantics)
            case None => s.codePointCount(0, s.length) == 1
          })
      case _ => false
    }
    case STimestamp(mn, mx) =>
      val inst = v match {
        case t: java.sql.Timestamp => Some(t.toInstant)
        case t: java.time.Instant => Some(t)
        case _ => None
      }
      inst.exists(t => mn.forall(!t.isBefore(_)) && mx.forall(!t.isAfter(_)))
    case SDate(mn, mx) =>
      val d = v match {
        case x: java.sql.Date => Some(x.toLocalDate)
        case x: java.time.LocalDate => Some(x)
        case _ => None
      }
      d.exists(ld => mn.forall(m => !ld.isBefore(java.time.LocalDate.parse(m))) &&
        mx.forall(m => !ld.isAfter(java.time.LocalDate.parse(m))))
    case STime(kind, mn, mx) =>
      import java.time._
      import mallispark.compile.SchemaCompiler.TimeRes
      def re(p: String, s: Any): Boolean =
        s.isInstanceOf[String] && s.asInstanceOf[String].matches(p.drop(1).dropRight(1))
      kind match {
        case "duration" => v match {
          case d: Duration =>
            mn.forall(m => d.compareTo(Duration.parse(m)) >= 0) &&
              mx.forall(m => d.compareTo(Duration.parse(m)) <= 0)
          case _ => false
        }
        case "period" => v match {
          // YearMonthIntervalType order = total months (Spark parity;
          // the reference compares Y, M, D lexicographically —
          // time.cljc:33-46; day-carrying Periods are out of scope here)
          case p: Period =>
            mn.forall(m => p.toTotalMonths >= Period.parse(m).toTotalMonths) &&
              mx.forall(m => p.toTotalMonths <= Period.parse(m).toTotalMonths)
          case _ => false
        }
        case "local-date-time" => v match {
          case t: LocalDateTime =>
            mn.forall(m => !t.isBefore(LocalDateTime.parse(m))) &&
              mx.forall(m => !t.isAfter(LocalDateTime.parse(m)))
          case _ => false
        }
        case "local-time" =>
          re(TimeRes.localTime, v) && {
            val s = v.asInstanceOf[String]
            mn.forall(s >= _) && mx.forall(s <= _) // fixed-width lexicographic
          }
        case "offset-date-time" =>
          re(TimeRes.offsetDateTime, v) && {
            val t = OffsetDateTime.parse(v.asInstanceOf[String]).toInstant
            mn.forall(m => !t.isBefore(OffsetDateTime.parse(m).toInstant)) &&
              mx.forall(m => !t.isAfter(OffsetDateTime.parse(m).toInstant))
          }
        case "offset-time" => re(TimeRes.offsetTime, v)
        case "zoned-date-time" => re(TimeRes.zonedDateTime, v)
        case "zone-id" => re(TimeRes.zoneId, v)
        case "zone-offset" => re(TimeRes.zoneOffset, v)
        case _ => false
      }
    case SEnum(vs) => v != null && vs.exists(x => num(x) == num(v))
    case SRegex(p) => v match {
      // malli :re = re-find ⇒ partial match (core.cljc:1730-1731)
      case s: String => p.r.findFirstIn(s).isDefined
      case _ => false
    }
    case SCompare(op, cv) =>
      if (v == null) false
      else (asD(v), asD(cv)) match {
        case (Some(a), Some(b)) => op match {
          case ">" => a > b; case ">=" => a >= b; case "<" => a < b
          case "<=" => a <= b; case "=" => a == b; case "not=" => a != b
        }
        case _ => op match {
          case "=" => v == cv; case "not=" => v != cv
          case _ => false
        }
      }
    case SFn(_, f) => try f(v) catch { case _: Throwable => false }
    case SCustom(_, _, rp) => try rp(v) catch { case _: Throwable => false }
    case SValidate(_, f) =>
      try f(v).isEmpty catch {
        case e: SchemaIR.LostFnException => throw e
        case _: Throwable => false
      }
    case SMaybe(c) => v == null || validate(c, v)
    case AllOf(bs) => bs.forall(b => validate(b._2, v))
    // a standalone :alt over a single value behaves like :or (bounded-form
    // deviation, same as the Catalyst compilation — SURVEY §2.9)
    case AnyOf(bs) => bs.exists(b => validate(b._2, v))
    case SNot(c) => !validate(c, v)
    case SMap(entries, closed, rest) => asMap(v) match {
      case None => false
      case Some(m) =>
        val entriesOk = entries.forall { e =>
          m.get(e.key) match {
            case None | Some(null) =>
              // null value vs missing key: a null-tolerant child still
              // validates it (e.g. [:seqable {:min 1} ...] REJECTS nil)
              e.optional ||
                (acceptsNull(e.child) && validate(e.child, null))
            case Some(x) => validate(e.child, x)
          }
        }
        // Parquet conflates missing key and null value (SURVEY §7.4):
        // a null-valued extra field counts as absent, matching the
        // Catalyst side where extra-key fires only on non-null.
        val closedOk = !closed ||
          m.forall { case (k, x) => x == null || entries.exists(_.key == k) }
        // ::m/default rest-entry: present undeclared values must satisfy it
        val restOk = rest.forall(r => m.forall { case (k, x) =>
          x == null || entries.exists(_.key == k) || validate(r, x)
        })
        entriesOk && closedOk && restOk
    }
    case SMapOf(k, vv, mn, mx) => v match {
      case m: scala.collection.Map[_, _] =>
        within(m.size, mn, mx) &&
          m.forall { case (mk, mv) => validate(k, mk) && validate(vv, mv) }
      case _ => false
    }
    case Coll(b) => b.nilVerdict(v).getOrElse(asSeq(v).exists(xs =>
      within(xs.size, b.mn, b.mx) && b.distinctOk(xs) &&
        b.checked(xs).forall(validate(b.elem, _))))
    case STuple(cs) => asTupleSeq(v).exists(xs =>
      xs.size == cs.size && cs.zip(xs).forall { case (c, x) => validate(c, x) })
    case m @ (_: SMulti | _: SMultiExpr) =>
      dispatch(m, v).exists(_.exists { case (_, c) => validate(c, v) })
    case re @ (_: SCat | _: SCatn | _: SStar | _: SPlus | _: SOpt |
               _: SRepeat) => asSeq(v).exists(matches(re, _))
    case w => Peel.unapply(w).exists { case (c, r, d) => validate(c, v)(r, d) }
  }

  /** The wrapper peel: the node a validation-transparent wrapper stands
    * for, with the registry and `:ref` budget it evaluates under; None
    * for every other node. A `:ref` derefs through the registry, spending
    * one unit of the unroll budget — with the budget spent it stands for
    * `:any`; a `:schema` scope layers its local names over the registry
    * (local wins — -property-registry); props never change validation;
    * `:merge`/`:union`/`:select-keys` expand structurally
    * (util.cljc:394-418). */
  private object Peel {
    def unapply(ir: SchemaIR)(implicit reg: Registry,
                              depth: Int): Option[(SchemaIR, Registry, Int)] =
      ir match {
        case SRef(name) => Some(
          if (depth <= 0) (SAny, reg, depth) else (reg(name), reg, depth - 1))
        case SScoped(local, c, _) =>
          Some((c, Registry(reg.schemas ++ local, reg.maxDepth), depth))
        case SProps(_, c) => Some((c, reg, depth))
        case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
          Some((mallispark.ir.SchemaOps.expand(alg, reg), reg, depth))
        case _ => None
      }
  }

  /** Props or a registry-prop scope around a regex op (`:alt`/`:altn`
    * included) never break its splice into the enclosing sequence: the
    * op, under the scope's registry (an explicit `[:schema ..]` stays one
    * element). */
  private object Splice {
    def unapply(ir: SchemaIR)(implicit reg: Registry,
                              depth: Int): Option[(SchemaIR, Registry, Int)] =
      ir match {
        case _: SProps | _: SScoped if spliced(ir) => Peel.unapply(ir)
        case _ => None
      }
  }

  private def indexed(cs: Seq[SchemaIR]): Seq[(String, SchemaIR)] =
    cs.zipWithIndex.map { case (c, i) => (i.toString, c) }

  /** `:and`/`:andn` as (path segment, branch): every branch must hold. */
  private object AllOf {
    def unapply(ir: SchemaIR): Option[Seq[(String, SchemaIR)]] = ir match {
      case SAnd(cs) => Some(indexed(cs))
      case SAndn(bs) => Some(bs)
      case _ => None
    }
  }

  /** `:or`/`:orn`, and `:alt`/`:altn` over one value, as (path segment,
    * branch): one branch must hold. */
  private object AnyOf {
    def unapply(ir: SchemaIR): Option[Seq[(String, SchemaIR)]] = ir match {
      case SOr(cs) => Some(indexed(cs))
      case SOrn(bs) => Some(bs)
      case SAlt(cs) => Some(indexed(cs))
      case SAltn(es) => Some(es)
      case _ => None
    }
  }

  /** `:multi` dispatch, keyword or expression: None when the value cannot
    * dispatch (::invalid-type), Left(dispatch value) when neither a branch
    * nor a default takes it, else Right((tag, branch)) — the default
    * branch under the `malli.core/default` tag. A present-but-null
    * dispatch value routes to the DEFAULT like the compiled twin
    * (dv === lit(tag) is null there), never to a branch literally tagged
    * "null". */
  private def dispatch(ir: SchemaIR,
                       v: Any): Option[Either[String, (String, SchemaIR)]] = {
    val (dv, bs, default) = (ir: @unchecked) match {
      case SMulti(dk, bs, d) => (asMap(v).map(
        _.get(dk).flatMap(Option(_)).map(String.valueOf).orNull), bs, d)
      case SMultiExpr(_, _, dispRow, bs, d) => (Option(v).map(x =>
        try dispRow(x) catch { case _: Throwable => null }), bs, d)
    }
    dv.map(d => bs.find(_._1 == d)
      .orElse(default.map("malli.core/default" -> _)).toRight(d))
  }

  /** `mn <= n <= mx` for the bounds that are set. */
  private def within(n: Int, mn: Option[Int], mx: Option[Int]): Boolean =
    mn.forall(n >= _) && mx.forall(n <= _)

  /** A bounded collection: element schema, count bounds, nil as the empty
    * collection (`:seqable`, `:every`), distinct elements (`:set`) and the
    * window of elements checked (`:every`). */
  private final case class Bounded(elem: SchemaIR, mn: Option[Int],
                                   mx: Option[Int], nilEmpty: Boolean = false,
                                   distinct: Boolean = false,
                                   window: Option[Int] = None) {
    /** nil is a seqable VALUE that seqs empty (count 0): Some(verdict) for
      * a nil this collection takes as empty — only a :min bound rejects
      * it. */
    def nilVerdict(v: Any): Option[Boolean] =
      if (v == null && nilEmpty) Some(within(0, mn, None)) else None
    def distinctOk(xs: Seq[Any]): Boolean =
      !distinct || xs.distinct.size == xs.size
    def checked(xs: Seq[Any]): Seq[Any] = window.fold(xs)(xs.take)
  }

  /** The bounded collections as [[Bounded]]. */
  private object Coll {
    def unapply(ir: SchemaIR): Option[Bounded] = ir match {
      case SVector(c, mn, mx) => Some(Bounded(c, mn, mx))
      case SSeqable(c, mn, mx) => Some(Bounded(c, mn, mx, nilEmpty = true))
      case SSet(c, mn, mx) => Some(Bounded(c, mn, mx, distinct = true))
      case SEvery(c, mn, mx, limit) => Some(Bounded(c, mn, mx,
        nilEmpty = true, window = Some(everyLimit(mn, mx, limit))))
      case _ => None
    }
  }

  /** The repetition ops as [[Bounded]]: `:*` unbounded, `:+` at least
    * one, `:?` at most one, `:repeat` its own bounds. */
  private object Rep {
    def unapply(ir: SchemaIR): Option[Bounded] = ir match {
      case SStar(c) => Some(Bounded(c, None, None))
      case SPlus(c) => Some(Bounded(c, Some(1), None))
      case SOpt(c) => Some(Bounded(c, None, Some(1)))
      case SRepeat(c, mn, mx) => Some(Bounded(c, Some(mn), Some(mx)))
      case _ => None
    }
  }

  /** Deepest-failure tracker for the regex EXPLAINER (the analogue of the
    * reference's per-position error attribution, impl/regex.cljc:585-628):
    * across all backtracking attempts, remember the furthest input
    * position where a leaf check failed, and which leaf (with its schema
    * path and the registry it was matched under) failed there. */
  private final class DeepestFail {
    var pos: Int = -1
    var leaf: SchemaIR = _
    var path: Vector[String] = Vector.empty
    var reg: Registry = _
    def record(i: Int, s: SchemaIR, p: Vector[String], r: Registry): Unit =
      if (i > pos) { pos = i; leaf = s; path = p; reg = r }
  }

  /** Positional explain for GENERAL (tier-3) sequence-regex forms: run the
    * backtracking matcher with failure tracking; on mismatch report
    *  - the deepest failing leaf against its element (`in` = element
    *    index, `path` = nested schema path), or
    *  - ::end-of-input when the deepest failure was past the last element,
    *  - ::input-remaining when a prefix matched but input was left over.
    * Empty result ⇔ the sequence matches. */
  def reExplain(ir: SchemaIR, v: Any, path: Vector[String] = Vector.empty,
                in: Vector[String] = Vector.empty)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Vector[Err] = asSeq(v) match {
    case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
    case Some(xs) =>
      val df = new DeepestFail
      val ends = matchAt(ir, xs, 0, Vector.empty, parse = false, Some(df))
        .map(_._2).toList
      val maxEnd = if (ends.isEmpty) -1 else ends.max
      if (ends.contains(xs.length)) Vector.empty
      else if (df.pos >= xs.length)
        // the match needed MORE input than the sequence has
        Vector(Err(path, in, ErrorKeys.EndOfInput, xs.length))
      else if (df.pos >= 0 && df.pos >= maxEnd)
        // a leaf failed at the frontier: attribute positionally
        explain(df.leaf, xs(df.pos), path ++ df.path, in :+ df.pos.toString)(
          df.reg, depth)
      else if (ends.nonEmpty)
        // a prefix parses but input remains past the furthest end
        Vector(Err(path, in, ErrorKeys.InputRemaining, xs.length - maxEnd))
      else Vector(Err(path, in, ErrorKeys.EndOfInput, xs.length))
  }

  /** General sequence-regex PARSER (impl/regex.cljc:630-648 semantics):
    * the first full backtracking match builds the parse tree —
    * `:cat` → Vector of child parses, `:catn` → RTags(tag → parse),
    * `:alt` → matched branch's parse, `:*`/`:+`/`:repeat` → Vector of
    * iteration parses, `:?` → parse or null, leaf → the element.
    * None ⇔ no match (malli's ::m/invalid). */
  def reParse(ir: SchemaIR, v: Any)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Option[Any] =
    asSeq(v).flatMap(xs => matchAt(ir, xs, 0, Vector.empty, parse = true, None)
      .collectFirst { case (t, e) if e == xs.length => t })

  /** Does the sequence-regex `ir` match all of `xs`? */
  private def matches(ir: SchemaIR, xs: Seq[Any])(
      implicit reg: Registry, depth: Int): Boolean =
    matchAt(ir, xs, 0, Vector.empty, parse = false, None)
      .exists(_._2 == xs.length)

  /** The backtracking sequence-regex matcher (semantics of impl/regex.cljc;
    * the reference uses CPS+packrat — row-local inputs here are small, so
    * plain lazy backtracking suffices): every (parse tree, end position)
    * at which `ir` matches `xs` from `i`.
    *  - `parse` picks the leaf step and the order of a repetition's two
    *    ways on. Parsing runs `parseValue` on each element (parsers
    *    COMPOSE: a transforming leaf, e.g. an :orn inside a :cat, parses
    *    to its own tree) and tries one more item BEFORE stopping — the
    *    reference's ?- and *-parsers try the item parser first and park
    *    epsilon as the fallback (impl/regex.cljc:278-321), so the first
    *    full match IS the reference parse tree for ambiguous schemas like
    *    [:cat [:* :int] [:* :int]]. Matching runs `validate` (an element
    *    is its own tree) and tries stopping first: validate and unparse
    *    only ask whether some match ends at the input's end, and the
    *    explainer's deepest failure takes the first leaf that failed at
    *    the deepest position, so this order fixes the leaf it names.
    *  - `df`, when given, records the deepest failing leaf; `path` is that
    *    leaf's schema path, kept only then. */
  private def matchAt(ir: SchemaIR, xs: Seq[Any], i: Int,
                      path: Vector[String], parse: Boolean,
                      df: Option[DeepestFail])(
      implicit reg: Registry, depth: Int): LazyList[(Any, Int)] = {
    def sub(c: SchemaIR, at: Int, seg: String): LazyList[(Any, Int)] =
      matchAt(c, xs, at, if (df.isDefined) path :+ seg else path, parse, df)
    def either(more: => LazyList[(Any, Int)],
               stop: (Any, Int)): LazyList[(Any, Int)] =
      if (parse) more #::: LazyList(stop) else stop #:: more
    def cat(es: Seq[(String, SchemaIR)]): LazyList[(Vector[Any], Int)] =
      es.foldLeft(LazyList((Vector.empty[Any], i))) { case (ps, (seg, c)) =>
        ps.flatMap { case (ts, p) =>
          sub(c, p, seg).map { case (t, e) => (ts :+ t, e) } }
      }
    // the `:*` after one item; it matches its own items at `path` + "0",
    // so a `:+`'s 2nd+ iteration failures report no duplicated "0"
    def star(c: SchemaIR)(item: (Any, Int)): LazyList[(Any, Int)] =
      matchAt(SStar(c), xs, item._2, path, parse, df).map { case (ts, e) =>
        (item._1 +: ts.asInstanceOf[Vector[Any]], e) }
    ir match {
      case Splice(c, r, d) => matchAt(c, xs, i, path, parse, df)(r, d)
      case SCat(cs) => cat(indexed(cs))
      case SCatn(es) =>
        cat(es).map { case (ts, e) => (RTags(es.map(_._1).zip(ts).toMap), e) }
      case SAlt(cs) =>
        indexed(cs).to(LazyList).flatMap { case (seg, c) => sub(c, i, seg) }
      case SAltn(es) => es.to(LazyList).flatMap { case (tag, c) =>
        sub(c, i, tag).map { case (t, e) => (RTag(tag, t), e) }
      }
      case SStar(c) =>
        either(sub(c, i, "0").filter(_._2 > i).flatMap(star(c)),
          (Vector.empty, i))
      case SPlus(c) => sub(c, i, "0").flatMap(star(c))
      case SOpt(c) => either(sub(c, i, "0"), (null, i))
      case SRepeat(c, mn, mx) =>
        // reference repeat phases (impl/regex.cljc:348-420): compulsories
        // run the child WITHOUT a progress requirement (an epsilon match
        // still counts an iteration — [:repeat {:min 2} [:? :int]]
        // accepts []); optionals require remaining input AND progress
        // ("child consumes no elements → bail")
        def optionals(pos: Int, n: Int,
                      ts: Vector[Any]): LazyList[(Any, Int)] = {
          val more =
            if (n >= mx || pos >= xs.length) LazyList.empty
            else sub(c, pos, "0").filter(_._2 > pos)
              .flatMap { case (t, e) => optionals(e, n + 1, ts :+ t) }
          either(more, (ts, pos))
        }
        def compulsories(pos: Int, n: Int,
                         ts: Vector[Any]): LazyList[(Any, Int)] =
          if (n >= mn) optionals(pos, n, ts)
          else sub(c, pos, "0")
            .flatMap { case (t, e) => compulsories(e, n + 1, ts :+ t) }
        compulsories(i, 0, Vector.empty)
      case leaf =>
        val tree =
          if (i >= xs.length) None
          else if (parse) parseValue(leaf, xs(i))
          else Some(xs(i)).filter(validate(leaf, _))
        tree match {
          case Some(t) => LazyList((t, i + 1))
          case None => df.foreach(_.record(i, leaf, path, reg)); LazyList.empty
        }
    }
  }

  /** m/parse over the VALUE universe (core.cljc 2684-2714): the
    * recursive dual of `compile.Parse`'s Column tier, without its
    * one-static-type bound — heterogeneous `:orn`/`:multi` branch parse
    * shapes are fine here. `Some(tree)` ⇔ parsed; `None` ⇔ ::m/invalid.
    * Tag = [[RTag]], Tags = [[RTags]]; seq-regex roots delegate
    * to [[reParse]]. */
  def parseValue(ir: SchemaIR, v: Any)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Option[Any] =
    if (SchemaIR.simpleParser(ir, reg))
      if (validate(ir, v)) Some(v) else None
    else ir match {
      case SOrn(bs) =>
        // first branch whose PARSER succeeds names the tag
        bs.iterator.flatMap { case (tag, c) =>
          parseValue(c, v).map(t => RTag(tag, t)) }.nextOption()
      case SAndn(bs) =>
        // every branch parses x, result is a Tags record (core.cljc:954-965)
        val parsed = bs.map { case (tag, c) =>
          parseValue(c, v).map(tag -> _) }
        if (parsed.forall(_.isDefined)) Some(RTags(parsed.flatten.toMap))
        else None
      case SOr(cs) =>
        // first child whose PARSER succeeds wins (core.cljc:1018 ->parser
        // reduce) — children may transform (an :orn branch tags), so this
        // is not the validate-identity fast path
        cs.iterator.flatMap(c => parseValue(c, v)).nextOption()
      case m @ (_: SMulti | _: SMultiExpr) =>
        dispatch(m, v).flatMap(_.toOption).flatMap { case (tag, c) =>
          parseValue(c, v).map(RTag(tag, _)) }
      case SProps(p, a: SAnd) => parseAndValue(a.children, p, v)
      case SAnd(cs) => parseAndValue(cs, NodeProps.empty, v)
      case SMaybe(c) => if (v == null) Some(null) else parseValue(c, v)
      case c @ (Coll(_) | _: STuple | _: SMap | _: SMapOf) =>
        Some(v).filter(wholeOk(c, _)).flatMap(walk(c, _, parseValue(_, _)))
      case _: SCat | _: SCatn | _: SAlt | _: SAltn |
           _: SStar | _: SPlus | _: SOpt | _: SRepeat => reParse(ir, v)
      case Peel(c, r, d) => parseValue(c, v)(r, d)
      case other => if (validate(other, v)) Some(v) else None
    }

  private def parseAndValue(children: Seq[SchemaIR], props: NodeProps,
                            v: Any)(
      implicit reg: Registry, depth: Int): Option[Any] =
    SchemaIR.andTransformingIdx(children, props, reg) match {
      case _ if !children.forall(validate(_, v)) => None
      case None => Some(v)
      case Some(i) => parseValue(children(i), v)
    }

  /** Container parse and unparse, child-wise: `f` (the direction's
    * function) takes each child value to its image, keeping the
    * container's shape. None when `v` is not that container, breaks its
    * count bounds, or a child fails. */
  private def walk(ir: SchemaIR, v: Any,
                   f: (SchemaIR, Any) => Option[Any]): Option[Any] = {
    def all(ts: Seq[Option[Any]]): Option[Seq[Any]] =
      if (ts.forall(_.isDefined)) Some(ts.flatten) else None
    ir match {
      case Coll(b) => b.nilVerdict(v) match {
        case Some(ok) => if (ok) Some(null) else None
        case None => asSeq(v).filter(xs => within(xs.size, b.mn, b.mx))
          .flatMap(xs => all(xs.map(f(b.elem, _))))
      }
      case STuple(cs) => asTupleSeq(v).filter(_.size == cs.size)
        .flatMap(xs => all(cs.zip(xs).map(f.tupled)))
      case SMap(entries, _, _) => asMap(v).flatMap { m =>
        entries.foldLeft(Option(m)) { (acc, e) =>
          acc.flatMap { mm =>
            mm.get(e.key) match {
              case None | Some(null) => Some(mm) // optional/null-valid
              case Some(x) => f(e.child, x).map(t => mm + (e.key -> t))
            }
          }
        }
      }
      case SMapOf(k, vv, mn, mx) => v match {
        case m: scala.collection.Map[_, _] if within(m.size, mn, mx) =>
          m.foldLeft(Option(Map.empty[Any, Any])) { case (acc, (mk, mv)) =>
            acc.flatMap(out => for {
              fk <- f(k, mk)
              fv <- f(vv, mv)
            } yield out + (fk -> fv))
          }
        case _ => None
      }
      case _ => None
    }
  }

  /** The check a container makes on itself beyond its count bounds and
    * children — a `:set`'s distinct elements, a `:map`'s whole-map rules
    * — on the input when parsing, on the output when unparsing. */
  private def wholeOk(ir: SchemaIR, v: Any)(
      implicit reg: Registry, depth: Int): Boolean = ir match {
    case Coll(b) if b.distinct => asSeq(v).exists(b.distinctOk)
    case _: SMap => validate(ir, v)
    case _ => true
  }

  /** `m/old-parse-format` (core.cljc:185-196): rewrite a parse tree to
    * the pre-0.18 shape — Tag(key, value) becomes the 2-vector
    * [key value] and a Tags record becomes its plain tag→value map. */
  def oldParseFormat(parsed: Any): Any = parsed match {
    case RTag(k, v) => Vector(k, oldParseFormat(v))
    case RTags(values) =>
      values.map { case (k, v) => k -> oldParseFormat(v) }
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => k -> oldParseFormat(v) }.toMap
    case xs: scala.collection.Seq[_] => xs.toVector.map(oldParseFormat)
    case other => other
  }

  /** Inverse of [[parseValue]] (core.cljc:2700-2714). `None` ⇔ a tree
    * that no branch produced (::m/invalid). */
  def unparseValue(ir: SchemaIR, tree: Any)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Option[Any] =
    if (SchemaIR.simpleParser(ir, reg))
      // a simple parser is its own unparser: validate-or-invalid
      if (validate(ir, tree)) Some(tree) else None
    else ir match {
      case SOrn(bs) => tree match {
        case RTag(tag, t) =>
          bs.find(_._1 == tag).flatMap { case (_, c) => unparseValue(c, t) }
        case _ => None
      }
      case SAndn(bs) => tree match {
        // left-most child key PRESENT in the tags is unparsed, the other
        // values are ignored; every present key must be a child key and
        // the tags must be non-empty (core.cljc:966-984 — drop keys to
        // choose which conjunct's value drives the unparse).
        // DELIBERATE deviation from the reference CODE: we validate the
        // result against the SIBLING conjuncts, per the reference's own
        // doc comment ("the unparsed value is checked against the
        // remaining children") — its implementation re-checks the
        // driving child's validator instead (`((validators k) x)`,
        // core.cljc:979, an apparent typo for `(validators %)` that no
        // reference fixture pins). Sibling-checking keeps every andn
        // unparse output valid under the WHOLE schema.
        case RTags(values) if values.nonEmpty &&
            values.keysIterator.forall(k => bs.exists(_._1 == k)) =>
          bs.collectFirst { case (k, c) if values.contains(k) => (k, c) }
            .flatMap { case (k, c) =>
              unparseValue(c, values(k)).filter(x =>
                bs.forall { case (k2, c2) => k2 == k || validate(c2, x) })
            }
        case _ => None
      }
      case SOr(cs) =>
        // first child whose UNPARSER succeeds (same ->parser reduce as
        // parse); a tree shaped by a different branch fails cleanly
        cs.iterator.flatMap(c => misfit(unparseValue(c, tree))).nextOption()
      // the tag names the branch (the default's is malli.core/default)
      case m @ (_: SMulti | _: SMultiExpr) => tree match {
        case RTag(tag, t) => SchemaIR.childrenWithPath(m).find(_._1 == tag)
          .flatMap { case (_, c) => unparseValue(c, t) }
        case _ => None
      }
      case SProps(p, a: SAnd) => unparseAndValue(a.children, p, tree)
      case SAnd(cs) => unparseAndValue(cs, NodeProps.empty, tree)
      case SMaybe(c) =>
        if (tree == null) Some(null) else unparseValue(c, tree)
      case c @ (Coll(_) | _: STuple | _: SMap | _: SMapOf) =>
        walk(c, tree, unparseValue(_, _)).filter(wholeOk(c, _))
      case _: SCat | _: SCatn | _: SAlt | _: SAltn |
           _: SStar | _: SPlus | _: SOpt | _: SRepeat =>
        // flatten, then the regex must accept its own output; a tree of
        // the wrong shape (e.g. a plain value fed to :cat) is ::m/invalid,
        // not a crash
        misfit(Some(reUnparse(ir, tree)).filter(matches(ir, _)))
      case Peel(c, r, d) => unparseValue(c, tree)(r, d)
      case other => if (validate(other, tree)) Some(tree) else None
    }

  private def unparseAndValue(children: Seq[SchemaIR], props: NodeProps,
                              tree: Any)(
      implicit reg: Registry, depth: Int): Option[Any] =
    SchemaIR.andTransformingIdx(children, props, reg) match {
      case None => if (children.forall(validate(_, tree))) Some(tree)
        else None
      case Some(i) =>
        // unparse through the transforming child, then the SIBLINGS must
        // accept the result (the reference runs the remaining simple
        // unparsers, core.cljc:893-910)
        unparseValue(children(i), tree).filter(x =>
          children.indices.filter(_ != i)
            .forall(j => validate(children(j), x)))
    }

  /** A tree shaped by a different branch fails that branch's unparse
    * with one of these — ::m/invalid for that branch, not a crash. */
  private def misfit[A](unparse: => Option[A]): Option[A] =
    try unparse catch {
      case _: ClassCastException | _: MatchError |
           _: NoSuchElementException => None
    }

  /** Inverse of `reParse` (impl/regex.cljc unparser): flattens the parse
    * tree back to the element sequence. `:alt` branches of PLAIN schemas
    * unparse as the element itself (the bounded-form deviation documented
    * for the validator holds here too). Untagged `:alt` selects the
    * FIRST branch whose unparse round-trips (the reference's
    * alt-unparser tries children in order) — the head branch alone
    * would crash or mis-nest when plain and regex branches mix. */
  def reUnparse(ir: SchemaIR, tree: Any)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Seq[Any] = ir match {
    case Splice(c, r, d) => reUnparse(c, tree)(r, d)
    case SCat(cs) =>
      cs.zip(seqTree(tree, cs.size)).flatMap { case (c, t) => reUnparse(c, t) }
    case SCatn(es) =>
      // only a Tags record unparses (re/catn-unparser's tags? check,
      // core.cljc:3015) — a plain map is a different value universe
      val m = tree match { case RTags(values) => values }
      es.flatMap { case (tag, c) => reUnparse(c, m(tag)) }
    case SOpt(c) => if (tree == null) Seq.empty else reUnparse(c, tree)
    case Rep(b) => seqTree(tree).flatMap(reUnparse(b.elem, _))
    case SAlt(cs) =>
      // a spliced branch must ACCEPT what it produced — a tree from a
      // different branch typically survives the cast but fails the
      // re-match (e.g. a plain element fed to a :* branch)
      def attempt(c: SchemaIR): Option[Seq[Any]] = misfit(
        if (spliced(c)) Some(reUnparse(c, tree)).filter(matches(c, _))
        else unparseValue(c, tree).map(Seq(_)))
      cs.iterator.flatMap(attempt(_).iterator).nextOption()
        .getOrElse(Seq(tree))
    case SAltn(es) => tree match {
      // the RTag names the branch to unparse through (tags 164-183)
      case RTag(tag, t) =>
        es.find(_._1 == tag) match {
          case Some((_, c)) if spliced(c) => reUnparse(c, t)
          case Some((_, c)) => Seq(unparseValue(c, t).getOrElse(t))
          case None => Seq(t)
        }
      case other => Seq(other)
    }
    // plain element: unparsers COMPOSE like parsers — a transforming
    // plain child's tree unparses back to its element
    case plain => Seq(unparseValue(plain, tree).getOrElse(tree))
  }

  /** A repetition's (or, with its arity, a `:cat`'s) parse tree; any
    * other shape came from a different branch and is a MatchError. */
  private def seqTree(tree: Any, arity: Int = -1): Seq[Any] = tree match {
    case ts: scala.collection.Seq[_] if arity < 0 || ts.size == arity => ts.toSeq
    case _ => throw new MatchError(tree)
  }

  /** A branch the matcher splices into the sequence (a nested `:alt`
    * too, through props and registry-prop scopes), as opposed to one it
    * matches against a single element. */
  private def spliced(c: SchemaIR): Boolean = c match {
    case SProps(_, x) => spliced(x)
    case SScoped(_, x, false) => spliced(x)
    case _: SAlt | _: SAltn => true
    case _ => SchemaIR.isRegexOp(c)
  }

  /** One `mu/explain-data` error (util.cljc:224-233): the [[Err]] fields
    * plus the failing sub-schema rendered as its FORM — pure data, so the
    * whole result serializes (the reference's "useful when you need to
    * serialise errors"). `errType` carries the special `:malli.core/...`
    * discriminator when one applies (missing-key, invalid-type, limits,
    * ...); plain schema failures have none, like the reference. */
  final case class DataErr(path: Vector[String], in: Vector[String],
                           schema: String, value: Any,
                           errType: Option[String])

  /** `mu/explain-data` result: `{:schema form :value v :errors [...]}`. */
  final case class DataExplain(schema: String, value: Any,
                               errors: Vector[DataErr])

  /** mu/explain-data (util.cljc:209-238): like [[explain]] but schema
    * objects are replaced by their `m/form` strings. None when valid.
    * Missing/extra-key errors attach the PARENT map's form (the reference
    * attaches `this`, core.cljc:1306-1322); every other error attaches
    * the schema at its own path. */
  def explainData(ir: SchemaIR, v: Any)(
      implicit reg: Registry = Registry.empty,
      depth: Int = 8): Option[DataExplain] = {
    val errs = explain(ir, v)
    if (errs.isEmpty) None
    else Some(DataExplain(SchemaIR.form(ir), v, errs.map { e =>
      val schemaPath =
        if (e.key == ErrorKeys.MissingKey || e.key == ErrorKeys.ExtraKey)
          e.path.dropRight(1)
        else e.path
      val errType =
        if (e.key.startsWith("malli.core/")) Some(":" + e.key) else None
      DataErr(e.path, e.in, SchemaIR.form(resolveAt(ir, schemaPath.toList)),
        e.value, errType)
    }))
  }

  /** Walk `cur` along explain's schema-path addressing. Wrappers
    * ([[Peel]]: `:ref`s, `:schema` scopes, props and the declarative
    * proxies `:merge`/`:union`/`:select-keys`) resolve WITHOUT consuming a
    * segment, under the scope and `:ref` budget explain saw — mirroring
    * how [[explain]] emits paths against the expanded structure — except
    * that props the path ends at stay, so the form keeps them. A segment
    * with no static child is RUNTIME data (a MapType stray key under the
    * `::m/default` rest) and is skipped: the governing schema is already
    * in hand. */
  private def resolveAt(cur: SchemaIR, path: List[String])(
      implicit reg: Registry, depth: Int): SchemaIR = (cur, path) match {
    case (_: SProps, Nil) => cur
    case (Peel(c, r, d), _) => resolveAt(c, path)(r, d)
    case (_, Nil) => cur
    case (_, s :: rest) => resolveAt(SchemaIR.childrenWithPath(cur)
      .collectFirst { case (p, c) if p == s => c }.getOrElse(cur), rest)
  }

  /** Explain: same error shape the Catalyst side produces
    * (path/in/error_key), for duality assertions. */
  def explain(ir: SchemaIR, v: Any,
              path: Vector[String] = Vector.empty,
              in: Vector[String] = Vector.empty)(
      implicit reg: Registry = Registry.empty, depth: Int = 8): Vector[Err] = {
    def branches(bs: Seq[(String, SchemaIR)]): Vector[Err] =
      bs.toVector.flatMap { case (seg, c) => explain(c, v, path :+ seg, in) }
    ir match {
      case SAny => Vector.empty
      case SMaybe(c) =>
        if (v == null) Vector.empty else explain(c, v, path :+ "0", in)
      case AllOf(bs) => branches(bs)
      case AnyOf(bs) =>
        if (bs.exists(b => validate(b._2, v))) Vector.empty else branches(bs)
      case SNot(c) =>
        if (validate(c, v)) Vector(Err(path, in, ":not", v)) else Vector.empty
      case SMap(entries, closed, rest) => asMap(v) match {
        case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
        case Some(m) =>
          val entryErrs = entries.toVector.flatMap { e =>
            m.get(e.key) match {
              case None | Some(null) =>
                if (e.optional) Vector.empty
                else if (acceptsNull(e.child))
                  explain(e.child, null, path :+ e.key, in :+ e.key)
                else Vector(Err(path :+ e.key, in :+ e.key,
                  ErrorKeys.MissingKey, null))
              case Some(x) => explain(e.child, x, path :+ e.key, in :+ e.key)
            }
          }
          val extraErrs =
            if (!closed) Vector.empty
            else m.toVector.collect {
              case (k, x) if !entries.exists(_.key == k) && x != null =>
                Err(path :+ k, in :+ k, ErrorKeys.ExtraKey, x)
            }
          val restErrs = rest match {
            case None => Vector.empty
            case Some(r) => m.toVector.collect {
              case (k, x) if !entries.exists(_.key == k) && x != null =>
                explain(r, x, path :+ "malli.core/default" :+ k, in :+ k)
            }.flatten
          }
          entryErrs ++ extraErrs ++ restErrs
      }
      case Coll(b) => b.nilVerdict(v) match {
        case Some(_) => limits(0, b.mn, None, path, in)
        case None => collExplain(b, v, path, in)
      }
      case STuple(cs) => asTupleSeq(v) match {
        case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
        case Some(xs) =>
          if (xs.size != cs.size)
            Vector(Err(path, in, ErrorKeys.TupleSize, xs.size))
          else cs.zip(xs).zipWithIndex.toVector.flatMap { case ((c, x), i) =>
            explain(c, x, path :+ i.toString, in :+ i.toString)
          }
      }
      case m @ (_: SMulti | _: SMultiExpr) => dispatch(m, v) match {
        case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
        case Some(Left(dv)) =>
          Vector(Err(path, in, ErrorKeys.InvalidDispatch, dv))
        case Some(Right((tag, c))) => explain(c, v, path :+ tag, in)
      }
      case SMapOf(k, vv, mn, mx) => v match {
        case m: scala.collection.Map[_, _] =>
          limits(m.size, mn, mx, path, in) ++ m.toVector.flatMap {
            case (mk, mv) =>
              explain(k, mk, path :+ "0", in :+ String.valueOf(mk)) ++
                explain(vv, mv, path :+ "1", in :+ String.valueOf(mk))
          }
        case _ => Vector(Err(path, in, ErrorKeys.InvalidType, v))
      }
      case Peel(c, r, d) => explain(c, v, path, in)(r, d)
      // general (tier-3) forms: positional backtracking explainer —
      // mirrors the compiled UDF path exactly (same code)
      case re if SchemaIR.isGeneralRegex(re) => reExplain(re, v, path, in)
      // bounded-form regex explains — mirror the Catalyst compilation
      case SCat(cs) => catExplain(indexed(cs), v, path, in)
      case SCatn(es) => catExplain(es, v, path, in)
      case Rep(b) => collExplain(b, v, path, in)
      // :validate splices each fn-returned error (type + in-suffix);
      // exception → one ":validate/error" row (validate.cljc:31-37)
      case SValidate(_, f) =>
        try f(v).toVector.map(e =>
          Err(path, in ++ e.in, e.errType, e.value))
        catch {
          case e: SchemaIR.LostFnException => throw e
          case _: Throwable =>
            Vector(Err(path, in, ":validate/error", v))
        }
      case leaf =>
        if (validate(leaf, v)) Vector.empty
        else Vector(Err(path, in, leafKey(leaf), v))
    }
  }

  /** ::limits when `n` breaks the count bounds. */
  private def limits(n: Int, mn: Option[Int], mx: Option[Int],
                     path: Vector[String], in: Vector[String]): Vector[Err] =
    if (within(n, mn, mx)) Vector.empty
    else Vector(Err(path, in, ErrorKeys.Limits, n))

  private def collExplain(b: Bounded, v: Any, path: Vector[String],
                          in: Vector[String])(
      implicit reg: Registry, depth: Int): Vector[Err] = asSeq(v) match {
    case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
    case Some(xs) =>
      val dup =
        if (b.distinctOk(xs)) Vector.empty
        else Vector(Err(path, in, ErrorKeys.DuplicateKey, v))
      limits(xs.size, b.mn, b.mx, path, in) ++ dup ++
        b.checked(xs).zipWithIndex.toVector.flatMap { case (x, i) =>
          explain(b.elem, x, path :+ "0", in :+ i.toString)
        }
  }

  private def catExplain(es: Seq[(String, SchemaIR)], v: Any,
                         path: Vector[String], in: Vector[String])(
      implicit reg: Registry, depth: Int): Vector[Err] = asSeq(v) match {
    case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
    case Some(xs) =>
      if (xs.size < es.size) Vector(Err(path, in, ErrorKeys.EndOfInput, xs.size))
      else if (xs.size > es.size)
        Vector(Err(path, in, ErrorKeys.InputRemaining, xs.size))
      else es.zip(xs).zipWithIndex.toVector.flatMap { case (((tag, c), x), i) =>
        explain(c, x, path :+ tag, in :+ i.toString)
      }
  }
  private[mallispark] def leafKey(ir: SchemaIR): String = ir match {
    case SProps(_, c) => leafKey(c)
    case SNil => ":nil"
    case SSome => ":some"
    case _: SString => ":string"
    case _: SInt => ":int"
    case _: SDouble => ":double"
    case SBoolean => ":boolean"
    case SBinary => ":bytes"
    case SUuid => ":uuid"
    case SIdent(kind, _) => s":$kind"
    case _: STimestamp => ":time/instant"
    case _: SDate => ":time/local-date"
    case STime(kind, _, _) => s":time/$kind"
    case _: SEnum => ":enum"
    case _: SRegex => ":re"
    case SCompare(op, _) => s":$op"
    case SFn(n, _) => s":fn/$n"
    case SCustom(n, _, _) => n
    case SValidate(n, _) => s":validate/$n"
    case other => SchemaIR.form(other)
  }

  /** malli's :every window: max(min, max+1, limit) — core.cljc:745-751. */
  private def everyLimit(mn: Option[Int], mx: Option[Int], limit: Int): Int =
    Seq(Some(limit), mn, mx.map(_ + 1)).flatten.max

  /** Does the schema accept a null VALUE (mirror of the compiler's rule). */
  private def acceptsNull(ir: SchemaIR,
                          seen: Set[(String, SchemaIR)] = Set.empty)(
      implicit reg: Registry): Boolean = ir match {
    case SAny | SNil | _: SMaybe => true
    // nil is a seqable VALUE: present-nil, never missing-key (the child
    // still validates it — :min bounds see size 0)
    case _: SSeqable | _: SEvery => true
    case SOr(cs) => cs.exists(acceptsNull(_, seen))
    case SOrn(bs) => bs.exists(b => acceptsNull(b._2, seen))
    case SAnd(cs) => cs.forall(acceptsNull(_, seen))
    case SAndn(bs) => bs.forall(b => acceptsNull(b._2, seen))
    // props/scopes never change nullability — peel (mirrors the compiler)
    case SProps(_, c) => acceptsNull(c, seen)
    case SScoped(local, c, _) =>
      acceptsNull(c, seen)(Registry(reg.schemas ++ local, reg.maxDepth))
    // a ref derefs (a [:ref ...→ :maybe] under a required key accepts a
    // present-nil); cycle-guarded on the RESOLVED (name, target) like
    // simpleParser, so shadowed same-name refs are not false cycles
    case SRef(n) => reg.schemas.get(n).exists(t =>
      !seen((n, t)) && acceptsNull(t, seen + ((n, t))))
    case _ => false
  }

  private def asD(v: Any): Option[Double] = v match {
    case n: Long => Some(n.toDouble)
    case n: Int => Some(n.toDouble)
    case n: Short => Some(n.toDouble)
    case n: Byte => Some(n.toDouble)
    case n: Double => Some(n)
    case n: Float => Some(n.toDouble)
    case _ => None
  }

  private def num(v: Any): Any = v match {
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case f: Float => f.toDouble
    case x => x
  }

  /** Deterministic string form of an error VALUE for the UDF tiers —
    * mirrors the Column tier's valueStr shape where expressible:
    * binary → base64, containers → compact JSON, timestamps → the SQL
    * cast format. `String.valueOf` on an Array would print a JVM
    * identity hash (different every run — breaks cross-engine
    * determinism), so every sink of interpreter errors routes here. */
  def errValueString(v: Any): String = v match {
    case null => null
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case s: String => s // leaf position: bare, like cast-to-string
    case t: java.sql.Timestamp =>
      val s = t.toString // "yyyy-MM-dd HH:mm:ss.fff…"
      if (s.endsWith(".0")) s.dropRight(2) else s
    case r: org.apache.spark.sql.Row => jsonish(r)
    case m: scala.collection.Map[_, _] => jsonish(m)
    case xs: scala.collection.Seq[_] => jsonish(xs)
    case a: Array[_] => jsonish(a.toSeq)
    case x => String.valueOf(x)
  }

  private def jsonish(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    case b: Array[Byte] =>
      "\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
    case r: org.apache.spark.sql.Row if r.schema != null =>
      // to_json (the Column tier's valueStr) DROPS null struct fields by
      // default — emit the same shape so hatch-tier violation values are
      // byte-identical to the Column tier's
      r.schema.fieldNames.zip(r.toSeq)
        .filter(_._2 != null)
        .map { case (k, x) => "\"" + k + "\":" + jsonish(x) }
        .mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + String.valueOf(k) + "\":" + jsonish(x) }
        .mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] =>
      xs.map(jsonish).mkString("[", ",", "]")
    case a: Array[_] => jsonish(a.toSeq)
    // to_json renders container timestamps as ISO-8601 with exactly 3
    // fraction digits and the session-zone offset (engine-wide UTC →
    // "Z"), NOT the SQL-cast form errValueString uses for top-level
    // scalars — match it so hatch-tier violation values are
    // byte-identical to the Column tier's (NTZ values arrive as
    // LocalDateTime and render without a zone)
    case t: java.sql.Timestamp => "\"" + JsonTsFmt.format(t.toInstant) + "\""
    case i: java.time.Instant => "\"" + JsonTsFmt.format(i) + "\""
    case l: java.time.LocalDateTime => "\"" + JsonNtzFmt.format(l) + "\""
    // to_json quotes dates as ISO yyyy-MM-dd; String.valueOf would print
    // them UNquoted (java.sql.Date.toString / LocalDate.toString are
    // already the ISO form)
    case d: java.sql.Date => "\"" + d.toString + "\""
    case d: java.time.LocalDate => "\"" + d.toString + "\""
    case x => String.valueOf(x)
  }

  private val JsonTsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
    .withZone(java.time.ZoneOffset.UTC)
  private val JsonNtzFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS")

  private def asMap(v: Any): Option[Map[String, Any]] = v match {
    case m: scala.collection.Map[_, _] =>
      Some(m.toMap.map { case (k, x) => String.valueOf(k) -> (x: Any) })
    case r: org.apache.spark.sql.Row if r.schema != null =>
      Some(r.schema.fieldNames.zip(r.toSeq).toMap)
    case _ => None
  }

  // NB `Seq`/`Map` unqualified are the IMMUTABLE aliases in Scala 2.13 —
  // Spark's Row.getSeq / collected arrays are mutable.ArraySeq, which a
  // bare `case s: Seq[_]` silently rejects (caught by the random-schema
  // duality property). Match the collection roots.
  private def asSeq(v: Any): Option[Seq[Any]] = v match {
    case s: scala.collection.Seq[_] => Some(s.toSeq)
    case a: Array[_] => Some(a.toSeq)
    case s: scala.collection.Set[_] => Some(s.toSeq)
    case _ => None
  }

  /** Tuples additionally accept a struct Row positionally — the engine's
    * PHYSICAL form of a heterogeneous tuple (ANSI `array(a, b)` would
    * runtime-cast mixed types, so the compiler and generator use structs;
    * the Catalyst STuple branch matches StructType the same way). Only
    * tuples widen like this: a Row is NOT a :vector/:set value. */
  private def asTupleSeq(v: Any): Option[Seq[Any]] = v match {
    case r: org.apache.spark.sql.Row => Some(r.toSeq)
    case other => asSeq(other)
  }
}
