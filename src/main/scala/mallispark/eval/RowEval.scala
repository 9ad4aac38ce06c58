package mallispark.eval

import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** Row-at-a-time reference interpreter over plain Scala values.
  *
  * This is the malli-shaped evaluator (closure-per-node, like
  * /root/reference/src/malli/core.cljc `-validator`/`-explainer`) kept for
  * three purposes only:
  *   1. duality tests — the Catalyst compilation and this interpreter must
  *      agree on every fixture (SURVEY §5.3);
  *   2. the general sequence-regex escape hatch (nested/backtracking forms
  *      that the bounded Column compilation can't express — impl/regex.cljc
  *      semantics via a backtracking matcher, SURVEY §2.9 tier 3);
  *   3. `:fn` predicates inside UDFs.
  *
  * It is NOT the engine: production validation runs through
  * mallispark.compile.SchemaCompiler (whole-stage codegen).
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
    case SAnd(cs) => cs.forall(validate(_, v))
    case SOr(cs) => cs.exists(validate(_, v))
    case SOrn(bs) => bs.exists(b => validate(b._2, v))
    case SAndn(bs) => bs.forall(b => validate(b._2, v))
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
        mn.forall(m.size >= _) && mx.forall(m.size <= _) &&
          m.forall { case (mk, mv) => validate(k, mk) && validate(vv, mv) }
      case _ => false
    }
    case SVector(c, mn, mx) => asSeq(v).exists(xs =>
      mn.forall(xs.size >= _) && mx.forall(xs.size <= _) &&
        xs.forall(validate(c, _)))
    // :seqable — nil is seqable and seqs empty (count 0)
    case SSeqable(c, mn, mx) =>
      if (v == null) mn.forall(_ <= 0)
      else asSeq(v).exists(xs =>
        mn.forall(xs.size >= _) && mx.forall(xs.size <= _) &&
          xs.forall(validate(c, _)))
    case SSet(c, mn, mx) => asSeq(v).exists(xs =>
      mn.forall(xs.size >= _) && mx.forall(xs.size <= _) &&
        xs.distinct.size == xs.size && xs.forall(validate(c, _)))
    case SEvery(c, mn, mx, limit) =>
      if (v == null) mn.forall(_ <= 0) // nil is a valid empty seqable
      else asSeq(v).exists(xs =>
        mn.forall(xs.size >= _) && mx.forall(xs.size <= _) &&
          xs.take(everyLimit(mn, mx, limit)).forall(validate(c, _)))
    case STuple(cs) => asTupleSeq(v).exists(xs =>
      xs.size == cs.size && cs.zip(xs).forall { case (c, x) => validate(c, x) })
    case SMulti(dk, bs, default) => asMap(v) match {
      case None => false
      case Some(m) =>
        // a present-but-null dispatch value routes to the DEFAULT branch
        // like the compiled twin (dv === lit(tag) is null there) — never
        // to a branch literally tagged "null"
        val dv = m.get(dk).flatMap(Option(_)).map(String.valueOf).orNull
        bs.find(_._1 == dv) match {
          case Some((_, c)) => validate(c, v)
          case None => default.exists(validate(_, v))
        }
    }
    case SMultiExpr(_, _, dispRow, bs, default) =>
      if (v == null) false
      else {
        val dv = try dispRow(v) catch { case _: Throwable => null }
        bs.find(_._1 == dv) match {
          case Some((_, c)) => validate(c, v)
          case None => default.exists(validate(_, v))
        }
      }
    case SRef(name) =>
      if (depth <= 0) true
      else validate(reg(name), v)(reg, depth - 1)
    case SScoped(local, c, _) =>
      validate(c, v)(Registry(reg.schemas ++ local, reg.maxDepth), depth)
    case SProps(_, c) => validate(c, v)
    case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
      validate(mallispark.ir.SchemaOps.expand(alg, reg), v)
    // standalone :alt over a single value behaves like :or (bounded-form
    // deviation, same as the Catalyst compilation — SURVEY §2.9)
    case SAlt(cs) => cs.exists(validate(_, v))
    case SAltn(es) => es.exists(e => validate(e._2, v))
    case r @ (_: SCat | _: SCatn | _: SStar | _: SPlus | _: SOpt |
              _: SRepeat) =>
      asSeq(v).exists(xs => reMatch(r, xs, 0).contains(xs.length))
  }

  /** Deepest-failure tracker for the regex EXPLAINER (the analogue of the
    * reference's per-position error attribution, impl/regex.cljc:585-628):
    * across all backtracking attempts, remember the furthest input
    * position where a leaf check failed, and which leaf (with its schema
    * path) failed there. */
  private final class DeepestFail {
    var pos: Int = -1
    var leaf: SchemaIR = _
    var path: Vector[String] = Vector.empty
    def record(i: Int, s: SchemaIR, p: Vector[String]): Unit =
      if (i > pos) { pos = i; leaf = s; path = p }
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
      val ends = reMatchT(ir, xs, 0, Vector.empty, df).toList
      val maxEnd = if (ends.isEmpty) -1 else ends.max
      if (ends.contains(xs.length)) Vector.empty
      else if (df.pos >= xs.length)
        // the match needed MORE input than the sequence has
        Vector(Err(path, in, ErrorKeys.EndOfInput, xs.length))
      else if (df.pos >= 0 && df.pos >= maxEnd)
        // a leaf failed at the frontier: attribute positionally
        explain(df.leaf, xs(df.pos), path ++ df.path, in :+ df.pos.toString)
      else if (ends.nonEmpty)
        // a prefix parses but input remains past the furthest end
        Vector(Err(path, in, ErrorKeys.InputRemaining, xs.length - maxEnd))
      else Vector(Err(path, in, ErrorKeys.EndOfInput, xs.length))
  }

  /** reMatch with schema-path + deepest-failure tracking. */
  private def reMatchT(ir: SchemaIR, xs: Seq[Any], i: Int,
                       path: Vector[String], df: DeepestFail)(
      implicit reg: Registry, depth: Int): LazyList[Int] = ir match {
    // props never break a regex op's SPLICE (path stays prop-transparent)
    case SProps(_, c) if SchemaIR.isRegexOp(c) => reMatchT(c, xs, i, path, df)
    // registry-prop scope: extend the registry, keep splicing
    case SScoped(local, c, false) if SchemaIR.isRegexOp(c) =>
      reMatchT(c, xs, i, path, df)(
        Registry(reg.schemas ++ local, reg.maxDepth), depth)
    case SCat(cs) =>
      cs.zipWithIndex.foldLeft(LazyList(i)) { case (ps, (c, idx)) =>
        ps.flatMap(p => reMatchT(c, xs, p, path :+ idx.toString, df))
      }
    case SCatn(es) =>
      es.foldLeft(LazyList(i)) { case (ps, (tag, c)) =>
        ps.flatMap(p => reMatchT(c, xs, p, path :+ tag, df))
      }
    case SAlt(cs) => cs.zipWithIndex.to(LazyList).flatMap { case (c, idx) =>
      reMatchT(c, xs, i, path :+ idx.toString, df)
    }
    case SAltn(es) => es.to(LazyList).flatMap { case (tag, c) =>
      reMatchT(c, xs, i, path :+ tag, df)
    }
    case SStar(c) =>
      i #:: reMatchT(c, xs, i, path :+ "0", df).filter(_ > i)
        .flatMap(p => reMatchT(SStar(c), xs, p, path, df))
    case SPlus(c) =>
      // the SStar continuation appends its own "/0" per element — passing
      // `path` unmodified here (like the SStar case) keeps 2nd+ iteration
      // failures from reporting a duplicated "/0" segment
      reMatchT(c, xs, i, path :+ "0", df)
        .flatMap(p => reMatchT(SStar(c), xs, p, path, df))
    case SOpt(c) => i #:: reMatchT(c, xs, i, path :+ "0", df)
    case SRepeat(c, mn, mx) =>
      // reference repeat phases: epsilon iterations COUNT toward :min
      // (no progress requirement in compulsories); optionals need
      // remaining input + progress (impl/regex.cljc:348-420)
      def optionals(pos: Int, n: Int): LazyList[Int] = {
        val more =
          if (n >= mx || pos >= xs.length) LazyList.empty
          else reMatchT(c, xs, pos, path :+ "0", df).filter(_ > pos)
            .flatMap(p => optionals(p, n + 1))
        pos #:: more
      }
      def compulsories(pos: Int, n: Int): LazyList[Int] =
        if (n >= mn) optionals(pos, n)
        else reMatchT(c, xs, pos, path :+ "0", df)
          .flatMap(p => compulsories(p, n + 1))
      compulsories(i, 0)
    case plain =>
      if (i < xs.length && validate(plain, xs(i))) LazyList(i + 1)
      else { df.record(i, plain, path); LazyList.empty }
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
    asSeq(v).flatMap(xs =>
      parseAt(ir, xs, 0).collectFirst { case (t, e) if e == xs.length => t })

  private def parseAt(ir: SchemaIR, xs: Seq[Any], i: Int)(
      implicit reg: Registry, depth: Int): LazyList[(Any, Int)] = ir match {
    case SProps(_, c) if SchemaIR.isRegexOp(c) => parseAt(c, xs, i)
    case SScoped(local, c, false) if SchemaIR.isRegexOp(c) =>
      parseAt(c, xs, i)(Registry(reg.schemas ++ local, reg.maxDepth), depth)
    case SCat(cs) =>
      cs.foldLeft(LazyList((Vector.empty[Any]: Any, i))) { (ps, c) =>
        ps.flatMap { case (acc, p) => parseAt(c, xs, p).map { case (t, p2) =>
          (acc.asInstanceOf[Vector[Any]] :+ t, p2) } }
      }
    case SCatn(es) =>
      es.foldLeft(LazyList((Map.empty[String, Any]: Any, i))) {
        case (ps, (tag, c)) =>
          ps.flatMap { case (acc, p) => parseAt(c, xs, p).map { case (t, p2) =>
            (acc.asInstanceOf[Map[String, Any]] + (tag -> t), p2) } }
      }.map { case (acc, p) =>
        (RTags(acc.asInstanceOf[Map[String, Any]]): Any, p) }
    case SAlt(cs) => cs.to(LazyList).flatMap(parseAt(_, xs, i))
    case SAltn(es) => es.to(LazyList).flatMap { case (tag, c) =>
      parseAt(c, xs, i).map { case (t, p) => (RTag(tag, t): Any, p) }
    }
    // GREEDY ordering throughout (the reference's ?- and *-parsers try
    // the item parser FIRST and park epsilon as the fallback,
    // impl/regex.cljc:278-321) — the first full match IS the reference
    // parse tree for ambiguous schemas like [:cat [:* :int] [:* :int]]
    case SStar(c) =>
      parseAt(c, xs, i).filter(_._2 > i)
        .flatMap { case (t, p) => parseAt(SStar(c), xs, p).map { case (ts, p2) =>
          ((t +: ts.asInstanceOf[Vector[Any]]): Any, p2) } } #:::
        LazyList((Vector.empty[Any]: Any, i))
    case SPlus(c) =>
      parseAt(c, xs, i).flatMap { case (t, p) =>
        parseAt(SStar(c), xs, p).map { case (ts, p2) =>
          ((t +: ts.asInstanceOf[Vector[Any]]): Any, p2) } }
    case SOpt(c) =>
      parseAt(c, xs, i) #::: LazyList((null: Any, i))
    case SRepeat(c, mn, mx) =>
      // reference repeat phases (impl/regex.cljc:348-420): compulsories
      // run the child WITHOUT a progress requirement (an epsilon match
      // still counts an iteration — [:repeat {:min 2} [:? :int]] accepts
      // []); optionals require remaining input AND progress ("child
      // consumes no elements → bail"), child-first = greedy
      def optionals(pos: Int, cnt: Int,
                    acc: Vector[Any]): LazyList[(Any, Int)] = {
        val more =
          if (cnt >= mx || pos >= xs.length) LazyList.empty
          else parseAt(c, xs, pos).filter(_._2 > pos)
            .flatMap { case (t, p) => optionals(p, cnt + 1, acc :+ t) }
        more #::: LazyList((acc: Any, pos))
      }
      def compulsories(pos: Int, cnt: Int,
                       acc: Vector[Any]): LazyList[(Any, Int)] =
        if (cnt >= mn) optionals(pos, cnt, acc)
        else parseAt(c, xs, pos)
          .flatMap { case (t, p) => compulsories(p, cnt + 1, acc :+ t) }
      compulsories(i, 0, Vector.empty)
    case plain =>
      // parsers COMPOSE (reference -parser chains): a transforming plain
      // element (e.g. an :orn inside a :cat) parses to its own tree; a
      // simple one parses to itself, keeping the old behavior
      if (i < xs.length) parseValue(plain, xs(i)) match {
        case Some(t) => LazyList((t, i + 1))
        case None => LazyList.empty
      }
      else LazyList.empty
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
      case SMulti(dk, bs, default) => asMap(v).flatMap { m =>
        val dv = m.get(dk).flatMap(Option(_)).map(String.valueOf).orNull
        bs.find(_._1 == dv) match {
          case Some((tag, c)) => parseValue(c, v).map(RTag(tag, _))
          case None => default.flatMap(d =>
            parseValue(d, v).map(RTag("malli.core/default", _)))
        }
      }
      case SMultiExpr(_, _, dispRow, bs, default) =>
        if (v == null) None
        else {
          val dv = try dispRow(v) catch { case _: Throwable => null }
          bs.find(_._1 == dv) match {
            case Some((tag, c)) => parseValue(c, v).map(RTag(tag, _))
            case None => default.flatMap(d =>
              parseValue(d, v).map(RTag("malli.core/default", _)))
          }
        }
      case SProps(p, a: SAnd) => parseAndValue(a.children, p, v)
      case SProps(_, c) => parseValue(c, v)
      case SAnd(cs) => parseAndValue(cs, NodeProps.empty, v)
      case SMaybe(c) => if (v == null) Some(null) else parseValue(c, v)
      case SVector(c, mn, mx) => asSeq(v).filter(xs =>
          mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
        .flatMap(parseEach(c, _))
      case SSeqable(c, mn, mx) =>
        if (v == null) { if (mn.forall(_ <= 0)) Some(null) else None }
        else asSeq(v).filter(xs =>
            mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
          .flatMap(parseEach(c, _))
      case SSet(c, mn, mx) => asSeq(v).filter(xs =>
          mn.forall(xs.size >= _) && mx.forall(xs.size <= _) &&
            xs.distinct.size == xs.size)
        .flatMap(parseEach(c, _))
      case STuple(cs) => asTupleSeq(v).filter(_.size == cs.size)
        .flatMap { xs =>
          val ts = cs.zip(xs).map { case (c, x) => parseValue(c, x) }
          if (ts.forall(_.isDefined)) Some(ts.flatten) else None
        }
      case SMap(entries, _, _) =>
        if (!validate(ir, v)) None
        else asMap(v).flatMap { m =>
          entries.foldLeft(Option(m)) { (acc, e) =>
            acc.flatMap { mm =>
              mm.get(e.key) match {
                case None | Some(null) => Some(mm) // optional/null-valid
                case Some(x) => parseValue(e.child, x)
                  .map(t => mm + (e.key -> t))
              }
            }
          }
        }
      case SMapOf(k, vv, mn, mx) => v match {
        case m: scala.collection.Map[_, _]
            if mn.forall(m.size >= _) && mx.forall(m.size <= _) =>
          m.foldLeft(Option(Map.empty[Any, Any])) { case (acc, (mk, mv)) =>
            acc.flatMap(out => for {
              pk <- parseValue(k, mk)
              pv <- parseValue(vv, mv)
            } yield out + (pk -> pv))
          }
        case _ => None
      }
      case _: SCat | _: SCatn | _: SAlt | _: SAltn |
           _: SStar | _: SPlus | _: SOpt | _: SRepeat => reParse(ir, v)
      case SRef(name) =>
        if (depth <= 0) { if (validate(ir, v)) Some(v) else None }
        else parseValue(reg(name), v)(reg, depth - 1)
      case SScoped(local, c, _) =>
        parseValue(c, v)(Registry(reg.schemas ++ local, reg.maxDepth), depth)
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

  private def parseEach(c: SchemaIR, xs: Seq[Any])(
      implicit reg: Registry, depth: Int): Option[Seq[Any]] = {
    val ts = xs.map(parseValue(c, _))
    if (ts.forall(_.isDefined)) Some(ts.flatten) else None
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
        cs.iterator.flatMap { c =>
          try unparseValue(c, tree)
          catch { case _: ClassCastException | _: MatchError => None }
        }.nextOption()
      case SMulti(_, bs, default) => tree match {
        case RTag("malli.core/default", t) =>
          default.flatMap(unparseValue(_, t))
        case RTag(tag, t) =>
          bs.find(_._1 == tag).flatMap { case (_, c) => unparseValue(c, t) }
        case _ => None
      }
      case SMultiExpr(_, _, _, bs, default) => tree match {
        case RTag("malli.core/default", t) =>
          default.flatMap(unparseValue(_, t))
        case RTag(tag, t) =>
          bs.find(_._1 == tag).flatMap { case (_, c) => unparseValue(c, t) }
        case _ => None
      }
      case SProps(p, a: SAnd) => unparseAndValue(a.children, p, tree)
      case SProps(_, c) => unparseValue(c, tree)
      case SAnd(cs) => unparseAndValue(cs, NodeProps.empty, tree)
      case SMaybe(c) =>
        if (tree == null) Some(null) else unparseValue(c, tree)
      case SVector(c, mn, mx) => asSeq(tree).filter(xs =>
          mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
        .flatMap(unparseEach(c, _))
      case SSeqable(c, mn, mx) =>
        if (tree == null) { if (mn.forall(_ <= 0)) Some(null) else None }
        else asSeq(tree).filter(xs =>
            mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
          .flatMap(unparseEach(c, _))
      case SSet(c, mn, mx) => asSeq(tree).filter(xs =>
          mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
        .flatMap(unparseEach(c, _))
        .filter(xs => xs.distinct.size == xs.size)
      case STuple(cs) => asTupleSeq(tree).filter(_.size == cs.size)
        .flatMap { xs =>
          val ts = cs.zip(xs).map { case (c, x) => unparseValue(c, x) }
          if (ts.forall(_.isDefined)) Some(ts.flatten) else None
        }
      case SMap(entries, _, _) => asMap(tree).flatMap { m =>
        entries.foldLeft(Option(m)) { (acc, e) =>
          acc.flatMap { mm =>
            mm.get(e.key) match {
              case None | Some(null) => Some(mm)
              case Some(x) => unparseValue(e.child, x)
                .map(t => mm + (e.key -> t))
            }
          }
        }.filter(validate(ir, _))
      }
      case SMapOf(k, vv, mn, mx) => tree match {
        case m: scala.collection.Map[_, _]
            if mn.forall(m.size >= _) && mx.forall(m.size <= _) =>
          m.foldLeft(Option(Map.empty[Any, Any])) { case (acc, (mk, mv)) =>
            acc.flatMap(out => for {
              uk <- unparseValue(k, mk)
              uv <- unparseValue(vv, mv)
            } yield out + (uk -> uv))
          }
        case _ => None
      }
      case _: SCat | _: SCatn | _: SAlt | _: SAltn |
           _: SStar | _: SPlus | _: SOpt | _: SRepeat =>
        // flatten, then the regex must accept its own output; a tree of
        // the wrong shape (e.g. a plain value fed to :cat) is ::m/invalid,
        // not a crash
        try {
          val out = reUnparse(ir, tree)
          if (reMatch(ir, out, 0).contains(out.length)) Some(out) else None
        } catch {
          case _: ClassCastException | _: MatchError |
               _: NoSuchElementException => None
        }
      case SRef(name) =>
        if (depth <= 0) { if (validate(ir, tree)) Some(tree) else None }
        else unparseValue(reg(name), tree)(reg, depth - 1)
      case SScoped(local, c, _) =>
        unparseValue(c, tree)(
          Registry(reg.schemas ++ local, reg.maxDepth), depth)
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

  private def unparseEach(c: SchemaIR, xs: Seq[Any])(
      implicit reg: Registry, depth: Int): Option[Seq[Any]] = {
    val ts = xs.map(unparseValue(c, _))
    if (ts.forall(_.isDefined)) Some(ts.flatten) else None
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
    case SProps(_, c) if SchemaIR.isRegexOp(c) => reUnparse(c, tree)
    case SScoped(local, c, false) if SchemaIR.isRegexOp(c) =>
      reUnparse(c, tree)(Registry(reg.schemas ++ local, reg.maxDepth), depth)
    case SCat(cs) =>
      cs.zip(tree.asInstanceOf[Seq[Any]]).flatMap { case (c, t) =>
        reUnparse(c, t) }
    case SCatn(es) =>
      // only a Tags record unparses (re/catn-unparser's tags? check,
      // core.cljc:3015) — a plain map is a different value universe
      val m = tree match { case RTags(values) => values }
      es.flatMap { case (tag, c) => reUnparse(c, m(tag)) }
    case SStar(c) => tree.asInstanceOf[Seq[Any]].flatMap(reUnparse(c, _))
    case SPlus(c) => tree.asInstanceOf[Seq[Any]].flatMap(reUnparse(c, _))
    case SRepeat(c, _, _) =>
      tree.asInstanceOf[Seq[Any]].flatMap(reUnparse(c, _))
    case SOpt(c) => if (tree == null) Seq.empty else reUnparse(c, tree)
    case SAlt(cs) =>
      def attempt(c: SchemaIR): Option[Seq[Any]] =
        try {
          if (SchemaIR.isRegexOp(c)) {
            val out = reUnparse(c, tree)
            // the branch must ACCEPT what it produced — a tree from a
            // different branch typically survives the cast but fails
            // the re-match (e.g. a plain element fed to a :* branch)
            if (reMatch(c, out, 0).contains(out.length)) Some(out)
            else None
          } else unparseValue(c, tree).map(Seq(_))
        } catch {
          case _: ClassCastException | _: MatchError => None
        }
      cs.iterator.flatMap(attempt(_).iterator).nextOption()
        .getOrElse(Seq(tree))
    case SAltn(es) => tree match {
      // the RTag names the branch to unparse through (tags 164-183)
      case RTag(tag, t) =>
        es.find(_._1 == tag) match {
          case Some((_, c)) if SchemaIR.isRegexOp(c) => reUnparse(c, t)
          case Some((_, c)) => Seq(unparseValue(c, t).getOrElse(t))
          case None => Seq(t)
        }
      case other => Seq(other)
    }
    // plain element: unparsers COMPOSE like parsers — a transforming
    // plain child's tree unparses back to its element
    case plain => Seq(unparseValue(plain, tree).getOrElse(tree))
  }

  /** Backtracking sequence-regex matcher (semantics of impl/regex.cljc; the
    * reference uses CPS+packrat — row-local inputs here are small, so plain
    * lazy backtracking suffices). Returns reachable end positions. */
  private def reMatch(ir: SchemaIR, xs: Seq[Any], i: Int)(
      implicit reg: Registry, depth: Int): LazyList[Int] = ir match {
    case SProps(_, c) if SchemaIR.isRegexOp(c) => reMatch(c, xs, i)
    case SScoped(local, c, false) if SchemaIR.isRegexOp(c) =>
      reMatch(c, xs, i)(Registry(reg.schemas ++ local, reg.maxDepth), depth)
    case SCat(cs) =>
      cs.foldLeft(LazyList(i)) { (ps, c) => ps.flatMap(p => reMatch(c, xs, p)) }
    case SCatn(es) =>
      es.foldLeft(LazyList(i)) { (ps, e) => ps.flatMap(p => reMatch(e._2, xs, p)) }
    case SAlt(cs) => cs.to(LazyList).flatMap(c => reMatch(c, xs, i))
    case SAltn(es) => es.to(LazyList).flatMap(e => reMatch(e._2, xs, i))
    case SStar(c) =>
      i #:: reMatch(c, xs, i).filter(_ > i).flatMap(p => reMatch(SStar(c), xs, p))
    case SPlus(c) => reMatch(c, xs, i).flatMap(p => reMatch(SStar(c), xs, p))
    case SOpt(c) => i #:: reMatch(c, xs, i)
    case SRepeat(c, mn, mx) =>
      // reference repeat phases — see reMatchT's SRepeat
      def optionals(pos: Int, n: Int): LazyList[Int] = {
        val more =
          if (n >= mx || pos >= xs.length) LazyList.empty
          else reMatch(c, xs, pos).filter(_ > pos)
            .flatMap(p => optionals(p, n + 1))
        pos #:: more
      }
      def compulsories(pos: Int, n: Int): LazyList[Int] =
        if (n >= mn) optionals(pos, n)
        else reMatch(c, xs, pos).flatMap(p => compulsories(p, n + 1))
      compulsories(i, 0)
    case plain =>
      if (i < xs.length && validate(plain, xs(i))) LazyList(i + 1)
      else LazyList.empty
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
      DataErr(e.path, e.in, SchemaIR.form(resolveAt(ir, schemaPath)),
        e.value, errType)
    }))
  }

  /** Walk `root` along explain's schema-path addressing. Derefs (`:ref` /
    * `:schema` scopes) and declarative proxies (`:merge`/`:union`/
    * `:select-keys`) resolve WITHOUT consuming a segment — mirroring how
    * [[explain]] emits paths against the expanded structure. A segment
    * with no static child is RUNTIME data (a MapType stray key under the
    * `::m/default` rest) and is skipped: the governing schema is already
    * in hand. */
  private def resolveAt(root: SchemaIR, path: Seq[String])(
      implicit reg: Registry): SchemaIR = {
    def step(cur: SchemaIR, segs: List[String], reg: Registry,
             fuel: Int): SchemaIR = cur match {
      case SRef(n) if fuel > 0 && reg.schemas.contains(n) =>
        step(reg(n), segs, reg, fuel - 1)
      case SScoped(local, c, _) =>
        step(c, segs, Registry(reg.schemas ++ local, reg.maxDepth), fuel)
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        step(mallispark.ir.SchemaOps.expand(alg, reg), segs, reg, fuel)
      case _ => segs match {
        case Nil => cur
        case s :: rest =>
          SchemaIR.childrenWithPath(cur)
            .collectFirst { case (p, c) if p == s => c } match {
            case Some(c) => step(c, rest, reg, fuel)
            case None => step(cur, rest, reg, fuel)
          }
      }
    }
    step(root, path.toList, reg, 64)
  }

  /** Explain: same error shape the Catalyst side produces
    * (path/in/error_key), for duality assertions. */
  def explain(ir: SchemaIR, v: Any,
              path: Vector[String] = Vector.empty,
              in: Vector[String] = Vector.empty)(
      implicit reg: Registry = Registry.empty, depth: Int = 8): Vector[Err] =
    ir match {
      case SAny => Vector.empty
      case SMaybe(c) =>
        if (v == null) Vector.empty else explain(c, v, path :+ "0", in)
      case SAnd(cs) => cs.zipWithIndex.toVector.flatMap { case (c, i) =>
        explain(c, v, path :+ i.toString, in)
      }
      case SOr(cs) =>
        if (validate(ir, v)) Vector.empty
        else cs.zipWithIndex.toVector.flatMap { case (c, i) =>
          explain(c, v, path :+ i.toString, in)
        }
      case SOrn(bs) =>
        if (validate(ir, v)) Vector.empty
        else bs.toVector.flatMap { case (t, c) => explain(c, v, path :+ t, in) }
      case SAndn(bs) =>
        bs.toVector.flatMap { case (t, c) => explain(c, v, path :+ t, in) }
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
      case SVector(c, mn, mx) => collExplain(c, v, mn, mx, path, in, unique = false)
      // nil is a valid EMPTY seqable: only a :min bound reports
      case SSeqable(c, mn, mx) =>
        if (v == null)
          if (mn.exists(_ > 0)) Vector(Err(path, in, ErrorKeys.Limits, 0))
          else Vector.empty
        else collExplain(c, v, mn, mx, path, in, unique = false)
      case SSet(c, mn, mx) => collExplain(c, v, mn, mx, path, in, unique = true)
      case SEvery(_, mn, _, _) if v == null =>
        if (mn.exists(_ > 0)) Vector(Err(path, in, ErrorKeys.Limits, 0))
        else Vector.empty
      case SEvery(c, mn, mx, limit) => asSeq(v) match {
        case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
        case Some(xs) =>
          val lim = if (mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
            Vector.empty
          else Vector(Err(path, in, ErrorKeys.Limits, xs.size))
          lim ++ xs.take(everyLimit(mn, mx, limit)).zipWithIndex.toVector
            .flatMap { case (x, i) =>
              explain(c, x, path :+ "0", in :+ i.toString)
            }
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
      case SMulti(dk, bs, default) => asMap(v) match {
        case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
        case Some(m) =>
          // null dispatch → default branch, like validate (and Catalyst)
          val dv = m.get(dk).flatMap(Option(_)).map(String.valueOf).orNull
          bs.find(_._1 == dv) match {
            case Some((tag, c)) => explain(c, v, path :+ tag, in)
            case None => default match {
              case Some(d) => explain(d, v, path :+ "malli.core/default", in)
              case None => Vector(Err(path, in, ErrorKeys.InvalidDispatch, dv))
            }
          }
      }
      case SMultiExpr(_, _, dispRow, bs, default) =>
        if (v == null) Vector(Err(path, in, ErrorKeys.InvalidType, v))
        else {
          val dv = try dispRow(v) catch { case _: Throwable => null }
          bs.find(_._1 == dv) match {
            case Some((tag, c)) => explain(c, v, path :+ tag, in)
            case None => default match {
              case Some(d) => explain(d, v, path :+ "malli.core/default", in)
              case None => Vector(Err(path, in, ErrorKeys.InvalidDispatch, dv))
            }
          }
        }
      case SMapOf(k, vv, mn, mx) => v match {
        case m: scala.collection.Map[_, _] =>
          val lim = if (mn.forall(m.size >= _) && mx.forall(m.size <= _))
            Vector.empty
          else Vector(Err(path, in, ErrorKeys.Limits, m.size))
          lim ++ m.toVector.flatMap { case (mk, mv) =>
            explain(k, mk, path :+ "0", in :+ String.valueOf(mk)) ++
              explain(vv, mv, path :+ "1", in :+ String.valueOf(mk))
          }
        case _ => Vector(Err(path, in, ErrorKeys.InvalidType, v))
      }
      case SRef(name) =>
        if (depth <= 0) Vector.empty
        else explain(reg(name), v, path, in)(reg, depth - 1)
      case SScoped(local, c, _) =>
        explain(c, v, path, in)(Registry(reg.schemas ++ local, reg.maxDepth),
          depth)
      case SProps(_, c) => explain(c, v, path, in)
      case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
        explain(mallispark.ir.SchemaOps.expand(alg, reg), v, path, in)
      // general (tier-3) forms: positional backtracking explainer —
      // mirrors the compiled UDF path exactly (same code)
      case r if SchemaIR.isGeneralRegex(r) => reExplain(r, v, path, in)
      // bounded-form regex explains — mirror the Catalyst compilation
      case SCat(cs) =>
        catExplain(cs.zipWithIndex.map { case (c, i) => (i.toString, c) },
          v, path, in)
      case SCatn(es) => catExplain(es, v, path, in)
      case SAlt(cs) =>
        if (validate(ir, v)) Vector.empty
        else cs.zipWithIndex.toVector.flatMap { case (c, i) =>
          explain(c, v, path :+ i.toString, in)
        }
      case SStar(c) => regexCollExplain(c, v, None, None, path, in)
      case SPlus(c) => regexCollExplain(c, v, Some(1), None, path, in)
      case SOpt(c) => regexCollExplain(c, v, None, Some(1), path, in)
      case SRepeat(c, mn, mx) =>
        regexCollExplain(c, v, Some(mn), Some(mx), path, in)
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

  private def collExplain(c: SchemaIR, v: Any, mn: Option[Int], mx: Option[Int],
                          path: Vector[String], in: Vector[String],
                          unique: Boolean)(
      implicit reg: Registry, depth: Int): Vector[Err] = asSeq(v) match {
    case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
    case Some(xs) =>
      val lim = if (mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
        Vector.empty
      else Vector(Err(path, in, ErrorKeys.Limits, xs.size))
      val dup = if (unique && xs.distinct.size != xs.size)
        Vector(Err(path, in, ErrorKeys.DuplicateKey, v))
      else Vector.empty
      lim ++ dup ++ xs.zipWithIndex.toVector.flatMap { case (x, i) =>
        explain(c, x, path :+ "0", in :+ i.toString)
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
        elemExplain(c, x, path :+ tag, in :+ i.toString)
      }
  }

  private def regexCollExplain(c: SchemaIR, v: Any, mn: Option[Int],
                               mx: Option[Int], path: Vector[String],
                               in: Vector[String])(
      implicit reg: Registry, depth: Int): Vector[Err] = asSeq(v) match {
    case None => Vector(Err(path, in, ErrorKeys.InvalidType, v))
    case Some(xs) =>
      val lim = if (mn.forall(xs.size >= _) && mx.forall(xs.size <= _))
        Vector.empty
      else Vector(Err(path, in, ErrorKeys.Limits, xs.size))
      lim ++ xs.zipWithIndex.toVector.flatMap { case (x, i) =>
        elemExplain(c, x, path :+ "0", in :+ i.toString)
      }
  }

  private def elemExplain(c: SchemaIR, x: Any, path: Vector[String],
                          in: Vector[String])(
      implicit reg: Registry, depth: Int): Vector[Err] = c match {
    case SAlt(cs) =>
      if (cs.exists(validate(_, x))) Vector.empty
      else cs.zipWithIndex.toVector.flatMap { case (cc, i) =>
        explain(cc, x, path :+ i.toString, in)
      }
    case SAltn(es) =>
      if (es.exists(e => validate(e._2, x))) Vector.empty
      else es.toVector.flatMap { case (tag, cc) =>
        explain(cc, x, path :+ tag, in)
      }
    case other => explain(other, x, path, in)
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
