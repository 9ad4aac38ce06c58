package mallispark.ir

import SchemaIR._

/** Schema algebra — `malli.util` parity
  * (reference: /root/reference/src/malli/util.cljc).
  *
  * These are IR-level rewrites (schemas are data); the DataFrame-level
  * duals (df.select / drop / withColumnRenamed) live in
  * mallispark.compile.Transform. */
object SchemaOps {

  /** mu/merge (util.cljc:53-101): right-biased map-entry merge;
    * optionality of the right entry wins; `:multi` is DISTRIBUTIVE
    * (right first, then left — util.cljc:85-88: [:merge [:multi M1 M2]
    * M3] ⇒ [:multi [:merge M1 M3] [:merge M2 M3]]); `:and` joins on the
    * FIRST child with the rest kept as-is (util.cljc:78-79 join —
    * merging every child would duplicate the right side and destroy the
    * kept predicates); anything else → right wins. */
  def merge(a: SchemaIR, b: SchemaIR): SchemaIR = (a, b) match {
    // right-distributive: a is the dispatching schema
    case (SMulti(d, bs, df), other) =>
      SMulti(d, bs.map { case (t, c) => t -> merge(c, other) },
        df.map(merge(_, other)))
    case (SMultiExpr(n, f, fr, bs, df), other) =>
      SMultiExpr(n, f, fr, bs.map { case (t, c) => t -> merge(c, other) },
        df.map(merge(_, other)))
    // left-distributive
    case (l, SMulti(d, bs, df)) =>
      SMulti(d, bs.map { case (t, c) => t -> merge(l, c) },
        df.map(merge(l, _)))
    case (l, SMultiExpr(n, f, fr, bs, df)) =>
      SMultiExpr(n, f, fr, bs.map { case (t, c) => t -> merge(l, c) },
        df.map(merge(l, _)))
    case (SMap(ea, ca, ra), SMap(eb, cb, rb)) =>
      val byKey = eb.map(e => e.key -> e).toMap
      val merged = ea.map { e =>
        byKey.get(e.key) match {
          case Some(r) => r.copy(child = mergeChild(e.child, r.child))
          case None => e
        }
      } ++ eb.filterNot(e => ea.exists(_.key == e.key))
      SMap(merged, ca || cb, rb.orElse(ra)) // right-biased rest-entry
    // the reference joins only when BOTH sides are :map/:and shapes
    case (SAnd(cs1), SAnd(cs2)) =>
      SAnd(merge(cs1.head, cs2.head) +: (cs1.tail ++ cs2.tail))
    case (SAnd(cs), m: SMap) => SAnd(merge(cs.head, m) +: cs.tail)
    case (m: SMap, SAnd(cs)) => SAnd(merge(m, cs.head) +: cs.tail)
    case (_, r) => r
  }

  private def mergeChild(l: SchemaIR, r: SchemaIR): SchemaIR = (l, r) match {
    case (_: SMap, _: SMap) => merge(l, r) // deep merge nested maps
    case _ => r
  }

  /** mu/union (util.cljc:103-112): colliding entries become `:or`; a
    * colliding key stays REQUIRED only if required on BOTH sides —
    * union's merge-required is `(and r1 r2)` (util.cljc:110), i.e.
    * optional = optional-on-either-side. */
  def union(a: SchemaIR, b: SchemaIR): SchemaIR = (a, b) match {
    case (SMap(ea, ca, ra), SMap(eb, cb, rb)) =>
      val byKey = eb.map(e => e.key -> e).toMap
      val unioned = ea.map { e =>
        byKey.get(e.key) match {
          case Some(r) if r.child != e.child =>
            e.copy(child = SOr(Seq(e.child, r.child)),
              optional = e.optional || r.optional)
          case Some(r) => e.copy(optional = e.optional || r.optional)
          case None => e
        }
      } ++ eb.filterNot(e => ea.exists(_.key == e.key))
      SMap(unioned, ca && cb, rb.orElse(ra))
    case _ => SOr(Seq(a, b))
  }

  /** mu/select-keys (util.cljc:271-281). */
  def selectKeys(m: SMap, keys: Set[String]): SMap =
    m.copy(entries = m.entries.filter(e => keys(e.key)))

  /** mu/dissoc (util.cljc:283-289). */
  def dissoc(m: SMap, key: String): SMap =
    m.copy(entries = m.entries.filterNot(_.key == key))

  /** mu/rename-keys (util.cljc:291-299). */
  def renameKeys(m: SMap, renames: Map[String, String]): SMap =
    m.copy(entries = m.entries.map(e =>
      renames.get(e.key).map(n => e.copy(key = n)).getOrElse(e)))

  /** mu/assoc (util.cljc:344-352): add or replace an entry. */
  def assoc(m: SMap, entry: Entry): SMap =
    if (m.entries.exists(_.key == entry.key))
      m.copy(entries = m.entries.map(e =>
        if (e.key == entry.key) entry else e))
    else m.copy(entries = m.entries :+ entry)

  /** mu/optional-keys / required-keys (util.cljc:246-269). */
  def optionalKeys(m: SMap, keys: Option[Set[String]] = None): SMap =
    m.copy(entries = m.entries.map(e =>
      if (keys.forall(_(e.key))) e.copy(optional = true) else e))
  def requiredKeys(m: SMap, keys: Option[Set[String]] = None): SMap =
    m.copy(entries = m.entries.map(e =>
      if (keys.forall(_(e.key))) e.copy(optional = false) else e))

  /** mu/closed-schema / open-schema — recursive walk toggling closedness
    * (util.cljc:128-166). */
  def closedSchema(ir: SchemaIR): SchemaIR = mapMaps(ir)(_.copy(closed = true))
  def openSchema(ir: SchemaIR): SchemaIR = mapMaps(ir)(_.copy(closed = false))

  private def mapMaps(ir: SchemaIR)(f: SMap => SMap): SchemaIR = ir match {
    case m: SMap =>
      f(m.copy(entries = m.entries.map(e =>
        e.copy(child = mapMaps(e.child)(f)))))
    case SMaybe(c) => SMaybe(mapMaps(c)(f))
    case SAnd(cs) => SAnd(cs.map(mapMaps(_)(f)))
    case SOr(cs) => SOr(cs.map(mapMaps(_)(f)))
    case SOrn(bs) => SOrn(bs.map { case (t, c) => t -> mapMaps(c)(f) })
    case SAndn(bs) => SAndn(bs.map { case (t, c) => t -> mapMaps(c)(f) })
    case SNot(c) => SNot(mapMaps(c)(f))
    case SVector(c, mn, mx) => SVector(mapMaps(c)(f), mn, mx)
    case SSeqable(c, mn, mx) => SSeqable(mapMaps(c)(f), mn, mx)
    case SSet(c, mn, mx) => SSet(mapMaps(c)(f), mn, mx)
    case SEvery(c, mn, mx, l) => SEvery(mapMaps(c)(f), mn, mx, l)
    case STuple(cs) => STuple(cs.map(mapMaps(_)(f)))
    case SMapOf(k, v, mn, mx) => SMapOf(mapMaps(k)(f), mapMaps(v)(f), mn, mx)
    case SMulti(d, bs, df) => SMulti(d,
      bs.map { case (t, c) => t -> mapMaps(c)(f) }, df.map(mapMaps(_)(f)))
    // scoped registry: walk the child AND the registered schemas, so
    // closed/open toggling reaches maps a recursive :ref re-enters
    case SScoped(l, c, b) => SScoped(
      l.map { case (n, s) => n -> mapMaps(s)(f) }, mapMaps(c)(f), b)
    case SProps(p, c) => SProps(p, mapMaps(c)(f))
    case other => other
  }

  /** Structural expansion of the declarative schema-algebra nodes
    * (`:merge`/`:union`/`:select-keys` proxy schemas, util.cljc:394-418):
    * recursively rewrites them into plain schemas via the programmatic
    * algebra above, dereferencing `:ref` children through `reg` (depth 8)
    * where the algebra needs a concrete map. Runs once per schema before
    * compilation — serialized schemas can therefore carry these nodes. */
  /** m/deref-recursive (core.cljc:2534-2553 `-deref-recursive`): expand
    * every `:ref` whose target is NOT already on the current expansion
    * path — a genuinely recursive ref stays a literal `[:ref name]`
    * (the ::user fixture in core_test.cljc:3434: non-recursive ::address
    * inlines fully, the self-referential friends ref survives). Also
    * resolves the declarative algebra nodes on the way (the reference's
    * "util schemas" leg of the same test). The `::m/ref-key` id
    * annotation variant is host-specific metadata and stays out of
    * scope. */
  def derefRecursive(ir: SchemaIR, reg: Registry = Registry.empty): SchemaIR = {
    def go(s: SchemaIR, reg: Registry, stack: Set[String]): SchemaIR =
      s match {
        case SScoped(local, c, _) =>
          go(c, Registry(reg.schemas ++ local, reg.maxDepth), stack)
        case SRef(n) =>
          if (stack.contains(n) || !reg.schemas.contains(n)) SRef(n)
          else go(reg(n), reg, stack + n)
        case alg @ (_: SMergeOf | _: SUnionOf | _: SSelectKeysOf) =>
          go(expand(alg, reg), reg, stack)
        case other => SchemaIR.mapChildren(other)(go(_, reg, stack))
      }
    go(ir, reg, Set.empty)
  }

  def expand(ir: SchemaIR, reg: Registry = Registry.empty,
             depth: Int = 8): SchemaIR = {
    def deref(s: SchemaIR, d: Int): SchemaIR = s match {
      case SRef(n) if d > 0 => deref(reg(n), d - 1)
      // a scoped schema dereferences to its child with the LOCAL names
      // layered over the outer registry, so the algebra can merge/select
      // into it (non-recursive locals resolve fully; recursive ones stay
      // behind :ref as elsewhere)
      case SScoped(local, c, _) if d > 0 =>
        expand(c, Registry(reg.schemas ++ local, reg.maxDepth), d - 1)
      // algebra over a props-wrapped map reaches through (the wrapper's
      // non-structural props don't survive a merge — malli's -merge keeps
      // only the LAST map's properties, which the rebuilt SMap mirrors)
      case SProps(_, c) if d > 0 => deref(c, d - 1)
      case other => other
    }
    def go(s: SchemaIR, d: Int): SchemaIR = s match {
      case SMergeOf(cs) =>
        cs.map(c => deref(go(c, d), d)).reduceLeft(merge)
      case SUnionOf(cs) =>
        cs.map(c => deref(go(c, d), d)).reduceLeft(union)
      case SSelectKeysOf(c, ks) => deref(go(c, d), d) match {
        case m: SMap => selectKeys(m, ks.toSet)
        case other => other
      }
      case m: SMap => m.copy(
        entries = m.entries.map(e => e.copy(child = go(e.child, d))),
        rest = m.rest.map(go(_, d)))
      case SMaybe(c) => SMaybe(go(c, d))
      case SAnd(cs) => SAnd(cs.map(go(_, d)))
      case SOr(cs) => SOr(cs.map(go(_, d)))
      case SOrn(bs) => SOrn(bs.map { case (t, c) => t -> go(c, d) })
      case SAndn(bs) => SAndn(bs.map { case (t, c) => t -> go(c, d) })
      case SNot(c) => SNot(go(c, d))
      case SVector(c, mn, mx) => SVector(go(c, d), mn, mx)
      case SSet(c, mn, mx) => SSet(go(c, d), mn, mx)
      case SEvery(c, mn, mx, l) => SEvery(go(c, d), mn, mx, l)
      case STuple(cs) => STuple(cs.map(go(_, d)))
      case SMapOf(k, v, mn, mx) => SMapOf(go(k, d), go(v, d), mn, mx)
      case SMulti(dk, bs, df) => SMulti(dk,
        bs.map { case (t, c) => t -> go(c, d) }, df.map(go(_, d)))
      case SMultiExpr(n, f, fr, bs, df) => SMultiExpr(n, f, fr,
        bs.map { case (t, c) => t -> go(c, d) }, df.map(go(_, d)))
      case SCat(cs) => SCat(cs.map(go(_, d)))
      case SCatn(es) => SCatn(es.map { case (t, c) => t -> go(c, d) })
      case SAlt(cs) => SAlt(cs.map(go(_, d)))
      case SAltn(es) => SAltn(es.map { case (t, c) => t -> go(c, d) })
      case SStar(c) => SStar(go(c, d))
      case SPlus(c) => SPlus(go(c, d))
      case SOpt(c) => SOpt(go(c, d))
      case SRepeat(c, mn, mx) => SRepeat(go(c, d), mn, mx)
      case SScoped(l, c, b) => SScoped(
        l.map { case (n, s2) =>
          n -> expand(s2, Registry(reg.schemas ++ l, reg.maxDepth), d) },
        expand(c, Registry(reg.schemas ++ l, reg.maxDepth), d), b)
      case SProps(p, c) => SProps(p, go(c, d))
      case other => other
    }
    go(ir, depth)
  }

  /** mu/keys (util.cljc:301-305). */
  /** mu/find-first (util.cljc:37-50): prewalk, first non-None result. */
  def findFirst[A](ir: SchemaIR)(
      f: (SchemaIR, Seq[String]) => Option[A]): Option[A] =
    subschemas(ir).iterator
      .flatMap { case (p, s) => f(s, p) }.nextOption()

  /** mu/update-properties (util.cljc:114-118) over the engine's
    * [[SchemaIR.NodeProps]] wrapper: updates the node's property map,
    * adding the wrapper when absent and dropping it when the result is
    * empty. */
  def updateProperties(ir: SchemaIR)(f: NodeProps => NodeProps): SchemaIR = {
    val (p, c) = ir match {
      case SProps(p0, c0) => (p0, c0)
      case other => (NodeProps.empty, other)
    }
    val p2 = f(p)
    if (p2.isEmpty) c else SProps(p2, c)
  }

  /** mu/transform-entries (util.cljc:238-244): rebuild the map from a
    * function of its whole entry list. */
  def transformEntries(m: SMap)(f: Seq[Entry] => Seq[Entry]): SMap =
    m.copy(entries = f(m.entries))

  /** mu/update (util.cljc:342-348): update the entry's VALUE schema by a
    * function of the current one (None when absent — the new entry is
    * REQUIRED, like mu/assoc's default). */
  def update(m: SMap, key: String)(
      f: Option[SchemaIR] => SchemaIR): SMap = {
    val existing = m.entries.find(_.key == key)
    val child = f(existing.map(_.child))
    existing match {
      case Some(e) => m.copy(entries =
        m.entries.map(x => if (x.key == key) e.copy(child = child) else x))
      case None => assoc(m, Entry(key, child))
    }
  }

  def keys(m: SMap): Seq[String] = m.entries.map(_.key)

  /** mu/find (util.cljc:311-314): the full entry (key, optionality,
    * child) for a map key, or None. */
  def find(m: SMap, key: String): Option[Entry] =
    m.entries.find(_.key == key)

  /** m/-regex-min-max (core.cljc:87, 297-303, sequence-schema table
    * 2968-3010): how many ELEMENTS of the surrounding sequence a schema
    * consumes, as (min, max) with `None` max = unbounded.
    *
    *  - any non-regex schema consumes exactly one element;
    *  - `:cat`/`:catn` sum their children, `:alt`/`:altn` span
    *    (min of mins, max of maxes), `:*` is (0, ∞), `:+` (childMin, ∞),
    *    `:?` (0, childMax), `:repeat` multiplies by its bounds;
    *  - a NESTED `[:schema ...]` wrapper is a splice boundary — it
    *    counts as one element (core.cljc:2147-2150); at top level it is
    *    transparent (and brings its local registry into scope);
    *  - `:ref` derefs cycle-aware: a recursive ref throws the
    *    reference's `::m/potentially-recursive-seqex` (core.cljc:2055);
    *    an acyclic one is transparent like malli's plain registry
    *    keyword lookup (SRef covers both reference ref kinds here).
    *
    * `nested` is true when `ir` already sits inside an outer seqex. */
  def regexMinMax(ir: SchemaIR, nested: Boolean = false)(
      implicit reg: Registry = Registry.empty): (Int, Option[Int]) = {
    def add(a: (Int, Option[Int]), b: (Int, Option[Int])) =
      (a._1 + b._1, for { x <- a._2; y <- b._2 } yield x + y)
    def go(s: SchemaIR, nested: Boolean, reg: Registry,
           seen: Set[String]): (Int, Option[Int]) = s match {
      case SProps(_, c) => go(c, nested, reg, seen)
      // a registry-prop scope is transparent even nested; only the
      // explicit [:schema ..] wrapper is a one-element boundary
      case SScoped(local, c, false) =>
        go(c, nested, Registry(reg.schemas ++ local, reg.maxDepth), seen)
      case SScoped(local, c, _) =>
        if (nested) (1, Some(1))
        else go(c, nested, Registry(reg.schemas ++ local, reg.maxDepth), seen)
      case SRef(n) =>
        if (seen(n)) throw new IllegalArgumentException(
          s":malli.core/potentially-recursive-seqex $n")
        else go(reg(n), nested, reg, seen + n)
      case SCat(cs) =>
        cs.foldLeft((0, Option(0)))((acc, c) => add(acc, go(c, true, reg, seen)))
      case SCatn(es) =>
        es.foldLeft((0, Option(0)))((acc, e) =>
          add(acc, go(e._2, true, reg, seen)))
      case SAlt(cs) =>
        cs.map(go(_, true, reg, seen)).reduce((a, b) =>
          (a._1 min b._1, for { x <- a._2; y <- b._2 } yield x max y))
      case SAltn(es) =>
        es.map(e => go(e._2, true, reg, seen)).reduce((a, b) =>
          (a._1 min b._1, for { x <- a._2; y <- b._2 } yield x max y))
      case SStar(_) => (0, None)
      case SPlus(c) => (go(c, true, reg, seen)._1, None)
      case SOpt(c) => (0, go(c, true, reg, seen)._2)
      case SRepeat(c, mn, mx) =>
        val (m2, x2) = go(c, true, reg, seen)
        (mn * m2,
          if (mx == Int.MaxValue) None else x2.map(_ * mx))
      case _ => (1, Some(1))
    }
    go(ir, nested, reg, Set.empty)
  }

  /** m/explicit-keys (core.cljc:2817-2825): the declared entry keys of an
    * entry schema — the `::m/default` rest entry is a separate field here,
    * so it is never in the list. None for non-entry schemas. */
  def explicitKeys(ir: SchemaIR): Option[Seq[String]] = ir match {
    case m: SMap => Some(m.entries.map(_.key))
    case SProps(_, c) => explicitKeys(c)
    case _ => None
  }

  /** m/default-schema (core.cljc:2827-2833): the `::m/default` rest
    * schema of an entry schema, when declared. */
  def defaultSchema(ir: SchemaIR): Option[SchemaIR] = ir match {
    case m: SMap => m.rest
    case SProps(_, c) => defaultSchema(c)
    case _ => None
  }

  /** mu/update-entry-properties (util.cljc:120-126): update entry `key`'s
    * ENTRY-level props (`[:k {..} child]`) by a function of the current
    * prop list. The view `f` sees (and returns) is the `:optional` flag
    * (`:map` entries only) plus the ARBITRARY [[NodeProps]]`.extra` slice,
    * as keyword-string → EDN-value pairs; named NodeProps slots (`:title`,
    * `:gen/...`) on the entry pass through untouched. Replacement is
    * in-place by key, additions append — clojure `assoc` order. Works on
    * `:map` entries and the tagged branches of `:orn`/`:andn`/`:catn`/
    * `:altn` (the reference's other EntrySchemas); anything else — or a
    * missing key — throws the `::mu/no-entry` analogue
    * (util.cljc:124-125). */
  def updateEntryProperties(ir: SchemaIR, key: String)(
      f: Seq[(String, Any)] => Seq[(String, Any)]): SchemaIR = {
    def noEntry(): Nothing = throw new IllegalArgumentException(
      s":malli.util/no-entry $key on ${SchemaIR.form(ir)}")
    def split(c: SchemaIR): (NodeProps, SchemaIR) = c match {
      case SProps(p, inner) if p.entryLevel => (p, inner)
      case other => (NodeProps.empty, other)
    }
    def rewrap(p0: NodeProps, extras: Seq[(String, Any)],
               inner: SchemaIR): SchemaIR = {
      val np = p0.copy(extra = extras, entryLevel = true)
      if (np.copy(entryLevel = false).isEmpty) inner else SProps(np, inner)
    }
    ir match {
      case m: SMap =>
        val e = m.entries.find(_.key == key).getOrElse(noEntry())
        val (p0, inner) = split(e.child)
        val view = (if (e.optional) Seq(":optional" -> (true: Any)) else Nil) ++
          p0.extra
        val out = f(view)
        val opt2 = out.collectFirst {
          case (":optional", v: Boolean) => v }.getOrElse(false)
        val extras = out.filterNot(_._1 == ":optional")
        m.copy(entries = m.entries.map(x =>
          if (x.key == key)
            x.copy(optional = opt2, child = rewrap(p0, extras, inner))
          else x))
      case SOrn(bs) if bs.exists(_._1 == key) =>
        SOrn(updateBranch(bs, key, split, rewrap, f))
      case SAndn(bs) if bs.exists(_._1 == key) =>
        SAndn(updateBranch(bs, key, split, rewrap, f))
      case SCatn(es) if es.exists(_._1 == key) =>
        SCatn(updateBranch(es, key, split, rewrap, f))
      case SAltn(es) if es.exists(_._1 == key) =>
        SAltn(updateBranch(es, key, split, rewrap, f))
      case SProps(p, c) => SProps(p, updateEntryProperties(c, key)(f))
      case _ => noEntry()
    }
  }

  private def updateBranch(
      bs: Seq[(String, SchemaIR)], key: String,
      split: SchemaIR => (NodeProps, SchemaIR),
      rewrap: (NodeProps, Seq[(String, Any)], SchemaIR) => SchemaIR,
      f: Seq[(String, Any)] => Seq[(String, Any)])
      : Seq[(String, SchemaIR)] =
    bs.map { case (t, c) =>
      if (t != key) t -> c
      else {
        val (p0, inner) = split(c)
        t -> rewrap(p0, f(p0.extra).filterNot(_._1 == ":optional"), inner)
      }
    }

  /** clojure-`assoc` over an ordered prop list: replace in place when the
    * key exists, append otherwise — the helper `updateEntryProperties`
    * fixtures compose with (util_test.cljc:1081-1107 `assoc :b 1`). */
  def assocProp(ps: Seq[(String, Any)], k: String, v: Any)
      : Seq[(String, Any)] =
    if (ps.exists(_._1 == k)) ps.map(p => if (p._1 == k) k -> v else p)
    else ps :+ (k -> v)

  /** Setter dual of `SchemaIR.childrenWithPath` — rebuilds `s` with the
    * child at segment `seg` replaced (same addressing: map keys, branch
    * tags, element marker "0", positional indices). Throws on a segment
    * the node does not have. */
  private def replaceChild(s: SchemaIR, seg: String,
                           c: SchemaIR): SchemaIR = {
    def idx(n: Int): Int = {
      val i = seg.toInt
      require(i >= 0 && i < n, s"no child '$seg' in ${s.getClass.getSimpleName}")
      i
    }
    s match {
      case m: SMap if m.entries.exists(_.key == seg) =>
        m.copy(entries = m.entries.map(e =>
          if (e.key == seg) e.copy(child = c) else e))
      case m: SMap if seg == "malli.core/default" && m.rest.isDefined =>
        m.copy(rest = Some(c))
      case SMaybe(_) if seg == "0" => SMaybe(c)
      case SNot(_) if seg == "0" => SNot(c)
      case SAnd(cs) => SAnd(cs.updated(idx(cs.size), c))
      case SOr(cs) => SOr(cs.updated(idx(cs.size), c))
      case SOrn(bs) if bs.exists(_._1 == seg) =>
        SOrn(bs.map { case (t, x) => t -> (if (t == seg) c else x) })
      case SAndn(bs) if bs.exists(_._1 == seg) =>
        SAndn(bs.map { case (t, x) => t -> (if (t == seg) c else x) })
      case SMapOf(_, v, mn, mx) if seg == "0" => SMapOf(c, v, mn, mx)
      case SMapOf(k, _, mn, mx) if seg == "1" => SMapOf(k, c, mn, mx)
      case SVector(_, mn, mx) if seg == "0" => SVector(c, mn, mx)
      case SSet(_, mn, mx) if seg == "0" => SSet(c, mn, mx)
      case SEvery(_, mn, mx, l) if seg == "0" => SEvery(c, mn, mx, l)
      case STuple(cs) => STuple(cs.updated(idx(cs.size), c))
      case m @ SMulti(_, bs, _) if bs.exists(_._1 == seg) =>
        m.copy(branches = bs.map { case (t, x) =>
          t -> (if (t == seg) c else x) })
      case m @ SMulti(_, _, d) if seg == "malli.core/default" && d.isDefined =>
        m.copy(default = Some(c))
      case SScoped(l, inner, false) =>
        SScoped(l, replaceChild(inner, seg, c), boundary = false)
      case SScoped(l, _, b) if seg == "0" => SScoped(l, c, b)
      // transparent like childrenWithPath: the segment addresses the
      // CHILD's children (props never add a path level)
      case SProps(p, inner) => SProps(p, replaceChild(inner, seg, c))
      case other => throw new IllegalArgumentException(
        s"no child '$seg' in ${other.getClass.getSimpleName}")
    }
  }

  /** mu/update-in (util.cljc:373-381): rewrite the subschema at a
    * schema path through `f`, rebuilding the spine. A MISSING final map
    * key is created (mu/assoc semantics) — required, child = f(:any)'s
    * result caller-side via assocIn. */
  def updateIn(ir: SchemaIR, path: Seq[String])(
      f: SchemaIR => SchemaIR): SchemaIR = path match {
    case Seq() => f(ir)
    case seg +: rest =>
      SchemaIR.childrenWithPath(ir).collectFirst {
        case (p, c) if p == seg => c
      } match {
        case Some(child) => replaceChild(ir, seg, updateIn(child, rest)(f))
        case None => ir match {
          // creating through a missing MAP key (mu/assoc adds entries)
          case m: SMap if rest.isEmpty =>
            assoc(m, Entry(seg, f(SAny)))
          case other => throw new IllegalArgumentException(
            s"no child '$seg' in ${other.getClass.getSimpleName}")
        }
      }
  }

  /** mu/assoc-in (util.cljc:354-371). */
  def assocIn(ir: SchemaIR, path: Seq[String], v: SchemaIR): SchemaIR =
    updateIn(ir, path)(_ => v)

  /** mu/in->paths (util.cljc:196-207): every SCHEMA path that addresses
    * the given VALUE path — the inverse image of [[pathToIn]] (branch
    * segments of and/or/multi vanish in value space, so one value path
    * can map back to several schema paths; collection elements use the
    * element marker "0", matching this engine's pathToIn convention). */
  def inToPaths(ir: SchemaIR, in: Seq[String]): Seq[Seq[String]] =
    subschemas(ir).map(_._1).filter(p => pathToIn(ir, p) == in)

  /** mu/subschemas (util.cljc:168-187): every (path, schema) pair. */
  def subschemas(ir: SchemaIR): Seq[(Seq[String], SchemaIR)] = {
    def go(s: SchemaIR, path: Seq[String]): Seq[(Seq[String], SchemaIR)] =
      s match {
        // the wrapper AND its child both surface at the same path (props
        // never add a path level): consumers matching node types see the
        // real node, while :error/path resolution can still find wrappers
        case SProps(_, c) => (path, s) +: go(c, path)
        case _ =>
          (path, s) +: SchemaIR.childrenWithPath(s).flatMap { case (seg, c) =>
            go(c, path :+ seg)
          }
      }
    go(ir, Seq.empty)
  }

  /** mu/path->in (util.cljc:189-194): schema path → value path. Branch
    * indices of and/or/orn/maybe/multi vanish (they address schema
    * structure, not value structure); map keys and collection element
    * markers survive. */
  def pathToIn(ir: SchemaIR, path: Seq[String]): Seq[String] = {
    def go(s: SchemaIR, p: Seq[String]): Seq[String] = p match {
      case Nil => Nil
      case seg +: rest =>
        val child = SchemaIR.childrenWithPath(s).collectFirst {
          case (ps, c) if ps == seg => c
        }
        val keep = s match {
          case _: SMap => Seq(seg) // map key addresses the value
          case _: SVector | _: SSet | _: SEvery | _: STuple |
               _: SCat | _: SCatn => Seq(seg)
          case _: SMapOf => Seq(seg)
          case _ => Seq.empty // and/or/orn/not/maybe/multi: schema-only
        }
        keep ++ child.map(go(_, rest)).getOrElse(Nil)
    }
    go(ir, path)
  }
}
