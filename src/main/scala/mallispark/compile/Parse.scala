package mallispark.compile

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import mallispark.ir.SchemaIR
import mallispark.ir.SchemaIR._

/** `m/parse` / `m/unparse` (reference: /root/reference/src/malli/core.cljc
  * 2684-2714; Tag/Tags records 164-183).
  *
  * malli's parse is identity for most schemas ("simple parser",
  * core.cljc:99-100, [[SchemaIR.simpleParser]]) and only materializes
  * structure for transforming nodes:
  *  - `:orn`  → Tag(name, branch-parse)  → struct(tag, value)
  *  - `:andn` → Tags({name → parse})     → named struct
  *  - `:catn` → Tags({name → value})     → named struct from positions
  *  - `:multi`→ parse through the matched branch, tagged
  *  - `:and`  → all children validate; the SINGLE transforming child's
  *    parser shapes the result (core.cljc:879-891; the
  *    `:parse/transforming-child` prop overrides, 846-860)
  *  - containers (`:vector`/`:set`/`:tuple`/`:map`/`:map-of`) parse
  *    elements IN PLACE when a child transforms (collection parsers,
  *    core.cljc:1392-1412, 1530-1541, 1640-1650)
  * Parsing recurses through children, so nested tags nest structs
  * (parser_test.cljc:132-180 and-complex fixtures). Invalid input parses
  * to ::m/invalid — represented as NULL here (pair with the validator
  * when the distinction from a null field matters).
  *
  * Column-tier bound: where malli is dynamically typed, a Spark column
  * has ONE static type — branches of `:orn`/`:multi`/`:altn` must agree
  * on their parse output type (they do whenever the branches are simple,
  * the overwhelmingly common case); heterogeneous branch parse types
  * throw at compile time rather than mis-typing rows. */
object Parse {

  private def reg(implicit ctx: SchemaCompiler.Ctx): Registry = ctx.registry

  private def simple(ir: SchemaIR)(implicit ctx: SchemaCompiler.Ctx): Boolean =
    SchemaIR.simpleParser(ir, reg)

  private def unified(types: Seq[DataType], what: String): DataType =
    types.distinct match {
      case Seq(t) => t
      case ts => throw new IllegalArgumentException(
        s"$what branches must share one parse type at the Column tier, " +
          s"got ${ts.mkString(", ")} (use the row-level tier for " +
          "heterogeneous parses)")
    }

  /** Static output type of `parse(ir, col: dt)`. */
  def parseType(ir: SchemaIR, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): DataType =
    if (simple(ir)) dt
    else ir match {
      case SOrn(bs) =>
        StructType(Seq(StructField("tag", StringType),
          StructField("value", unified(bs.map(b => parseType(b._2, dt)), ":orn"))))
      case SAndn(bs) =>
        StructType(bs.map { case (tag, c) => StructField(tag, parseType(c, dt)) })
      case SOr(cs) => unified(cs.map(parseType(_, dt)), ":or")
      case SMulti(_, bs, default) =>
        val vt = unified((bs.map(_._2) ++ default).map(parseType(_, dt)), ":multi")
        StructType(Seq(StructField("tag", StringType), StructField("value", vt)))
      case SMultiExpr(_, _, _, bs, default) =>
        val vt = unified((bs.map(_._2) ++ default).map(parseType(_, dt)),
          ":multi")
        StructType(Seq(StructField("tag", StringType), StructField("value", vt)))
      case SProps(p, a: SAnd) =>
        andTransformingIdx(a.children, p, reg)
          .map(i => parseType(a.children(i), dt)).getOrElse(dt)
      case SAnd(cs) =>
        andTransformingIdx(cs, NodeProps.empty, reg)
          .map(i => parseType(cs(i), dt)).getOrElse(dt)
      case SMaybe(c) => parseType(c, dt)
      case SVector(c, _, _) => arrayOf(c, dt)
      case SSet(c, _, _) => arrayOf(c, dt)
      case SSeqable(c, _, _) => arrayOf(c, dt)
      case STuple(cs) => dt match {
        case StructType(fs) => StructType(fs.zip(cs).map { case (f, c) =>
          f.copy(dataType = parseType(c, f.dataType), nullable = true) })
        case other => other
      }
      case SMap(entries, _, _) => dt match {
        case st: StructType =>
          val byKey = entries.map(e => e.key -> e.child).toMap
          StructType(st.fields.map { f =>
            byKey.get(f.name).filterNot(simple(_)) match {
              case Some(c) => f.copy(dataType = parseType(c, f.dataType),
                nullable = true)
              case None => f
            }
          })
        case other => other
      }
      case SMapOf(k, v, _, _) => dt match {
        case MapType(kt, vt, _) =>
          if (!simple(k)) throw new IllegalArgumentException(
            ":map-of with a transforming KEY schema is not parseable at " +
              "the Column tier (parsed keys could collide or null)")
          MapType(kt, parseType(v, vt), valueContainsNull = true)
        case other => other
      }
      case SCatn(es) => dt match {
        case ArrayType(et, _) =>
          StructType(es.map {
            case (tag, SAltn(bs)) => StructField(tag, StructType(Seq(
              StructField("tag", StringType),
              StructField("value",
                unified(bs.map(b => parseType(b._2, et)), ":altn")))))
            case (tag, c) => StructField(tag, parseType(c, et))
          })
        case other => other
      }
      // a wrapper parses as the node it stands for; an untagged seq-regex
      // at this tier parses element-identical
      case w => SchemaCompiler.peel(w, ctx)
        .fold(dt) { case (c, inner) => parseType(c, dt)(inner) }
    }

  private def arrayOf(c: SchemaIR, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx): DataType = dt match {
    case ArrayType(et, _) => ArrayType(parseType(c, et), containsNull = true)
    case other => other
  }

  def parse(ir: SchemaIR, col: Column, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): Column =
    if (simple(ir))
      // identity-preserving parser (core.cljc:99-100): parse == input
      F.when(SchemaCompiler.valid(ir, col, dt), col)
        .otherwise(F.lit(null).cast(dt))
    else ir match {
      case SOrn(branches) =>
        val out = parseType(ir, dt)
        val vt = out.asInstanceOf[StructType]("value").dataType
        branches.foldRight(F.lit(null).cast(out)) { case ((tag, c), acc) =>
          F.when(SchemaCompiler.valid(c, col, dt),
            F.struct(F.lit(tag).as("tag"),
              parse(c, col, dt).cast(vt).as("value"))).otherwise(acc)
        }

      // :or composes child parsers — the first child that accepts the
      // value parses it (core.cljc:1018 ->parser reduce); branches must
      // share one parse type at this tier (unified), heterogeneous
      // parses belong to the row tier
      case SOr(cs) =>
        val out = parseType(ir, dt)
        cs.foldRight(F.lit(null).cast(out)) { case (c, acc) =>
          F.when(SchemaCompiler.valid(c, col, dt),
            parse(c, col, dt).cast(out)).otherwise(acc)
        }

      // :andn parses x against EVERY branch → Tags({tag → parse}); any
      // branch failing ⇒ ::m/invalid (core.cljc:954-965)
      case SAndn(branches) =>
        val out = parseType(ir, dt)
        F.when(SchemaCompiler.valid(ir, col, dt),
            F.struct(branches.map { case (tag, c) =>
              parse(c, col, dt).as(tag) }: _*))
          .otherwise(F.lit(null).cast(out))

      case SCatn(entries) =>
        dt match {
          case ArrayType(et, _) =>
            val out = parseType(ir, dt).asInstanceOf[StructType]
            val fields = entries.zipWithIndex.map { case ((tag, c), i) =>
              val elem = F.get(col, F.lit(i))
              c match {
                // an :altn entry parses its element to Tag(tag, value) —
                // the winning (first-matching) branch names the tag
                case SAltn(bs) =>
                  val tagT = out(tag).dataType.asInstanceOf[StructType]
                  val vt = tagT("value").dataType
                  bs.foldRight(F.lit(null).cast(tagT)) { case ((t2, c2), acc) =>
                    F.when(SchemaCompiler.valid(c2, elem, et),
                      F.struct(F.lit(t2).as("tag"),
                        parse(c2, elem, et).cast(vt).as("value")))
                      .otherwise(acc)
                  }.as(tag)
                case _ => parse(c, elem, et).as(tag)
              }
            }
            F.when(SchemaCompiler.valid(ir, col, dt), F.struct(fields: _*))
              .otherwise(F.lit(null).cast(out))
          case _ => F.lit(null)
        }

      case SMulti(dk, branches, default) =>
        dt match {
          case _: StructType =>
            val dv = col.getField(dk)
            val out = parseType(ir, dt).asInstanceOf[StructType]
            val vt = out("value").dataType
            // the ::m/default branch PARTICIPATES in parsing (a valid
            // default-branch row must not parse to ::m/invalid when the
            // validator accepts it) — tagged with the reserved segment,
            // matching explain's path convention
            val fallback = default match {
              case Some(d) =>
                F.when(SchemaCompiler.valid(d, col, dt),
                  F.struct(F.lit("malli.core/default").as("tag"),
                    parse(d, col, dt).cast(vt).as("value")))
                  .otherwise(F.lit(null).cast(out))
              case None => F.lit(null).cast(out)
            }
            branches.foldRight(fallback) { case ((tag, c), acc) =>
              F.when(dv === F.lit(tag) && SchemaCompiler.valid(c, col, dt),
                F.struct(F.lit(tag).as("tag"),
                  parse(c, col, dt).cast(vt).as("value"))).otherwise(acc)
            }
          case _ => F.lit(null)
        }

      case SMaybe(c) =>
        F.when(col.isNull, F.lit(null).cast(parseType(c, dt)))
          .otherwise(parse(c, col, dt))

      // :and — every child validates; the transforming child's parser
      // shapes the result (core.cljc:879-891)
      case SProps(p, a: SAnd) => parseAnd(a.children, p, col, dt)
      case SAnd(cs) => parseAnd(cs, NodeProps.empty, col, dt)

      // containers parse elements in place (only reached when a child
      // transforms — the simple fast path above covers the rest)
      case v @ SVector(c, _, _) => parseElems(v, c, col, dt)
      case v @ SSet(c, _, _) => parseElems(v, c, col, dt)
      case v @ SSeqable(c, _, _) => parseElems(v, c, col, dt)

      case t @ STuple(cs) => dt match {
        case st: StructType =>
          val out = parseType(t, dt)
          F.when(SchemaCompiler.valid(t, col, dt),
            F.struct(st.fields.zip(cs).map { case (f, c) =>
              parse(c, col.getField(f.name), f.dataType).as(f.name) }: _*))
            .otherwise(F.lit(null).cast(out))
        case _ => F.lit(null)
      }

      case m @ SMap(entries, _, _) => dt match {
        case st: StructType =>
          val out = parseType(m, dt)
          val byKey = entries.map(e => e.key -> e.child).toMap
          val rebuilt = F.struct(st.fields.map { f =>
            byKey.get(f.name).filterNot(simple(_)) match {
              case Some(c) => parse(c, col.getField(f.name), f.dataType)
                .as(f.name)
              case None => col.getField(f.name).as(f.name)
            }
          }: _*)
          F.when(SchemaCompiler.valid(m, col, dt), rebuilt)
            .otherwise(F.lit(null).cast(out))
        case _ => F.lit(null)
      }

      case m @ SMapOf(_, v, _, _) => dt match {
        case MapType(_, vt, _) =>
          val out = parseType(m, dt)
          F.when(SchemaCompiler.valid(m, col, dt),
            F.map_from_entries(F.transform(F.map_entries(col), e =>
              F.struct(e.getField("key").as("key"),
                parse(v, e.getField("value"), vt).as("value")))))
            .otherwise(F.lit(null).cast(out))
        case _ => F.lit(null)
      }

      // a wrapper parses as the node it stands for; an untagged seq-regex
      // over a typed array: every element parse is the element itself at
      // this tier → identity-on-valid
      case w => SchemaCompiler.peel(w, ctx) match {
        case Some((c, inner)) => parse(c, col, dt)(inner)
        case None => F.when(SchemaCompiler.valid(ir, col, dt), col)
          .otherwise(F.lit(null).cast(dt))
      }
    }

  private def parseAnd(children: Seq[SchemaIR], props: NodeProps,
                       col: Column, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx): Column =
    andTransformingIdx(children, props, reg) match {
      case None =>
        F.when(SchemaCompiler.valid(SAnd(children), col, dt), col)
          .otherwise(F.lit(null).cast(dt))
      case Some(i) =>
        val pt = parseType(children(i), dt)
        F.when(SchemaCompiler.valid(SAnd(children), col, dt),
            parse(children(i), col, dt))
          .otherwise(F.lit(null).cast(pt))
    }

  private def parseElems(whole: SchemaIR, c: SchemaIR, col: Column,
                         dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx): Column = dt match {
    case ArrayType(et, _) =>
      F.when(SchemaCompiler.valid(whole, col, dt),
          F.transform(col, x => parse(c, x, et)))
        .otherwise(F.lit(null).cast(ArrayType(parseType(c, et))))
    case _ => F.lit(null)
  }

  /** Inverse of parse (core.cljc:2700-2714). `dt` is the ORIGINAL
    * (pre-parse) type, as in [[parse]]. Tag-dispatched nodes unparse the
    * branch the stored tag names. */
  def unparse(ir: SchemaIR, parsed: Column, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()): Column =
    if (simple(ir)) parsed
    else ir match {
      case SOrn(bs) =>
        val v = parsed.getField("value")
        bs.foldRight(F.lit(null).cast(dt)) { case ((tag, c), acc) =>
          F.when(parsed.getField("tag") === F.lit(tag),
            unparse(c, v.cast(parseType(c, dt)), dt)).otherwise(acc)
        }
      case SMulti(_, bs, default) =>
        val v = parsed.getField("value")
        val fallback = default match {
          case Some(d) => unparse(d, v.cast(parseType(d, dt)), dt)
          case None => F.lit(null).cast(dt)
        }
        bs.foldRight(fallback) { case ((tag, c), acc) =>
          F.when(parsed.getField("tag") === F.lit(tag),
            unparse(c, v.cast(parseType(c, dt)), dt)).otherwise(acc)
        }
      // :or unparse = first child whose unparser succeeds, in child
      // order; a simple child's unparser is validate-or-invalid.
      // GUARD (reference ->unparser stops at the first non-::m/invalid
      // result, which CAN be nil): coalesce conflates "child unparsed to
      // NULL" with "child failed" and would fall through to a later
      // child. Safe ONLY under tier-1's one-unified-type restriction,
      // where no null-accepting branch is expressible here; if such a
      // branch ever becomes expressible, encode success separately from
      // the value (e.g. a struct of (ok, value)) instead of coalesce.
      case SOr(cs) =>
        val candidates = cs.map { c =>
          if (simple(c))
            F.when(SchemaCompiler.valid(c, parsed.cast(dt), dt),
              parsed.cast(dt))
          else unparse(c, parsed.cast(parseType(c, dt)), dt)
        }
        F.coalesce(candidates :+ F.lit(null).cast(dt): _*)

      // :andn unparses the LEFT-MOST branch's value (core.cljc:967-979)
      case SAndn(branches) =>
        val (tag0, c0) = branches.head
        unparse(c0, parsed.getField(tag0), dt)
      case SCatn(entries) =>
        val et = dt match {
          case ArrayType(t, _) => t
          case other => other
        }
        F.array(entries.map {
          case (tag, SAltn(bs)) =>
            val tagged = parsed.getField(tag)
            val v = tagged.getField("value")
            bs.foldRight(F.lit(null).cast(et)) { case ((t2, c2), acc) =>
              F.when(tagged.getField("tag") === F.lit(t2),
                unparse(c2, v.cast(parseType(c2, et)), et)).otherwise(acc)
            }
          case (tag, c) => unparse(c, parsed.getField(tag), et)
        }: _*)
      case SMaybe(c) => F.when(parsed.isNull, F.lit(null).cast(dt))
        .otherwise(unparse(c, parsed, dt))
      case SProps(p, a: SAnd) =>
        andTransformingIdx(a.children, p, reg)
          .map(i => unparse(a.children(i), parsed, dt)).getOrElse(parsed)
      case SAnd(cs) =>
        andTransformingIdx(cs, NodeProps.empty, reg)
          .map(i => unparse(cs(i), parsed, dt)).getOrElse(parsed)
      case SVector(c, _, _) => unparseElems(c, parsed, dt)
      case SSet(c, _, _) => unparseElems(c, parsed, dt)
      case SSeqable(c, _, _) => unparseElems(c, parsed, dt)
      case STuple(cs) => dt match {
        case st: StructType =>
          F.when(parsed.isNull, F.lit(null).cast(dt)).otherwise(
            F.struct(st.fields.zip(cs).map { case (f, c) =>
              unparse(c, parsed.getField(f.name), f.dataType).as(f.name)
            }: _*))
        case _ => parsed
      }
      case SMap(entries, _, _) => dt match {
        case st: StructType =>
          val byKey = entries.map(e => e.key -> e.child).toMap
          F.when(parsed.isNull, F.lit(null).cast(dt)).otherwise(
            F.struct(st.fields.map { f =>
              byKey.get(f.name).filterNot(simple(_)) match {
                case Some(c) => unparse(c, parsed.getField(f.name),
                  f.dataType).as(f.name)
                case None => parsed.getField(f.name).as(f.name)
              }
            }: _*))
        case _ => parsed
      }
      case SMapOf(_, v, _, _) => dt match {
        case MapType(_, vt, _) =>
          F.when(parsed.isNull, F.lit(null).cast(dt)).otherwise(
            F.map_from_entries(F.transform(F.map_entries(parsed), e =>
              F.struct(e.getField("key").as("key"),
                unparse(v, e.getField("value"), vt).as("value")))))
        case _ => parsed
      }
      case w => SchemaCompiler.peel(w, ctx)
        .fold(parsed) { case (c, inner) => unparse(c, parsed, dt)(inner) }
    }

  private def unparseElems(c: SchemaIR, parsed: Column, dt: DataType)(
      implicit ctx: SchemaCompiler.Ctx): Column = dt match {
    case ArrayType(et, _) =>
      F.when(parsed.isNull, F.lit(null).cast(dt))
        .otherwise(F.transform(parsed, x =>
          unparse(c, x, et)).cast(dt))
    case _ => parsed
  }
}
