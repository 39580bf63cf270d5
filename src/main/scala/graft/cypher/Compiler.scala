package graft.cypher

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.J
import graft.graph.GraphId
import graft.jsonb._
import Ast._

/** Variable kinds flowing through a Cypher pipeline. */
sealed trait Kind
object Kind {
  case object KV extends Kind  // vertex struct(id, properties)
  case object KE extends Kind  // edge struct(id, start, end, properties)
  case object KP extends Kind  // path struct(vertices, edges)
  case object KEL extends Kind // VLE edge array<edge struct>
  case object KVL extends Kind // vertex array<vertex struct> (nodes(p))
  case object KPL extends Kind // path array (allshortestpaths as expression)
  case object KJ extends Kind  // jsonb value (canonical string)
  case object KB extends Kind  // SQL boolean (from comparisons)
}

/** Compiles Cypher AST expressions to Spark Columns against a set of
  * bound variables (SURVEY §3.1: each clause is DataFrame->DataFrame;
  * expressions compile to Catalyst columns inside those plans).
  */
final class Compiler(
    kinds: Map[String, Kind],
    params: Map[String, JValue],
    labidToName: Map[Int, String],
    labidToLabelsJson: Map[Int, String] = Map.empty,
    lambdaVars: Map[String, (Column, Kind)] = Map.empty,
    frameCols: Set[String] = Set.empty) {

  import Kind._

  /** Nested scope for list-comprehension / list-predicate lambda
    * variables (jsonb elements by default; edge/vertex structs when
    * iterating a path's element arrays).
    */
  def withLambda(name: String, el: Column, kind: Kind = KJ): Compiler =
    new Compiler(kinds, params, labidToName, labidToLabelsJson,
      lambdaVars + (name -> (el, kind)), frameCols)

  // ------------------------------------------------- property shredding

  /** Shredded sidecar column of `varName.key` riding in the frame
    * ("j" = jsonb value text, "n" = exact decimal, "s" = raw string),
    * if the label scan carried one (see GraphCatalog shredding).
    */
  private def shredded(typ: String, e: Expr, key: String): Option[Column] = e match {
    case Vbl(n) if !lambdaVars.contains(n) &&
        (kinds.get(n).contains(KV) || kinds.get(n).contains(KE)) =>
      val c = Compiler.shCol(typ, n, key)
      if (frameCols(c)) Some(col(Compiler.q(c))) else None
    case _ => None
  }

  /** Literal numeric value exactly representable in decimal(38,18)
    * (the shred column type) — safe for a native pushdown comparison.
    */
  private def decimalLit(e: Expr): Option[java.math.BigDecimal] = {
    val v = e match {
      case Lit(JNum(n)) => Some(n)
      case Param(p) => params.get(p).collect { case JNum(n) => n }
      case _ => None
    }
    v.filter(n => n.scale <= 18 && n.precision - n.scale <= 20)
  }

  private def stringLit(e: Expr): Option[String] = e match {
    case Lit(JStr(s)) => Some(s)
    case Param(p) => params.get(p).collect { case JStr(s) => s }
    case _ => None
  }

  /** Native comparison against a typed shred column: jsonb number
    * order IS BigDecimal order and the engine's jsonb string order IS
    * codepoint order (`Jsonb.codepointCmp` — per-byte UTF-8, i.e.
    * exactly the order of Spark's UTF8String comparisons and parquet's
    * binary min/max stats), so ALL six comparisons compile to plain
    * Catalyst predicates that reach the parquet scan (row-group stats /
    * bloom pruning at scale). Exactness for strings: `__ps_k` exists
    * only for uniformly-string keys (GraphCatalog batchKeyTypes; JSON
    * nulls degrade the key), so every present value is a string — the
    * jsonb rank-first compare never takes the cross-rank branch — and
    * a missing key is SQL NULL on both the jsonb path and the sidecar
    * (both comparisons yield not-true). Range ops on MIXED-type keys
    * have no "s" sidecar and correctly stay on the jsonb rank-order
    * path.
    */
  private def shredCmp(op: String, l: Expr, r: Expr): Option[Column] = (l, r) match {
    case (Prop(b, k), rhs) =>
      shredded("n", b, k).flatMap { nc =>
        decimalLit(rhs).map { num =>
          val lv = lit(num)
          op match {
            case "=" => nc === lv
            case "<>" => nc =!= lv
            case "<" => nc < lv
            case ">" => nc > lv
            case "<=" => nc <= lv
            case ">=" => nc >= lv
          }
        }
      }.orElse {
        shredded("s", b, k).flatMap { sc =>
          stringLit(rhs).map { s =>
            val lv = lit(s)
            op match {
              case "=" => sc === lv
              case "<>" => sc =!= lv
              case "<" => sc < lv
              case ">" => sc > lv
              case "<=" => sc <= lv
              case ">=" => sc >= lv
            }
          }
        }
      }
    case _ => None
  }

  final case class CE(col: Column, kind: Kind)

  /** jsonb view of any compiled value (elements render via their
    * properties are NOT auto-unwrapped — matches PG where vertex→jsonb
    * is an explicit cast; we only coerce bools).
    */
  def toJ(ce: CE): Column = ce.kind match {
    case KJ => ce.col
    case KB => when(ce.col.isNull, lit(null: String))
      .when(ce.col, lit("true")).otherwise(lit("false"))
    case KV | KE => elementToJsonb(ce)
    case KP | KEL | KVL => ce.col // structs; used only for equality/rendering
  }

  private def elementToJsonb(ce: CE): Column = ce.col.getField("properties")

  def toBool(ce: CE): Column = ce.kind match {
    case KB => ce.col
    case KJ => J.toBool(ce.col)
    case _ => lit(true)
  }

  def kindOf(e: Expr): Kind = e match {
    case Vbl(n) => kinds.getOrElse(n, KJ)
    case _: Cmp | _: And | _: Or | _: Not | _: IsNull | _: StrPred |
         _: InList | _: ListPred => KB
    case CountStar => KJ
    case FnCall(n, _, _) if Compiler.boolFns(n) => KB
    case _ => KJ
  }

  def compile(e: Expr): CE = e match {
    case Lit(v) =>
      if (v == JNull) CE(lit(null).cast("string"), KJ)
      else CE(lit(v.render), KJ)
    case Param(n) =>
      val v = params.getOrElse(n,
        throw new IllegalArgumentException(s"missing parameter $$$n"))
      if (v == JNull) CE(lit(null).cast("string"), KJ) else CE(lit(v.render), KJ)
    case SqlSubquery(sql) =>
      val v = Compiler.evalSqlSubquery(sql)
      if (v == JNull) CE(lit(null).cast("string"), KJ) else CE(lit(v.render), KJ)
    case Vbl(n) =>
      lambdaVars.get(n) match {
        case Some((c, k)) => CE(c, k)
        case None => kinds.get(n) match {
          case Some(k) => CE(col(Compiler.q(n)), k)
          case None => throw new IllegalArgumentException(s"variable `$n` not defined")
        }
      }

    case Prop(base, key) =>
      shredded("j", base, key) match {
        case Some(pj) => CE(pj, KJ) // materialized properties->key: no parse
        case None =>
          val b = compile(base)
          b.kind match {
            case KV | KE => CE(J.getKey(b.col.getField("properties"), key), KJ)
            case KJ     => CE(J.getKey(b.col, key), KJ)
            case _ => throw new IllegalArgumentException(s"cannot access property on $base")
          }
      }

    case Index(base, idx) =>
      val b = compile(base)
      val i = compile(idx)
      b.kind match {
        case KJ      => CE(J.getDyn(b.col, toJ(i)), KJ)
        case KV | KE  => CE(J.getDyn(b.col.getField("properties"), toJ(i)), KJ)
        case KEL     => // edges array: r[0] is an edge (1-based element_at)
          CE(element_at(b.col, (J.toLong(toJ(i)) + 1L).cast("int")), KE)
        case KVL     => // vertex array: nodes(p)[0] is a vertex
          CE(element_at(b.col, (J.toLong(toJ(i)) + 1L).cast("int")), KV)
        case KP      => throw new IllegalArgumentException("cannot index a path")
        case KB      => throw new IllegalArgumentException("cannot index a boolean")
      }

    case Slice(base, from, to) =>
      val b = compile(base)
      val f = from.map(x => toJ(compile(x))).getOrElse(lit(null).cast("string"))
      val t = to.map(x => toJ(compile(x))).getOrElse(lit(null).cast("string"))
      CE(J.slice(toJ(b), f, t), KJ)

    case ListExpr(items) =>
      // [a, b, ...] — SQL NULL members become jsonb null inside lists
      val cols = items.map(i => coalesce(toJ(compile(i)), lit("null")))
      val joined = if (cols.isEmpty) lit("[]")
        else concat(lit("["), concat_ws(", ", cols: _*), lit("]"))
      CE(joined, KJ)

    case MapExpr(fields) =>
      // null-valued keys are dropped at construction (reference
      // transformCypherMapExpr behavior shown in cypher_expr.out), and
      // keys must come out in PG jsonb order -> normalize through a
      // parse/render pass
      val pairs = fields.map { case (k, v) =>
        val vc = toJ(compile(v))
        when(vc.isNull, lit(null: String))
          .otherwise(concat(lit(JStr(k).render + ": "), vc))
      }
      val parts = array(pairs: _*)
      val kept = filter(parts, x => x.isNotNull)
      val rawJson = concat(lit("{"), array_join(kept, ", "), lit("}"))
      CE(graft.expr.JsonbNormalize.normalize(rawJson), KJ)

    case BinOp(op, l, r) =>
      val lc = toJ(compile(l)); val rc = toJ(compile(r))
      val c = op match {
        case "+" => J.add(lc, rc)
        case "-" => J.sub(lc, rc)
        case "*" => J.mul(lc, rc)
        case "/" => J.div(lc, rc)
        case "%" => J.mod(lc, rc)
        case "^" => J.pow(lc, rc)
      }
      CE(c, KJ)

    case UnaryOp(op, x) =>
      val c = toJ(compile(x))
      CE(if (op == "-") J.uminus(c) else J.uplus(c), KJ)

    case Cmp(op, l, r) if shredCmp(op, l, r).isDefined =>
      CE(shredCmp(op, l, r).get, KB)
    case Cmp(op, l, r) if shredCmp(Compiler.flipOp(op), r, l).isDefined =>
      CE(shredCmp(Compiler.flipOp(op), r, l).get, KB)
    case Cmp(op, l, r) =>
      val lc = compile(l); val rc = compile(r)
      // element comparisons go by id (graphid equality), jsonb by btree order
      (lc.kind, rc.kind) match {
        case (KV, KV) | (KE, KE) =>
          val li = lc.col.getField("id"); val ri = rc.col.getField("id")
          CE(op match {
            case "=" => li === ri
            case "<>" => li =!= ri
            case "<" => li < ri
            case ">" => li > ri
            case "<=" => li <= ri
            case ">=" => li >= ri
          }, KB)
        case _ =>
          val lj = toJ(lc); val rj = toJ(rc)
          CE(op match {
            case "=" => J.eq(lj, rj)
            case "<>" => J.ne(lj, rj)
            case "<" => J.lt(lj, rj)
            case ">" => J.gt(lj, rj)
            case "<=" => J.le(lj, rj)
            case ">=" => J.ge(lj, rj)
          }, KB)
      }

    case And(l, r) => CE(toBool(compile(l)) && toBool(compile(r)), KB)
    case Or(l, r)  => CE(toBool(compile(l)) || toBool(compile(r)), KB)
    case Not(x)    => CE(!toBool(compile(x)), KB)

    case IsNull(x, negated) =>
      val c = compile(x)
      CE(if (negated) c.col.isNotNull else c.col.isNull, KB)

    case StrPred(op, l, r) =>
      // a raw-string shred column feeds StringStartsWith/EndsWith/
      // Contains directly (all pushable parquet source filters)
      val shred = l match {
        case Prop(b, k) => shredded("s", b, k)
        case _ => None
      }
      val lt = shred.getOrElse(J.asText(toJ(compile(l))))
      val rt = J.asText(toJ(compile(r)))
      val c = op match {
        case "startswith" => lt.startsWith(rt)
        case "endswith"   => lt.endsWith(rt)
        case "contains"   => lt.contains(rt)
        case "regex"      =>
          val base = lt.rlike_(rt)
          // anchored literal-pattern prefix becomes a parquet-prunable
          // startsWith conjunct (PG turns `~ '^foo'` into an index
          // range scan the same way); RLike is an unanchored find with
          // `^` = input start, so a TRUE match REQUIRES the prefix —
          // NULL-parity holds (both sides NULL on a missing key)
          (shred, stringLit(r)) match {
            case (Some(sc), Some(pat)) =>
              graft.jsonb.JsonPath.regexLiteralPrefix(pat, "") match {
                case Some(p) => sc.startsWith(lit(p)) && base
                case None => base
              }
            case _ => base
          }
      }
      CE(c, KB)

    case InList(x, listE, negated) =>
      val xc = toJ(compile(x))
      val lc = toJ(compile(listE))
      // the RHS must be a list (or NULL -> NULL): "RETURN 1 IN 1"
      // errors "CypherList is expected but integer" in the reference
      // (transformCypherExpr); canonical jsonb identifies arrays by
      // their first character, so the guard is one codegen'd compare
      val c0 = J.contains(lc, xc) // scalar-in-array containment
      val c = when(lc.isNull, lit(null).cast("boolean"))
        .when(substring(lc, 1, 1) === "[", c0)
        .otherwise(raise_error(concat(lit("CypherList is expected but "),
          lc)).cast("boolean"))
      CE(if (negated) !c else c, KB)

    case CaseExpr(operand, whens, els) =>
      val cases: Seq[(Column, Column)] = operand match {
        case Some(opnd) =>
          val oc = toJ(compile(opnd))
          whens.map { case (w, t) => (J.eq(oc, toJ(compile(w))), toJ(compile(t))) }
        case None =>
          whens.map { case (w, t) => (toBool(compile(w)), toJ(compile(t))) }
      }
      val start = when(cases.head._1, cases.head._2)
      val chained = cases.tail.foldLeft(start) { case (acc, (c, v)) => acc.when(c, v) }
      CE(els.map(e => chained.otherwise(toJ(compile(e)))).getOrElse(chained), KJ)

    case ListComp(v, listE, whereE, projE) =>
      // compile over Spark arrays: split the jsonb array into elements
      // with a higher-order function; inner expr compiled per-element.
      // Path element arrays (nodes(p)/relationships(p)) iterate as
      // vertex/edge structs (cypher_dml2.sql [x in nodes(p) | x.age]).
      val ce = compile(listE)
      ce.kind match {
        case KVL | KEL =>
          val elKind = if (ce.kind == KVL) KV else KE
          val filtered = whereE match {
            case Some(w) => filter(ce.col, el => {
              val c = withLambda(v, el, elKind); c.toBool(c.compile(w))
            })
            case None => ce.col
          }
          val projected = projE match {
            case Some(p) => transform(filtered, el => {
              val c = withLambda(v, el, elKind)
              coalesce(c.toJ(c.compile(p)), lit("null"))
            })
            case None =>
              transform(filtered, el =>
                coalesce(el.getField("properties"), lit("null")))
          }
          CE(concat(lit("["), array_join(projected, ", "), lit("]")), KJ)
        case _ =>
          CE(Compiler.listCompColumn(toJ(ce), v, whereE, projE, this), KJ)
      }

    case ListPred(op, v, listE, w) =>
      // all/any/none/single(x IN list WHERE pred): HOF quantifiers;
      // path element arrays iterate as edge/vertex structs, anything
      // else as jsonb elements. 3VL: a null list yields SQL NULL.
      val ce = compile(listE)
      val (arr, elKind) = ce.kind match {
        case KEL => (ce.col, KE)
        case KVL => (ce.col, KV)
        case _ => (graft.expr.JsonbNormalize.splitArray(toJ(ce)), KJ)
      }
      def pred(el: Column): Column = {
        val c = withLambda(v, el, elKind)
        c.toBool(c.compile(w))
      }
      val out = op match {
        case "all" => forall(arr, pred)
        case "any" => exists(arr, pred)
        case "none" => !exists(arr, pred)
        case "single" =>
          size(filter(arr, el => coalesce(pred(el), lit(false)))) === 1
      }
      CE(out, KB)

    case CountStar =>
      throw new IllegalArgumentException("count(*) outside aggregation context")

    case FnCall(name, args, _) => compileFn(name, args)

    case _: ShortestPathExpr =>
      throw new IllegalArgumentException("shortestpath as expression must be bound in MATCH")

    case _: ExistsPattern | _: SizePattern =>
      // these rewrite to hidden columns before compilation
      // (Builder.rewriteExistsPatterns); reaching here means the
      // expression sits in an unsupported position
      throw new IllegalArgumentException(
        "pattern predicates (exists/size over a pattern) are supported in WHERE and RETURN/WITH items only")
  }

  private implicit final class ColExt(private val c: Column) {
    def rlike_(r: Column): Column = {
      // Column.rlike takes a literal string; use expr-level RLike for
      // column patterns
      import org.apache.spark.sql.graft.ColumnBridge
      import org.apache.spark.sql.catalyst.expressions.RLike
      ColumnBridge.column(RLike(ColumnBridge.expression(c), ColumnBridge.expression(r)))
    }
  }

  private def compileFn(name: String, args: Seq[Expr]): CE = {
    def a0 = compile(args(0))
    def j0 = toJ(a0)
    def numFn(f: Column => Column, scale: Int = -1): CE = {
      val d = f(J.toDouble(j0))
      CE(J.fromDouble(d), KJ)
    }
    name match {
      case "id" => CE(J.fromLong(a0.col.getField("id")), KJ)
      case "properties" => CE(a0.col.getField("properties"), KJ)
      case "label" | "type" =>
        val m = Compiler.labidMapCol(labidToName)
        CE(J.fromText(element_at(m, GraphId.labidOf(a0.col.getField("id")))), KJ)
      case "labels" =>
        // labid -> pre-rendered ancestor-closure json array (diamond-safe
        // closure computed by the catalog; broadcast literal map)
        val m = Compiler.labidMapCol(labidToLabelsJson)
        CE(element_at(m, GraphId.labidOf(a0.col.getField("id"))), KJ)
      case "startid" => CE(J.fromLong(a0.col.getField("start")), KJ)
      case "endid" => CE(J.fromLong(a0.col.getField("end")), KJ)
      case "idtext" =>
        // graphid display form "labid.locid" (graphid_out graph.c:145-
        // 186); id() keeps the packed long so ordering/joins stay
        // numeric like the reference's graphid comparisons
        val gid = a0.col.getField("id")
        CE(J.fromText(concat_ws(".",
          GraphId.labidOf(gid).cast("string"),
          gid.bitwiseAND(lit(GraphId.LocidMax)).cast("string"))), KJ)
      case "length" =>
        a0.kind match {
          case Kind.KP  => CE(J.fromLong(size(a0.col.getField("edges")).cast("long")), KJ)
          // allshortestpaths-as-expression: length() = path COUNT
          // (cypher_shortestpath.sql:139 — graphpath[] semantics)
          case Kind.KPL => CE(J.fromLong(size(a0.col).cast("long")), KJ)
          case Kind.KEL | Kind.KVL => CE(J.fromLong(size(a0.col).cast("long")), KJ)
          case _       => CE(J.fromLong(J.lengthOf(j0)), KJ)
        }
      case "size" => a0.kind match {
        // element arrays (nodes(p)/relationships(p)) count natively —
        // same dispatch as length(); only jsonb values go through J
        case Kind.KEL | Kind.KVL => CE(J.fromLong(size(a0.col).cast("long")), KJ)
        case _ => CE(J.fromLong(J.lengthOf(j0)), KJ)
      }
      case "nodes" | "vertices" =>
        CE(a0.col.getField("vertices"), Kind.KVL)
      case "relationships" | "edges" =>
        CE(a0.col.getField("edges"), Kind.KEL)
      // head/last/tail work on jsonb lists AND element arrays
      // (cypher_funcs.c array_head/array_last/array_tail :1248-1338)
      case "head" => a0.kind match {
        case KEL => CE(element_at(a0.col, 1), KE)
        case KVL => CE(element_at(a0.col, 1), KV)
        case _   => CE(J.head(j0), KJ)
      }
      case "last" => a0.kind match {
        case KEL => CE(element_at(a0.col, -1), KE)
        case KVL => CE(element_at(a0.col, -1), KV)
        case _   => CE(J.last(j0), KJ)
      }
      case "tail" => a0.kind match {
        case KEL => CE(slice(a0.col, 2, Int.MaxValue), KEL)
        case KVL => CE(slice(a0.col, 2, Int.MaxValue), KVL)
        case _   => CE(J.tail(j0), KJ)
      }
      case "keys" => CE(J.keysOf(j0), KJ)
      case "range" =>
        val from = J.toLong(toJ(compile(args(0))))
        val to = J.toLong(toJ(compile(args(1))))
        val step = if (args.length > 2) J.toLong(toJ(compile(args(2)))) else lit(1L)
        // inverted bounds are an EMPTY list (openCypher range; PG
        // generate_series(5,1) is zero rows) — Spark's sequence()
        // instead throws "Illegal sequence boundaries", which would
        // kill any data-dependent range(a, b) the moment one row has
        // b < a. CaseWhen evaluates only the branch taken, so the
        // sequence never runs for inverted bounds; NULL operands fall
        // through to the otherwise branch and propagate as NULL.
        val inverted = (step > lit(0L) && from > to) ||
          (step < lit(0L) && from < to)
        val arr = transform(sequence(from, to, step), x => x.cast("string"))
        CE(when(inverted, lit("[]"))
          .otherwise(concat(lit("["), array_join(arr, ", "), lit("]"))), KJ)
      case "coalesce" =>
        CE(coalesce(args.map(x => toJ(compile(x))): _*), KJ)
      case "toboolean" => CE(J.toBooleanFn(j0), KJ)
      case "tostring" => CE(J.toStringFn(j0), KJ)
      case "tointeger" => CE(J.fromLong(J.toLong(j0)), KJ)
      case "tofloat" => CE(J.fromDouble(J.toDouble(j0)), KJ)
      // math (cypher_funcs.c:238-540; log -> ln rename)
      case "abs" => numFn(abs)
      case "ceil" => numFn(ceil(_).cast("double"))
      case "floor" => numFn(floor(_).cast("double"))
      case "round" => numFn(x => round(x, 0))
      case "sign" => numFn(signum)
      case "sqrt" => numFn(sqrt)
      case "exp" => numFn(exp)
      // AG249: log() == ln() (natural log, openCypher semantics)
      case "log" | "ln" => numFn(log(_))
      case "log10" => numFn(log10)
      case "sin" => numFn(sin)
      case "cos" => numFn(cos)
      case "tan" => numFn(tan)
      case "cot" => numFn(x => lit(1.0) / tan(x))
      case "asin" => numFn(asin)
      case "acos" => numFn(acos)
      case "atan" => numFn(atan)
      case "atan2" =>
        CE(J.fromDouble(atan2(J.toDouble(j0), J.toDouble(toJ(compile(args(1)))))), KJ)
      case "degrees" => numFn(degrees)
      case "radians" => numFn(radians)
      case "pi" => CE(J.fromDouble(lit(Math.PI)), KJ)
      case "rand" => CE(J.fromDouble(rand()), KJ)
      // strings (cypher_funcs.c:541-826; substring is 0-based!)
      case "tolower" | "lower" => CE(J.fromText(lower(J.asText(j0))), KJ)
      case "toupper" | "upper" => CE(J.fromText(upper(J.asText(j0))), KJ)
      case "trim" => CE(J.fromText(trim(J.asText(j0))), KJ)
      case "ltrim" => CE(J.fromText(ltrim(J.asText(j0))), KJ)
      case "rtrim" => CE(J.fromText(rtrim(J.asText(j0))), KJ)
      case "reverse" => CE(J.fromText(reverse(J.asText(j0))), KJ)
      case "left" =>
        CE(J.fromText(substring(J.asText(j0), lit(1),
          J.toLong(toJ(compile(args(1)))).cast("int"))), KJ)
      case "right" =>
        val s = J.asText(j0)
        val n = J.toLong(toJ(compile(args(1)))).cast("int")
        CE(J.fromText(substring(s, -n, n)), KJ)
      case "replace" =>
        CE(J.fromText(replace(J.asText(j0), J.asText(toJ(compile(args(1)))),
          J.asText(toJ(compile(args(2)))))), KJ)
      case "substring" =>
        // 0-based start, PG window-clamp semantics (text.c substr):
        // the window is [start, start+len) in 0-based chars, clipped
        // to the string — a negative start CONSUMES length rather
        // than counting from the end (substring('123', -1, 1) = "",
        // cypher_substring.out:9-13). Spark's substring treats
        // pos <= 0 as from-the-end, so clamp before delegating.
        val s = J.asText(j0)
        val start1 = (J.toLong(toJ(compile(args(1)))) + 1L) // 1-based, may be < 1
        val lo = greatest(start1, lit(1L))
        // substr is STRICT: any NULL argument yields NULL — guarded
        // explicitly because greatest()/substring() SKIP nulls rather
        // than propagate them (a null start would otherwise return the
        // whole string)
        if (args.length > 2) {
          // PG's substr errors on a negative length ("negative substring
          // length not allowed", text.c) — do not clamp it to empty;
          // strictness means the error fires only on fully non-null rows
          val len0 = J.toLong(toJ(compile(args(2))))
          val len = when(
            s.isNotNull && start1.isNotNull && len0.isNotNull && len0 < 0,
            raise_error(lit("negative substring length not allowed"))
              .cast("long")).otherwise(len0)
          val clipped = greatest(start1 + len - lo, lit(0L)).cast("int")
          CE(when(s.isNull || start1.isNull || len0.isNull,
            lit(null).cast("string"))
            .otherwise(J.fromText(substring(s, lo.cast("int"), clipped))), KJ)
        } else CE(when(s.isNull || start1.isNull, lit(null).cast("string"))
          .otherwise(J.fromText(
            substring(s, lo.cast("int"), lit(Int.MaxValue)))), KJ)
      case "split" =>
        val s = J.asText(j0)
        val sep = J.asText(toJ(compile(args(1))))
        val parts = split(s, sep, lit(-1)) // literal-ish; regex semantics accepted
        // each part must be rendered as a canonical jsonb string
        // (J.fromText escapes quotes/backslashes/control chars) — bare
        // quote-wrapping would emit invalid jsonb for any part
        // containing " or \
        val quoted = transform(parts, p => J.fromText(p))
        CE(concat(lit("["), array_join(quoted, ", "), lit("]")), KJ)
      case "isempty" =>
        // isEmpty(list/map/string): size == 0; SQL NULL input -> NULL
        CE(J.lengthOf(j0) === 0, KB)
      case "timestamp" =>
        CE(J.fromLong((unix_millis(current_timestamp()))), KJ)
      case "startnode" | "endnode" =>
        throw new IllegalArgumentException(s"$name() requires builder support (join)")
      case pfn @ ("jsonb_path_exists" | "jsonb_path_exists_tz" |
                  "jsonb_path_match" | "jsonb_path_match_tz")
          if args.length >= 2 && args.length <= 4 =>
        // Literal-path jsonb_path_exists compiles to the native
        // expression directly (no astext round trip), and — when the
        // document is properties(v) of a scanned element and the path
        // is a lax non-predicate `$.k ...` — gains a shredded-sidecar
        // `__pj_k IS NOT NULL` prefix conjunct. The conjunct is exact
        // (lax `$.k` on a missing key is empty, so exists is false
        // precisely when the sidecar is NULL), evaluates before the
        // path engine, and reaches the parquet scan as a pushed filter
        // (row-group null-count pruning). Reference: `@?` /
        // jsonb_path_exists (jsonpath_exec.c) + the shredding design
        // in GraphCatalog.
        import org.apache.spark.sql.graft.ColumnBridge
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.types.StringType
        import org.apache.spark.unsafe.types.UTF8String
        val pathLit = stringLit(args(1))
        val docE = ColumnBridge.expression(toJ(compile(args(0))))
        // a literal path rides as a plain string literal; a computed
        // one takes its text form (jsonb string -> unquoted) so both
        // spellings reach the same native expression and return kind
        val pathE = pathLit match {
          case Some(pth) => Literal(UTF8String.fromString(pth), StringType)
          case None => ColumnBridge.expression(J.asText(toJ(compile(args(1)))))
        }
        val varsE =
          if (args.length > 2) ColumnBridge.expression(toJ(compile(args(2))))
          else Literal(null, StringType)
        val silentE =
          if (args.length > 3) ColumnBridge.expression(toBool(compile(args(3))))
          else Literal(false)
        val isMatch = pfn.startsWith("jsonb_path_match")
        val base = ColumnBridge.column(graft.expr.ops.JsonbPathFunction(
          if (isMatch) "match" else "exists", tz = pfn.endsWith("_tz"),
          Seq(docE, pathE, varsE, silentE)))
        // sidecar guard: literal paths only (the shape must be known
        // at plan time to prove the conjunct exact). exists: lax
        // non-predicate `$.k ...`; match: lax top-level predicate
        // whose truth requires `$.k` (see leadingLaxPredKey). A match
        // of the exact form `$.k OP literal` upgrades from the
        // presence guard to a TYPED VALUE comparison against the
        // numeric/string shred column — jsonpath numeric compare is
        // BigDecimal order and the sidecar exists only for uniformly
        // ShredNumRe-exact keys (JSON nulls/strings/containers degrade
        // it), so `__pn_k OP lit` is a sound conjunct that parquet
        // prunes by row-group min/max, same as the native `n.k OP lit`
        // path (shredCmp). The jsonpath predicate always stays in the
        // filter — the guard only prunes.
        val guard = (args(0), pathLit) match {
          case (FnCall("properties", Seq(v @ Vbl(_)), _), Some(pth)) =>
            // the typed form: match `$.k OP lit [&& …]`, exists
            // `$.k ? (@ OP lit [&& …]) …` — every qualifying AND-spine
            // leaf becomes one conjunct (a range filter pushes BOTH
            // bounds), same soundness argument per leaf
            val typedCmps =
              if (isMatch) graft.jsonb.JsonPath.leadingLaxPredCmp(pth)
              else graft.jsonb.JsonPath.leadingLaxFilterCmp(pth)
            val typed = typedCmps.flatMap {
              case (k, op, Left(num))
                  if num.scale <= 18 && num.precision - num.scale <= 20 =>
                shredded("n", v, k).map { nc =>
                  val lv = lit(num)
                  op match {
                    case "==" => nc === lv
                    case "!=" => nc =!= lv
                    case "<"  => nc < lv
                    case ">"  => nc > lv
                    case "<=" => nc <= lv
                    case ">=" => nc >= lv
                  }
                }
              case (k, op, Right(s)) =>
                // jsonpath string compare is codepoint collation
                // (compareStrings, jsonpath_exec.c:2201) == UTF8String
                // binary order, so the four range ops push like the
                // numeric ones (parquet binary min/max prunes)
                shredded("s", v, k).flatMap { sc =>
                  val lv = lit(s)
                  op match {
                    case "==" => Some(sc === lv)
                    case "!=" => Some(sc =!= lv)
                    case "<"  => Some(sc < lv)
                    case ">"  => Some(sc > lv)
                    case "<=" => Some(sc <= lv)
                    case ">=" => Some(sc >= lv)
                    case "startswith" => Some(sc.startsWith(lv))
                    case _ => None
                  }
                }
              case _ => None
            }
            typed.reduceOption(_ && _).orElse(
              (if (isMatch) graft.jsonb.JsonPath.leadingLaxPredKey(pth)
               else graft.jsonb.JsonPath.leadingLaxKey(pth))
                .flatMap(k => shredded("j", v, k)).map(_.isNotNull))
          case _ => None
        }
        CE(guard.map(g => g && base).getOrElse(base), KB)

      case other if Compiler.sessionFnExists(other) =>
        // SQL/user-function interop (§2.11; reference: any pg_proc
        // function is callable from a Cypher expression — the plpgsql
        // UDFs of cypher_plpgsql.sql and the ids() helper of
        // cypher_shortestpath.sql:11-24 are driven exactly this way).
        // PG casts jsonb arguments to the function's declared argtypes;
        // the Spark analog sends each argument in its astext form
        // (string → unquoted text, number/bool → literal text,
        // container → json text) and lets Catalyst's implicit input
        // casts coerce to the UDF's declared parameter types. The
        // result folds back into jsonb space through to_json +
        // canonical normalize (the same door the scalar SQL sublink
        // uses); SQL NULL results stay SQL NULL (Cypher has no
        // 'null'::jsonb — parse_cypher_expr.c:11-19).
        val natives = args.map(x => J.asText(toJ(compile(x))))
        val res = call_udf(other, natives: _*)
        val jres = J.head(graft.expr.JsonbNormalize.normalize(to_json(array(res))))
        CE(when(res.isNotNull, jres), KJ)
      case other =>
        throw new IllegalArgumentException(s"unknown function: $other")
    }
  }
}

object Compiler {
  /** Evaluate an uncorrelated scalar SQL subquery ONCE on the driver
    * and fold its value into the plan as a jsonb literal — the plan a
    * broadcast of the 1-row sublink result would give, right at any
    * scale (the subquery itself still runs distributed; only its
    * scalar result lands on the driver). PG sublink semantics
    * (cypher_dml.out:89-117): exactly one column; 0 rows -> NULL;
    * more than one row -> error.
    */
  /** Per-statement sublink memo: a statement may compile the same
    * expression tree several times (MERGE compiles its pattern for
    * match, dedup, create and re-match), but PG sublink semantics
    * evaluate the subquery once per statement — without the memo a
    * volatile subquery would yield different values per compile site
    * (breaking MERGE's re-match) and a deterministic one would re-run
    * its full Spark job each time. ThreadLocal so concurrent sessions
    * don't cross-pollinate; Builder.run clears it at statement start.
    */
  private val sublinkMemo =
    ThreadLocal.withInitial[scala.collection.mutable.Map[String, JValue]](
      () => scala.collection.mutable.Map.empty)
  private[cypher] def resetSublinkMemo(): Unit = sublinkMemo.get().clear()

  def evalSqlSubquery(sql: String): JValue =
    sublinkMemo.get().getOrElseUpdate(sql, evalSqlSubqueryOnce(sql))

  private def evalSqlSubqueryOnce(sql: String): JValue = {
    val spark = org.apache.spark.sql.SparkSession.active
    val df = spark.sql(sql)
    if (df.columns.length != 1)
      throw new IllegalArgumentException("subquery must return only one column")
    val rows = df.limit(2).collect()
    if (rows.length > 1)
      throw new IllegalStateException("more than one row returned by a subquery used as an expression")
    if (rows.isEmpty || rows(0).isNullAt(0)) JNull
    else rows(0).get(0) match {
      case b: java.lang.Boolean => JBool(b)
      case n: java.lang.Integer => JNum(new java.math.BigDecimal(n.intValue))
      case n: java.lang.Long => JNum(new java.math.BigDecimal(n.longValue))
      case n: java.lang.Short => JNum(new java.math.BigDecimal(n.intValue))
      case n: java.lang.Byte => JNum(new java.math.BigDecimal(n.intValue))
      case n: java.math.BigDecimal => JNum(n)
      case n: scala.math.BigDecimal => JNum(n.bigDecimal)
      case n: java.lang.Double =>
        if (n.isNaN || n.isInfinite) throw new IllegalArgumentException(
          s"subquery result $n cannot be represented in jsonb")
        JNum(new java.math.BigDecimal(n.toString))
      case n: java.lang.Float =>
        if (n.isNaN || n.isInfinite) throw new IllegalArgumentException(
          s"subquery result $n cannot be represented in jsonb")
        JNum(new java.math.BigDecimal(n.toString))
      case s: String => JStr(s)
      case other => JStr(String.valueOf(other))
    }
  }

  /** Aggregate function names of the Cypher surface. */
  val aggFns: Set[String] = Set("count", "sum", "avg", "min", "max",
    "collect", "stdev", "stdevp")
  val boolFns: Set[String] = Set()

  /** Does the active session's FunctionRegistry (temporary/user UDFs
    * or catalog functions — NOT the Cypher builtin surface, which is
    * matched first) resolve this name? Gates the UDF-interop
    * fallback in compileFn so genuinely unknown names still error
    * with PG's "unknown function" wording. Builtin Spark functions
    * are reachable too, mirroring the reference where any pg_proc
    * entry is callable from Cypher.
    */
  def sessionFnExists(name: String): Boolean =
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      // the registry probe catches session-injected builtins (the
      // graft jsonb_* family) that catalog.functionExists misses
      spark.catalog.functionExists(name) ||
        spark.sessionState.functionRegistry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    } catch { case scala.util.control.NonFatal(_) => false }

  def q(name: String): String = s"`$name`"

  /** The comparison operator with its operands swapped (`a < b` is
    * `b > a`). */
  def flipOp(op: String): String = op match {
    case "<" => ">"; case ">" => "<"; case "<=" => ">="; case ">=" => "<="
    case other => other
  }

  /** Frame column carrying a shredded property of a bound variable.
    * \u0001 delimits so var names and keys containing underscores can
    * never collide.
    */
  def shCol(typ: String, varName: String, key: String): String =
    s"__sh$typ\u0001$varName\u0001$key"

  /** Output column name for an unaliased projection item. */
  def itemName(e: Expr): String = e match {
    case Vbl(n)        => n
    case Prop(_, k)    => k
    case FnCall(n, _, _) => n
    case CountStar     => "count"
    case _             => "expr"
  }

  /** Replace group-key subexpressions and aggregate calls inside a
    * projection item (post-aggregation rewrite).
    */
  def rewriteAggs(e: Expr, keys: Map[Expr, Expr],
      aggRef: FnCall => Expr, cStar: () => Expr): Expr = {
    def go(x: Expr): Expr =
      if (keys.contains(x)) keys(x)
      else x match {
        case f @ FnCall(n, _, _) if aggFns(n) => aggRef(f)
        case CountStar => cStar()
        case other => mapChildren(other)(go)
      }
    go(e)
  }

  def hasAgg(e: Expr): Boolean = e match {
    case CountStar => true
    case FnCall(n, _, _) if aggFns(n) => true
    case x => children(x).exists(hasAgg)
  }

  /** Broadcast-able labid -> string literal map column. */
  def labidMapCol(m: Map[Int, String]): Column = {
    if (m.isEmpty) map()
    else map(m.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
  }

  /** List comprehension over a jsonb array with Spark higher-order
    * functions: split the canonical array into array<string> elements,
    * then filter()/transform() with the lambda variable bound in a
    * nested compiler scope — stays fully inside Catalyst (no UDF).
    */
  def listCompColumn(arr: Column, v: String, whereE: Option[Expr],
      projE: Option[Expr], outer: Compiler): Column = {
    val elems = graft.expr.JsonbNormalize.splitArray(arr)
    val filtered = whereE match {
      case Some(w) =>
        filter(elems, el => { val c = outer.withLambda(v, el); c.toBool(c.compile(w)) })
      case None => elems
    }
    val projected = projE match {
      case Some(p) =>
        transform(filtered, el => {
          val c = outer.withLambda(v, el)
          coalesce(c.toJ(c.compile(p)), lit("null"))
        })
      case None => filtered
    }
    concat(lit("["), array_join(projected, ", "), lit("]"))
  }
}
