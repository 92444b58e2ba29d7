package graft.byokg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Read-only openCypher MATCH-subset compiler over the triple-store edge
 * frame `(src, dst, label)` — the missing half of the reference's
 * opencypher artifact contract: byokg's KGLinker prompts the LLM for
 * openCypher (graph_connectors emit it; graph_retrievers.py:351-430
 * executes it against the graph store), and this translates the common
 * MATCH shape into the SAME per-hop equi-join plans every other
 * traversal here uses — no graph engine, no interpreter, Catalyst
 * optimizes the joins like any hand-written chain.
 *
 * Grammar (anything else parses to a loud Left, which the retriever
 * surfaces as the engine loop's retry-feedback line):
 *
 *   [UNWIND ['id', ...] AS v]   -- batch-seed lookup: the literal list
 *                               -- pipes into the MATCH like a WITH
 *                               -- output (v must anchor a pattern node;
 *                               -- duplicates bind per occurrence)
 *   MATCH pattern [, pattern ...]
 *   [OPTIONAL MATCH pattern [, pattern ...]] ...
 *   [WHERE term [AND term ...] [OR term [AND term ...] ...]]
 *     term := [NOT] atom   -- NOT negates ONE atom (optionally
 *                          -- parenthesized: NOT (x = 'a')); NOT over an
 *                          -- AND/OR group is a loud Left. Three-valued:
 *                          -- a null operand drops the row, like Cypher.
 *     atom := v[.p] = 'lit' | v[.p] <> 'lit' | v.p IN ['lit', ...]
 *           | v[.p] (>|>=|<|<=|=|<>) number  -- bare v compares the
 *                                   -- binding itself (a piped WITH
 *                                   -- output, e.g. `WHERE n >= 2`)
 *           | v.p STARTS WITH 'lit' | v.p ENDS WITH 'lit'
 *           | v.p CONTAINS 'lit'         -- AND binds tighter than OR
 *           | v[.p] IS [NOT] NULL   -- allowed on OPTIONAL vars: the
 *                                   -- anti-join / exists shape
 *           | expr (>|>=|<|<=|=|<>) expr -- general comparison: scalar
 *                                   -- functions + arithmetic on either
 *                                   -- side (see expr below); numeric
 *                                   -- (double try_cast) when either
 *                                   -- side is numeric-kinded, raw
 *                                   -- column compare otherwise
 *   expr := v[.p] | 'lit' | number | expr (+|-|*|/|%) expr | (expr)
 *         | coalesce(expr, expr...) | size(expr) | toLower(expr)
 *         | toUpper(expr) | trim(expr) | split(expr, 'delim')
 *         | toString(expr)
 *     -- the reference's own retrieval cypher leans on exactly these:
 *     -- coalesce(s.valid_from, $LOWER), split(coalesce(...), ";"),
 *     -- size(a)/size(b) scoring (traversal_based_base_retriever.py:
 *     -- 160-190). Unknown functions are a loud Left NAMING the function
 *     -- and the supported list. size() = array size for split results,
 *     -- string length otherwise (Cypher's size() covers both).
 *     -- Expression WHERE terms referencing OPTIONAL variables are
 *     -- refused UNLESS the reference sits inside a multi-arg coalesce
 *     -- (the fallback handles the null — the reference's shape).
 *   RETURN [DISTINCT] (item [, item ...] | agg [AS a]
 *                      | item [, item ...], agg [AS a]     -- grouped
 *                      | [item [, ...],] agg [AS a], agg [AS a] [, ...])
 *     -- MULTI-aggregate trailing items compile as ONE grouped
 *     -- aggregation keyed by the plain prefix (scalar when the prefix
 *     -- is empty): `RETURN c.id, count(*) AS n, sum(o.price) AS t`.
 *     -- Default aliases collide for repeated count forms — AS them.
 *     -- ORDER BY addresses a multi-aggregate by its alias (or an
 *     -- unambiguous count(*) / func(v.p) form).
 *     item := v[.p] [AS alias] | type(r) [AS alias]
 *           | properties(v) [AS alias]  -- node OR relationship var:
 *                             -- edge variables render the edge frame's
 *                             -- extra columns (props-less stores Left)
 *           | expr AS alias   -- scalar-function/arithmetic projection;
 *                             -- the alias is REQUIRED (and is how
 *                             -- ORDER BY addresses the item)
 *     agg  := count(*) | count(v[.p]) | count(DISTINCT v[.p])
 *                                -- all three also as the grouped
 *                                -- last-item form, e.g.
 *                                -- RETURN c.id, count(DISTINCT p)
 *           | sum(v.p) | avg(v.p) | min(v[.p]) | max(v[.p])
 *           | collect(v[.p])   -- the SORTED list (Neo4j leaves collect
 *                              -- order unspecified; sorting makes it
 *                              -- deterministic + SQL-replayable)
 *     -- count(v) counts NON-NULL bindings (OPTIONAL rows that bound
 *     -- null don't count, unlike count(*)); type(r) reads a bound
 *     -- relationship variable's edge label; sum/avg fold the property's
 *     -- double try_cast (the "total spend of each customer" KGQA shape)
 *   [ORDER BY (v[.p] | alias | count(*|v) | agg) [DESC] [, ...]] [LIMIT n]
 *
 * MULTI-stage WITH pipelines, `{key: value}` map projections (nested,
 * with properties(v) / NULL / [...] values), `collect(distinct x)`,
 * per-stage `[DISTINCT] [ORDER BY] [SKIP] [LIMIT] [WHERE]` clause
 * tails, and ORDER BY on
 * a returned map's field route to the staged compiler
 * ([[CypherStages]]) — enough grammar to run the reference's own
 * statements_cypher verbatim (traversal_based_base_retriever.py:153-190).
 * `$name` parameters bind through [[substituteParams]]; `// comments`
 * strip. The single-WITH forms below keep their original closed-form
 * compilation paths:
 *
 * One WITH stage is also supported — aggregate, filter on the aggregate
 * (Cypher's HAVING), then either project or MATCH again:
 *
 *   MATCH ... [WHERE ...] WITH item [, ...][, agg [AS a]]
 *   [WHERE out-term [AND|OR ...]] RETURN out [, ...]
 *   [ORDER BY out [DESC] ...] [LIMIT n]      -- see [[PipeQuery]]
 *
 *   MATCH ... WITH item [, ...][, agg [AS a]] [WHERE out-term ...]
 *   MATCH pattern ... [WHERE ...] RETURN ...  -- aggregate-then-expand:
 *   -- the tail is a FULL second query; a pattern variable named like a
 *   -- WITH output is the pipe's join key (required, unless the WITH
 *   -- stage is a lone aggregate — a bounded 1-row broadcast cross);
 *   -- other WITH outputs ride along into RETURN / WHERE / ORDER BY
 *
 * `v.p`: `p` = `id` reads the binding itself (the node id, always
 * available); any other property resolves through the caller-supplied
 * nodeProps frame `(id, prop...)` — the reference's retrieval cypher
 * projects node properties everywhere (node_result, graph_utils.py:
 * 121-157; `l.value` / `properties(c)` in
 * traversal_based_base_retriever.py:143-217), so an LLM in the KGLinker
 * loop emitting `RETURN e.value, e.class` must compile, not parse-fail.
 * A property the store doesn't carry is a loud Left NAMING the unknown
 * property and the available columns (run()'s schema check); a property
 * access with NO nodeProps frame supplied Lefts with "only '.id'".
 * Property items default their output column to the literal `v.p`
 * (Neo4j's convention); `AS` renames. Compilation is one LEFT equi-join
 * per property-reading variable against nodeProps, pruned to exactly the
 * referenced columns — the node-table lookup every property graph store
 * performs, expressed as a keyed join Catalyst can broadcast.
 *
 *   pattern := node(-[[r][:type[|type...]][*a..b]]->|<-[...]-)node ...
 *   node    := (v[:label][{id: 'lit'}])
 *   -- [r] binds the relationship variable (single-hop edges only).
 *   -- `r.prop` reads a RELATIONSHIP property when the edge frame
 *   -- carries extra columns beyond (src, dst, label) — the reference's
 *   -- `__RELATION__{value}` edge properties
 *   -- (entity_relation_graph_builder.py:75-129, `r.value` in
 *   -- local_entity_rewrites_graph_builder.py:42-44); the property is
 *   -- projected from the edge scan (pruned to the referenced columns),
 *   -- no extra join. A property the edge frame doesn't carry is a loud
 *   -- Left naming the available relationship columns.
 *
 * `ORDER BY count(*) DESC LIMIT k` on a grouped count is the "top-k by
 * cardinality" shape KGQA LLMs emit for superlative questions ("which
 * customer placed the most orders") — it compiles to the same
 * agg-then-TakeOrdered plan a hand-written groupBy/orderBy/limit does.
 * `[:a|b]` relationship alternation compiles to one `label IN (...)`
 * scan filter, not a union of per-type scans.
 *
 * Property-map anchors — `(c:Chunk {id: 'x'})` — are the standard
 * anchored form the reference's retrieval cypher uses (its
 * chunk-based search anchors `(c{chunkId:$id})`), and what an LLM in
 * the KGLinker loop emits by default; they compile to the same pushed
 * equality a `WHERE c.id = 'x'` does (and, on an OPTIONAL MATCH
 * pattern, apply INSIDE the part frame before the left join, like
 * labels — where a global WHERE could not go). `id` is the only node
 * property the triple store carries, so any other key parse-fails
 * with feedback naming the offending property — the LLM's retry
 * budget goes to semantics, not grammar. `STARTS WITH` mirrors the
 * reference's entity-provider prefix fallback.
 *
 * Comma-separated patterns share variables (the standard Cypher
 * conjunctive form LLMs emit constantly, e.g. `MATCH (a)-[:x]->(b),
 * (b)-[:y]->(c)`); each shared variable becomes an equi-join between the
 * per-pattern binding frames. Patterns that share NO variable with the
 * rest would be a cartesian product — refused loudly (a BNLJ over two
 * full binding frames is never what a KGQA query means, and at scale
 * it's a cluster-killer).
 *
 * OPTIONAL MATCH parts attach as LEFT OUTER joins after every mandatory
 * part (unmatched variables bind null, standard Cypher). Their label
 * constraints apply INSIDE the optional pattern — i.e. to the part frame
 * BEFORE the left join, which is exactly Cypher's semantics (the pattern
 * must match its own labels; failing that, the row survives with nulls).
 * WHERE terms on optional-only variables are refused loudly — in this
 * subset WHERE is query-global, and a null-killing predicate would
 * silently turn the outer join back into an inner one.
 *
 * Node labels map to the store's id-prefix convention (`c:`/`o:`/... —
 * the byokg LocalKGStore notation); properties are limited to `.id`, the
 * only node property the triple store carries. The grammar is MATCH-only
 * by construction, so mutation cannot even parse — the GraphQuerySafety
 * keyword gate still runs first as defense in depth.
 *
 * Scale: an N-hop pattern compiles to N-1 equi-joins over the edge
 * frame — identical shape (and cost) to [[Traversal.followMetapath]];
 * anchored WHERE equalities push into the first scan, and multi-pattern
 * joins are ordinary shuffled equi-joins on the shared variable.
 */
object CypherLite {

  /** `idEq`: the `{id: 'lit'}` property-map anchor, when present. */
  final case class NodePat(v: String, label: Option[String],
                           idEq: Option[String] = None)
  /** rightward: (a)-[:t]->(b); else (a)<-[:t]-(b). `types` carries the
    * `[:a|b]` alternation (empty = any type; one entry = plain `[:t]`).
    * `varName` binds the relationship variable of `[r]`/`[r:t]` — its
    * value is the edge's type (label), so `RETURN r` / `type(r)` answer
    * the "what is the relationship between X and Y" KGQA shape; bound
    * vars are single-hop only (a var-length edge traverses MANY
    * relationships — no single value to bind; Cypher binds a list there,
    * out of scope). minHops/maxHops carry the `*a..b` var-length form
    * (1/1 for a plain edge; the reference's `[:PREVIOUS*0..1]` shape);
    * bounded to `MaxVarHops` so a pattern can never unroll into an
    * unbounded join chain. */
  final case class EdgePat(types: Seq[String], rightward: Boolean,
                           minHops: Int = 1, maxHops: Int = 1,
                           varName: Option[String] = None,
                           undirected: Boolean = false)

  val MaxVarHops = 3

  /** `v.p IN [...]` lists at or above this size compile as a broadcast
    * LEFT SEMI join against a deduped literal frame instead of an
    * expression-literal InSet — see the hoisting note in [[compile]]. */
  val LargeInThreshold = 128

  /** Match-frame row cap under which the property lookups of an id-probed
    * query are semi-pruned to the frame's own key set before joining (see
    * the prefilter note in [[compile]]): ~200k string keys is a ~20 MB
    * broadcast, comfortably inside executor memory; past it the plain
    * store-wide property joins stand. */
  val PropPrefilterMaxRows = 200000L

  /** A WHERE term: either one of the closed-form predicate shapes
    * ([[Cond]]) or a general expression comparison ([[ExprCond]]). */
  sealed trait WhereTerm

  /** op ∈ {=, <>, IN, STARTS_WITH, ENDS_WITH, CONTAINS}; IN carries the
    * whole literal list in `values`. `prop` is the accessed node property
    * ("id" = the binding itself; anything else resolves through the
    * nodeProps frame at compile time). */
  final case class Cond(v: String, op: String, values: Seq[String],
                        prop: String = "id") extends WhereTerm

  // ---- expression layer --------------------------------------------------
  // The reference's own retrieval cypher is not property-flat: it wraps
  // properties in scalar functions and arithmetic — `coalesce(s.valid_from,
  // $LOWER)`, `split(coalesce(...), ";")`, `size(a)/size(b)` scoring
  // (traversal_based_base_retriever.py:160-190) — and a KGLinker-loop LLM
  // emits `toLower(...)` / property arithmetic on its first real session.
  // This small typed AST covers exactly those shapes; anything else (an
  // unknown function, a malformed operand) is a loud Left so the retry
  // budget goes to semantics, not grammar.

  /** Scalar expression: property refs, string/number literals, the scalar
    * functions the reference's cypher uses, and +-*
    * / % arithmetic over double try_casts. */
  sealed trait Expr {
    /** Every (variable, property) this expression reads ("id" = the
      * binding itself). */
    def refs: Seq[(String, String)] = this match {
      case Expr.Ref(v, p) => Seq(v -> p.getOrElse("id"))
      case Expr.Fn(_, args) => args.flatMap(_.refs)
      case Expr.Bin(_, l, r) => l.refs ++ r.refs
      case _ => Nil
    }
    /** Refs NOT null-guarded by a multi-arg coalesce — the ones the
      * OPTIONAL-variable null-kill refusal must inspect (a ref inside
      * `coalesce(x, fallback)` tolerates an unmatched OPTIONAL row; a
      * bare ref would silently turn the outer join inner). */
    def unguardedRefs: Seq[(String, String)] = this match {
      case Expr.Ref(v, p) => Seq(v -> p.getOrElse("id"))
      case Expr.Fn(n, args) if n == "coalesce" && args.size >= 2 => Nil
      case Expr.Fn(_, args) => args.flatMap(_.unguardedRefs)
      case Expr.Bin(_, l, r) => l.unguardedRefs ++ r.unguardedRefs
      case _ => Nil
    }
  }
  object Expr {
    final case class Ref(v: String, prop: Option[String]) extends Expr
    final case class Str(s: String) extends Expr
    final case class Num(d: Double) extends Expr
    /** `name` is normalized lowercase (Cypher spells them camelCase). */
    final case class Fn(name: String, args: Seq[Expr]) extends Expr
    final case class Bin(op: Char, l: Expr, r: Expr) extends Expr

    /** arg-count by normalized name; the supported surface. */
    val Functions: Map[String, (Int, Int)] = Map(
      "coalesce" -> (2, 8), "size" -> (1, 1), "tolower" -> (1, 1),
      "toupper" -> (1, 1), "trim" -> (1, 1), "split" -> (2, 2),
      "tostring" -> (1, 1), "id" -> (1, 1), "labels" -> (1, 1))

    /** Inferred value kind, for comparison/size semantics:
      * num | str | arr | any (an unresolved property). */
    def kind(e: Expr): String = e match {
      case Num(_) => "num"
      case Bin(_, _, _) => "num"
      case Str(_) => "str"
      case Fn("size", _) => "num"
      case Fn("tolower" | "toupper" | "trim" | "tostring", _) => "str"
      case Fn("split", _) => "arr"
      case Fn("id", _) => "str"
      case Fn("labels", _) => "arr"
      case Fn("coalesce", args) =>
        args.map(kind).find(_ != "any").getOrElse("any")
      case Ref(_, _) => "any"
    }
  }

  /** Recursive-descent expression parser (precedence: * / % over + -,
    * parens group). Rejects unknown functions BY NAME with the supported
    * list, and non-literal split delimiters. */
  private final class ExprParser(input: String) {
    private var pos = 0
    private def ws(): Unit = while (pos < input.length &&
      input.charAt(pos).isWhitespace) pos += 1
    private def peek: Char = if (pos < input.length) input.charAt(pos) else ' '
    private def fail(msg: String): Either[String, Nothing] =
      Left(s"$msg at '${input.substring(math.min(pos, input.length)).take(25)}'")

    def parseAll(): Either[String, Expr] =
      expr().flatMap { e =>
        ws()
        if (pos < input.length)
          fail("unexpected trailing input in expression")
        else Right(e)
      }

    private def expr(): Either[String, Expr] = binChain(term _, Set('+', '-'))
    private def term(): Either[String, Expr] = binChain(factor _, Set('*', '/', '%'))

    private def binChain(sub: () => Either[String, Expr],
                         ops: Set[Char]): Either[String, Expr] = {
      var acc = sub() match { case Right(e) => e; case l => return l }
      ws()
      while (ops.contains(peek)) {
        val op = peek; pos += 1
        sub() match {
          case Right(r) => acc = Expr.Bin(op, acc, r)
          case l => return l
        }
        ws()
      }
      Right(acc)
    }

    private val IdentRe = """[A-Za-z_][A-Za-z0-9_]*""".r
    private def factor(): Either[String, Expr] = {
      ws()
      peek match {
        case '(' =>
          pos += 1
          expr().flatMap { e =>
            ws()
            if (peek == ')') { pos += 1; Right(e) }
            else fail("expected ')'")
          }
        case '\'' =>
          val end = input.indexOf('\'', pos + 1)
          if (end < 0) fail("unterminated string literal")
          else { val s = input.substring(pos + 1, end); pos = end + 1
            Right(Expr.Str(s)) }
        case c if c.isDigit ||
            (c == '-' && pos + 1 < input.length &&
              input.charAt(pos + 1).isDigit) =>
          val m = """-?\d+(?:\.\d+)?""".r
            .findPrefixMatchOf(input.substring(pos)).get
          pos += m.end
          Right(Expr.Num(m.group(0).toDouble))
        case c if c.isLetter || c == '_' =>
          val m = IdentRe.findPrefixMatchOf(input.substring(pos)).get
          val ident = m.group(0); pos += m.end
          ws()
          if (peek == '(') { // function call
            pos += 1
            val name = ident.toLowerCase
            Expr.Functions.get(name) match {
              case None => Left(s"unknown function '$ident' — supported: " +
                "coalesce, size, toLower, toUpper, trim, split, toString")
              case Some((lo, hi)) =>
                val args = scala.collection.mutable.ArrayBuffer.empty[Expr]
                ws()
                if (peek != ')') {
                  var more = true
                  while (more) {
                    expr() match {
                      case Right(e) => args += e
                      case l => return l
                    }
                    ws()
                    if (peek == ',') { pos += 1; more = true }
                    else more = false
                  }
                }
                if (peek != ')') return fail("expected ')' in call")
                pos += 1
                if (args.size < lo || args.size > hi)
                  Left(s"$ident() takes " +
                    (if (lo == hi) s"$lo" else s"$lo-$hi") +
                    s" arguments, got ${args.size}")
                else if (name == "split" && !args(1).isInstanceOf[Expr.Str])
                  Left("split() needs a literal string delimiter")
                else if ((name == "id" || name == "labels") &&
                  !(args.head match {
                    case Expr.Ref(_, None) => true
                    case _ => false
                  }))
                  Left(s"$name() takes a bare pattern variable")
                else Right(Expr.Fn(name, args.toSeq))
            }
          } else if (peek == '.') {
            pos += 1
            IdentRe.findPrefixMatchOf(input.substring(pos)) match {
              case Some(pm) =>
                val prop = pm.group(0); pos += pm.end
                Right(Expr.Ref(ident, propOf(prop)))
              case None => fail(s"expected property name after '$ident.'")
            }
          } else Right(Expr.Ref(ident, None))
        case _ => fail("expected an expression operand")
      }
    }
  }

  /** Parse one standalone scalar expression. */
  def parseExpr(s: String): Either[String, Expr] =
    new ExprParser(s).parseAll()

  private val CmpOpRe = """>=|<=|<>|>|<|=""".r
  /** Parse `expr cmpop expr` — the WHERE fallback for terms the closed
    * regex forms don't cover. The comparison operator is located at
    * paren/quote depth zero. */
  def parseExprCompare(s: String): Either[String, (Expr, String, Expr)] = {
    var depth = 0; var inStr = false; var i = 0
    var opAt = -1; var opLen = 0
    while (i < s.length && opAt < 0) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case '>' | '<' | '=' if depth == 0 =>
          val m = CmpOpRe.findPrefixMatchOf(s.substring(i)).get
          opAt = i; opLen = m.end
        case _ =>
      }
      i += 1
    }
    if (opAt < 0) Left(s"no comparison operator in '$s'")
    else for {
      l <- parseExpr(s.substring(0, opAt).trim)
      r <- parseExpr(s.substring(opAt + opLen).trim)
    } yield (l, s.substring(opAt, opAt + opLen), r)
  }

  /** Negation of ONE WHERE term (`NOT v.p = 'x'`, `NOT (v.p IN [...])`)
    * — atom-level only: NOT over an AND/OR group is refused by
    * construction (the quote-aware splitters cut the group first and the
    * fragments fail to parse loudly). SQL three-valued semantics: a null
    * operand stays null and the row drops, matching Cypher. */
  final case class NotTerm(t: WhereTerm) extends WhereTerm

  /** General expression comparison WHERE term. Comparison is numeric
    * (double try_cast both sides) when either side's inferred kind is
    * numeric, raw otherwise — so `coalesce(s.from,'1900') <= '2024'`
    * compares strings (the reference's ISO-timestamp-string shape) while
    * `f.count > n.count * 2` compares doubles. */
  final case class ExprCond(l: Expr, op: String, r: Expr) extends WhereTerm
  /** One comma-separated MATCH pattern: a linear node/edge chain. */
  final case class Part(nodes: Seq[NodePat], edges: Seq[EdgePat])

  /** One aggregate RETURN item in the MULTI-aggregate form (`RETURN
    * c.id, count(*) AS n, sum(o.price) AS total` — the natural KGQA
    * projection an LLM emits for "how many and how much" questions).
    * func ∈ count_star | count | count_distinct | sum | avg | min |
    * max | collect; v/prop absent only for count_star. Single-aggregate
    * queries keep the original dedicated slots (below) — this list is
    * populated only when TWO OR MORE trailing RETURN items are
    * aggregates. */
  final case class AggItem(func: String, v: Option[String],
                           prop: Option[String], alias: String)
  /** `conds` is the WHERE clause in disjunctive normal form: the outer
    * Seq ORs together groups, each group a conjunction (AND binds
    * tighter than OR — standard Cypher/SQL precedence). A query with no
    * OR is one group. `retAliases` parallels `returns` with the output
    * column name of each item (the `AS` alias, or the variable itself);
    * `countAlias` names the count(*)/count(DISTINCT) column. */
  final case class Query(parts: Seq[Part], conds: Seq[Seq[WhereTerm]],
                         returns: Seq[String], limit: Option[Int],
                         countStar: Boolean = false,
                         distinct: Boolean = false,
                         orderBy: Seq[(String, Boolean)] = Nil,
                         optParts: Seq[Part] = Nil,
                         countDistinctVar: Option[String] = None,
                         groupCount: Boolean = false,
                         retAliases: Seq[String] = Nil,
                         countAlias: String = "count",
                         countVar: Option[String] = None,
                         groupCountVar: Option[String] = None,
                         // parallel to `returns`: Some(prop) for a
                         // `v.<prop>` item (prop != id), None for the
                         // binding itself (`v` / `v.id` / `type(r)`)
                         retProps: Seq[Option[String]] = Nil,
                         countDistinctProp: Option[String] = None,
                         countVarProp: Option[String] = None,
                         groupCountProp: Option[String] = None,
                         // sum/min/max/avg aggregate item (scalar when
                         // `returns` is empty, grouped otherwise); the
                         // output column name rides in `countAlias`
                         aggFunc: Option[String] = None,
                         aggVar: Option[String] = None,
                         aggProp: Option[String] = None,
                         // grouped count(DISTINCT v[.p]) — the last-item
                         // slot, like groupCountVar but distinct-counting
                         groupCountDistinctVar: Option[String] = None,
                         groupCountDistinctProp: Option[String] = None,
                         // parallel to `returns` when nonEmpty: Some(e)
                         // for an expression RETURN item (its `returns`
                         // slot holds the first referenced variable, its
                         // `retProps` slot None; AS alias required)
                         retExprs: Seq[Option[Expr]] = Nil,
                         // the MULTI-aggregate trailing items (>= 2);
                         // empty for single-aggregate queries, which use
                         // the dedicated slots above
                         aggs: Seq[AggItem] = Nil) {
    /** The output column names this query produces — what a WITH stage
      * exposes to the pipeline tail. */
    def outputNames: Seq[String] =
      (if (retAliases.size == returns.size) retAliases else returns) ++
        (if (aggs.isEmpty && (countStar || countVar.nonEmpty ||
          countDistinctVar.nonEmpty || groupCount || aggFunc.nonEmpty))
          Seq(countAlias) else Nil) ++
        aggs.map(_.alias)

    /** Relationship (edge) variables bound anywhere in the query — their
      * property reads resolve from the edge frame's extra columns, not
      * the nodeProps join. */
    def edgeVars: Set[String] =
      (parts ++ optParts).flatMap(_.edges.flatMap(_.varName)).toSet

    /** Every non-id property the query reads, per variable (node AND
      * relationship variables — [[compile]] splits by [[edgeVars]]) —
      * what [[compile]] materializes and [[run]] schema-checks. */
    def neededProps: Map[String, Set[String]] = {
      def termProps(t: WhereTerm): Seq[(String, String)] = t match {
        case c: Cond if c.prop != "id" => Seq(c.v -> c.prop)
        case e: ExprCond => (e.l.refs ++ e.r.refs).filter(_._2 != "id")
        case NotTerm(inner) => termProps(inner)
        case _ => Nil
      }
      val fromConds = conds.flatten.flatMap(termProps)
      val fromRets = returns.zip(
          if (retProps.size == returns.size) retProps
          else returns.map(_ => None))
        .collect { case (v, Some(p)) => v -> p }
      val fromRetExprs =
        retExprs.flatten.flatMap(_.refs).filter(_._2 != "id")
      val fromCounts =
        countDistinctVar.zip(countDistinctProp) ++
        countVar.zip(countVarProp) ++ groupCountVar.zip(groupCountProp) ++
        groupCountDistinctVar.zip(groupCountDistinctProp) ++
        aggVar.zip(aggProp)
      val fromAggs = aggs.flatMap(a =>
        a.v.zip(a.prop.filter(_ != "id")))
      (fromConds ++ fromRets ++ fromRetExprs ++ fromCounts ++ fromAggs)
        .groupBy(_._1).map { case (v, ps) => v -> ps.map(_._2).toSet }
    }
  }

  // the variable is optional: `()` / `(:Label)` are Cypher's anonymous
  // nodes (the reference's statement chain uses one,
  // entity_based_search.py:155 `-[:SUPPORTS]->()-[:PREVIOUS*0..1]-`);
  // parseChain binds each to a fresh `__a<n>` name
  private val NodeRe = """\(\s*([A-Za-z_][A-Za-z0-9_]*)?\s*(?::\s*([A-Za-z_][A-Za-z0-9_]*)\s*)?(?:\{\s*([^}]*?)\s*\}\s*)?\)""".r
  /** The one property-map form the store can answer: {id: 'literal'}. */
  private val PropMapRe = """(?s)id\s*:\s*'([^']*)'""".r
  private val PropKeyRe = """([A-Za-z_][A-Za-z0-9_]*)\s*:""".r
  private val TypeAltPat = """[A-Za-z_][A-Za-z0-9_]*(?:\s*\|\s*[A-Za-z_][A-Za-z0-9_]*)*"""
  private val RightRe = s"""-\\s*\\[\\s*([A-Za-z_][A-Za-z0-9_]*)?\\s*(?::\\s*($TypeAltPat)\\s*)?(?:\\*\\s*(\\d+)\\s*\\.\\.\\s*(\\d+)\\s*)?\\]\\s*->""".r
  private val LeftRe = s"""<-\\s*\\[\\s*([A-Za-z_][A-Za-z0-9_]*)?\\s*(?::\\s*($TypeAltPat)\\s*)?(?:\\*\\s*(\\d+)\\s*\\.\\.\\s*(\\d+)\\s*)?\\]\\s*-""".r
  // undirected `-[...]-` (tried after Right/Left, so the trailing `>` of
  // a right arrow can never be stranded; lookahead as defense in depth).
  // The reference's entity search traverses RELATION undirected
  // (entity_based_search.py:151).
  private val UndirRe = s"""-\\s*\\[\\s*([A-Za-z_][A-Za-z0-9_]*)?\\s*(?::\\s*($TypeAltPat)\\s*)?(?:\\*\\s*(\\d+)\\s*\\.\\.\\s*(\\d+)\\s*)?\\]\\s*-(?!>)""".r
  // `v.<prop>` is accepted wherever a value is referenced (WHERE / RETURN
  // / ORDER BY / count(...)): `.id` (or bare `v`) reads the binding
  // itself; any other property resolves through the caller-supplied
  // nodeProps frame at compile time (unknown property → loud Left naming
  // it and the available columns, so an LLM's retry budget goes to the
  // store's schema, not grammar). Reference: the retrieval cypher
  // projects node properties everywhere (graph_utils.py:121-157
  // node_result; traversal_based_base_retriever.py:143-217 `l.value`).
  private val CondRe = """([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*(=|<>)\s*'([^']*)'""".r
  /** Numeric comparisons — `v.p > 1000`, `v.p <= 12.5` (also = / <> with
    * an unquoted numeric literal): the threshold shape KGQA LLMs emit for
    * "more than / at least" questions. The property side is cast to
    * double, so a non-numeric property compares as null and the row drops
    * (SQL semantics), never a lexicographic surprise. */
  private val CondNumRe =
    """([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*(>=|<=|>|<|=|<>)\s*(-?\d+(?:\.\d+)?)""".r
  private val CondStartsRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s+STARTS\s+WITH\s+'([^']*)'""".r
  private val CondEndsRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s+ENDS\s+WITH\s+'([^']*)'""".r
  private val CondContainsRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s+CONTAINS\s+'([^']*)'""".r
  /** `v IS [NOT] NULL` — the standard Cypher existence test after an
    * OPTIONAL MATCH: IS NULL is the anti-join ("anchors with NO match"),
    * IS NOT NULL the explicit inner-join-back. These are the ONE WHERE
    * form allowed on optional-only variables: null-sensitivity is the
    * user's stated intent here, not an accident to refuse. */
  private val CondNullRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s+IS\s+(NOT\s+)?NULL""".r
  private val StrLitRe = """'([^']*)'""".r

  /** `v.p IN ['lit', ...]` (or parens) by LINEAR parse — the regex form
    * (`('[^']*'(?:\s*,\s*'[^']*')*)`) backtracks recursively per element
    * and stack-overflowed on the reference-shaped 6k-id `$statementIds`
    * list at sf0.1. None = not an IN term (fall through to the next
    * WHERE form); malformed lists inside an IN head also return None and
    * surface through the expression fallback's loud error. */
  private val InHeadRe =
    """(?is)^([A-Za-z_][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)\s+IN\s+([\[(])""".r
  private val IdFnHeadRe =
    """(?is)id\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*(.*)""".r

  private[byokg] def parseInTerm(t0: String)
  : Option[(String, String, Seq[String])] = {
    val t = t0.trim
    val head = InHeadRe.findPrefixMatchOf(t).getOrElse(return None)
    val close = if (head.group(3) == "[") ']' else ')'
    if (t.isEmpty || t.last != close) return None
    val body = t.substring(head.end, t.length - 1)
    // linear literal-list validation: 'lit' (, 'lit')* with ws
    val vals = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0; var expectComma = false
    while (i < body.length) {
      val c = body.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (c == ',' && expectComma) { expectComma = false; i += 1 }
      else if (c == '\'' && !expectComma) {
        val end = body.indexOf('\'', i + 1)
        if (end < 0) return None
        vals += body.substring(i + 1, end)
        i = end + 1; expectComma = true
      } else return None
    }
    if (!expectComma && vals.nonEmpty) None // trailing comma
    else if (vals.isEmpty) None // >= 1 literal required, like the old form
    else Some((head.group(1), head.group(2), vals.toSeq))
  }
  private val RetRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  /** `type(r)` — the relationship-type accessor; r must be a bound
    * relationship variable (it already holds the edge label). */
  private val TypeRetRe =
    """(?i)type\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  /** `properties(v)` — the whole-property-map projection the reference's
    * retrieval cypher leans on (traversal_based_base_retriever.py:143-217
    * projects `properties(c)`). Rendered as a deterministic JSON object
    * (sorted keys, null properties omitted — Cypher maps omit missing
    * properties too); a null binding renders as null. Internally the prop
    * sentinel "*" = every nodeProps column. */
  private val PropsRetRe =
    """(?i)properties\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  private val OrdRe = """(?i)([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?(?:\s+(ASC|DESC))?""".r
  private val OrdCountRe = """(?i)count\s*\(\s*(\*|[A-Za-z_][A-Za-z0-9_]*)\s*\)(?:\s+(ASC|DESC))?""".r
  private val OrdAggRe =
    """(?i)(sum|min|max|avg)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*\)(?:\s+(ASC|DESC))?""".r
  private val CountStarRe =
    """(?i)count\s*\(\s*\*\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  private val CountDistinctRe =
    """(?i)count\s*\(\s*DISTINCT\s+([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  /** count(v) — non-null binding count, the form that pairs with OPTIONAL
    * MATCH (unmatched rows bind null and must NOT count). Tried after
    * CountDistinctRe; `DISTINCT x` cannot false-match (the close paren
    * follows the first identifier here). */
  private val CountVarRe =
    """(?i)count\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  /** sum/min/max/avg over a binding or property — the aggregative KGQA
    * shape ("total spend of each customer" → `RETURN c.id,
    * sum(o.price)`). sum/avg REQUIRE a property and compute over its
    * double cast (try_cast: non-numeric → null, excluded like SQL);
    * min/max also accept the bare binding (string ordering). Scalar when
    * the only RETURN item, grouped by the other items otherwise — the
    * same slot discipline as count(...). */
  private val AggRe =
    """(?i)(sum|min|max|avg|collect)\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)(?:\.([A-Za-z_][A-Za-z0-9_]*))?\s*\)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r

  /** Normalize a captured property group: absent or `.id` → None (the
    * binding itself); anything else → Some(prop). */
  private def propOf(g: String): Option[String] =
    Option(g).filter(_ != "id")

  /** Comma split at paren/quote depth zero — RETURN/WITH item lists may
    * now contain function calls whose argument commas must not split
    * (`coalesce(c.value, 'x') AS name, o.id`). */
  private[byokg] def topSplit(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start).trim
    out.toSeq
  }

  /** A standalone-keyword occurrence: [start, end) spans `\sKW\s`
    * (both delimiting whitespace chars included, like the regex form
    * these scanners replaced). */
  private[byokg] final case class Kw(start: Int, end: Int)

  /** Every `\sKW\s` occurrence OUTSIDE string literals (single- or
    * double-quoted), case-insensitive, by LINEAR scan. The original
    * regex form used a quote-parity lookahead `(?=(?:[^']*'[^']*')*...)`
    * whose repetition group Java's backtracking engine evaluates
    * recursively — a multi-hundred-KB `IN ['id', ...]` literal list (6k
    * ids at sf0.1) blew the stack. `excludeStartsEnds` skips the WITH of
    * the `STARTS WITH` / `ENDS WITH` operators. */
  private[byokg] def kwScan(s: String, kw: String,
                            excludeStartsEnds: Boolean = false): Seq[Kw] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Kw]
    val k = kw.length
    var i = 0; var quote = ' '
    while (i < s.length) {
      val c = s.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' '; i += 1 }
      else if (c == '\'' || c == '"') { quote = c; i += 1 }
      else if (Character.isWhitespace(c) && i + 1 + k < s.length &&
          s.regionMatches(true, i + 1, kw, 0, k) &&
          Character.isWhitespace(s.charAt(i + 1 + k)) &&
          !(excludeStartsEnds &&
            ((i >= 6 && s.regionMatches(true, i - 6, "starts", 0, 6)) ||
              (i >= 4 && s.regionMatches(true, i - 4, "ends", 0, 4))))) {
        out += Kw(i, i + k + 2)
        i += 1 + k // trailing ws may lead the NEXT keyword
      } else i += 1
    }
    out.toSeq
  }

  /** Quote-aware keyword split (a literal containing " and " / " or " /
    * " with " never splits mid-string). */
  private[byokg] def boolSplit(text: String, kw: String): Seq[String] = {
    val ms = kwScan(text, kw)
    if (ms.isEmpty) Seq(text.trim)
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var at = 0
      ms.foreach { m => out += text.substring(at, m.start).trim; at = m.end }
      out += text.substring(at).trim
      out.toSeq
    }
  }

  /** First occurrence of the standalone keyword OUTSIDE string literals. */
  private[byokg] def kwMatch(s: String, kw: String): Option[Kw] =
    kwScan(s, kw).headOption

  /** The WITH clause keyword — NOT the `STARTS WITH` / `ENDS WITH`
    * operators. */
  private[byokg] def withMatch(s: String): Option[Kw] =
    kwScan(s, "WITH", excludeStartsEnds = true).headOption

  /** One linear chain: node (edge node)*. Variables may not repeat
    * WITHIN a chain (no cycle patterns); repeats ACROSS parts are the
    * join keys. */
  private[byokg] def parseChain(chain: String,
                         anon: java.util.concurrent.atomic.AtomicInteger =
                           new java.util.concurrent.atomic.AtomicInteger)
  : Either[String, Part] = {
    var rest = chain
    def eat(re: scala.util.matching.Regex): Option[scala.util.matching.Regex.Match] =
      re.findPrefixMatchOf(rest.trim) match {
        case Some(m) => rest = rest.trim.substring(m.end); Some(m)
        case None => None
      }
    // `{...}` content → the id anchor, or a loud Left NAMING the bad
    // property: an LLM retrying grammar burns its budget; one that reads
    // "unsupported property 'chunkId'" can rewrite to the store's schema
    def props(v: String, raw: String): Either[String, Option[String]] =
      Option(raw).map(_.trim).filter(_.nonEmpty) match {
        case None => Right(None)
        case Some(content) =>
          PropMapRe.findPrefixMatchOf(content) match {
            case Some(m) if m.end == content.length => Right(Some(m.group(1)))
            case _ =>
              val badKey = PropKeyRe.findAllMatchIn(content)
                .map(_.group(1)).find(_ != "id")
              Left(badKey match {
                case Some(k) => s"unsupported property '$k' on variable " +
                  s"'$v' — nodes carry only 'id'; use {id: '...'}"
                case None => s"bad property map on variable '$v' — " +
                  "only {id: 'literal'} anchors are supported"
              })
          }
      }
    def node(m: scala.util.matching.Regex.Match): Either[String, NodePat] = {
      // anonymous node: bind a fresh name; `__` is the compiler's
      // internal namespace, so user variables there are refused
      if (Option(m.group(1)).exists(_.startsWith("__")))
        return Left(s"variable '${m.group(1)}' uses the reserved '__' " +
          "prefix")
      val v = Option(m.group(1))
        .getOrElse(s"__a${anon.incrementAndGet()}")
      props(v, m.group(3)).map(idEq => NodePat(v, Option(m.group(2)), idEq))
    }
    val first = eat(NodeRe).getOrElse(
      return Left(s"expected (var[:label]) at '${rest.take(30)}'"))
    val nodes = scala.collection.mutable.ArrayBuffer(
      node(first).fold(err => return Left(err), identity))
    val edges = scala.collection.mutable.ArrayBuffer.empty[EdgePat]
    while (rest.trim.nonEmpty) {
      def mk(m: scala.util.matching.Regex.Match, right: Boolean,
             undir: Boolean = false): Either[String, EdgePat] = {
        val rvar = Option(m.group(1))
        val (lo, hi) =
          if (m.group(3) == null) (1, 1)
          else (m.group(3).toInt, m.group(4).toInt)
        if (lo > hi) Left(s"bad var-length bounds *$lo..$hi")
        else if (hi > MaxVarHops)
          Left(s"var-length upper bound $hi exceeds MaxVarHops=$MaxVarHops")
        else if (rvar.nonEmpty && (lo != 1 || hi != 1))
          Left("relationship variables are not supported on var-length " +
            "edges (no single relationship to bind)")
        else Right(EdgePat(Option(m.group(2)).toSeq
          .flatMap(_.split("\\|")).map(_.trim), right, lo, hi, rvar,
          undirected = undir))
      }
      val e = eat(RightRe).map(mk(_, right = true))
        .orElse(eat(LeftRe).map(mk(_, right = false)))
        .orElse(eat(UndirRe).map(mk(_, right = true, undir = true)))
        .getOrElse(return Left(s"expected -[:type]-> at '${rest.take(30)}'"))
        .fold(err => return Left(err), identity)
      val n = eat(NodeRe).getOrElse(
        return Left(s"expected (var[:label]) at '${rest.take(30)}'"))
      edges += e
      nodes += node(n).fold(err => return Left(err), identity)
    }
    val allVars = nodes.map(_.v) ++ edges.flatMap(_.varName)
    if (allVars.distinct.size != allVars.size)
      Left("repeated pattern variables within one pattern are not supported")
    else Right(Part(nodes.toSeq, edges.toSeq))
  }

  /** `extraKnown` = columns piped in by a preceding WITH stage: they are
    * legal in WHERE / RETURN / ORDER BY / aggregates, count as bound for
    * pattern connectivity and OPTIONAL anchoring (a pattern variable with
    * a piped name is the pipe's join key), and may not be shadowed by a
    * relationship variable. */
  def parse(q: String,
            extraKnown: Set[String] = Set.empty): Either[String, Query] = {
    val s = q.trim.stripSuffix(";").trim
    val upper = s.toUpperCase
    if (!upper.startsWith("MATCH "))
      return Left("only MATCH queries are supported")
    val retIdx = upper.indexOf(" RETURN ")
    if (retIdx < 0) return Left("missing RETURN clause")
    val whereIdx = upper.indexOf(" WHERE ")
    val patternPart =
      s.substring(5, if (whereIdx >= 0) whereIdx else retIdx).trim
    val wherePart =
      if (whereIdx >= 0) Some(s.substring(whereIdx + 7, retIdx).trim)
      else None
    var retPart = s.substring(retIdx + 8).trim

    val limIdx = retPart.toUpperCase.indexOf("LIMIT")
    val limit =
      if (limIdx >= 0) {
        val lit = retPart.substring(limIdx + 5).trim
        val n = lit.toIntOption.getOrElse(
          return Left(s"bad LIMIT literal '$lit'"))
        retPart = retPart.substring(0, limIdx).trim
        Some(n)
      } else None

    val ordIdx = retPart.toUpperCase.indexOf("ORDER BY")
    // raw items: (var-or-count-sentinel, prop, ascending) — resolution to
    // output column names happens after RETURN is parsed
    val orderByRaw: Seq[(String, Option[String], Boolean)] =
      if (ordIdx >= 0) {
        val items = retPart.substring(ordIdx + 8).trim
        retPart = retPart.substring(0, ordIdx).trim
        items.split(",").map(_.trim).toSeq.map {
          case OrdCountRe(what, dir) =>
            (s"count($what)", None,
              dir == null || dir.equalsIgnoreCase("ASC"))
          case OrdAggRe(f, v, p, dir) =>
            (s"agg:${f.toLowerCase}:$v:" +
              Option(p).filter(_ != "id").getOrElse(""), None,
              dir == null || dir.equalsIgnoreCase("ASC"))
          case OrdRe(v, propG, dir) =>
            (v, propOf(propG), dir == null || dir.equalsIgnoreCase("ASC"))
          case other => return Left(s"unsupported ORDER BY item '$other'")
        }
      } else Nil

    val distinct = retPart.toUpperCase.startsWith("DISTINCT ")
    if (distinct) retPart = retPart.substring(9).trim

    // clause scan over the pattern region: MATCH [OPTIONAL MATCH]*;
    // a mandatory MATCH after an OPTIONAL one would reorder joins — refuse
    val ClauseRe = """(?i)\bOPTIONAL\s+MATCH\b|\bMATCH\b""".r
    val fullRegion = "MATCH " + patternPart
    val clauseMs = ClauseRe.findAllMatchIn(fullRegion).toSeq
    val clauses: Seq[(Boolean, String)] = clauseMs.zipWithIndex.map {
      case (m, i) =>
        val endAt = if (i + 1 < clauseMs.size) clauseMs(i + 1).start
                    else fullRegion.length
        val optional = m.matched.toUpperCase.startsWith("OPTIONAL")
        (optional, fullRegion.substring(m.end, endAt).trim)
    }
    if (clauses.sliding(2).exists { case Seq((o1, _), (o2, _)) => o1 && !o2
                                    case _ => false })
      return Left("MATCH after OPTIONAL MATCH is not supported")
    // comma-split is safe: no grammar token contains a comma
    val anonCtr = new java.util.concurrent.atomic.AtomicInteger
    def chainsOf(text: String): Either[String, Seq[Part]] = {
      val rs = text.split(",").map(_.trim).toSeq
        .map(parseChain(_, anonCtr))
      rs.collectFirst { case Left(e) => e }
        .toLeft(rs.map(_.toOption.get))
    }
    val parts = clauses.filter(!_._1)
      .flatMap(c => chainsOf(c._2).fold(e => return Left(e), identity))
    val optParts = clauses.filter(_._1)
      .flatMap(c => chainsOf(c._2).fold(e => return Left(e), identity))
    // connectivity: every part must (transitively) share a variable with
    // part 0, else the join degenerates into a cartesian product
    val varSets = parts.map(_.nodes.map(_.v).toSet)
    // the piped (WITH/UNWIND-output) frame is a virtual extra node in the
    // connectivity graph: two parts that each touch a piped variable ARE
    // connected (the pipe frame joins them — `WITH a, b MATCH
    // (a)-->(p), (b)-->(q)` is one component), but a part whose ONLY
    // anchor is the pipe, in a query whose part 0 never reaches the pipe,
    // is still a cartesian against part 0's bindings and must Left —
    // compile()'s greedy attach mirrors exactly this reachability, so
    // anything admitted here attaches without stalling.
    val touchesPipe = varSets.map(vs => (vs & extraKnown).nonEmpty)
    val reached = scala.collection.mutable.Set(0)
    var grew = true
    while (grew) {
      grew = false
      varSets.indices.foreach { i =>
        if (!reached(i) &&
            reached.exists(j => (varSets(i) & varSets(j)).nonEmpty ||
              (touchesPipe(i) && touchesPipe(j)))) {
          reached += i; grew = true
        }
      }
    }
    if (reached.size != parts.size)
      return Left("disconnected pattern parts (cartesian product) are " +
        "not supported — share a variable between patterns" +
        (if (extraKnown.nonEmpty) " (a piped variable only connects " +
          "parts when the piped component reaches the first pattern)"
         else ""))

    // optional parts anchor to the mandatory variable set; their NEW
    // variables must be unique (an optional-to-optional join would key on
    // a possibly-null column — SQL and Cypher disagree there, refuse)
    val mandatoryVars = varSets.reduce(_ | _) ++ extraKnown
    // relationship variables: globally unique (a reused edge var would
    // duplicate a column through the part joins) and distinct from nodes
    // (and from piped WITH outputs, which arrive as columns too)
    val mandEdgeVars = parts.flatMap(_.edges.flatMap(_.varName))
    if (mandEdgeVars.distinct.size != mandEdgeVars.size ||
        mandEdgeVars.exists(mandatoryVars.contains))
      return Left("relationship variable names must be unique across " +
        "patterns and distinct from node variables (and WITH outputs)")
    val optNewSeen = scala.collection.mutable.Set.empty[String]
    optParts.foreach { p =>
      val vs = p.nodes.map(_.v).toSet
      if ((vs & mandatoryVars).isEmpty)
        return Left("OPTIONAL MATCH must share a variable with a " +
          "mandatory MATCH pattern")
      val fresh = (vs -- mandatoryVars) ++ p.edges.flatMap(_.varName)
      fresh.find(v => optNewSeen.contains(v) ||
          mandEdgeVars.contains(v) || (mandatoryVars.contains(v) &&
            p.edges.exists(_.varName.contains(v)))).foreach(v =>
        return Left(s"variable '$v' is introduced by two OPTIONAL " +
          "MATCH patterns (or clashes with an earlier variable)"))
      optNewSeen ++= fresh
    }

    // WHERE → DNF: split on OR (outer), then AND (inner) — standard
    // precedence (quote-aware, see [[boolSplit]]). The closed regex forms
    // are tried first (they carry the pushdown-friendly shapes and the
    // targeted error messages); anything else falls through to the
    // expression-comparison parser.
    val conds: Seq[Seq[WhereTerm]] = wherePart match {
      case None => Nil
      case Some(w) =>
        boolSplit(w, "OR").map { grp =>
          boolSplit(grp, "AND").map[WhereTerm] { raw0 =>
          // a leading NOT negates the single following term; one layer
          // of parens around that term is accepted (`NOT (x = 'a')`)
          val NotPrefix = "(?is)^NOT\\s+(.*)$".r
          val (negated, rawT) = raw0 match {
            case NotPrefix(inner0) =>
              val inner = inner0.trim
              val stripped =
                if (inner.startsWith("(") && inner.endsWith(")")) {
                  var depth = 0; var one = true
                  inner.zipWithIndex.foreach { case (c, i) =>
                    if (c == '(') depth += 1
                    else if (c == ')') {
                      depth -= 1
                      if (depth == 0 && i != inner.length - 1) one = false
                    }
                  }
                  if (one && depth == 0)
                    inner.substring(1, inner.length - 1).trim
                  else inner
                } else inner
              (true, stripped)
            case _ => (false, raw0)
          }
          // Neptune's `ID(v)` spells this store's node identity — the
          // binding itself. Rewrite a leading id(v) to v.id so the
          // closed-form Cond shapes (=, IN, ...) apply unchanged
          // (byokg neptune.py:137-198 WHERE ID(n) IN $node_ids).
          val rawT1 = IdFnHeadRe.findPrefixMatchOf(rawT) match {
            case Some(m) if m.end == rawT.length =>
              s"${m.group(1)}.id ${m.group(2)}"
            case _ => rawT
          }
          val term: WhereTerm = rawT1 match {
            // prop group is optional for = / <> / numeric: a bare name
            // compares the binding itself — required for WHERE on a
            // piped WITH output (e.g. `WHERE n >= 2` after a count)
            case CondRe(v, p, op, value) =>
              Cond(v, op, Seq(value), Option(p).getOrElse("id"))
            case CondNumRe(v, p, op, num) =>
              // the BARE numeric form (`WHERE n >= 2`, no property) is
              // only meaningful on a piped WITH/UNWIND output (a count or
              // aggregate); on a pattern node variable the binding is a
              // string node id, so the double try_cast would silently
              // null out every row — a loud Left keeps the KGQA retry
              // loop's feedback on semantics instead of an empty result
              if (p == null && !extraKnown.contains(v))
                return Left(s"numeric comparison on bare variable '$v' — " +
                  "node bindings are string ids; compare a property " +
                  s"('$v.prop $op $num') or pipe an aggregate through WITH")
              else Cond(v, s"NUM$op", Seq(num), Option(p).getOrElse("id"))
            case CondStartsRe(v, p, pre) =>
              Cond(v, "STARTS_WITH", Seq(pre), p)
            case CondEndsRe(v, p, sfx) => Cond(v, "ENDS_WITH", Seq(sfx), p)
            case CondContainsRe(v, p, sub) =>
              Cond(v, "CONTAINS", Seq(sub), p)
            case CondNullRe(v, p, not) =>
              Cond(v, if (not == null) "IS_NULL" else "IS_NOT_NULL", Nil,
                Option(p).getOrElse("id"))
            case inTerm if parseInTerm(inTerm).isDefined =>
              val (v, p, vals) = parseInTerm(inTerm).get
              Cond(v, "IN", vals, p)
            case other =>
              // expression fallback: `expr cmpop expr` with scalar
              // functions / arithmetic on either side — the reference's
              // coalesce/size shapes and LLM-emitted property arithmetic
              parseExprCompare(other) match {
                case Right((l, op, r)) => ExprCond(l, op, r)
                case Left(e) => return Left(
                  s"unsupported WHERE term '$other' ($e)")
              }
          }
          if (negated) NotTerm(term) else term
          }
        }
    }
    // RETURN count(*) / count(DISTINCT v.id): the binding-cardinality
    // aggregates LLM-authored KGQA queries lean on constantly.
    // `AS alias` names the output column (default "count").
    def fullMatch(re: scala.util.matching.Regex, text: String) =
      re.findPrefixMatchOf(text).filter(_.end == text.length)
    val countStarM = fullMatch(CountStarRe, retPart.trim)
    val countStar = countStarM.nonEmpty
    val countDistinctM = fullMatch(CountDistinctRe, retPart.trim)
    val countDistinctVar = countDistinctM.map(_.group(1))
    val countDistinctProp = countDistinctM.flatMap(m => propOf(m.group(2)))
    // count(v): non-null binding count (OPTIONAL-match rows that bound
    // null do not count — count(*) would)
    val countVarM =
      if (countStar || countDistinctVar.nonEmpty) None
      else fullMatch(CountVarRe, retPart.trim)
    val countVar = countVarM.map(_.group(1))
    val countVarProp = countVarM.flatMap(m => propOf(m.group(2)))
    // sum/min/max/avg as the sole RETURN item: the scalar aggregate form
    val scalarAggM =
      if (countStar || countDistinctVar.nonEmpty || countVar.nonEmpty) None
      else fullMatch(AggRe, retPart.trim)
    val isScalarCount =
      countStar || countDistinctVar.nonEmpty || countVar.nonEmpty ||
        scalarAggM.nonEmpty
    if (isScalarCount && (distinct || orderByRaw.nonEmpty))
      return Left("a lone aggregate cannot combine with DISTINCT or " +
        "ORDER BY")
    // RETURN v.id [, ...], count(*|v): grouped count — aggregation keyed
    // by the returned variables (the per-entity cardinality shape: "how
    // many orders did each customer place"). The count must be the LAST
    // item; count(v) counts only non-null bindings of v.
    val retItems = topSplit(retPart)
    // MULTI-aggregate suffix: when TWO OR MORE trailing items are
    // aggregates (`RETURN c.id, count(*) AS n, sum(o.price) AS total`),
    // they compile as one grouped aggregation keyed by the plain prefix
    // (or one scalar agg row when the prefix is empty). Single-aggregate
    // queries keep the dedicated slots below.
    def parseAggItem(item: String): Option[Either[String, AggItem]] =
      fullMatch(CountStarRe, item).map(m => Right(AggItem("count_star",
          None, None, Option(m.group(1)).getOrElse("count"))))
        .orElse(fullMatch(CountDistinctRe, item).map(m =>
          Right(AggItem("count_distinct", Some(m.group(1)),
            propOf(m.group(2)), Option(m.group(3)).getOrElse("count")))))
        .orElse(fullMatch(CountVarRe, item).map(m =>
          Right(AggItem("count", Some(m.group(1)), propOf(m.group(2)),
            Option(m.group(3)).getOrElse("count")))))
        .orElse(fullMatch(AggRe, item).map { m =>
          val f = m.group(1).toLowerCase
          val av = m.group(2); val ap = propOf(m.group(3))
          if ((f == "sum" || f == "avg") && ap.isEmpty)
            Left(s"$f() needs a numeric property — e.g. $f($av.price)")
          else Right(AggItem(f, Some(av), ap,
            Option(m.group(4)).getOrElse(
              s"$f($av${ap.fold("")("." + _)})")))
        })
    val aggSuffix: Seq[Either[String, AggItem]] = retItems.reverse
      .iterator.map(parseAggItem).takeWhile(_.isDefined).map(_.get)
      .toSeq.reverse
    val multiAgg = !isScalarCount && aggSuffix.size >= 2
    val aggItems: Seq[AggItem] =
      if (multiAgg) aggSuffix.map(_.fold(e => return Left(e), identity))
      else Nil
    val groupCountM =
      if (isScalarCount || multiAgg || retItems.size < 2) None
      else fullMatch(CountStarRe, retItems.last)
    // grouped count(DISTINCT v[.p]) — tried before count(v): the
    // per-entity DISTINCT-cardinality shape ("how many DIFFERENT parts
    // did each customer order")
    val groupCountDistinctM =
      if (isScalarCount || multiAgg || retItems.size < 2 ||
          groupCountM.nonEmpty) None
      else fullMatch(CountDistinctRe, retItems.last)
    val groupCountDistinctVar = groupCountDistinctM.map(_.group(1))
    val groupCountDistinctProp =
      groupCountDistinctM.flatMap(m => propOf(m.group(2)))
    val groupCountVarM =
      if (isScalarCount || multiAgg || retItems.size < 2 ||
          groupCountM.nonEmpty || groupCountDistinctM.nonEmpty) None
      else fullMatch(CountVarRe, retItems.last)
    val groupCountVar = groupCountVarM.map(_.group(1))
    val groupCountProp = groupCountVarM.flatMap(m => propOf(m.group(2)))
    val groupCount = groupCountM.nonEmpty || groupCountVar.nonEmpty ||
      groupCountDistinctVar.nonEmpty
    // grouped sum/min/max/avg: the LAST RETURN item, like grouped count
    val groupAggM =
      if (isScalarCount || multiAgg || retItems.size < 2 || groupCount) None
      else fullMatch(AggRe, retItems.last)
    val aggM = scalarAggM.orElse(groupAggM)
    val aggFunc = aggM.map(_.group(1).toLowerCase)
    val aggVar = aggM.map(_.group(2))
    val aggProp = aggM.flatMap(m => propOf(m.group(3)))
    val groupAgg = groupAggM.nonEmpty
    if (aggFunc.exists(f => f == "sum" || f == "avg") && aggProp.isEmpty)
      return Left(s"${aggFunc.get}() needs a numeric property — e.g. " +
        s"${aggFunc.get}(${aggVar.get}.price)")
    val plainItems: Seq[String] =
      if (isScalarCount) Nil
      else if (multiAgg) retItems.dropRight(aggItems.size)
      else if (groupCount || groupAggM.nonEmpty) retItems.init
      else retItems
    val AggLikeInit = """(count|sum|min|max|avg)\(""".r
    if ((groupCount || groupAgg || multiAgg) && plainItems.exists(i =>
        AggLikeInit.findFirstIn(
          i.replaceAll("\\s", "").toLowerCase).nonEmpty))
      return Left("aggregates must be the TRAILING RETURN items")
    if ((groupCount || groupAgg || multiAgg) && distinct)
      return Left("DISTINCT cannot combine with a grouped aggregate")
    val countAlias = countStarM.orElse(groupCountM)
      .flatMap(m => Option(m.group(1)))
      .orElse(countDistinctM.orElse(groupCountDistinctM)
        .flatMap(m => Option(m.group(3))))
      .orElse(countVarM.orElse(groupCountVarM)
        .flatMap(m => Option(m.group(3))))
      .orElse(aggM.flatMap(m => Option(m.group(4))))
      .getOrElse(
        if (aggM.nonEmpty)
          s"${aggFunc.get}(${aggVar.get}${aggProp.fold("")("." + _)})"
        else "count")
    val allEdgeVars = (mandEdgeVars ++
      optParts.flatMap(_.edges.flatMap(_.varName))).toSet
    // (variable, property, output name, expr): property items default
    // their output name to the literal `v.prop` (Neo4j's convention);
    // plain bindings keep the bare variable; expression items (scalar
    // functions / arithmetic) REQUIRE an AS alias and record their first
    // referenced variable in the `returns` slot. `r.prop` on a bound
    // relationship variable reads the edge frame's property column —
    // the reference's `__RELATION__{value}` edge properties
    // (entity_relation_graph_builder.py:75-129).
    val ExprAliasRe = """(?is)^(.*\S)\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)$""".r
    val retQuads: Seq[(String, Option[String], String, Option[Expr])] =
      plainItems.map {
        case TypeRetRe(v, alias) =>
          if (!allEdgeVars.contains(v))
            return Left(s"type($v): '$v' is not a relationship variable")
          (v, None, Option(alias).getOrElse(s"type($v)"), None)
        case PropsRetRe(v, alias) =>
          // legal on BOTH node and relationship variables: for an edge
          // variable the map renders the edge frame's extra columns
          // (schema-checked in run(); a props-less store Lefts there)
          (v, Some("*"), Option(alias).getOrElse(s"properties($v)"), None)
        case RetRe(v, propG, alias) =>
          val p = propOf(propG)
          (v, p, Option(alias).getOrElse(
            p.map(pp => s"$v.$pp").getOrElse(v)), None)
        case other =>
          val (body, alias) = other match {
            case ExprAliasRe(b, a) => (b, Some(a))
            case _ => (other, None)
          }
          parseExpr(body) match {
            case Right(e) if e.refs.nonEmpty =>
              alias match {
                case Some(a) => (e.refs.head._1, None, a, Some(e))
                case None => return Left("expression RETURN items need " +
                  s"an alias — '$other AS name'")
              }
            case Right(_) => return Left("expression RETURN items must " +
              s"reference a variable: '$other'")
            case Left(e) =>
              return Left(s"unsupported RETURN item '$other' ($e)")
          }
      }
    val returns = retQuads.map(_._1)
    val retProps = retQuads.map(_._2)
    val aliases = retQuads.map(_._3)
    val retExprs = retQuads.map(_._4)
    // the default countAlias 'count' only collides when a count item
    // actually exists — a plain `RETURN n.id AS count` is legal
    val hasCountItem = isScalarCount || groupCount || groupAgg
    val outNames = aliases ++
      (if (hasCountItem) Seq(countAlias) else Nil) ++
      aggItems.map(_.alias)
    if (outNames.distinct.size != outNames.size)
      return Left("duplicate output column names in RETURN — " +
        "disambiguate with AS")
    val known = mandatoryVars ++ mandEdgeVars ++
      optParts.flatMap(p => p.nodes.map(_.v) ++ p.edges.flatMap(_.varName))
    val condEligible = mandatoryVars ++ mandEdgeVars
    // IS [NOT] NULL is exempt from the null-kill refusal: filtering on
    // the optional variable's null-ness IS the stated intent (the Cypher
    // anti-join / exists shape). In expression terms, refs inside a
    // multi-arg coalesce are also exempt — the fallback handles the null.
    def nullKillVars(t: WhereTerm): Seq[String] = t match {
      case c: Cond if !c.op.startsWith("IS_") => Seq(c.v)
      case e: ExprCond =>
        (e.l.unguardedRefs ++ e.r.unguardedRefs).map(_._1)
      case NotTerm(inner) => nullKillVars(inner) // NOT(IS NULL) stays exempt
      case _ => Nil
    }
    conds.flatten.flatMap(nullKillVars)
      .find(!condEligible.contains(_)) match {
      case Some(v) if known.contains(v) =>
        return Left(s"WHERE on OPTIONAL MATCH variable '$v' would " +
          "null-kill the outer join — not supported (wrap it in " +
          "coalesce(...) with a fallback, or use IS [NOT] NULL)")
      case _ =>
    }
    // ORDER BY items resolve to a returned item (by variable+property or
    // by alias), the count column (count(*) / count(v) / its alias), or —
    // with no RETURN items — a bare known variable. Anything else is a
    // Left. ORDER BY count(*) on a count(v) query is REFUSED, not
    // silently reinterpreted: non-null binding counts differ from row
    // counts when OPTIONAL rows bind null.
    val ordResolved: Seq[(String, Boolean)] = orderByRaw.map {
      case (o, propOpt, asc) =>
      if (multiAgg && (o.startsWith("count(") || o.startsWith("agg:") ||
          (propOpt.isEmpty && aggItems.exists(_.alias == o)))) {
        // multi-aggregate queries resolve ORDER BY against the aggregate
        // list: by alias, or by an UNAMBIGUOUS count(...)/func(v.p) form
        val hit =
          if (o.startsWith("count(")) {
            val inner = o.stripPrefix("count(").stripSuffix(")")
            aggItems.filter(a =>
              (inner == "*" && a.func == "count_star") ||
                (a.func == "count" && a.prop.isEmpty &&
                  a.v.contains(inner)))
          } else if (o.startsWith("agg:")) {
            val parts = o.split(":", 4)
            aggItems.filter(a => a.func == parts(1) &&
              a.v.contains(parts(2)) && a.prop.getOrElse("") == parts(3))
          } else aggItems.filter(_.alias == o)
        if (hit.size == 1) (hit.head.alias, asc)
        else return Left(s"ORDER BY '$o' is ambiguous or unmatched " +
          "among the aggregates — ORDER BY the aggregate's alias (" +
          aggItems.map(_.alias).mkString(", ") + ")")
      }
      else if (o.startsWith("count(")) {
        val inner = o.stripPrefix("count(").stripSuffix(")")
        if (!groupCount)
          return Left("ORDER BY count(...) needs a grouped count RETURN")
        if (inner == "*") {
          if (groupCountVar.nonEmpty)
            return Left("ORDER BY count(*) is ambiguous on a " +
              s"count(${groupCountVar.get}) query — row counts differ " +
              "from non-null binding counts when OPTIONAL rows bind " +
              s"null; ORDER BY count(${groupCountVar.get}) or the " +
              s"alias '$countAlias'")
          if (groupCountDistinctVar.nonEmpty)
            return Left("ORDER BY count(*) is ambiguous on a " +
              "count(DISTINCT ...) query — row counts differ from " +
              s"distinct counts; ORDER BY the alias '$countAlias'")
          (countAlias, asc)
        } else {
          if (!groupCountVar.contains(inner))
            return Left(s"ORDER BY count($inner) does not match the " +
              "returned count item")
          (countAlias, asc)
        }
      } else if (o.startsWith("agg:")) {
        // ORDER BY sum(o.price) etc — must match the grouped agg item
        val sig = s"agg:${aggFunc.getOrElse("")}:${aggVar.getOrElse("")}:" +
          aggProp.getOrElse("")
        if (!groupAgg || o != sig)
          return Left(s"ORDER BY ${o.stripPrefix("agg:")
            .split(":").head}(...) does not match the returned aggregate")
        (countAlias, asc)
      } else if ((groupCount || groupAgg) && propOpt.isEmpty &&
          o == countAlias) {
        (countAlias, asc)
      } else retQuads.collectFirst {
        // expression items resolve by ALIAS only — their recorded
        // variable is just the first ref, not an addressable item
        case (v, p, a, ex) if (ex.isEmpty && v == o && p == propOpt) ||
          (propOpt.isEmpty && a == o) => (a, asc)
      }.getOrElse {
        if (returns.nonEmpty)
          return Left(s"ORDER BY item '$o" +
            propOpt.fold("")("." + _) + "' must be returned")
        if (propOpt.nonEmpty || !known.contains(o))
          return Left(s"unknown variable '$o'")
        (o, asc)
      }
    }
    def termVars(t: WhereTerm): Seq[String] = t match {
      case c: Cond => Seq(c.v)
      case e: ExprCond => (e.l.refs ++ e.r.refs).map(_._1)
      case NotTerm(inner) => termVars(inner)
    }
    val condVars = conds.flatten.flatMap(termVars)
    val retExprVars = retExprs.flatten.flatMap(_.refs.map(_._1))
    // a BARE relationship variable inside an expression would resolve to
    // the edge's label while the documented contract binds node ids /
    // piped outputs — refuse loudly instead of letting the label
    // masquerade as an id (use type(r), or r.prop for edge properties)
    def exprTermRefs(t: WhereTerm): Seq[(String, String)] = t match {
      case e: ExprCond => e.l.refs ++ e.r.refs
      case NotTerm(inner) => exprTermRefs(inner)
      case _ => Nil
    }
    (conds.flatten.flatMap(exprTermRefs) ++
        retExprs.flatten.flatMap(_.refs))
      .collectFirst { case (v, "id") if allEdgeVars.contains(v) => v }
      .foreach(v => return Left(s"bare relationship variable '$v' in an " +
        s"expression — a relationship binding is its type, not an id; " +
        s"use type($v) to read the type or $v.<prop> for a property"))
    (condVars ++ returns ++ retExprVars ++ countDistinctVar ++ countVar ++
        groupCountVar ++ groupCountDistinctVar ++ aggVar ++
        aggItems.flatMap(_.v))
      .find(!known.contains(_)) match {
      case Some(v) => Left(s"unknown variable '$v'")
      case None =>
        Right(Query(parts, conds, returns, limit, countStar,
          distinct, ordResolved, optParts, countDistinctVar, groupCount,
          aliases, countAlias, countVar, groupCountVar,
          retProps, countDistinctProp, countVarProp, groupCountProp,
          aggFunc, aggVar, aggProp,
          groupCountDistinctVar, groupCountDistinctProp,
          retExprs, aggItems))
    }
  }

  /** One chain → a binding frame whose columns are the chain's variable
    * names, one row per match binding (Cypher semantics — no implicit
    * distinct). Label filters are NOT applied here; [[compile]] applies
    * them once over the joined frame (Catalyst pushes them back down). */
  private def compileChain(edgeFrame: DataFrame, part: Part,
                           edgeNeeded: Map[String, Set[String]] =
                             Map.empty): DataFrame = {
    // a bound relationship variable carries its type (the `v` column) and
    // any referenced edge properties, projected from the edge scan as
    // `__v__prop` — the same naming bindCol resolves node properties to,
    // so downstream compilation is representation-blind. Pruned to
    // exactly the referenced properties (column pruning at the scan).
    def edgePropCols(v: String): Seq[String] =
      edgeNeeded.getOrElse(v, Set.empty).toSeq.sorted
    def singleHop(e: EdgePat, from: String, to: String): DataFrame = {
      val typed =
        if (e.types.isEmpty) edgeFrame
        else if (e.types.size == 1)
          edgeFrame.filter(col("label") === e.types.head)
        else edgeFrame.filter(col("label").isin(e.types: _*))
      def orient(fromCol: String, toCol: String): DataFrame =
        typed.select(col(fromCol).as(from) +: col(toCol).as(to) +:
          (e.varName.map(v => col("label").as(v)).toSeq ++
            e.varName.toSeq.flatMap(v =>
              edgePropCols(v).map(p => col(p).as(s"__${v}__$p")))): _*)
      // undirected `-[..]-`: the union of both orientations — one extra
      // narrow scan per hop, no shuffle (both legs read the same typed
      // filter, so the scan is shared by ReuseExchange/whole-stage union)
      if (e.undirected) orient("src", "dst").union(orient("dst", "src"))
      else if (e.rightward) orient("src", "dst")
      else orient("dst", "src")
    }
    if (part.edges.isEmpty)
      edgeFrame.select(col("src").as(part.nodes.head.v))
        .union(edgeFrame.select(col("dst")))
        .distinct()
    else {
      // LEFT-TO-RIGHT accumulation: every hop joins the frame of
      // bindings accumulated SO FAR, so an anchored WHERE on an early
      // variable (pushed into the first scan by Catalyst) bounds every
      // later join. Var-length `*a..b` expands AGAINST the accumulated
      // frame as the union of per-length chains (one row per path,
      // Cypher semantics — intermediates drop, duplicates stay; a==0
      // adds the identity binding) — expanding the chains standalone
      // instead would self-join the full edge table into every-path
      // frames the anchor never restricts (measured 8× slower on the
      // anchored 2-hop var-length gate).
      var acc: DataFrame = null
      part.edges.zipWithIndex.foreach { case (e, i) =>
        val from = part.nodes(i).v
        val to = part.nodes(i + 1).v
        val base =
          if (acc == null) {
            if (e.minHops == 0)
              edgeFrame.select(col("src").as(from))
                .union(edgeFrame.select(col("dst"))).distinct()
            else null // first chain seeds directly from the edge table
          } else acc
        val boundCols =
          if (base == null) Seq.empty[String] else base.columns.toSeq
        val chains = (math.max(e.minHops, 1) to e.maxHops).map { len =>
          var f = base
          var cur = from
          for (j <- 1 to len) {
            val nxt = if (j == len) to else s"_vl_$j"
            val hop = singleHop(e, cur, nxt)
            f = if (f == null) hop else f.join(hop, cur)
            cur = nxt
          }
          f.select((boundCols :+ from).distinct.map(col) ++
            e.varName.map(col) ++
            e.varName.toSeq.flatMap(v =>
              edgePropCols(v).map(p => col(s"__${v}__$p"))) :+
            col(to): _*)
        }
        val identity =
          if (e.minHops > 0) None
          else Some(base.select(
            (boundCols :+ from).distinct.map(col) :+
              col(from).as(to): _*))
        acc = (identity.toSeq ++ chains).reduceLeft(_ union _)
      }
      acc
    }
  }

  /** Compile onto the edge frame; output columns carry the variable
    * names, each holding the bound node id. Comma-separated parts join
    * on their shared variables (greedy attach order — parse() proved
    * connectivity, so every remaining part eventually shares a bound
    * variable). */
  def compile(edgeFrame: DataFrame, q: Query,
              nodeProps: Option[DataFrame] = None,
              piped: Option[DataFrame] = None,
              memberOf: Seq[(String, Boolean, DataFrame)] = Nil)
  : DataFrame = {
    // relationship-variable property reads resolve from the edge scan
    // (projected inside compileChain); node-variable reads resolve via
    // the nodeProps join below
    val edgeVarSet = q.edgeVars
    // the edge frame's property columns (everything beyond the triple),
    // sorted — the expansion set for properties(r) and the deterministic
    // key order of its JSON rendering
    val edgeExtraCols: Seq[String] =
      (edgeFrame.columns.toSet -- Set("src", "dst", "label")).toSeq.sorted
    val edgeNeeded: Map[String, Set[String]] =
      q.neededProps.filter { case (v, _) => edgeVarSet.contains(v) }
        .map { case (v, ps) =>
          v -> (if (ps.contains("*")) ps - "*" ++ edgeExtraCols else ps)
        }.filter(_._2.nonEmpty)
    val frames = scala.collection.mutable.ArrayBuffer(
      q.parts.map(p => (p, compileChain(edgeFrame, p, edgeNeeded))): _*)
    var (part0, df) = frames.remove(0)
    var bound = part0.nodes.map(_.v).toSet
    // WITH/UNWIND-piped frame: pattern variables named like a piped
    // column are the pipe's join keys (Cypher's "WITH binds, the next
    // MATCH expands from the bindings"); piped columns with no pattern
    // twin ride along as plain output columns. The pipe participates in
    // the same greedy attach loop as the comma parts — a part whose only
    // link to part 0 is THROUGH the pipe (`WITH a, b MATCH (a)-->(p),
    // (b)-->(q)`) attaches via the pipe join, mirroring parse()'s
    // virtual-node connectivity check, so the loop can never stall on a
    // query parse() admitted. No shared name anywhere is only legal when
    // the WITH stage was a lone aggregate (parsePipe guarantees it) — a
    // bounded 1-row cross, the "count then use as denominator" shape.
    var pipePending = piped
    def tryAttachPipe(): Unit = pipePending.foreach { s1 =>
      val shared = s1.columns.filter(bound.contains).toSeq
      if (shared.nonEmpty) {
        df = df.join(s1, shared)
        bound ++= s1.columns
        pipePending = None
      }
    }
    tryAttachPipe()
    while (frames.nonEmpty) {
      val i = frames.indexWhere { case (p, _) =>
        p.nodes.exists(n => bound.contains(n.v)) }
      if (i < 0) // parse() proved reachability — unreachable by contract
        throw new IllegalStateException(
          "pattern part attach stalled despite parse-time connectivity")
      val (p, f) = frames.remove(i)
      val shared = p.nodes.map(_.v).filter(bound.contains)
      df = df.join(f, shared)
      bound ++= p.nodes.map(_.v)
      tryAttachPipe()
    }
    pipePending.foreach { s1 =>
      df = df.crossJoin(broadcast(s1))
      bound ++= s1.columns
    }
    // label + property-map filters once over the joined frame; a variable
    // labelled/anchored in several parts gets the conjunction (standard
    // Cypher semantics). The id anchors become pushed equalities — same
    // plan as the equivalent WHERE.
    def nodeFilters(n: NodePat): Seq[Column] =
      n.label.map(l => col(n.v).startsWith(l + ":")).toSeq ++
        n.idEq.map(v => col(n.v) === v)
    q.parts.flatMap(_.nodes).flatMap(nodeFilters)
      .foreach(f => df = df.filter(f))
    // collected-list membership (`WHERE s in entities` against a
    // path-collected node set, entity_based_search.py:156): a BROADCAST
    // LEFT SEMI (or ANTI, for NOT) against the one-column member frame —
    // the distributed twin of the reference's driver-side list, and the
    // same discipline as the large-IN hoist. Two memberships against the
    // same frame broadcast ONE exchange (ReuseExchange dedupes identical
    // subtrees). Applied before OPTIONAL attach: membership variables
    // are mandatory-pattern bindings by construction (CypherPaths
    // validates), so the filter shrinks the frame every later join sees.
    memberOf.foreach { case (v, negated, fr) =>
      val mcol = s"__member_$v"
      val mf = broadcast(fr.select(col(fr.columns.head).as(mcol)))
      df = df.join(mf, df(v) === mf(mcol),
        if (negated) "left_anti" else "left_semi")
    }
    // OPTIONAL parts: label/anchor filters INSIDE the part frame (pre-join
    // — Cypher's "pattern must match its own labels and property maps,
    // else null"), then a LEFT OUTER attach on the mandatory anchors
    q.optParts.foreach { p =>
      var f = compileChain(edgeFrame, p, edgeNeeded)
      p.nodes.flatMap(nodeFilters).foreach(c => f = f.filter(c))
      val shared = p.nodes.map(_.v).filter(bound.contains)
      df = df.join(f, shared, "left")
      bound ++= p.nodes.map(_.v)
    }
    // LARGE-IN id-probes hoist EARLY (before property attach): the
    // broadcast semi-join is the query's selectivity cliff (the reference
    // binds thousands of statement ids against a store of millions of
    // nodes), and applying it here lets every property join below see the
    // PROBED frame instead of the full match product. Only probes on the
    // node identity of an already-bound column qualify — a probe on a
    // property column needs that property attached first, so it keeps the
    // late WHERE position below (plan unchanged for those). Filtering
    // before the property LEFT joins is equivalent: the probe reads only
    // left-side columns, and LeftOuter never drops or duplicates left
    // rows. (guide §3.2 — reduce the big side before moving it.)
    val hoistedIns: Seq[Cond] = q.conds.headOption.toSeq.flatMap(
      _.collect {
        case c @ Cond(_, "IN", vs, _) if vs.size >= LargeInThreshold &&
          q.conds.forall(_.contains(c)) => c
      })
    val (earlyIns, lateIns) = hoistedIns.partition(c =>
      c.prop == "id" && df.columns.contains(c.v))
    earlyIns.foreach { c =>
      val sess = edgeFrame.sparkSession
      import sess.implicits._
      val lookup = broadcast(
        c.values.distinct.toDF(s"__in_${c.v}_${c.prop}__"))
      df = df.join(lookup,
        col(c.v) === col(s"__in_${c.v}_${c.prop}__"), "left_semi")
    }
    // Node-property materialization: one LEFT equi-join per variable that
    // reads non-id properties, against the caller's nodeProps frame
    // (id, prop...). LEFT so a dangling id (or an OPTIONAL null binding)
    // surfaces the property as null, Cypher's semantics. At scale this is
    // the node-table lookup every property graph store performs — an
    // ordinary keyed join Catalyst can reorder/broadcast, and the
    // projection is pruned to exactly the referenced properties.
    // the "*" sentinel (a properties(v) projection) expands to every
    // nodeProps column, sorted for a deterministic JSON rendering
    val allProps: Seq[String] =
      nodeProps.map(_.columns.filter(_ != "id").toSeq.sorted).getOrElse(Nil)
    val needed = q.neededProps
      .filterNot { case (v, _) => edgeVarSet.contains(v) }
      .map { case (v, ps) =>
        v -> (if (ps.contains("*")) ps - "*" ++ allProps else ps)
      }.filter(_._2.nonEmpty)
    if (needed.nonEmpty) {
      val props = nodeProps.getOrElse(throw new IllegalArgumentException(
        "query references node properties but no nodeProps frame was " +
          "supplied — use run(edgeFrame, Some(props), cypher)"))
      // Property-lookup prefilter (guide §3.2): after an early id-probe
      // the match frame is probe-selective by construction, but each
      // property join below would still build/shuffle the STORE-WIDE
      // props table (measured: the flagship's four property joins each
      // materialized the full node table as a broadcast hash relation —
      // the dominant cost of the query). Checkpoint-count the probed
      // frame ONCE (flat lineage — every per-variable key broadcast below
      // reads the persisted rows instead of re-executing the match), and
      // when it is small, semi-prune each property lookup to the ids the
      // frame actually binds. Semi-pruning the RIGHT side of a LeftOuter
      // join on its join key is result-identical: pruned rows could only
      // have produced no-match nulls. Count-gated: past the cap the key
      // broadcasts would be the new problem, so the plain joins stand.
      val sortedNeeded = needed.toSeq.sortBy(_._1)
      // ≥2 prop variables: with a single lookup the plain LEFT join costs
      // one props pass too, and the checkpoint-count round-trip is pure
      // overhead (measured +0.18 s on the single-var facts query).
      val keyBase: Option[DataFrame] =
        if (earlyIns.nonEmpty && sortedNeeded.size >= 2) {
          val (dfC, n) = graft.ops.Joins.checkpointCount(df)
          df = dfC
          if (n <= PropPrefilterMaxRows) Some(dfC) else None
        } else None
      // ONE store scan for every variable's lookup: the union of all
      // bound ids semi-prunes the props table once (lazy checkpoint — the
      // first join materializes it, the rest read the persisted rows), so
      // four property joins cost one props pass instead of four. Rows for
      // other variables' ids are harmless surplus: a LEFT equi-join only
      // picks up rows matching its own keys.
      val prefiltered: Option[DataFrame] = keyBase.map { kb =>
        val allCols = sortedNeeded.flatMap(_._2).distinct.sorted
        val allKeys = sortedNeeded.map { case (v, _) =>
          kb.select(col(v).cast("string").as("__k")) }
          .reduce(_ union _).distinct()
        // cast BOTH sides to string: the binding keys are string-cast, and
        // a mixed-type equi-join against a non-string props id would
        // coerce both to double — mis-pruning ids beyond 2^53 or with
        // non-canonical numeric renderings (round-11 ADVICE)
        props.select((col("id") +: allCols.map(col)): _*)
          .join(broadcast(allKeys),
            col("id").cast("string") === col("__k"), "left_semi")
          .localCheckpoint(false)
      }
      // the lookup compares string-cast ids, as the prune above does: a
      // prune can then never drop a row this join would match, and a
      // double binding never meets a long id through double coercion
      sortedNeeded.foreach { case (v, ps) =>
        val src = prefiltered.getOrElse(props)
        val pf = src.select(col("id").as(s"__${v}__id") +:
          ps.toSeq.sorted.map(p => col(p).as(s"__${v}__$p")): _*)
        df = df.join(pf,
          df(v).cast("string") === pf(s"__${v}__id").cast("string"), "left")
          .drop(s"__${v}__id")
      }
    }
    def bindCol(v: String, prop: String): Column =
      if (prop == "id") col(v)
      else if (prop == "*") { // properties(v): sorted-key JSON, null binding
        val keys = if (edgeVarSet.contains(v)) edgeExtraCols else allProps
        when(col(v).isNull, lit(null).cast("string"))
          .otherwise(to_json(struct(
            keys.map(p => col(s"__${v}__$p").as(p)): _*)))
      }
      else col(s"__${v}__$prop")
    // scalar expression → Column: functions map 1:1 onto codegen'd
    // built-ins; arithmetic folds double try_casts (non-numeric → null,
    // row drops — SQL semantics); size() is array-size for list-kinded
    // args (split results) and string length otherwise (Cypher's size()
    // covers both)
    def exprCol(e: Expr): Column = e match {
      case Expr.Ref(v, p) => bindCol(v, p.getOrElse("id"))
      case Expr.Str(s) => lit(s)
      case Expr.Num(d) => lit(d)
      case Expr.Bin(op, l, r) =>
        val lc = exprCol(l).try_cast("double")
        val rc = exprCol(r).try_cast("double")
        op match {
          case '+' => lc + rc
          case '-' => lc - rc
          case '*' => lc * rc
          case '/' => lc / rc
          case '%' => lc % rc
        }
      case Expr.Fn("coalesce", args) => coalesce(args.map(exprCol): _*)
      case Expr.Fn("size", Seq(a)) =>
        if (Expr.kind(a) == "arr") size(exprCol(a))
        else length(exprCol(a).cast("string"))
      case Expr.Fn("tolower", Seq(a)) => lower(exprCol(a))
      case Expr.Fn("toupper", Seq(a)) => upper(exprCol(a))
      case Expr.Fn("trim", Seq(a)) => trim(exprCol(a))
      case Expr.Fn("tostring", Seq(a)) => exprCol(a).cast("string")
      case Expr.Fn("split", Seq(a, Expr.Str(d))) =>
        // Cypher split takes a LITERAL delimiter; Spark's takes a regex
        split(exprCol(a), java.util.regex.Pattern.quote(d))
      // id(v)/ID(v): the node's identity — in this store, the binding
      // itself (the reference's Neptune store spells node ids this way)
      case Expr.Fn("id", Seq(a)) => exprCol(a)
      // labels(v): this store labels nodes by id prefix — a one-element
      // list, Cypher's return type
      case Expr.Fn("labels", Seq(a)) =>
        array(substring_index(exprCol(a), ":", 1))
      case other => throw new IllegalStateException(
        s"unreachable expression shape $other") // parser closed the set
    }
    def exprCmpCol(ec: ExprCond): Column = {
      // numeric when either side's inferred kind is numeric (arithmetic,
      // size(), a number literal) — both sides try_cast to double; raw
      // column comparison otherwise (string properties compare
      // lexicographically, the reference's ISO-timestamp-string shape)
      val numeric =
        Expr.kind(ec.l) == "num" || Expr.kind(ec.r) == "num"
      val (lc, rc) =
        if (numeric) (exprCol(ec.l).try_cast("double"),
          exprCol(ec.r).try_cast("double"))
        else (exprCol(ec.l), exprCol(ec.r))
      ec.op match {
        case "=" => lc === rc
        case "<>" => lc =!= rc
        case ">" => lc > rc
        case ">=" => lc >= rc
        case "<" => lc < rc
        case "<=" => lc <= rc
      }
    }
    // WHERE in DNF: AND within a group (each conjunct an independently
    // pushable predicate), OR across groups (one residual filter — an OR
    // can't push into the scan, which is Cypher's semantics too)
    def condCol(c: Cond): Column = {
      val b = bindCol(c.v, c.prop)
      c.op match {
        case "=" => b === c.values.head
        case "<>" => b =!= c.values.head
        case "IN" => b.isin(c.values: _*)
        case "STARTS_WITH" => b.startsWith(c.values.head)
        case "ENDS_WITH" => b.endsWith(c.values.head)
        case "CONTAINS" => b.contains(c.values.head)
        case "IS_NULL" => b.isNull
        case "IS_NOT_NULL" => b.isNotNull
        case num if num.startsWith("NUM") =>
          // try_cast, not cast: under ANSI a non-numeric property value
          // must drop the row (null compare), not kill the query
          val d = b.try_cast("double")
          val x = lit(c.values.head.toDouble)
          num.stripPrefix("NUM") match {
            case ">" => d > x
            case ">=" => d >= x
            case "<" => d < x
            case "<=" => d <= x
            case "=" => d === x
            case "<>" => d =!= x
          }
      }
    }
    def termCol(t: WhereTerm): Column = t match {
      case c: Cond => condCol(c)
      case e: ExprCond => exprCmpCol(e)
      case NotTerm(inner) => !termCol(inner)
    }
    // LARGE IN lists compile as a broadcast LEFT SEMI join, not an
    // expression literal: the reference's own $statementIds binding
    // arrives as thousands of ids (6.2k at sf0.1, unbounded at scale),
    // and a thousands-literal InSet bloats the plan tree, codegen, and
    // every task's serialized plan — a broadcast hash semi-join on a
    // deduped literal frame is the 100 TB shape (and how a store-side
    // parameter would bind). Only a conjunct common to EVERY OR-group
    // can hoist: OR_i(IN ∧ rest_i) = IN ∧ OR_i(rest_i). Null keys drop
    // on both forms (isin(null) is null; a semi-join key never matches
    // null), so semantics are unchanged. Id-probes on bound columns
    // (`earlyIns`) already applied BEFORE the property joins above; only
    // property-valued probes remain here.
    lateIns.foreach { c =>
      val s = edgeFrame.sparkSession
      import s.implicits._
      val lookup = broadcast(
        c.values.distinct.toDF(s"__in_${c.v}_${c.prop}__"))
      df = df.join(lookup,
        bindCol(c.v, c.prop) === col(s"__in_${c.v}_${c.prop}__"),
        "left_semi")
    }
    val residual: Seq[Seq[WhereTerm]] =
      q.conds.map(_.filterNot(t => hoistedIns.exists(_ == t)))
    if (residual.exists(_.isEmpty)) {
      // a group emptied by hoisting is TRUE — the whole OR is satisfied
      // by the semi-join alone, no residual filter
    } else if (residual.nonEmpty && residual.exists(_.nonEmpty))
      df = df.filter(
        residual.map(_.map(termCol).reduce(_ && _)).reduce(_ || _))
    val retP =
      if (q.retProps.size == q.returns.size) q.retProps
      else q.returns.map(_ => None)
    val retA =
      if (q.retAliases.size == q.returns.size) q.retAliases else q.returns
    val retE =
      if (q.retExprs.size == q.returns.size) q.retExprs
      else q.returns.map(_ => None)
    val outCols: Seq[(Column, String)] =
      q.returns.indices.map { i =>
        (retE(i).map(exprCol)
          .getOrElse(bindCol(q.returns(i), retP(i).getOrElse("id"))),
          retA(i))
      }
    // output columns may carry a dot (`v.prop` default names) — backtick
    // when referencing them post-projection
    def outRef(n: String): Column =
      if (n.contains(".")) col(s"`$n`") else col(n)
    // sum/min/max/avg: sum/avg fold the property's double try_cast
    // (non-numeric → null → excluded, SQL semantics); min/max order the
    // raw column (numeric properties compare numerically, strings
    // lexicographically — Cypher's behavior)
    def aggColumn: Column = {
      val base = bindCol(q.aggVar.get, q.aggProp.getOrElse("id"))
      q.aggFunc.get match {
        case "sum" => sum(base.try_cast("double"))
        case "avg" => avg(base.try_cast("double"))
        case "min" => min(base)
        case "max" => max(base)
        // collect(): Cypher's list aggregate. Neo4j leaves element order
        // unspecified; returning the SORTED list (nulls dropped, like
        // Cypher — collect skips nulls) makes the result deterministic
        // under any partitioning, replayable in SQL, and stable run to run
        case "collect" => sort_array(collect_list(base))
      }
    }
    // one multi-aggregate item → Column (same semantics as the dedicated
    // single-aggregate slots: counts skip nulls, sum/avg fold double
    // try_casts, collect returns the deterministic sorted list)
    def aggItemCol(a: AggItem): Column = {
      def bind = bindCol(a.v.get, a.prop.getOrElse("id"))
      a.func match {
        case "count_star" => count(lit(1))
        case "count" => count(bind)
        case "count_distinct" => count_distinct(bind)
        case "sum" => sum(bind.try_cast("double"))
        case "avg" => avg(bind.try_cast("double"))
        case "min" => min(bind)
        case "max" => max(bind)
        case "collect" => sort_array(collect_list(bind))
      }
    }
    var out =
      if (q.aggs.nonEmpty) {
        // multi-aggregate: ONE grouped (or scalar) aggregation computes
        // every trailing aggregate — a single shuffle keyed on the plain
        // prefix, never one pass per aggregate
        val aggCols = q.aggs.map(a => aggItemCol(a).as(a.alias))
        if (q.returns.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
        else df.groupBy(outCols.map { case (c, a) => c.as(a) }: _*)
          .agg(aggCols.head, aggCols.tail: _*)
      }
      else if (q.countStar) df.agg(count(lit(1)).as(q.countAlias))
      else if (q.countDistinctVar.nonEmpty)
        df.agg(count_distinct(bindCol(q.countDistinctVar.get,
          q.countDistinctProp.getOrElse("id"))).as(q.countAlias))
      else if (q.countVar.nonEmpty) // non-null bindings only
        df.agg(count(bindCol(q.countVar.get,
          q.countVarProp.getOrElse("id"))).as(q.countAlias))
      else if (q.aggFunc.nonEmpty && q.returns.isEmpty)
        df.agg(aggColumn.as(q.countAlias))
      else if (q.groupCount)
        df.groupBy(outCols.map { case (c, a) => c.as(a) }: _*)
          .agg(q.groupCountDistinctVar
            .map(v => count_distinct(bindCol(v,
              q.groupCountDistinctProp.getOrElse("id"))))
            .getOrElse(count(q.groupCountVar.map(v => bindCol(v,
              q.groupCountProp.getOrElse("id"))).getOrElse(lit(1))))
            .as(q.countAlias))
      else if (q.aggFunc.nonEmpty)
        df.groupBy(outCols.map { case (c, a) => c.as(a) }: _*)
          .agg(aggColumn.as(q.countAlias))
      else df.select(outCols.map { case (c, a) => c.as(a) }: _*)
    if (q.distinct) out = out.distinct()
    if (q.orderBy.nonEmpty)
      out = out.orderBy(q.orderBy.map { case (v, asc) =>
        if (asc) outRef(v).asc else outRef(v).desc }: _*)
    q.limit.fold(out)(out.limit)
  }

  // ---- WITH pipeline (the aggregation-then-filter / HAVING shape) ----

  /** A restricted one-stage WITH pipeline:
    *
    *   MATCH ... [WHERE ...] WITH item [, item ...][, agg [AS a]]
    *   [WHERE having-term [AND|OR ...]]
    *   RETURN out [, out ...] [ORDER BY out [DESC] ...] [LIMIT n]
    *
    * — the "customers with more than N orders" shape (aggregate, filter
    * on the aggregate, project): Cypher's WITH is SQL's HAVING stage.
    * The WITH items use the FULL RETURN grammar (properties, count,
    * sum/min/max/avg); the pipeline tail references WITH outputs by
    * name only (project properties in the WITH items). `having` terms
    * compare an output against a number (cast-to-double) or a quoted
    * string; outer Seq ORs groups of ANDed terms, like WHERE.
    * Compilation is stage1's plan + one residual filter + a projection —
    * no extra shuffle beyond stage1's aggregate. */
  final case class PipeQuery(stage1: Query,
                             having: Seq[Seq[(String, String, String)]],
                             outs: Seq[(String, String)],
                             orderBy: Seq[(String, Boolean)],
                             limit: Option[Int],
                             // WITH ... MATCH ...: the tail is a FULL
                             // second query whose patterns join the piped
                             // frame on shared variable names; outs /
                             // orderBy / limit above are unused then (the
                             // tail query carries its own)
                             stage2: Option[Query] = None)

  private val BareRetRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?""".r
  private val BareOrdRe =
    """(?i)([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)(?:\s+(ASC|DESC))?""".r
  private val HavingStrRe =
    """([A-Za-z_][A-Za-z0-9_.]*)\s*(=|<>)\s*'([^']*)'""".r
  private val HavingNumRe =
    """([A-Za-z_][A-Za-z0-9_.]*)\s*(>=|<=|>|<|=|<>)\s*(-?\d+(?:\.\d+)?)""".r

  def parsePipe(q0: String): Either[String, PipeQuery] = {
    val s = q0.trim.stripSuffix(";").trim
    val wm = withMatch(s).getOrElse(
      return Left("expected a WITH clause"))
    val head = s.substring(0, wm.start).trim
    val rest = s.substring(wm.end).trim
    if (withMatch(" " + rest).nonEmpty)
      return Left("only one WITH stage is supported")
    val restPad = " " + rest + " "
    val rm = kwMatch(restPad, "RETURN").getOrElse(
      return Left("WITH needs a RETURN stage"))
    // WITH ... MATCH ...: a MATCH before the RETURN makes the whole tail
    // a second full query expanding from the piped bindings
    val mm = kwMatch(restPad, "MATCH").filter(_.start < rm.start)
    val beforeRet = restPad.substring(0, mm.map(_.start)
      .getOrElse(rm.start)).trim
    if (mm.nonEmpty && beforeRet.toUpperCase.endsWith("OPTIONAL"))
      return Left("the MATCH after WITH cannot be OPTIONAL — anchor a " +
        "mandatory MATCH first, then OPTIONAL MATCH off it")
    var tail = restPad.substring(rm.end).trim
    // optional HAVING-style WHERE between the WITH items and RETURN
    val (withItems, havingText) = kwMatch(beforeRet, "WHERE") match {
      case Some(hm) => (beforeRet.substring(0, hm.start).trim,
        Some(beforeRet.substring(hm.end).trim))
      case None => (beforeRet, None)
    }
    if (withItems.isEmpty) return Left("empty WITH item list")
    // stage 1 reuses the whole MATCH/RETURN parser: WITH items ARE a
    // RETURN list (grouping, counts, aggregates, properties included)
    val stage1 = parse(head + " RETURN " + withItems)
      .fold(e => return Left(e), identity)
    val outNames = stage1.outputNames
    def resolveName(n: String, what: String): Either[String, String] =
      if (outNames.contains(n)) Right(n)
      else Left(s"$what '$n' is not a WITH output (have: " +
        outNames.mkString(", ") + ") — project it in the WITH items")
    val having: Seq[Seq[(String, String, String)]] = havingText match {
      case None => Nil
      case Some(h) =>
        boolSplit(h, "OR").map { grp =>
          boolSplit(grp, "AND").map {
            case HavingStrRe(n, op, v) =>
              (resolveName(n, "WHERE item")
                .fold(e => return Left(e), identity), s"STR$op", v)
            case HavingNumRe(n, op, v) =>
              (resolveName(n, "WHERE item")
                .fold(e => return Left(e), identity), s"NUM$op", v)
            case other =>
              return Left(s"unsupported WHERE term '$other' after WITH " +
                "— compare a WITH output to a number or 'string'")
          }
        }
    }
    // WITH ... MATCH tail: parse it as a full second query whose piped
    // columns are pre-bound; require a shared variable with the WITH
    // outputs unless the WITH stage was a lone aggregate (1 row — the
    // "count then use as denominator" shape, a bounded broadcast cross)
    mm.foreach { m =>
      val stage2 = parse(restPad.substring(m.start).trim,
          extraKnown = outNames.toSet)
        .fold(e => return Left(s"after WITH: $e"), identity)
      val s2vars = stage2.parts.flatMap(_.nodes.map(_.v)).toSet
      if ((s2vars & outNames.toSet).isEmpty && stage1.returns.nonEmpty)
        return Left("the MATCH after WITH shares no variable with the " +
          "WITH outputs (have: " + outNames.mkString(", ") + ") — that " +
          "would be a cartesian expansion; anchor a pattern variable on " +
          "a WITH output (only a lone-aggregate WITH expands unanchored)")
      return Right(PipeQuery(stage1, having, Nil, Nil, None, Some(stage2)))
    }
    val limIdx = tail.toUpperCase.indexOf("LIMIT")
    val limit =
      if (limIdx >= 0) {
        val lit = tail.substring(limIdx + 5).trim
        val n = lit.toIntOption.getOrElse(
          return Left(s"bad LIMIT literal '$lit'"))
        tail = tail.substring(0, limIdx).trim
        Some(n)
      } else None
    val ordIdx = tail.toUpperCase.indexOf("ORDER BY")
    val ordItems =
      if (ordIdx >= 0) {
        val items = tail.substring(ordIdx + 8).trim
        tail = tail.substring(0, ordIdx).trim
        items.split(",").map(_.trim).toSeq
      } else Nil
    val outs: Seq[(String, String)] = tail.split(",").map(_.trim).toSeq
      .map {
        case BareRetRe(n, alias) =>
          (resolveName(n, "RETURN item").fold(e => return Left(e),
            identity), Option(alias).getOrElse(n))
        case other => return Left(s"unsupported RETURN item '$other' " +
          "after WITH — only WITH outputs, optionally AS-aliased")
      }
    if (outs.map(_._2).distinct.size != outs.size)
      return Left("duplicate output column names in RETURN — " +
        "disambiguate with AS")
    val ordResolved: Seq[(String, Boolean)] = ordItems.map {
      case BareOrdRe(n, dir) =>
        val asc = dir == null || dir.equalsIgnoreCase("ASC")
        outs.collectFirst {
          case (src, a) if src == n || a == n => (a, asc)
        }.getOrElse(return Left(s"ORDER BY item '$n' must be returned"))
      case other => return Left(s"unsupported ORDER BY item '$other'")
    }
    Right(PipeQuery(stage1, having, outs, ordResolved, limit))
  }

  /** Compile the pipeline: stage1's plan + the having filter + the
    * final projection/order/limit. */
  def compile(edgeFrame: DataFrame, pq: PipeQuery,
              nodeProps: Option[DataFrame]): DataFrame = {
    def ref(n: String): Column =
      if (n.contains(".")) col(s"`$n`") else col(n)
    var df = compile(edgeFrame, pq.stage1, nodeProps)
    def hcond(t: (String, String, String)): Column = {
      val (n, op, v) = t
      if (op.startsWith("NUM")) {
        val d = ref(n).try_cast("double")
        val x = lit(v.toDouble)
        op.stripPrefix("NUM") match {
          case ">" => d > x
          case ">=" => d >= x
          case "<" => d < x
          case "<=" => d <= x
          case "=" => d === x
          case "<>" => d =!= x
        }
      } else if (op == "STR=") ref(n) === v else ref(n) =!= v
    }
    if (pq.having.nonEmpty)
      df = df.filter(
        pq.having.map(_.map(hcond).reduce(_ && _)).reduce(_ || _))
    // WITH ... MATCH: the filtered stage-1 frame pipes into the tail
    // query's compilation — its columns join the tail's patterns on
    // shared names and ride along otherwise
    pq.stage2.foreach { q2 =>
      return compile(edgeFrame, q2, nodeProps, piped = Some(df))
    }
    var out = df.select(pq.outs.map { case (n, a) => ref(n).as(a) }: _*)
    if (pq.orderBy.nonEmpty)
      out = out.orderBy(pq.orderBy.map { case (n, asc) =>
        if (asc) ref(n).asc else ref(n).desc }: _*)
    pq.limit.fold(out)(out.limit)
  }

  /** Parse + compile against an id-only store; any `v.<prop>` access is a
    * loud Left. Left is the retry-feedback message. */
  def run(edgeFrame: DataFrame, cypher: String): Either[String, DataFrame] =
    run(edgeFrame, None, cypher)

  /** Parse + compile with node properties: `nodeProps` is an (id, prop...)
    * frame; every non-id property the query references is schema-checked
    * against it BEFORE compilation, so an LLM that invents a property gets
    * feedback naming the store's real columns instead of an analysis
    * exception. */
  /** Leading `UNWIND ['a', 'b', ...] AS v MATCH ...` — the batch-seed
    * lookup shape a KG linker emits after entity linking (a list of
    * resolved ids expanded against the graph). The literal list becomes
    * a one-column frame piped into the tail query exactly like a WITH
    * output: a pattern variable named `v` is the join key (required —
    * an UNWIND nothing references is a cartesian smell), WHERE/RETURN
    * read it like any binding, and ids absent from the graph drop (MATCH
    * semantics). Only string literals, only as the leading clause. */
  private val IdentHeadRe = """[A-Za-z_][A-Za-z0-9_]*""".r

  /** Linear parse of `UNWIND ['a', ...] AS v MATCH ...` → (literals,
    * v, "MATCH ..."); None on any other shape. Linear for the same
    * reason as [[parseInTerm]]: the regex list form backtracks
    * recursively per element and a linker can legitimately UNWIND
    * thousands of resolved ids. Empty lists are legal (bind nothing). */
  private[byokg] def parseUnwindHead(s: String)
  : Option[(Seq[String], String, String)] = {
    val t = s.trim
    if (!t.regionMatches(true, 0, "UNWIND", 0, 6)) return None
    var i = 6
    def ws(): Unit = while (i < t.length &&
      Character.isWhitespace(t.charAt(i))) i += 1
    ws()
    if (i >= t.length || t.charAt(i) != '[') return None
    i += 1
    val vals = scala.collection.mutable.ArrayBuffer.empty[String]
    var expectComma = false
    var closed = false
    while (i < t.length && !closed) {
      val c = t.charAt(i)
      if (Character.isWhitespace(c)) i += 1
      else if (c == ']') { closed = true; i += 1 }
      else if (c == ',' && expectComma) { expectComma = false; i += 1 }
      else if (c == '\'' && !expectComma) {
        val end = t.indexOf('\'', i + 1)
        if (end < 0) return None
        vals += t.substring(i + 1, end); i = end + 1; expectComma = true
      } else return None
    }
    if (!closed) return None
    if (!expectComma && vals.nonEmpty) return None // trailing comma
    ws()
    if (!t.regionMatches(true, i, "AS", 0, 2)) return None
    i += 2
    if (i >= t.length || !Character.isWhitespace(t.charAt(i))) return None
    ws()
    val vm = IdentHeadRe.findPrefixMatchOf(t.substring(i))
      .getOrElse(return None)
    val v = vm.group(0); i += vm.end
    ws()
    val rest = t.substring(i)
    if (!rest.regionMatches(true, 0, "MATCH", 0, 5)) return None
    Some((vals.toSeq, v, rest))
  }

  /** `// line comments` (outside string literals) stripped — the
    * reference's own query text leads with one
    * (traversal_based_base_retriever.py:154). */
  def stripComments(q: String): String =
    q.linesIterator.map { line =>
      var i = 0; var quote = ' '; var cut = -1
      while (i < line.length && cut < 0) {
        val c = line.charAt(i)
        if (quote != ' ') { if (c == quote) quote = ' ' }
        else if (c == '\'' || c == '"') quote = c
        else if (c == '/' && i + 1 < line.length &&
          line.charAt(i + 1) == '/') cut = i
        i += 1
      }
      if (cut >= 0) line.substring(0, cut) else line
    }.mkString("\n")

  /** Substitute `$name` parameters (outside string literals) with literal
    * renderings — the driver-side parameter binding the reference performs
    * before handing cypher to its store (`$statementIds` / `$limit`,
    * traversal_based_base_retriever.py:145-191). Strings quote (embedded
    * quotes refused — the grammar has no escapes), numbers inline, string
    * sequences render as `['a', 'b', ...]`. */
  def substituteParams(q: String,
                       params: Map[String, Any]): Either[String, String] = {
    def render(name: String, v: Any): Either[String, String] = v match {
      case s: String =>
        if (s.contains('\'')) Left(s"parameter $$$name contains a quote " +
          "— string literals have no escapes")
        else Right(s"'$s'")
      case n @ (_: Int | _: Long | _: Short) => Right(n.toString)
      case d: Double =>
        // toString emits scientific notation past ~1e7 / under ~1e-3,
        // which the numeric grammar rejects — render plain decimal
        if (d.isNaN || d.isInfinite)
          Left(s"parameter $$$name is not a finite number: $d")
        else Right(BigDecimal(d).bigDecimal.toPlainString)
      case xs: Seq[_] =>
        val parts = xs.map {
          case s: String =>
            if (s.contains('\'')) return Left(
              s"parameter $$$name contains a quoted element")
            else s"'$s'"
          case n @ (_: Int | _: Long) => n.toString
          case other => return Left(
            s"parameter $$$name has an unsupported element: $other")
        }
        Right(parts.mkString("[", ", ", "]"))
      case other =>
        Left(s"unsupported parameter type for $$$name: " +
          other.getClass.getSimpleName)
    }
    val out = new StringBuilder
    var i = 0; var quote = ' '
    val IdRe = """[A-Za-z_][A-Za-z0-9_]*""".r
    while (i < q.length) {
      val c = q.charAt(i)
      if (quote != ' ') { if (c == quote) quote = ' '; out += c; i += 1 }
      else if (c == '\'' || c == '"') { quote = c; out += c; i += 1 }
      else if (c == '$') {
        IdRe.findPrefixMatchOf(q.substring(i + 1)) match {
          case Some(m) =>
            val name = m.group(0)
            params.get(name) match {
              case Some(v) => render(name, v) match {
                case Right(r) => out ++= r; i += 1 + m.end
                case Left(e) => return Left(e)
              }
              case None => return Left(s"unbound parameter $$$name — " +
                "supplied: " + params.keys.toSeq.sorted.mkString(", "))
            }
          case None => out += c; i += 1
        }
      } else { out += c; i += 1 }
    }
    Right(out.toString)
  }

  /** Newlines/tabs → spaces OUTSIDE string literals: the clause scanners
    * index on single-space-delimited keywords, and real query text (the
    * reference's own multi-line statements_cypher) arrives wrapped. */
  private[byokg] def normalizeWs(q: String): String = {
    val out = new StringBuilder(q.length)
    var quote = ' '
    q.foreach { c =>
      if (quote != ' ') { if (c == quote) quote = ' '; out += c }
      else if (c == '\'' || c == '"') { quote = c; out += c }
      else if (c == '\n' || c == '\r' || c == '\t') out += ' '
      else out += c
    }
    out.toString
  }

  /** Parse + compile with driver-side parameter binding. */
  def run(edgeFrame: DataFrame, nodeProps: Option[DataFrame],
          cypher: String,
          params: Map[String, Any]): Either[String, DataFrame] =
    substituteParams(stripComments(cypher), params)
      .flatMap(run(edgeFrame, nodeProps, _))

  def run(edgeFrame: DataFrame, nodeProps: Option[DataFrame],
          cypher0: String): Either[String, DataFrame] = {
    val cypher = normalizeWs(stripComments(cypher0))
    if (!GraphQuerySafety.isQuerySafe(cypher))
      Left("modification keywords are blocked (read-only executor)")
    // path-collect pipelines: `MATCH p=...` — the reference's
    // multiple-entity graph search shape (entity_based_search.py:150-159)
    else if (CypherPaths.applies(cypher))
      CypherPaths.run(edgeFrame, nodeProps, cypher)
    // staged pipelines: chained WITH stages / map literals /
    // collect(DISTINCT ...) — the reference's statements_cypher shape
    else if (CypherStages.applies(cypher))
      CypherStages.run(edgeFrame, nodeProps, cypher)
    else if (cypher.trim.toUpperCase.startsWith("UNWIND")) {
      // linear head parse (the regex list form would backtrack-recurse
      // on huge literal lists, like the IN form — see parseInTerm)
      parseUnwindHead(cypher.trim.stripSuffix(";")) match {
        case Some((vals, v, rest)) =>
          parse(rest, extraKnown = Set(v)).flatMap { q =>
            if (!q.parts.exists(_.nodes.exists(_.v == v)))
              Left(s"UNWIND variable '$v' is not used by any MATCH " +
                "pattern — name it as a pattern node to anchor the lookup")
            else schemaCheck(q, nodeProps, edgeFrame).map { _ =>
              val s = edgeFrame.sparkSession
              import s.implicits._
              // no dedup: Cypher's UNWIND binds duplicates per occurrence
              compile(edgeFrame, q, nodeProps, piped = Some(vals.toDF(v)))
            }
          }
        case None => Left("unsupported UNWIND form — expected " +
          "UNWIND ['id', ...] AS v MATCH ...")
      }
    }
    else if (withMatch(cypher).nonEmpty)
      parsePipe(cypher).flatMap { pq =>
        schemaCheck(pq.stage1, nodeProps, edgeFrame)
          .flatMap(_ => pq.stage2.fold[Either[String, Unit]](Right(()))(
            q2 => schemaCheck(q2, nodeProps, edgeFrame)))
          .map(_ => compile(edgeFrame, pq, nodeProps))
      }
    else parse(cypher).flatMap { q =>
      schemaCheck(q, nodeProps, edgeFrame).map(_ => compile(edgeFrame, q,
        if (q.neededProps.nonEmpty) nodeProps else None))
    }
  }

  /** Every non-id property the query reads must exist on the store —
    * node-variable properties on the nodeProps frame, relationship-
    * variable properties on the edge frame's extra columns. Missing ones
    * Left with the store's real columns, so an LLM that invents a
    * property gets schema feedback, not an analysis exception. */
  private[byokg] def schemaCheck(q: Query,
                          nodeProps: Option[DataFrame],
                          edgeFrame: DataFrame)
  : Either[String, Unit] = {
    val edgeVarSet = q.edgeVars
    val (edgeSide, nodeSide) =
      q.neededProps.partition { case (v, _) => edgeVarSet.contains(v) }
    val edgeAvail = edgeFrame.columns.toSet -- Set("src", "dst", "label")
    val edgeNeededProps = edgeSide.values.flatten.toSet
    // "*" is the properties(r) sentinel — valid whenever the edge frame
    // carries ANY property columns to render
    if (edgeNeededProps.contains("*") && edgeAvail.isEmpty)
      return Left("properties(...) on a relationship variable — this " +
        "store's relationships carry only their type; use type(r)")
    val edgeMissing = edgeNeededProps - "*" -- edgeAvail
    if (edgeMissing.nonEmpty)
      return Left("unknown relationship propert" +
        (if (edgeMissing.size > 1) "ies " else "y ") +
        edgeMissing.toSeq.sorted.mkString("'", "', '", "'") +
        (if (edgeAvail.isEmpty)
          " — this store's relationships carry only their type; use type(r)"
         else " — relationship properties available: " +
           edgeAvail.toSeq.sorted.mkString(", ")))
    val needed = nodeSide.values.flatten.toSet
    nodeProps match {
      case None if needed.nonEmpty =>
        Left("node properties " +
          needed.toSeq.sorted.map(p =>
            if (p == "*") "'properties(...)'" else s"'$p'")
            .mkString(", ") +
          " are not available on this store — only '.id'")
      case Some(p) if needed.nonEmpty =>
        val avail = p.columns.toSet - "id"
        // "*" is the properties(v) sentinel — valid whenever a
        // nodeProps frame exists
        val missing = needed - "*" -- avail
        if (missing.nonEmpty)
          Left("unknown propert" +
            (if (missing.size > 1) "ies " else "y ") +
            missing.toSeq.sorted.mkString("'", "', '", "'") +
            " — available: " + avail.toSeq.sorted.mkString(", "))
        else Right(())
      case _ => Right(())
    }
  }
}

/** openCypher twin of [[GraphQueryRetriever]]: executes MATCH-subset
  * artifacts against the edge frame and verbalizes bindings into context
  * lines; parse/execution failures become the engine loop's
  * "Error executing query..." retry signal. */
final class CypherGraphRetriever(edgeFrame: DataFrame, maxRows: Int = 100,
                                 nodeProps: Option[DataFrame] = None) {

  /** Parameterized retrieval — the driver-side `$param` binding the
    * reference performs before store execution. */
  def retrieve(cypher: String, params: Map[String, Any]): Seq[String] =
    CypherLite.substituteParams(CypherLite.stripComments(cypher), params)
      .fold(err => Seq(s"Error executing query: $err"), retrieve)

  def retrieve(cypher: String): Seq[String] =
    CypherLite.run(edgeFrame, nodeProps, cypher) match {
      case Left(err) => Seq(s"Error executing query: $err")
      case Right(df) =>
        try {
          val cols = df.columns
          // deterministic context: bindings sort by their rendered line
          df.limit(maxRows).collect()
            .map(row => cols.zipWithIndex.map { case (c, i) =>
              s"$c: ${Option(row.get(i)).map(_.toString).getOrElse("null")}"
            }.mkString(", "))
            .toSeq.sorted
        } catch {
          case e: Exception =>
            val msg = Option(e.getMessage)
              .flatMap(_.linesIterator.find(_ => true))
              .getOrElse(e.getClass.getSimpleName)
            Seq(s"Error executing query: $msg")
        }
    }
}
