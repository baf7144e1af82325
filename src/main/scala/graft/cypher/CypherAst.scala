package graft.cypher

/** AST for the Cypher subset the reference exercises (SURVEY.md §2.1)
  * plus the openCypher constructs needed for completeness: MATCH /
  * OPTIONAL MATCH / WHERE / RETURN (DISTINCT, aggregates, ORDER BY,
  * SKIP, LIMIT), CREATE, var-length relationships, CALL … YIELD.
  *
  * Shapes follow the published openCypher grammar (opencypher.org);
  * no reference code is reproduced — the reference ships no parser
  * (it is a packaging repo, see SURVEY.md §0).
  */
object ast {

  // ---- expressions ----
  sealed trait Expr
  final case class Lit(v: Any) extends Expr
  /** `$name` query parameter — replaced by a Lit before compilation
    * (Params.substitute); reaching the compiler unresolved is an
    * "Expected parameter(s)" error, as in the reference driver API. */
  final case class Param(name: String) extends Expr
  final case class Variable(name: String) extends Expr
  final case class Prop(variable: String, key: String) extends Expr
  /** Property/component access on a NON-variable base expression:
    * `date('2020-03-04').year`, `duration('P3D').days`, `{a: 1}.a`,
    * `apoc.map.fromPairs(...).k` — temporal components, struct
    * fields, and map keys resolve by the base's static type. */
  final case class PropOf(base: Expr, key: String) extends Expr
  final case class FnCall(name: String, args: Seq[Expr], distinct: Boolean = false) extends Expr
  final case class Cmp(op: String, l: Expr, r: Expr) extends Expr // = <> < <= > >=
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class In(e: Expr, list: Seq[Expr]) extends Expr
  final case class StringPred(op: String, l: Expr, r: Expr) extends Expr // STARTS WITH | ENDS WITH | CONTAINS
  final case class IsNull(e: Expr, negated: Boolean) extends Expr
  final case class Arith(op: String, l: Expr, r: Expr) extends Expr // + - * / %
  final case class ListLit(items: Seq[Expr]) extends Expr // [e1, e2, …]
  /** Map literal `{k1: e1, k2: e2, …}` with full expression values —
    * the expression-position form (pattern maps stay restricted).
    * Declared entry order is preserved (it names struct fields). */
  final case class MapLit(items: Seq[(String, Expr)]) extends Expr
  /** CASE WHEN c THEN v … [ELSE d] END (searched form). */
  final case class CaseExpr(whens: Seq[(Expr, Expr)], otherwise: Option[Expr]) extends Expr
  /** Pattern-existence predicate in WHERE: `(a)-[:T]->(b)` — compiles
    * to a semi join (anti under NOT), never to a Column. */
  final case class PatternPred(pattern: PathPat) extends Expr
  /** Existential subquery `EXISTS { [MATCH] patterns [WHERE expr] }` —
    * the general form of PatternPred: multiple patterns and an inner
    * WHERE. Compiles to a semi join (anti under NOT) or an exists-flag
    * marker join when embedded under OR. */
  final case class ExistsSub(patterns: Seq[PathPat], where: Option[Expr]) extends Expr
  /** Count subquery `COUNT { [MATCH] patterns [WHERE expr] }` — the
    * per-row match count, usable inside WHERE comparisons. Compiles to
    * a grouped count left-joined back on the shared variables. */
  final case class CountSub(patterns: Seq[PathPat], where: Option[Expr]) extends Expr
  /** Neo4j 5.9 type predicate `x IS :: TYPE` / `x IS NOT :: TYPE`;
    * tpe is normalized upper-case with whitespace stripped. */
  final case class TypePred(e: Expr, tpe: String, negated: Boolean) extends Expr
  /** Label predicate as an EXPRESSION (`WHERE n:Person`, `n:A|B`,
    * `NOT n:A` — Neo4j's label test outside the pattern): boolean over
    * the entity's labels column. */
  final case class HasLabel(e: Expr, label: LabelExpr) extends Expr
  /** List comprehension `[x IN list WHERE pred | proj]`. */
  /** `[(a)-[:T]->(b) WHERE pred | proj]` — pattern comprehension: the
    * list of `proj` values over the pattern's matches, per outer row. */
  final case class PatternComp(pattern: PathPat, where: Option[Expr], proj: Expr) extends Expr
  /** `COLLECT { MATCH …, … [WHERE w] RETURN proj [ORDER BY e [DESC]]
    * [LIMIT k] }` (Neo4j 5.6) — the subquery's projected values as a
    * list per outer row; the multi-pattern big sibling of a pattern
    * comprehension. `orderBy` fixes the LIST ORDER (absent = sorted by
    * value, this engine's deterministic default); `limit` truncates
    * the ordered list per outer row (top-k per group). */
  final case class CollectSub(patterns: Seq[PathPat], where: Option[Expr], proj: Expr,
      orderBy: Option[(Expr, Boolean)] = None, limit: Option[Int] = None) extends Expr

  final case class ListComp(variable: String, list: Expr,
      where: Option[Expr], projection: Option[Expr]) extends Expr
  /** `any/all/none/single(x IN list WHERE pred)`. */
  final case class ListPred(fn: String, variable: String, list: Expr,
      pred: Expr) extends Expr
  /** `reduce(acc = init, x IN list | expr)`. */
  final case class ReduceExpr(acc: String, init: Expr, variable: String,
      list: Expr, step: Expr) extends Expr
  /** `xs[i]` (0-based; negative from the end) / `m[key]`. */
  final case class Subscript(e: Expr, index: Expr) extends Expr
  /** `xs[lo..hi]` — 0-based, end-exclusive, clamped, either bound optional. */
  final case class ListSlice(e: Expr, lo: Option[Expr], hi: Option[Expr]) extends Expr
  /** Map projection `v {.prop, .*, key: expr, var}` — builds a map
    * value from an entity's properties plus computed entries. */
  final case class MapProj(variable: String, items: Seq[MapProjItem]) extends Expr
  sealed trait MapProjItem
  /** `.key` — copy one property. */
  final case class ProjProp(key: String) extends MapProjItem
  /** `.*` — copy every property (not identity/labels/type). */
  case object ProjAll extends MapProjItem
  /** `key: expr` (and bare `var`, sugar for `var: var`). */
  final case class ProjExpr(key: String, e: Expr) extends MapProjItem
  /** The comprehension variable inside its WHERE/projection. */
  final case class LambdaVar(name: String) extends Expr

  // ---- patterns ----
  /** Marker wrapped in a pattern-prop Lit: `{v: x}` references the
    * UNWIND alias `x`. Resolved by substitution in UNWIND … CREATE;
    * rejected (with a clear error) anywhere else. */
  final case class VarRefValue(name: String)

  /** Marker wrapped in a pattern-prop Lit: `{v: $p}` references a
    * query parameter. Resolved by Params.substitute. */
  final case class ParamRefValue(name: String)

  /** Marker wrapped in a pattern-prop Lit: `{v: row.key}` references
    * a field of the UNWIND alias (the `UNWIND $batch AS row` bulk-
    * load idiom, where each element is a map). Resolved per element
    * in UNWIND … CREATE; rejected anywhere else. */
  final case class PropRefValue(variable: String, key: String)

  /** Marker wrapped in a pattern-prop Lit: `{v: row[0]}` (optionally
    * `{v: row.key[0]}`) — positional access into a LIST element of the
    * UNWIND alias, the headerless LOAD CSV idiom (Neo4j: `LOAD CSV
    * FROM … AS row CREATE (:X {a: row[0]})`). 0-based, negative counts
    * from the end, out-of-range reads null. Resolved per element in
    * UNWIND … CREATE / UNWIND … MERGE; rejected anywhere else. */
  final case class SubscriptRefValue(variable: String, key: Option[String], index: Long)

  /** Neo4j 5 label expression (`:A|B`, `:A&B`, `:!A`, `:%`, parens).
    * Plain conjunctions stay in `NodePat.labels` (the write path needs
    * a concrete label list); anything else lands here and is only
    * legal in read patterns. */
  sealed trait LabelExpr
  object LabelExpr {
    final case class Leaf(name: String) extends LabelExpr
    final case class LAnd(l: LabelExpr, r: LabelExpr) extends LabelExpr
    final case class LOr(l: LabelExpr, r: LabelExpr) extends LabelExpr
    final case class LNot(e: LabelExpr) extends LabelExpr
    case object Wildcard extends LabelExpr // :% — node with any label
  }

  final case class NodePat(
      variable: Option[String],
      labels: Seq[String],
      props: Map[String, Lit],
      labelExpr: Option[LabelExpr] = None,
      where: Option[Expr] = None)

  /** dir: 1 = ->, -1 = <-, 0 = undirected. varLength: (min, max). */
  final case class RelPat(
      variable: Option[String],
      types: Seq[String],
      props: Map[String, Lit],
      dir: Int,
      varLength: Option[(Int, Int)],
      where: Option[Expr] = None)

  final case class PathPat(start: NodePat, hops: Seq[(RelPat, NodePat)])

  // ---- clauses ----
  final case class ReturnItem(expr: Expr, alias: Option[String]) {
    def name: String = alias.getOrElse(ast.defaultName(expr))
  }

  sealed trait Clause
  /** A `USING INDEX [SEEK] v:L(p1, …)` hint's identity: enough to
    * check the hinted index EXISTS (Neo4j raises Schema.IndexNotFound
    * when it doesn't; hints stay non-forcing otherwise — Catalyst owns
    * physical planning and projection routing is automatic). */
  final case class IndexHint(variable: String, labelOrType: String, props: Seq[String])
  final case class Match(patterns: Seq[PathPat], optional: Boolean, where: Option[Expr],
      indexHints: Seq[IndexHint] = Nil) extends Clause
  /** `MATCH p = shortestPath((a)-[:T*lo..hi]->(b)) [WHERE expr]`:
    * breadth-first expansion with first-hit distances; `length(p)`
    * reads the hop count. The pattern must be a single var-length
    * relationship. */
  final case class MatchShortest(pathVar: String, pat: PathPat, where: Option[Expr],
      all: Boolean = false) extends Clause
  /** `MATCH p = (a)-[:T]->(b)-…` — plain (non-shortestPath) path
    * assignment over a FIXED-length pattern: the path's nodes,
    * relationships, and length are all derivable from the bound
    * pattern columns, no search needed. Var-length hops refuse
    * (enumerate through shortestPath/allShortestPaths instead). */
  final case class MatchPath(pathVar: String, pat: PathPat, where: Option[Expr],
      optional: Boolean = false) extends Clause
  final case class Create(patterns: Seq[PathPat]) extends Clause
  /** SET n.key = <literal expr>, … */
  final case class SetProps(items: Seq[(Prop, Expr)]) extends Clause
  /** `SET n = {map}` — FULL property replace (openCypher): the mapped
    * keys set, EVERY other property of the matched entity nulled
    * (`+=` is the merge form). Desugars in `mutate` once the target's
    * property columns are known. */
  final case class SetPropsReplace(v: String, items: Seq[(String, Expr)]) extends Clause
  /** `SET n += $map` / `SET n = $map` — whole-map parameter form (the
    * Bolt drivers' dynamic-update idiom). Param substitution expands
    * it to SetProps (merge) / SetPropsReplace (replace); reaching the
    * compiler unexpanded means the parameter was never bound. */
  final case class SetPropsParam(v: String, param: String, replace: Boolean) extends Clause
  /** REMOVE n.key, … (property nulled for the matched rows). */
  final case class RemoveProps(items: Seq[Prop]) extends Clause
  /** SET n:Label / REMOVE n:Label (labels array updated for the
    * matched rows). */
  final case class SetLabels(items: Seq[(String, Seq[String])], remove: Boolean) extends Clause
  /** DELETE / DETACH DELETE of bound node variables. */
  final case class Delete(vars: Seq[String], detach: Boolean) extends Clause
  /** MERGE: match the whole pattern, create it if absent; ON CREATE /
    * ON MATCH SET items apply to whichever branch was taken. */
  final case class Merge(pattern: PathPat,
      onCreate: Seq[(Prop, Expr)] = Nil, onMatch: Seq[(Prop, Expr)] = Nil) extends Clause
  /** skip/limit are expressions so `SKIP $n` / `LIMIT $n` parameters
    * substitute like any other (r19); the compiler requires them to
    * resolve to integer literals by compile time. */
  final case class With(items: Seq[ReturnItem], distinct: Boolean, where: Option[Expr],
      orderBy: Seq[(Expr, Boolean)], skip: Option[Expr], limit: Option[Expr]) extends Clause
  final case class Return(items: Seq[ReturnItem], distinct: Boolean,
      orderBy: Seq[(Expr, Boolean)], skip: Option[Expr], limit: Option[Expr]) extends Clause
  /** yields: (procedure column, output name) — `YIELD x` keeps the
    * name, `YIELD x AS y` renames. */
  final case class CallProc(name: String, args: Seq[Expr], yields: Seq[(String, String)],
      where: Option[Expr]) extends Clause
  final case class Unwind(expr: Expr, alias: String) extends Clause

  /** `CALL { [WITH v, …] MATCH … RETURN items }` — the composition
    * subquery (openCypher CALL subquery). `imports` are the outer
    * variables the inner query correlates on (empty = uncorrelated). */
  /** `CALL { [WITH imports] … } [IN TRANSACTIONS [OF n ROWS]]` — the
    * IN TRANSACTIONS form batches the driving rows and commits per
    * batch (openCypher's huge-ingest surface; executes only over a
    * literal/parameter UNWIND, GraftSession.mutateCallInTx). */
  /** `onError`: the Neo4j 5.23 `IN TRANSACTIONS ON ERROR CONTINUE |
    * BREAK | FAIL` batch-failure policy (None = FAIL, the legacy
    * stop-and-rethrow semantics). */
  /** `unions`: UNION [ALL] branches INSIDE the braces (`CALL { … UNION
    * … }` — the composite-result idiom); legal only uncorrelated. */
  final case class CallSub(imports: Seq[String], clauses: Seq[Clause],
      inTransactions: Boolean = false, batchRows: Option[Long] = None,
      onError: Option[String] = None,
      unions: Seq[(Boolean, Seq[Clause])] = Nil) extends Clause

  /** `FOREACH (x IN list | CREATE …)` — list-iterated mutation. */
  final case class Foreach(variable: String, list: Expr, body: Seq[Clause]) extends Clause

  /** One or more single queries combined with UNION [ALL]: rows union
    * by column name; plain UNION dedups (openCypher set semantics). */
  final case class Query(clauses: Seq[Clause], unions: Seq[(Boolean, Query)] = Nil)

  /** Whether a clause writes: a statement holding one runs through the
    * mutation engine, and read-only surfaces refuse it. */
  def mutates(c: Clause): Boolean = c match {
    case _: Create | _: SetProps | _: SetPropsReplace | _: SetPropsParam | _: RemoveProps |
         _: SetLabels | _: Delete | _: Merge | _: Foreach => true
    case _ => false
  }

  /** The property and variable leaves an expression reads, through the
    * operators, CASE, lists, subscripts, maps and function arguments
    * (the SET-value shapes); other forms read nothing here. A `leaf`
    * expression counts as one read, whole. */
  def reads(e: Expr, leaf: Expr => Boolean = _ => false): Seq[Expr] = {
    def go(e: Expr): Seq[Expr] = e match {
      case _ if leaf(e)          => Seq(e)
      case _: Prop | _: Variable => Seq(e)
      case Arith(_, l, r)        => go(l) ++ go(r)
      case Cmp(_, l, r)          => go(l) ++ go(r)
      case CaseExpr(ws, o)       => ws.flatMap { case (c, v) => go(c) ++ go(v) } ++ o.toSeq.flatMap(go)
      case Subscript(b, i)       => go(b) ++ go(i)
      case ListLit(items)        => items.flatMap(go)
      case MapLit(items)         => items.flatMap { case (_, v) => go(v) }
      case FnCall(_, args, _)    => args.flatMap(go)
      case _                     => Nil
    }
    go(e)
  }

  def defaultName(e: Expr): String = e match {
    case Prop(v, k)        => s"$v.$k"
    case Variable(n)       => n
    case FnCall(f, as, d)  =>
      val inner = if (as.isEmpty) "*" else as.map(defaultName).mkString(",")
      s"$f(${if (d) "DISTINCT " else ""}$inner)"
    case Lit(v)            => String.valueOf(v)
    case _                 => e.toString
  }

  val aggregateFns: Set[String] =
    Set("count", "sum", "min", "max", "avg", "collect", "stdev", "stdevp",
      "percentilecont", "percentiledisc",
      "apoc.agg.first", "apoc.agg.last", "apoc.agg.median", "apoc.agg.statistics")

  def containsAggregate(e: Expr): Boolean = e match {
    case FnCall(n, args, _) =>
      aggregateFns(n.toLowerCase) || args.exists(containsAggregate)
    case Cmp(_, l, r)       => containsAggregate(l) || containsAggregate(r)
    case And(l, r)          => containsAggregate(l) || containsAggregate(r)
    case Or(l, r)           => containsAggregate(l) || containsAggregate(r)
    case Not(x)             => containsAggregate(x)
    case Arith(_, l, r)     => containsAggregate(l) || containsAggregate(r)
    case ListLit(items)     => items.exists(containsAggregate)
    case CaseExpr(ws, o)    =>
      ws.exists { case (c, v) => containsAggregate(c) || containsAggregate(v) } ||
        o.exists(containsAggregate)
    case In(e, list)        => containsAggregate(e) || list.exists(containsAggregate)
    case StringPred(_, l, r) => containsAggregate(l) || containsAggregate(r)
    case IsNull(e, _)       => containsAggregate(e)
    case Subscript(e, i)    => containsAggregate(e) || containsAggregate(i)
    case ListSlice(e, lo, hi) =>
      containsAggregate(e) || lo.exists(containsAggregate) || hi.exists(containsAggregate)
    case ListComp(_, l, w, p) =>
      containsAggregate(l) || w.exists(containsAggregate) || p.exists(containsAggregate)
    case ListPred(_, _, l, p) => containsAggregate(l) || containsAggregate(p)
    case ReduceExpr(_, init, _, l, step) =>
      containsAggregate(init) || containsAggregate(l) || containsAggregate(step)
    case MapProj(_, items)  =>
      items.exists { case ProjExpr(_, e) => containsAggregate(e); case _ => false }
    case MapLit(items)      => items.exists { case (_, e) => containsAggregate(e) }
    case _                  => false
  }
}
