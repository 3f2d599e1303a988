package graft.promql

import graft.time.TimeResolver

/** Parser for the PromQL surface the reference actually ships (SURVEY
  * §2.4): selectors with label matchers, comparison with the `bool`
  * modifier, `agg by/without` for sum/avg/min/max/count, range selectors
  * `x[w]` with the `*_over_time` family, subqueries `expr[w:s]`, and
  * vector-scalar arithmetic. This is deliberately NOT a full PromQL
  * implementation (SURVEY §7.4) — it covers the reference's flagship query
  * (its scripts/migrate.sql:105) and doc examples, erroring loudly on
  * anything else.
  *
  * Hand-rolled recursive descent; zero dependencies.
  */
object PromParser {

  // ------------------------------------------------------------------ AST
  sealed trait Expr
  /** `@ start()` / `@ end()` — the preprocessor forms of the `@`
    * modifier. They resolve to the QUERY's evaluation bounds (for an
    * instant query start = end = the eval time; for a range query the
    * range's first/last grid point), exactly Prometheus's preprocessing
    * semantics: the engine rewrites them to literal timestamps before
    * evaluation begins, so a selector inside a subquery still pins to
    * the OUTER query's bounds, never the subquery's. The rewrite is
    * [[PromEval.resolveAtEdges]].
    */
  sealed trait AtEdge
  case object AtStart extends AtEdge
  case object AtEnd extends AtEdge

  /** `offsetSec` is the PromQL `offset` modifier: the selector evaluates
    * as if "now" were `t - offsetSec` (parsed from `m{..}[w] offset 1d`).
    * `atSec` is the `@` modifier — an absolute evaluation timestamp that
    * replaces "now" entirely (offset then applies relative to it, as in
    * Prometheus). Both parse after the range suffix in either order.
    * `atEdge` holds a not-yet-resolved `@ start()`/`@ end()`; evaluation
    * entry points resolve it into `atSec` before any plan is built.
    */
  final case class Selector(name: String,
      eq: Seq[(String, String)] = Nil, ne: Seq[(String, String)] = Nil,
      offsetSec: Long = 0L, atSec: Option[Long] = None,
      re: Seq[(String, String)] = Nil,
      nre: Seq[(String, String)] = Nil,
      atEdge: Option[AtEdge] = None) extends Expr {
    /** The effective evaluation instant given the query's eval time.
      * An unresolved `@ start()`/`@ end()` equals the eval time here by
      * construction: instant evaluation has start = end = eval time, and
      * grid evaluation resolves edges before this is consulted.
      */
    def evalAt(default: Long): Long = atSec.getOrElse(default) - offsetSec
  }
  final case class BoolCmp(inner: Expr, op: String, scalar: Double) extends Expr
  /** Filtering comparison `expr op scalar` (no `bool`): keeps only the
    * series whose value satisfies the predicate, value unchanged — the
    * alert-threshold idiom.
    */
  final case class FilterCmp(inner: Expr, op: String, scalar: Double) extends Expr
  /** Vector-vector comparison `l op r`, matched on the full series key
    * (bare form), the kept-label key (`on`), or the complement-label key
    * (`ignoring`) — the `errors / on(instance) total > 0.01` alert idiom
    * composes FilterCmp-style thresholds with cross-metric matching.
    * Without `bool` it filters: keeps the left series (full label set)
    * whose value satisfies the predicate against the matched right
    * value, value unchanged. With `bool` it returns 1/0 per matched
    * pair; under a matching modifier the output series carries the match
    * key as its label set (the one-to-one output-label rule). Unmatched
    * series drop, as in Prometheus. Duplicate match keys
    * detect-and-error at execution exactly as on [[VecBin]] (deviation 6
    * closed in round 16: the in-plan `oneRowPerMatchKey` guard under
    * `on`/`ignoring`, where duplicates are possible; the bare form
    * matches the full series key, unique by construction). One named
    * gap remains: `group_left`/`group_right` are rejected at parse on
    * comparisons (deviation 11's loud-rejection rule), so many-to-one
    * comparison matching is out of the implemented surface.
    */
  final case class VecCmp(op: String, left: Expr, right: Expr,
      bool: Boolean, on: Option[Seq[String]] = None,
      ignoring: Option[Seq[String]] = None) extends Expr
  final case class Agg(fn: String, inner: Expr,
      by: Seq[String] = Nil, without: Seq[String] = Nil) extends Expr
  /** fn_over_time over a plain range selector `sel[window]` */
  final case class OverTime(fn: String, sel: Selector, windowSec: Long) extends Expr
  /** `rate(sel[w])` / `increase(sel[w])` — counter-reset-aware with
    * Prometheus's boundary extrapolation, exactly (see
    * [[graft.promql.PromOps.rateFromSamples]]; a stated addition beyond
    * the reference's shipped surface).
    */
  final case class Rate(kind: String, sel: Selector, windowSec: Long) extends Expr
  /** fn_over_time over a subquery `expr[window:step]` */
  final case class OverTimeSubquery(fn: String, inner: Expr,
      windowSec: Long, stepSec: Long) extends Expr
  /** The rate family over a subquery `rate(expr[w:s])`: the inner
    * expression's values at the aligned grid points play the samples —
    * the "rate of a derived series" idiom recording rules otherwise
    * cover. Same counter-reset/extrapolation semantics as [[Rate]].
    * Stated deviation: the shared rate kernel quantizes samples to
    * DECIMAL(20,6) for deterministic cross-engine sums — exact for raw
    * integer counters, but a subquery feeds DERIVED doubles through it,
    * so values are rounded to 6 decimal places and magnitudes ≥1e14
    * overflow to NULL, where Prometheus would keep full float64
    * precision.
    */
  final case class RateSubquery(kind: String, inner: Expr,
      windowSec: Long, stepSec: Long) extends Expr
  final case class Arith(inner: Expr, op: String, scalar: Double) extends Expr
  /** Vector-vector arithmetic: bare one-to-one (full label set must
    * match), `on(l..)` (match and keep only l..), `ignoring(l..)` (match
    * on the complement), and many-to-one via bare `group_left` /
    * `group_right` (the named side is the MANY side and keeps its full
    * label set). Duplicate-series detection follows Prometheus since
    * round 16 (deviation 6 closed): one-to-one forms error at execution
    * on duplicate match keys via the in-plan `oneRowPerMatchKey` guard
    * under `on`/`ignoring` (the bare form's full-series-key match is
    * unique by construction and pays nothing); group forms guard the
    * ONE side the same way. Sides whose per-key uniqueness is
    * STRUCTURAL (e.g. `sum by (user) (x)` matched `on(user)`) skip the
    * guard entirely (round 18, `PromEval.uniqueUnder`).
    */
  final case class VecBin(op: String, left: Expr, right: Expr,
      on: Option[Seq[String]] = None,
      ignoring: Option[Seq[String]] = None,
      groupSide: Option[String] = None, // "left" | "right": many-to-one
      // matching — the named side is the MANY side and keeps its full
      // label set in the result
      groupLabels: Seq[String] = Nil) extends Expr
  // groupLabels: the label-copying form `group_left(version)` — the
  // listed labels are copied from the ONE side onto each output series
  // (the metadata-join idiom `* on(instance) group_left(version)
  // build_info`); a label the one side lacks is removed from the output,
  // matching Prometheus's overwrite semantics
  /** `topk(k, expr)` / `bottomk(k, expr)`, optionally grouped `by`/
    * `without` — selects whole series, preserving their label sets.
    * Ties break on the canonical series key (Prometheus leaves tie order
    * unspecified; a deterministic rule is required for the oracle gate).
    */
  final case class TopK(fn: String, k: Int, inner: Expr,
      by: Seq[String] = Nil, without: Seq[String] = Nil) extends Expr
  /** `limitk(k, expr)` / `limit_ratio(r, expr)` — Prometheus's
    * experimental sampling aggregators, deterministic here (stated
    * deviations, README): limitk keeps the k lexicographically-smallest
    * canonical series keys per group (Prometheus: an arbitrary k);
    * limit_ratio keeps series whose 60-bit-md5 unit-interval hash of the
    * series key is < r — negative r keeps the complement, so
    * `limit_ratio(r)` ∪ `limit_ratio(r−1)` is exactly the input vector,
    * mirroring the documented Prometheus pairing.
    */
  final case class LimitAgg(fn: String, param: Double, inner: Expr,
      by: Seq[String] = Nil, without: Seq[String] = Nil) extends Expr
  /** `quantile_over_time(q, sel[w])` — φ-quantile per series with linear
    * interpolation (Prometheus's rank = q·(n−1) rule).
    */
  final case class QuantileOverTime(q: Double, sel: Selector,
      windowSec: Long) extends Expr
  /** `mad_over_time(sel[w])` — median absolute deviation around the
    * median, both via the quantile rank-interpolation machinery.
    */
  final case class MadOverTime(sel: Selector, windowSec: Long) extends Expr
  /** `quantile_over_time(q, (expr)[w:s])` — the SLO idiom: φ-quantile
    * over an arbitrary expression evaluated at subquery steps (e.g.
    * `quantile_over_time(0.99, (rate(x[5m]))[1h:5m])`).
    */
  final case class QuantileSubquery(q: Double, inner: Expr,
      windowSec: Long, stepSec: Long) extends Expr
  /** `mad_over_time((expr)[w:s])` — MAD over a subquery grid. */
  final case class MadSubquery(inner: Expr, windowSec: Long,
      stepSec: Long) extends Expr
  /** `holt_winters((expr)[w:s], sf, tf)` — smoothing a derived series
    * (e.g. a rate) over its subquery grid.
    */
  final case class HoltWintersSubquery(inner: Expr, windowSec: Long,
      stepSec: Long, sf: Double, tf: Double) extends Expr
  /** `deriv((expr)[w:s])` / `predict_linear((expr)[w:s], t)` — the
    * least-squares slope of a derived series over its subquery grid.
    */
  final case class DerivSubquery(inner: Expr, windowSec: Long,
      stepSec: Long, predictSec: Option[Double]) extends Expr
  /** `histogram_quantile(q, expr)` over cumulative le-labeled buckets. */
  final case class HistQuantile(q: Double, inner: Expr) extends Expr
  /** Evaluation-time rebase — the `offset`/`@` modifiers attached to a
    * SUBQUERY (`(expr)[w:s] offset 1h @ ...`), which in Prometheus shift
    * or pin the whole subquery's evaluation instant. Wrapping the
    * enclosing subquery node (rather than growing modifier fields on
    * every subquery AST class) gives the exact semantics: instant
    * evaluation of the subtree happens at `(atSec | t) − offsetSec`;
    * range evaluation shifts the grid and relabels, or pins and
    * replicates when `@` is present. `atEdge` carries an unresolved
    * `@ start()`/`@ end()` exactly as on [[Selector]].
    */
  final case class TimeShift(inner: Expr, offsetSec: Long,
      atSec: Option[Long], atEdge: Option[AtEdge] = None) extends Expr
  /** `histogram_fraction(lo, hi, expr)` over cumulative le-labeled
    * buckets — fraction of observations in (lo, hi]; the only
    * histogram_* family member defined for classic histograms.
    */
  final case class HistFraction(lo: Double, hi: Double, inner: Expr) extends Expr
  /** Pointwise math: abs/ceil/floor/sqrt/exp/ln (PromQL returns floats;
    * ceil/floor are re-cast to double accordingly).
    */
  final case class UnaryFn(fn: String, inner: Expr) extends Expr
  /** clamp(v, lo, hi) / clamp_min(v, lo) / clamp_max(v, hi). */
  final case class Clamp(inner: Expr, lo: Option[Double],
      hi: Option[Double]) extends Expr
  /** `round(v[, to])`: nearest multiple of `to` (default 1), ties
    * rounded up — Prometheus's floor(v/to + 0.5)·to rule.
    */
  final case class RoundFn(inner: Expr, to: Double) extends Expr
  /** `quantile(q, expr)` aggregation operator: φ-quantile ACROSS the
    * series of each group (vs quantile_over_time's per-series-over-
    * samples), with the same linear-interpolation rank rule.
    */
  final case class AggQuantile(q: Double, inner: Expr,
      by: Seq[String] = Nil, without: Seq[String] = Nil) extends Expr
  /** `count_values("lbl", expr)`: one output series per distinct value
    * within each group, labeled lbl=<value>, value = the count of series
    * holding it. Integer-valued points format without a decimal point;
    * the general float formatting is engine-specific (stated).
    */
  final case class CountValues(lbl: String, inner: Expr,
      by: Seq[String] = Nil, without: Seq[String] = Nil) extends Expr
  /** absent(sel): 1 for the empty label set iff the vector is empty. */
  final case class Absent(sel: Selector) extends Expr
  /** absent_over_time(sel[w]): 1 iff NO series has a sample in the
    * window — the "did this metric stop reporting" alert primitive.
    */
  final case class AbsentOT(sel: Selector, windowSec: Long) extends Expr
  /** `scalar(expr)`: the single series' value as a scalar, NaN when the
    * vector has ≠ 1 series (Prometheus semantics). Usable standalone
    * (a one-row label-less result — stated representation) and as a
    * binop operand, where it pairs with every left-side series via a
    * broadcast of its one row.
    */
  final case class ScalarFn(inner: Expr) extends Expr
  /** `vector(s)`: a scalar literal as a one-series label-less vector. */
  final case class VectorLit(v: Double) extends Expr
  /** A bare scalar literal in expression position (`0.5 * b`, `2 + 1`).
    * Evaluates to one label-less row, like [[VectorLit]], and counts as
    * scalar-typed for binop operand pairing. Comparisons against a bare
    * literal still collapse to [[FilterCmp]]/[[BoolCmp]] at parse time —
    * NumLit only survives where the literal heads an arithmetic chain.
    */
  final case class NumLit(v: Double) extends Expr
  /** `time()`: the evaluation timestamp in seconds (label-less). */
  final case class TimeFn() extends Expr
  /** `timestamp(sel)`: each series' sample timestamp (epoch seconds) as
    * its value — the staleness-debugging primitive.
    */
  final case class TimestampFn(sel: Selector) extends Expr
  /** `deriv(sel[w])` / `predict_linear(sel[w], t)` — per-series
    * least-squares slope over the window (and its extrapolation t seconds
    * past the evaluation time). `predictSec` is None for deriv.
    */
  final case class Deriv(sel: Selector, windowSec: Long,
      predictSec: Option[Double]) extends Expr
  /** `holt_winters(sel[w], sf, tf)` (Prometheus 3.x:
    * double_exponential_smoothing): per-series smoothed value over the
    * window's time-ordered samples — level factor sf, trend factor tf,
    * both in (0, 1). Sequential by definition; evaluated as a fold over
    * the sorted sample list.
    */
  final case class HoltWinters(sel: Selector, windowSec: Long,
      sf: Double, tf: Double) extends Expr
  /** Set operators between instant vectors: `and` (series of the left
    * whose label set also appears on the right), `unless` (left minus
    * right), `or` (left plus right series not matched on the left).
    * Values and labels come from the left side except for `or`'s
    * right-only series, per Prometheus. Matching is on the full label
    * set by default; `on(l..)`/`ignoring(l..)` (round 17) project the
    * match key to the kept / complement labels — the
    * `up == 1 and on(job) maintenance` alerting idiom. Group modifiers
    * (`group_left`/`group_right`) are rejected on set ops, as in
    * Prometheus (many-to-many matching only).
    */
  final case class SetOp(op: String, left: Expr, right: Expr,
      on: Option[Seq[String]] = None,
      ignoring: Option[Seq[String]] = None) extends Expr
  /** `label_join(v, dst, sep, src...)`: dst := src values joined by sep
    * (missing labels contribute the empty string, as in Prometheus).
    */
  final case class LabelJoin(inner: Expr, dst: String, sep: String,
      srcs: Seq[String]) extends Expr
  /** `label_replace(v, dst, replacement, src, regex)`: when the ANCHORED
    * regex matches the src value, dst := replacement with $N group
    * expansions; otherwise the series is unchanged. An empty result
    * removes dst. Spec-tested rather than oracle-checked: regex dialects
    * differ across engines.
    */
  final case class LabelReplace(inner: Expr, dst: String,
      replacement: String, src: String, regex: String) extends Expr

  private val aggFns =
    Set("sum", "avg", "min", "max", "count", "stddev", "stdvar", "group")
  /** Calendar/time components: zero-arg form defaults to time(). */
  private val timeComponentFns =
    Set("hour", "minute", "day_of_week", "day_of_month", "day_of_year",
      "days_in_month", "month", "year")
  private val topkFns = Set("topk", "bottomk")
  private val overTimeFns =
    Set("sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
      "count_over_time", "last_over_time", "stddev_over_time",
      "stdvar_over_time", "present_over_time")
  private val rateFns = Set("rate", "increase", "delta", "irate", "idelta",
    "resets", "changes")
  private val unaryFns =
    Set("abs", "ceil", "floor", "sqrt", "exp", "ln", "log2", "log10", "sgn",
      // time-component family over a vector of epoch-second values
      // (Prometheus's hour(v) etc.; the zero-arg default v=vector(time())
      // is not supported — pass timestamp(sel) or time() explicitly)
      "hour", "minute", "day_of_week", "day_of_month", "day_of_year",
      "days_in_month", "month", "year",
      // trigonometric family (Prometheus 2.31+). libm results can differ
      // in the last ulp across engines, so these are spec-tested, never
      // used in oracle entries (the repo-wide libm rule)
      "sin", "cos", "tan", "asin", "acos", "atan", "sinh", "cosh", "tanh",
      "deg", "rad")

  // ------------------------------------------------------------- tokenizer
  sealed private[promql] trait Tok
  private case class TId(s: String) extends Tok
  private case class TNum(v: Double) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TSym(s: String) extends Tok

  private def tokenize(q: String): List[Tok] = {
    val out = List.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = q.indexWhere(ch => !(ch.isLetterOrDigit || ch == '_'), i)
        val end = if (j < 0) n else j
        out += TId(q.substring(i, end)); i = end
      } else if (c.isDigit || (c == '.' && i + 1 < n && q(i + 1).isDigit)) {
        val j = q.indexWhere(ch => !(ch.isDigit || ch == '.' || ch.isLetter), i)
        val end = if (j < 0) n else j
        val s = q.substring(i, end)
        // digits followed by a duration unit stay one identifier-ish token
        if (s.exists(_.isLetter)) out += TId(s) else out += TNum(s.toDouble)
        i = end
      } else if (c == '"') {
        val j = q.indexOf('"', i + 1)
        require(j > 0, s"unterminated string at $i in: $q")
        out += TStr(q.substring(i + 1, j)); i = j + 1
      } else if (c == '!' && i + 1 < n && q(i + 1) == '=') { out += TSym("!="); i += 2 }
      else if (c == '!' && i + 1 < n && q(i + 1) == '~') { out += TSym("!~"); i += 2 }
      else if (c == '=' && i + 1 < n && q(i + 1) == '~') { out += TSym("=~"); i += 2 }
      else if (c == '=' && i + 1 < n && q(i + 1) == '=') { out += TSym("=="); i += 2 }
      else if (c == '>' && i + 1 < n && q(i + 1) == '=') { out += TSym(">="); i += 2 }
      else if (c == '<' && i + 1 < n && q(i + 1) == '=') { out += TSym("<="); i += 2 }
      else { out += TSym(c.toString); i += 1 }
    }
    out.result()
  }

  // --------------------------------------------------------------- parser
  final private[promql] class Parser(var toks: List[Tok], val src: String) {
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg near ${toks.take(3)} in: $src")
    private def peek: Option[Tok] = toks.headOption
    private def pop(): Tok = {
      if (toks.isEmpty) fail("unexpected end of query")
      val t = toks.head; toks = toks.tail; t
    }
    private def expectSym(s: String): Unit = pop() match {
      case TSym(`s`) => ()
      case other => fail(s"expected '$s', got $other")
    }

    def parse(): Expr = {
      val e = parseSetOp()
      if (toks.nonEmpty) fail("trailing tokens")
      e
    }

    /** Set-operator tiers, per Prometheus's published ladder: `or` is the
      * LOWEST tier, binding looser than `and`/`unless`, which in turn bind
      * looser than comparison — so `a or b and c` is `a or (b and c)` and
      * `a unless b or c` is `(a unless b) or c`. Both tiers left-assoc.
      * (Through round 16 all three folded into ONE left-assoc tier, which
      * mis-associated `a or b and c` as `(a or b) and c` — split in
      * round 17; oracle-pinned by promql_parsed_setop_precedence.)
      */
    private def parseSetOp(): Expr = {
      var e = parseAndUnless()
      while (peek.contains(TId("or"))) {
        pop()
        val (on, ignoring) = setMatchClause()
        e = SetOp("or", e, parseAndUnless(), on, ignoring)
      }
      e
    }

    /** `and`/`unless` — one left-assoc tier ABOVE `or` (they share a tier
      * in Prometheus: `a and b unless c` = `(a and b) unless c`).
      */
    private def parseAndUnless(): Expr = {
      var e = parseComparison()
      while (peek.exists {
        case TId(s) => s == "and" || s == "unless"
        case _ => false
      }) {
        val TId(op) = pop(): @unchecked
        val (on, ignoring) = setMatchClause()
        e = SetOp(op, e, parseComparison(), on, ignoring)
      }
      e
    }

    /** Optional `on(l..)`/`ignoring(l..)` after a set operator. Group
      * modifiers are a parse error here — Prometheus only allows them on
      * one-to-many arithmetic/comparison matching, never on set ops.
      */
    private def setMatchClause(): (Option[Seq[String]], Option[Seq[String]]) = {
      val clause = peek match {
        case Some(TId("on")) => pop(); (Some(labelList()), None)
        case Some(TId("ignoring")) => pop(); (None, Some(labelList()))
        case _ => (None, None)
      }
      peek match {
        case Some(TId(g @ ("group_left" | "group_right"))) =>
          fail(s"$g is not allowed on set operators (many-to-many only)")
        case _ => clause
      }
    }

    /** comparison, LOOSER than arithmetic (Prometheus precedence:
      * set ops < comparison < arithmetic), so `a / b > 0.5` filters the
      * ratio — the error-ratio alert idiom — and `expr * 100 > 5`
      * thresholds the scaled expression. Left-assoc chain:
      * expr (==|!=|>|>=|<|<=) [bool] expr. The RHS parses as a full
      * arithmetic chain (arithmetic binds tighter than comparison, so
      * `a > 0.5 * b` thresholds against the scaled vector); a RHS that
      * reduces to a bare literal collapses to the scalar comparison
      * forms, anything else is a vector-vector comparison matched on the
      * full series key — scalar-typed operands pair via broadcast in the
      * evaluator.
      */
    private def parseComparison(): Expr = {
      var e = parseArith()
      while (peek.exists {
        case TSym(s) => Set("==", "!=", ">", ">=", "<", "<=")(s)
        case _ => false
      }) {
        val TSym(op) = pop(): @unchecked
        // modifier order per the Prometheus grammar: bool first, then a
        // matching clause — `a != bool on(job) b`
        val isBool = peek.contains(TId("bool"))
        if (isBool) pop()
        val (on, ignoring) = peek match {
          case Some(TId("on")) => pop(); (Some(labelList()), None)
          case Some(TId("ignoring")) => pop(); (None, Some(labelList()))
          case _ => (None, None)
        }
        e = parseArith() match {
          case Folded(v) if on.isEmpty && ignoring.isEmpty =>
            if (isBool) BoolCmp(e, op, v) else FilterCmp(e, op, v)
          case rhs => VecCmp(op, e, rhs, bool = isBool, on, ignoring)
        }
      }
      e
    }

    /** Arithmetic with Prometheus's REAL precedence tiers (round 16;
      * previously one uniform left-assoc tier, a stated deviation now
      * closed): `^` (right-associative, tightest) > unary `+`/`-` >
      * `*`/`/`/`%`/`atan2` > `+`/`-`, every tier left-assoc except `^`.
      * Comparison and set-operator tiers were already Prometheus-exact.
      * Each operator may carry `[on|ignoring (l..)] [group_left|_right]`
      * before its RHS, at any tier, per the grammar. A RHS that
      * constant-folds to a literal collapses to [[Arith]] (the cheap
      * column-math plan); anything else is a [[VecBin]]. `%` is float
      * mod with the dividend's sign (Go math.Mod == Spark/Java
      * remainder); `^` is libm pow, so it follows the repo's spec-only
      * policy. Comparison is NOT accepted in operand position:
      * `a / (b > 0.5)` requires explicit parentheses.
      */
    private def parseArith(): Expr = parseAddSub()

    /** One left-assoc binop tier: operators in `ops` over `next()`. */
    private def opTier(ops: Set[String], next: () => Expr): Expr = {
      var e = next()
      while (peek.exists { case TSym(s) => ops(s)
          case TId(s) => ops(s); case _ => false }) {
        val op = (pop(): @unchecked) match {
          case TSym(s) => s
          case TId(s) => s // `atan2` — Prometheus's keyword binop
        }
        e = withMatchClause(op, e, next)
      }
      e
    }

    /** The optional matching clause + RHS of one binop application. */
    private def withMatchClause(op: String, lhs: Expr, next: () => Expr): Expr =
      peek match {
        case Some(TId("on")) =>
          pop(); val ls = labelList()
          val (gs, gl) = parseGroupSide() // binds between the clause and the rhs
          VecBin(op, lhs, next(), on = Some(ls), groupSide = gs,
            groupLabels = gl)
        case Some(TId("ignoring")) =>
          pop(); val ls = labelList()
          val (gs, gl) = parseGroupSide()
          VecBin(op, lhs, next(), ignoring = Some(ls),
            groupSide = gs, groupLabels = gl)
        case _ => next() match {
          case Folded(v) => Arith(lhs, op, v)
          case rhs => VecBin(op, lhs, rhs)
        }
      }

    private def parseAddSub(): Expr =
      opTier(Set("+", "-"), () => parseMulDiv())

    private def parseMulDiv(): Expr =
      opTier(Set("*", "/", "%", "atan2"), () => parseUnary())

    /** Unary `+`/`-`: between `*` and `^` in precedence (Prometheus:
      * `-2^2` is `-(2^2)`). Negation is multiplication by −1 — IEEE
      * sign-flip, bit-exact including ∓0 — with literals folded in
      * place so `-3` stays a plain literal.
      */
    private def parseUnary(): Expr = peek match {
      case Some(TSym("-")) =>
        pop()
        parseUnary() match {
          case NumLit(v) => NumLit(-v)
          case e => Arith(e, "*", -1.0)
        }
      case Some(TSym("+")) => pop(); parseUnary()
      case _ => parsePow()
    }

    /** `^`: right-associative, tightest. The exponent parses at the
      * UNARY level (`2^-1` is legal; `2^3^2` = `2^(3^2)` via the
      * recursion through parseUnary → parsePow).
      */
    private def parsePow(): Expr = {
      val base = parsePrimary()
      peek match {
        case Some(TSym("^")) =>
          pop()
          withMatchClause("^", base, () => parseUnary())
        case _ => base
      }
    }

    private def parsePrimary(): Expr = pop() match {
      case TId(fn) if aggFns(fn) => parseAgg(fn)
      case TId(fn) if topkFns(fn) => parseTopK(fn)
      case TId(fn @ ("limitk" | "limit_ratio")) => parseLimit(fn)
      case TId(fn) if overTimeFns(fn) => parseOverTime(fn)
      case TId(fn) if rateFns(fn) => parseRate(fn)
      case TId("quantile_over_time") => parseQuantileOverTime()
      case TId("mad_over_time") =>
        expectSym("(")
        val e = parseArith() match {
          case RangePlaceholder(sel, w) => MadOverTime(sel, w)
          case inner => peek match {
            case Some(TSym("[")) => rangeSuffix() match {
              case (w, Some(s)) => subqueryModifiers(MadSubquery(inner, w, s))
              case _ => fail("mad_over_time over an expression needs (expr)[w:s]")
            }
            case _ => fail("mad_over_time requires a range selector or subquery")
          }
        }
        expectSym(")")
        e
      case TId("histogram_quantile") => parseHistQuantile()
      case TId("histogram_fraction") => parseHistFraction()
      case TId("deriv") =>
        expectSym("(")
        val e = parseArith() match {
          case RangePlaceholder(sel, w) => Deriv(sel, w, None)
          case inner => peek match {
            case Some(TSym("[")) => rangeSuffix() match {
              case (w, Some(s)) => subqueryModifiers(DerivSubquery(inner, w, s, None))
              case _ => fail("deriv over an expression needs (expr)[w:s]")
            }
            case _ => fail("deriv requires a range selector or subquery")
          }
        }
        expectSym(")")
        e
      case TId("predict_linear") =>
        expectSym("(")
        val inner = parseArith()
        val sub = inner match {
          case RangePlaceholder(_, _) => None
          case _ if peek.contains(TSym("[")) => Some(rangeSuffix())
          case _ => None
        }
        expectSym(",")
        val t = pop() match {
          case TNum(v) => v
          case other => fail(s"predict_linear needs a scalar horizon, got $other")
        }
        expectSym(")")
        (inner, sub) match {
          case (RangePlaceholder(sel, w), _) => Deriv(sel, w, Some(t))
          case (i, Some((w, Some(s)))) => subqueryModifiers(DerivSubquery(i, w, s, Some(t)))
          case _ => fail("predict_linear requires a range selector or subquery")
        }
      case TId(fn) if unaryFns(fn) =>
        expectSym("(")
        // the time-component family defaults its argument to the
        // evaluation timestamp (Prometheus's v = vector(time())):
        // hour() == hour(time())
        if (timeComponentFns(fn) && peek.contains(TSym(")"))) {
          pop(); UnaryFn(fn, TimeFn())
        } else {
          val e = parseSetOp(); expectSym(")"); UnaryFn(fn, e)
        }
      case TId("pi") =>
        // π as the exact IEEE double literal both engines share
        expectSym("("); expectSym(")"); NumLit(math.Pi)
      case TId("absent") =>
        expectSym("(")
        val e = parseArith() match {
          case s: Selector => Absent(s)
          case other => fail(s"absent() takes an instant selector, got $other")
        }
        expectSym(")")
        e
      case TId("holt_winters") | TId("double_exponential_smoothing") =>
        // Prometheus 3.x renamed holt_winters; both names accepted
        expectSym("(")
        val inner = parseArith()
        val sub = inner match {
          case RangePlaceholder(_, _) => None
          case _ if peek.contains(TSym("[")) => Some(rangeSuffix())
          case _ => None
        }
        def factor(what: String): Double = { expectSym(","); pop() match {
          case TNum(v) if v > 0 && v < 1 => v
          case other => fail(s"holt_winters $what factor must be in (0,1), got $other")
        } }
        val sf = factor("smoothing"); val tf = factor("trend")
        expectSym(")")
        (inner, sub) match {
          case (RangePlaceholder(sel, w), _) => HoltWinters(sel, w, sf, tf)
          case (i, Some((w, Some(s)))) => subqueryModifiers(HoltWintersSubquery(i, w, s, sf, tf))
          case other =>
            fail(s"holt_winters needs a range selector or subquery, got $other")
        }
      case TId("absent_over_time") =>
        expectSym("(")
        val e = parseArith() match {
          case RangePlaceholder(sel, w) => AbsentOT(sel, w)
          case other =>
            fail(s"absent_over_time() takes a range selector, got $other")
        }
        expectSym(")")
        e
      case TId(fn @ ("clamp" | "clamp_min" | "clamp_max")) => parseClamp(fn)
      case TId("round") =>
        expectSym("(")
        val inner = parseSetOp()
        val to = peek match {
          case Some(TSym(",")) =>
            pop()
            pop() match {
              case TNum(v) if v > 0 => v
              case other => fail(s"round needs a positive scalar `to`, got $other")
            }
          case _ => 1.0
        }
        expectSym(")")
        RoundFn(inner, to)
      case TId("quantile") => parseAggQuantile()
      case TId("count_values") => parseCountValues()
      case TId("scalar") =>
        expectSym("("); val e = parseSetOp(); expectSym(")"); ScalarFn(e)
      case TId("sort") | TId("sort_desc") =>
        // presentation-order only in Prometheus: the sample SET is
        // unchanged, and this engine's results are unordered relations
        // (the reference lands them in a database) — so sort parses and
        // evaluates as identity. Stated deviation: an API layer that
        // must render ordered output re-sorts at the edge.
        expectSym("("); val e = parseSetOp(); expectSym(")"); e
      case TId("sort_by_label") | TId("sort_by_label_desc") =>
        // same presentation-order identity as sort/sort_desc (the label
        // list orders rows, never changes the sample set); the labels are
        // parsed and validated as string literals, then discarded.
        expectSym("(")
        val e = parseSetOp()
        val labs = strArgs()
        if (labs.isEmpty) fail("sort_by_label needs at least one label")
        e
      case TId("vector") =>
        expectSym("(")
        val v = pop() match {
          case TNum(x) => x
          case other => fail(s"vector() takes a scalar literal, got $other")
        }
        expectSym(")")
        VectorLit(v)
      case TId("time") =>
        expectSym("("); expectSym(")"); TimeFn()
      case TId("timestamp") =>
        expectSym("(")
        val e = parseSetOp() match {
          case s: Selector => TimestampFn(s)
          case other => fail(s"timestamp() takes an instant selector, got $other")
        }
        expectSym(")")
        e
      case TId("label_join") =>
        expectSym("(")
        val inner = parseSetOp()
        val args = strArgs()
        if (args.size < 2) fail("label_join needs (v, dst, sep, src...)")
        LabelJoin(inner, args.head, args(1), args.drop(2))
      case TId("label_replace") =>
        expectSym("(")
        val inner = parseSetOp()
        val args = strArgs()
        if (args.size != 4)
          fail("label_replace needs (v, dst, replacement, src, regex)")
        LabelReplace(inner, args(0), args(1), args(2), args(3))
      case TId(name) => withRangeSuffix(parseSelectorTail(name))
      case TNum(v) => NumLit(v) // literal heading an arithmetic chain
      case TSym("(") =>
        val e = parseSetOp(); expectSym(")"); e
      case other => fail(s"unexpected token $other")
    }

    /** rate( selector[w] ) / rate( (expr)[w:s] ) — the subquery form
      * binds like parseOverTime's: a trailing [w:s] suffix on any
      * expression.
      */
    private def parseRate(fn: String): Expr = {
      expectSym("(")
      val inner = parseArith()
      val e = peek match {
        case Some(TSym("[")) =>
          val (w, sOpt) = rangeSuffix()
          sOpt match {
            case Some(s) => subqueryModifiers(RateSubquery(fn, inner, w, s))
            case None =>
              fail(s"$fn over a non-selector needs a subquery: (expr)[w:s]")
          }
        case _ => inner match {
          case RangePlaceholder(sel, w) => Rate(fn, sel, w)
          case _ => fail(s"$fn requires a range: $fn(x[w]) or $fn((expr)[w:s])")
        }
      }
      expectSym(")")
      e
    }

    /** agg [by|without (l,..)] (expr) [by|without (l,..)] */
    private def parseAgg(fn: String): Expr = {
      var by = Seq.empty[String]; var without = Seq.empty[String]
      def clause(): Boolean = peek match {
        case Some(TId("by")) => pop(); by = labelList(); true
        case Some(TId("without")) => pop(); without = labelList(); true
        case _ => false
      }
      clause()
      expectSym("(")
      val inner = parseSetOp()
      expectSym(")")
      clause()
      Agg(fn, inner, by, without)
    }

    /** quantile_over_time( q, selector[w] ) */
    private def parseQuantileOverTime(): Expr = {
      expectSym("(")
      val q = pop() match {
        case TNum(v) if v >= 0 && v <= 1 => v
        case other => fail(s"quantile_over_time needs q in [0,1], got $other")
      }
      expectSym(",")
      val e = parseArith() match {
        case RangePlaceholder(sel, w) => QuantileOverTime(q, sel, w)
        case inner => peek match {
          case Some(TSym("[")) => rangeSuffix() match {
            case (w, Some(s)) => subqueryModifiers(QuantileSubquery(q, inner, w, s))
            case _ =>
              fail("quantile_over_time over an expression needs (expr)[w:s]")
          }
          case _ =>
            fail("quantile_over_time requires a range selector or subquery")
        }
      }
      expectSym(")")
      e
    }

    /** histogram_quantile( q, expr ); q outside [0,1] is rejected at parse
      * time (stated deviation: Prometheus returns -Inf/+Inf there — an
      * out-of-range q in a stored config is a typo, not a query).
      */
    private def parseHistQuantile(): Expr = {
      expectSym("(")
      val q = pop() match {
        case TNum(v) if v >= 0 && v <= 1 => v
        case other => fail(s"histogram_quantile needs q in [0,1], got $other")
      }
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      HistQuantile(q, inner)
    }

    /** histogram_fraction( lo, hi, expr ); bounds are numeric literals
      * or Inf/+Inf (upper) / -Inf (lower).
      */
    private def parseHistFraction(): Expr = {
      expectSym("(")
      def bound(): Double = peek match {
        case Some(TSym("+")) => pop(); bound()
        case Some(TSym("-")) => pop(); -bound()
        case _ => pop() match {
          case TNum(v) => v
          case TId("Inf") | TId("inf") => Double.PositiveInfinity
          case other => fail(s"histogram_fraction needs a numeric bound, got $other")
        }
      }
      val lo = bound()
      expectSym(",")
      val hi = bound()
      require(lo < hi, s"histogram_fraction needs lo < hi, got $lo, $hi")
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      HistFraction(lo, hi, inner)
    }

    /** clamp(v, lo, hi) | clamp_min(v, lo) | clamp_max(v, hi) */
    private def parseClamp(fn: String): Expr = {
      expectSym("(")
      val inner = parseSetOp()
      def num(): Double = { expectSym(","); pop() match {
        case TNum(v) => v
        case other => fail(s"$fn needs scalar bounds, got $other")
      } }
      val e = fn match {
        case "clamp" => Clamp(inner, Some(num()), Some(num()))
        case "clamp_min" => Clamp(inner, Some(num()), None)
        case "clamp_max" => Clamp(inner, None, Some(num()))
      }
      expectSym(")")
      e
    }

    /** topk/bottomk [by|without (l,..)] (k, expr) [by|without (l,..)] */
    private def parseTopK(fn: String): Expr = {
      var by = Seq.empty[String]; var without = Seq.empty[String]
      def clause(): Boolean = peek match {
        case Some(TId("by")) => pop(); by = labelList(); true
        case Some(TId("without")) => pop(); without = labelList(); true
        case _ => false
      }
      clause()
      expectSym("(")
      val k = pop() match {
        case TNum(v) if v == v.toInt && v.toInt > 0 => v.toInt
        case other => fail(s"$fn needs a positive integer k, got $other")
      }
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      clause()
      TopK(fn, k, inner, by, without)
    }

    /** limitk [by|without] (k, expr) / limit_ratio (r, expr); r may be
      * negative (complement selection) and must sit in [-1, 1].
      */
    private def parseLimit(fn: String): Expr = {
      var by = Seq.empty[String]; var without = Seq.empty[String]
      def clause(): Boolean = peek match {
        case Some(TId("by")) => pop(); by = labelList(); true
        case Some(TId("without")) => pop(); without = labelList(); true
        case _ => false
      }
      clause()
      expectSym("(")
      val p = (fn, pop()) match {
        case ("limitk", TNum(v)) if v == v.toInt && v.toInt > 0 => v
        case ("limit_ratio", TNum(v)) if v >= -1 && v <= 1 => v
        case ("limit_ratio", TSym("-")) => pop() match {
          case TNum(v) if v <= 1 => -v
          case other => fail(s"$fn needs r in [-1,1], got -$other")
        }
        case (_, other) => fail(s"$fn parameter out of range: $other")
      }
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      clause()
      LimitAgg(fn, p, inner, by, without)
    }

    /** quantile [by|without (l,..)] (q, expr) [by|without (l,..)] */
    private def parseAggQuantile(): Expr = {
      var by = Seq.empty[String]; var without = Seq.empty[String]
      def clause(): Boolean = peek match {
        case Some(TId("by")) => pop(); by = labelList(); true
        case Some(TId("without")) => pop(); without = labelList(); true
        case _ => false
      }
      clause()
      expectSym("(")
      val q = pop() match {
        case TNum(v) if v >= 0 && v <= 1 => v
        case other => fail(s"quantile needs q in [0,1], got $other")
      }
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      clause()
      AggQuantile(q, inner, by, without)
    }

    /** count_values [by|without (l,..)] ("lbl", expr) [by|without (l,..)] */
    private def parseCountValues(): Expr = {
      var by = Seq.empty[String]; var without = Seq.empty[String]
      def clause(): Boolean = peek match {
        case Some(TId("by")) => pop(); by = labelList(); true
        case Some(TId("without")) => pop(); without = labelList(); true
        case _ => false
      }
      clause()
      expectSym("(")
      val lbl = pop() match {
        case TStr(s) if s.nonEmpty => s
        case other => fail(s"count_values needs a label-name string, got $other")
      }
      expectSym(",")
      val inner = parseSetOp()
      expectSym(")")
      clause()
      CountValues(lbl, inner, by, without)
    }

    private def labelList(): Seq[String] = {
      expectSym("(")
      val out = Seq.newBuilder[String]
      var done = false
      while (!done) pop() match {
        case TId(l) => out += l
        case TSym(")") => done = true
        case TSym(",") => ()
        case other => fail(s"bad label list token $other")
      }
      out.result()
    }

    /** fn_over_time( selector[w] | expr[w:s] ) */
    private def parseOverTime(fn: String): Expr = {
      expectSym("(")
      val inner = parseArith()
      // the range suffix binds inside: selector[w] was already consumed by
      // withRangeSuffix; a subquery suffix applies to any expr
      val e = peek match {
        case Some(TSym("[")) =>
          val (w, sOpt) = rangeSuffix()
          sOpt match {
            case Some(s) => subqueryModifiers(
              OverTimeSubquery(fn.stripSuffix("_over_time"), inner, w, s))
            case None => inner match {
              case sel: Selector => OverTime(fn.stripSuffix("_over_time"), sel, w)
              case _ => fail("plain range selector only valid on a metric selector")
            }
          }
        case _ => inner match {
          case RangePlaceholder(sel, w) => OverTime(fn.stripSuffix("_over_time"), sel, w)
          case _ => fail(s"$fn requires a range: x[w] or (expr)[w:s]")
        }
      }
      expectSym(")")
      e
    }

    /** metric{l="v", l2!="v2", l3=~"rx", l4!~"rx"} — regex matchers are
      * fully anchored, as in Prometheus, and a missing label matches as
      * the empty string.
      */
    private def parseSelectorTail(name: String): Selector = {
      if (!peek.contains(TSym("{"))) return Selector(name)
      pop()
      var eq = Seq.empty[(String, String)]; var ne = Seq.empty[(String, String)]
      var re = Seq.empty[(String, String)]; var nre = Seq.empty[(String, String)]
      var done = false
      while (!done) pop() match {
        case TSym("}") => done = true
        case TSym(",") => ()
        case TId(l) =>
          val TSym(op) = pop(): @unchecked
          val TStr(v) = pop(): @unchecked
          op match {
            case "=" | "==" => eq :+= (l -> v)
            case "!=" => ne :+= (l -> v)
            case "=~" => re :+= (l -> v)
            case "!~" => nre :+= (l -> v)
            case _ => fail(s"unsupported matcher op $op")
          }
        case other => fail(s"bad matcher token $other")
      }
      Selector(name, eq, ne, re = re, nre = nre)
    }

    /** selector[24h] wrapped so an enclosing *_over_time can claim it;
      * the `offset <dur>` modifier parses after the range suffix
      * (`m[w] offset 1d`) or directly after a plain selector.
      */
    private def withRangeSuffix(sel: Selector): Expr = peek match {
      case Some(TSym("[")) =>
        val (w, sOpt) = rangeSuffix()
        sOpt match {
          case None => RangePlaceholder(parseModifiers(sel), w)
          case Some(_) => fail("bare subquery on a selector needs an enclosing *_over_time")
        }
      case _ => parseModifiers(sel)
    }

    /** `, "s1", "s2", ...)` — trailing string arguments up to the paren */
    private def strArgs(): Seq[String] = {
      val out = Seq.newBuilder[String]
      var done = false
      while (!done) pop() match {
        case TSym(",") => ()
        case TSym(")") => done = true
        case TStr(s) => out += s
        case other => fail(s"expected string argument, got $other")
      }
      out.result()
    }

    /** `group_left` / `group_right` after a matching clause, with the
      * optional label-copy list: `group_left(version, revision)`.
      */
    private def parseGroupSide(): (Option[String], Seq[String]) = peek match {
      case Some(TId("group_left")) => pop(); (Some("left"), maybeLabelList())
      case Some(TId("group_right")) => pop(); (Some("right"), maybeLabelList())
      case _ => (None, Nil)
    }

    private def maybeLabelList(): Seq[String] = peek match {
      case Some(TSym("(")) => labelList()
      case _ => Nil
    }

    /** Subquery modifiers `offset <dur>` / `@ <ts|start()|end()>` parsed
      * right after a subquery's `]` (any order, as on selectors); wraps
      * `node` in [[TimeShift]] only when a modifier is present.
      */
    private def subqueryModifiers(node: Expr): Expr = {
      var off = 0L
      var at: Option[Long] = None
      var edge: Option[AtEdge] = None
      var go = true
      while (go) peek match {
        case Some(TId("offset")) =>
          pop()
          val sign = peek match {
            case Some(TSym("-")) => pop(); -1L
            case _ => 1L
          }
          pop() match {
            case TId(d) => off = sign * TimeResolver.parseDuration(d).getSeconds
            case other => fail(s"expected duration after offset, got $other")
          }
        case Some(TSym("@")) =>
          pop()
          pop() match {
            case TNum(v) => at = Some(v.toLong)
            case TId(e @ ("start" | "end")) =>
              expectSym("("); expectSym(")")
              edge = Some(if (e == "start") AtStart else AtEnd)
            case other =>
              fail(s"expected unix timestamp, start() or end() after @, got $other")
          }
        case _ => go = false
      }
      if (off == 0 && at.isEmpty && edge.isEmpty) node
      else TimeShift(node, off, at, edge)
    }

    /** `offset <duration>` and/or `@ <unix_ts>`, any order, else as-is */
    private def parseModifiers(sel: Selector): Selector = {
      var s = sel
      var go = true
      while (go) peek match {
        case Some(TId("offset")) =>
          pop()
          // negative offsets look FORWARD (Prometheus 2.26+,
          // --enable-feature=promql-negative-offset semantics)
          val sign = peek match {
            case Some(TSym("-")) => pop(); -1L
            case _ => 1L
          }
          pop() match {
            case TId(d) =>
              s = s.copy(offsetSec =
                sign * TimeResolver.parseDuration(d).getSeconds)
            case other => fail(s"expected duration after offset, got $other")
          }
        case Some(TSym("@")) =>
          pop()
          pop() match {
            case TNum(v) => s = s.copy(atSec = Some(v.toLong))
            case TId(edge @ ("start" | "end")) =>
              expectSym("("); expectSym(")")
              s = s.copy(atEdge =
                Some(if (edge == "start") AtStart else AtEnd))
            case other =>
              fail(s"expected unix timestamp, start() or end() after @, got $other")
          }
        case _ => go = false
      }
      s
    }

    /** [w] or [w:s] */
    private def rangeSuffix(): (Long, Option[Long]) = {
      expectSym("[")
      val TId(w) = pop(): @unchecked
      val wSec = TimeResolver.parseDuration(w).getSeconds
      val step = peek match {
        case Some(TSym(":")) =>
          pop()
          val TId(s) = pop(): @unchecked
          Some(TimeResolver.parseDuration(s).getSeconds)
        case _ => None
      }
      expectSym("]")
      (wSec, step)
    }
  }

  /** internal marker: a selector with a pending [w] suffix */
  private final case class RangePlaceholder(sel: Selector, windowSec: Long) extends Expr

  /** Constant-fold a literal-only arithmetic expression to its value —
    * `2 + 1`, `100 * 0.5` — so comparisons against it use the scalar
    * comparison forms (and their cheaper plans) instead of a join.
    */
  def constFold(e: Expr): Option[Double] = e match {
    case NumLit(v) => Some(v)
    case Arith(i, op, v) => constFold(i).map(applyOp(_, op, v))
    case VecBin(op, l, r, None, None, None, _) =>
      for (lv <- constFold(l); rv <- constFold(r)) yield applyOp(lv, op, rv)
    case _ => None
  }

  private def applyOp(l: Double, op: String, r: Double): Double = op match {
    case "*" => l * r
    case "/" => l / r
    case "+" => l + r
    case "-" => l - r
    case "%" => l % r // fmod, dividend's sign — Go math.Mod semantics
    case "^" => math.pow(l, r)
    case "atan2" => math.atan2(l, r) // libm → spec-only policy, like ^
  }

  /** Extractor form of [[constFold]] for parse-time collapsing. */
  private object Folded {
    def unapply(e: Expr): Option[Double] = constFold(e)
  }

  def parse(query: String): Expr = {
    val e = new Parser(tokenize(query), query).parse()
    require(!containsPlaceholder(e), s"dangling range selector in: $query")
    e
  }

  private def containsPlaceholder(e: Expr): Boolean = e match {
    case RangePlaceholder(_, _) => true
    case BoolCmp(i, _, _) => containsPlaceholder(i)
    case FilterCmp(i, _, _) => containsPlaceholder(i)
    case VecCmp(_, l, r, _, _, _) => containsPlaceholder(l) || containsPlaceholder(r)
    case Agg(_, i, _, _) => containsPlaceholder(i)
    case Arith(i, _, _) => containsPlaceholder(i)
    case OverTimeSubquery(_, i, _, _) => containsPlaceholder(i)
    case RateSubquery(_, i, _, _) => containsPlaceholder(i)
    case TimeShift(i, _, _, _) => containsPlaceholder(i)
    case VecBin(_, l, r, _, _, _, _) => containsPlaceholder(l) || containsPlaceholder(r)
    case TopK(_, _, i, _, _) => containsPlaceholder(i)
    case LimitAgg(_, _, i, _, _) => containsPlaceholder(i)
    case QuantileSubquery(_, i, _, _) => containsPlaceholder(i)
    case MadSubquery(i, _, _) => containsPlaceholder(i)
    case HoltWintersSubquery(i, _, _, _, _) => containsPlaceholder(i)
    case DerivSubquery(i, _, _, _) => containsPlaceholder(i)
    case HistQuantile(_, i) => containsPlaceholder(i)
    case HistFraction(_, _, i) => containsPlaceholder(i)
    case UnaryFn(_, i) => containsPlaceholder(i)
    case Clamp(i, _, _) => containsPlaceholder(i)
    case RoundFn(i, _) => containsPlaceholder(i)
    case ScalarFn(i) => containsPlaceholder(i)
    case AggQuantile(_, i, _, _) => containsPlaceholder(i)
    case CountValues(_, i, _, _) => containsPlaceholder(i)
    case SetOp(_, l, r, _, _) =>
      containsPlaceholder(l) || containsPlaceholder(r)
    case LabelJoin(i, _, _, _) => containsPlaceholder(i)
    case LabelReplace(i, _, _, _, _) => containsPlaceholder(i)
    case _ => false
  }
}
