package graft.promql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import PromParser._

/** Evaluator: compiles a parsed PromQL expression (the reference's shipped
  * surface) into the [[PromOps]] DataFrame pipeline. There is one
  * evaluator, [[evalGrid]]: an expression evaluates at every aligned
  * point g of a step grid, one row per (output series, point):
  * (skey, g, value). An instant query is the one-point grid [t, t] —
  * Prometheus's own engine runs it as a range evaluation with
  * start = end — so [[evalInstant]] only drops `g`, and every operator's
  * per-point kernel exists once, keyed by (series, g).
  *
  * Subquery evaluation reuses the sample→grid-point expansion, so the
  * flagship's `[24h:1m]` grid stays linear in sample count end-to-end —
  * parsing the query text costs nothing at execution time; the plan is
  * identical to the hand-built pipeline.
  */
object PromEval {

  /** Rewrite every [[Selector]] in `expr` through `f` — structural
    * recursion over the case-class tree by primary-constructor
    * reflection, the same mechanism Catalyst's `TreeNode.makeCopy`
    * uses. Driver-side, parse-time only; never touches a plan.
    */
  private def mapSelectors(expr: Expr)(f: Selector => Selector,
      g: TimeShift => TimeShift = identity): Expr = {
    def go(x: Any): Any = x match {
      case s: Selector => f(s)
      case ts: TimeShift => // rewrite the carrier, then recurse inside
        val applied = g(ts)
        applied.copy(inner = go(applied.inner).asInstanceOf[Expr])
      case o: Option[_] => o.map(go)
      case xs: Seq[_] => xs.map(go)
      case p: Product if p.isInstanceOf[Expr] =>
        val args = p.productIterator.map(go)
          .map(_.asInstanceOf[AnyRef]).toArray
        p.getClass.getConstructors.head.newInstance(args: _*)
      case other => other
    }
    go(expr).asInstanceOf[Expr]
  }

  /** Prometheus's `@ start()` / `@ end()` preprocessing: resolve every
    * edge-pinned selector to a literal `@` timestamp given the QUERY's
    * evaluation bounds. Runs once, in [[evalGrid]], with the range's
    * bounds — an instant query's are start = end = the eval time — so
    * selectors inside subqueries pin to the outer query's bounds, never
    * to the subquery's derived grid (which is how Prometheus itself
    * scopes the modifier). Idempotent: a resolved tree has no `atEdge`
    * left and recursion rewrites nothing.
    */
  def resolveAtEdges(expr: Expr, startSec: Long, endSec: Long): Expr =
    mapSelectors(expr)(
      s => s.atEdge match {
        case Some(AtStart) => s.copy(atSec = Some(startSec), atEdge = None)
        case Some(AtEnd) => s.copy(atSec = Some(endSec), atEdge = None)
        case None => s
      },
      ts => ts.atEdge match {
        case Some(AtStart) => ts.copy(atSec = Some(startSec), atEdge = None)
        case Some(AtEnd) => ts.copy(atSec = Some(endSec), atEdge = None)
        case None => ts
      })

  private def hasAtEdge(x: Any): Boolean = x match {
    case s: Selector => s.atEdge.nonEmpty
    case ts: TimeShift => ts.atEdge.nonEmpty || hasAtEdge(ts.inner)
    case o: Option[_] => o.exists(hasAtEdge)
    case xs: Seq[_] => xs.exists(hasAtEdge)
    case p: Product if p.isInstanceOf[Expr] =>
      p.productIterator.exists(hasAtEdge)
    case _ => false
  }

  /** Evaluate `expr` as an instant query at `atEpochSec`: (skey, value).
    * It is the one-point grid [t, t] — start() = end() = t — with a 1 s
    * step, which divides every offset and subquery alignment.
    */
  def evalInstant(metrics: DataFrame, expr: Expr, atEpochSec: Long,
      lookbackSec: Long = PromOps.DefaultLookbackSec): DataFrame =
    evalGrid(metrics, expr, atEpochSec, atEpochSec, 1L, lookbackSec)
      .select(col("skey"), col("value"))

  /** clamp(v, lo, hi) with lo > hi is NaN for every point, per
    * Prometheus; clamp_min/clamp_max have a single bound and no such
    * degenerate case.
    */
  private def clampValue(lo: Option[Double], hi: Option[Double]): Column = {
    val withLo = lo.fold(col("value"))(v => greatest(col("value"), lit(v)))
    val withBoth = hi.fold(withLo)(v => least(withLo, lit(v)))
    (lo, hi) match {
      case (Some(l), Some(h)) if l > h => lit(Double.NaN)
      case _ => withBoth
    }
  }

  /** Expressions that are one row by construction — legal as the scalar
    * side of a binop or comparison. Closed under arithmetic: a chain of
    * scalar-typed operands stays scalar-typed (`0.5 * scalar(x) + 1`).
    */
  private def scalarish(e: Expr): Boolean = e match {
    case _: ScalarFn | _: VectorLit | _: TimeFn | _: NumLit => true
    case Arith(i, _, _) => scalarish(i)
    case VecBin(_, l, r, None, None, None, _) => scalarish(l) && scalarish(r)
    case _ => false
  }

  private def unary(fn: String, v: Column): Column = fn match {
    case "abs" => abs(v)
    case "ceil" => ceil(v).cast("double") // PromQL math fns return floats
    case "floor" => floor(v).cast("double")
    case "sqrt" => sqrt(v)
    case "exp" => exp(v)
    case "ln" => log(v)
    case "log2" => log2(v)
    case "log10" => log10(v)
    case "sgn" => signum(v)
    // time components of an epoch-seconds value, UTC — pure integer
    // math (hour/minute/day_of_week) or calendar fields on a UTC
    // session (day_of_month/month/year); all exact cross-engine
    // (Column./ is FLOATING division even on longs — floor() it)
    case "hour" => (floor(v / 3600) % 24).cast("double")
    case "minute" => (floor(v / 60) % 60).cast("double")
    case "day_of_week" => // epoch day 0 = Thursday; Prometheus: 0 = Sunday
      ((floor(v / 86400) + 4) % 7).cast("double")
    case "day_of_month" =>
      dayofmonth(timestamp_seconds(v.cast("long"))).cast("double")
    case "day_of_year" =>
      dayofyear(timestamp_seconds(v.cast("long"))).cast("double")
    case "days_in_month" =>
      dayofmonth(last_day(timestamp_seconds(v.cast("long")))).cast("double")
    case "month" => month(timestamp_seconds(v.cast("long"))).cast("double")
    case "year" => year(timestamp_seconds(v.cast("long"))).cast("double")
    // trig family: libm-backed, spec-tested only (never in oracles)
    case "sin" => sin(v)
    case "cos" => cos(v)
    case "tan" => tan(v)
    case "asin" => asin(v)
    case "acos" => acos(v)
    case "atan" => atan(v)
    case "sinh" => sinh(v)
    case "cosh" => cosh(v)
    case "tanh" => tanh(v)
    case "deg" => degrees(v)
    case "rad" => radians(v)
  }

  /** The by/without-filtered label map of the current row's skey; both
    * empty means drop every label (aggregate-everything, key "{}").
    */
  private def groupLabels(by: Seq[String], without: Seq[String]): Column = {
    val labels = PromOps.labelsOf(col("skey"))
    (by, without) match {
      case (b, Nil) =>
        val keep = array(b.map(lit): _*)
        map_filter(labels, (k, _) => array_contains(keep, k))
      case (Nil, w) =>
        val drop = array(w.map(lit): _*)
        map_filter(labels, (k, _) => !array_contains(drop, k))
      case _ => throw new IllegalArgumentException("both by and without given")
    }
  }

  /** Canonical group key (JSON) for a static by/without label list — the
    * codegen-friendly forms ([[PromOps.groupKeyBy]] /
    * [[PromOps.groupKeyWithout]]) the aggBy/aggWithout hot paths use,
    * exposed for the other grouping sites (quantile-across-series,
    * count_values, grid windows).
    */
  private def groupKey(by: Seq[String], without: Seq[String]): Column =
    (by, without) match {
      case (b, Nil) => PromOps.groupKeyBy(b)
      case (Nil, w) => PromOps.groupKeyWithout(w)
      case _ => throw new IllegalArgumentException("both by and without given")
    }

  /** Static output-key bound for the one-to-one duplicate guard: Some(K)
    * when every output row's label set is provably a SUBSET of K and
    * rows are unique per full label set. `sum by (user) (x)` gives
    * Some({user}); subsets, value transforms, one-to-one matches, and
    * set operations preserve the bound; anything else answers None and
    * stays guarded. (round 18 — the guard's min(struct) aggregate plans
    * as SortAggregate + Sort + Exchange per side, a real cost at scale
    * that the dominant `by`-aggregated idiom never needs to pay.)
    */
  private def keyedBy(e: Expr): Option[Set[String]] = e match {
    case Agg(_, _, by, Nil) => Some(by.toSet) // by() → Some(∅): one row
    case AggQuantile(_, _, by, Nil) => Some(by.toSet)
    case Arith(inner, _, _) => keyedBy(inner)
    case BoolCmp(inner, _, _) => keyedBy(inner)
    case FilterCmp(inner, _, _) => keyedBy(inner) // row subset
    case UnaryFn(_, inner) => keyedBy(inner)
    case Clamp(inner, _, _) => keyedBy(inner)
    case RoundFn(inner, _) => keyedBy(inner)
    case TopK(_, _, inner, _, _) => keyedBy(inner) // row subset
    case LimitAgg(_, _, inner, _, _) => keyedBy(inner) // row subset
    case VecBin(_, _, _, Some(on), _, None, _) => Some(on.toSet)
    case VecBin(_, l, r, None, None, None, _) =>
      for (kl <- keyedBy(l); kr <- keyedBy(r)) yield kl ++ kr
    case VecCmp(_, _, _, true, Some(on), _) => Some(on.toSet)
    case VecCmp(_, l, _, _, _, _) => keyedBy(l) // left rows (filter) or left keys (bool bare)
    case SetOp("and" | "unless", l, _, _, _) => keyedBy(l)
    case SetOp("or", l, r, _, _) =>
      // union dedups by full key (bare) or by a projection of it: rows
      // with equal full keys collapse either way, so uniqueness holds
      for (kl <- keyedBy(l); kr <- keyedBy(r)) yield kl ++ kr
    case _ => None
  }

  /** True when `e`'s output is provably unique per PROJECTED match key,
    * so [[oneRowPerMatchKey]] can be skipped: under `on(L)` a key bound
    * K ⊆ L projects injectively; under `ignoring(I)` the projection
    * drops nothing when K ∩ I = ∅. The bare form always qualifies (it
    * matches on the full series key, unique per instant vector).
    */
  private def uniqueUnder(e: Expr, on: Option[Seq[String]],
      ignoring: Option[Seq[String]]): Boolean = (on, ignoring) match {
    case (Some(ls), _) => keyedBy(e).exists(_.subsetOf(ls.toSet))
    // disjointness spelled via forall: the purity linter's eager-probe
    // pattern would false-positive on a `).isEmpty` call chain
    case (_, Some(ls)) => keyedBy(e).exists(_.forall(l => !ls.contains(l)))
    case _ => true
  }

  /** The vector-matching key: the full series key (bare op), the
    * kept-label key (`on`), or the complement-label key (`ignoring`).
    *
    * Prometheus treats an empty label value as ABSENT (`labels.Labels`
    * never stores empties; `label_replace`/`label_join` with an empty
    * result DELETE the label — mirrored by [[setLabel]]), so the
    * projected key drops null- and empty-valued entries: a series
    * carrying `k=""` must match one with no `k` at all (ADVICE r17).
    * The engine-wide invariant is that keys never hold empty values —
    * ingest synthesizes non-empty labels and [[setLabel]] deletes
    * empties — so for the bare form the stored `skey` is already
    * canonical and is used as-is; the filter here makes the PROJECTED
    * forms robust to any future frame that breaks the invariant.
    */
  private def matchKey(on: Option[Seq[String]],
      ignoring: Option[Seq[String]],
      keyed: Option[Set[String]] = None): Column = (on, ignoring) match {
    // identity skips (round 19, measured): when the side's label set is
    // STATICALLY known ([[keyedBy]]) to survive the projection intact —
    // kept ⊆ on-set, or disjoint from the ignoring-set — the projected
    // key IS the stored key: a by()-aggregate's skey is already the
    // canonical JSON of exactly those labels ([[PromOps.seriesKey]]
    // sorts; values are non-empty by the same engine-wide invariant the
    // bare form below trusts). Skipping the rebuild matters because the
    // one side of every `on(user) group_left sum by (user)` idiom used
    // to re-parse and re-serialize its own aggregate key per row — a
    // from_json(to_json(...)) chain Catalyst then also duplicated into
    // scan filters (the isnotnull join constraint) and aggregate result
    // expressions: promql_parsed_groupleft spent 189 s of task time in
    // that one stage.
    case (Some(ls), _) if keyed.exists(_.subsetOf(ls.toSet)) => col("skey")
    case (_, Some(ls)) if keyed.exists(k => ls.forall(l => !k.contains(l))) =>
      col("skey")
    case (Some(ls), _) =>
      // static projection (round 19): the kept label NAMES are known at
      // plan time, so the canonical key order is decided HERE
      // (ls.sorted) instead of per row by array_sort, and each value is
      // one streaming get_json_object probe instead of a full
      // from_json map build + lambda filter + lambda-comparator sort.
      // to_json re-escapes values, so the rebuilt key is byte-identical
      // to the map_filter form; null- and empty-valued entries drop
      // exactly as before (Prometheus's absent-label rule). The
      // when(isNotNull) wrapper preserves the old form's null
      // propagation (from_json(null) → null key) bit-for-bit.
      val kept = ls.distinct.sorted
      // on() with an empty label list projects every series to the empty
      // key (an empty array() literal has no element type, so the
      // struct-building form below can't express it)
      if (kept.isEmpty) when(col("skey").isNotNull, lit("{}"))
      else {
        val entries = kept.map { l =>
          struct(lit(l).as("key"),
            get_json_object(col("skey"), s"$$.$l").as("value"))
        }
        when(col("skey").isNotNull,
          to_json(map_from_entries(filter(array(entries: _*),
            e => e.getField("value").isNotNull &&
              e.getField("value") =!= lit("")))))
      }
    case (_, Some(ls)) =>
      val drop = array(ls.map(lit): _*)
      PromOps.seriesKey(map_filter(PromOps.labelsOf(col("skey")),
        (k, v) => !array_contains(drop, k) && v.isNotNull && v =!= ""))
    case _ => col("skey")
  }

  /** Prometheus one-to-one matching ERRORS on duplicate series per match
    * group on either side ("found duplicate series for the match group"
    * — promql resultMetric matching). Enforced in-plan with the same
    * idiom as the group_left one-side check: group the side by its match
    * key, pin the group cardinality with assert_true (NULL when the
    * guard holds, so the filter keeps every row), and carry
    * min(struct(payload)) — with exactly one row per group that struct
    * IS the row, so no value is perturbed. Cost shape: the aggregate
    * shuffles on the same key the equi-join hashes on, so the join reads
    * pre-aggregated sides instead of raw sides — one HashAggregate per
    * side on eval-sized frames, no extra exchange beyond what matching
    * already requires.
    */
  private def oneRowPerMatchKey(df: DataFrame, keyCols: Seq[String],
      payload: Seq[String], side: String): DataFrame = {
    val st = struct(payload.map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(min(st).as("_row"), count(lit(1)).as("_nm"))
      .filter(assert_true(col("_nm") === 1,
        concat(lit("one-to-one matching: duplicate series on the " +
          s"$side hand-side for match key "), col(keyCols.head))).isNull)
      .select(keyCols.map(col) ++
        payload.map(p => col(s"_row.$p").as(p)): _*)
  }

  /** Vector-vector arithmetic, one-to-one. With a matching modifier the
    * output series carries the match key as its label set, as Prometheus
    * does for one-to-one matches. The join is a plain equi-join on the
    * key — broadcastable when one side is small, shuffle-hash otherwise;
    * no label explosion, no cross join. Duplicate match keys on either
    * side raise at execution via [[oneRowPerMatchKey]], Prometheus's
    * one-to-one rule. `groupLabels` is the
    * `group_left(version)` label-copy list: the listed labels are copied
    * from the ONE side onto each output series (missing labels remove
    * the label, Prometheus's overwrite rule).
    */
  private def vecBin(left: DataFrame, right: DataFrame, op: String,
      on: Option[Seq[String]], ignoring: Option[Seq[String]],
      groupSide: Option[String] = None,
      groupLabels: Seq[String] = Nil,
      leftProvenUnique: Boolean = false,
      rightProvenUnique: Boolean = false,
      leftKeyed: Option[Set[String]] = None,
      rightKeyed: Option[Set[String]] = None): DataFrame = {
    // per-side match keys: a side whose label set is statically known
    // to survive the projection gets the identity key (see [[matchKey]])
    val lmkey = matchKey(on, ignoring, leftKeyed)
    val rmkey = matchKey(on, ignoring, rightKeyed)
    // the grid point rides along in every join/group key, so a binop
    // matches per (series, point)
    val extraKeys = Seq("g")
    val extras = extraKeys.map(col)
    groupSide match {
      case None =>
        // duplicate match keys are only POSSIBLE under on/ignoring (the
        // key projects to a label subset); the bare form matches on the
        // full series key, unique per instant vector by construction —
        // Prometheus's binop never sees duplicate full labelsets either
        // (it errors at the producing function), so skipping the guard
        // there is exact, and the guarded plan is paid only where the
        // semantics demand it. A side whose uniqueness is STRUCTURAL
        // ([[uniqueUnder]]: e.g. `sum by (user) (x)` matched `on(user)`)
        // also skips — the guard's min(struct) aggregate costs a
        // SortAggregate+Sort+Exchange pipeline that a proof makes
        // unreachable (round 18).
        val guard = on.nonEmpty || ignoring.nonEmpty
        def side(df: DataFrame, mkey: Column, v: String, which: String,
            proven: Boolean): DataFrame = {
          val sel = df.select(
            mkey.as("skey") +: extras :+ col("value").as(v): _*)
          if (guard && !proven)
            oneRowPerMatchKey(sel, "skey" +: extraKeys, Seq(v), which)
          else sel
        }
        val lf = side(left, lmkey, "lv", "left", leftProvenUnique)
        val rf = side(right, rmkey, "rv", "right", rightProvenUnique)
        lf.join(rf, "skey" +: extraKeys)
          .select(col("skey") +: extras :+
            arith2(col("lv"), op, col("rv")).as("value"): _*)
      case Some(side) =>
        // many-to-one: the group_left/right side is the MANY side and
        // keeps its full series key; the other side joins on the match
        // key alone (one row per key — typically a by()-aggregate, so
        // small and broadcastable). Uniqueness on the 'one' side is
        // ENFORCED: a duplicate match key raises at execution (Prometheus
        // errors on many-to-many matches rather than multiplying rows).
        // assert_true returns NULL when the guard holds, so the filter
        // keeps every row while pinning the check into the plan. The
        // label-copy values ride the same one-row-per-key aggregate, so
        // the copy costs nothing beyond the columns themselves.
        val (many, one) = if (side == "left") (left, right) else (right, left)
        val (manyKey, oneKey) =
          if (side == "left") (lmkey, rmkey) else (rmkey, lmkey)
        val mf = many.select(col("skey") +: manyKey.as("mkey") +: extras :+
          col("value").as("manyv"): _*)
        val oneLabels = PromOps.labelsOf(col("skey"))
        val copySel = groupLabels.zipWithIndex.map { case (lbl, i) =>
          oneLabels.getItem(lbl).as(s"cp$i") }
        val copyCols = groupLabels.indices.map(i => col(s"cp$i"))
        val aggs = Seq(min(col("onev")).as("onev"),
          count(lit(1)).as("nmatch")) ++
          groupLabels.indices.map(i => min(col(s"cp$i")).as(s"cp$i"))
        val of = one.select(Seq(oneKey.as("mkey")) ++ extras ++ copySel :+
          col("value").as("onev"): _*)
          .groupBy(col("mkey") +: extras: _*)
          .agg(aggs.head, aggs.tail: _*)
          .filter(assert_true(col("nmatch") === 1,
            concat(lit("many-to-many matching: duplicate 'one'-side series for key "),
              col("mkey"))).isNull)
          .select(Seq(col("mkey")) ++ extras ++ copyCols :+ col("onev"): _*)
        val joined = mf.join(of, "mkey" +: extraKeys)
        val value =
          if (side == "left") arith2(col("manyv"), op, col("onev"))
          else arith2(col("onev"), op, col("manyv"))
        val outKey =
          if (groupLabels.isEmpty) col("skey")
          else PromOps.seriesKey(
            groupLabels.zipWithIndex.foldLeft(PromOps.labelsOf(col("skey"))) {
              case (lbls, (lbl, i)) => setLabel(lbls, lbl, col(s"cp$i"))
            })
        joined.select(outKey.as("skey") +: extras :+ value.as("value"): _*)
    }
  }

  /** Vector-vector comparison: equi-join on the match key. Without
    * `bool` the LEFT series survives with its full label set and value
    * when the predicate holds (the filtering form); with `bool` every
    * matched pair scores 1/0, and under a matching modifier the output
    * carries the match key as its label set (the one-to-one output-label
    * rule). Broadcastable when one side is small. Duplicate match keys
    * on either side raise at execution via [[oneRowPerMatchKey]] —
    * comparisons use the same one-to-one matching machinery as
    * arithmetic in Prometheus, so the same duplicate-series rule
    * applies (the left side's full skey rides the payload struct, so
    * the filtering form still emits the left series unchanged).
    */
  private def vecCmp(left: DataFrame, right: DataFrame, op: String,
      isBool: Boolean, on: Option[Seq[String]],
      ignoring: Option[Seq[String]],
      leftProvenUnique: Boolean = false,
      rightProvenUnique: Boolean = false,
      leftKeyed: Option[Set[String]] = None,
      rightKeyed: Option[Set[String]] = None): DataFrame = {
    val lmkey = matchKey(on, ignoring, leftKeyed)
    val rmkey = matchKey(on, ignoring, rightKeyed)
    val extraKeys = Seq("g") // per (series, point), as in [[vecBin]]
    val extras = extraKeys.map(col)
    // same scoping rule as [[vecBin]]: the guard is paid only under
    // on/ignoring, the only forms where duplicate match keys can exist —
    // and only on sides whose uniqueness isn't structural (round 18)
    val guard = on.nonEmpty || ignoring.nonEmpty
    val lfSel = left.select(Seq(lmkey.as("mkey")) ++ extras ++
      Seq(col("skey"), col("value").as("lv")): _*)
    val rfSel = right.select(
      rmkey.as("mkey") +: extras :+ col("value").as("rv"): _*)
    val lf = if (guard && !leftProvenUnique)
      oneRowPerMatchKey(lfSel, "mkey" +: extraKeys, Seq("skey", "lv"), "left")
    else lfSel
    val rf = if (guard && !rightProvenUnique)
      oneRowPerMatchKey(rfSel, "mkey" +: extraKeys, Seq("rv"), "right")
    else rfSel
    val joined = lf.join(rf, "mkey" +: extraKeys)
    val pred = PromOps.cmpCol(col("lv"), op, col("rv"))
    if (isBool) {
      val outKey =
        if (on.isEmpty && ignoring.isEmpty) col("skey") else col("mkey")
      joined.select(outKey.as("skey") +: extras :+ pred.as("value"): _*)
    } else joined.filter(pred === 1.0)
      .select(col("skey") +: extras :+ col("lv").as("value"): _*)
  }

  /** topk/bottomk per grid point: whole-series selection with a
    * deterministic skey tie-break. Descending value rides as its exact
    * IEEE negation; a NaN value then sorts LAST under the aggregate's
    * total order both ways, i.e. NaN never beats a number — Prometheus's
    * own rule (a `value.desc` sort would put NaN first).
    */
  private def topk(df: DataFrame, fn: String, k: Int, by: Seq[String],
      without: Seq[String], onePoint: Boolean): DataFrame = {
    val v = if (fn == "topk") -col("value") else col("value")
    perPointTopK(df, by, without, Seq(v, col("skey")), k, onePoint)
  }

  /** limitk / limit_ratio per grid point (deterministic stated
    * deviations — see [[PromParser.LimitAgg]]). limitk keeps the k
    * lexicographically-smallest series keys. limit_ratio is a pure
    * filter on the 60-bit-md5 unit-interval hash of the series key — no
    * shuffle at all; the hash ignores g, so a series is kept or dropped
    * across the whole range (Prometheus's documented "consistent
    * sampling across steps") and on every engine.
    */
  private def limitAgg(df: DataFrame, fn: String, p: Double, by: Seq[String],
      without: Seq[String], onePoint: Boolean): DataFrame = fn match {
    case "limitk" =>
      perPointTopK(df, by, without, Seq(col("skey")), p.toInt, onePoint)
    case "limit_ratio" =>
      df.filter(ratioKeep(p)).select(col("skey"), col("g"), col("value"))
  }

  /** The k rows of least `ord` (ascending, field by field) per
    * (group key, g), or per g alone when neither by nor without is
    * given: the K-bounded native aggregate, never a per-group window
    * sort (series per group can be corpus-sized) — map-side partials
    * ship at most k rows per group. The global form on a one-point grid
    * is one group, so it is orderBy + limit instead: Spark plans
    * TakeOrderedAndProject, the same per-partition heap and k-row merge
    * without the aggregate's extra shuffle.
    */
  private def perPointTopK(df: DataFrame, by: Seq[String],
      without: Seq[String], ord: Seq[Column], k: Int,
      onePoint: Boolean): DataFrame = {
    val global = by.isEmpty && without.isEmpty
    val top =
      if (global && onePoint) df.orderBy(ord.map(_.asc): _*).limit(k)
      else {
        val (keyed, gcols) =
          if (global) (df, Seq("g"))
          else (df.withColumn("gkey", groupKey(by, without)), Seq("gkey", "g"))
        graft.ext.Ranking.explodeTopK(keyed, gcols,
          struct(ord.zipWithIndex.map { case (c, i) => c.as(s"o$i") }: _*),
          struct(col("skey"), col("value")), k)
      }
    top.select(col("skey"), col("g"), col("value"))
  }

  /** The limit_ratio keep predicate: h(skey) ∈ [0,1) from the repo's
    * standard 60-bit md5 prefix; r ≥ 0 keeps h < r, r < 0 keeps the
    * complement h ≥ 1+r — the two partition the vector exactly.
    */
  private def ratioKeep(p: Double): Column = {
    val h = conv(substring(md5(col("skey")), 1, 15), 16, 10)
      .cast("long").cast("double") / math.pow(2, 60)
    if (p >= 0) h < lit(p) else h >= lit(1.0 + p)
  }

  /** Set/overwrite one label; an empty or null value REMOVES it
    * (Prometheus's label_replace/label_join contract).
    */
  private def setLabel(labels: Column, dst: String, value: Column): Column = {
    val without = map_filter(labels, (k, _) => k =!= lit(dst))
    when(value.isNull || value === "", without)
      .otherwise(map_concat(without, map(lit(dst), value)))
  }

  private def arith2(l: Column, op: String, r: Column): Column = op match {
    case "*" => l * r
    case "/" => l / r
    case "+" => l + r
    case "-" => l - r
    case "%" => l % r // Spark Remainder == Java % == Go math.Mod (fmod)
    case "^" => pow(l, r)
    case "atan2" => atan2(l, r) // libm → spec-only policy, like ^
  }

  /** Evaluate `expr` at every aligned grid point in [g0, g1] (step-aligned):
    * (skey, g, value).
    */
  def evalGrid(metrics: DataFrame, expr0: Expr, g0: Long, g1: Long,
      stepSec: Long, lookbackSec: Long): DataFrame = {
    // range query: start()/end() pin to the range's own bounds. By the
    // time a subquery recursion re-enters the evaluator the top-level
    // resolve has already run, so inner selectors can never pin to a
    // subquery's derived grid.
    val expr =
      if (hasAtEdge(expr0)) resolveAtEdges(expr0, g0, g1) else expr0
    evalGridResolved(metrics, expr, g0, g1, stepSec, lookbackSec)
  }

  private def evalGridResolved(metrics: DataFrame, expr: Expr, g0: Long,
      g1: Long, stepSec: Long, lookbackSec: Long): DataFrame = {
    def ev(e: Expr): DataFrame =
      evalGridResolved(metrics, e, g0, g1, stepSec, lookbackSec)
    // offset shifts every evaluation point: the value at g is the subtree
    // at g − offset, so evaluate the shifted grid and relabel. The shift
    // must keep the grid step-aligned — always true on a one-point grid,
    // whose step is 1 s.
    def shifted(off: Long)(body: (Long, Long) => DataFrame): DataFrame = {
      require(off % stepSec == 0,
        s"offset ${off}s must be a multiple of the ${stepSec}s step")
      val base = body(g0 - off, g1 - off)
      if (off == 0) base else base.withColumn("g", col("g") + off)
    }
    // a range function's per-point samples (skey, g, e, value): a range
    // selector's window (g − w, g] (PromOps.windowGrid — one explode,
    // linear in samples × window/step) or a subquery's inner points
    def windowed(sel: Selector, w: Long)(kernel: DataFrame => DataFrame) =
      shifted(sel.offsetSec)((a, b) => kernel(PromOps.windowGrid(
        matcherFilter(metrics, sel), sel.name, a, b, stepSec, w)))
    def subquery(inner: Expr, w: Long, sstep: Long)(
        kernel: DataFrame => DataFrame) =
      kernel(subqueryPoints(metrics, inner, w, sstep, g0, g1, stepSec,
        lookbackSec))
    // the scalar-typed side `sc` (one row per point) as column `scv` beside
    // every row of `vf`: a broadcast equi-join on g — on a one-point grid
    // a cross join with its one row, which needs no key
    def withScalar(vf: DataFrame, sc: Expr): DataFrame = {
      val sf = ev(sc).select(col("g"), col("value").as("scv"))
      if (g0 == g1) vf.crossJoin(broadcast(sf.drop("g")))
      else vf.join(broadcast(sf), "g")
    }
    expr match {
      case Pinned(at) =>
        pinnedGrid(metrics, unpin(expr), at, g0, g1, stepSec, lookbackSec)
      case TimeShift(inner, off, _, _) =>
        // offset subquery per grid point: the selector-offset rule
        shifted(off)((a, b) =>
          evalGridResolved(metrics, inner, a, b, stepSec, lookbackSec))
      case s: Selector =>
        shifted(s.offsetSec)((a, b) => PromOps.rangeEval(
          matcherFilter(metrics, s), s.name, a, b, stepSec, lookbackSec))
      case TimestampFn(s) =>
        // the visible sample's own epoch second at each point
        shifted(s.offsetSec)((a, b) => PromOps.latestAtGrid(
          matcherFilter(metrics, s), s.name, a, b, stepSec, lookbackSec))
          .select(col("skey"), col("g"), col("e").cast("double").as("value"))
      case BoolCmp(inner, op, v) =>
        ev(inner).withColumn("value", PromOps.boolCmp(col("value"), op, v))
      case FilterCmp(inner, op, v) =>
        ev(inner).filter(PromOps.boolCmp(col("value"), op, v) === 1.0)
      case Arith(inner, op, v) =>
        ev(inner).withColumn("value", arith(col("value"), op, v))
      case UnaryFn(fn, inner) =>
        ev(inner).withColumn("value", unary(fn, col("value")))
      case RoundFn(inner, to) =>
        // Prometheus round: nearest multiple of `to`, ties rounded up
        ev(inner).withColumn("value", floor(col("value") / to + 0.5) * to)
      case Clamp(inner, lo, hi) =>
        ev(inner).withColumn("value", clampValue(lo, hi))
      case Agg(fn, inner, by, without) =>
        regroup(ev(inner), fn, by, without)
      case AggQuantile(q, inner, by, without) =>
        // regroup onto the group key, then the same rank-interpolation
        // machinery as quantile_over_time — quantile ACROSS series instead
        // of across samples
        PromOps.quantileOverTime(
          ev(inner).withColumn("skey", groupKey(by, without)), q,
          extraKeys = Seq("g"))
      case CountValues(lbl, inner, by, without) =>
        // one output series per (group key, formatted value): integers
        // print without a decimal point (the deterministic subset; float
        // formatting is engine-specific — stated in the AST doc)
        val isInt = col("value") === floor(col("value")) &&
          abs(col("value")) < 1e15
        val vstr = when(isInt, col("value").cast("long").cast("string"))
          .otherwise(col("value").cast("string"))
        val kept = map_filter(groupLabels(by, without), (k, _) => k =!= lit(lbl))
        ev(inner)
          .withColumn("skey",
            PromOps.seriesKey(map_concat(kept, map(lit(lbl), vstr))))
          .groupBy(col("skey"), col("g"))
          .agg(count(lit(1)).cast("double").as("value"))
      case OverTime(fn, sel, w) => windowed(sel, w)(overTime(fn))
      case OverTimeSubquery(fn, inner, w, sstep) =>
        subquery(inner, w, sstep)(overTime(fn))
      case Rate(kind, sel, w) => windowed(sel, w)(rateFamily(kind, w))
      case RateSubquery(kind, inner, w, sstep) =>
        // the inner expression's points play the samples; the same
        // reset-aware machinery then runs per (series, point)
        subquery(inner, w, sstep)(rateFamily(kind, w))
      case Deriv(sel, w, predict) => windowed(sel, w)(deriv(w, predict))
      case DerivSubquery(inner, w, sstep, predict) =>
        subquery(inner, w, sstep)(deriv(w, predict))
      case QuantileOverTime(q, sel, w) =>
        windowed(sel, w)(PromOps.quantileOverTime(_, q, extraKeys = Seq("g")))
      case QuantileSubquery(q, inner, w, sstep) =>
        // the SLO idiom: the subquery's per-point values ARE the samples
        subquery(inner, w, sstep)(
          PromOps.quantileOverTime(_, q, extraKeys = Seq("g")))
      case MadOverTime(sel, w) =>
        windowed(sel, w)(PromOps.madOverTime(_, extraKeys = Seq("g")))
      case MadSubquery(inner, w, sstep) =>
        subquery(inner, w, sstep)(PromOps.madOverTime(_, extraKeys = Seq("g")))
      case HoltWinters(sel, w, sf, tf) =>
        windowed(sel, w)(
          PromOps.holtWintersFromSamples(_, sf, tf, extraKeys = Seq("g")))
      case HoltWintersSubquery(inner, w, sstep, sf, tf) =>
        subquery(inner, w, sstep)(
          PromOps.holtWintersFromSamples(_, sf, tf, extraKeys = Seq("g")))
      case VecBin(op, l, r, on, ignoring, groupSide, _)
          if scalarish(l) != scalarish(r) =>
        // vector op scalar-expression: the scalar side is ONE row per grid
        // point by construction, so the pairing is a broadcast
        // (withScalar) — every series sees the same scalar, no shuffle.
        // Prometheus rejects matching modifiers on scalar operands; so do
        // we, loudly, rather than silently dropping them (ADVICE r5).
        require(on.isEmpty && ignoring.isEmpty && groupSide.isEmpty,
          "on/ignoring/group_* are invalid with a scalar-typed operand")
        val (vec, sc, scalarOnLeft) =
          if (scalarish(l)) (r, l, true) else (l, r, false)
        val vf = ev(vec)
        PromParser.constFold(sc) match {
          case Some(v) => // literal-only scalar side: plain column math
            val value =
              if (scalarOnLeft) arith2(lit(v), op, col("value"))
              else arith2(col("value"), op, lit(v))
            vf.select(col("skey"), col("g"), value.as("value"))
          case None =>
            val value =
              if (scalarOnLeft) arith2(col("scv"), op, col("value"))
              else arith2(col("value"), op, col("scv"))
            withScalar(vf, sc).select(col("skey"), col("g"), value.as("value"))
        }
      case VecBin(op, l, r, on, ignoring, groupSide, groupLabels) =>
        // per-point vector matching: the ratio-of-rates panel. The
        // uniqueness proofs carry per grid point: a by-aggregate is one
        // row per (group key, g), and `g` rides every join key.
        vecBin(ev(l), ev(r), op, on, ignoring, groupSide, groupLabels,
          leftProvenUnique = uniqueUnder(l, on, ignoring),
          rightProvenUnique = uniqueUnder(r, on, ignoring),
          leftKeyed = keyedBy(l), rightKeyed = keyedBy(r))
      case VecCmp(op, l, r, isBool, on, ignoring)
          if scalarish(l) != scalarish(r) =>
        // vector-scalar comparison: filters the vector (or scores it with
        // bool) against the scalar side's broadcast value at each point —
        // the Prometheus semantics the equi-join form would silently miss,
        // since the scalar side's key is '{}' (ADVICE r5, medium)
        require(on.isEmpty && ignoring.isEmpty,
          "on/ignoring are invalid with a scalar-typed comparison operand")
        val scalarOnLeft = scalarish(l)
        val (vec, sc) = if (scalarOnLeft) (r, l) else (l, r)
        val pred =
          if (scalarOnLeft) PromOps.cmpCol(col("scv"), op, col("value"))
          else PromOps.cmpCol(col("value"), op, col("scv"))
        val joined = withScalar(ev(vec), sc)
        if (isBool) joined.select(col("skey"), col("g"), pred.as("value"))
        else joined.filter(pred === 1.0)
          .select(col("skey"), col("g"), col("value"))
      case VecCmp(op, l, r, isBool, on, ignoring) =>
        vecCmp(ev(l), ev(r), op, isBool, on, ignoring,
          leftProvenUnique = uniqueUnder(l, on, ignoring),
          rightProvenUnique = uniqueUnder(r, on, ignoring),
          leftKeyed = keyedBy(l), rightKeyed = keyedBy(r))
      case SetOp(op, l, r, None, None) =>
        // per-point set semantics on the full series key: semi/anti joins
        // — the match key is tiny (distinct series), so these broadcast
        val lf = ev(l)
        val rf = ev(r)
        lazy val rk = rf.select(col("skey"), col("g")).distinct()
        op match {
          case "and" => lf.join(rk, Seq("skey", "g"), "left_semi")
          case "unless" => lf.join(rk, Seq("skey", "g"), "left_anti")
          case "or" => lf.unionByName(
            rf.join(lf.select(col("skey"), col("g")).distinct(),
              Seq("skey", "g"), "left_anti"))
        }
      case SetOp(op, l, r, on, ignoring) =>
        // on/ignoring (round 17): the same semi/anti/union joins, keyed on
        // the PROJECTED match key (kept labels under `on`, complement
        // under `ignoring`) and g instead of the full series key — the
        // `up == 1 and on(job) maintenance` idiom. Output rows keep the
        // owning side's full labels untouched (set ops never rewrite
        // labels); only the join key is projected. Distinct projected
        // keys are at most |series| — broadcastable like the bare form.
        val lf = ev(l)
        val rf = ev(r)
        val lmk = matchKey(on, ignoring, keyedBy(l))
        val rmk = matchKey(on, ignoring, keyedBy(r))
        // only the and/unless arms key on the RIGHT side's projected keys
        // (`or` anti-joins the right against the LEFT's); lazy so the `or`
        // arm doesn't appear to depend on it (ADVICE r17)
        lazy val rk = rf.select(rmk.as("mkey"), col("g")).distinct()
        op match {
          case "and" =>
            lf.withColumn("mkey", lmk).join(rk, Seq("mkey", "g"), "left_semi")
              .drop("mkey")
          case "unless" =>
            lf.withColumn("mkey", lmk).join(rk, Seq("mkey", "g"), "left_anti")
              .drop("mkey")
          case "or" => lf.unionByName(
            rf.withColumn("mkey", rmk)
              .join(lf.select(lmk.as("mkey"), col("g")).distinct(),
                Seq("mkey", "g"), "left_anti")
              .drop("mkey"))
        }
      case TopK(fn, k, inner, by, without) =>
        topk(ev(inner), fn, k, by, without, onePoint = g0 == g1)
      case LimitAgg(fn, p, inner, by, without) =>
        limitAgg(ev(inner), fn, p, by, without, onePoint = g0 == g1)
      case HistQuantile(q, inner) =>
        PromOps.histogramQuantile(ev(inner), q, extraKeys = Seq("g"))
      case HistFraction(lo, hi, inner) =>
        PromOps.histogramFraction(ev(inner), lo, hi, extraKeys = Seq("g"))
      case LabelJoin(inner, dst, sep, srcs) =>
        val labels = PromOps.labelsOf(col("skey"))
        val joined = concat_ws(sep,
          srcs.map(s => coalesce(labels.getItem(s), lit(""))): _*)
        ev(inner)
          .withColumn("skey", PromOps.seriesKey(setLabel(labels, dst, joined)))
      case LabelReplace(inner, dst, repl, src, regex) =>
        val labels = PromOps.labelsOf(col("skey"))
        val anchored = "^(?:" + regex + ")$"
        val srcVal = coalesce(labels.getItem(src), lit("")) // missing matches ""
        val newKey = when(srcVal.rlike(anchored),
          PromOps.seriesKey(setLabel(labels, dst,
            regexp_replace(srcVal, anchored, repl))))
          .otherwise(col("skey")) // no match: series unchanged
        ev(inner).withColumn("skey", newKey)
      case NumLit(v) => // literal heading an arithmetic chain: one {} row
        gridFrame(metrics, g0, g1, stepSec)
          .withColumn("value", lit(v).cast("double"))
      case VectorLit(v) =>
        gridFrame(metrics, g0, g1, stepSec)
          .withColumn("value", lit(v).cast("double"))
      case TimeFn() => // time() on a grid is the grid point itself
        gridFrame(metrics, g0, g1, stepSec)
          .withColumn("value", col("g").cast("double"))
      case ScalarFn(inner) =>
        // exactly-one-series -> its value; otherwise NaN (Prometheus) —
        // including points where the inner vector is EMPTY
        countPerPoint(metrics, ev(inner), g0, g1, stepSec)
          .select(lit("{}").as("skey"), col("g"),
            when(col("n") === 1, col("v"))
              .otherwise(lit(Double.NaN)).as("value"))
      case Absent(sel) =>
        // alerting primitive: 1.0 at each point where no series matched.
        // The output labels are derived from the selector's EQUALITY
        // matchers (they are what alert routing keys on), as Prometheus
        // does.
        absent(countPerPoint(metrics, ev(sel), g0, g1, stepSec), sel)
      case AbsentOT(sel, w) =>
        // 1 iff the RANGE is empty: no sample from any matching series —
        // absent() of present_over_time over the same window
        absent(countPerPoint(metrics, ev(OverTime("present", sel, w)), g0,
          g1, stepSec), sel)
      case other => // only the parser's private placeholder node
        throw new IllegalArgumentException(s"not an evaluable expr: $other")
    }
  }

  /** `fn_over_time` over per-point window samples (skey, g, e, value). */
  private def overTime(fn: String)(samples: DataFrame): DataFrame =
    samples.groupBy(col("skey"), col("g"))
      .agg(overTimeAgg(fn, col("e")).as("value"))

  /** The rate family over per-point window samples: resets/changes count
    * adjacent pairs; rate/increase/delta extrapolate to the window
    * (g − w, g]; irate/idelta read the last two samples.
    */
  private def rateFamily(kind: String, w: Long)(samples: DataFrame): DataFrame =
    if (kind == "resets" || kind == "changes")
      PromOps.resetsFromSamples(samples, kind, extraKeys = Seq("g"))
    else PromOps.rateFromSamples(samples, kind, col("g") - w, col("g"), w,
      extraKeys = Seq("g"))

  /** deriv/predict_linear over per-point window samples; sample times
    * are centered on each window's own start g − w.
    */
  private def deriv(w: Long, predict: Option[Double])(
      samples: DataFrame): DataFrame =
    PromOps.derivFromSamples(samples, col("g") - w, w, predict,
      extraKeys = Seq("g"))

  /** Subquery points exploded to the outer grid — range evaluation of
    * `fn((expr)[w:s])`: the inner expression evaluates ONCE on its own
    * aligned grid spanning every outer window, then each inner point
    * (skey, ig, value) maps to the outer points og whose window
    * (og−w, og] contains it — the same sample→grid explode
    * [[PromOps.rangeEval]] uses, applied to evaluated values instead of
    * raw samples. Cost is linear in inner points × (w/step) fan-out;
    * nothing is re-evaluated per outer point, and the shuffle key gains
    * og so a hot series spreads across reducers. Output has the window
    * samples' shape (skey, g = og, e = ig, value).
    */
  private def subqueryPoints(metrics: DataFrame, inner: Expr, w: Long,
      sstep: Long, g0: Long, g1: Long, stepSec: Long,
      lookbackSec: Long): DataFrame = {
    val ig1 = (g1 / sstep) * sstep
    val ig0 = ((g0 - w) / sstep + 1) * sstep // first aligned point > g0-w
    PromOps.toGridPoints(
      evalGridResolved(metrics, inner, ig0, ig1, sstep, lookbackSec),
      Seq(col("skey"), col("g").as("e"), col("value")), "g", g0, g1,
      stepSec, w)
  }

  /** The `@` timestamp that pins an expression itself: a selector's, a
    * subquery rebase's, or that of the one selector a range function
    * reads.
    */
  private object Pinned {
    def unapply(e: Expr): Option[Long] = e match {
      case s: Selector => s.atSec
      case ts: TimeShift => ts.atSec
      case OverTime(_, s, _) => s.atSec
      case Rate(_, s, _) => s.atSec
      case Deriv(s, _, _) => s.atSec
      case QuantileOverTime(_, s, _) => s.atSec
      case MadOverTime(s, _) => s.atSec
      case HoltWinters(s, _, _, _) => s.atSec
      case TimestampFn(s) => s.atSec
      case _ => None
    }
  }

  /** `e` with the pin [[Pinned]] found removed (inner pins stay). */
  private def unpin(e: Expr): Expr = e match {
    case ts: TimeShift => ts.copy(atSec = None)
    case _ => mapSelectors(e)(_.copy(atSec = None))
  }

  /** An `@`-pinned expression on a grid: the @ timestamp replaces "now"
    * entirely (offset then applies relative to it), so the value is
    * CONSTANT across the grid — evaluate the unpinned expression once on
    * the one-point grid at the pinned instant and pair every series with
    * every aligned point via a broadcast of the tiny grid frame (|grid|
    * rows). This is Prometheus's range-query semantics for @: each step
    * evaluates at the same pinned instant. A one-point grid needs no
    * pairing: its point is the pinned one relabelled.
    */
  private def pinnedGrid(metrics: DataFrame, unpinned: Expr, at: Long,
      g0: Long, g1: Long, stepSec: Long, lookbackSec: Long): DataFrame = {
    val once = evalGridResolved(metrics, unpinned, at, at, 1L, lookbackSec)
    if (g0 == g1)
      once.select(col("skey"), (col("g") + (g0 - at)).as("g"), col("value"))
    else once.select(col("skey"), col("value"))
      .crossJoin(broadcast(gridFrame(metrics, g0, g1, stepSec).select(col("g"))))
      .select(col("skey"), col("g"), col("value"))
  }

  /** Per grid point: the row count `n` of `rows` and its least value `v`,
    * with EVERY point present — the dense grid unions in as zero-count
    * rows, so a point where `rows` is empty comes out with n = 0 from the
    * same single aggregation on g. A one-point grid needs no union: a
    * global aggregate yields its one row even over no input, and the
    * optimizer can still drop an aggregate beneath it that a
    * row-count-only plan does not need.
    */
  private def countPerPoint(metrics: DataFrame, rows: DataFrame, g0: Long,
      g1: Long, stepSec: Long): DataFrame =
    if (g0 == g1)
      rows.agg(count(lit(1)).as("n"), min(col("value")).as("v"))
        .select(lit(g0).as("g"), col("n"), col("v"))
    else rows.select(col("g"), col("value"), lit(1L).as("n"))
      .unionByName(gridFrame(metrics, g0, g1, stepSec).select(col("g"),
        lit(null).cast("double").as("value"), lit(0L).as("n")))
      .groupBy(col("g"))
      .agg(sum(col("n")).as("n"), min(col("value")).as("v"))

  /** absent()/absent_over_time(): 1.0 at the points where `counted`
    * (from [[countPerPoint]]) saw no series.
    */
  private def absent(counted: DataFrame, sel: Selector): DataFrame =
    counted.filter(col("n") === 0)
      .select(lit(absentKey(sel)).as("skey"), col("g"), lit(1.0).as("value"))

  /** absent()/absent_over_time() output labels: the selector's equality
    * matchers as a canonical series key (sorted by label, same JSON shape
    * as [[PromOps.seriesKey]]) — they are compile-time constants, so the
    * key is built driver-side. Duplicate matcher names keep the last
    * occurrence; non-equality matchers contribute nothing, per
    * Prometheus.
    */
  private def absentKey(sel: Selector): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    }
    sel.eq.toMap.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
  }

  /** One (skey='{}', g) row per aligned grid point — the dense backbone
    * for scalar-typed grid expressions. |grid| rows total: tiny. The
    * points are offsets from g0, so the range itself depends only on the
    * grid's size: a refresh at the next time reuses its generated code.
    */
  private def gridFrame(metrics: DataFrame, g0: Long, g1: Long,
      stepSec: Long): DataFrame =
    metrics.sparkSession.range((g1 - g0) / stepSec + 1)
      .select(lit("{}").as("skey"), (lit(g0) + col("id") * stepSec).as("g"))

  /** Label matchers: equality filters push into the scan; the result keeps
    * only matching series. Regex matchers are fully anchored and treat a
    * missing label as the empty string, both per Prometheus. The regex
    * dialect is the Java/RE2-common subset (the repo-wide stated rule,
    * as for label_replace).
    */
  private def matcherFilter(metrics: DataFrame, s: Selector): DataFrame = {
    def anchored(l: String, rx: String): Column =
      coalesce(col("labels").getItem(l), lit(""))
        .rlike("^(?:" + rx + ")$")
    val withEq = s.eq.foldLeft(metrics) { case (df, (l, v)) =>
      df.filter(col("labels").getItem(l) === v)
    }
    val withNe = s.ne.foldLeft(withEq) { case (df, (l, v)) =>
      df.filter(col("labels").getItem(l).isNull || col("labels").getItem(l) =!= v)
    }
    val withRe = s.re.foldLeft(withNe) { case (df, (l, rx)) =>
      df.filter(anchored(l, rx))
    }
    s.nre.foldLeft(withRe) { case (df, (l, rx)) =>
      df.filter(!anchored(l, rx))
    }
  }

  private def arith(value: Column, op: String, v: Double): Column = op match {
    case "*" => value * v
    case "/" => value / v
    case "+" => value + v
    case "-" => value - v
    case "%" => value % v
    case "^" => pow(value, v)
    case "atan2" => atan2(value, lit(v))
  }

  private def aggColumn(fn: String): Column = fn match {
    case "sum" => sum(col("value"))
    case "max" => max(col("value"))
    case "min" => min(col("value"))
    case "avg" => avg(col("value"))
    case "count" => count(lit(1)).cast("double")
    case "group" => max(lit(1.0)) // 1 for every group, per Prometheus
    case "stdvar" => stdvarColumn
    case "stddev" => sqrt(stdvarColumn) // sqrt is IEEE correctly rounded:
    // deterministic cross-engine, unlike exp/ln
    case other => throw new IllegalArgumentException(s"unsupported agg fn: $other")
  }

  /** Population variance, cross-engine exact: values quantized to 1e-6
    * fixed point (the repo's vector-math trick), sums kept in scale-0
    * decimals (no decimal-scale-loss hazard), the final
    * (n·Σq² − (Σq)²)/n²/1e12 computed in doubles in an order the oracle
    * mirrors literally.
    */
  private def stdvarColumn: Column = {
    val q = floor(col("value") * 1e6 + 0.5).cast("decimal(38,0)")
    val n = count(lit(1))
    (n * sum(q * q) - sum(q) * sum(q)).cast("double") /
      (n * n).cast("double") / 1e12
  }

  private def overTimeAgg(fn: String, timeCol: Column): Column = fn match {
    case "last" => // flat-buffer latest: hash aggregate, no sort (r18)
      graft.functions.LatestSample.latest(timeCol, col("value"))
        .getField("value")
    case "present" => max(lit(1.0)) // 1 for any series with samples
    case other => aggColumn(other)
  }

  /** `fn by/without (...)` per grid point. */
  private def regroup(df: DataFrame, fn: String, by: Seq[String],
      without: Seq[String]): DataFrame =
    (by, without) match {
      case (Nil, Nil) =>
        // aggregate everything into a single (label-less) series
        PromOps.aggBy(df, Nil, aggColumn(fn), Seq("g"))
      case (b, Nil) => PromOps.aggBy(df, b, aggColumn(fn), Seq("g"))
      case (Nil, w) => PromOps.aggWithout(df, w, aggColumn(fn), Seq("g"))
      case _ => throw new IllegalArgumentException("both by and without given")
    }
}
