package graft

import org.apache.spark.sql.functions._
import graft.promql.{PromEval, PromParser}
import graft.promql.PromParser._

/** Differential fuzz harness for the PromQL surface (round 18, verdict
  * item 6): seeded-random WELL-TYPED expression trees over the
  * compositional core — selectors, `*_over_time` windows (plain range
  * and `(expr)[w:s]` subquery forms), `by`/`without` aggregation,
  * `topk`/`bottomk` bare and grouped, scalar arithmetic/comparisons
  * (literal on either side), one-to-one vector arithmetic and
  * comparisons, many-to-one `group_left`/`group_right` arithmetic, and
  * the two-tier set operators (including heterogeneous-keyset bare
  * `or`), all with and without `on`/`ignoring`, plus `quantile`,
  * `count_values`, `label_join`/`label_replace`, `timestamp` and
  * `absent`/`absent_over_time` with offsets — are rendered MINIMALLY
  * parenthesized
  * (so the text round-trips through the real precedence table, the
  * exact surface the round-16 set-tier bug lived in), parsed, evaluated
  * by [[PromEval]] on a tiny in-memory fixture, and compared row-exactly
  * against an independent naive tree-walking evaluator written straight
  * from the Prometheus docs (same half-open staleness rule, same
  * matching semantics, none of the engine's join/aggregate machinery).
  *
  * Exactness: every fixture value is a small integer and the generated
  * operator set is closed over exactly-representable doubles
  * (`+ - * %`, min/max/sum/count/last, avg = exact-sum over exact-count,
  * comparisons), so engine and model must agree BIT-FOR-BIT — any
  * divergence is a parser or evaluator bug, never float noise.
  *
  * Well-typedness discipline (what keeps generated trees evaluable):
  * every subtree carries its label KEY SET, frames are always
  * skey-unique, and one-to-one vector matching is only generated where
  * uniqueness per match key is guaranteed by construction (both sides
  * aggregated to exactly the match labels, or full-key sides under
  * `ignoring(cl)` with `cl` a function of `user`), mirroring how
  * Prometheus programs avoid its "duplicate series" errors. Set
  * operators have no uniqueness constraint and are generated freely.
  *
  * On failure the test prints the rendered query, the seed index, and
  * both row sets — pin the shrunk case as a named PromParserSpec case.
  */
class PromDifferentialSpec extends SparkSpec {

  private val T = 10000L
  private val Lookback = 300L

  // ---- fixture -------------------------------------------------------
  // 3 metrics with deliberately different series sets; cl = f(user) so
  // {user,k} stays unique under ignoring(cl); one all-stale series per
  // metric family exercises the staleness boundary.
  private val users = Seq("u0", "u1", "u2", "u3")
  private val ks = Seq("ka", "kb")
  private def cl(u: String) = "c" + (u.last.toInt % 2)

  private lazy val samples: Seq[(String, Map[String, String], Long, Double)] = {
    val rows = Seq.newBuilder[(String, Map[String, String], Long, Double)]
    for {
      (m, i) <- Seq("m0", "m1", "m2").zipWithIndex
      (u, j) <- users.zipWithIndex
      (k, ki) <- ks.zipWithIndex
      included = i match {
        case 0 => true
        case 1 => j < 3 && ki == 0
        case 2 => j > 0
      }
      if included
    } {
      val labels = Map("user" -> u, "k" -> k, "cl" -> cl(u))
      // one fresh sample inside the 300s lookback for most series…
      val freshE = T - 40 - ((i + j + ki) % 3) * 80 // T-40 / T-120 / T-200
      // …except every 7th series, which is ONLY stale (staleness edge)
      val onlyStale = (i * 8 + j * 2 + ki) % 7 == 0
      if (!onlyStale)
        rows += ((m, labels, freshE, ((i * 7 + j * 3 + ki * 5 + freshE % 10) % 9 + 1).toDouble))
      // a mid-age sample: in-window for w>=400s ops, outside lookback
      val midE = T - 400 + ((j + ki) % 2) * 60 // T-400 / T-340
      rows += ((m, labels, midE, ((i * 5 + j * 2 + ki * 7 + midE % 10) % 9 + 1).toDouble))
      // a stale sample for w>=1500s windows
      if ((i + j) % 2 == 0)
        rows += ((m, labels, T - 1200, ((i + j * 5 + ki) % 9 + 1).toDouble))
    }
    rows.result()
  }

  private lazy val metricsDf = {
    import spark.implicits._
    samples.toDF("metric_name", "labels", "es", "value")
      .withColumn("timestamp", timestamp_seconds(col("es")))
      .drop("es")
      .cache()
  }

  // ---- naive reference evaluator --------------------------------------
  private type Vec = Seq[(Map[String, String], Double)]

  private def lastSample(ss: Seq[(Long, Double)]): (Long, Double) = ss.max

  private def naiveSelector(s: Selector,
      windowLo: Long, windowHi: Long): Seq[(Map[String, String], Long, Double)] =
    samples
      .filter(_._1 == s.name)
      .filter { case (_, lbls, _, _) =>
        // Prometheus matcher semantics: a missing label is the empty
        // string; regex matchers are fully anchored
        s.eq.forall { case (l, v) => lbls.get(l).contains(v) } &&
          s.ne.forall { case (l, v) => lbls.getOrElse(l, "") != v } &&
          s.re.forall { case (l, p) => lbls.getOrElse(l, "").matches(s"(?:$p)") } &&
          s.nre.forall { case (l, p) => !lbls.getOrElse(l, "").matches(s"(?:$p)") }
      }
      .filter { case (_, _, e, _) => e > windowLo && e <= windowHi }
      .map { case (_, lbls, e, v) => (lbls, e, v) }

  private def naiveAggFn(fn: String, vs: Seq[Double]): Double = fn match {
    case "sum" => vs.sum
    case "min" => vs.min
    case "max" => vs.max
    case "avg" => vs.sum / vs.size
    case "count" => vs.size.toDouble
  }

  private def naiveCmp(l: Double, op: String, r: Double): Boolean = op match {
    case "==" => l == r
    case "!=" => l != r
    case ">" => l > r
    case "<" => l < r
    case ">=" => l >= r
    case "<=" => l <= r
  }

  private def naiveArith(l: Double, op: String, r: Double): Double = op match {
    case "+" => l + r
    case "-" => l - r
    case "*" => l * r
    case "%" => l % r
  }

  /** The Prometheus match key: keep `on` labels / drop `ignoring` ones;
    * null/empty values are absent by the labels.Labels invariant (the
    * fixture has none, but the rule is stated for parity with matchKey).
    */
  private def proj(lbls: Map[String, String], on: Option[Seq[String]],
      ignoring: Option[Seq[String]]): Map[String, String] = ((on, ignoring) match {
    case (Some(ls), _) => lbls.filter { case (k, _) => ls.contains(k) }
    case (_, Some(ls)) => lbls.filterNot { case (k, _) => ls.contains(k) }
    case _ => lbls
  }).filter(_._2.nonEmpty)

  private def naive(e: Expr): Vec = naiveAt(e, T)

  /** Instant evaluation at `at` — the grid differential below runs this
    * per point, which IS the range-query semantics (a range query is an
    * instant query per step; the engine's sample→grid-point expansion
    * must be undetectable against it).
    */
  private def naiveAt(e: Expr, at: Long): Vec = e match {
    case s: Selector =>
      // offset/@ mirror Selector.evalAt: @ replaces the eval time,
      // offset then shifts it
      val ea = s.atSec.getOrElse(at) - s.offsetSec
      naiveSelector(s, ea - Lookback, ea)
        .groupBy(_._1)
        .map { case (lbls, ss) =>
          (lbls, lastSample(ss.map(t => (t._2, t._3)))._2)
        }.toSeq
    case TopK(fn, k, inner, by, without) =>
      // topk/bottomk: (value desc/asc, skey asc), k rows — per group
      // under by/without, globally when bare (one empty group key)
      val keep: Map[String, String] => Map[String, String] =
        if (by.nonEmpty) _.filter { case (kk, _) => by.contains(kk) }
        else if (without.nonEmpty) _.filterNot { case (kk, _) => without.contains(kk) }
        else _ => Map.empty
      naiveAt(inner, at).groupBy { case (l, _) => keep(l) }.values.flatMap { grp =>
        val ordered =
          if (fn == "topk") grp.sortBy { case (l, v) => (-v, toSkey(l)) }
          else grp.sortBy { case (l, v) => (v, toSkey(l)) }
        ordered.take(k)
      }.toSeq
    case TimeShift(inner, off, atP, None) =>
      // subquery offset/@: rebase the subtree's evaluation instant —
      // `@` replaces it, offset then applies relative to it
      naiveAt(inner, atP.getOrElse(at) - off)
    case OverTimeSubquery(fn, inner, w, s) =>
      // subquery points: absolute multiples of the subquery step inside
      // the half-open window (at-w, at] — mirroring the engine's
      // g0 = ((t-w)/step + 1)*step, g1 = (t/step)*step alignment; the
      // inner expression evaluates INSTANT at each point (the recursion
      // is the whole subquery contract), then the _over_time fold runs
      // per series over its present points
      val g0 = ((at - w) / s + 1) * s
      val g1 = (at / s) * s
      val pts = g0.to(g1, s)
      pts.flatMap(p => naiveAt(inner, p).map { case (l, v) => (l, p, v) })
        .groupBy(_._1)
        .map { case (l, rows) =>
          val v = fn match {
            case "last" => rows.maxBy(_._2)._3
            case other => naiveAggFn(other, rows.map(_._3))
          }
          (l, v)
        }.toSeq
    case OverTime(fn, s, w) =>
      val ea = s.atSec.getOrElse(at) - s.offsetSec
      val inWin = naiveSelector(s, ea - w, ea).groupBy(_._1)
      inWin.map { case (lbls, ss) =>
        val vs = ss.map(_._3)
        val v = fn match {
          case "last" => lastSample(ss.map(t => (t._2, t._3)))._2
          case other => naiveAggFn(other, vs)
        }
        (lbls, v)
      }.toSeq
    case Agg(fn, inner, by, without) =>
      val keep: Map[String, String] => Map[String, String] =
        if (by.nonEmpty) _.filter { case (k, _) => by.contains(k) }
        else if (without.nonEmpty) _.filterNot { case (k, _) => without.contains(k) }
        else _ => Map.empty
      naiveAt(inner, at).groupBy { case (lbls, _) => keep(lbls) }
        .map { case (lbls, rows) => (lbls, naiveAggFn(fn, rows.map(_._2))) }
        .toSeq
    case Arith(inner, op, v) =>
      naiveAt(inner, at).map { case (l, x) => (l, naiveArith(x, op, v)) }
    case BoolCmp(inner, op, v) =>
      naiveAt(inner, at).map { case (l, x) => (l, if (naiveCmp(x, op, v)) 1.0 else 0.0) }
    case FilterCmp(inner, op, v) =>
      naiveAt(inner, at).filter { case (_, x) => naiveCmp(x, op, v) }
    case UnaryFn("abs", inner) =>
      naiveAt(inner, at).map { case (l, x) => (l, math.abs(x)) }
    case VecBin(op, NumLit(c), r, None, None, None, Nil) =>
      // scalar-on-the-left arithmetic: every series of the vector side
      // keeps its labels; the literal is the LEFT operand (order matters
      // for - and %)
      naiveAt(r, at).map { case (l, x) => (l, naiveArith(c, op, x)) }
    case VecBin(op, l, r, on, ig, Some(side), Nil) =>
      // many-to-one: the group_left/group_right side is the MANY side
      // and keeps its full label set; the other side must be unique per
      // match key (the generator aggregates it to exactly the on-labels)
      val (manyE, oneE) = if (side == "left") (l, r) else (r, l)
      val oneM = naiveAt(oneE, at)
        .map { case (lbls, x) => proj(lbls, on, ig) -> x }.toMap
      naiveAt(manyE, at).flatMap { case (lbls, m) =>
        oneM.get(proj(lbls, on, ig)).map { o =>
          // value is always left-op-right regardless of which side is many
          val v = if (side == "left") naiveArith(m, op, o)
                  else naiveArith(o, op, m)
          (lbls, v)
        }
      }
    case VecBin(op, l, r, on, ig, None, _) =>
      val lv = naiveAt(l, at)
      val rv = naiveAt(r, at).map { case (lbls, x) => proj(lbls, on, ig) -> x }.toMap
      lv.flatMap { case (lbls, x) =>
        rv.get(proj(lbls, on, ig)).map { y =>
          // one-to-one output: the match key when a modifier is present,
          // the full (shared) label set otherwise
          val outL = if (on.nonEmpty || ig.nonEmpty) proj(lbls, on, ig) else lbls
          (outL, naiveArith(x, op, y))
        }
      }
    case VecCmp(op, l, r, isBool, on, ig) =>
      val lv = naiveAt(l, at)
      val rv = naiveAt(r, at).map { case (lbls, x) => proj(lbls, on, ig) -> x }.toMap
      lv.flatMap { case (lbls, x) =>
        rv.get(proj(lbls, on, ig)).flatMap { y =>
          val hit = naiveCmp(x, op, y)
          if (isBool) {
            val outL = if (on.nonEmpty || ig.nonEmpty) proj(lbls, on, ig) else lbls
            Some((outL, if (hit) 1.0 else 0.0))
          } else if (hit) Some((lbls, x))
          else None
        }
      }
    case SetOp(op, l, r, on, ig) =>
      val lv = naiveAt(l, at)
      val rv = naiveAt(r, at)
      val lk = lv.map { case (lbls, _) => proj(lbls, on, ig) }.toSet
      val rk = rv.map { case (lbls, _) => proj(lbls, on, ig) }.toSet
      op match {
        case "and" => lv.filter { case (lbls, _) => rk.contains(proj(lbls, on, ig)) }
        case "unless" => lv.filterNot { case (lbls, _) => rk.contains(proj(lbls, on, ig)) }
        case "or" => lv ++ rv.filterNot { case (lbls, _) => lk.contains(proj(lbls, on, ig)) }
      }
    case AggQuantile(q, inner, by, without) =>
      // Prometheus's interpolated rank over the group's sorted values:
      // rank = q·(n−1), lo/hi the neighbouring order statistics — the
      // same IEEE ops in the same order as the engine's rank arithmetic
      naiveAt(inner, at).groupBy { case (l, _) => keepOf(by, without)(l) }
        .map { case (l, rows) =>
          val vs = rows.map(_._2).sorted
          val rank = q * (vs.size - 1).toDouble
          val lo = vs(math.floor(rank).toInt)
          val hi = vs(math.ceil(rank).toInt)
          (l, lo + (hi - lo) * (rank - math.floor(rank)))
        }.toSeq
    case CountValues(lbl, inner, by, without) =>
      // one series per (group, value): integers print without a point
      def fmt(v: Double): String =
        if (v == math.floor(v) && math.abs(v) < 1e15) v.toLong.toString
        else v.toString
      naiveAt(inner, at)
        .groupBy { case (l, v) => keepOf(by, without)(l) - lbl + (lbl -> fmt(v)) }
        .map { case (l, rows) => (l, rows.size.toDouble) }.toSeq
    case LabelJoin(inner, dst, sep, srcs) =>
      // dst := the src values joined by sep (missing = ""); an empty
      // result removes dst
      naiveAt(inner, at).map { case (l, v) =>
        (setLabel(l, dst, srcs.map(l.getOrElse(_, "")).mkString(sep)), v)
      }
    case LabelReplace(inner, dst, repl, src, regex) =>
      // fully anchored match on src (missing = ""): dst := the expanded
      // replacement; no match leaves the series unchanged
      val anchored = s"^(?:$regex)$$"
      naiveAt(inner, at).map { case (l, v) =>
        val sv = l.getOrElse(src, "")
        if (sv.matches(anchored)) (setLabel(l, dst, sv.replaceAll(anchored, repl)), v)
        else (l, v)
      }
    case TimestampFn(s) =>
      // the visible sample's own timestamp, under the same offset/@ rule
      val ea = s.atSec.getOrElse(at) - s.offsetSec
      naiveSelector(s, ea - Lookback, ea)
        .groupBy(_._1)
        .map { case (lbls, ss) =>
          (lbls, lastSample(ss.map(t => (t._2, t._3)))._1.toDouble)
        }.toSeq
    case Absent(s) =>
      // one series labelled by the equality matchers iff nothing is
      // visible
      if (naiveAt(s, at).isEmpty) Seq(s.eq.toMap -> 1.0) else Nil
    case AbsentOT(s, w) =>
      val ea = s.atSec.getOrElse(at) - s.offsetSec
      if (naiveSelector(s, ea - w, ea).isEmpty) Seq(s.eq.toMap -> 1.0) else Nil
    case other => fail(s"naive evaluator: unexpected node $other")
  }

  /** The by/without group labels of a series (both empty: none). */
  private def keepOf(by: Seq[String], without: Seq[String])(
      l: Map[String, String]): Map[String, String] =
    if (by.nonEmpty) l.filter { case (k, _) => by.contains(k) }
    else if (without.nonEmpty) l.filterNot { case (k, _) => without.contains(k) }
    else Map.empty

  /** Set a label; an empty value removes it (label_join/label_replace). */
  private def setLabel(l: Map[String, String], k: String,
      v: String): Map[String, String] =
    if (v.isEmpty) l - k else l + (k -> v)

  // ---- minimal-paren renderer -----------------------------------------
  private def opPrec(op: String): Int = op match {
    case "or" => 1
    case "and" | "unless" => 2
    case "==" | "!=" | ">" | "<" | ">=" | "<=" => 3
    case "+" | "-" => 4
    case "*" | "/" | "%" => 5
  }

  private def prec(e: Expr): Int = e match {
    case Arith(_, op, _) => opPrec(op)
    case VecBin(op, _, _, _, _, _, _) => opPrec(op)
    case BoolCmp(_, op, _) => opPrec(op)
    case FilterCmp(_, op, _) => opPrec(op)
    case VecCmp(op, _, _, _, _, _) => opPrec(op)
    case SetOp(op, _, _, _, _) => opPrec(op)
    case _ => 9
  }

  private def modTxt(on: Option[Seq[String]], ig: Option[Seq[String]]): String =
    on.map(ls => s"on(${ls.mkString(", ")}) ")
      .orElse(ig.map(ls => s"ignoring(${ls.mkString(", ")}) "))
      .getOrElse("")

  private def num(v: Double): String = v.toLong.toString

  private def grp(by: Seq[String], without: Seq[String]): String =
    if (by.nonEmpty) s" by (${by.mkString(", ")}) "
    else if (without.nonEmpty) s" without (${without.mkString(", ")}) "
    else ""

  private def str(s: String): String = "\"" + s + "\""

  /** Parenthesize only when the child binds LOOSER than the context
    * demands — the rendered text then round-trips through the real
    * precedence/associativity ladder instead of bypassing it.
    */
  private def render(e: Expr, ctx: Int): String = {
    val p = prec(e)
    def selBase(s: Selector): String = {
      // categories render in a fixed order (eq, ne, re, nre); the parser
      // re-collects them per category left-to-right, so the AST
      // round-trips exactly
      val ms = s.eq.map { case (l, v) => s"""$l="$v"""" } ++
        s.ne.map { case (l, v) => s"""$l!="$v"""" } ++
        s.re.map { case (l, p) => s"""$l=~"$p"""" } ++
        s.nre.map { case (l, p) => s"""$l!~"$p"""" }
      if (ms.isEmpty) s.name else s.name + ms.mkString("{", ", ", "}")
    }
    def selMods(s: Selector): String = {
      val off = if (s.offsetSec != 0) s" offset ${s.offsetSec}s" else ""
      val at = s.atSec.map(t => s" @ $t").getOrElse("")
      off + at
    }
    val raw = e match {
      case s: Selector => selBase(s) + selMods(s)
      case OverTime(fn, s, w) =>
        // range-selector modifiers render AFTER the window brackets
        s"${fn}_over_time(${selBase(s)}[${w}s]${selMods(s)})"
      case OverTimeSubquery(fn, inner, w, s) =>
        s"${fn}_over_time((${render(inner, 0)})[${w}s:${s}s])"
      case TimeShift(OverTimeSubquery(fn, inner, w, s), off, atP, None) =>
        // subquery modifiers render after the `]`, inside the call
        val o = if (off != 0) s" offset ${off}s" else ""
        val a = atP.map(t => s" @ $t").getOrElse("")
        s"${fn}_over_time((${render(inner, 0)})[${w}s:${s}s]$o$a)"
      case TopK(fn, k, inner, by, without) =>
        val cl =
          if (by.nonEmpty) s" by (${by.mkString(", ")}) "
          else if (without.nonEmpty) s" without (${without.mkString(", ")}) "
          else ""
        s"$fn$cl($k, ${render(inner, 0)})"
      case Agg(fn, inner, by, without) =>
        val cl =
          if (by.nonEmpty) s" by (${by.mkString(", ")}) "
          else if (without.nonEmpty) s" without (${without.mkString(", ")}) "
          else ""
        s"$fn$cl(${render(inner, 0)})"
      case UnaryFn(fn, inner) => s"$fn(${render(inner, 0)})"
      case AggQuantile(q, inner, by, without) =>
        s"quantile${grp(by, without)}($q, ${render(inner, 0)})"
      case CountValues(lbl, inner, by, without) =>
        s"count_values${grp(by, without)}(${str(lbl)}, ${render(inner, 0)})"
      case LabelJoin(inner, dst, sep, srcs) =>
        s"label_join(${render(inner, 0)}, ${(dst +: sep +: srcs).map(str).mkString(", ")})"
      case LabelReplace(inner, dst, repl, src, regex) =>
        s"label_replace(${render(inner, 0)}, ${Seq(dst, repl, src, regex).map(str).mkString(", ")})"
      case TimestampFn(s) => s"timestamp(${selBase(s)}${selMods(s)})"
      case Absent(s) => s"absent(${selBase(s)}${selMods(s)})"
      case AbsentOT(s, w) => s"absent_over_time(${selBase(s)}[${w}s]${selMods(s)})"
      case Arith(inner, op, v) => s"${render(inner, p)} $op ${num(v)}"
      case BoolCmp(inner, op, v) => s"${render(inner, p)} $op bool ${num(v)}"
      case FilterCmp(inner, op, v) => s"${render(inner, p)} $op ${num(v)}"
      case NumLit(v) => num(v)
      case VecBin(op, l, r, on, ig, gs, _) =>
        // group modifier renders after the matching clause; the token
        // after a BARE group_left/right must not be "(" (the parser,
        // like Prometheus, would greedily read it as the label-copy
        // list) — the generator keeps that side prec-9 (unparenthesized)
        val g = gs.map(s => s"group_$s ").getOrElse("")
        s"${render(l, p)} $op ${modTxt(on, ig)}$g${render(r, p + 1)}"
      case VecCmp(op, l, r, isBool, on, ig) =>
        val b = if (isBool) "bool " else ""
        s"${render(l, p)} $op $b${modTxt(on, ig)}${render(r, p + 1)}"
      case SetOp(op, l, r, on, ig) =>
        s"${render(l, p)} $op ${modTxt(on, ig)}${render(r, p + 1)}"
      case other => fail(s"renderer: unexpected node $other")
    }
    if (p < ctx) s"($raw)" else raw
  }

  // ---- well-typed generator -------------------------------------------
  private val Full = Set("user", "k", "cl")

  private def genVec(rnd: scala.util.Random, depth: Int): (Expr, Set[String]) =
    if (depth <= 0) genLeaf(rnd)
    else rnd.nextInt(18) match {
      case 14 => // quantile across series, bare or per group
        val (inner, ks0) = genVec(rnd, depth - 1)
        val q = pick(rnd, Seq(0.0, 0.25, 0.5, 0.9, 1.0))
        val (by, without) = genGrouping(rnd)
        (AggQuantile(q, inner, by, without), groupKeys(ks0, by, without))
      case 15 => // count_values: a fresh label, or one that overwrites k
        val (inner, ks0) = genVec(rnd, depth - 1)
        val lbl = pick(rnd, Seq("v", "k"))
        val (by, without) = genGrouping(rnd)
        (CountValues(lbl, inner, by, without),
          groupKeys(ks0, by, without) + lbl)
      case 16 => // label_join / label_replace into the fresh label j, so
        // no two series can collapse onto one label set
        val (inner, ks0) = genVec(rnd, depth - 1)
        if (rnd.nextBoolean()) {
          val srcs = pick(rnd, Seq(Seq("user"), Seq("k"), Seq("user", "k"),
            Seq("cl", "k")))
          val sep = pick(rnd, Seq("-", ""))
          val empty = !srcs.exists(ks0) && (srcs.size == 1 || sep.isEmpty)
          (LabelJoin(inner, "j", sep, srcs), if (empty) ks0 else ks0 + "j")
        } else {
          val (repl, src, regex) = pick(rnd, Seq(("$1", "user", "u([0-9])"),
            ("x$1", "k", "k(a)"), ("", "cl", "c.*"), ("$1", "none", "(.*)")))
          (LabelReplace(inner, "j", repl, src, regex), ks0 + "j")
        }
      case 17 => // absent / absent_over_time, with an offset 1-in-2
        val eq = pick(rnd, Seq(Nil, Seq("user" -> "u3"), Seq("user" -> "u9"),
          Seq("k" -> "kb")))
        val sel = Selector(pick(rnd, Seq("m0", "m1", "m2")), eq = eq,
          offsetSec = pick(rnd, Seq(0L, 120L, 300L, 600L)),
          atSec = if (rnd.nextInt(5) == 0) Some(T - 300L) else None)
        val node =
          if (rnd.nextBoolean()) Absent(sel)
          else AbsentOT(sel, pick(rnd, Seq(120L, 400L)))
        (node, eq.map(_._1).toSet)
      case 10 => // topk/bottomk: row subset, keyset preserved — bare
        // (global ranking) or per-group under by/without
        val (inner, ks0) = genVec(rnd, depth - 1)
        val fn = pick(rnd, Seq("topk", "bottomk"))
        val k = pick(rnd, Seq(1, 2, 3, 5))
        rnd.nextInt(3) match {
          case 0 => (TopK(fn, k, inner, Nil, Nil), ks0)
          case 1 => (TopK(fn, k, inner,
            pick(rnd, Seq(Seq("user"), Seq("k"), Seq("user", "cl"))), Nil), ks0)
          case _ => (TopK(fn, k, inner, Nil,
            pick(rnd, Seq(Seq("k"), Seq("cl")))), ks0)
        }
      case 11 => // fn_over_time over a subquery: the inner expression
        // instant-evaluated at each aligned 60s step inside the window;
        // 1-in-3 carries subquery-level offset/@ (TimeShift — the
        // whole-subquery evaluation-instant rebase)
        val (inner, ks0) = genVec(rnd, depth - 1)
        val sq = OverTimeSubquery(
          pick(rnd, Seq("count", "sum", "min", "max", "avg", "last")),
          inner, pick(rnd, Seq(180L, 400L, 900L)), 60L)
        if (rnd.nextInt(3) == 0)
          (TimeShift(sq, pick(rnd, Seq(60L, 120L)),
            if (rnd.nextBoolean()) Some(T - 300L) else None), ks0)
        else (sq, ks0)
      case 12 => // literal-headed arithmetic: the scalar is the LEFT
        // operand (order matters for -), VecBin with a NumLit head
        val (inner, ks0) = genVec(rnd, depth - 1)
        (VecBin(pick(rnd, Seq("+", "-", "*")),
          NumLit((rnd.nextInt(6) + 2).toDouble), inner,
          None, None, None, Nil), ks0)
      case 13 => // many-to-one arithmetic: group_left/group_right; the
        // ONE side is aggregated to exactly the on-labels (unique by
        // construction, so the engine's one-side guard stays quiet);
        // the token after the bare group modifier must not be "(" (the
        // parser would read a label-copy list), so the rendered-after
        // side stays prec-9: aggTo for group_left, a leaf for
        // group_right
        val L = pick(rnd, Seq(Seq("user"), Seq("user", "k")))
        val op = pick(rnd, Seq("+", "-", "*"))
        if (rnd.nextBoolean())
          (VecBin(op, genVecKeys(rnd, depth - 1, Full)._1,
            aggTo(rnd, depth - 1, L), Some(L), None, Some("left"), Nil), Full)
        else
          (VecBin(op, aggTo(rnd, depth - 1, L), genLeaf(rnd)._1,
            Some(L), None, Some("right"), Nil), Full)
      case 0 | 1 => // aggregation over anything
        val (inner, ks0) = genVec(rnd, depth - 1)
        val fn = pick(rnd, Seq("sum", "min", "max", "avg", "count"))
        rnd.nextInt(3) match {
          case 0 =>
            val by = pick(rnd, Seq(Seq("user"), Seq("user", "k"), Seq("k"), Seq("user", "cl")))
            (Agg(fn, inner, by, Nil), ks0.intersect(by.toSet))
          case 1 =>
            val w = pick(rnd, Seq(Seq("k"), Seq("cl"), Seq("k", "cl")))
            (Agg(fn, inner, Nil, w), ks0 -- w)
          case _ => (Agg(fn, inner, Nil, Nil), Set.empty[String])
        }
      case 2 => // scalar arithmetic
        val (inner, ks0) = genVec(rnd, depth - 1)
        (Arith(inner, pick(rnd, Seq("+", "-", "*", "%")),
          (rnd.nextInt(6) + 2).toDouble), ks0)
      case 3 => // scalar comparison (filter or bool)
        val (inner, ks0) = genVec(rnd, depth - 1)
        val op = pick(rnd, Seq("==", "!=", ">", "<", ">=", "<="))
        val v = (rnd.nextInt(12)).toDouble
        if (rnd.nextBoolean()) (FilterCmp(inner, op, v), ks0)
        else (BoolCmp(inner, op, v), ks0)
      case 4 => (UnaryFn("abs", genVecKeys(rnd, depth - 1, Full)._1), Full)
      case 5 | 6 => // one-to-one vector arithmetic / comparison
        val op = pick(rnd, Seq("+", "-", "*"))
        val cop = pick(rnd, Seq("==", "!=", ">", "<", ">=", "<="))
        rnd.nextInt(3) match {
          case 0 => // bare: both sides the same keyset, joined on skey
            val ks0 = pick(rnd, Seq(Full, Set("user"), Set("user", "k")))
            val l = genVecKeys(rnd, depth - 1, ks0)._1
            val r = genVecKeys(rnd, depth - 1, ks0)._1
            if (rnd.nextBoolean()) (VecBin(op, l, r, None, None, None, Nil), ks0)
            else {
              val isBool = rnd.nextBoolean()
              (VecCmp(cop, l, r, isBool, None, None), ks0)
            }
          case 1 => // on(L): both sides aggregated to exactly L (unique)
            val L = pick(rnd, Seq(Seq("user"), Seq("user", "k")))
            val l = aggTo(rnd, depth - 1, L)
            val r = aggTo(rnd, depth - 1, L)
            if (rnd.nextBoolean())
              (VecBin(op, l, r, Some(L), None, None, Nil), L.toSet)
            else {
              val isBool = rnd.nextBoolean()
              val out = if (isBool) L.toSet else L.toSet
              (VecCmp(cop, l, r, isBool, Some(L), None), out)
            }
          case _ => // ignoring(cl): full-key sides; {user,k} stays unique
            val l = genVecKeys(rnd, depth - 1, Full)._1
            val r = genVecKeys(rnd, depth - 1, Full)._1
            if (rnd.nextBoolean())
              (VecBin(op, l, r, None, Some(Seq("cl")), None, Nil), Set("user", "k"))
            else {
              val isBool = rnd.nextBoolean()
              (VecCmp(cop, l, r, isBool, None, Some(Seq("cl"))),
                if (isBool) Set("user", "k") else Full)
            }
        }
      case 7 | 8 | 9 => // set operators: no uniqueness constraints
        val op = pick(rnd, Seq("and", "or", "unless"))
        val (l, lks) = genVec(rnd, depth - 1)
        rnd.nextInt(3) match {
          case 0 => // bare: same-keyset sides keep `or` un-mixed
            val r = genVecKeys(rnd, depth - 1, lks)._1
            (SetOp(op, l, r, None, None), lks)
          case 1 =>
            val candidates = lks.toSeq.sorted
            val L = if (candidates.isEmpty) Nil
              else pick(rnd, Seq(candidates.take(1), candidates))
            val (r, rks) = genVec(rnd, depth - 1)
            // `or on(L)` right-only rows keep RIGHT labels: only emit
            // `or` when both sides share a keyset (stays homogeneous)
            val opSafe = if (op == "or" && rks != lks) "and" else op
            (SetOp(opSafe, l, r, Some(L), None), lks)
          case _ =>
            val ig = pick(rnd, Seq(Seq("cl"), Seq("k"), Seq("k", "cl")))
            val (r, rks) = genVec(rnd, depth - 1)
            val opSafe = if (op == "or" && rks != lks) "unless" else op
            (SetOp(opSafe, l, r, None, Some(ig)), lks)
        }
    }

  /** A vector with keyset EXACTLY `want` (aggregating when needed). */
  private def genVecKeys(rnd: scala.util.Random, depth: Int,
      want: Set[String]): (Expr, Set[String]) =
    if (want == Full) {
      val leafish = depth <= 0 || rnd.nextInt(3) == 0
      if (leafish) genLeaf(rnd)
      else {
        // full-key-preserving wrappers over a full-key inner
        val inner = genVecKeys(rnd, depth - 1, Full)._1
        rnd.nextInt(3) match {
          case 0 => (Arith(inner, pick(rnd, Seq("+", "-", "*", "%")),
            (rnd.nextInt(6) + 2).toDouble), Full)
          case 1 => (BoolCmp(inner, pick(rnd, Seq(">", "<=")),
            rnd.nextInt(12).toDouble), Full)
          case _ => (SetOp(pick(rnd, Seq("and", "unless")), inner,
            genVecKeys(rnd, depth - 1, Full)._1, None, None), Full)
        }
      }
    } else (aggTo(rnd, depth, want.toSeq.sorted), want)

  private def aggTo(rnd: scala.util.Random, depth: Int, L: Seq[String]): Expr = {
    val (inner, _) = if (depth <= 0) genLeaf(rnd) else genVec(rnd, depth - 1)
    Agg(pick(rnd, Seq("sum", "min", "max", "count")), inner, L, Nil)
  }

  private def genLeaf(rnd: scala.util.Random): (Expr, Set[String]) = {
    val name = pick(rnd, Seq("m0", "m1", "m2"))
    val eq = if (rnd.nextInt(10) < 3)
      Seq("user" -> pick(rnd, users)) else Nil
    // negative / regex matchers (anchored, missing label = ""): the
    // patterns stay in the Java/RE2-common dialect, the repo-wide rule
    val ne = if (rnd.nextInt(8) == 0) Seq("user" -> pick(rnd, users)) else Nil
    val re = if (rnd.nextInt(6) == 0)
      Seq(pick(rnd, Seq("user" -> "u[01]", "user" -> "u.", "k" -> "k(a|b)",
        "k" -> "ka|kb"))) else Nil
    val nre = if (rnd.nextInt(8) == 0)
      Seq(pick(rnd, Seq("cl" -> "c0", "user" -> "u[23]"))) else Nil
    // offset multiples of the grid step (the engine requires step
    // alignment on the grid path); `@` pins to a fixed instant, which
    // the grid pass must render CONSTANT across points
    val off = if (rnd.nextInt(4) == 0) pick(rnd, Seq(120L, 300L)) else 0L
    val atS = if (rnd.nextInt(7) == 0) Some(T - 300L) else None
    val sel = Selector(name, eq = eq, ne = ne, offsetSec = off, atSec = atS,
      re = re, nre = nre)
    if (rnd.nextInt(8) == 0) (TimestampFn(sel), Full)
    else if (rnd.nextBoolean()) (sel, Full)
    else {
      val fn = pick(rnd, Seq("count", "sum", "min", "max", "avg", "last"))
      val w = pick(rnd, Seq(120L, 400L, 1500L))
      (OverTime(fn, sel, w), Full)
    }
  }

  /** A by/without clause: by, without, or neither, one in three each. */
  private def genGrouping(rnd: scala.util.Random): (Seq[String], Seq[String]) =
    rnd.nextInt(3) match {
      case 0 => (pick(rnd, Seq(Seq("user"), Seq("k"), Seq("user", "cl"))), Nil)
      case 1 => (Nil, pick(rnd, Seq(Seq("k"), Seq("cl"))))
      case _ => (Nil, Nil)
    }

  private def groupKeys(ks: Set[String], by: Seq[String],
      without: Seq[String]): Set[String] =
    if (by.nonEmpty) ks.intersect(by.toSet)
    else if (without.nonEmpty) ks -- without
    else Set.empty

  private def pick[A](rnd: scala.util.Random, xs: Seq[A]): A =
    xs(rnd.nextInt(xs.size))

  /** Top-level tree: usually a plain genVec; 1-in-6, a HETEROGENEOUS
    * bare `or` — sides with independently-generated (usually different)
    * keysets, so the union path must carry each side's own label sets
    * (bare set-op matching is on the full labelset; Prometheus allows
    * the mix, and nested generation keeps keysets homogeneous for the
    * parents' sake, so the top is where the mix gets exercised).
    */
  private def genTop(rnd: scala.util.Random): Expr =
    if (rnd.nextInt(6) == 0)
      SetOp("or", genVec(rnd, rnd.nextInt(3))._1,
        genVec(rnd, rnd.nextInt(3))._1, None, None)
    else genVec(rnd, rnd.nextInt(4))._1

  // ---- the differential loop ------------------------------------------
  private def toSkey(lbls: Map[String, String]): String =
    lbls.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")

  /** The node kinds of a tree, by class name. */
  private def kinds(x: Any): Set[String] = x match {
    case e: Expr with Product =>
      e.productIterator.flatMap(kinds(_)).toSet + e.getClass.getSimpleName
    case o: Option[_] => o.toSet.flatMap(kinds)
    case xs: Seq[_] => xs.toSet.flatMap(kinds)
    case _ => Set.empty
  }

  /** The nodes the generator gained with the one-point-grid evaluator:
    * each must appear in at least three generated cases, so neither pass
    * can leave them untested.
    */
  private val newKinds = Set("AggQuantile", "CountValues", "LabelJoin",
    "LabelReplace", "TimestampFn", "Absent", "AbsentOT")

  private def assertCovered(seen: Seq[Set[String]]): Unit =
    for (k <- newKinds) {
      val hits = seen.count(_.contains(k))
      // scaled down for a short GRAFT_DIFF_N run
      assert(hits >= math.min(3, seen.size / 50),
        s"only $hits generated cases contain $k")
    }

  test("500 generated expressions: engine == naive model, bit-for-bit") {
    val n = sys.env.get("GRAFT_DIFF_N").map(_.toInt).getOrElse(500)
    val rnd = new scala.util.Random(20260816L)
    var checked = 0
    var nonEmpty = 0
    val seen = Seq.newBuilder[Set[String]]
    while (checked < n) {
      val ast = genTop(rnd)
      seen += kinds(ast)
      val q = render(ast, 0)
      val parsed =
        try PromParser.parse(q)
        catch {
          case ex: Exception =>
            fail(s"case $checked failed to parse: $q\n$ex")
        }
      assert(parsed == ast,
        s"case $checked: minimal-paren render did not round-trip\n  $q\n" +
          s"  rendered-from: $ast\n  parsed-to:     $parsed")
      val got = PromEval.evalInstant(metricsDf, parsed, T, Lookback)
        .collect()
        .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value"))
        .sorted.toSeq
      val want = naive(ast)
        .map { case (l, v) => toSkey(l) -> v }
        .sorted
      assert(got == want,
        s"case $checked DIVERGED: $q\n  engine: $got\n  naive:  $want")
      checked += 1
      if (want.nonEmpty) nonEmpty += 1
    }
    // the harness is only evidence if the cases actually exercise data:
    // a generator drifting into all-empty vectors would pass vacuously
    assert(nonEmpty > n / 2,
      s"only $nonEmpty/$n cases produced non-empty results - fixture or generator drifted")
    assertCovered(seen.result())
  }

  test("250 generated expressions on the grid: engine == per-point naive") {
    // A range query is an instant query per step — so the grid twin of
    // every operator (the sample→grid-point expansion, per-point joins
    // with `g` riding the key, per-point set semantics) must be
    // undetectable against the instant model applied at each point.
    // Fresh seed: different trees from the instant pass.
    val n = sys.env.get("GRAFT_DIFF_GRID_N").map(_.toInt).getOrElse(250)
    val g1 = (T / 60) * 60
    val g0 = g1 - 240 // five 60s-aligned points
    val points = g0.to(g1, 60L)
    val rnd = new scala.util.Random(18262026L)
    var checked = 0
    var nonEmpty = 0
    val seen = Seq.newBuilder[Set[String]]
    while (checked < n) {
      val ast = genTop(rnd)
      seen += kinds(ast)
      val q = render(ast, 0)
      val parsed = PromParser.parse(q)
      assert(parsed == ast,
        s"grid case $checked: render did not round-trip\n  $q")
      val got = PromEval.evalGrid(metricsDf, parsed, g0, g1, 60, Lookback)
        .collect()
        .map(r => (r.getAs[String]("skey"), r.getAs[Long]("g"),
          r.getAs[Double]("value")))
        .sorted.toSeq
      val want = points.flatMap { g =>
        naiveAt(ast, g).map { case (l, v) => (toSkey(l), g, v) }
      }.sorted
      assert(got == want,
        s"grid case $checked DIVERGED: $q\n  engine: $got\n  naive:  $want")
      checked += 1
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > n / 2,
      s"only $nonEmpty/$n grid cases produced non-empty results - fixture or generator drifted")
    assertCovered(seen.result())
  }
}
