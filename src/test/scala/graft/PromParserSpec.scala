package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.promql.PromParser
import graft.promql.PromParser._

class PromParserSpec extends AnyFunSuite {

  test("parses the reference flagship query verbatim") {
    // the exact text from the reference's seed config (migrate.sql:105)
    val q = "sum(sum_over_time(max without(exported_namespace, exported_pod, " +
      "modelName, prometheus, cluster, insight, mode) " +
      "(kpanda_gpu_pod_utilization != bool 999999)[24h:1m])) " +
      "by (cluster_name, node, UUID) * 60 / 3600"
    val ast = PromParser.parse(q)
    val Arith(Arith(Agg("sum", sub, by, Nil), "*", 60.0), "/", 3600.0) = ast: @unchecked
    assert(by == Seq("cluster_name", "node", "UUID"))
    val OverTimeSubquery("sum", inner, 86400L, 60L) = sub: @unchecked
    val Agg("max", BoolCmp(sel: Selector, "!=", 999999.0), Nil, without) = inner: @unchecked
    assert(sel.name == "kpanda_gpu_pod_utilization")
    assert(without.size == 7 && without.contains("exported_namespace"))
  }

  test("simple selectors and doc examples") {
    assert(PromParser.parse("up") == Selector("up"))
    val Agg("avg", Selector("node_cpu_usage", Nil, Nil, 0L, None, _, _, _), Seq("instance"), Nil) =
      PromParser.parse("avg(node_cpu_usage) by (instance)"): @unchecked
  }

  test("label matchers") {
    val Selector("m", eq, ne, _, _, _, _, _) =
      PromParser.parse("""m{a="1", b!="2"}"""): @unchecked
    assert(eq == Seq("a" -> "1") && ne == Seq("b" -> "2"))
    // regex matchers, mixed with equality forms
    val Selector("m", eq2, _, _, _, re, nre, _) =
      PromParser.parse("""m{a="1", b=~"x.*|y", c!~"[0-9]+"}"""): @unchecked
    assert(eq2 == Seq("a" -> "1") && re == Seq("b" -> "x.*|y") &&
      nre == Seq("c" -> "[0-9]+"))
    // new over-time heads parse
    val OverTime("stdvar", _, 3600L) =
      PromParser.parse("stdvar_over_time(m[1h])"): @unchecked
    val OverTime("present", _, 60L) =
      PromParser.parse("present_over_time(m[1m])"): @unchecked
  }

  test("range selector with *_over_time") {
    val OverTime("count", Selector("x", _, _, _, _, _, _, _), 3600L) =
      PromParser.parse("count_over_time(x[1h])"): @unchecked
  }

  test("rate/increase parse over a plain range selector only") {
    val Rate("rate", Selector("x", _, _, _, _, _, _, _), 300L) =
      PromParser.parse("rate(x[5m])"): @unchecked
    val Rate("increase", Selector("y", eq, _, _, _, _, _, _), 86400L) =
      PromParser.parse("increase(y{cl=\"a\"}[24h])"): @unchecked
    assert(eq == Seq("cl" -> "a"))
    // subquery rate: the inner expr's grid values play the samples
    val RateSubquery("rate", Selector("x", _, _, _, _, _, _, _), 300L, 60L) =
      PromParser.parse("rate((x)[5m:1m])"): @unchecked
    val RateSubquery("increase", Agg("sum", _, Seq("u"), Nil), 3600L, 300L) =
      PromParser.parse("increase((sum by (u) (m))[1h:5m])"): @unchecked
    // a bare [w] suffix on a non-selector is still rejected
    intercept[IllegalArgumentException](PromParser.parse("rate((x + 1)[5m])"))
    // % and ^ parse in their Prometheus tiers
    val Arith(Selector("m", _, _, _, _, _, _, _), "%", 7.0) =
      PromParser.parse("m % 7"): @unchecked
    val Arith(_, "^", 2.0) = PromParser.parse("m ^ 2"): @unchecked
    val VecBin("%", _, _, None, None, None, _) =
      PromParser.parse("a % b"): @unchecked
  }

  test("arithmetic precedence: ^ (right-assoc) > unary > * / % atan2 > + -") {
    // a + b * c: * binds tighter — NOT the old uniform (a+b)*c
    val VecBin("+", Selector("a", _, _, _, _, _, _, _),
      VecBin("*", Selector("b", _, _, _, _, _, _, _),
        Selector("c", _, _, _, _, _, _, _), None, None, None, _),
      None, None, None, _) = PromParser.parse("a + b * c"): @unchecked
    // a * b + c: left operand keeps the tighter pair
    val VecBin("+", VecBin("*", _, _, _, _, _, _), Selector("c", _, _, _, _, _, _, _),
      None, None, None, _) = PromParser.parse("a * b + c"): @unchecked
    // b * c ^ d: ^ tighter than *
    val VecBin("*", Selector("b", _, _, _, _, _, _, _),
      VecBin("^", _, _, _, _, _, _), None, None, None, _) =
      PromParser.parse("b * c ^ d"): @unchecked
    // ^ is right-associative: 2^3^2 = 2^(3^2) = 512, not (2^3)^2 = 64
    assert(PromParser.constFold(PromParser.parse("2 ^ 3 ^ 2")).contains(512.0))
    // unary minus binds looser than ^: -2^2 = -(2^2) = -4
    assert(PromParser.constFold(PromParser.parse("-2 ^ 2")).contains(-4.0))
    // ... and tighter than *: -2 * 3 = -6; 2 ^ -1 parses (unary exponent)
    assert(PromParser.constFold(PromParser.parse("-2 * 3")).contains(-6.0))
    assert(PromParser.constFold(PromParser.parse("2 ^ -1")).contains(0.5))
    // atan2 sits in the * tier: a + b atan2 c groups the right pair
    val VecBin("+", _, VecBin("atan2", _, _, _, _, _, _), None, None, None, _) =
      PromParser.parse("a + b atan2 c"): @unchecked
    // unary minus on a vector multiplies by -1 (bit-exact negation)
    val Arith(Selector("v", _, _, _, _, _, _, _), "*", -1.0) =
      PromParser.parse("-v"): @unchecked
    // mixed-literal folding respects the tiers: 2 + 3 * 4 = 14
    assert(PromParser.constFold(PromParser.parse("2 + 3 * 4")).contains(14.0))
  }

  test("offset modifier on plain and range selectors") {
    val Selector("up", Nil, Nil, 300L, None, _, _, _) =
      PromParser.parse("up offset 5m"): @unchecked
    val OverTime("last", Selector("p", _, _, 86400L, _, _, _, _), 604800L) =
      PromParser.parse("last_over_time(p[1w] offset 1d)"): @unchecked
    val Rate("rate", Selector("c", _, _, 3600L, _, _, _, _), 300L) =
      PromParser.parse("rate(c[5m] offset 1h)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("up offset"))
    // negative offset looks forward (promql-negative-offset semantics)
    val Selector("up", Nil, Nil, -3600L, None, _, _, _) =
      PromParser.parse("up offset -1h"): @unchecked
    // @ modifier, alone and composed with offset in either order
    val Selector("up", Nil, Nil, 0L, Some(1000L), _, _, _) =
      PromParser.parse("up @ 1000"): @unchecked
    val OverTime("last", s1: Selector, 3600L) =
      PromParser.parse("last_over_time(p[1h] @ 1000 offset 5m)"): @unchecked
    assert(s1.evalAt(9999L) == 700L) // pinned instant minus offset
    val OverTime("last", s2: Selector, 3600L) =
      PromParser.parse("last_over_time(p[1h] offset 5m @ 1000)"): @unchecked
    assert(s2.evalAt(9999L) == 700L)
  }

  test("vector-vector binops with on/ignoring and bare matching") {
    val VecBin("/", Selector("a", _, _, _, _, _, _, _), Selector("b", _, _, _, _, _, _, _), Some(on), None, None, _) =
      PromParser.parse("a / on(user) b"): @unchecked
    assert(on == Seq("user"))
    val VecBin("+", _, _, None, Some(ig), None, _) =
      PromParser.parse("a + ignoring(k, cl) b"): @unchecked
    assert(ig == Seq("k", "cl"))
    val VecBin("-", Selector("a", _, _, _, _, _, _, _), Selector("b", _, _, _, _, _, _, _), None, None, None, _) =
      PromParser.parse("a - b"): @unchecked
    // scalar arithmetic still parses as Arith, not VecBin
    val Arith(Selector("a", _, _, _, _, _, _, _), "*", 2.0) =
      PromParser.parse("a * 2"): @unchecked
    // left-assoc chain: (a / b) * 100
    val Arith(VecBin("/", _, _, _, _, _, _), "*", 100.0) =
      PromParser.parse("a / on(u) b * 100"): @unchecked
    // many-to-one: group modifier binds between the clause and the rhs
    val VecBin("/", _, _, Some(Seq("u")), None, Some("left"), _) =
      PromParser.parse("a / on(u) group_left b"): @unchecked
    val VecBin("*", _, _, None, Some(Seq("k")), Some("right"), _) =
      PromParser.parse("a * ignoring(k) group_right b"): @unchecked
  }

  test("topk/bottomk with optional grouping") {
    val TopK("topk", 5, Selector("m", _, _, _, _, _, _, _), Nil, Nil) =
      PromParser.parse("topk(5, m)"): @unchecked
    val TopK("bottomk", 3, _, Seq("cl"), Nil) =
      PromParser.parse("bottomk by (cl) (3, m)"): @unchecked
    val TopK("topk", 2, _, Nil, Seq("k")) =
      PromParser.parse("topk without (k) (2, m)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("topk(0, m)"))
    intercept[IllegalArgumentException](PromParser.parse("topk(2.5, m)"))
  }

  test("quantile_over_time and histogram_quantile parse") {
    val QuantileOverTime(0.9, Selector("m", _, _, _, _, _, _, _), 3600L) =
      PromParser.parse("quantile_over_time(0.9, m[1h])"): @unchecked
    val HistQuantile(0.5, Selector("b", _, _, _, _, _, _, _)) =
      PromParser.parse("histogram_quantile(0.5, b)"): @unchecked
    intercept[IllegalArgumentException](
      PromParser.parse("quantile_over_time(1.5, m[1h])")) // q out of range
    intercept[IllegalArgumentException](
      PromParser.parse("quantile_over_time(0.5, m)")) // no range
  }

  test("math fns, clamp family, delta, absent parse") {
    val UnaryFn("abs", Selector("m", _, _, _, _, _, _, _)) =
      PromParser.parse("abs(m)"): @unchecked
    val Clamp(UnaryFn("ceil", _), Some(1.0), Some(9.0)) =
      PromParser.parse("clamp(ceil(m), 1, 9)"): @unchecked
    val Clamp(_, Some(2.0), None) =
      PromParser.parse("clamp_min(m, 2)"): @unchecked
    val Clamp(_, None, Some(3.0)) =
      PromParser.parse("clamp_max(m, 3)"): @unchecked
    val Rate("delta", Selector("g", _, _, _, _, _, _, _), 3600L) =
      PromParser.parse("delta(g[1h])"): @unchecked
    val Absent(Selector("up", _, _, _, _, _, _, _)) =
      PromParser.parse("absent(up)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("absent(rate(x[5m]))"))
  }

  test("set operators bind loosest, left-assoc; irate/idelta parse") {
    val SetOp("and", Selector("a", _, _, _, _, _, _, _), Selector("b", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a and b"): @unchecked
    // arithmetic binds tighter than set ops
    val SetOp("or", Arith(_, "*", 2.0), _, _, _) =
      PromParser.parse("a * 2 or b"): @unchecked
    val SetOp("unless", SetOp("and", _, _, _, _), _, _, _) =
      PromParser.parse("a and b unless c"): @unchecked
    // parenthesized set op under an aggregation
    val Agg("sum", SetOp("or", _, _, _, _), Seq("user"), Nil) =
      PromParser.parse("sum by (user) (a or b)"): @unchecked
    val Rate("irate", Selector("c", _, _, _, _, _, _, _), 300L) =
      PromParser.parse("irate(c[5m])"): @unchecked
    val Rate("idelta", Selector("g", _, _, _, _, _, _, _), 600L) =
      PromParser.parse("idelta(g[10m])"): @unchecked
    val Deriv(Selector("g", _, _, _, _, _, _, _), 3600L, None) =
      PromParser.parse("deriv(g[1h])"): @unchecked
    val Deriv(Selector("g", _, _, _, _, _, _, _), 3600L, Some(600.0)) =
      PromParser.parse("predict_linear(g[1h], 600)"): @unchecked
    val Rate("resets", _, 3600L) = PromParser.parse("resets(c[1h])"): @unchecked
    val Rate("changes", _, 3600L) = PromParser.parse("changes(g[1h])"): @unchecked
    val Agg("stddev", _, Seq("u"), Nil) =
      PromParser.parse("stddev by (u) (m)"): @unchecked
    val Agg("stdvar", _, Nil, Nil) = PromParser.parse("stdvar(m)"): @unchecked
  }

  test("or binds looser than and/unless (two set tiers, round 17)") {
    // the Prometheus ladder's set tiers: a or (b and c), NOT (a or b) and c
    val SetOp("or", Selector("a", _, _, _, _, _, _, _),
      SetOp("and", Selector("b", _, _, _, _, _, _, _),
        Selector("c", _, _, _, _, _, _, _), _, _), _, _) =
      PromParser.parse("a or b and c"): @unchecked
    // left operand keeps the tighter pair: (a and b) or c
    val SetOp("or", SetOp("and", _, _, _, _), Selector("c", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a and b or c"): @unchecked
    // unless shares the tighter tier: a or (b unless c)
    val SetOp("or", Selector("a", _, _, _, _, _, _, _),
      SetOp("unless", _, _, _, _), _, _) =
      PromParser.parse("a or b unless c"): @unchecked
    // ... and left-assoc across the tier boundary: (a unless b) or c
    val SetOp("or", SetOp("unless", Selector("a", _, _, _, _, _, _, _), _, _, _),
      Selector("c", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a unless b or c"): @unchecked
    // or itself chains left-assoc: (a or b) or c
    val SetOp("or", SetOp("or", _, _, _, _), Selector("c", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a or b or c"): @unchecked
    // the alerting idiom from the Prometheus docs' precedence discussion:
    // comparison binds tighter than both set tiers, so this is
    // (a==0) or ((b==1) and c) — each filter-comparison an operand
    val SetOp("or", FilterCmp(Selector("up", _, _, _, _, _, _, _), "==", 0.0),
      SetOp("and", FilterCmp(Selector("up", _, _, _, _, _, _, _), "==", 1.0),
        Selector("maintenance", _, _, _, _, _, _, _), _, _), _, _) =
      PromParser.parse("up == 0 or up == 1 and maintenance"): @unchecked
    // cross-tier with comparison on both sides of the and:
    // (a>1) or ((b<2) and c)
    val SetOp("or", FilterCmp(Selector("a", _, _, _, _, _, _, _), ">", 1.0),
      SetOp("and", FilterCmp(Selector("b", _, _, _, _, _, _, _), "<", 2.0),
        Selector("c", _, _, _, _, _, _, _), _, _), _, _) =
      PromParser.parse("a > 1 or b < 2 and c"): @unchecked
    // comparison over arithmetic under bool, inside a set operand:
    // ((a+b) >bool 1) and c — arithmetic > comparison > and > or
    val SetOp("and", BoolCmp(VecBin("+", _, _, _, _, _, _), ">", 1.0),
      Selector("c", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a + b > bool 1 and c"): @unchecked
  }

  test("set operators accept on/ignoring, reject group modifiers") {
    // the maintenance idiom: up == 1 and on(job) maintenance
    val SetOp("and", FilterCmp(Selector("up", _, _, _, _, _, _, _), "==", 1.0),
      Selector("maintenance", _, _, _, _, _, _, _), Some(Seq("job")), None) =
      PromParser.parse("up == 1 and on(job) maintenance"): @unchecked
    val SetOp("unless", _, _, None, Some(Seq("instance", "pod"))) =
      PromParser.parse("a unless ignoring(instance, pod) b"): @unchecked
    val SetOp("or", _, _, Some(Seq("job")), None) =
      PromParser.parse("a or on(job) b"): @unchecked
    // modifier binds to ITS operator in a chain, and tiers still hold:
    // a or on(x) (b and on(y) c)
    val SetOp("or", Selector("a", _, _, _, _, _, _, _),
      SetOp("and", _, _, Some(Seq("y")), None), Some(Seq("x")), None) =
      PromParser.parse("a or on(x) b and on(y) c"): @unchecked
    // Prometheus rejects group modifiers on set ops (many-to-many only)
    intercept[IllegalArgumentException](
      PromParser.parse("a and on(job) group_left b"))
    intercept[IllegalArgumentException](
      PromParser.parse("a or ignoring(x) group_right b"))
  }

  test("filtering comparisons keep series, bool returns 0/1") {
    val FilterCmp(Selector("x", _, _, _, _, _, _, _), ">", 5.0) =
      PromParser.parse("x > 5"): @unchecked
    val BoolCmp(Selector("x", _, _, _, _, _, _, _), ">", 5.0) =
      PromParser.parse("x > bool 5"): @unchecked
  }

  test("comparison binds looser than arithmetic (Prometheus precedence)") {
    // the error-ratio alert idiom: (a / b) > 0.5, NOT a / (b > 0.5)
    val FilterCmp(VecBin("/", Selector("a", _, _, _, _, _, _, _),        Selector("b", _, _, _, _, _, _, _), _, _, _, _), ">", 0.5) =
      PromParser.parse("a / b > 0.5"): @unchecked
    // a trailing comparison after an arith chain parses
    val FilterCmp(Arith(Selector("x", _, _, _, _, _, _, _), "*", 100.0), ">", 5.0) =
      PromParser.parse("x * 100 > 5"): @unchecked
    val BoolCmp(VecBin("/", _, _, Some(Seq("u")), _, _, _), ">=", 0.9) =
      PromParser.parse("a / on(u) b >= bool 0.9"): @unchecked
    // but comparison stays looser than set ops' operands:
    // `a > 5 and b` is (a > 5) and b
    val SetOp("and", FilterCmp(_, ">", 5.0), Selector("b", _, _, _, _, _, _, _), _, _) =
      PromParser.parse("a > 5 and b"): @unchecked
  }

  test("vector-vector comparisons parse, filter and bool forms") {
    val VecCmp(">", Selector("x", _, _, _, _, _, _, _), Selector("y", _, _, _, _, _, _, _), false, None, None) =
      PromParser.parse("x > y"): @unchecked
    val VecCmp("<=", _, _, true, None, None) =
      PromParser.parse("x <= bool y"): @unchecked
    // RHS binds the arithmetic chain: x > (y * 2)
    val VecCmp(">", _, Arith(Selector("y", _, _, _, _, _, _, _), "*", 2.0), false, None, None) =
      PromParser.parse("x > y * 2"): @unchecked
  }

  test("round, quantile agg, count_values, group, sgn/log parse") {
    val RoundFn(Selector("m", _, _, _, _, _, _, _), 1.0) =
      PromParser.parse("round(m)"): @unchecked
    val RoundFn(_, 0.5) = PromParser.parse("round(m, 0.5)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("round(m, 0)"))
    val AggQuantile(0.9, Selector("m", _, _, _, _, _, _, _), Seq("cl"), Nil) =
      PromParser.parse("quantile by (cl) (0.9, m)"): @unchecked
    val AggQuantile(0.5, _, Nil, Nil) =
      PromParser.parse("quantile(0.5, m)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("quantile(1.5, m)"))
    val CountValues("v", Selector("m", _, _, _, _, _, _, _), Nil, Nil) =
      PromParser.parse("""count_values("v", m)"""): @unchecked
    val CountValues("v", _, Seq("k"), Nil) =
      PromParser.parse("""count_values by (k) ("v", m)"""): @unchecked
    val Agg("group", _, Seq("cl"), Nil) =
      PromParser.parse("group by (cl) (m)"): @unchecked
    val UnaryFn("sgn", _) = PromParser.parse("sgn(m)"): @unchecked
    val UnaryFn("log2", _) = PromParser.parse("log2(m)"): @unchecked
    val UnaryFn("log10", _) = PromParser.parse("log10(m)"): @unchecked
  }

  test("scalar/vector/time parse") {
    val ScalarFn(Agg("sum", _, Nil, Nil)) =
      PromParser.parse("scalar(sum(m))"): @unchecked
    val VectorLit(5.0) = PromParser.parse("vector(5)"): @unchecked
    val TimeFn() = PromParser.parse("time()"): @unchecked
    val VecBin("/", _, ScalarFn(_), None, None, None, _) =
      PromParser.parse("a / scalar(sum(b))"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("vector(m)"))
  }

  test("rejects what the reference never shipped") {
    intercept[IllegalArgumentException](PromParser.parse("x[5m]")) // bare range
    intercept[IllegalArgumentException](PromParser.parse("x /")) // trailing op
    intercept[IllegalArgumentException](
      PromParser.parse("histogram_quantile(1.5, b)")) // q out of range
  }

  test("sort/sort_desc parse as identity over an unordered relation") {
    assert(PromParser.parse("sort(x)") == Selector("x"))
    assert(PromParser.parse("sort_desc(sum by (u) (x))") ==
      PromParser.parse("sum by (u) (x)"))
  }

  test("sort_by_label variants parse as identity; label list required") {
    assert(PromParser.parse("""sort_by_label(x, "job")""") == Selector("x"))
    assert(PromParser.parse("""sort_by_label_desc(sum by (u) (x), "a", "b")""") ==
      PromParser.parse("sum by (u) (x)"))
    intercept[IllegalArgumentException](PromParser.parse("sort_by_label(x)"))
  }

  test("mad_over_time parses; double_exponential_smoothing aliases holt_winters") {
    val MadOverTime(sel, 3600L) =
      PromParser.parse("mad_over_time(m[1h])"): @unchecked
    assert(sel.name == "m")
    assert(PromParser.parse("double_exponential_smoothing(m[1h], 0.5, 0.5)") ==
      PromParser.parse("holt_winters(m[1h], 0.5, 0.5)"))
    intercept[IllegalArgumentException](PromParser.parse("mad_over_time(m)"))
  }

  test("limitk/limit_ratio parse with grouping; parameters are validated") {
    val LimitAgg("limitk", 3.0, Selector("x", _, _, _, _, _, _, _), Nil, Nil) =
      PromParser.parse("limitk(3, x)"): @unchecked
    val LimitAgg("limitk", 2.0, _, Seq("job"), Nil) =
      PromParser.parse("limitk by (job) (2, x)"): @unchecked
    val LimitAgg("limit_ratio", 0.5, _, Nil, Nil) =
      PromParser.parse("limit_ratio(0.5, x)"): @unchecked
    val LimitAgg("limit_ratio", -0.5, _, Nil, Nil) =
      PromParser.parse("limit_ratio(-0.5, x)"): @unchecked
    intercept[IllegalArgumentException](PromParser.parse("limitk(0, x)"))
    intercept[IllegalArgumentException](PromParser.parse("limitk(1.5, x)"))
    intercept[IllegalArgumentException](PromParser.parse("limit_ratio(1.5, x)"))
  }

  test("atan2 is a keyword binary operator") {
    val Arith(Selector("m", _, _, _, _, _, _, _), "atan2", 2.0) =
      PromParser.parse("m atan2 2"): @unchecked
    val VecBin("atan2", _, _, None, None, None, _) =
      PromParser.parse("m atan2 n"): @unchecked
    val VecBin("atan2", _, _, Some(Seq("job")), None, None, _) =
      PromParser.parse("m atan2 on(job) n"): @unchecked
  }

  test("zero-arg time components default to time(); pi() is the literal") {
    assert(PromParser.parse("hour()") == UnaryFn("hour", TimeFn()))
    assert(PromParser.parse("day_of_week()") ==
      UnaryFn("day_of_week", TimeFn()))
    val NumLit(p) = PromParser.parse("pi()"): @unchecked
    assert(p == math.Pi)
    // math fns still require an argument
    intercept[IllegalArgumentException](PromParser.parse("sqrt()"))
  }

  test("comparison matching modifiers and group_left label-copy parse") {
    val VecCmp(">", _, _, false, Some(Seq("user")), None) =
      PromParser.parse("a > on(user) b"): @unchecked
    val VecCmp("==", _, _, true, None, Some(Seq("k"))) =
      PromParser.parse("a == bool ignoring(k) b"): @unchecked
    val VecBin("*", _, _, Some(Seq("u")), None, Some("left"), Seq("version")) =
      PromParser.parse("a * on(u) group_left(version) b"): @unchecked
    val VecBin("/", _, _, None, Some(Seq("k")), Some("right"), Seq("x1", "y2")) =
      PromParser.parse("a / ignoring(k) group_right(x1, y2) b"): @unchecked
    // empty label list is the bare many-to-one form
    val VecBin("*", _, _, Some(Seq("u")), None, Some("left"), Nil) =
      PromParser.parse("a * on(u) group_left() b"): @unchecked
  }
}

/** Parsed-text evaluation must equal the hand-built pipeline. */
class PromEvalSpec extends SparkSpec {

  test("not-equal label matchers filter series out") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("m", Map("env" -> "prod"), 1.0, 990L),
      ("m", Map("env" -> "dev"), 2.0, 991L),
      ("m", Map("other" -> "x"), 3.0, 992L)) // env absent: != keeps it
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val expr = graft.promql.PromParser.parse("""m{env!="prod"}""")
    val vals = graft.promql.PromEval.evalInstant(m, expr, 1000L)
      .collect().map(_.getAs[Double]("value")).toSet
    assert(vals == Set(2.0, 3.0))
  }

  test("histogram_quantile interpolation, first-bucket, and overflow fallback") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one group, cumulative buckets: le=1 -> 10, le=2 -> 30, +Inf -> 40
    val m = Seq(("b", Map("job" -> "x", "le" -> "1.0"), 10.0, 999L),
      ("b", Map("job" -> "x", "le" -> "2.0"), 30.0, 999L),
      ("b", Map("job" -> "x", "le" -> "+Inf"), 40.0, 999L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def at(q: Double): Double = {
      val e = graft.promql.PromParser.parse(s"histogram_quantile($q, b)")
      graft.promql.PromEval.evalInstant(m, e, 1000L)
        .collect().map(_.getAs[Double]("value")).head
    }
    assert(at(0.5) == 1.0 + (2.0 - 1.0) * (20.0 - 10.0) / (30.0 - 10.0)) // 1.5
    assert(at(0.1) == 0.0 + (1.0 - 0.0) * (4.0 - 0.0) / (10.0 - 0.0)) // 0.4
    assert(at(1.0) == 2.0) // rank beyond finite buckets -> max finite le
  }

  test("on/ignoring comparisons and group_left label copy evaluate") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("err", Map("inst" -> "a", "job" -> "x"), 9.0, 995L),
      ("err", Map("inst" -> "b", "job" -> "x"), 1.0, 995L),
      ("tot", Map("inst" -> "a"), 3.0, 996L),
      ("tot", Map("inst" -> "b"), 4.0, 996L),
      ("info", Map("inst" -> "a", "version" -> "v1"), 1.0, 997L),
      ("info", Map("inst" -> "b", "version" -> "v2"), 1.0, 997L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def rows(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect()
      .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value")).toMap
    // filter form: the LEFT series survives with its full label set
    assert(rows("err > on(inst) tot") ==
      Map("""{"inst":"a","job":"x"}""" -> 9.0))
    // bool form under a modifier carries the match key as the label set
    assert(rows("err >= bool on(inst) tot") ==
      Map("""{"inst":"a"}""" -> 1.0, """{"inst":"b"}""" -> 0.0))
    // ignoring: match on the complement labels
    assert(rows("err < ignoring(job) tot") ==
      Map("""{"inst":"b","job":"x"}""" -> 1.0))
    // group_left(version): metadata copied from the one side
    assert(rows("err * on(inst) group_left(version) info") == Map(
      """{"inst":"a","job":"x","version":"v1"}""" -> 9.0,
      """{"inst":"b","job":"x","version":"v2"}""" -> 1.0))
  }

  test("set operators with on/ignoring evaluate on the projected key") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("up", Map("inst" -> "a", "job" -> "x"), 1.0, 995L),
      ("up", Map("inst" -> "b", "job" -> "y"), 0.0, 995L),
      ("maint", Map("job" -> "x"), 7.0, 996L),
      ("extra", Map("job" -> "z", "note" -> "n"), 5.0, 997L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def rows(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect()
      .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value")).toMap
    // and on(job): LHS keeps its FULL labels; only the key projects
    assert(rows("up and on(job) maint") ==
      Map("""{"inst":"a","job":"x"}""" -> 1.0))
    // unless on(job): the complement
    assert(rows("up unless on(job) maint") ==
      Map("""{"inst":"b","job":"y"}""" -> 0.0))
    // ignoring(inst) projects LHS to {job}: same matches as on(job)
    assert(rows("up and ignoring(inst) maint") ==
      Map("""{"inst":"a","job":"x"}""" -> 1.0))
    // or on(job): all LHS, plus RHS series whose projected key has no
    // LHS match — kept with the RIGHT side's own labels and value
    assert(rows("up or on(job) extra") == Map(
      """{"inst":"a","job":"x"}""" -> 1.0,
      """{"inst":"b","job":"y"}""" -> 0.0,
      """{"job":"z","note":"n"}""" -> 5.0))
    // or on(job) where the RHS key IS matched: right side drops
    assert(rows("up or on(job) maint") == Map(
      """{"inst":"a","job":"x"}""" -> 1.0,
      """{"inst":"b","job":"y"}""" -> 0.0))
    // on() — the empty projection: every series shares the key {}, so
    // `and on()` keeps all LHS iff the RHS is non-empty
    assert(rows("up and on() maint").keySet ==
      Set("""{"inst":"a","job":"x"}""", """{"inst":"b","job":"y"}"""))
    assert(rows("""up and on() maint{job="zzz"}""").isEmpty)
  }

  test("or on(): ALL right rows sharing an unmatched key survive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Prometheus raises "multiple matches" only for one-to-one VECTOR
    // MATCHING (arithmetic/comparison), never for set operators — so
    // when TWO right series project to the same on(job) key and that
    // key has no left match, `or` must keep BOTH (round-17 verdict
    // item 8). A dedup-by-key union would silently drop one.
    val m = Seq(
      ("up", Map("inst" -> "a", "job" -> "x"), 1.0, 995L),
      ("spare", Map("inst" -> "s1", "job" -> "z"), 5.0, 996L),
      ("spare", Map("inst" -> "s2", "job" -> "z"), 6.0, 997L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val got = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse("up or on(job) spare"),
        1000L)
      .collect()
      .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value")).toMap
    assert(got == Map(
      """{"inst":"a","job":"x"}""" -> 1.0,
      """{"inst":"s1","job":"z"}""" -> 5.0,
      """{"inst":"s2","job":"z"}""" -> 6.0))
  }

  test("empty label values are absent for projected match keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Prometheus label sets never store empty values, so a series
    // carrying an explicitly-empty `note` must match one with no `note`
    // at all when the key projects over it (ADVICE r17: matchKey drops
    // null- and empty-valued entries).
    val m = Seq(
      ("up", Map("job" -> "x", "note" -> ""), 1.0, 995L),
      ("maint", Map("job" -> "x"), 7.0, 996L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def rows(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect()
      .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value")).toMap
    // on(job, note): up's key is {job:"x"} (empty note dropped), which
    // equals maint's — the semi-join keeps the row, full labels intact
    assert(rows("up and on(job, note) maint") ==
      Map("""{"job":"x","note":""}""" -> 1.0))
    // ignoring(job) projects up to {note:""} -> {} and maint to {}:
    // the keys still match
    assert(rows("up and ignoring(job) maint") ==
      Map("""{"job":"x","note":""}""" -> 1.0))
  }

  test("math fns evaluate pointwise; absent flags empty vectors only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), -2.25, 995L),
      ("m", Map("i" -> "b"), 9.0, 996L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).sorted.toSeq
    assert(eval("abs(m)") == Seq(2.25, 9.0))
    assert(eval("ceil(m)") == Seq(-2.0, 9.0))
    assert(eval("floor(m)") == Seq(-3.0, 9.0))
    assert(eval("sqrt(m)").contains(3.0)) // sqrt(-2.25) is NaN
    assert(eval("ln(exp(m))").exists(v => math.abs(v - 9.0) < 1e-12))
    assert(eval("clamp(m, 0, 5)") == Seq(0.0, 5.0))
    assert(eval("""absent(m{i="a"})""").isEmpty) // series exists
    val one = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("""absent(m{i="zzz"})"""), 1000L).collect()
    // Prometheus derives absent()'s labels from the equality matchers
    assert(one.length == 1 && one(0).getAs[Double]("value") == 1.0
      && one(0).getAs[String]("skey") == """{"i":"zzz"}""")
  }

  test("rate/increase/delta extrapolate to the window bounds (Prometheus semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def eval(rows: Seq[(Long, Double)], q: String, at: Long = 60L): Double = {
      val m = rows.map { case (e, v) => ("c", Map("i" -> "a"), v, e) }
        .toDF("metric_name", "labels", "value", "es")
        .withColumn("timestamp", timestamp_seconds(col("es")))
      graft.promql.PromEval.evalInstant(m, graft.promql.PromParser.parse(q), at)
        .collect().map(_.getAs[Double]("value")).head
    }
    // dense counter, edges within 1.1x the 10s average spacing: the
    // REAL 10s gaps extend the sampled interval on both sides —
    // increase = 40 * ((40+10+10)/40) = 60, the full-window estimate
    val dense = Seq(10L -> 100.0, 20L -> 110.0, 30L -> 120.0,
      40L -> 130.0, 50L -> 140.0)
    assert(eval(dense, "increase(c[60s])") == 60.0)
    assert(math.abs(eval(dense, "rate(c[60s])") - 1.0) < 1e-12)
    // counter that starts at 0 inside the window: the zero-crossing cap
    // durationToZero = span * (firstV/result) = 0 stops the start-side
    // extrapolation — increase = 40 * ((40+0+10)/40) = 50
    val fromZero = Seq(10L -> 0.0, 20L -> 10.0, 30L -> 20.0,
      40L -> 30.0, 50L -> 40.0)
    assert(eval(fromZero, "increase(c[60s])") == 50.0)
    // sparse pair far from both edges: both gaps exceed 1.1x the 2s
    // average spacing, so each side extends by avg/2 = 1 —
    // increase = 2 * ((2+1+1)/2) = 4, NOT 2*58/2 = 58
    val sparse = Seq(28L -> 3.0, 30L -> 5.0)
    assert(eval(sparse, "increase(c[60s])") == 4.0)
    // gauge delta extrapolates identically but has no zero cap: a
    // decreasing gauge scales last-first by the same factor
    val falling = Seq(10L -> 140.0, 20L -> 130.0, 30L -> 120.0,
      40L -> 110.0, 50L -> 100.0)
    assert(eval(falling, "delta(c[60s])") == -60.0)
  }

  test("irate/idelta use only the last two samples, reset-aware") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // samples: (990, 5), (995, 3) <- counter reset, (998, 4)
    val m = Seq(("c", Map("i" -> "a"), 5.0, 990L),
      ("c", Map("i" -> "a"), 3.0, 995L),
      ("c", Map("i" -> "a"), 4.0, 998L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Double = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).head
    assert(eval("idelta(c[1h])") == 1.0) // 4 - 3, reset at 995 invisible
    assert(eval("irate(c[1h])") == 1.0 / 3.0) // (4-3)/(998-995)
    // a reset in the last pair: only (995,3),(998,4) window
    val m2 = m.filter(col("es") >= 995L || col("value") === 5.0)
    def eval2(q: String): Double = graft.promql.PromEval
      .evalInstant(m2, graft.promql.PromParser.parse(q), 996L)
      .collect().map(_.getAs[Double]("value")).head
    // window at t=996 covers (990,5),(995,3): reset -> irate = v_last/span
    assert(eval2("irate(c[1h])") == 3.0 / 5.0)
  }

  test("deriv fits the exact slope; predict_linear extrapolates it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // perfect line v = 0.1 * (e - 900): slope must be exactly 0.1
    val m = Seq(("g", Map("i" -> "a"), 1.0, 910L),
      ("g", Map("i" -> "a"), 2.0, 920L),
      ("g", Map("i" -> "a"), 3.0, 930L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Double = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).head
    assert(eval("deriv(g[100s])") == 0.1)
    // intercept at window start is 0, so prediction = 0.1 * (100 + 50)
    assert(eval("predict_linear(g[100s], 50)") == 0.1 * 150.0)
    // a single sample (or equal timestamps) yields no slope
    val one = m.limit(1)
    assert(graft.promql.PromEval.evalInstant(one,
      graft.promql.PromParser.parse("deriv(g[100s])"), 1000L).count() == 0)
  }

  test("label_join concatenates; label_replace is anchored and can remove") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("env" -> "prod", "dc" -> "eu"), 1.0, 995L),
      ("m", Map("env" -> "dev"), 2.0, 996L)) // dc missing on the second
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def keys(q: String): Set[String] = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[String]("skey")).toSet
    // missing src contributes the empty string
    assert(keys("""label_join(m, "ed", "-", "env", "dc")""") ==
      Set("""{"dc":"eu","ed":"prod-eu","env":"prod"}""",
        """{"ed":"dev-","env":"dev"}"""))
    // anchored match rewrites dst; non-match leaves the series untouched
    assert(keys("""label_replace(m, "tier", "$1-x", "env", "(pr.*)")""") ==
      Set("""{"dc":"eu","env":"prod","tier":"prod-x"}""",
        """{"env":"dev"}"""))
    // partial match is NOT enough (the regex is anchored)
    assert(keys("""label_replace(m, "tier", "x", "env", "r")""") ==
      Set("""{"dc":"eu","env":"prod"}""", """{"env":"dev"}"""))
    // empty replacement removes the destination label
    assert(keys("""label_replace(m, "dc", "", "env", ".*")""") ==
      Set("""{"env":"prod"}""", """{"env":"dev"}"""))
  }

  test("vector-vector comparison filters on matched keys; bool scores pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("x", Map("i" -> "a"), 5.0, 995L), ("x", Map("i" -> "b"), 1.0, 996L),
      ("x", Map("i" -> "c"), 7.0, 996L), // no matching y: drops
      ("y", Map("i" -> "a"), 3.0, 995L), ("y", Map("i" -> "b"), 2.0, 996L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(r => r.getAs[String]("skey") -> r.getAs[Double]("value"))
      .toMap
    // filter form keeps the left value on satisfied, matched keys only
    assert(eval("x > y") == Map("""{"i":"a"}""" -> 5.0))
    // bool form scores every matched pair 1/0
    assert(eval("x > bool y") ==
      Map("""{"i":"a"}""" -> 1.0, """{"i":"b"}""" -> 0.0))
    // precedence end-to-end: (x / y) > 1 keeps only the a-series ratio
    // (5/3); b's ratio 1/2 filters out — under the old tighter-than-arith
    // precedence this would have parsed as x / (y > 1) instead
    assert(eval("x / y > 1") ==
      Map("""{"i":"a"}""" -> 5.0 / 3.0))
  }

  test("time-component fns are exact UTC integer math") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 2024-01-30 13:47:21 UTC = 1706622441
    val m = Seq(("m", Map("i" -> "a"), 1706622441.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Double = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).head
    assert(eval("hour(m)") == 13.0)
    assert(eval("minute(m)") == 47.0)
    assert(eval("day_of_week(m)") == 2.0) // 2024-01-30 is a Tuesday
    assert(eval("day_of_month(m)") == 30.0)
    assert(eval("month(m)") == 1.0)
    assert(eval("year(m)") == 2024.0)
  }

  test("clamp with lo > hi yields NaN per Prometheus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 4.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val out = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("clamp(m, 5, 2)"), 1000L)
      .collect().map(_.getAs[Double]("value"))
    assert(out.length == 1 && out(0).isNaN)
  }

  test("group_left with a duplicate 'one'-side series raises") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("a", Map("u" -> "1", "k" -> "p"), 10.0, 995L),
      ("a", Map("u" -> "1", "k" -> "q"), 20.0, 995L),
      ("b", Map("u" -> "1", "k" -> "x"), 2.0, 995L),
      ("b", Map("u" -> "1", "k" -> "y"), 4.0, 995L)) // two one-side rows per u
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val dup = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("a / on(u) group_left b"), 1000L)
    val e = intercept[Exception](dup.collect())
    assert(e.getMessage != null) // Spark wraps the assert_true error
    // and the healthy path still works once the one side is aggregated
    val ok = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("a / on(u) group_left sum by (u) (b)"),
      1000L).collect().map(_.getAs[Double]("value")).sorted.toSeq
    assert(ok == Seq(10.0 / 6.0, 20.0 / 6.0))
  }

  test("bare one-to-one matching raises on duplicate match keys (either side)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two 'a' series and two 'b' series collapse to the same on(u) key:
    // Prometheus one-to-one matching errors ("found duplicate series for
    // the match group") instead of pairing every match — deviation 6 is
    // closed, arithmetic AND comparison forms
    val m = Seq(
      ("a", Map("u" -> "1", "k" -> "p"), 10.0, 995L),
      ("a", Map("u" -> "1", "k" -> "q"), 20.0, 995L),
      ("b", Map("u" -> "1", "k" -> "x"), 2.0, 995L),
      ("b", Map("u" -> "1", "k" -> "y"), 4.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def run(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L).collect()
    val eAdd = intercept[Exception](run("a + on(u) b"))
    assert(eAdd.getMessage != null)
    val eCmp = intercept[Exception](run("a > on(u) b"))
    assert(eCmp.getMessage != null)
    // right-side duplicates alone also raise (left side unique)
    val eRight = intercept[Exception](run("""a{k="p"} + on(u) b"""))
    assert(eRight.getMessage != null)
    // healthy path: unique keys on both sides flow through unchanged,
    // filter-form comparison keeps the LEFT series' full label set
    val ok = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("""a{k="p"} + on(u) b{k="x"}"""), 1000L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(ok == Seq(12.0))
    val okCmp = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("""a{k="q"} > on(u) b{k="y"}"""), 1000L)
      .collect().map(r => (r.getAs[String]("skey"), r.getAs[Double]("value")))
    assert(okCmp.length == 1 && okCmp(0)._2 == 20.0 &&
      okCmp(0)._1.contains("\"k\":\"q\""))
  }

  test("structurally-unique operands skip the duplicate guard; others keep it") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("a", Map("u" -> "1", "k" -> "p"), 10.0, 995L),
      ("a", Map("u" -> "1", "k" -> "q"), 20.0, 995L),
      ("b", Map("u" -> "1", "k" -> "x"), 2.0, 995L),
      ("b", Map("u" -> "1", "k" -> "y"), 4.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def plan(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .queryExecution.executedPlan.toString
    // both sides by-aggregated to the match labels: uniqueness is
    // structural, so neither side pays the duplicate guard — whose
    // plan signature is a min(struct(...)) SortAggregate pipeline
    // (the selector's latest-sample max(struct) is also a
    // SortAggregate, so the guard is identified by its MIN; round 18)
    assert(!plan("sum by (u) (a) + on(u) sum by (u) (b)")
      .contains("min(struct"))
    // an unproven side (raw selector) keeps the guard in-plan…
    assert(plan("sum by (u) (a) + on(u) b").contains("min(struct"))
    // …and it still fires at execution on real duplicates
    val e = intercept[Exception](graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("sum by (u) (a) + on(u) b"), 1000L)
      .collect())
    assert(e.getMessage != null)
    // and the proven form computes the right value: sum(a)=30, sum(b)=6
    val ok = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("sum by (u) (a) + on(u) sum by (u) (b)"),
      1000L).collect().map(_.getAs[Double]("value")).toSeq
    assert(ok == Seq(36.0))
    // with the guard skipped AND the latest-sample pair on a flat
    // buffer (graft_latest), the whole pipeline is hash-aggregated:
    // no SortAggregate node anywhere in the proven plan (round 18)
    val proven = plan("sum by (u) (a) + on(u) sum by (u) (b)")
    assert(!proven.contains("SortAggregate") &&
      proven.contains("graft_latest"))
  }

  test("round/sgn/group/quantile-agg/count_values evaluate correctly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("m", Map("cl" -> "a", "i" -> "1"), 1.0, 995L),
      ("m", Map("cl" -> "a", "i" -> "2"), 2.0, 995L),
      ("m", Map("cl" -> "a", "i" -> "3"), 4.0, 995L),
      ("m", Map("cl" -> "b", "i" -> "4"), -2.5, 995L),
      ("m", Map("cl" -> "b", "i" -> "5"), 4.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(r => r.getAs[String]("skey") -> r.getAs[Double]("value"))
      .toMap
    // ties round up: -2.5 -> -2; to=2 multiples: 4.0 stays, 1.0 -> 2
    assert(eval("""round(m{i="4"})""").values.toSeq == Seq(-2.0))
    assert(eval("""round(m{i="1"}, 2)""").values.toSeq == Seq(2.0))
    assert(eval("""sgn(m{cl="b"})""").values.toSet == Set(-1.0, 1.0))
    // group: 1.0 per group key
    assert(eval("group by (cl) (m)") ==
      Map("""{"cl":"a"}""" -> 1.0, """{"cl":"b"}""" -> 1.0))
    // quantile across series: cl=a has {1,2,4}, median 2; interpolated
    // p75 of {1,2,4} is rank 1.5 -> 2 + 0.5*(4-2) = 3
    assert(eval("quantile by (cl) (0.5, m)")("""{"cl":"a"}""") == 2.0)
    assert(eval("quantile by (cl) (0.75, m)")("""{"cl":"a"}""") == 3.0)
    // count_values: 4.0 appears twice (once per cl), integer-formatted
    assert(eval("""count_values("v", m)""") ==
      Map("""{"v":"1"}""" -> 1.0, """{"v":"2"}""" -> 1.0,
        """{"v":"4"}""" -> 2.0, """{"v":"-2.5"}""" -> 1.0))
    assert(eval("""count_values by (cl) ("v", m)""")("""{"cl":"b","v":"4"}""") == 1.0)
  }

  test("scalar() broadcasts over a vector; NaN when not exactly one series") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("x", Map("i" -> "a"), 6.0, 995L), ("x", Map("i" -> "b"), 2.0, 996L),
      ("t", Map("i" -> "z"), 4.0, 995L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(r => r.getAs[String]("skey") -> r.getAs[Double]("value"))
      .toMap
    // share-of-total: x / scalar(sum(x))
    assert(eval("x / scalar(sum(x))") ==
      Map("""{"i":"a"}""" -> 0.75, """{"i":"b"}""" -> 0.25))
    // scalar side on the left
    assert(eval("scalar(t) - x") ==
      Map("""{"i":"a"}""" -> -2.0, """{"i":"b"}""" -> 2.0))
    // two series under scalar() -> NaN
    assert(eval("scalar(x)").values.head.isNaN)
    // vector() and time() standalone
    assert(eval("vector(7)") == Map("{}" -> 7.0))
    assert(eval("time()") == Map("{}" -> 1000.0))
    // vector() as the one-series side of a bare binop
    assert(eval("vector(2) * scalar(t)") == Map("{}" -> 8.0))
  }

  test("range-evaluated *_over_time: window edges are (g-w, g]") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // samples at e=100 (== g-w for g=400, w=300: excluded there),
    // e=400 (== g: included), e=401 (> g: excluded at g=400)
    val m = Seq(("m", Map("i" -> "a"), 1.0, 100L),
      ("m", Map("i" -> "a"), 5.0, 400L),
      ("m", Map("i" -> "a"), 9.0, 401L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val out = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("sum_over_time(m[300s])"),
      g0 = 200L, g1 = 600L, stepSec = 100L, lookbackSec = 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value"))
      .toMap
    // g=200,300: only e=100 in window; g=400: (100,400] EXCLUDES the
    // e=100 sample sitting exactly on the open left edge, includes
    // e=400 on the closed right edge; g=500,600: e=400 and e=401
    assert(out == Map(200L -> 1.0, 300L -> 1.0, 400L -> 5.0,
      500L -> 14.0, 600L -> 14.0))
  }

  test("grid surface: pointwise, comparison, set ops, topk per point") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two series of metric m plus one of t, constant over the grid via
    // the 300s lookback, sampled before the [400, 600]x100 grid
    val m = Seq(
      ("m", Map("i" -> "a"), 4.0, 390L), ("m", Map("i" -> "b"), -2.5, 391L),
      ("t", Map("i" -> "a"), 3.0, 392L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse(q), 400L, 600L, 100L, 300L)
      .collect()
      .map(r => (r.getAs[String]("skey"), r.getAs[Long]("g")) ->
        r.getAs[Double]("value")).toMap
    val pts = Seq(400L, 500L, 600L)
    // pointwise over every grid point
    assert(eval("abs(m)") == pts.flatMap(g => Seq(
      ("""{"i":"a"}""", g) -> 4.0, ("""{"i":"b"}""", g) -> 2.5)).toMap)
    assert(eval("round(m, 2)") == pts.flatMap(g => Seq(
      ("""{"i":"a"}""", g) -> 4.0, ("""{"i":"b"}""", g) -> -2.0)).toMap)
    assert(eval("clamp(m, 0, 1)") == pts.flatMap(g => Seq(
      ("""{"i":"a"}""", g) -> 1.0, ("""{"i":"b"}""", g) -> 0.0)).toMap)
    // comparison joins per (series, point); only i=a matches t
    assert(eval("m > t") == pts.map(g => ("""{"i":"a"}""", g) -> 4.0).toMap)
    // set ops per point
    assert(eval("m and t") == pts.map(g => ("""{"i":"a"}""", g) -> 4.0).toMap)
    assert(eval("m unless t") ==
      pts.map(g => ("""{"i":"b"}""", g) -> -2.5).toMap)
    // topk(1) per point keeps the max series at every point
    assert(eval("topk(1, m)") == pts.map(g => ("""{"i":"a"}""", g) -> 4.0).toMap)
  }

  test("grid irate/resets/changes: instant family per grid point") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("c", Map("i" -> "a"), 5.0, 100L),
      ("c", Map("i" -> "a"), 3.0, 250L),
      ("c", Map("i" -> "a"), 4.0, 390L),
      ("c", Map("i" -> "a"), 1.0, 450L)) // reset inside g=500's window
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse(q), 400L, 500L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value")).toMap
    // g=400 window (100,400]: (250,3),(390,4); g=500 (200,500]: +(450,1)
    assert(eval("irate(c[300s])") ==
      Map(400L -> 1.0 / 140.0, 500L -> 1.0 / 60.0)) // reset: v_last/span
    assert(eval("idelta(c[300s])") == Map(400L -> 1.0, 500L -> -3.0))
    assert(eval("resets(c[300s])") == Map(400L -> 0.0, 500L -> 1.0))
    assert(eval("changes(c[300s])") == Map(400L -> 1.0, 500L -> 2.0))
  }

  test("grid deriv fits each window's own slope") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // line v = 0.1*(e-100) on 200..390; a flat tail from 450
    val m = Seq(("g", Map("i" -> "a"), 10.0, 200L),
      ("g", Map("i" -> "a"), 20.0, 300L),
      ("g", Map("i" -> "a"), 29.0, 390L),
      ("g", Map("i" -> "a"), 29.0, 450L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String) = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse(q), 400L, 500L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value")).toMap
    val out = eval("deriv(g[300s])")
    // g=400 window (100,400]: exact line through (200,10),(300,20) plus
    // (390,29) — least squares slope close to 0.1 but not exact (29 vs
    // the line's 29.0... the line gives 0.1*(390-100)=29: exact!)
    assert(math.abs(out(400L) - 0.1) < 1e-12)
    // g=500 window (200,500]: the flat tail drags the slope below 0.1
    assert(out(500L) < 0.1 && out(500L) > 0.0)
  }

  test("grid quantile_over_time and histogram_quantile per point") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // quantile over the moving window: samples 1,2,4 all inside each
    // window at g=400 (w=300: (100,400] covers e=200,300,390)
    val m = Seq(("m", Map("i" -> "a"), 1.0, 200L),
      ("m", Map("i" -> "a"), 2.0, 300L),
      ("m", Map("i" -> "a"), 4.0, 390L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val qr = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("quantile_over_time(0.5, m[300s])"),
      400L, 500L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value")).toMap
    assert(qr(400L) == 2.0) // median of {1,2,4}
    assert(qr(500L) == 3.0) // window (200,500]: {2,4} -> interpolated 3
    // histogram buckets constant over the grid via lookback
    val b = Seq(
      ("b", Map("job" -> "x", "le" -> "1.0"), 10.0, 390L),
      ("b", Map("job" -> "x", "le" -> "2.0"), 30.0, 390L),
      ("b", Map("job" -> "x", "le" -> "+Inf"), 40.0, 390L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val hr = graft.promql.PromEval.evalGrid(b,
      graft.promql.PromParser.parse("histogram_quantile(0.5, b)"),
      400L, 500L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value")).toMap
    assert(hr == Map(400L -> 1.5, 500L -> 1.5))
  }

  test("parsed flagship == hand-built flagship on fixtures") {
    val sf = "/root/testdata/sf0.001"
    val a = graft.queries.PromQueries.flagship(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = graft.queries.PromQueries.parsedFlagship(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a.nonEmpty && a == b)
  }

  test("comparison RHS parses a full arithmetic chain") {
    import graft.promql.PromParser._
    // literal-only RHS constant-folds back to the scalar comparison form
    val FilterCmp(_, ">", v1) = parse("a > 2 + 1"): @unchecked
    assert(v1 == 3.0)
    val BoolCmp(_, "<", v2) = parse("a < bool 100 * 0.5"): @unchecked
    assert(v2 == 50.0)
    // literal × vector stays a vector-vector comparison
    val VecCmp(">", _, VecBin("*", NumLit(h), _: Selector, None, None, None, _),      false, None, None) = parse("a > 0.5 * b"): @unchecked
    assert(h == 0.5)
    // scalar()-headed RHS
    val VecCmp(">=", _, VecBin("*", NumLit(_), ScalarFn(_), None, None, None, _),      false, None, None) = parse("a >= 0.5 * scalar(max(a))"): @unchecked
  }

  test("vector-scalar comparison filters/scores against the broadcast value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 1.0, 990L),
      ("m", Map("i" -> "b"), 5.0, 990L),
      ("m", Map("i" -> "c"), 9.0, 990L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Map[String, Double] = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect()
      .map(r => r.getAs[String]("skey") -> r.getAs[Double]("value")).toMap
    // filter form keeps the vector's values; scalar side = max = 9
    assert(eval("m >= 0.5 * scalar(max(m))") ==
      Map("""{"i":"b"}""" -> 5.0, """{"i":"c"}""" -> 9.0))
    // bool form scores every series; time() = 1000 as a scalar operand
    assert(eval("m > bool scalar(min(m)) + 1") ==
      Map("""{"i":"a"}""" -> 0.0, """{"i":"b"}""" -> 1.0,
        """{"i":"c"}""" -> 1.0))
    // scalar on the LEFT: filters the vector side too
    assert(eval("scalar(min(m)) + 4 < m") == Map("""{"i":"c"}""" -> 9.0))
    // comparison against time(): every value is below the eval instant
    assert(eval("m < bool time()").values.toSeq == Seq(1.0, 1.0, 1.0))
    // matching modifiers on a scalar operand error loudly
    intercept[IllegalArgumentException] {
      graft.promql.PromEval.evalInstant(m,
        graft.promql.PromParser.parse("m * on(i) scalar(max(m))"), 1000L)
    }
  }

  test("grid scalar-typed operands: per-point broadcast join") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 2.0, 390L),
      ("m", Map("i" -> "b"), 6.0, 390L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    // scalar(sum(m)) per point = 8 where both series visible
    val r = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("m > 0.5 * scalar(sum(m))"),
      400L, 500L, 100L, 300L)
      .collect()
      .map(r => (r.getAs[String]("skey"), r.getAs[Long]("g")) ->
        r.getAs[Double]("value")).toMap
    assert(r == Map(("""{"i":"b"}""", 400L) -> 6.0,
      ("""{"i":"b"}""", 500L) -> 6.0))
    // time() on the grid is the point itself; scalar() of an empty
    // vector is NaN at every point (dense over the grid)
    val t = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("m < bool time()"),
      400L, 500L, 100L, 300L).collect()
    assert(t.length == 4 && t.forall(_.getAs[Double]("value") == 1.0))
    val nan = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("scalar(nope)"),
      400L, 500L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value"))
    assert(nan.length == 2 && nan.forall(_._2.isNaN))
  }

  test("trig family evaluates pointwise (spec-only, libm rule)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 0.5, 990L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Double = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).head
    assert(eval("sin(m)") == math.sin(0.5))
    assert(eval("cos(m)") == math.cos(0.5))
    assert(eval("atan(tan(m))") == math.atan(math.tan(0.5)))
    assert(eval("asin(m)") == math.asin(0.5))
    assert(eval("tanh(m)") == math.tanh(0.5))
    assert(eval("deg(m)") == math.toDegrees(0.5))
    assert(eval("rad(deg(m))") == 0.5)
    // the hyperbolic identity, exercising * above - in the real tiers
    assert(eval("cosh(m) * cosh(m) - sinh(m) * sinh(m)") > 0.999)
    // atan2: keyword binop, scalar and vector-vector forms (libm rule)
    assert(eval("m atan2 2") == math.atan2(0.5, 2.0))
    assert(eval("m atan2 m") == math.atan2(0.5, 0.5))
  }

  test("mad_over_time: median of absolute deviations around the median") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // values 1..5 → median 3, deviations {2,1,0,1,2} → MAD 1
    val m = (1 to 5).map(i => ("m", Map("i" -> "a"), i.toDouble, 900L + i))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val out = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse("mad_over_time(m[5m])"), 1000L)
      .collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 1.0)
    // grid form: same value at every aligned point while the window holds
    val g = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse("mad_over_time(m[5m])"),
        1020L, 1080L, 60L, 300L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(g == Seq(1.0, 1.0))
  }

  test("limit_ratio(r) and limit_ratio(r-1) partition the vector exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = (1 to 40).map(i => ("m", Map("i" -> i.toString), i.toDouble, 990L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def keys(q: String): Set[String] = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[String]("skey")).toSet
    val all = keys("m")
    val kept = keys("limit_ratio(0.3, m)")
    val rest = keys("limit_ratio(-0.7, m)")
    assert(kept.intersect(rest).isEmpty)
    assert(kept.union(rest) == all)
    assert(kept.nonEmpty && rest.nonEmpty) // 40 series: both sides populated
    // limitk: the k smallest canonical keys, whole-series selection
    val lk = keys("limitk(5, m)")
    assert(lk == all.toSeq.sorted.take(5).toSet)
    // grid forms agree with the instant rule at every point
    val gkept = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse("limit_ratio(0.3, m)"),
        1020L, 1080L, 60L, 300L)
      .collect().map(_.getAs[String]("skey")).toSet
    assert(gkept == kept)
    val glk = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse("limitk by (i) (1, m)"),
        1020L, 1080L, 60L, 300L)
    assert(glk.count() == all.size * 2) // own group × grid points {1020, 1080}
  }

  test("holt_winters reproduces the Prometheus recursion exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vals = Seq(10.0, 12.0, 13.0, 17.0)
    val m = vals.zipWithIndex.map { case (v, i) =>
      ("m", Map("i" -> "a"), v, 900L + 10 * i) }
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    // scala reference of the Prometheus algorithm
    def ref(vs: Seq[Double], sf: Double, tf: Double): Double = {
      var s0 = 0.0; var s1 = vs.head; var b = Double.NaN; var first = true
      vs.tail.foreach { v =>
        val b0 = if (first) { first = false; v - s1 }
                 else tf * (s1 - s0) + (1 - tf) * b
        val next = sf * v + (1 - sf) * (s1 + b0)
        s0 = s1; s1 = next; b = b0
      }
      s1
    }
    val got = graft.promql.PromEval.evalInstant(m,
      graft.promql.PromParser.parse("holt_winters(m[1h], 0.3, 0.5)"), 1000L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(got == Seq(ref(vals, 0.3, 0.5)))
    // below two samples -> no output; factor range enforced at parse
    val one = m.filter(col("es") === 900L)
    assert(graft.promql.PromEval.evalInstant(one,
      graft.promql.PromParser.parse("holt_winters(m[1h], 0.3, 0.5)"), 1000L)
      .count() == 0)
    intercept[IllegalArgumentException](
      graft.promql.PromParser.parse("holt_winters(m[1h], 1.5, 0.5)"))
  }

  test("absent_over_time flags empty ranges; grid absents per point") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 1.0, 350L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def one(q: String, at: Long) = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), at).collect()
    assert(one("absent_over_time(m[100s])", 400L).isEmpty) // sample at 350
    val hit = one("absent_over_time(m[100s])", 1000L) // window (900,1000]
    assert(hit.length == 1 && hit(0).getAs[Double]("value") == 1.0)
    assert(one("""absent_over_time(m{i="zzz"}[100s])""", 400L).length == 1)
    // grid: absent at points whose window misses the sample
    val g = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("absent_over_time(m[100s])"),
      400L, 600L, 100L, 300L)
      .collect().map(_.getAs[Long]("g")).sorted.toSeq
    assert(g == Seq(500L, 600L)) // 400 covered by (300,400]
    val gi = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("absent(m)"),
      400L, 800L, 100L, 300L) // staleness 300s: present at 400..650
      .collect().map(_.getAs[Long]("g")).sorted.toSeq
    assert(gi == Seq(700L, 800L))
  }

  test("@-pinned expressions are constant across the grid") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(
      ("m", Map("i" -> "a"), 1.0, 350L),
      ("m", Map("i" -> "a"), 5.0, 380L),
      ("m", Map("i" -> "a"), 9.0, 550L)) // outside the pinned window
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def grid(q: String) = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse(q), 400L, 600L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value"))
      .toMap
    // selector @ 400: latest visible sample at t=400 is 5.0, at EVERY point
    assert(grid("m @ 400") == Map(400L -> 5.0, 500L -> 5.0, 600L -> 5.0))
    // over-time family @: window (300,400] sums 1+5, constant over grid
    assert(grid("sum_over_time(m[100s] @ 400)") ==
      Map(400L -> 6.0, 500L -> 6.0, 600L -> 6.0))
    // offset applies relative to @ (window (250,350] has only the 1.0)
    assert(grid("sum_over_time(m[100s] @ 450 offset 100s)") ==
      Map(400L -> 1.0, 500L -> 1.0, 600L -> 1.0))
    // absent_over_time @ a window with no samples: 1.0 at every point
    assert(grid("absent_over_time(m[100s] @ 800)") ==
      Map(400L -> 1.0, 500L -> 1.0, 600L -> 1.0))
    // @ start() pins to the range's first point (window (300,400]),
    // @ end() to its last (window (500,600] holds only the 9.0)
    assert(grid("sum_over_time(m[100s] @ start())") ==
      Map(400L -> 6.0, 500L -> 6.0, 600L -> 6.0))
    assert(grid("sum_over_time(m[100s] @ end())") ==
      Map(400L -> 9.0, 500L -> 9.0, 600L -> 9.0))
  }

  test("histogram_fraction over classic buckets: interpolation and edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // cumulative buckets le=1:10, le=2:30, le=4:60, +Inf:100 (40 in the
    // unbounded bucket)
    val m = Seq("1" -> 10.0, "2" -> 30.0, "4" -> 60.0, "+Inf" -> 100.0)
      .map { case (le, c) => ("hb", Map("le" -> le), c, 500L) }
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def frac(q: String): Double = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 500L)
      .collect().map(_.getAs[Double]("value")).head
    // bucket-boundary bounds are exact cumulative counts
    assert(frac("histogram_fraction(1, 2, hb)") == (30.0 - 10.0) / 100.0)
    // interior bounds interpolate linearly: cum(1.5)=20, cum(3)=45
    assert(frac("histogram_fraction(1.5, 3, hb)") == (45.0 - 20.0) / 100.0)
    // lo <= 0 anchors at zero; first-bucket interpolation from 0
    assert(frac("histogram_fraction(0, 0.5, hb)") == 5.0 / 100.0)
    // finite bound beyond the last finite le clamps to its cumulative
    // (stated: no interpolation into +Inf)
    assert(frac("histogram_fraction(4, 99, hb)") == 0.0)
    // +Inf upper bound counts the unbounded bucket's mass
    assert(frac("histogram_fraction(4, Inf, hb)") == 40.0 / 100.0)
    assert(frac("histogram_fraction(-Inf, Inf, hb)") == 1.0)
    // malformed bounds reject at parse
    intercept[IllegalArgumentException](
      graft.promql.PromParser.parse("histogram_fraction(2, 1, hb)"))
    // native-only family members reject loudly (README deviation 13)
    intercept[IllegalArgumentException](
      graft.promql.PromParser.parse("histogram_count(hb)"))
  }

  test("@ start()/end() resolve to the OUTER query's bounds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.promql.{PromParser, PromEval}
    // parse shapes
    val s = PromParser.parse("up @ start()").asInstanceOf[PromParser.Selector]
    assert(s.atEdge.contains(PromParser.AtStart) && s.atSec.isEmpty)
    val e = PromParser.parse("up @ end()").asInstanceOf[PromParser.Selector]
    assert(e.atEdge.contains(PromParser.AtEnd))
    intercept[IllegalArgumentException](PromParser.parse("up @ mid()"))
    // instant query: start() = end() = eval time, so the edge pin is a
    // no-op even INSIDE a subquery (Prometheus scopes @ to the query,
    // never to the subquery's derived grid)
    val m = Seq(
      ("m", Map("i" -> "a"), 1.0, 350L),
      ("m", Map("i" -> "a"), 5.0, 380L),
      ("m", Map("i" -> "a"), 9.0, 550L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def inst(q: String): Seq[Double] = PromEval
      .evalInstant(m, PromParser.parse(q), 600L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(inst("sum_over_time(m[300s] @ end())") ==
      inst("sum_over_time(m[300s])"))
    // subquery whose inner selector pins to the outer instant (600):
    // every inner grid point sees the @600 instant value 9.0
    assert(inst("max_over_time((m @ end())[200s:100s])") == Seq(9.0))
    assert(inst("max_over_time((m @ start())[200s:100s])") == Seq(9.0))
  }

  test("subquery-level offset/@ modifiers rebase the whole subquery") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.promql.{PromParser, PromEval}
    val m = Seq(
      ("m", Map("i" -> "a"), 1.0, 350L),
      ("m", Map("i" -> "a"), 5.0, 380L),
      ("m", Map("i" -> "a"), 9.0, 550L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def inst(q: String): Seq[Double] = PromEval
      .evalInstant(m, PromParser.parse(q), 600L)
      .collect().map(_.getAs[Double]("value")).toSeq
    // offset: the subquery evaluates as if now were 400 — its grid
    // points (300, 400] see only the first two samples
    assert(inst("max_over_time(last_over_time(m[100s])[200s:100s] offset 200s)")
      == inst("max_over_time(last_over_time(m[100s])[200s:100s] @ 400)"))
    assert(inst("max_over_time(last_over_time(m[100s])[200s:100s] @ 400)")
      == Seq(5.0))
    // @ end() on the subquery == unmodified (instant query bounds)
    assert(inst("max_over_time(last_over_time(m[100s])[200s:100s] @ end())")
      == inst("max_over_time(last_over_time(m[100s])[200s:100s])"))
    def grid(q: String) = PromEval.evalGrid(m,
      PromParser.parse(q), 400L, 600L, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value"))
      .toMap
    // grid + subquery offset: each point g answers as of g - 200 — at
    // g=400/500 the rebased instants (200/300) predate every sample's
    // 100s last_over_time window, so only g=600 (as of 400) emits
    assert(grid("max_over_time(last_over_time(m[100s])[100s:100s] offset 200s)")
      == Map(600L -> 5.0))
    // grid + @-pinned subquery: one evaluation replicated
    assert(grid("max_over_time(last_over_time(m[100s])[100s:100s] @ 400)")
      == Map(400L -> 5.0, 500L -> 5.0, 600L -> 5.0))
    // misaligned grid offset rejects loudly
    intercept[IllegalArgumentException](
      grid("max_over_time(last_over_time(m[100s])[100s:100s] offset 250s)"))
  }

  test("grid offset on quantile_over_time and deriv shifts the window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "a"), 1.0, 200L),
      ("m", Map("i" -> "a"), 2.0, 300L),
      ("m", Map("i" -> "a"), 4.0, 390L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def grid(q: String, g0: Long, g1: Long) = graft.promql.PromEval
      .evalGrid(m, graft.promql.PromParser.parse(q), g0, g1, 100L, 300L)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Double]("value")).toMap
    // offset 100s at g is the unshifted value at g-100, relabeled
    val plain = grid("quantile_over_time(0.5, m[300s])", 400L, 500L)
    val off = grid("quantile_over_time(0.5, m[300s] offset 100s)", 500L, 600L)
    assert(off == Map(500L -> plain(400L), 600L -> plain(500L)))
    val dPlain = grid("deriv(m[300s])", 400L, 400L)
    val dOff = grid("deriv(m[300s] offset 200s)", 600L, 600L)
    assert(dOff(600L) == dPlain(400L))
  }

  test("regex matchers filter anchored; missing label matches empty") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val m = Seq(("m", Map("i" -> "ab", "j" -> "1"), 1.0, 990L),
      ("m", Map("i" -> "abc", "j" -> "2"), 2.0, 990L),
      ("m", Map("i" -> "zz"), 3.0, 990L)) // j missing -> matches ""
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Seq[Double] = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).sorted.toSeq
    assert(eval("""m{i=~"ab"}""") == Seq(1.0)) // anchored: no abc
    assert(eval("""m{i=~"ab.*"}""") == Seq(1.0, 2.0))
    assert(eval("""m{i=~"ab|zz"}""") == Seq(1.0, 3.0))
    assert(eval("""m{j!~"[0-9]"}""") == Seq(3.0)) // missing j -> ""
    assert(eval("""m{j=~"2?"}""") == Seq(2.0, 3.0)) // "" matches 2?
    assert(eval("""m{i=~".*", j!="1"}""") == Seq(2.0, 3.0))
    // stdvar/present over time evaluate
    assert(eval("present_over_time(m[1h])") == Seq(1.0, 1.0, 1.0))
    assert(eval("""stdvar_over_time(m{i=~"ab.*"}[1h])""") == Seq(0.0, 0.0))
  }

  test("irate pairs the last two DISTINCT timestamps on collisions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two samples share e=998 (second truncation); the winner is the
    // max-value one (4.0), paired with e=995 — NOT dropped
    val m = Seq(("c", Map("i" -> "a"), 3.0, 995L),
      ("c", Map("i" -> "a"), 2.0, 998L),
      ("c", Map("i" -> "a"), 4.0, 998L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    def eval(q: String): Seq[Double] = graft.promql.PromEval
      .evalInstant(m, graft.promql.PromParser.parse(q), 1000L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(eval("irate(c[1h])") == Seq((4.0 - 3.0) / (998 - 995)))
    assert(eval("idelta(c[1h])") == Seq(1.0))
    // grid form: same pairing per point
    val g = graft.promql.PromEval.evalGrid(m,
      graft.promql.PromParser.parse("idelta(c[300s])"),
      1000L, 1000L, 100L, 300L)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(g == Seq(1.0))
    // a series with ONLY colliding timestamps still drops
    val solo = m.filter(col("es") === 998L)
    assert(graft.promql.PromEval.evalInstant(solo,
      graft.promql.PromParser.parse("irate(c[1h])"), 1000L).count() == 0)
  }

  test("topk/bottomk: NaN never beats a number, instant and grid, global and grouped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one sample at 390 is visible at 400, 500 and 600 (lookback 300)
    val m = Seq(("m", Map("s" -> "a", "grp" -> "x"), 1.0),
      ("m", Map("s" -> "b", "grp" -> "x"), Double.NaN),
      ("m", Map("s" -> "c", "grp" -> "y"), 3.0),
      ("m", Map("s" -> "d", "grp" -> "y"), Double.NaN))
      .toDF("metric_name", "labels", "value")
      .withColumn("timestamp", timestamp_seconds(lit(390L)))
    def series(rows: Array[org.apache.spark.sql.Row]): Set[String] =
      rows.map(r => """"s":"(.)"""".r.findFirstMatchIn(r.getAs[String]("skey"))
        .get.group(1)).toSet
    val cases = Seq(
      "topk(1, m)" -> Set("c"), "bottomk(1, m)" -> Set("a"),
      "topk(2, m)" -> Set("a", "c"), "bottomk(2, m)" -> Set("a", "c"),
      // NaNs come last, skey breaking their tie
      "topk(3, m)" -> Set("a", "b", "c"), "bottomk(3, m)" -> Set("a", "b", "c"),
      "topk by (grp) (1, m)" -> Set("a", "c"),
      "bottomk by (grp) (1, m)" -> Set("a", "c"),
      "topk without (s) (1, m)" -> Set("a", "c"))
    for ((q, want) <- cases) {
      val expr = graft.promql.PromParser.parse(q)
      val inst = graft.promql.PromEval.evalInstant(m, expr, 500L).collect()
      assert(series(inst) == want && inst.length == want.size, s"instant $q")
      val grid = graft.promql.PromEval.evalGrid(m, expr, 400L, 600L, 100L, 300L)
        .collect()
      for (g <- Seq(400L, 500L, 600L)) {
        val at = grid.filter(_.getAs[Long]("g") == g)
        assert(series(at) == want && at.length == want.size, s"grid $q at $g")
      }
    }
  }

  test("range quantile across series: every grid point equals the one-point evaluation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 12 h of 15-minute samples for 4 clusters × 3 users, each series
    // rising at its own rate, so every point's quantile differs
    val e0 = 30 * 3600L
    val m = (for (i <- 0 until 48; c <- 0 until 4; u <- 0 until 3) yield
      ("x", Map("cluster_name" -> s"c$c", "user" -> s"u$u"),
        (i * (c + 1) + u).toDouble, e0 + i * 900L))
      .toDF("metric_name", "labels", "value", "es")
      .withColumn("timestamp", timestamp_seconds(col("es")))
    val expr = graft.promql.PromParser.parse(
      "quantile(0.9, max by (cluster_name) (max_over_time(x[6h])))")
    val (g0, g1, step) = (e0 + 6 * 3600L, e0 + 12 * 3600L, 3600L)
    val grid = graft.promql.PromEval.evalGrid(m, expr, g0, g1, step, 300L)
      .collect()
      .map(r => (r.getAs[Long]("g"), r.getAs[String]("skey"), r.getAs[Double]("value")))
      .toSet
    val points = (g0 to g1 by step).map { g =>
      graft.promql.PromEval.evalInstant(m, expr, g, 300L).collect()
        .map(r => (g, r.getAs[String]("skey"), r.getAs[Double]("value"))).toSet
    }
    assert(points.forall(_.size == 1), points)
    assert(points.map(_.head._3).distinct.size == points.size, points)
    assert(grid == points.reduce(_ ++ _))
  }
}
