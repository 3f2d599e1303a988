package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical audit of the statement cache's purity contract
  * (`TableCache.planCachedPack`): a cached builder must be a PURE plan
  * construction — no writes, no driver-side collects, no
  * CacheScope-tracked scratch frames, no streaming runs, no raw
  * persists — because the cache freezes its optimized plan for the
  * session and skips re-running the builder body entirely. The exempt
  * denylists next to each pack were previously hand-maintained against
  * an audit procedure described in comments; this spec ENCODES that
  * procedure so an unexempted impure builder fails CI instead of
  * silently corrupting its own gate.
  *
  * Method: parse the query-name → builder mapping out of each pack's
  * source, strip comments and string literals, build a call graph over
  * every `def`/`val` member in `src/main/scala/graft`, and walk each
  * builder transitively looking for impurity markers
  * (`CacheScope`, `.collect()`, `.write`, `writeStream`,
  * `createTempDirectory`, `.persist(`, `.unpersist(`,
  * `localCheckpoint`). The walk does NOT descend into audited PURE
  * BOUNDARIES — the session-memo helpers whose build goes through
  * `TableCache.persisted`/`getOrBuild` (which re-persist on eviction)
  * or `memoValue` (never evicted), and `TableCache` itself — because
  * their consumers stay cacheable by construction; each claimed
  * boundary is structurally re-verified here, not taken on faith.
  *
  * This is a source-level over-approximation on purpose: a false
  * positive (marker text reached through a helper that is genuinely
  * pure) fails loudly and is resolved by auditing and either exempting
  * the query or registering the helper as a verified boundary — exactly
  * the manual procedure, now with a tripwire.
  */
class StatementCachePuritySpec extends AnyFunSuite {

  private val srcRoot = new java.io.File("src/main/scala/graft")

  // ---- source model -------------------------------------------------

  /** All main-source files, raw text. */
  private lazy val files: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    assert(srcRoot.isDirectory, s"expected to run from the repo root; no $srcRoot")
    walk(srcRoot).map { f =>
      f.getPath -> new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Comment- and string-stripped view: impurity markers inside
    * scaladoc (which DISCUSSES CacheScope at length) or inside oracle
    * SQL text must not count.
    */
  private def stripped(text: String): String = {
    var s = text
    s = s.replaceAll("(?s)\"\"\".*?\"\"\"", "\"\"") // triple-quoted oracle SQL
    s = s.replaceAll("(?s)/\\*.*?\\*/", " ") // block comments / scaladoc
    s = s.replaceAll("\"(\\\\.|[^\"\\\\])*\"", "\"\"") // line strings
    s = s.replaceAll("//[^\n]*", "") // line comments
    s
  }

  /** Top-level object members (2-space-indented def/val),
    * (object, name) → body. Keying by enclosing object keeps an
    * unrelated same-named member in another object (PromClient also
    * has a `metricNames`) from polluting a builder's reachability.
    */
  private lazy val members: Map[(String, String), String] = membersOf(files)

  private def membersOf(fs: Seq[(String, String)]): Map[(String, String), String] = {
    val defRe = """\n  (?:private(?:\[\w+\])? )?(?:lazy val|def|val) (\w+)""".r
    val objRe = """(?:^|\n)(?:private )?(?:object|class|trait) (\w+)""".r
    val acc = scala.collection.mutable.Map.empty[(String, String), String]
    fs.foreach { case (_, raw) =>
      val s = stripped(raw)
      val objs = objRe.findAllMatchIn(s).map(m => m.start -> m.group(1)).toSeq
      def objAt(pos: Int): String =
        objs.takeWhile(_._1 < pos).lastOption.map(_._2).getOrElse("")
      val ms = defRe.findAllMatchIn(s).toSeq
      ms.zipWithIndex.foreach { case (m, i) =>
        val end = if (i + 1 < ms.size) ms(i + 1).start else s.length
        val key = (objAt(m.start), m.group(1))
        acc(key) = acc.getOrElse(key, "") + "\n" + s.substring(m.end, end)
      }
    }
    acc.toMap
  }

  private lazy val byName: Map[String, Seq[(String, String)]] =
    members.keys.toSeq.groupBy(_._2)

  /** Impurity markers, two tiers (round 12, closing the audit's silent
    * false-negative gaps):
    *
    *  - any-receiver patterns that are unambiguous in this codebase:
    *    `.cache(`/`.checkpoint(` (plan-invisible materialization),
    *    `.toLocalIterator`, `.head(`/`.first(` (idiomatic Scala
    *    collections use paren-less `.head` and the `first(col)`
    *    aggregate is a bare call, so the parenthesized method forms are
    *    DataFrame eager actions), and plan-frozen time — `current_date`
    *    / `current_timestamp` / zero-arg `unix_timestamp()` (Catalyst's
    *    ComputeCurrentTime would freeze the statement-cached plan's
    *    timestamp for the whole session), `Instant.now()` /
    *    `System.currentTimeMillis` (driver time frozen into the built
    *    plan);
    *  - call-CHAINED eager probes — `).head` / `).isEmpty` / `).take(`
    *    / paren-less `).collect` / `).count()` (empty parens or
    *    paren-less — the collections idiom `xs.count(pred)` always has
    *    a predicate argument) directly on a call result, the shape a
    *    DataFrame eager action actually takes (`df.agg(...).head`),
    *    which keeps the ubiquitous pure Seq/Option forms
    *    (`toks.isEmpty`, `args.head`, `on.isEmpty`) out of the match.
    *    Stated over-approximation: `groupBy(...).count()` — a LAZY
    *    grouped-count transformation — also matches the empty-paren
    *    form. That is accepted as convention enforcement, not fixed:
    *    every builder in this codebase aggregates via
    *    `agg(count(lit(1)))`, which a source-level audit can always
    *    tell from an action, so a builder adopting the ambiguous
    *    grouped-count idiom fails here and should be rewritten to the
    *    house form rather than exempted.
    *
    * Residual stated gap: an eager action whose receiver is a bare
    * identifier holding a DataFrame (`val d = ...; d.isEmpty`) escapes
    * a source-level audit; none exist today and the chained form is the
    * idiom every current site uses.
    */
  private val markerRe =
    ("""CacheScope|\.collect\(\)|\.write\b|writeStream|createTempDirectory""" +
      """|\.persist\(|\.unpersist\(|localCheckpoint""" +
      """|\.cache\(|\.checkpoint\(|\.toLocalIterator|\.head\(|\.first\(""" +
      """|\)\s*\.head\b|\)\s*\.isEmpty|\)\s*\.take\(|\)\s*\.collect\b(?![({\w])""" +
      """|\)\s*\.count\(\s*\)|\)\s*\.count\b(?![({\w])""" +
      """|current_date|current_timestamp|unix_timestamp\(\)""" +
      """|\bnow\(\)|System\.currentTimeMillis""").r

  private def markersIn(body: String): Seq[String] =
    markerRe.findAllIn(body).toSeq.distinct

  /** Session-memo guard helpers: builders that memoize a frame per
    * (session, dataset) through `TableCache.persisted`/`getOrBuild`,
    * which RE-PERSIST IT IF EVICTED (the one `storageLevel == NONE →
    * persist()` guard, inside TableCache), or a value through
    * `memoValue`, or TableCache's own entry points. Their one-time
    * build cost
    * (persist, an eager count, even a driver-side collect of a
    * codebook-sized value) is session state, not per-query work, so
    * those markers do NOT propagate to consumers. With ONE exception,
    * encoded in [[reachableMarkers]]: if the guard helper's build
    * pipeline routes the memoized frame through CacheScope (e.g.
    * `Dedup.jaccardPairs` persist-tracks its result), the next
    * `drain()` unpersists the frame and only a re-run of the helper
    * re-establishes it — so consumers of THAT helper must stay
    * statement-cache exempt, and the walk keeps looking for CacheScope
    * (and only CacheScope) through guard helpers.
    */
  // (members.toSeq, not members: collect-to-tuple on a Map would
  // rebuild a Map and silently drop same-object helpers)
  private lazy val guardHelpers: Set[(String, String)] = members.toSeq.collect {
    case (key, body)
        if guardCallRe.findFirstIn(body).nonEmpty &&
          !body.contains("CacheScope") && !body.contains("writeStream") &&
          !body.contains("createTempDirectory") =>
      key
  }.toSet ++ tableCacheBoundaries

  /** A call to one of TableCache's session-memo entry points: the two
    * re-persisting frame memos, and `memoValue`, whose driver-side
    * value (a codebook, a vocabulary size) is built once per session
    * and cannot be evicted at all.
    */
  private val guardCallRe = """\bTableCache\.(?:persisted|getOrBuild|memoValue)\s*\(""".r

  private val tableCacheBoundaries =
    Set("memo", "persisted", "getOrBuild", "widenedParquet", "planCachedPack")
      .map("TableCache" -> _)

  /** A member carrying its own re-persist guard. */
  private def ownGuard(body: String): Boolean =
    body.contains("StorageLevel.NONE") && body.contains(".persist(")

  /** Member names excluded from call-name resolution because they
    * collide with ubiquitous stdlib methods (`Map.get`, `Option.get`):
    * resolving them would wire every map lookup in a builder to an
    * unrelated engine member of the same name. Anything impure behind
    * these names is on driver-side ops paths (ConfigStore), not query
    * builders.
    */
  private val ambiguousNames = Set("get", "apply", "resolve")

  private lazy val qualCallRe = """(\w+)\.(\w+)\s*\(""".r
  private lazy val bareCallRe = """(?<![.\w])(\w+)\s*\(""".r

  /** Callees of a member body: qualified calls (`Obj.helper(…)`)
    * resolve to exactly that member when the qualifier names a known
    * object; bare calls resolve to the same-object member when one
    * exists, otherwise to every same-named member (over-approximation).
    */
  private def callees(owner: String, body: String): Seq[(String, String)] = {
    val qualified = qualCallRe.findAllMatchIn(body).toSeq.flatMap { m =>
      val key = (m.group(1), m.group(2))
      // unknown qualifiers (instance receivers, stdlib objects) resolve
      // to nothing — only a known Object.member edge is followed
      if (members.contains(key)) Seq(key) else Nil
    }
    val bare = bareCallRe.findAllMatchIn(body).toSeq.map(_.group(1))
      .filter(n => !ambiguousNames(n) && byName.contains(n))
      .flatMap { n =>
        if (members.contains((owner, n))) Seq((owner, n)) else byName(n)
      }
    (qualified ++ bare).distinct
  }

  /** Transitive impurity markers reachable from `root`. Descent into a
    * guard helper switches to CacheScope-only mode: its build-time
    * persists/collects are amortized session state, but a
    * CacheScope-tracked frame inside it is drain-vulnerable and DOES
    * make consumers exempt-required. The ROOT's own body is always
    * scanned in full, even if it carries a boundary-like guard.
    */
  private def reachableMarkers(root: (String, String)): Map[String, Seq[String]] = {
    // visited tracks the strictest mode a member was scanned in, so a
    // member reached both ways is scanned in full mode at least once
    val seen = scala.collection.mutable.Map.empty[(String, String), Boolean]
    val found = scala.collection.mutable.Map.empty[String, Seq[String]]
    def visit(key: (String, String), cacheScopeOnly: Boolean, isRoot: Boolean): Unit = {
      seen.get(key) match {
        case Some(prevOnly) if !prevOnly || prevOnly == cacheScopeOnly => return
        case _ => ()
      }
      seen(key) = cacheScopeOnly
      members.get(key).foreach { body =>
        val nextOnly = cacheScopeOnly || (!isRoot && guardHelpers(key))
        val ms =
          if (nextOnly) markersIn(body).filter(_ == "CacheScope")
          else markersIn(body)
        if (ms.nonEmpty) found(s"${key._1}.${key._2}") = ms
        callees(key._1, body).foreach(visit(_, nextOnly, isRoot = false))
      }
    }
    visit(root, cacheScopeOnly = false, isRoot = true)
    found.toMap
  }

  // ---- pack parsing -------------------------------------------------

  /** query name → builder method name, parsed from a pack's Map
    * literal (`"name" -> ((builder _, oracle))`, plus the one inline
    * lambda form `"name" -> (((s, d) => builder(s, d), oracle))`).
    */
  private def parsePack(file: String): Map[String, String] = {
    val raw = files.collectFirst { case (p, t) if p.endsWith(file) => t }
      .getOrElse(sys.error(s"no source file $file"))
    val eta = """"([a-z0-9_]+)"\s*->\s*\(\((\w+) _""".r
    val cur = """"([a-z0-9_]+)"\s*->\s*\(\((\w+)\("[^"]*"(?:,\s*"[^"]*")*\) _""".r
    val lam = """"([a-z0-9_]+)"\s*->\s*\(\(\(s: SparkSession, d: String\) => (\w+)\(""".r
    (eta.findAllMatchIn(raw).map(m => m.group(1) -> m.group(2)) ++
      cur.findAllMatchIn(raw).map(m => m.group(1) -> m.group(2)) ++
      lam.findAllMatchIn(raw).map(m => m.group(1) -> m.group(2))).toMap
  }

  private case class Pack(
      file: String,
      obj: String,
      registered: Map[String, ((org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, String)],
      exempt: Set[String])

  private lazy val packs = Seq(
    Pack("queries/ExtQueries.scala", "ExtQueries", graft.queries.ExtQueries.all,
      graft.queries.ExtQueries.statementCacheExempt),
    Pack("queries/AnalyticsQueries.scala", "AnalyticsQueries",
      graft.queries.AnalyticsQueries.all,
      graft.queries.AnalyticsQueries.statementCacheExempt),
    Pack("queries/PromQueries.scala", "PromQueries",
      graft.queries.PromQueries.all, Set.empty),
    Pack("queries/LifecycleQueries.scala", "LifecycleQueries",
      graft.queries.LifecycleQueries.all, Set.empty),
    Pack("queries/WarehouseQueries.scala", "WarehouseQueries",
      graft.queries.WarehouseQueries.all, Set.empty))

  // ---- the gates ----------------------------------------------------

  test("pack parser sees every registered entry") {
    packs.foreach { p =>
      val parsed = parsePack(p.file)
      val missing = p.registered.keySet -- parsed.keySet
      assert(missing.isEmpty,
        s"${p.file}: builder-name parse missed $missing — fix the regex, " +
          "the audit is blind to what it cannot parse")
    }
  }

  test("guard helpers carry the re-persist guard and no stream/tempdir use") {
    // structural re-verification of the guard-helper set itself:
    // everything classified as one either is a TableCache entry point
    // or calls persisted/getOrBuild/memoValue, and none of them touch
    // CacheScope, streams, or temp dirs in their own body
    (guardHelpers -- tableCacheBoundaries).foreach { b =>
      val body = members(b)
      assert(guardCallRe.findFirstIn(body).nonEmpty,
        s"guard helper $b no longer calls TableCache.persisted/getOrBuild/memoValue")
      assert(!body.contains("CacheScope") && !body.contains("writeStream"),
        s"guard helper $b is not a session-memo boundary")
    }
    // the guard itself: persisted and getOrBuild both route through the
    // one TableCache member that re-persists a frame whose storage
    // level is NONE
    val guards = members.toSeq.collect {
      case (key @ ("TableCache", _), body) if ownGuard(body) => key
    }
    assert(guards.size == 1, s"expected exactly one re-persist guard in TableCache: $guards")
    val guardCall = s"""\\b${guards.head._2}\\s*\\(""".r
    Seq("persisted", "getOrBuild").foreach { m =>
      assert(guardCall.findFirstIn(members("TableCache" -> m)).nonEmpty,
        s"TableCache.$m does not go through the re-persist guard ${guards.head._2}")
    }
    // and the set is non-trivial — the session-memo roster exists
    assert(guardHelpers.size > 10, s"suspiciously few guard helpers: $guardHelpers")
  }

  test("no query member carries its own re-persist guard") {
    // the guard lives only in TableCache: a hand-copied
    // `storageLevel == NONE → persist()` in a query pack is a second,
    // drifting implementation of the session-artifact rule
    val own = membersOf(files.filter(_._1.contains("/queries/")))
      .collect { case (key, body) if ownGuard(body) => s"${key._1}.${key._2}" }
    assert(own.isEmpty,
      s"re-persist guards outside TableCache (use TableCache.persisted): ${own.toSeq.sorted}")
  }

  test("every transitively impure builder is statement-cache exempt") {
    packs.foreach { p =>
      val builderOf = parsePack(p.file)
      val offenders = p.registered.keySet.toSeq.sorted.flatMap { q =>
        val hits = reachableMarkers((p.obj, builderOf(q)))
        if (hits.nonEmpty && !p.exempt(q))
          Some(s"$q (via ${hits.map { case (m, ks) => s"$m:${ks.mkString("/")}" }.mkString(", ")})")
        else None
      }
      assert(offenders.isEmpty,
        s"${p.file}: statement-cached builders with reachable impurity — " +
          s"exempt them or register the helper as a verified boundary:\n  " +
          offenders.mkString("\n  "))
    }
  }

  test("no stale exemptions: every exempt entry is actually impure") {
    packs.foreach { p =>
      val builderOf = parsePack(p.file)
      val stale = p.exempt.toSeq.sorted.filter { q =>
        reachableMarkers((p.obj, builderOf(q))).isEmpty
      }
      assert(stale.isEmpty,
        s"${p.file}: exempt entries with no reachable impurity marker — " +
          s"either re-admit them to the cache or document the subtler reason: $stale")
    }
  }
}
