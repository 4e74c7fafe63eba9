package graft.engine

import graft.model.{CrawlConfig, FrontierEntry}
import graft.url.{Glob, UrlOps}
import scala.collection.immutable.VectorMap
import scala.collection.mutable

/** The driver-side crawl epoch, written once and run twice: the engine's
  * small-epoch fast path drives [[Step]] with Spark adapters (driver
  * mirrors or probe jobs for membership, the `Fetcher` seam, LRU host
  * ledgers), and the sequential oracle ([[graft.oracle.OracleCrawler]])
  * drives the same [[Step]] in plain memory. Seed, inbox and chain set-up
  * ([[start]], [[inject]], [[startChain]]) is shared the same way, and the
  * distributed epoch reads and writes the same [[Ledger]].
  *
  * Because both small paths run this code, the small-path-vs-oracle
  * differentials check only the engine's adapters (mirrors, probe
  * fallback, page sink, checkpoint). What checks the step itself stays
  * independent of it: the distributed-path differentials
  * (`smallEpochThreshold = 0`), the `CrawlPinSpec` VALUES pins, and the
  * DuckDB oracle.
  *
  * Ordering: every string comparison here uses UTF-8 byte order
  * ([[utf8Ordering]]) — the order Spark's `UTF8String.binaryCompare` gives
  * the distributed path — NOT Java's UTF-16 code-unit order, which ranks
  * BMP characters in [U+E000, U+FFFF] above supplementary characters.
  */
object Sequential {

  /** UTF-8 lexicographic byte order == Unicode code-point order. Surrogate
    * pairs (supplementary code points) must sort ABOVE every BMP char;
    * naive `String.compareTo` (UTF-16 code units) gets that backwards.
    */
  val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val la = a.length; val lb = b.length
      var i = 0
      while (i < la && i < lb) {
        val ca = a.charAt(i); val cb = b.charAt(i)
        if (ca != cb) {
          val cpa =
            if (Character.isHighSurrogate(ca) && i + 1 < la &&
              Character.isLowSurrogate(a.charAt(i + 1))) a.codePointAt(i)
            else ca.toInt
          val cpb =
            if (Character.isHighSurrogate(cb) && i + 1 < lb &&
              Character.isLowSurrogate(b.charAt(i + 1))) b.codePointAt(i)
            else cb.toInt
          return Integer.compare(cpa, cpb)
        }
        i += 1
      }
      Integer.compare(la, lb)
    }
  }

  /** Canonical total order (SURVEY D6): (depth, discovery_seq, host, url). */
  val canonical: Ordering[FrontierEntry] = new Ordering[FrontierEntry] {
    def compare(a: FrontierEntry, b: FrontierEntry): Int = {
      var c = Integer.compare(a.depth, b.depth); if (c != 0) return c
      c = java.lang.Long.compare(a.discovery_seq, b.discovery_seq); if (c != 0) return c
      c = utf8Ordering.compare(a.host, b.host); if (c != 0) return c
      utf8Ordering.compare(a.url, b.url)
    }
  }

  /** Per-host emission order (D5): priority desc, then canonical. */
  val hostOrder: Ordering[FrontierEntry] = new Ordering[FrontierEntry] {
    def compare(a: FrontierEntry, b: FrontierEntry): Int = {
      var c = Integer.compare(b.priority, a.priority); if (c != 0) return c
      c = Integer.compare(a.depth, b.depth); if (c != 0) return c
      c = java.lang.Long.compare(a.discovery_seq, b.discovery_seq); if (c != 0) return c
      utf8Ordering.compare(a.url, b.url)
    }
  }

  /** Canonical key order for (depth, seq, host, url) tuples (signature
    * winners, page presentation order).
    */
  val keyOrder: Ordering[(Int, Long, String, String)] = new Ordering[(Int, Long, String, String)] {
    def compare(a: (Int, Long, String, String), b: (Int, Long, String, String)): Int = {
      var c = Integer.compare(a._1, b._1); if (c != 0) return c
      c = java.lang.Long.compare(a._2, b._2); if (c != 0) return c
      c = utf8Ordering.compare(a._3, b._3); if (c != 0) return c
      utf8Ordering.compare(a._4, b._4)
    }
  }

  /** Link dedup/seq order for (p_depth, p_seq, pos, url) tuples. */
  val linkOrder: Ordering[(Int, Long, Int, String)] = new Ordering[(Int, Long, Int, String)] {
    def compare(a: (Int, Long, Int, String), b: (Int, Long, Int, String)): Int = {
      var c = Integer.compare(a._1, b._1); if (c != 0) return c
      c = java.lang.Long.compare(a._2, b._2); if (c != 0) return c
      c = Integer.compare(a._3, b._3); if (c != 0) return c
      utf8Ordering.compare(a._4, b._4)
    }
  }

  /** Reactive per-host delay override: 429 Retry-After throttle ∨ the
    * clamped latency-EMA auto-throttle delay (reference
    * `rate_limiter.rs:121-137` + `auto_throttle.rs`). ONE formula shared by
    * the engine's distributed politeness stage (its per-host state join) and
    * [[Step]] — they must stay bit-identical.
    */
  def reactiveOverrideMs(config: CrawlConfig, throttleMs: Long, ema: Option[Double]): Long = {
    val emaDelay =
      if (!config.autoThrottle) 0L
      else ema.map { e =>
        math.min(config.autoThrottleMaxDelayMs,
          math.max(config.autoThrottleMinDelayMs,
            (e / config.autoThrottleTargetConcurrency).toLong))
      }.getOrElse(0L)
    math.max(throttleMs, emaDelay)
  }

  /** B9 — per-host token-bucket politeness admission, highest priority
    * first (mirrors the engine's distributed rank + integral banking in
    * `CrawlEngine`'s politeness stage; reference `rate_limiter.rs:75-186`).
    * EVERY host present banks `avail − used·1000` — a host earning a
    * fractional token per epoch accrues it and admits on a later epoch.
    *
    * @param delayOf    effective per-host delay ms (config ∨ robots
    *                   Crawl-delay ∨ reactive override ∨ auto-throttle EMA)
    * @param hosts      the banked buckets, rolled forward here
    */
  private def politenessAdmit(
      gated: Vector[FrontierEntry], config: CrawlConfig, epoch: Long,
      delayOf: String => Long,
      hosts: HostState): (Vector[FrontierEntry], Vector[FrontierEntry]) = {
    val adm = Vector.newBuilder[FrontierEntry]
    val deferred = Vector.newBuilder[FrontierEntry]
    gated.groupBy(_.host).foreach { case (host, es) =>
      val delay = delayOf(host)
      val permits = if (delay == 0) Long.MaxValue / 4 else config.tickMs * 1000L / delay
      val avail = math.min(hosts(host).tokensMilli + permits, math.max(2000L, permits * 2))
      val quota = math.min(avail / 1000L, config.maxPerHostPerEpoch.toLong)
      val sorted = es.sorted(hostOrder)
      val (a, d) = sorted.splitAt(math.min(quota, Int.MaxValue.toLong).toInt)
      adm ++= a
      deferred ++= d.map(_.copy(not_before = epoch + 1))
      hosts.update(host, _.copy(tokensMilli = avail - a.size * 1000L))
    }
    (adm.result(), deferred.result())
  }

  final case class BudgetResult(
      admitted: Vector[FrontierEntry],
      leftover: Vector[FrontierEntry],
      wildcardRemaining: Long,
      pathBudget: Map[String, Long],
      budgetStopped: Boolean)

  /** B7 — budget admission in canonical order: the exact reference walk
    * (`website.rs:2051-2121`): wildcard EXCEEDS at remaining==1 and stops
    * the crawl preserving leftovers (`website.rs:7904-7907`, `extra_links`
    * `website.rs:8700-8712`); per-key decrement over accumulated path
    * segments, outer keys consuming before inner ones reject.
    */
  private def budgetAdmit(
      budgetable: Vector[FrontierEntry], config: CrawlConfig,
      wildcardRemaining0: Long, pathBudget0: Map[String, Long]): BudgetResult = {
    import graft.url.UrlOps
    var wildcardRemaining = wildcardRemaining0
    var pathBudget = pathBudget0
    var budgetStopped = false
    if (!config.wildCardBudgeting && pathBudget.isEmpty)
      return BudgetResult(budgetable, Vector.empty, wildcardRemaining, pathBudget, budgetStopped)
    var admitted = Vector.empty[FrontierEntry]
    var leftover = Vector.empty[FrontierEntry]
    val inOrder = budgetable.sorted(canonical)
    val it = inOrder.iterator
    var stopped = false
    while (it.hasNext) {
      val e = it.next()
      if (stopped) leftover :+= e
      else {
        var over = false
        if (config.wildCardBudgeting) {
          if (wildcardRemaining == 1L) { stopped = true; budgetStopped = true; leftover :+= e }
          else wildcardRemaining -= 1
        }
        if (!stopped) {
          if (pathBudget.nonEmpty) {
            val segs = UrlOps.budgetSegments(e.url)
            val sb = new java.lang.StringBuilder()
            var i = 0
            while (i < segs.length && !over) {
              sb.append(segs(i))
              val k = sb.toString
              pathBudget.get(k) match {
                case Some(rem) =>
                  if (rem <= 0) over = true
                  else pathBudget = pathBudget.updated(k, rem - 1)
                case None =>
              }
              i += 1
            }
          }
          if (!over) admitted :+= e
        }
      }
    }
    BudgetResult(admitted, leftover, wildcardRemaining, pathBudget, budgetStopped)
  }

  /** The crawl-wide values the driver-side epoch carries from one epoch to
    * the next (all checkpointed): the discovery_seq counter, the budget
    * ledger, the crawl scope, and the sitemap chain state.
    *
    * @param chainSitemaps      lower(url) of every sitemap DOCUMENT (the
    *                           seeds' sitemap URL plus recursively found
    *                           `<sitemapindex>` locs): budget-exempt, and
    *                           the only pages that expand once the chain
    *                           has started
    * @param discoveredSitemaps page-advertised (rel=sitemap) sitemaps found
    *                           before the chain, lower(url) -> first URL in
    *                           discovery order
    */
  final case class Ledger(
      seqCounter: Long,
      wildcardRemaining: Long,
      pathBudget: Map[String, Long],
      budgetStopped: Boolean,
      scope: ScopeState,
      chainStarted: Boolean,
      chainSitemaps: Set[String],
      discoveredSitemaps: VectorMap[String, String])

  /** A membership store: the seen set (lower(url) -> url) or the signature
    * set (signature -> true).
    */
  trait Membership[K, V] {
    /** A membership test for the keys in `keys` (a store may look up only
      * those).
      */
    def present(keys: Iterable[K]): K => Boolean
    def add(entries: Seq[(K, V)]): Unit
  }

  /** Membership over a plain in-memory set of keys. */
  def inMemory[K, V](set: mutable.Set[K]): Membership[K, V] = new Membership[K, V] {
    def present(keys: Iterable[K]): K => Boolean = set.contains
    def add(entries: Seq[(K, V)]): Unit = entries.foreach(kv => set += kv._1)
  }

  /** One host's politeness state: banked milli-tokens (a fresh bucket
    * holds 1000), the 429 Retry-After delay override (0: none) and the
    * latency EMA (None until the host's first timed fetch).
    */
  final case class Host(tokensMilli: Long = 1000L, throttleMs: Long = 0L,
      latencyEma: Option[Double] = None)

  /** Per-host politeness state, one entry per host: the engine hands an
    * LRU-capped map, the oracle a plain one.
    */
  final case class HostState(byHost: mutable.Map[String, Host] = mutable.Map.empty[String, Host]) {
    def apply(host: String): Host = byHost.getOrElse(host, Host())
    def update(host: String, f: Host => Host): Unit = byHost(host) = f(apply(host))
  }

  /** `is_allowed_default` (lists + robots), with regex lists compiled once
    * per crawl. Non-regex lists match the EXACT URL (`lib.rs:433-449`);
    * `listsAreRegex` is an unanchored search (RegexSet::is_match).
    */
  final class Gate(config: CrawlConfig, robots: RobotsProvider) {
    private def matcher(patterns: Seq[String]): String => Boolean =
      if (config.listsAreRegex) {
        val rs = patterns.map(_.r)
        u => rs.exists(_.findFirstIn(u).isDefined)
      } else patterns.toSet
    private val white = matcher(config.whitelist)
    private val black = matcher(config.blacklist)
    def lists(url: String): Boolean =
      (config.whitelist.isEmpty || white(url)) && (config.blacklist.isEmpty || !black(url))
    def robotsAllow(e: FrontierEntry): Boolean =
      !config.respectRobotsTxt || robots.policyFor(e.host).canFetch(config.userAgent, e.url)
    def default(e: FrontierEntry): Boolean = lists(e.url) && robotsAllow(e)
  }

  /** A crawl's set-up (reference `setup_base` + `setup_selectors` +
    * `_crawl_establish`): the glob-expanded seeds, the initial frontier
    * (ungated), the depth distance and the initial ledger.
    */
  final case class Start(
      seedUrls: Seq[String], frontier: Vector[FrontierEntry], depthDistance: Int, ledger: Ledger)

  /** Seed establishment. Seeds expand as globs (`features/glob.rs`,
    * `website.rs:3875-3885`), canonicalize, and dedup case-insensitively
    * keeping the first, which establishes the frontier invariant "unique by
    * lower(url)" every later epoch keeps. The scope, the depth distance
    * (`determine_limits` `website.rs:14076-14089`: max(depth, seed
    * segments)) and the budget derive from the first seed. In sitemap-only
    * mode (`crawl_sitemap()`, `website.rs:6994-7028`) the frontier is each
    * seed's sitemap URL instead, and the chain has started.
    */
  def start(config: CrawlConfig, seeds: Seq[String], sitemapOnly: Boolean): Start = {
    val seedUrls = Glob.expandSeeds(seeds)
    require(seedUrls.nonEmpty, "need at least one seed")
    val seed0 = UrlOps.parse(seedUrls.head)
    require(seed0 != null, s"unparseable seed ${seedUrls.head}")
    val scope = ScopeState(
      subMatcher =
        if (config.tld) UrlOps.rootDomain(seed0.host)
        else if (config.subdomains) seed0.host
        else "",
      parentHost = seed0.host,
      parentScheme = seed0.scheme,
      redirectHost = "",
      crawlBase = UrlOps.parseCrawlBase(seedUrls.head).serialize,
      externalDomains = config.externalDomains.map(_.toLowerCase(java.util.Locale.ROOT)),
      fullResources = config.fullResources)
    val urls = keepFirst(
      if (sitemapOnly) seedSitemapUrls(config, seedUrls) else seedUrls.flatMap(canonical(_)))
    val ledger = Ledger(
      seqCounter = urls.length.toLong,
      wildcardRemaining = config.budget.get("*").map(_.toLong).getOrElse(Long.MaxValue),
      pathBudget = (config.budget - "*").map { case (k, v) => (k, v.toLong) },
      budgetStopped = false,
      scope = scope,
      chainStarted = sitemapOnly,
      chainSitemaps = if (sitemapOnly) urls.map(UrlOps.lowerUtf8).toSet else Set.empty,
      discoveredSitemaps = VectorMap.empty)
    Start(seedUrls, roots(urls, 0L),
      math.max(config.depth, UrlOps.budgetSegments(seedUrls.head).length), ledger)
  }

  /** Mid-crawl injection (reference `dequeue`, `website.rs:7528-7562`):
    * canonical, distinct URLs as depth-0 entries stamped from the ledger's
    * seq counter. The caller merges them into the frontier keeping the
    * canonical-min entry per lower(url).
    */
  def inject(urls: Seq[String], ledger: Ledger): (Vector[FrontierEntry], Ledger) = {
    val drained = urls.flatMap(canonical(_)).distinct
    (roots(drained, ledger.seqCounter), ledger.copy(seqCounter = ledger.seqCounter + drained.length))
  }

  /** A6 chain start (reference `crawl()` runs `crawl_concurrent` then
    * `sitemap_crawl_chain`, `website.rs:6974-6976`): the seeds' configured
    * sitemap URL plus the page-advertised discoveries, case-insensitive
    * keep-first, to be injected through the inbox; the ledger marks them as
    * sitemap documents.
    */
  def startChain(config: CrawlConfig, seedUrls: Seq[String], ledger: Ledger): (Seq[String], Ledger) = {
    val sms = keepFirst(seedSitemapUrls(config, seedUrls) ++ ledger.discoveredSitemaps.values)
    (sms, ledger.copy(chainStarted = true,
      chainSitemaps = ledger.chainSitemaps ++ sms.map(UrlOps.lowerUtf8)))
  }

  private def canonical(u: String): Option[String] = Option(UrlOps.convertAbsPath(u, u))

  private def keepFirst(urls: Seq[String]): Seq[String] = {
    val seen = mutable.Set.empty[String]
    urls.filter(u => seen.add(UrlOps.lowerUtf8(u)))
  }

  private def seedSitemapUrls(config: CrawlConfig, seedUrls: Seq[String]): Seq[String] = {
    val smPath =
      if (config.sitemapUrl.startsWith("/")) config.sitemapUrl else "/" + config.sitemapUrl
    seedUrls.flatMap(s => Option(UrlOps.parseCrawlBase(s)))
      .flatMap(p => canonical(p.copy(path = smPath).serialize))
  }

  private def roots(urls: Seq[String], seq0: Long): Vector[FrontierEntry] =
    urls.iterator.zipWithIndex.map { case (u, i) =>
      FrontierEntry(u, UrlOps.host(u), 0, seq0 + i, UrlOps.scoreUrl(u, 0), 0, 0L)
    }.toVector

  /** What one epoch produced: the parsed pages (fetches not retried), the
    * admitted entries, the blocked rows (robots-denied candidates,
    * veto-suppressed pages), the count of new links, the next frontier and
    * the next ledger.
    */
  final case class EpochOut(
      pages: Vector[ParsedPage],
      admitted: Vector[FrontierEntry],
      robotsBlocked: Vector[FrontierEntry],
      vetoed: Vector[ParsedPage],
      newLinks: Long,
      frontier: Vector[FrontierEntry],
      ledger: Ledger)

  /** One driver-side epoch over a local frontier:
    *
    *   seen → lists → robots → depth → politeness → budget → fetch →
    *   reactive throttle → retry ladder → seen delta → epoch-0 scope
    *   re-anchor → parse → veto → signature dedup → links → next frontier
    *
    * The seams are the seen and signature stores, the fetch (handed the
    * admitted entries in emission order; results may come back in any
    * order) and the per-host politeness state.
    */
  final class Step(
      config: CrawlConfig,
      robots: RobotsProvider,
      gate: Gate,
      depthDistance: Int,
      retry: RetryPolicy,
      sitemapChain: Boolean,
      onShouldCrawl: Option[ParsedPage => Boolean],
      onLinkFind: Option[String => String],
      seen: Membership[String, String],
      sigs: Membership[Long, Boolean],
      fetch: Vector[FrontierEntry] => Seq[FetchResult],
      hosts: HostState) {

    private val politenessOn = config.delayMs > 0 || config.respectRobotsTxt ||
      config.maxPerHostPerEpoch != Int.MaxValue
    private val linkRewrite = onLinkFind.orNull

    // effective per-host delay: config ∨ robots Crawl-delay/Request-rate ∨
    // reactive override (429 throttle ∨ auto-throttle EMA)
    private def delayOf(host: String): Long = {
      val rd = if (config.respectRobotsTxt) robots.politenessDelayMs(host, config.userAgent) else 0L
      val h = hosts(host)
      math.max(math.max(config.delayMs, rd), reactiveOverrideMs(config, h.throttleMs, h.latencyEma))
    }

    def apply(frontier: Vector[FrontierEntry], epoch: Long, ledger0: Ledger): EpochOut = {
      var ledger = ledger0
      val (ready, held) = frontier.partition(_.not_before <= epoch)
      // B1 seen gate (B8 batch dedup is structural: the frontier is unique
      // by lower(url))
      val isSeen = seen.present(ready.view.map(e => UrlOps.lowerUtf8(e.url)))
      val unseen = ready.filterNot(e => isSeen(UrlOps.lowerUtf8(e.url)))
      // B2/B3/B4/B6 stateless gates; robots-denied candidates are blocked rows
      val listsPass = unseen.filter(e => gate.lists(e.url))
      val (robotsPass, robotsBlocked) =
        if (!config.respectRobotsTxt) (listsPass, Vector.empty[FrontierEntry])
        else listsPass.partition(gate.robotsAllow)
      val gated = robotsPass.filter { e =>
        config.depth <= 0 || UrlOps.pathDepth(e.url) <= depthDistance
      }

      // B9 politeness, then B7 budget in canonical order; chain-phase
      // sitemap docs are budget-exempt (`is_allowed_budgetless`)
      val (polAdmitted, deferred) =
        if (!politenessOn) (gated, Vector.empty[FrontierEntry])
        else politenessAdmit(gated, config, epoch, delayOf, hosts)
      val (smExempt, budgetable) =
        if (ledger.chainStarted && ledger.chainSitemaps.nonEmpty)
          polAdmitted.partition(e => ledger.chainSitemaps.contains(UrlOps.lowerUtf8(e.url)))
        else (Vector.empty[FrontierEntry], polAdmitted)
      val br = budgetAdmit(budgetable, config, ledger.wildcardRemaining, ledger.pathBudget)
      ledger = ledger.copy(wildcardRemaining = br.wildcardRemaining, pathBudget = br.pathBudget,
        budgetStopped = ledger.budgetStopped || br.budgetStopped)
      val admitted = br.admitted ++ smExempt

      // A3 fetch with D5 emission order (priority, or the host round-robin
      // interleave of `UrlFrontier::pop` frontier.rs:78-121); results go
      // back to admission order so the epoch-0 re-anchor is deterministic
      val fetched: Seq[FetchResult] =
        if (admitted.isEmpty) Vector.empty
        else {
          val emission =
            if (config.roundRobin)
              admitted.groupBy(_.host).values.toVector
                .flatMap(es => es.sorted(hostOrder).zipWithIndex.map(_.swap))
                .sorted(Ordering.Tuple2(implicitly[Ordering[Int]], hostOrder))
                .map(_._2)
            else admitted.sorted(hostOrder)
          val pos = admitted.iterator.map(_.url).zipWithIndex.toMap
          fetch(emission).sortBy(f => pos.getOrElse(f.url, Int.MaxValue))
        }

      // B9 reactive signals: a 429 Retry-After OVERWRITES the host's delay
      // (`rate_limiter.rs:121-137`; concurrent 429s in one epoch take the
      // max) and drains its bucket; latency EMA feeds the auto-throttle
      if (politenessOn) {
        fetched.filter(f => f.f_status == 429 && f.f_retry_after_ms > 0)
          .groupBy(_.host).foreach { case (h, fs) =>
            hosts.update(h, _.copy(throttleMs = fs.map(_.f_retry_after_ms).max, tokensMilli = 0L))
          }
        if (config.autoThrottle) {
          fetched.filter(_.f_latency_ms > 0).groupBy(_.host).foreach { case (h, fs) =>
            val avg = fs.map(_.f_latency_ms.toDouble).sum / fs.size
            hosts.update(h, s => s.copy(latencyEma =
              Some(s.latencyEma.fold(avg)(prev => prev + config.autoThrottleAlpha * (avg - prev)))))
          }
        }
      }

      // C7 retry ladder: retryable statuses re-queue with backoff and leave
      // the seen set; everything else admitted this epoch is now seen
      val (toRetry, keep) = fetched.partition(f =>
        retry.isRetryableStatus(f.f_status) && f.attempt < retry.maxAttempts)
      val retries = toRetry.map(f => FrontierEntry(f.url, f.host, f.depth, f.discovery_seq,
        f.priority, f.attempt + 1, epoch + retry.backoffEpochsOf(f.attempt))).toVector
      val retriedLower = toRetry.iterator.map(f => UrlOps.lowerUtf8(f.url)).toSet
      seen.add(admitted.iterator.map(e => (UrlOps.lowerUtf8(e.url), e.url))
        .filterNot(kv => retriedLower.contains(kv._1)).toVector)

      // C6 scope re-anchor on an epoch-0 cross-host redirect: the
      // canonical-min winner, as on the distributed path
      if (epoch == 0L) {
        val cands = keep.filter(f =>
          f.f_status == 200 && UrlOps.host(f.f_final_url) != ledger.scope.parentHost)
        if (cands.nonEmpty) {
          val w = cands.minBy(f => (f.depth, f.discovery_seq, f.host, f.url))(keyOrder)
          ledger = ledger.copy(scope = ledger.scope.copy(redirectHost = UrlOps.host(w.f_final_url)))
        }
      }

      // C1-C4/C8 parse; rel=sitemap ads join the chain's seeds
      val sc = ledger.scope
      val parsed = keep.iterator.map(f => CrawlEngine.parsePage(f, sc, epoch, linkRewrite)).toVector
      if (sitemapChain && !ledger.chainStarted)
        ledger = ledger.copy(discoveredSitemaps = CrawlEngine.accumulateDiscoveredSitemaps(
          ledger.discoveredSitemaps, parsed.flatMap(_.sitemap_links)))
      // B11 veto gates expansion of ordinary pages
      val (afterVeto, vetoed) = onShouldCrawl match {
        case Some(veto) => parsed.partition(veto)
        case None => (parsed, Vector.empty[ParsedPage])
      }

      val expanding: Vector[ParsedPage] =
        if (ledger.chainStarted) {
          // chain: only sitemap docs expand (urlset <loc>s + recursive
          // sitemapindex locs), bypassing the veto and signature dedup
          // (the reference parses sitemaps outside the page channel)
          val smDocs = parsed.filter(p =>
            p.status == 200 && ledger.chainSitemaps.contains(UrlOps.lowerUtf8(p.url)))
          ledger = ledger.copy(chainSitemaps =
            ledger.chainSitemaps ++ smDocs.flatMap(_.sitemap_links).map(UrlOps.lowerUtf8))
          smDocs.map(p => p.copy(links = p.links ++ p.sitemap_links))
        } else if (config.normalize) {
          // C5 signature dedup: the canonical-first page per NEW signature
          // expands (`website.rs:8671-8683`)
          val perSig = afterVeto.filter(p => p.status == 200 && p.signature != 0L)
            .groupBy(_.signature).map { case (s, ps) =>
              s -> ps.minBy(p => (p.depth, p.discovery_seq, p.host, p.url))(keyOrder)
            }
          val known = sigs.present(perSig.keys)
          val newSigs = perSig.keys.filterNot(known).toVector.sorted
          sigs.add(newSigs.map((_, true)))
          newSigs.map(perSig) ++ afterVeto.filter(p => p.status == 200 && p.signature == 0L)
        } else afterVeto.filter(_.status == 200)

      // C2/D1 links: explode, case-insensitive dedup keeping the canonical
      // min, drop already-seen targets, then assign discovery_seq in link
      // order (seq values stay dense over new links only)
      val linksRaw = expanding.flatMap(p =>
        p.links.iterator.zipWithIndex.map { case (u, idx) => (p.depth, p.discovery_seq, idx, u) })
      val uniq0 = linksRaw.groupBy(t => UrlOps.lowerUtf8(t._4)).values
        .map(_.min(linkOrder)).toVector
      val linkSeen = seen.present(uniq0.view.map(t => UrlOps.lowerUtf8(t._4)))
      val uniq = uniq0.filterNot(t => linkSeen(UrlOps.lowerUtf8(t._4))).sorted(linkOrder)
      val seq0 = ledger.seqCounter
      val newFrontier = uniq.zipWithIndex.map { case ((pd, _, _, u), i) =>
        FrontierEntry(u, UrlOps.host(u), pd + 1, seq0 + i, UrlOps.scoreUrl(u, pd + 1), 0, 0L)
      }
      ledger = ledger.copy(seqCounter = seq0 + uniq.size)

      // D1 next frontier, case-insensitive dedup keeping the canonical min
      val next = CrawlEngine.dedupCanonicalMinLocal(
        held ++ deferred ++ br.leftover ++ retries ++ newFrontier)
      EpochOut(parsed, admitted, robotsBlocked, vetoed, uniq.size.toLong, next, ledger)
    }
  }
}
