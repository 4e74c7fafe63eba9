package graft.engine

import graft.corpus.{CorpusGen, CorpusParams}
import graft.model.CrawlConfig
import graft.oracle.OracleCrawler
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Differential tests: the Spark engine must produce EXACTLY the oracle's
  * visited set, page set, and canonical admission order on the same
  * (corpus, config, seeds) — SURVEY §5's "oracle reimplementation" plan,
  * standing in for replaying the reference crate suite
  * (`website.rs:14735-15460`).
  */
class CrawlDifferentialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.cleaner.periodicGC.interval", "1min")
    .getOrCreate()

  private def run(params: CorpusParams, config: CrawlConfig, seeds: Seq[String]) = {
    spark.sparkContext.setLogLevel("ERROR")
    val robots = new CorpusRobots(params)
    val engine = new CrawlEngine(spark, config, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L)
    val er = engine.crawl(seeds)
    val or = OracleCrawler.crawl(params, config, robots, seeds)
    (er, or)
  }

  /** The engine on the default small path and, as one more input, on the
    * distributed path (threshold 0): the small path runs the oracle's own
    * Sequential step, so only the distributed run checks the step
    * independently. Each run must equal the oracle, whose result is
    * returned with the engine results.
    */
  private def runBothPaths(params: CorpusParams, config: CrawlConfig, seeds: Seq[String],
      robots: Option[RobotsProvider] = None): (Seq[CrawlResult], OracleCrawler.OracleResult) = {
    spark.sparkContext.setLogLevel("ERROR")
    val rb = robots.getOrElse(new CorpusRobots(params))
    val or = OracleCrawler.crawl(params, config, rb, seeds)
    val ers = for (threshold <- Seq(4096, 0)) yield {
      val er = new CrawlEngine(spark, config.copy(smallEpochThreshold = threshold),
        new GenerativeFetcher(params), rb, expectedUrls = 100000L).crawl(seeds)
      withClue(s"smallEpochThreshold=$threshold: ")(assertParity(er, or))
      er
    }
    (ers, or)
  }

  private def assertParity(er: CrawlResult, or: OracleCrawler.OracleResult): Unit = {
    import org.apache.spark.sql.functions._
    val ePages = er.pages
      .select(col("url"), col("depth"), col("discovery_seq"), col("status"),
        col("signature"), col("final_url"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getString(5))).toSet
    val oPages = or.pages.map(p => (p.url, p.depth, p.seq, p.status, p.signature, p.finalUrl)).toSet
    val onlyE = ePages -- oPages
    val onlyO = oPages -- ePages
    assert(onlyE.isEmpty && onlyO.isEmpty,
      s"page sets differ: engine-only=${onlyE.take(5)} oracle-only=${onlyO.take(5)} " +
        s"(engine ${ePages.size}, oracle ${oPages.size})")
    val eSeen = er.seen.select(col("url_lower")).collect().map(_.getString(0)).toSet
    assert(eSeen == or.seen, s"seen sets differ: engine-only=${(eSeen -- or.seen).take(5)} " +
      s"oracle-only=${(or.seen -- eSeen).take(5)}")
  }

  test("basic crawl: visited set + pages + order equal oracle") {
    val params = CorpusParams(hosts = 3, pagesPerHost = 60)
    val (er, or) = run(params, CrawlConfig(maxEpochs = 30), Seq("https://www.site1.com/"))
    assert(or.pages.nonEmpty && or.pages.size > 10, s"oracle crawled ${or.pages.size}")
    assertParity(er, or)
  }

  test("distributed two-pass seq path (smallEpochThreshold=0) equals the fast path and oracle") {
    val params = CorpusParams(hosts = 3, pagesPerHost = 60)
    // force the distributed range-partition path on a small corpus; the
    // default fast path is covered by every other test here
    val (er, or) = run(params, CrawlConfig(maxEpochs = 30, smallEpochThreshold = 0),
      Seq("https://www.site1.com/"))
    assertParity(er, or)
  }

  test("glob seeds expand alike in engine and oracle (glob.rs, website.rs:3875-3885)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 30)
    val (_, or) = runBothPaths(params, CrawlConfig(maxEpochs = 30),
      Seq("https://www.site{0,1}.com/"))
    assert(Set("www.site0.com", "www.site1.com").subsetOf(or.pages.map(_.host).toSet),
      s"both expanded seeds must be crawled: ${or.pages.map(_.host).distinct}")
  }

  test("case-variant URLs fetched exactly once (test_link_duplicates shape)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val (_, or) = runBothPaths(params, CrawlConfig(maxEpochs = 30), Seq("https://www.site0.com/"))
    // uniqueness: no two pages share a lowercased URL
    val urls = or.pages.map(_.url.toLowerCase)
    assert(urls.distinct.size == urls.size)
  }

  test("signature dedup suppresses duplicate-content expansion") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 50, dupContentEvery = 2)
    val (_, or) = runBothPaths(params, CrawlConfig(maxEpochs = 30), Seq("https://www.site0.com/"))
    // with dup pairs, some signatures repeat across fetched pages
    val sigCounts = or.pages.filter(_.status == 200).groupBy(_.signature)
    assert(sigCounts.exists(_._2.size > 1), "corpus should contain duplicate signatures")
  }

  test("budget {*, en, fr} caps admissions and stops crawl (test_crawl_budget shape)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 80)
    val cfg = CrawlConfig(budget = Map("*" -> 15, "en" -> 5, "fr" -> 2), maxEpochs = 30)
    val (_, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"))
    assert(or.pages.size <= 15, s"wildcard budget must cap pages, got ${or.pages.size}")
    val enPages = or.pages.count(p => graft.url.UrlOps.budgetSegments(p.url).headOption.contains("en"))
    assert(enPages <= 5, s"en budget exceeded: $enPages")
  }

  test("depth limit: no URL beyond path depth (depth example shape)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 80)
    val cfg = CrawlConfig(depth = 2, maxEpochs = 30)
    val (_, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"))
    assert(or.pages.forall(p => graft.url.UrlOps.pathDepth(p.url) <= 2))
    assert(or.pages.nonEmpty)
  }

  test("respect robots: disallowed paths blocked; 403-robots host fully blocked") {
    // host 1 ⇒ robots Disallow /legal/; host 3 ⇒ robots 403 (disallow_all)
    val params = CorpusParams(hosts = 4, pagesPerHost = 60)
    val cfg = CrawlConfig(respectRobotsTxt = true, maxEpochs = 40)
    val (_, or1) = runBothPaths(params, cfg, Seq("https://www.site1.com/"))
    // robots rule "/legal/" prefix-blocks paths STARTING with it (mid-path
    // occurrences like /en/legal/... are not covered by the rule)
    assert(!or1.pages.exists(p => graft.url.UrlOps.urlPath(p.url).startsWith("/legal/")),
      "robots-disallowed path crawled")
    assert(or1.pages.nonEmpty)
    val (_, or3) = runBothPaths(params, cfg, Seq("https://www.site3.com/"))
    assert(or3.pages.isEmpty, "403-robots host must be fully blocked")
  }

  test("blacklist excludes exact URLs (not_crawl_blacklist shape)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val blocked = "https://www.site0.com/p1.html"
    val cfg = CrawlConfig(blacklist = Seq(blocked), maxEpochs = 30)
    val (_, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"))
    assert(!or.pages.exists(_.url == blocked))
  }

  test("subdomains scope: sibling subdomain crawled when enabled, not otherwise") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val cfgOff = CrawlConfig(maxEpochs = 30)
    val (_, orOff) = runBothPaths(params, cfgOff, Seq("https://www.site0.com/"))
    assert(!orOff.pages.exists(_.host.startsWith("sub.")), "sub crawled without subdomains")
    val cfgOn = CrawlConfig(subdomains = true, maxEpochs = 30)
    val (_, orOn) = runBothPaths(params, cfgOn, Seq("https://www.site0.com/"))
    assert(orOn.pages.exists(_.host.startsWith("sub.")), "subdomain not crawled with subdomains=true")
  }

  test("politeness: per-host quota defers, totals unchanged vs no-politeness") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 30)
    val fast = run(params, CrawlConfig(maxEpochs = 60), Seq("https://www.site0.com/"))
    val (_, slow) = runBothPaths(params, CrawlConfig(delayMs = 200, tickMs = 1000, maxEpochs = 200),
      Seq("https://www.site0.com/"))
    // politeness changes pacing, not the final visited set
    assert(slow.seen == fast._2.seen)
    assert(slow.epochs > fast._2.epochs, "politeness should take more epochs")
  }

  test("retry ladder: 5xx re-queued with backoff then recorded") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40, errorEvery = 9)
    val cfg = CrawlConfig(retryLimit = 2, maxEpochs = 100)
    val (_, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"))
    // corpus 500s stay 500 → after retries they appear as final error pages
    assert(or.pages.exists(_.status == 500), "expected final 500 pages after retry cap")
  }

  test("redirects followed to final URL (3xx never recorded as page status)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40, redirectEvery = 5)
    val (_, or) = runBothPaths(params, CrawlConfig(maxEpochs = 40), Seq("https://www.site0.com/"))
    assert(or.pages.exists(p => p.finalUrl != p.url), "expected followed redirects")
    assert(!or.pages.exists(p => p.status >= 300 && p.status < 310))
  }

  test("429 Retry-After throttles the host's rate (rate_limiter.rs:121-137 shape)") {
    // corpus emits 429s with Retry-After 3000ms; politeness + retries on.
    // After the first 429 the host's effective delay jumps to 3s => 0.33
    // tokens/epoch => the crawl visibly slows, and engine == oracle exactly.
    val params = CorpusParams(hosts = 1, pagesPerHost = 10, rateLimitEvery = 4,
      retryAfterMs = 2000L)
    val cfg = CrawlConfig(delayMs = 100, tickMs = 1000, retryLimit = 1, maxEpochs = 120)
    val (er, or) = run(params, cfg, Seq("https://www.site0.com/"))
    assertParity(er, or)
    assert(or.pages.exists(_.status == 429), "expected final 429 pages after retry cap")
    // control: same corpus WITHOUT Retry-After throttling takes fewer epochs
    val noThrottle = OracleCrawler.crawl(
      params.copy(retryAfterMs = 0L), cfg, new CorpusRobots(params), Seq("https://www.site0.com/"))
    assert(or.epochs > noThrottle.epochs,
      s"throttle had no pacing effect: ${or.epochs} vs ${noThrottle.epochs}")
  }

  test("varying Retry-After: later 429 OVERWRITES the host's throttle (rate_limiter.rs:121-137)") {
    // per-URL Retry-After in [1000, 3000): successive 429s carry different
    // values; the reference's `throttle` replaces the rate each time, so a
    // later smaller Retry-After SPEEDS the host back up. Engine and oracle
    // must pace identically (a max-merge on either side would diverge).
    val params = CorpusParams(hosts = 1, pagesPerHost = 12, rateLimitEvery = 3,
      retryAfterMs = 2000L, retryAfterVaries = true)
    val cfg = CrawlConfig(delayMs = 100, tickMs = 1000, retryLimit = 1, maxEpochs = 150)
    val (ers, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"))
    ers.foreach(er => assert(er.epochs == or.epochs,
      s"pacing diverged: engine ${er.epochs} vs oracle ${or.epochs}"))
    assert(or.pages.exists(_.status == 429), "expected final 429 pages after retry cap")
  }

  test("latency-EMA auto-throttle paces slow hosts (auto_throttle.rs shape)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 10)
    // latencyMsFor gives each host a fixed 20-100ms latency; with
    // target_concurrency 0.1 the derived delay (latency/0.1 up to 1s)
    // dominates the 1ms static delay => pacing visible
    val cfg = CrawlConfig(delayMs = 1, tickMs = 1000, maxEpochs = 120,
      autoThrottle = true, autoThrottleTargetConcurrency = 0.1,
      autoThrottleMaxDelayMs = 1000L)
    val (er, or) = run(params, cfg, Seq("https://www.site0.com/"))
    assertParity(er, or)
    val plain = OracleCrawler.crawl(params, cfg.copy(autoThrottle = false),
      new CorpusRobots(params), Seq("https://www.site0.com/"))
    assert(or.seen == plain.seen, "auto-throttle changed the visited set")
    assert(or.epochs > plain.epochs,
      s"auto-throttle had no pacing effect: ${or.epochs} vs ${plain.epochs}")
  }

  test("epoch-0 cross-host seed redirect re-anchors the scope on BOTH paths (C6, page.rs:4736-4747)") {
    // www.site0.com/ 301s to www.site1.com/: the crawl scope must re-anchor
    // to the redirect host and expand site1's tree. threshold=0 pins the
    // distributed epoch-0 canonical-min winner orderBy (round-4 advice:
    // previously unreachable by any differential).
    val params = CorpusParams(hosts = 3, pagesPerHost = 40, seedRedirectToHost = 1)
    for (threshold <- Seq(4096, 0)) {
      val (er, or) = run(params,
        CrawlConfig(maxEpochs = 30, smallEpochThreshold = threshold),
        Seq("https://www.site0.com/"))
      assertParity(er, or)
      assert(or.pages.count(_.url.contains("www.site1.com")) > 10,
        s"re-anchored host not crawled (threshold=$threshold): ${or.pages.size} pages")
      assert(or.pages.exists(p => p.url.contains("www.site0.com") && p.finalUrl.contains("www.site1.com")),
        s"seed redirect row missing (threshold=$threshold)")
    }
  }

  test("distributed reactive throttle equals oracle: 429 Retry-After + latency EMA (smallEpochThreshold=0)") {
    // round-4 advice: the distributed 429/EMA path had no threshold=0
    // differential (small epochs always took the driver fast path)
    val p429 = CorpusParams(hosts = 1, pagesPerHost = 10, rateLimitEvery = 4,
      retryAfterMs = 2000L)
    val cfg429 = CrawlConfig(delayMs = 100, tickMs = 1000, retryLimit = 1,
      maxEpochs = 120, smallEpochThreshold = 0)
    val (er1, or1) = run(p429, cfg429, Seq("https://www.site0.com/"))
    assertParity(er1, or1)
    assert(er1.epochs == or1.epochs,
      s"429 pacing diverged distributed: engine ${er1.epochs} vs oracle ${or1.epochs}")
    assert(or1.pages.exists(_.status == 429), "expected final 429 pages after retry cap")
    val pEma = CorpusParams(hosts = 2, pagesPerHost = 10)
    val cfgEma = CrawlConfig(delayMs = 1, tickMs = 1000, maxEpochs = 120,
      autoThrottle = true, autoThrottleTargetConcurrency = 0.1,
      autoThrottleMaxDelayMs = 1000L, smallEpochThreshold = 0)
    val (er2, or2) = run(pEma, cfgEma, Seq("https://www.site0.com/"))
    assertParity(er2, or2)
    assert(er2.epochs == or2.epochs,
      s"EMA pacing diverged distributed: engine ${er2.epochs} vs oracle ${or2.epochs}")
  }

  test("robots Request-rate feeds the politeness quota (set_rate, rate_limiter.rs:142-153)") {
    val params = CorpusParams(hosts = 1, pagesPerHost = 10)
    // robots: Request-rate 1/2 (one request per 2s) and no Crawl-delay
    val robots = new MapRobots(Map(
      "www.site0.com" -> (200, "User-agent: *\nRequest-rate: 1/2\n"),
      "sub.site0.com" -> (200, "User-agent: *\nRequest-rate: 1/2\n")))
    val cfg = CrawlConfig(respectRobotsTxt = true, tickMs = 1000, maxEpochs = 120)
    val (_, or) = runBothPaths(params, cfg, Seq("https://www.site0.com/"), Some(robots))
    // 1 req / 2s at tick 1s = 0.5 tokens/epoch => ~2 epochs per page: the
    // crawl must take at least ~1.5x epochs vs pages fetched
    assert(or.epochs.toDouble >= or.pages.size * 1.5,
      s"Request-rate unenforced: ${or.epochs} epochs for ${or.pages.size} pages")
  }

  test("sitemap chained AFTER crawl: recursion + budget ordering equal oracle (website.rs:6975)") {
    // orphanEvery=5: pages p%5==2 have no inbound links — reachable ONLY
    // via the sitemaps (p=12,27,... in /sitemap.xml; p=22,57 only in the
    // nested /sitemap-deep.xml)
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val cfg = CrawlConfig(maxEpochs = 60)
    spark.sparkContext.setLogLevel("ERROR")
    val robots = new CorpusRobots(params)
    def engineRun(c: CrawlConfig) = new CrawlEngine(spark, c, new GenerativeFetcher(params),
      robots, expectedUrls = 100000L).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    def oracleRun(c: CrawlConfig) =
      OracleCrawler.crawl(params, c, robots, Seq("https://www.site0.com/"), sitemapChain = true)
    val (er, or) = (engineRun(cfg), oracleRun(cfg))
    assertParity(er, or)
    // recursion: the nested /sitemap-deep.xml was walked (in seen) and
    // contributed a page only it lists (p1 + 7k offsets beyond crawl reach)
    assert(or.seen.exists(_.endsWith("/sitemap-deep.xml")), "nested sitemap not walked")
    val plain = OracleCrawler.crawl(params, cfg, robots, Seq("https://www.site0.com/"))
    assert(or.pages.size > plain.pages.size, "sitemap chain added no pages")
    // deep-only orphan p=22 proves the recursive index walk fetched entries
    assert(or.pages.exists(_.url.endsWith(graft.corpus.CorpusGen.pagePath(22L))),
      "nested-sitemap-only page not crawled")
    // sitemap XML docs are parsed, never emitted as pages
    assert(!or.pages.exists(_.url.contains("sitemap")), "sitemap XML emitted as a page")
    // budget ordering: the crawl phase spends the wildcard budget FIRST —
    // with a budget smaller than the crawl's natural page count, the chain
    // contributes nothing and the page set equals the plain budgeted crawl
    val bCfg = CrawlConfig(budget = Map("*" -> 8), maxEpochs = 60)
    val orB = oracleRun(bCfg)
    for (threshold <- Seq(4096, 0))
      withClue(s"smallEpochThreshold=$threshold: ")(
        assertParity(engineRun(bCfg.copy(smallEpochThreshold = threshold)), orB))
    val plainB = OracleCrawler.crawl(params, bCfg, robots, Seq("https://www.site0.com/"))
    assert(orB.pages.map(_.url).toSet == plainB.pages.map(_.url).toSet,
      "budget-exhausted crawl must skip the sitemap chain (is_over_wild_budget)")
  }

  test("small->distributed transition mid-crawl preserves parity (fast-path handoff)") {
    // threshold 8: seeds run driver-side, the first fan-out crosses the
    // threshold — the frontier materializes, the mirrors drop, and the
    // crawl finishes on the distributed path with the blooms the small
    // path banked
    val params = CorpusParams(hosts = 3, pagesPerHost = 60)
    val cfg = CrawlConfig(maxEpochs = 30, smallEpochThreshold = 8)
    val (er, or) = run(params, cfg, Seq("https://www.site1.com/"))
    assertParity(er, or)
    assert(er.metrics.exists(_.candidates > 8), "corpus never crossed the threshold")
    assert(er.metrics.exists(_.candidates <= 8), "no small epoch ran before the handoff")
  }

  test("mirror overflow falls back to store probe jobs without divergence") {
    // cap the driver mirrors at 5 keys: the small path keeps running but
    // every later epoch's seen/signature membership comes from the tiny
    // probe jobs against the co-partitioned stores
    val params = CorpusParams(hosts = 2, pagesPerHost = 50, dupContentEvery = 3)
    val prev = CrawlEngine.mirrorCap
    try {
      CrawlEngine.mirrorCap = 5
      val (er, or) = run(params, CrawlConfig(maxEpochs = 30), Seq("https://www.site0.com/"))
      assertParity(er, or)
    } finally CrawlEngine.mirrorCap = prev
  }

  test("distributed politeness+budget+retry path equals oracle (smallEpochThreshold=0)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 60, errorEvery = 9)
    val cfg = CrawlConfig(budget = Map("*" -> 25, "en" -> 4), delayMs = 150, tickMs = 1000,
      retryLimit = 1, maxEpochs = 150, smallEpochThreshold = 0)
    val (er, or) = run(params, cfg, Seq("https://www.site0.com/"))
    assertParity(er, or)
  }

  test("distributed sitemap chain equals oracle (smallEpochThreshold=0)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val cfg = CrawlConfig(maxEpochs = 60, smallEpochThreshold = 0)
    spark.sparkContext.setLogLevel("ERROR")
    val robots = new CorpusRobots(params)
    val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    val or = OracleCrawler.crawl(params, cfg, robots, Seq("https://www.site0.com/"),
      sitemapChain = true)
    assertParity(er, or)
  }

  test("sitemap-ONLY mode walks sitemaps instead of the link crawl (crawl_sitemap(), website.rs:6994)") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val robots = new CorpusRobots(params)
    spark.sparkContext.setLogLevel("ERROR")
    val or = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 60), robots,
      Seq("https://www.site0.com/"), sitemapOnly = true)
    // entries come ONLY from the sitemaps: no entry page's links expand, so
    // every page is listed in a sitemap (depth never exceeds entry depth)
    assert(or.pages.nonEmpty, "sitemap-only walk found no pages")
    assert(!or.pages.exists(_.url.contains("sitemap")), "sitemap XML emitted as a page")
    // the seed root page is NOT fetched unless a sitemap lists it
    val chained = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 60), robots,
      Seq("https://www.site0.com/"), sitemapChain = true)
    assert(or.pages.size < chained.pages.size,
      "sitemap-only should fetch strictly fewer pages than crawl+chain")
    for (threshold <- Seq(4096, 0)) {
      val er = new CrawlEngine(spark,
        CrawlConfig(maxEpochs = 60, smallEpochThreshold = threshold),
        new GenerativeFetcher(params), robots, expectedUrls = 100000L)
        .crawlSitemap(Seq("https://www.site0.com/"))
      val ePages = er.pages.select("url", "depth", "discovery_seq", "status").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3))).toSet
      val oPages = or.pages.map(p => (p.url, p.depth, p.seq, p.status)).toSet
      assert(ePages == oPages, s"sitemap-only diverged at threshold=$threshold: " +
        s"engine-only=${(ePages -- oPages).take(5)} oracle-only=${(oPages -- ePages).take(5)}")
    }
  }

  test("custom sitemap URL: chain fetches the configured path (with_sitemap, configuration.rs:1178)") {
    // corpus serves its sitemap at /sitemap_index.xml (very common in the
    // wild); orphan pages are reachable ONLY via the sitemaps
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5,
      sitemapPath = "/sitemap_index.xml")
    val robots = new CorpusRobots(params)
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = CrawlConfig(maxEpochs = 60, sitemapUrl = "/sitemap_index.xml")
    val or = OracleCrawler.crawl(params, cfg, robots, Seq("https://www.site0.com/"),
      sitemapChain = true)
    assert(or.seen.exists(_.endsWith("/sitemap_index.xml")), "configured sitemap not fetched")
    // orphan page reachable only through the custom-path sitemap
    assert(or.pages.exists(_.url.endsWith(graft.corpus.CorpusGen.pagePath(12L))),
      "sitemap-only orphan page not crawled via custom path")
    for (threshold <- Seq(4096, 0)) {
      val er = new CrawlEngine(spark, cfg.copy(smallEpochThreshold = threshold),
        new GenerativeFetcher(params), robots, expectedUrls = 100000L)
        .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
      assertParity(er, or)
    }
    // control: the DEFAULT /sitemap.xml 404s against this corpus, so the
    // chain contributes no orphan pages
    val dflt = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 60), robots,
      Seq("https://www.site0.com/"), sitemapChain = true)
    assert(!dflt.pages.exists(_.url.endsWith(graft.corpus.CorpusGen.pagePath(12L))),
      "default-path chain should find nothing on a custom-path corpus")
  }

  test("page-advertised sitemap joins the chain (link[rel=sitemap], website.rs:12512)") {
    // sitemap lives at /wp-sitemap.xml and is NOT configured — only the
    // root page's rel=sitemap span advertises it; the default /sitemap.xml
    // 404s, so every orphan page the chain finds proves auto-discovery
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5,
      sitemapPath = "/wp-sitemap.xml", advertiseSitemap = true)
    val robots = new CorpusRobots(params)
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = CrawlConfig(maxEpochs = 60)
    val or = OracleCrawler.crawl(params, cfg, robots, Seq("https://www.site0.com/"),
      sitemapChain = true)
    assert(or.seen.exists(_.endsWith("/wp-sitemap.xml")), "advertised sitemap not fetched")
    assert(or.pages.exists(_.url.endsWith(graft.corpus.CorpusGen.pagePath(12L))),
      "orphan page not reached through the discovered sitemap")
    // rel=sitemap spans must never leak into the frontier as page links
    assert(!or.pages.exists(_.url.contains("sitemap")), "sitemap XML emitted as a page")
    for (threshold <- Seq(4096, 0)) {
      val er = new CrawlEngine(spark, cfg.copy(smallEpochThreshold = threshold),
        new GenerativeFetcher(params), robots, expectedUrls = 100000L)
        .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
      assertParity(er, or)
    }
  }

  test("B11 veto does not suppress sitemap-doc expansion in the chain (veto+chain)") {
    // the veto hits ONLY chain-phase sitemap docs (no sitemap URL is
    // fetched in the main phase); the reference parses sitemaps outside
    // the page/veto channel, so the result must equal the unvetoed chain
    // run exactly — on both the small and the distributed path
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val robots = new CorpusRobots(params)
    spark.sparkContext.setLogLevel("ERROR")
    val or = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 60), robots,
      Seq("https://www.site0.com/"), sitemapChain = true)
    for (threshold <- Seq(4096, 0)) {
      val er = new CrawlEngine(spark,
        CrawlConfig(maxEpochs = 60, smallEpochThreshold = threshold),
        new GenerativeFetcher(params), robots, expectedUrls = 100000L,
        onShouldCrawl = Some(p => !p.url.contains("sitemap")))
        .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
      assertParity(er, or)
    }
  }

  test("many-host politeness: token-roll collect bounded at the ledger cap, parity kept (>cap hosts)") {
    // 150 hosts against a ledger capped at 24: the distributed tokens_roll
    // collect is limited to the cap (plan shows the Limit) and the LRU
    // evicts beyond it. With maxPerHostPerEpoch=1 and delay <= tick the
    // per-epoch quota is 1 regardless of banked state, so eviction is
    // semantically neutral and the engine must still equal the UNBOUNDED
    // sequential oracle exactly (round-4 verdict #2).
    val params = CorpusParams(hosts = 150, pagesPerHost = 3)
    val seeds = (0 until 150).map(i => s"https://www.site$i.com/")
    val cfg = CrawlConfig(delayMs = 500, tickMs = 1000, maxPerHostPerEpoch = 1,
      maxEpochs = 40, smallEpochThreshold = 0)
    val prev = CrawlEngine.lruHostCap
    try {
      CrawlEngine.lruHostCap = 24
      val (er, or) = run(params, cfg, seeds)
      assert(or.pages.size > 150, s"corpus too small to exercise pacing: ${or.pages.size}")
      assertParity(er, or)
    } finally CrawlEngine.lruHostCap = prev
  }

  test("state compaction preserves exact semantics across the fold boundary") {
    // compaction every 3 epochs on a politeness-paced crawl that runs ~10+
    // epochs: seen/signature folds + bloom rebuild must not change ANY set
    val params = CorpusParams(hosts = 2, pagesPerHost = 20, dupContentEvery = 3)
    // smallEpochThreshold=0: with the driver mirrors live the fast path
    // defers compaction entirely, so force the distributed loop to
    // actually cross fold boundaries
    val cfg = CrawlConfig(delayMs = 250, tickMs = 1000, maxEpochs = 120,
      stateCompactionEpochs = 3, smallEpochThreshold = 0)
    val (er, or) = run(params, cfg, Seq("https://www.site0.com/"))
    assertParity(er, or)
    val plain = OracleCrawler.crawl(params, cfg.copy(stateCompactionEpochs = 1000),
      new CorpusRobots(params), Seq("https://www.site0.com/"))
    assert(or.seen == plain.seen)
  }

  private def frontierKeys(es: Iterable[graft.model.FrontierEntry]) =
    es.map(e => (e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, e.not_before)).toSet
  private def frontierKeys(er: CrawlResult): Set[(String, String, Int, Long, Int, Int, Long)] = {
    import spark.implicits._
    frontierKeys(er.frontierRemainder.as[graft.model.FrontierEntry].collect())
  }

  test("a wide-shaped distributed epoch runs at most six labelled jobs, and none follows it") {
    spark.sparkContext.setLogLevel("ERROR")
    // the wide_crawl shape at a quarter of its hosts: signature dedup on,
    // no politeness, and a last epoch above the threshold whose links are
    // all seen already
    val params = CorpusParams(hosts = 4, pagesPerHost = 400, fanout = 48, textWords = 40)
    val cfg = CrawlConfig(maxEpochs = 30, externalDomains = Set("*"), smallEpochThreshold = 1000)
    val seeds = (0 until params.hosts).map(i => s"https://www.site$i.com/")
    val robots = new CorpusRobots(params)
    val jobs = new EpochJobs(spark)
    jobs.window("0")
    val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L, onEpoch = Some(jobs.hook)).crawl(seeds)
    val perEpoch = jobs.jobs()
    val distributed = er.metrics.dropWhile(_.candidates <= cfg.smallEpochThreshold)
    assert(distributed.nonEmpty && distributed.last.epoch == er.epochs - 1,
      s"the last epoch ran on the small path: ${er.metrics.map(_.candidates)}")
    // an epoch whose links are all seen runs two jobs: the fetch (gate,
    // fetch exchange and page-delta write) and the links; new links past
    // the threshold add the range sort's two and the frontier checkpoint
    assert(distributed.exists(_.new_links == 0), s"no distributed epoch without new links: $distributed")
    distributed.foreach { m =>
      val ran = perEpoch.getOrElse(m.epoch.toString, Nil)
      val budget = if (m.new_links == 0) 2 else 5
      assert(ran.size <= budget, s"distributed epoch ${m.epoch} ran ${ran.size} jobs: $ran")
      assert(ran.count(_._2 == s"e${m.epoch}/fetch_parse") == 1,
        s"distributed epoch ${m.epoch} ran other than one fetch_parse job: $ran")
      ran.foreach { case (site, desc) =>
        assert(desc.startsWith(s"e${m.epoch}/"), s"epoch ${m.epoch}: job at $site is labelled '$desc'")
      }
    }
    val end = perEpoch.getOrElse(er.epochs.toString, Nil)
    assert(end.isEmpty, s"the call ran Spark jobs after its last epoch: $end")
    // the task budget: the stores sit on the engine's P partitions, so each
    // exchange the links job reads (the signature and link exchanges, the
    // store deltas behind the probes) has P reduce tasks, its last stage
    // (the link exchange's reduce and the seen probe) runs P tasks, and no
    // stage of the epoch runs more than P: the gate's probe survivors zip
    // back beside the bloom negatives, and the link exchange's map side
    // reads the signature winners alone when no page lacks a signature
    val P = CrawlEngine.partitions(spark)
    val perStage = jobs.stages()
    distributed.foreach { m =>
      val stages = perStage.getOrElse(m.epoch.toString, Nil)
      val links = stages.filter(_.desc == s"e${m.epoch}/links")
      assert(links.exists(_.exchangeReads.nonEmpty), s"epoch ${m.epoch}: the links job read no exchange: $links")
      links.foreach(s => assert(s.exchangeReads.forall(_ == P),
        s"epoch ${m.epoch}: links stage ${s.name} reads exchanges of ${s.exchangeReads} partitions, P = $P"))
      assert(links.last.tasks == P, s"epoch ${m.epoch}: the links job's last stage ran ${links.last.tasks} tasks")
      stages.foreach(s => assert(s.tasks <= P,
        s"epoch ${m.epoch}: stage ${s.name} (${s.desc}) ran ${s.tasks} tasks, P = $P"))
    }
    val or = OracleCrawler.crawl(params, cfg, robots, seeds)
    assertParity(er, or)
    assert(frontierKeys(er) == frontierKeys(or.frontierRemainder))
  }

  test("an epoch with nothing ready runs no job on the distributed path (retry backoff)") {
    spark.sparkContext.setLogLevel("ERROR")
    // every epoch distributed; once the pages are fetched only backed-off
    // retries are left, and the epochs they wait out have nothing ready
    val params = CorpusParams(hosts = 2, pagesPerHost = 40, errorEvery = 9)
    val cfg = CrawlConfig(retryLimit = 2, maxEpochs = 100, smallEpochThreshold = 0)
    val seeds = Seq("https://www.site0.com/")
    val robots = new CorpusRobots(params)
    val jobs = new EpochJobs(spark)
    jobs.window("0")
    val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L, onEpoch = Some(jobs.hook)).crawl(seeds)
    val perEpoch = jobs.jobs()
    val ran = er.metrics.map(_.epoch).toSet
    val idle = (0L until er.epochs).filterNot(ran.contains)
    assert(idle.nonEmpty, s"no epoch of ${er.epochs} had nothing ready: ${er.metrics.map(_.candidates)}")
    idle.foreach { e =>
      val js = perEpoch.getOrElse(e.toString, Nil)
      assert(js.isEmpty, s"idle epoch $e ran Spark jobs: $js")
    }
    val or = OracleCrawler.crawl(params, cfg, robots, seeds)
    assert(or.pages.exists(_.status == 500), "no page exhausted its retries")
    assertParity(er, or)
    assert(frontierKeys(er) == frontierKeys(or.frontierRemainder))
  }

  test("distributed survivors take both seq branches: driver-held and range-sorted (mid threshold)") {
    spark.sparkContext.setLogLevel("ERROR")
    // threshold 50: from the first epoch above it every epoch is
    // distributed; the new links of some fit the threshold (sequenced on
    // the driver), of others not (range-sorted)
    val params = CorpusParams(hosts = 3, pagesPerHost = 300, fanout = 8, dupContentEvery = 5)
    val cfg = CrawlConfig(maxEpochs = 30, smallEpochThreshold = 50)
    val seeds = Seq("https://www.site0.com/", "https://www.site1.com/")
    val robots = new CorpusRobots(params)
    // case variants: a link to page p(10k) becomes page p(10k+1) with an
    // upper-case scheme, so two spellings of one URL come from different
    // parent pages
    val rewrite: String => String = { u =>
      val m = "^https://([^/]+)/.*p([0-9]*0)\\.html$".r
      u match {
        case m(host, n) => s"HTTPS://$host" + CorpusGen.pagePath(n.toLong + 1)
        case _ => u
      }
    }
    val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L, onLinkFind = Some(rewrite)).crawl(seeds)
    val or = OracleCrawler.crawl(params, cfg, robots, seeds, onLinkFind = Some(rewrite))
    assertParity(er, or)
    assert(frontierKeys(er) == frontierKeys(or.frontierRemainder))
    val distributed = er.metrics.dropWhile(_.candidates <= cfg.smallEpochThreshold)
    assert(distributed.exists(m => m.new_links > 0 && m.new_links <= cfg.smallEpochThreshold),
      s"no distributed epoch sequenced its links on the driver: ${er.metrics.map(m => (m.candidates, m.new_links))}")
    assert(distributed.exists(_.new_links > cfg.smallEpochThreshold),
      s"no distributed epoch range-sorted its links: ${distributed.map(_.new_links)}")
    // the link dedup sees case variants of one URL from pages in different
    // signature partitions (so different map partitions of the link
    // exchange), and links to pages admitted in the same epoch
    val sigPart = new org.apache.spark.HashPartitioner(CrawlEngine.partitions(spark))
    val inputs = distributed.map { m =>
      val fetched = or.pages.filter(p => p.epoch == m.epoch && p.status == 200)
      val byKey = fetched.flatMap(p => p.links.map(l => (graft.url.UrlOps.lowerUtf8(l), (l, p.signature))))
        .groupBy(_._1)
      val variants = byKey.values.exists { occ =>
        occ.map(_._2._1).distinct.size > 1 && occ.map(o => sigPart.getPartition(o._2._2)).distinct.size > 1
      }
      val admitted = fetched.map(p => graft.url.UrlOps.lowerUtf8(p.url)).toSet
      (variants, byKey.keys.exists(admitted.contains))
    }
    assert(inputs.exists(_._1), "no distributed epoch saw case variants across partitions")
    assert(inputs.exists(_._2), "no distributed epoch linked to a page admitted in it")
  }

  test("a distributed crawl leaves persisted only what its result tables read") {
    spark.sparkContext.setLogLevel("ERROR")
    // signature dedup on, every epoch distributed, and fewer epochs than the
    // compaction cadence: the signature deltas and the probe snapshots are
    // still live when the call returns. Then the same on the retry shape
    // (the seen delta's checkpoint) and the politeness shape (the
    // politeness rank): the admitted set each epoch persists has an owner
    // on every shape
    val dup = CorpusParams(hosts = 2, pagesPerHost = 60, dupContentEvery = 3)
    val shapes = Seq(
      ("signature dedup", dup, CrawlConfig(maxEpochs = 30, smallEpochThreshold = 0)),
      ("retries", CorpusParams(hosts = 2, pagesPerHost = 40, errorEvery = 9),
        CrawlConfig(retryLimit = 2, maxEpochs = 30, smallEpochThreshold = 0)),
      ("politeness", CorpusParams(hosts = 3, pagesPerHost = 30),
        CrawlConfig(respectRobotsTxt = true, maxPerHostPerEpoch = 4, maxEpochs = 30, smallEpochThreshold = 0)))
    val seeds = Seq("https://www.site0.com/", "https://www.site1.com/")
    val sc = spark.sparkContext
    for ((shape, params, cfg) <- shapes) withClue(s"$shape: ") {
      val robots = new CorpusRobots(params)
      val before = sc.getPersistentRDDs.keySet
      val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
        expectedUrls = 100000L).crawl(seeds)
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      assert(er.epochs > 2 && er.epochs < cfg.stateCompactionEpochs,
        s"${er.epochs} epochs: not a multi-epoch crawl below the compaction cadence")
      def lineage(r: org.apache.spark.rdd.RDD[_], acc: scala.collection.mutable.Set[Int]): Unit =
        if (acc.add(r.id)) r.dependencies.foreach(d => lineage(d.rdd, acc))
      val read = scala.collection.mutable.Set.empty[Int]
      Seq(er.pages, er.seen, er.frontierRemainder, er.blocked)
        .foreach(df => lineage(df.queryExecution.toRdd, read))
      val stray = left.filterNot { case (id, _) => read.contains(id) }
      assert(stray.isEmpty, s"${stray.size} persisted RDDs no result table reads: " +
        stray.values.mkString(", "))
      val or = OracleCrawler.crawl(params, cfg, robots, seeds)
      assertParity(er, or)
      assert(frontierKeys(er) == frontierKeys(or.frontierRemainder))
      shape match {
        case "signature dedup" =>
          assert(or.pages.map(_.signature).filter(_ != 0L).distinct.size < or.pages.count(_.signature != 0L),
            "no duplicate content: signature dedup had nothing to do")
        case "retries" => assert(or.pages.exists(_.status == 500), "no page exhausted its retries")
        case _ =>
          val unpaced = OracleCrawler.crawl(params,
            cfg.copy(respectRobotsTxt = false, maxPerHostPerEpoch = Int.MaxValue), robots, seeds)
          assert(or.epochs > unpaced.epochs, "politeness deferred nothing")
      }
    }
  }

  test("the distributed gate equals the oracle: regex lists, robots with blocked rows, depth, round-robin") {
    spark.sparkContext.setLogLevel("ERROR")
    // every epoch distributed: the gate's row predicates (lists, robots,
    // depth) run in its tasks, robots-blocked rows are written from them,
    // and the fetch exchange interleaves hosts. Within the depth limit of
    // two path segments, host 1's robots disallow /legal/ and host 2's
    // carry a Crawl-delay; the whitelist leaves out /docs/, the blacklist
    // the root pages whose number ends in 5
    val params = CorpusParams(hosts = 3, pagesPerHost = 60)
    val cfg = CrawlConfig(whitelist = Seq("\\.com/(p[0-9]+\\.html)?$", "/(en|legal)/"),
      blacklist = Seq("/p[0-9]*5\\.html$"),
      listsAreRegex = true, respectRobotsTxt = true, trackBlocked = true, depth = 2,
      roundRobin = true, externalDomains = Set("*"), maxEpochs = 60, smallEpochThreshold = 0)
    val seeds = (0 until 3).map(i => s"https://www.site$i.com/")
    val robots = new CorpusRobots(params)
    val er = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
      expectedUrls = 100000L).crawl(seeds)
    val or = OracleCrawler.crawl(params, cfg, robots, seeds)
    assertParity(er, or)
    assert(frontierKeys(er) == frontierKeys(or.frontierRemainder))
    val blockedRows = er.blocked.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(blockedRows == or.blocked.toSet, s"blocked rows differ: engine-only " +
      s"${(blockedRows -- or.blocked).take(3)}, oracle-only ${(or.blocked.toSet -- blockedRows).take(3)}")
    assert(or.blocked.nonEmpty, "robots blocked nothing")
    // each gate refuses something here: without it the oracle fetches more
    def without(c: CrawlConfig) = OracleCrawler.crawl(params, c, robots, seeds).pages.size
    Seq("whitelist" -> cfg.copy(whitelist = Nil), "blacklist" -> cfg.copy(blacklist = Nil),
      "depth" -> cfg.copy(depth = 0)).foreach { case (gate, c) =>
      assert(without(c) > or.pages.size, s"the $gate gate refused nothing")
    }
  }
}
