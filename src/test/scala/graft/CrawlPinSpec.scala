package graft

import graft.corpus.CorpusParams
import graft.engine.CorpusRobots
import graft.model.CrawlConfig
import graft.oracle.OracleCrawler
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the pinned crawl_basic / crawl_budget DuckDB oracles honest: the
  * VALUES constants in [[SparkEntry]] must equal a LIVE run of the
  * sequential OracleCrawler on the same (corpus, config, seeds). Combined
  * with CrawlDifferentialSpec (engine == OracleCrawler), this closes the
  * chain engine == pins that the driver's DuckDB compare checks.
  */
class CrawlPinSpec extends AnyFunSuite {

  private def esc(s: String) = "'" + s.replace("'", "''") + "'"

  test("crawl_basic pins match a live OracleCrawler run") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val res = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 20),
      new CorpusRobots(params), Seq("https://www.site0.com/"))
    val live = res.pages.map(p =>
      s"(${esc(p.url)},${p.depth},${p.status},CAST(${p.signature} AS BIGINT))")
    assert(live == SparkEntry.crawlBasicRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
  }

  test("crawl_budget pins match a live OracleCrawler run") {
    val params = CorpusParams(hosts = 2, pagesPerHost = 60)
    val res = OracleCrawler.crawl(params,
      CrawlConfig(budget = Map("*" -> 12, "en" -> 3), maxEpochs = 20),
      new CorpusRobots(params), Seq("https://www.site0.com/"))
    val live = res.pages.map(p => s"(${esc(p.url)},${p.depth},${p.status})")
    assert(live == SparkEntry.crawlBudgetRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
  }

  test("crawl_throttle pins match a live OracleCrawler run (epoch = pacing)") {
    val s = graft.queries.Queries.ThrottleScenario
    val res = OracleCrawler.crawl(s.params, s.config, new CorpusRobots(s.params), s.seeds)
    val live = res.pages.map(p =>
      s"(${esc(p.url)},${p.depth},${p.status},CAST(${p.epoch} AS BIGINT))")
    assert(live == SparkEntry.crawlThrottleRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
  }

  test("crawl_sitemap pins match a live OracleCrawler run (A6 chain + recursion)") {
    val s = graft.queries.Queries.SitemapScenario
    val res = OracleCrawler.crawl(s.params, s.config, new CorpusRobots(s.params),
      s.seeds, sitemapChain = true)
    val live = res.pages.map(p => s"(${esc(p.url)},${p.depth},${p.status})")
    assert(live == SparkEntry.crawlSitemapRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
    // the pins must contain sitemap-only pages from BOTH chain levels
    assert(live.exists(_.contains("p12.html")), "first-level sitemap orphan missing")
    assert(live.exists(_.contains("p22.html")), "nested-sitemap orphan missing")
  }

  test("crawl_blocked pins match a live OracleCrawler run (B11 side table)") {
    val s = graft.queries.Queries.BlockedScenario
    val res = OracleCrawler.crawl(s.params, s.config, new CorpusRobots(s.params),
      s.seeds, onShouldCrawl = Some(s.veto))
    val live = res.blocked.map { case (u, r, e) =>
      s"(${esc(u)},${esc(r)},CAST($e AS BIGINT))" }
    assert(live == SparkEntry.crawlBlockedRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
    assert(res.blocked.exists(_._2 == "robots") && res.blocked.exists(_._2 == "veto"),
      "scenario must produce both blocked reasons")
  }

  test("crawl_sitemap_only pins match a live OracleCrawler run (crawl_sitemap() mode)") {
    val s = graft.queries.Queries.SitemapScenario
    val res = OracleCrawler.crawl(s.params, s.config, new CorpusRobots(s.params),
      s.seeds, sitemapOnly = true)
    val live = res.pages.map(p => s"(${esc(p.url)},${p.depth},${p.status})")
    assert(live == SparkEntry.crawlSitemapOnlyRows,
      "regenerate with: Test/runMain graft.tools.Drive oracledump")
    // no link expansion: both chain levels present, nothing deeper
    assert(live.exists(_.contains("p22.html")), "nested-sitemap entry missing")
    assert(res.pages.forall(_.depth <= 2), "sitemap-only must never expand links")
  }
}
