package graft.oracle

import graft.corpus.{CorpusGen, CorpusParams}
import graft.engine.{CrawlEngine, FetchResult, RobotsProvider, Sequential}
import graft.model.{CrawlConfig, FrontierEntry}
import graft.url.UrlOps
import scala.collection.mutable

/** Sequential in-memory reference implementation of the crawl contract —
  * the differential oracle of SURVEY §5: the Spark engine's visited set,
  * page set, and canonical admission order must equal this crawler's on the
  * same (corpus, config, seeds).
  *
  * It is the engine's set-up ([[Sequential.start]], [[Sequential.inject]],
  * [[Sequential.startChain]]) plus a loop over the engine's driver-side
  * epoch ([[Sequential.Step]]), run in plain memory: two in-memory sets for
  * membership, plain per-host maps, and its own inline fetch (the
  * independent reference for `GenerativeFetcher.fetchOne`). The engine's
  * small-epoch path runs the same step, so a small-path-vs-oracle
  * differential checks only the engine's adapters; the step itself is
  * checked independently by the distributed-path differentials
  * (`smallEpochThreshold = 0`), which replay it with anti-joins, windows,
  * rank assignment and state rolling, by the `CrawlPinSpec` VALUES pins and
  * by the DuckDB oracle.
  */
object OracleCrawler {

  final case class OraclePage(url: String, finalUrl: String, host: String, depth: Int,
      seq: Long, epoch: Long, status: Int, signature: Long, links: Seq[String])

  final case class OracleResult(
      pages: Vector[OraclePage],
      seen: Set[String], // lowercased
      frontierRemainder: Vector[FrontierEntry],
      epochs: Long,
      // B11 side outputs mirror: (url, reason ∈ {robots, veto}, epoch) —
      // robots-denied candidates at their admission epoch, veto-suppressed
      // pages at their fetch epoch (engine `CrawlResult.blocked` contract)
      blocked: Vector[(String, String, Long)] = Vector.empty)

  def crawl(params: CorpusParams, config: CrawlConfig, robots: RobotsProvider,
      seedUrls: Seq[String],
      retryPolicy: Option[graft.engine.RetryPolicy] = None,
      sitemapChain: Boolean = false,
      sitemapOnly: Boolean = false,
      onLinkFind: Option[String => String] = None,
      onShouldCrawl: Option[graft.engine.ParsedPage => Boolean] = None): OracleResult = {
    val start = Sequential.start(config, seedUrls, sitemapOnly)
    val gate = new Sequential.Gate(config, robots)
    val seen = mutable.Set.empty[String]
    val step = new Sequential.Step(config, robots, gate, start.depthDistance,
      retryPolicy.getOrElse(new graft.engine.DefaultRetryPolicy(config.retryLimit)),
      sitemapChain, onShouldCrawl, onLinkFind,
      Sequential.inMemory(seen), Sequential.inMemory(mutable.Set.empty[Long]),
      _.map(fetch(params, _)), Sequential.HostState())

    val pages = Vector.newBuilder[OraclePage]
    val blocked = Vector.newBuilder[(String, String, Long)]
    var ledger = start.ledger
    var frontier = start.frontier.filter(gate.default)
    var epoch = 0L
    var done = frontier.isEmpty
    var pendingInbox = Seq.empty[String]
    var crawling = true
    while (crawling) {
      while (!done) {
        // inbox drain: chain injection enters at epoch start
        if (pendingInbox.nonEmpty) {
          val (injected, l) = Sequential.inject(pendingInbox, ledger)
          ledger = l
          pendingInbox = Seq.empty
          if (injected.nonEmpty)
            frontier = CrawlEngine.dedupCanonicalMinLocal(frontier ++ injected)
        }
        if (!frontier.exists(_.not_before <= epoch)) {
          epoch += 1
          done = frontier.isEmpty || epoch >= config.maxEpochs
        } else {
          val out = step(frontier, epoch, ledger)
          out.pages.foreach { p =>
            pages += OraclePage(p.url, p.final_url, p.host, p.depth, p.discovery_seq,
              p.epoch, p.status, p.signature, p.links.toSeq)
          }
          out.robotsBlocked.foreach(e => blocked += ((e.url, "robots", epoch)))
          out.vetoed.foreach(p => blocked += ((p.url, "veto", epoch)))
          frontier = out.frontier
          ledger = out.ledger
          epoch += 1
          done = ledger.budgetStopped || frontier.isEmpty || epoch >= config.maxEpochs
        }
      }
      // chain transition: the sitemap walk runs AFTER the crawl, skipped
      // when the wildcard budget is already exhausted
      if (sitemapChain && !ledger.chainStarted && !ledger.budgetStopped &&
          epoch < config.maxEpochs) {
        val (sms, l) = Sequential.startChain(config, start.seedUrls, ledger)
        ledger = l
        if (sms.nonEmpty) {
          pendingInbox = sms
          done = false
        } else crawling = false
      } else crawling = false
    }

    OracleResult(
      pages.result() // the sitemap XML itself is parsed, never emitted as a page
        .filterNot(p => ledger.chainSitemaps.contains(UrlOps.lowerUtf8(p.url)))
        .sortBy(p => (p.depth, p.seq, p.host, p.url))(Sequential.keyOrder),
      seen.toSet, frontier, epoch, blocked.result())
  }

  // the generative corpus fetch, written out independently of
  // GenerativeFetcher: redirects followed up to 7 hops, 310 past the limit
  private def fetch(params: CorpusParams, e: FrontierEntry): FetchResult = {
    var url = e.url
    var doc = CorpusGen.docFor(params, url)
    var hops = 0
    while (doc != null && doc.status >= 300 && doc.status < 400 && doc.redirect_to != null && hops < 7) {
      url = doc.redirect_to; doc = CorpusGen.docFor(params, url); hops += 1
    }
    val lat = CorpusGen.latencyMsFor(params, e.host)
    if (doc == null) FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, 404, url, Array.empty, 0L, lat)
    else if (doc.status >= 300 && doc.status < 400)
      FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, 310, url, Array.empty, 0L, lat)
    else FetchResult(e.url, e.host, e.depth, e.discovery_seq, e.priority, e.attempt, doc.status, url, doc.spans,
      if (doc.status == 429) CorpusGen.retryAfterMsFor(params, url) else 0L, lat,
      doc.charset, if (doc.status == 200) CorpusGen.etagFor(params, url) else null)
  }
}
