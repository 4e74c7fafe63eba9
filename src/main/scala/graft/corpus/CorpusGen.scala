package graft.corpus

import graft.model.{CorpusDoc, RobotsDoc, Span}

/** Deterministic synthetic web generator.
  *
  * The sandbox has no network, so the fetch stage is pluggable — exactly the
  * reference's own `RemoteFetcher` seam (`spider/src/fetcher.rs:1-106`,
  * `crawl_concurrent_remote` `website.rs:7585-7732`) which swaps the network
  * round-trip while keeping all other crawl machinery. Every document is a
  * PURE FUNCTION of (params, url): `docFor` — usable as a lookup table
  * (materialized Parquet for tests, input_hint shape) or generated lazily at
  * any scale for bench (never materializing the 10^10 URL space).
  *
  * The web shape exercises every gate operator: page trees with budget-
  * relevant first segments (en/fr/docs/products/legal/items), varied href
  * shapes (absolute path / full URL / bare relative / scheme-relative /
  * case-variant host), media + asset links, mailto/fragment/javascript
  * noise, cross-host links, subdomain siblings, duplicate-content pairs,
  * 404/500/301 statuses, and per-host robots classes.
  */
final case class CorpusParams(
    seed: Long = 42L,
    hosts: Int = 3,
    pagesPerHost: Int = 50,
    fanout: Int = 4,
    hotHostFactor: Int = 1, // host 0 gets pagesPerHost * factor pages (skew scenario)
    scheme: String = "https",
    dupContentEvery: Int = 0, // every k-th page shares content with its predecessor (0=off)
    redirectEvery: Int = 0, // every k-th page is a 301 to the next page (0=off)
    errorEvery: Int = 0, // every k-th page is a 404/500 (0=off)
    rateLimitEvery: Int = 0, // every k-th page is a 429 with Retry-After (0=off)
    retryAfterMs: Long = 3000L, // Retry-After carried by synthetic 429s
    retryAfterVaries: Boolean = false, // per-URL Retry-After in [r/2, 3r/2)
    externalLinksTo: Int = 1, // link a few pages to host (i+n)%hosts
    orphanEvery: Int = 0, // pages with p%k==2 get NO inbound tree/cross links (sitemap-only; 0=off)
    textWords: Int = 12, // base words per text span (bench uses realistic ~150)
    sitemapPath: String = "/sitemap.xml", // where each host serves its sitemap (custom-path scenario)
    advertiseSitemap: Boolean = false, // root pages carry a rel=sitemap span pointing at sitemapPath
    seedRedirectToHost: Int = -1 // host 0's root 301s to this host's root (C6 re-anchor scenario; -1=off)
) {
  def pagesFor(hostIdx: Int): Int = if (hostIdx == 0) pagesPerHost * hotHostFactor else pagesPerHost
  def totalPages: Long = (0 until hosts).map(pagesFor(_).toLong).sum
}

object CorpusGen {

  val Dirs: Array[String] = Array("en", "fr", "docs", "products", "legal", "items")

  def hostName(i: Int): String = s"www.site$i.com"
  def subHostName(i: Int): String = s"sub.site$i.com"

  /** Stable 64-bit mix (splitmix64) — the corpus's only randomness source. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Path of page `p` on its host. p=0 is the root. Shapes vary by p%4 so
    * depth/budget gates see 1-4 segment paths; the page index is embedded
    * for invertibility.
    */
  def pagePath(p: Long): String = {
    if (p == 0L) return "/"
    val d1 = Dirs((p % 6).toInt)
    val d2 = Dirs(((p / 6) % 6).toInt)
    (p % 4) match {
      case 0 => s"/$d1/p$p.html"
      case 1 => s"/p$p.html"
      case 2 => s"/$d1/$d2/p$p.html"
      case _ => s"/$d1/$d2/deep/p$p.html"
    }
  }

  def pageUrl(params: CorpusParams, hostIdx: Int, sub: Boolean, p: Long): String = {
    val h = if (sub) subHostName(hostIdx) else hostName(hostIdx)
    s"${params.scheme}://$h${pagePath(p)}"
  }

  /** Inverse of pageUrl/pagePath: (hostIdx, isSub, pageIdx) or null. */
  def parseUrl(params: CorpusParams, url: String): (Int, Boolean, Long) = {
    val p = graft.url.UrlOps.parse(url)
    if (p == null) return null
    val host = p.host
    val (sub, rest) =
      if (host.startsWith("www.site")) (false, host.substring(8))
      else if (host.startsWith("sub.site")) (true, host.substring(8))
      else return null
    if (!rest.endsWith(".com")) return null
    val idxStr = rest.dropRight(4)
    if (idxStr.isEmpty || !idxStr.forall(_.isDigit)) return null
    val hostIdx = try idxStr.toInt catch { case _: NumberFormatException => return null }
    if (hostIdx < 0 || hostIdx >= params.hosts) return null
    val path = p.path
    if (path == "/") return (hostIdx, sub, 0L)
    // expect .../p<idx>.html
    val slash = path.lastIndexOf('/')
    val fn = path.substring(slash + 1)
    if (!fn.startsWith("p") || !fn.endsWith(".html")) return null
    val num = fn.substring(1, fn.length - 5)
    if (num.isEmpty || !num.forall(_.isDigit)) return null
    val idx = try num.toLong catch { case _: NumberFormatException => return null }
    val pages = if (sub) subPages(params, hostIdx) else params.pagesFor(hostIdx)
    if (idx >= pages) return null
    if (pagePath(idx) != path) return null // path shape must match exactly
    (hostIdx, sub, idx)
  }

  /** Subdomain sibling trees are small. */
  def subPages(params: CorpusParams, hostIdx: Int): Int = math.max(2, params.pagesPerHost / 10)

  /** Deterministic pseudo-text for content spans. Pages in the same
    * dup-content class share text exactly (signature dedup scenario).
    */
  private def contentKey(params: CorpusParams, hostIdx: Int, p: Long): Long =
    if (params.dupContentEvery > 1 && p > 0 && p % params.dupContentEvery == 0) p - 1 else p

  private val Words = Array("the", "quick", "crawl", "frontier", "spark", "span", "media",
    "page", "deep", "link", "robot", "budget", "host", "shard", "epoch", "token")

  private def sentence(k: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append(Words((mix(k * 31 + i) & 0x7fffffff).toInt % Words.length))
      i += 1
    }
    sb.toString
  }

  /** The interleaved span array of a page — alternating text and media/link
    * spans, offsets strictly increasing (the per-row parity invariant is
    * span-sequence equality on (kind, text, media_ref, order)).
    */
  def spansFor(params: CorpusParams, hostIdx: Int, sub: Boolean, p: Long): Array[Span] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    var off = 0
    def add(kind: String, text: String, ref: String): Unit = { out += Span(kind, text, ref, off); off += 1 }

    val host = if (sub) subHostName(hostIdx) else hostName(hostIdx)
    val ck = contentKey(params, hostIdx, p)
    val hseed = mix(params.seed ^ mix(hostIdx.toLong << 1 | (if (sub) 1 else 0)))

    add("title", s"Page $ck of $host", null)
    add("meta_description", sentence(hseed ^ ck, 8), null)
    add("text", sentence(hseed ^ mix(ck * 7 + 1), params.textWords), null)

    val pages = if (sub) subPages(params, hostIdx) else params.pagesFor(hostIdx)

    // tree children — href shapes rotate (canonicalization coverage)
    def orphan(q: Long): Boolean =
      params.orphanEvery > 1 && q > 0 && q % params.orphanEvery == 2
    var k = 0
    while (k < params.fanout) {
      val c = p * params.fanout + k + 1
      if (c < pages && !orphan(c)) {
        val cPath = pagePath(c)
        val href = ((p + k) % 5) match {
          case 0 => cPath // absolute path
          case 1 => s"${params.scheme}://$host$cPath" // full URL
          case 2 => if (pagePath(p) == "/") cPath.substring(1) else cPath // bare relative from root
          case 3 => s"//$host$cPath" // scheme-relative
          case _ => s"${params.scheme}://${host.toUpperCase(java.util.Locale.ROOT)}$cPath" // case-variant host
        }
        add("link", null, href)
      }
      k += 1
    }

    // one cross link to a deterministic same-host page (graph density)
    if (pages > 1) {
      val cross0 = (mix(hseed ^ (p * 13 + 5)) & 0x7fffffffffffffffL) % pages
      val cross = if (orphan(cross0)) (cross0 + 1) % pages else cross0
      add("link", null, pagePath(cross))
      add("text", sentence(hseed ^ mix(ck * 3 + 2), params.textWords / 2), null)
    }

    // subdomain sibling link from the apex root page
    if (!sub && p == 0) add("link", null, s"${params.scheme}://${subHostName(hostIdx)}/")

    // rel=sitemap advertisement (span kind "sitemap" — never a frontier
    // link; consumed only by the chain's sitemap auto-discovery)
    if (params.advertiseSitemap && !sub && p == 0)
      add("sitemap", null, s"${params.scheme}://$host${params.sitemapPath}")

    // external cross-host link (out of scope unless external_domains)
    if (params.hosts > 1 && p % 7 == 3)
      add("link", null, s"${params.scheme}://${hostName((hostIdx + params.externalLinksTo) % params.hosts)}/")

    // media spans + an asset link (B10 filter) + noise links
    add("image", null, s"/static/img$ck.png")
    if (p % 5 == 2) add("video", null, s"/static/v$ck.mp4")
    if (p % 5 == 4) add("audio", null, s"/static/a$ck.mp3")
    if (p % 3 == 1) add("link", null, s"/files/doc$ck.pdf") // ignored-extension link
    if (p % 6 == 2) add("link", null, "mailto:contact@" + host)
    if (p % 6 == 5) add("link", null, "#")
    if (p % 9 == 4) add("link", null, "javascript:void(0);")
    add("text", sentence(hseed ^ mix(ck * 11 + 3), params.textWords), null)

    out.toArray
  }

  /** HTTP status of a page (deterministic). Redirect targets the next page
    * on the same host; error pages have no spans.
    */
  def statusFor(params: CorpusParams, hostIdx: Int, sub: Boolean, p: Long): (Int, String) = {
    val pages = if (sub) subPages(params, hostIdx) else params.pagesFor(hostIdx)
    if (params.seedRedirectToHost >= 0 && hostIdx == 0 && !sub && p == 0) {
      // cross-host seed redirect: exercises the epoch-0 scope re-anchor
      // (reference `modify_selectors` `page.rs:4736-4747`)
      (301, s"${params.scheme}://${hostName(params.seedRedirectToHost)}/")
    } else if (params.redirectEvery > 1 && p > 0 && p % params.redirectEvery == 0 && p + 1 < pages) {
      val host = if (sub) subHostName(hostIdx) else hostName(hostIdx)
      (301, s"${params.scheme}://$host${pagePath(p + 1)}")
    } else if (params.errorEvery > 1 && p > 0 && p % params.errorEvery == 0) {
      (if (p % (2L * params.errorEvery) == 0) 500 else 404, null)
    } else if (params.rateLimitEvery > 1 && p > 0 && p % params.rateLimitEvery == 0) {
      (429, null) // rate-limited; Retry-After via retryAfterMsFor
    } else (200, null)
  }

  /** Retry-After carried by the corpus's synthetic 429s (deterministic).
    * With `retryAfterVaries`, a per-URL value in [r/2, 3r/2) — successive
    * 429s from one host then carry DIFFERENT values, exercising the
    * overwrite semantics of the reference's `throttle`
    * (`rate_limiter.rs:121-137`: later Retry-After replaces earlier).
    */
  def retryAfterMsFor(params: CorpusParams, url: String = ""): Long =
    if (!params.retryAfterVaries || url.isEmpty) params.retryAfterMs
    else {
      val r = math.max(2L, params.retryAfterMs)
      r / 2 + (mix(params.seed ^ url.hashCode.toLong) & 0x7fffffffL) % r
    }

  /** Deterministic per-URL ETag for 200 responses (the server-header stand-in
    * feeding the C9 etag column).
    */
  def etagFor(params: CorpusParams, url: String): String =
    "W/\"" + java.lang.Long.toHexString(mix(params.seed ^ url.hashCode.toLong)) + "\""

  /** Deterministic per-host response latency, ms — the auto-throttle's
    * input signal. Host idx spreads latencies over [20, 100).
    */
  def latencyMsFor(params: CorpusParams, host: String): Long = {
    val r = host.replaceAll("^(www|sub)\\.site", "").replaceAll("\\.com$", "")
    val idx = if (r.nonEmpty && r.forall(_.isDigit)) r.toInt else 0
    20L + (mix(params.seed ^ (idx * 31L)) & 0x7fffffffL) % 80L
  }

  /** Sitemap document for a host (`/sitemap.xml`): span-encoded `<urlset>`
    * listing every 3rd page up to 50 entries plus a nested sitemap-index
    * entry on the apex (reference sitemap walk is recursive,
    * `website.rs:12578+`). The XML payload is represented exactly like any
    * other document: an ordered span array whose `link` spans are the
    * `<loc>` entries.
    */
  def sitemapFor(params: CorpusParams, host: String): CorpusDoc =
    sitemapFor(params, host, deep = false)

  /** `deep = false` → `/sitemap.xml`: `<urlset>` of every 3rd page plus a
    * nested `<sitemapindex>` entry (span kind "sitemap") pointing at
    * `/sitemap-deep.xml`; `deep = true` → that second level, listing every
    * 7th page offset by 1 — so the recursive walk contributes pages the
    * first level does not.
    */
  def sitemapFor(params: CorpusParams, host: String, deep: Boolean): CorpusDoc = {
    val idx = hostIdxOf(params, host)
    if (idx < 0) return null
    val sub = host.startsWith("sub.")
    val pages = if (sub) subPages(params, idx) else params.pagesFor(idx)
    val out = scala.collection.mutable.ArrayBuffer.empty[Span]
    var off = 0
    out += Span("text", "<urlset>", null, { off += 1; off - 1 })
    var p = if (deep) 1L else 0L
    var n = 0
    val (step, cap) = if (deep) (7L, 30) else (3L, 50)
    while (p < pages && n < cap) {
      out += Span("link", null, s"${params.scheme}://$host${pagePath(p)}", { off += 1; off - 1 })
      p += step; n += 1
    }
    if (!deep)
      out += Span("sitemap", null, s"${params.scheme}://$host/sitemap-deep.xml", { off += 1; off - 1 })
    out += Span("text", "</urlset>", null, { off += 1; off - 1 })
    val path = if (deep) "/sitemap-deep.xml" else params.sitemapPath
    CorpusDoc(s"${params.scheme}://$host$path", out.toArray, 200, null, "application/xml", "utf-8")
  }

  private def hostIdxOf(params: CorpusParams, host: String): Int = {
    val r = host.replaceAll("^(www|sub)\\.site", "").replaceAll("\\.com$", "")
    if (r.nonEmpty && r.forall(_.isDigit)) {
      val i = r.toInt
      if (i >= 0 && i < params.hosts) i else -1
    } else -1
  }

  /** The pure fetch function: URL → document. Unknown URLs → null (a 404 is
    * synthesized by the fetcher).
    */
  def docFor(params: CorpusParams, url: String): CorpusDoc = {
    if (url != null && url.endsWith(params.sitemapPath))
      return sitemapFor(params, graft.url.UrlOps.host(url), deep = false)
    if (url != null && url.endsWith("/sitemap-deep.xml"))
      return sitemapFor(params, graft.url.UrlOps.host(url), deep = true)
    val parsed = parseUrl(params, url)
    if (parsed == null) return null
    val (hostIdx, sub, p) = parsed
    val (status, redirect) = statusFor(params, hostIdx, sub, p)
    val spans =
      if (status == 200) spansFor(params, hostIdx, sub, p)
      else if (status == 301) Array.empty[Span]
      else Array.empty[Span]
    CorpusDoc(url, spans, status, redirect, "text/html", "utf-8")
  }

  /** robots.txt per host — classes rotate by host index:
    * 0 ⇒ no robots (404); 1 ⇒ Disallow /legal/; 2 ⇒ Crawl-delay + Disallow
    * /fr/; 3 ⇒ robots 403 (disallow_all); 4 ⇒ empty allow-all.
    */
  def robotsFor(params: CorpusParams, host: String): RobotsDoc = {
    val idx = {
      val r = host.replaceAll("^(www|sub)\\.site", "").replaceAll("\\.com$", "")
      if (r.forall(_.isDigit) && r.nonEmpty) r.toInt else 0
    }
    (idx % 5) match {
      case 0 => RobotsDoc(host, 404, null)
      case 1 => RobotsDoc(host, 200, "User-agent: *\nDisallow: /legal/\n")
      case 2 => RobotsDoc(host, 200, "User-agent: *\nCrawl-delay: 2\nDisallow: /fr/\n")
      case 3 => RobotsDoc(host, 403, null)
      case _ => RobotsDoc(host, 200, "")
    }
  }

  /** All URLs of the corpus (for materialization; tests/small scale only). */
  def allUrls(params: CorpusParams): Seq[String] = {
    val b = Seq.newBuilder[String]
    var i = 0
    while (i < params.hosts) {
      var p = 0L
      val n = params.pagesFor(i)
      while (p < n) { b += pageUrl(params, i, sub = false, p); p += 1 }
      p = 0L
      val sn = subPages(params, i)
      while (p < sn) { b += pageUrl(params, i, sub = true, p); p += 1 }
      i += 1
    }
    b.result()
  }

  /** Materialize the corpus as a DataFrame in input_hint shape (+ sidecars). */
  def docsDF(spark: org.apache.spark.sql.SparkSession, params: CorpusParams): org.apache.spark.sql.Dataset[CorpusDoc] = {
    import spark.implicits._
    val urls = allUrls(params)
    spark.createDataset(urls).repartition(spark.sparkContext.defaultParallelism)
      .map(u => docFor(params, u))
  }
}
