package graft.model

/** Core data model of the spiderspark engine.
  *
  * Re-founds the reference's in-memory structs (spider-rs/spider,
  * `spider/src/website.rs:1249-1408`, `spider/src/page.rs:2376-2503`) as
  * explicit Spark schemas (case classes + `Encoders.product`). Schema is
  * fixed — never inferred — mirroring the compile-time structs of the
  * reference.
  */

/** One interleaved content span of a fetched document.
  *
  * The at-rest representation of a document is an ordered array of spans:
  * alternating text runs (`kind='text'`, `media_ref=null`) and media/link
  * references (`kind='link'|'image'|'video'|'audio'|...`, `text=null`).
  * `offset` is the document-order key. This is the Spark-native analogue of
  * the reference's single streaming HTML pass that yields links + content +
  * metadata in one deserialization (`page.rs:4201-4389`).
  *
  * Kinds:
  *  - `text`             — a text run (`text` set)
  *  - `title`            — document title (`page.rs:3925-3941`)
  *  - `meta_description` — meta description
  *  - `og_image`         — og:image URL in `media_ref`
  *  - `base`             — `<base href>` (`page.rs:4261-4271`); `media_ref` = href
  *  - `link`             — anchor href as authored (relative/absolute/fragment/…)
  *  - `image`|`video`|`audio` — media reference by URL
  *  - `script`|`stylesheet`  — sub-resources (frontier-relevant only when
  *    `full_resources`, reference `page.rs:4276-4311`)
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** A document of the synthetic web corpus — the engine's input table
  * (BASELINE.json input_hint shape) plus fetch-simulation sidecar columns.
  *
  * `doc_id` is the canonical URL of the document. `status`/`redirect_to`
  * simulate the HTTP layer behind the `Fetcher` seam (the reference's own
  * `RemoteFetcher` hook, `spider/src/fetcher.rs:1-106`).
  */
final case class CorpusDoc(
    doc_id: String,
    spans: Array[Span],
    status: Int,
    redirect_to: String, // null unless 3xx
    content_type: String,
    charset: String
)

/** Per-host robots.txt fixture row (reference caches raw text globally,
  * `spider/src/utils/robots_cache.rs:24-60`).
  */
final case class RobotsDoc(host: String, status: Int, rules_text: String)

/** A frontier candidate/pending entry.
  *
  * Reference: the per-round `links: HashSet<CaseInsensitiveString>` +
  * carry-over `extra_links` (`website.rs:7810`, `website.rs:1310`), enriched
  * with the bookkeeping the distributed engine needs:
  *  - `depth`          — link-graph hop distance from the seed (0 = seed)
  *  - `discovery_seq`  — global discovery sequence for canonical ordering
  *  - `priority`       — `score_url` value (`frontier.rs:163-185`)
  *  - `attempt`        — retry attempt counter (`website.rs:8388-8392`)
  *  - `not_before`     — logical epoch before which the entry may not be
  *                       admitted (retry backoff / politeness)
  */
final case class FrontierEntry(
    url: String,
    host: String,
    depth: Int,
    discovery_seq: Long,
    priority: Int,
    attempt: Int,
    not_before: Long
)

/** A fetched page row — the engine's primary output (reference `Page`
  * struct, `page.rs:2376-2503`). `signature` is the normalized content
  * hash (`utils/mod.rs:9287-9300`); `title`/`description`/`og_image` are
  * extracted in the same parse pass (`page.rs:3925-3941`).
  */
final case class PageRow(
    url: String,
    final_url: String,
    host: String,
    depth: Int,
    discovery_seq: Long,
    epoch: Long,
    status: Int,
    signature: Long,
    title: String,
    description: String,
    og_image: String,
    /** response charset (reference `page.rs:3849-3870`) — C9. */
    charset: String,
    /** server ETag (reference `utils/etag_cache.rs`) — C9. */
    etag: String,
    spans: Array[Span]
)

/** Crawl configuration — mirror of the reference `Configuration`
  * (`configuration.rs:347-720`; defaults `configuration.rs:862-872`).
  *
  * Budget keys follow the reference's accumulated-segment semantics
  * (`website.rs:2051-2121`): the key `"en"` matches the first path segment
  * `en`, the key `"enfr"` matches `/en/fr/...` (segments concatenated
  * WITHOUT separator — `joint_segment.push_str(seg)`), and `"*"` is the
  * wildcard total-page budget (`configuration.rs:1495-1499`).
  */
final case class CrawlConfig(
    respectRobotsTxt: Boolean = false,
    subdomains: Boolean = false,
    tld: Boolean = false,
    delayMs: Long = 0L, // politeness delay between fetches of one host
    depth: Int = 25, // max URL path depth (reference default `configuration.rs:866`)
    budget: Map[String, Int] = Map.empty,
    blacklist: Seq[String] = Nil,
    whitelist: Seq[String] = Nil,
    externalDomains: Set[String] = Set.empty, // may contain "*"
    fullResources: Boolean = false,
    normalize: Boolean = true, // content-signature dedup on
    userAgent: String = "*",
    retryLimit: Int = 0,
    maxEpochs: Int = 1000, // safety breaker on epoch count
    crawlTimeoutMs: Long = 0L, // wall-clock cap, 0 = none (reference `crawl_timeout` `website.rs:29`)
    tickMs: Long = 1000L, // logical duration of one epoch for politeness
    maxPerHostPerEpoch: Int = Int.MaxValue, // politeness burst cap
    checkpointEvery: Int = 0, // 0 = no durable snapshots
    // B2/B3 regex variant (reference `regex` feature, `lib.rs:433-449`):
    // whitelist/blacklist entries are regexes matched anywhere in the URL
    listsAreRegex: Boolean = false,
    // D5 domain round-robin fetch emission (reference `frontier.rs:78-121`)
    roundRobin: Boolean = false,
    // latency-EMA auto-throttle (reference `auto_throttle.rs`): delay ≈
    // ema_latency / targetConcurrency, clamped to [min, max]
    autoThrottle: Boolean = false,
    autoThrottleTargetConcurrency: Double = 2.0,
    autoThrottleMinDelayMs: Long = 0L,
    autoThrottleMaxDelayMs: Long = 60000L,
    autoThrottleAlpha: Double = 0.15,
    // long-crawl state hygiene: every k epochs compact seen/signature
    // deltas into one checkpointed table and rebuild the per-partition
    // probe structures, keeping per-epoch gate cost flat over thousands
    // of epochs
    stateCompactionEpochs: Int = 16,
    // epochs admitting at most this many URLs assign link sequence numbers
    // driver-side in one job instead of the distributed two-pass (identical
    // canonical order; the two-pass costs ~4 driver barriers that dwarf the
    // milliseconds of work at this size). 0 disables the fast path.
    smallEpochThreshold: Int = 4096,
    // blocked-row side outputs (reference `on_robots_blocked`
    // `website.rs:1980-1982` / `blocked_crawl` `page.rs:2446`): surface
    // robots-blocked candidate and vetoed page counts in EpochMetrics.
    // On the distributed path this costs two extra count jobs per epoch,
    // so it is opt-in; the small-epoch fast path counts them for free.
    trackBlocked: Boolean = false,
    // A6 — per-host sitemap document path (reference `sitemap_url` /
    // `with_sitemap`, `configuration.rs:391,1178-1190`): the chain and
    // sitemap-only walks request `<seed scheme+host><sitemapUrl>`.
    // Sitemaps advertised by crawled pages (`link[rel=sitemap]`,
    // `website.rs:12512` — span kind "sitemap" here) join the chain too.
    sitemapUrl: String = "/sitemap.xml"
) {
  /** Effective wildcard budgeting flag (`determine_limits` `website.rs:14068-14075`). */
  def wildCardBudgeting: Boolean = budget.contains("*")
}

/** Per-epoch crawl metrics (north rule: checkpoints carry lineage + metrics). */
final case class EpochMetrics(
    epoch: Long,
    candidates: Long,
    admitted: Long,
    fetched: Long,
    new_links: Long,
    frontier_size: Long,
    seen_size: Long,
    budget_stopped: Boolean,
    wall_ms: Long = 0L,
    /** candidates that passed the lists gate but were refused by robots
      * this epoch (reference `on_robots_blocked` callback parity);
      * populated always on the fast path, under `trackBlocked` on the
      * distributed path. */
    robots_blocked: Long = 0L,
    /** fetched pages whose expansion the B11 veto suppressed
      * (reference `blocked_crawl`); same population rule. */
    vetoed: Long = 0L
)
