package graft.engine

import graft.model._
import graft.url.UrlOps
import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, GraftSqlBridge, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter
import scala.reflect.ClassTag

/** Crawl scope — the reference's `RelativeSelectors` tuple
  * (`spider/src/lib.rs:452-458`): `(sub_matcher, [parent_host, scheme],
  * redirect_domain)`, re-anchored on cross-host seed redirect
  * (`modify_selectors`, `page.rs:4736-4747`).
  */
final case class ScopeState(
    subMatcher: String,
    parentHost: String,
    parentScheme: String,
    redirectHost: String,
    crawlBase: String,
    externalDomains: Set[String],
    fullResources: Boolean)

/** A parsed page plus its validated outgoing links (still scope-filtered
  * candidate URLs, pre-gate). One deserialization of the span array yields
  * content + metadata + links — the Spark analogue of the reference's single
  * streaming HTML pass (`page.rs:4201-4389`).
  */
final case class ParsedPage(
    url: String, final_url: String, host: String, depth: Int,
    discovery_seq: Long, priority: Int, attempt: Int, epoch: Long,
    status: Int, signature: Long,
    title: String, description: String, og_image: String,
    charset: String, etag: String,
    spans: Array[Span], links: Array[String],
    retry_after_ms: Long, latency_ms: Long,
    /** `<sitemapindex>` locs (span kind "sitemap") — the recursive sitemap
      * walk's next level (reference `SiteMapEntity::SiteMap`,
      * `website.rs:12748-12753`); empty for ordinary pages. */
    sitemap_links: Array[String] = Array.empty)

/** C7 — pluggable retry strategy (reference `retry_strategy.rs:24-70`: a
  * user hook deciding per attempt whether/how to retry; the fetch-profile
  * switching half of the directive lives behind the Fetcher seam). Column
  * methods run on the hot path (codegen'd); the scalar methods are the
  * sequential-oracle mirror and MUST stay consistent with them.
  */
trait RetryPolicy extends Serializable {
  def maxAttempts: Int
  def isRetryable(status: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  def backoffEpochs(attempt: org.apache.spark.sql.Column): org.apache.spark.sql.Column
  def isRetryableStatus(status: Int): Boolean
  def backoffEpochsOf(attempt: Int): Long
}

/** The reference's built-in ladder: retryable 5xx/429/408, exponential
  * backoff capped at 60 (`backoff_delay(attempt, 1s, 60s)`
  * `website.rs:8388-8392`).
  */
final class DefaultRetryPolicy(limit: Int) extends RetryPolicy {
  override def maxAttempts: Int = limit
  override def isRetryable(s: Column): Column =
    (s >= 500 && s =!= 501 && s =!= 505 && s =!= 511) || s === 429 || s === 408
  override def backoffEpochs(attempt: Column): Column =
    least(pow(lit(2.0), attempt + 1), lit(60.0)).cast(org.apache.spark.sql.types.LongType)
  override def isRetryableStatus(s: Int): Boolean =
    (s >= 500 && s != 501 && s != 505 && s != 511) || s == 429 || s == 408
  override def backoffEpochsOf(attempt: Int): Long =
    math.min(math.pow(2.0, attempt + 1).toLong, 60L)
}

/** A crawl call's tables. `seen` reads the seen store's chain lazily, so
  * that chain (and the persisted sets behind it) stays cached for the
  * result's lifetime; every other cache of the call is released before
  * `crawl` returns.
  */
final case class CrawlResult(
    pages: DataFrame,
    seen: DataFrame,
    frontierRemainder: DataFrame, // reference `extra_links` (budget stop leftovers)
    metrics: Seq[EpochMetrics],
    epochs: Long,
    // B11 side outputs (reference `on_robots_blocked` `website.rs:1980-1982`,
    // `blocked_crawl` `page.rs:2446`): one row per blocked URL with
    // reason ∈ {robots, veto} and the epoch it was blocked in. Populated
    // only under `trackBlocked` (empty otherwise); EpochMetrics counts are
    // the per-epoch aggregates of this table.
    blocked: DataFrame)

/** The crawl engine: the reference's `crawl_concurrent_raw` loop
  * (`spider/src/website.rs:7736-8712`) re-founded as a micro-batch frontier
  * loop over DataFrames. Per epoch:
  *
  *   admit(candidates) = politeness ∘ budget ∘ depth ∘ robots ∘ lists ∘ seen
  *   fetch → parse spans → signature-dedup → extract links → append tables
  *
  * Scale design (north rule): the `seen` set is NEVER re-shuffled and
  * never broadcast — candidates are pre-filtered through a driver-merged
  * Bloom group (fast-negative, the reference's `MmapBloom` contract
  * `utils/bloom.rs:54-98`), and the maybe-seen residue shuffles to the
  * hash-partitioned seen store where a per-partition exact set answers
  * membership authoritatively. Fetch order is the priority queue realized as
  * repartition(host) + secondary sort (desc priority, depth, discovery_seq,
  * url). Determinism: the canonical total order `(depth, discovery_seq,
  * host, url)` (SURVEY D6) drives budget admission and discovery_seq
  * assignment, making crawls bit-reproducible across parallelism levels.
  */
class CrawlEngine(
    spark: SparkSession,
    config: CrawlConfig,
    fetcher: Fetcher,
    robots: RobotsProvider,
    expectedUrls: Long = 4L * 1000 * 1000,
    checkpoint: Option[Checkpointer] = None,
    /** B11 — user veto on frontier expansion of a fetched page (reference
      * `on_should_crawl_callback` `website.rs:1255`, applied 8646-8654).
      * The page is still recorded; its links are not.
      */
    onShouldCrawl: Option[ParsedPage => Boolean] = None,
    /** C7 — pluggable retry strategy; None = the reference's built-in
      * ladder driven by `config.retryLimit`.
      */
    retryPolicy: Option[RetryPolicy] = None,
    /** Per-link rewrite hook applied at link-find time, before gating
      * (reference `on_link_find_callback` `website.rs:1253`, applied
      * 4067/4318/5873 — the URL inserted into the frontier/seen set is the
      * REWRITTEN one). Runs executor-side inside the parse pass — must be
      * serializable and pure.
      */
    onLinkFind: Option[String => String] = None,
    /** Driver-side hook invoked after each completed epoch (monitoring /
      * deterministic mid-crawl control in tests).
      */
    onEpoch: Option[Long => Unit] = None) {
  // deliberately NOT Serializable: closures must capture locals, never
  // `this` (which holds the SparkSession) — accidental capture fails fast.

  import CrawlEngine.{EpochState, Frontier, frontierSchema}
  // releases of the caches one distributed epoch holds
  private type Caches = scala.collection.mutable.ListBuffer[() => Unit]

  /** Partition count for the engine's explicit exchanges and its stores. */
  private def P = CrawlEngine.partitions(spark)
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[CrawlEngine])
  private val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
  /** Runs `f` as phase `label` of `epoch`: every Spark job it starts carries
    * the description `e<epoch>/<label>` (a local property, so AQE's stage
    * jobs inherit it), and the old description comes back afterwards.
    */
  private def phase[T](epoch: Long, label: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"e$epoch/$label")
    val t0 = System.nanoTime()
    try f
    finally {
      sc.setJobDescription(prev)
      if (trace) println(f"[trace] $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }

  // ---------------------------------------------------------------------
  // The crawl
  // ---------------------------------------------------------------------

  /** D9 — cooperative shutdown (reference `handle_process`
    * `website.rs:1823-1852`): graceful, the current epoch completes.
    */
  @volatile private var shutdownRequested = false
  def requestShutdown(): Unit = { shutdownRequested = true }

  /** D9 — pause/resume (reference handle value 1, `website.rs:1839-1846`):
    * the loop spins between epochs until resumed; logical time is frozen.
    */
  @volatile private var pauseRequested = false
  def pause(): Unit = { pauseRequested = true }
  def unpause(): Unit = { pauseRequested = false }
  def isPaused: Boolean = pauseRequested

  /** A-side mid-crawl URL injection — the reference's `channel_queue` +
    * `dequeue` (`website.rs:1324`, `7528-7562`): queued URLs join the next
    * epoch's frontier and pass the full gate (seen/lists/robots/depth).
    * Unlike the reference's `is_allowed_budgetless` dequeue check, budget
    * admission applies normally (one consistent budget ledger).
    */
  private val inbox = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def enqueue(url: String): Unit = { if (url != null) inbox.add(url) }

  private val retry: RetryPolicy =
    retryPolicy.getOrElse(new DefaultRetryPolicy(config.retryLimit))

  /** Access-ordered LRU map capped at [[CrawlEngine.lruHostCap]] hosts (the
    * reference caps its per-domain limiter maps the same way,
    * `rate_limiter.rs` MAX_ENTRIES / `auto_throttle.rs` MAX_ENTRIES).
    */
  private def lruMap[V](): scala.collection.mutable.Map[String, V] = {
    import scala.jdk.CollectionConverters._
    new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
        size() > CrawlEngine.lruHostCap
    }.asScala
  }

  /** A8 — `scrape()` = crawl + materialized pages (`website.rs:7326-7378`). */
  def scrape(seedUrls: Seq[String]): Array[graft.model.PageRow] =
    crawl(seedUrls).pages.as(Encoders.product[graft.model.PageRow]).collect()

  /** A6 — crawl with the sitemap CHAINED AFTER it (reference `crawl()` =
    * `crawl_concurrent` then `sitemap_crawl_chain`, `website.rs:6974-6976`;
    * recursive `<sitemapindex>` walk `website.rs:12578+`): the main crawl
    * spends budget first; each seed's `/sitemap.xml` is then walked —
    * budgetless for the sitemap docs themselves, budget-gated for their
    * entries, recursing into nested sitemap indexes. Entry pages are
    * recorded but their links never expand. One deviation, documented:
    * with `normalize` on, the reference also drops duplicate-signature
    * ENTRY pages from its output; here signature dedup only ever gates
    * expansion, so chain-phase entry pages are always recorded.
    */
  def crawlWithSitemap(seedUrls: Seq[String]): CrawlResult =
    crawl(seedUrls, sitemapChain = true)

  /** A6 — sitemap-ONLY walk, aligned with the reference's `crawl_sitemap()`
    * (`website.rs:6994-7028`): walks each seed's `/sitemap.xml` (recursing
    * into `<sitemapindex>` locs) and fetches the listed entries INSTEAD of
    * running the link crawl — seed pages are never fetched and no page's
    * links expand.
    */
  def crawlSitemap(seedUrls: Seq[String]): CrawlResult =
    crawl(seedUrls, sitemapOnly = true)

  // fast paths, all statically known from config:
  //  - holdsPossible: politeness/retries may set not_before holds — only
  //    then does the ready split + count need a job
  //  - carryover: any stream besides new links can re-enter the frontier
  //    (holds, politeness deferrals, budget leftovers, retries) — only
  //    then does the end-of-epoch union need a dedup window; otherwise the
  //    next frontier IS the (already unique) new-link set
  private val politenessPossible = config.delayMs > 0 || config.respectRobotsTxt ||
    config.maxPerHostPerEpoch != Int.MaxValue
  private val holdsPossible = politenessPossible || retry.maxAttempts > 0
  private val carryover = holdsPossible || config.wildCardBudgeting || (config.budget - "*").nonEmpty
  // range partitions of the global sequences (budget rank, new links)
  private def seqParts = math.max(1, math.min(P, 200))

  /** The path rule, one for a fresh start, every epoch and a restore: the
    * frontier stays on the driver while the threshold is on and the rows at
    * hand (seeds, an epoch's candidates, a restored frontier) fit under it.
    */
  private def smallFits(rows: Long): Boolean =
    config.smallEpochThreshold > 0 && rows <= config.smallEpochThreshold

  private def noRows: DataFrame = CrawlEngine.localFrame(spark, Nil, frontierSchema)

  private def frontierFrame(v: Seq[FrontierEntry]): DataFrame =
    CrawlEngine.localFrame(spark, v.map(e => Row(e.url, e.host, e.depth, e.discovery_seq,
      e.priority, e.attempt, e.not_before)), frontierSchema)

  def crawl(seedUrls0: Seq[String], resumeFrom: Option[Checkpointer] = None,
      sitemapChain: Boolean = false, sitemapOnly: Boolean = false): CrawlResult = {
    // set-up shared with the oracle: glob seeds, scope, depth distance,
    // budget, and the seed (or sitemap-only) frontier
    val start = Sequential.start(config, seedUrls0, sitemapOnly)
    // a fresh crawl starts a new snapshot chain; a restore continues the
    // restored one
    checkpoint.foreach(_.startChain(-1))
    val run = new Run(start, sitemapChain, resumeFrom)

    var crawling = true
    while (crawling) {
      while (!run.done) {
        // D9 pause (reference `handle_process` value 1, `website.rs:1839-1846`):
        // wall-clock wait between epochs; logical time frozen
        while (pauseRequested && !shutdownRequested && System.nanoTime() < run.deadline)
          Thread.sleep(20)
        // mid-crawl URL injection: drain the inbox into the frontier
        // (reference `dequeue`, `website.rs:7528-7562`)
        if (!inbox.isEmpty) run.inject(Iterator.continually(inbox.poll()).takeWhile(_ != null).toVector)
        val epochT0 = System.nanoTime()
        val candCount = run.readyCount
        if (candCount == 0) run.idle()
        else run.state.frontier match {
          case Frontier.Local(v) if smallFits(candCount) =>
            phase(run.state.epoch, "epoch_total")(run.smallEpoch(v, candCount, epochT0))
          case _ => phase(run.state.epoch, "epoch_total")(run.distributedEpoch(candCount, epochT0))
        }
      }
      // --- A6: sitemap CHAINED AFTER the crawl (reference `crawl()` runs
      // `crawl_concurrent` then `sitemap_crawl_chain`, `website.rs:6974-6976`)
      // — under a budget the crawl spends first and an exhausted wildcard
      // skips the chain entirely (`is_over_wild_budget`, `website.rs:11654`).
      // Each seed's /sitemap.xml is injected through the inbox (full gate:
      // seen/lists/robots — `is_allowed_budgetless`); chain epochs then run
      // under the ordinary loop with two rule changes keyed off the ledger's
      // `chainSitemaps`: sitemap docs are budget-exempt, and ONLY sitemap
      // docs expand (urlset entries + recursive sitemapindex locs).
      val s = run.state
      if (sitemapChain && !s.ledger.chainStarted && !s.ledger.budgetStopped &&
          !shutdownRequested && System.nanoTime() < run.deadline && s.epoch < config.maxEpochs) {
        val (sms, chainLedger) = Sequential.startChain(config, start.seedUrls, s.ledger)
        run.state = s.copy(ledger = chainLedger)
        if (sms.nonEmpty) {
          sms.foreach(inbox.add)
          run.done = false
        } else crawling = false
      } else crawling = false
    }
    run.result()
  }

  /** One crawl call: the loop state it folds over epoch by epoch
    * ([[CrawlEngine.EpochState]]), what moves with it (the two stores, the
    * sinks and the host ledger) and the epoch stages. Holds the
    * SparkSession through the engine: task closures capture local vals only.
    */
  private final class Run(start: Sequential.Start, sitemapChain: Boolean,
      resumeFrom: Option[Checkpointer]) {
    val deadline: Long =
      if (config.crawlTimeoutMs > 0) System.nanoTime() + config.crawlTimeoutMs * 1000000L
      else Long.MaxValue

    // the two co-partitioned stores: one partitioner, so a combine through
    // it feeds either store's probe with no further shuffle
    private val partitioner = new org.apache.spark.HashPartitioner(P)
    private val sigs = new KeyStore[Long, Boolean](spark, partitioner,
      Checkpointer.schemas("signatures"), kv => Row(kv._1))
    private val seen = new KeyStore[String, String](spark, partitioner,
      Checkpointer.schemas("seen"), kv => Row(kv._1, kv._2), follower = Some(sigs))
    private val pages = new PageSink(spark, retry)
    private val blocked = new BlockedSink(spark)

    // the host ledger: each host's token bucket, 429 Retry-After override
    // and latency EMA, driver-held in one access-ordered LRU map capped at
    // 100k hosts — the reference holds its per-domain limiter state exactly
    // this way (`rate_limiter.rs` / `auto_throttle.rs` MAX_ENTRIES); an
    // evicted host comes back fresh, like an evicted DashMap entry
    private val hosts = Sequential.HostState(lruMap[Sequential.Host]())

    private val metrics = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
    // the series of the snapshot this call resumed from: its commits write
    // it ahead of this call's own
    private var restoredMetrics = Seq.empty[EpochMetrics]
    private val gate = new Sequential.Gate(config, robots)
    // fetch through the seam: driver-local when the fetcher offers it
    // (identical per-row semantics by the Fetcher contract), else one job
    private val step = new Sequential.Step(config, robots, gate, start.depthDistance, retry, sitemapChain,
      onShouldCrawl, onLinkFind, seen, sigs,
      es => fetcher.fetchLocal(es)
        .getOrElse(fetcher.fetch(spark, spark.createDataset(es)(CrawlEngine.frontierEncoder)).collect().toSeq),
      hosts)

    /** The loop state at the start of epoch `state.epoch`: a snapshot's, or
      * a fresh start's seeds (gated by is_allowed_default only: lists and
      * robots, no budget).
      *
      * Small-epoch fast path: while every epoch stays under
      * `smallEpochThreshold` candidates, the WHOLE epoch runs as the
      * Sequential step — the code the differential oracle runs — on a
      * frontier the driver holds (`Frontier.Local`), with the stores'
      * mirrors for a job-free gate; only the stores, the sinks and a
      * non-local fetch touch Spark. The first distributed epoch drops the
      * mirrors for the rest of the call; a resumed call picks its path
      * afresh (`smallFits`).
      */
    var state: EpochState = resumeFrom.flatMap(restore).getOrElse {
      val seeds = start.frontier.filter(gate.default)
      EpochState(0L, start.ledger,
        if (smallFits(start.frontier.size)) Frontier.Local(seeds) else { seen.dropMirror(); distributed(seeds) },
        Map.empty)
    }
    var done: Boolean = exhausted(state)

    // the current epoch, and a phase of it
    private def epoch: Long = state.epoch
    private def timed[T](label: String)(f: => T): T = phase(epoch, label)(f)

    /** Candidates whose politeness/retry holdoff has passed. */
    def readyCount: Long = state.frontier.ready(if (holdsPossible) state.epoch else Long.MaxValue)

    /** A driver-held distributed frontier; its histogram needs no job. */
    private def distributed(v: Vector[FrontierEntry]) =
      Frontier.Distributed(frontierFrame(v), CrawlEngine.histLocal(v))

    private def tableOf(f: Frontier): DataFrame = f match {
      case Frontier.Local(v) => frontierFrame(v)
      case d: Frontier.Distributed => d.table
    }

    private def histOf(epoch: Long, df: DataFrame): Map[Long, Long] = phase(epoch, "frontier_hist")(
      df.groupBy(col("not_before")).agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)

    // ends a crawl at any point: a budget stop or an empty frontier
    private def exhausted(s: EpochState): Boolean = s.ledger.budgetStopped || s.frontier.size == 0

    /** Ends the current epoch: the loop goes on from `next`. */
    private def endEpoch(next: EpochState): Unit = {
      state = next
      onEpoch.foreach(f => f(next.epoch - 1))
      done = exhausted(next) || next.epoch >= config.maxEpochs || shutdownRequested ||
        System.nanoTime() > deadline
    }

    /** Nothing ready this tick — advance logical time only (no job: the
      * histogram sizes a distributed frontier).
      */
    def idle(): Unit = endEpoch(state.copy(epoch = state.epoch + 1))

    /** Snapshot `s.epoch - 1`, when it is due: loop state `s` (the state
      * after that epoch), the stores, the host ledger in LRU order and the
      * pages since the last commit (afterwards the page view reads those
      * from the committed chain). With [[restore]], the only mapping
      * between loop state and a snapshot.
      */
    private def commitIfDue(s: EpochState): Unit = checkpoint.filter(_.due(s.epoch - 1)).foreach { ck =>
      val l = s.ledger
      ck.commit(s.epoch - 1, tableOf(s.frontier), seen.table, sigs.table, CrawlEngine.localFrame(spark,
          hosts.byHost.iterator.map { case (h, x) =>
            Row(h, x.tokensMilli, x.throttleMs, x.latencyEma.getOrElse(null)) }.toSeq,
          Checkpointer.schemas("host_tokens")),
        pages.delta, l.seqCounter, l.wildcardRemaining, l.pathBudget, l.scope, restoredMetrics ++ metrics,
        l.chainStarted, l.chainSitemaps.toSeq.sorted, l.discoveredSitemaps.values.toSeq)
      pages.committedTo(ck, s.epoch - 1)
    }

    /** Resume (north rule: resumable from checkpoint with per-partition
      * lineage): the loop state of the latest committed snapshot, None
      * without one; the stores, the host ledger and the pages come back
      * with it. The manifest's lineage sizes every table, so choosing the
      * path runs no job; the snapshot is immutable, so the stores are read
      * lazily, and the tables kept on the driver are read there.
      */
    private def restore(ck: Checkpointer): Option[EpochState] = {
      val e = ck.latestEpoch()
      if (e < 0) return None
      val m = ck.readManifest(e)
      val rowsOf = Checkpointer.lineageRows(m)
      restoredMetrics = Checkpointer.metrics(m)
      // same path rule as a fresh start: a small frontier comes back to the
      // driver, and with it the mirrors and the bloom when the seen set fits
      // them
      val local = smallFits(rowsOf("frontier"))
      val mirrors = local && rowsOf("seen") <= CrawlEngine.mirrorCap
      def restoreStore[K: ClassTag, V: ClassTag](store: KeyStore[K, V], name: String)(f: Row => (K, V)) =
        store.restore(rowsOf.getOrElse(name, 0L), if (mirrors) Some(ck.readLocal(e, name).map(f)) else None,
          ck.readTable(e, name).rdd.map(f))
      restoreStore(seen, "seen")(r => (r.getString(0), r.getString(1)))
      restoreStore(sigs, "signatures")(r => (r.getLong(0), true))
      seen.rebuildBloom()
      // the restored pages chain: continued when this crawl commits to the
      // same directory, else carried into its first commit
      if (checkpoint.exists(_.root == ck.root)) {
        pages.committed = Some((ck, e))
        checkpoint.foreach(_.startChain(e))
      } else pages.carried = Some(ck.readTable(e, "pages"))
      ck.readLocal(e, "host_tokens").foreach { r =>
        hosts.byHost(r.getString(0)) = Sequential.Host(r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      }
      // chain lineage: a kill during the sitemap chain resumes mid-chain
      // (chain rules re-arm from the manifest's sitemap-doc set; parsed
      // as JSON quoted strings — URLs may contain ',' and ']')
      val (ckChainStarted, ckChainSms) = Checkpointer.chainState(m)
      val l = start.ledger
      val ledger = l.copy(
        seqCounter = Checkpointer.longField(m, "seq_counter").getOrElse(l.seqCounter),
        wildcardRemaining = Checkpointer.longField(m, "wildcard_remaining").getOrElse(l.wildcardRemaining),
        pathBudget = Checkpointer.pathBudget(m),
        budgetStopped = Checkpointer.budgetStopped(m, e),
        scope = Checkpointer.strField(m, "redirect_host").filter(_.nonEmpty)
          .fold(l.scope)(rh => l.scope.copy(redirectHost = rh)),
        chainStarted = l.chainStarted || ckChainStarted,
        chainSitemaps = if (ckChainStarted) l.chainSitemaps ++ ckChainSms else l.chainSitemaps,
        // pre-chain rel=sitemap discoveries: restore in manifest order
        // (insertion order) so the chain seeds' injection order — and the
        // sitemap docs' discovery_seq — match the unkilled run exactly
        discoveredSitemaps = Checkpointer.discoveredSitemaps(m)
          .foldLeft(l.discoveredSitemaps) { (acc, u) =>
            val k = UrlOps.lowerUtf8(u)
            if (acc.contains(k)) acc else acc.updated(k, u)
          })
      // a distributed frontier read from a snapshot is sized by a histogram job
      val frontier =
        if (local) Frontier.Local(ck.readLocal(e, "frontier").map(r => FrontierEntry(r.getString(0),
          r.getString(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6))))
        else { val t = ck.readTable(e, "frontier"); Frontier.Distributed(t, histOf(e + 1, t)) }
      Some(EpochState(e + 1, ledger, frontier, Map.empty))
    }

    /** Injected URLs join the frontier, keeping its unique-by-lower(url)
      * invariant.
      */
    def inject(urls: Vector[String]): Unit = {
      val (injected, ledger) = Sequential.inject(urls, state.ledger)
      val frontier = if (injected.isEmpty) state.frontier else state.frontier match {
        case Frontier.Local(v) => Frontier.Local(CrawlEngine.dedupCanonicalMinLocal(v ++ injected))
        case Frontier.Distributed(t, _) =>
          val merged = timed("inject")(CrawlEngine.dedupCanonicalMin(
            t.unionByName(frontierFrame(injected))).localCheckpoint(true))
          CrawlEngine.releaseCheckpoint(t)
          Frontier.Distributed(merged, histOf(state.epoch, merged))
      }
      state = state.copy(ledger = ledger, frontier = frontier)
    }

    private def compactStores(): Unit = {
      timed("seen_compact")(seen.compact())
      if (sigs.appends > 0) timed("sig_compact")(sigs.compact())
    }

    private def saltWidths(hostCounts: Iterable[(String, Long)], total: Long): Map[String, Int] =
      if (total <= 0) Map.empty
      else CrawlEngine.topHotHosts(hostCounts
        .map { case (h, c) => (h, math.ceil(c.toDouble / total * 4 * P).toInt) }.filter(_._2 > 16))

    /** The full driver-side epoch: the Sequential step, plus the buffers,
      * the bloom delta and salt hints a later distributed epoch needs,
      * compaction, metrics and the snapshot. No Spark job with a
      * driver-local fetcher and live mirrors, bar the snapshot commits.
      */
    def smallEpoch(frontier: Vector[FrontierEntry], candCount: Long, epochT0: Long): Unit = {
      val out = step(frontier, epoch, state.ledger)
      val admittedCount = out.admitted.size.toLong
      // bloom delta — keeps the broadcast group valid for a later
      // distributed epoch (same 1% FPP sizing rule as the fused builder)
      seen.bloomFromLocal(out.admitted.map(e => UrlOps.lowerUtf8(e.url)), candCount)
      // A7 page-sink delta, buffered; a commit takes the buffer into its
      // pages delta
      pages.put(out.pages)
      if (config.trackBlocked)
        blocked.put(out.robotsBlocked.map(e => BlockedRow(e.url, "robots", epoch)) ++
          out.vetoed.map(p => BlockedRow(p.url, "veto", epoch)))
      // store hygiene: with the mirrors gone the per-epoch probe jobs walk
      // the delta chains — compact on the usual cadence. With mirrors live
      // the chains stay lazy, but lineage and bloom generations still grow
      // one layer per epoch, so compact on a COARSER cadence (the fold is a
      // couple of tiny jobs every ~2x32 epochs — bounded lineage without
      // re-paying the per-epoch fixed costs this path exists to avoid)
      val smallCadence =
        if (!seen.mirrored) math.max(2, config.stateCompactionEpochs)
        else math.max(32, config.stateCompactionEpochs)
      if (seen.appends >= smallCadence) compactStores()
      metrics += EpochMetrics(epoch, candCount, admittedCount, admittedCount,
        out.newLinks, out.frontier.size.toLong, seen.count, out.ledger.budgetStopped,
        (System.nanoTime() - epochT0) / 1000000L, out.robotsBlocked.size.toLong,
        out.vetoed.size.toLong)
      // D4 salt hints for the NEXT epoch — free here, and crucial at the
      // small->distributed handoff: the first big epoch of a hot-host
      // crawl would otherwise fetch 50% of its rows through the default
      // 16-way spread (the distributed stats ride the fetch scan and so
      // always lag one epoch)
      val next = EpochState(epoch + 1, out.ledger, Frontier.Local(out.frontier), saltWidths(
        out.admitted.groupBy(_.host).map { case (h, es) => (h, es.size.toLong) }, admittedCount))
      // the driver holds the frontier and, while the mirrors live, the seen
      // and signature tables too: the snapshot writes them with no job
      commitIfDue(next)
      endEpoch(next)
    }

    /** The distributed epoch: hand-off → gate → politeness → budget → fetch
      * → seen append → links → roll → compaction and commit. The caches it
      * holds go once the next frontier has materialized.
      */
    def distributedEpoch(candCount: Long, epochT0: Long): Unit = {
      val caches: Caches = scala.collection.mutable.ListBuffer.empty
      val prev = state.frontier
      // hand-off: the mirrors drop for the rest of the call
      if (prev.isInstanceOf[Frontier.Local]) seen.dropMirror()
      val deferredHold = if (holdsPossible) tableOf(prev).filter(col("not_before") > lit(epoch)) else noRows
      val (gated, robotsBlockedCount) = gateStage(prev)
      // politeness and the budget rank a view of the gated rows
      val gatedView = GraftSqlBridge.internalCreateDataFrame(spark, gated, frontierSchema)
      val (polAdmitted, deferred) = if (politenessPossible) politeness(gatedView, caches) else (gatedView, noRows)
      val (admittedDf, budgetLeftover, budgetedLedger) = budget(polAdmitted, state.ledger, caches)
      // the admitted set, persisted: the fetch exchange and the seen delta
      // read it
      val admitted = (if (admittedDf eq gatedView) gated
        else GraftSqlBridge.internalRdd(admittedDf).map(_.copy())).persist(StorageLevel.MEMORY_AND_DISK)
      val f = fetch(admitted, candCount, budgetedLedger)
      // 8. C7 retry ladder (pluggable RetryPolicy; default = the
      //    reference's 5xx/429/408 + capped exponential backoff ladder,
      //    `website.rs:8388-8392`): retryable statuses re-queue with
      //    backoff and are REMOVED from seen (`website.rs:8663-8666`)
      val isRetried = retry.isRetryable(col("status")) && col("attempt") < retry.maxAttempts
      val retryDf = f.parsed.toDF().filter(isRetried)
        .select(col("url"), col("host"), col("depth"), col("discovery_seq"),
          col("priority"), (col("attempt") + 1).as("attempt"),
          (lit(epoch) + retry.backoffEpochs(col("attempt"))).as("not_before"))
      appendSeen(admitted, f.admittedCount, retryDf)
      val (expanding, vetoedCount, expandedLedger) = expandingPages(f.parsed, f.ledger)
      val (newLinkCount, newFrontier, newFrontierHeld, ledger) =
        links(expanding, f.unsignedPages, expandedLedger, caches)
      val next = roll(prev, deferredHold.unionByName(deferred).unionByName(budgetLeftover)
        .unionByName(retryDf), newFrontier, newFrontierHeld, newLinkCount, caches)
      if (seen.appends >= math.max(2, config.stateCompactionEpochs)) compactStores()
      metrics += EpochMetrics(epoch, candCount, f.admittedCount, f.admittedCount,
        newLinkCount, next.size, seen.count, ledger.budgetStopped,
        (System.nanoTime() - epochT0) / 1000000L, robotsBlockedCount, vetoedCount)
      val nextState = EpochState(epoch + 1, ledger, next, f.saltWidths)
      timed("commit")(commitIfDue(nextState))
      endEpoch(nextState)
    }

    /** The frontier's rows, as UnsafeRows. A frontier the driver holds
      * goes out as P slices of rows, not as a LocalRelation, so Catalyst
      * evaluates nothing of the gate on the driver.
      */
    private def frontierRows(f: Frontier): RDD[InternalRow] = f match {
      case Frontier.Local(v) => spark.sparkContext.parallelize(v, P).mapPartitions(CrawlEngine.entryRows)
      case Frontier.Distributed(t, _) => GraftSqlBridge.internalRdd(t).map(_.copy())
    }

    /** Gate: the bloom and the seen probe, then lists, robots and depth as
      * row predicates (`Sequential.Gate`, `UrlOps.pathDepth`), all inside
      * tasks; returns the gated rows and the robots-blocked count.
      */
    private def gateStage(frontier: Frontier): (RDD[InternalRow], Long) = {
      val ep = epoch
      val rows = frontierRows(frontier)
      val ready = if (holdsPossible) rows.filter(_.getLong(6) <= ep) else rows
      // 1. B1 visited: bloom fast-negative over the broadcast filter
      //    group; only its positives shuffle to the seen store's
      //    partitions, where a per-partition exact set answers membership,
      //    and the survivors come back partition-wise beside the
      //    negatives. The seen side is scanned in place — never
      //    re-shuffled, never broadcast.
      val blooms = timed("bloom_bcast")(new BloomGroup(spark.sparkContext.broadcast(seen.blooms)))
      val maybeSeen = seen.probe(ready.flatMap { r =>
        val k = r.getUTF8String(0).toLowerCase
        if (BloomGate.mightContain(blooms, k)) Iterator.single((k.toString, r)) else Iterator.empty
      }, keepPresent = false).values
      val unseen = CrawlEngine.zipAligned(
        ready.filter(r => !BloomGate.mightContain(blooms, r.getUTF8String(0).toLowerCase)), maybeSeen)
      // 2. B8 batch dedup (case-insensitive keep canonical-min, the
      //    frontier HashSet semantics `website.rs:7810`) is STRUCTURAL:
      //    the frontier is unique by lower(url) by construction (seeds
      //    ci-deduped, link agg keyed by lower(url), carryover union
      //    window), so no per-epoch dedup window runs here.
      // 3. stateless gates: lists, robots, depth, the predicates the
      //    sequential step runs. The robots-blocked side output (reference
      //    on_robots_blocked) is opt-in here: the blocked complement
      //    re-executes the lazy gate prefix once more, writing its rows as
      //    a parquet delta (never a driver collect — blocked URLs are
      //    data-scale on a robots-heavy crawl), counted on the write
      val g = gate
      val listsPass =
        if (config.whitelist.isEmpty && config.blacklist.isEmpty) unseen
        else unseen.filter(r => g.lists(r.getUTF8String(0).toString))
      val robotsOn = config.respectRobotsTxt
      val allowed: InternalRow => Boolean =
        r => g.robotsAllow(r.getUTF8String(1).toString, r.getUTF8String(0).toString)
      val robotsBlockedCount =
        if (config.trackBlocked && robotsOn) {
          val reason = UTF8String.fromString("robots")
          blocked.writeCounted(GraftSqlBridge.internalCreateDataFrame(spark, listsPass.filter(r => !allowed(r))
            .map(r => new GenericInternalRow(Array[Any](r.getUTF8String(0), reason, ep))),
            CrawlEngine.blockedSchema), "robots")
        } else 0L
      val depthOn = config.depth > 0
      val dd = start.depthDistance
      (if (!robotsOn && !depthOn) listsPass
       else listsPass.filter(r => (!robotsOn || allowed(r)) &&
         (!depthOn || UrlOps.pathDepth(r.getUTF8String(0).toString) <= dd)), robotsBlockedCount)
    }

    /** 4. B9 politeness FIRST: per-host token-bucket quota, highest
      * priority first (D5 top-k per host); non-admitted stay in the
      * frontier. (The reference sleeps AFTER gating; a distributed deferral
      * must re-gate, so politeness runs before the stateful budget to avoid
      * double-charging deferred candidates.) Returns the admitted and the
      * deferred candidates.
      */
    private def politeness(gated: DataFrame, caches: Caches): (DataFrame, DataFrame) = {
      // per-host effective delay (all codegen'd, no UDF):
      //   static config delay
      //   ∨ robots Crawl-delay ∨ Request-rate (expression; B9 + missing #4)
      //   ∨ reactive override (429 Retry-After throttle ∨ auto-throttle
      //     EMA; reference rate_limiter.rs:121-153 + auto_throttle.rs)
      val delayCol =
        if (!config.respectRobotsTxt) lit(config.delayMs)
        else greatest(lit(config.delayMs), enginefns.robots_delay_ms(col("host"), robots, config.userAgent))
      // ONE broadcast row per host of the host ledger carrying ALL its
      // politeness state (reactive delay override ∨ auto-throttle EMA
      // delay, and the banked token bucket) — a single join instead of two
      val hostRows = hosts.byHost.iterator.map { case (h, x) =>
        Row(h, Sequential.reactiveOverrideMs(config, x.throttleMs, x.latencyEma), x.tokensMilli)
      }.toSeq
      val tick = config.tickMs
      val withDelay = gated
        .join(broadcast(CrawlEngine.localFrame(spark, hostRows, CrawlEngine.hostDelaySchema)),
          Seq("host"), "left")
        .withColumn("__delay", greatest(delayCol, coalesce(col("override_ms"), lit(0L))))
        .drop("override_ms")
      // floor division: the sequential mirror banks INTEGRAL
      // milli-tokens (Long division); Spark `/` is double division and
      // would bank fractional permits that drift from the oracle at
      // non-divisible delays (e.g. 333.33/epoch vs 333)
      val avail = withDelay.withColumn("__permits",
          when(col("__delay") === 0, lit(Long.MaxValue / 4))
            .otherwise(floor(lit(tick) * 1000L / col("__delay"))))
        .withColumn("__avail",
          least(coalesce(col("tokens_milli"), lit(1000L)) + col("__permits"),
            greatest(lit(2000L), col("__permits") * 2)))
        // floor to integral admission (Spark `/` is double division;
        // the sequential mirror uses Long division — they must agree
        // for hosts whose effective delay exceeds tickMs, i.e. quota<1)
        .withColumn("__quota",
          least(floor(col("__avail") / lit(1000L)), lit(config.maxPerHostPerEpoch.toLong)))
      val hw = Window.partitionBy(col("host"))
        .orderBy(col("priority").desc, col("depth"), col("discovery_seq"), col("url"))
      // cache the ranked gate+politeness output: the token roll, admitted,
      // and deferred all derive from it — without the cache the whole
      // gate DAG (bloom + seen joins + windows) recomputes 3-4x/epoch
      val rankedH = avail.withColumn("__hrn", row_number().over(hw))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches += (() => rankedH.unpersist(false))
      val adm = rankedH.filter(col("__hrn") <= col("__quota"))
      val deferred = rankedH.filter(col("__hrn") > col("__quota"))
        .select(col("url"), col("host"), col("depth"), col("discovery_seq"),
          col("priority"), col("attempt"), lit(epoch + 1).as("not_before"))
      // roll the per-host buckets forward: EVERY host present this epoch
      // banks `__avail − used·1000` (the bucket accrues even when it
      // admits nothing — a host at delay > tickMs earns a fractional
      // token per epoch and must bank it to admit on a later epoch). ONE
      // aggregate collect updates the driver ledger (this also populates
      // the rankedH cache for every later consumer this epoch), BOUNDED at
      // the ledger's LRU capacity by per-epoch traffic.
      // KNOWN RESIDUAL past the cap: a host already
      // resident in the LRU ledger that falls outside the top-traffic
      // cap this epoch keeps its stale (un-debited) balance instead of
      // being evicted-and-refreshed; with > lruHostCap (100k) distinct
      // hosts in ONE epoch it can over-admit by its stale tokens on a
      // later epoch. The reference's capped DashMap limiters drop
      // per-host state past their MAX_ENTRIES the same way; bounded
      // politeness error, never correctness of the page set.
      timed("tokens_roll")(rankedH.groupBy(col("host")).agg(
          max(col("__avail")).as("__a"),
          sum(when(col("__hrn") <= col("__quota"), 1L).otherwise(0L)).as("__used"),
          count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("host")).limit(CrawlEngine.lruHostCap)
        .collect()
        .foreach(r => hosts.update(r.getString(0), _.copy(tokensMilli = r.getLong(1) - r.getLong(2) * 1000L))))
      (adm.select(col("url"), col("host"), col("depth"), col("discovery_seq"),
        col("priority"), col("attempt"), col("not_before")), deferred)
    }

    /** 5. B7 budget admission in canonical order (deterministic — the
      * reference decrements counters sequentially; we replay that order
      * exactly; see SURVEY D6/B7). Returns the admitted candidates and the
      * leftovers a wildcard stop preserves.
      */
    private def budget(polAdmitted: DataFrame, ledger0: Sequential.Ledger,
        caches: Caches): (DataFrame, DataFrame, Sequential.Ledger) = {
      var ledger = ledger0
      var budgetLeftover = noRows
      if (!config.wildCardBudgeting && ledger.pathBudget.isEmpty) return (polAdmitted, budgetLeftover, ledger)
      // chain phase: the sitemap DOCUMENTS are admitted budgetless
      // (`is_allowed_budgetless`, `website.rs:11716-11722`); their
      // entries consume budget normally
      val smExempt = ledger.chainStarted && ledger.chainSitemaps.nonEmpty
      val exemptCond =
        if (smExempt) lower(col("url")).isInCollection(ledger.chainSitemaps.toSeq) else lit(false)
      val budgeted = if (smExempt) polAdmitted.filter(!exemptCond) else polAdmitted
      // __grank: the global rank in canonical order (depth, discovery_seq,
      // host, url); partition i holds the i-th rank range
      val (ranked, n) = timed("grank_count") {
        val schema = budgeted.schema
        val Seq(d, q, h, u) = Seq("depth", "discovery_seq", "host", "url").map(schema.fieldIndex)
        val (rows, n, release) = CrawlEngine.globalSeq(GraftSqlBridge.internalRdd(budgeted).map(r =>
            ((r.getInt(d), r.getLong(q), r.getUTF8String(h).toString, r.getUTF8String(u).toString), r.copy())),
          Sequential.keyOrder, seqParts, 0L)((_, r, k) =>
            new org.apache.spark.sql.catalyst.expressions.JoinedRow(r,
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](k))))
        caches += release
        (GraftSqlBridge.internalCreateDataFrame(spark, rows, schema.add("__grank", LongType, nullable = false)), n)
      }
      var alive = ranked
      if (config.wildCardBudgeting) {
        // wildcard passes links while budget > 1, then EXCEEDS at ==1
        // (`abs_diff(0)==1` check `website.rs:2060-2070`) — exhaustion
        // stops the whole crawl (`website.rs:7904-7907`), leftovers
        // preserved as extra_links.
        val passCount = math.max(0L, ledger.wildcardRemaining - 1L)
        if (n > passCount) {
          ledger = ledger.copy(budgetStopped = true)
          // leftover links preserved — reference `extra_links`
          // (`website.rs:8700-8712`)
          budgetLeftover = ranked.filter(col("__grank") >= lit(passCount))
            .drop("__grank")
        }
        alive = alive.filter(col("__grank") < lit(passCount))
        ledger = ledger.copy(wildcardRemaining = ledger.wildcardRemaining - math.min(n, passCount))
      }
      if (ledger.pathBudget.nonEmpty) {
        // per-key admission in accumulated-segment order; outer keys
        // consume before inner ones reject (walk order
        // `website.rs:2085-2115`). No row_number window over a match flag
        // (it funnels every match through one task): the rem-th match's
        // global cutoff rank is derived from
        // per-partition match counts (partitions are __grank ranges,
        // courtesy of globalSeq's range partitioning) plus one
        // boundary-partition scan — admission is then a pure filter.
        var pathBudget = ledger.pathBudget
        val keys = pathBudget.keys.toSeq.sortBy(_.length)
        var cur = alive.withColumn("__prefixes", graft.url.urlfns.budget_prefixes(col("url")))
        for (k <- keys) {
          val rem = pathBudget(k)
          val matches = cur.withColumn("__m", array_contains(col("__prefixes"), k))
          // InternalRow scans: two primitive columns, no Row bridge
          val flags = GraftSqlBridge.internalRdd(matches.select(col("__m"), col("__grank")))
          val perPart = timed("budget")(flags.mapPartitionsWithIndex { (i, it) =>
            var n = 0L
            it.foreach(r => if (r.getBoolean(0)) n += 1)
            Iterator.single((i, n))
          }.collect().sortBy(_._1).map(_._2))
          val total = perPart.sum
          if (total <= rem) {
            pathBudget = pathBudget.updated(k, rem - total)
            cur = matches.drop("__m")
          } else {
            val cums = perPart.scanLeft(0L)(_ + _) // cums(p) = matches before partition p
            val pStar = cums.indexWhere(_ > rem) - 1 // partition holding the first rejected match
            val allowance = rem - cums(pStar)
            val cutoff = timed("budget")(flags.mapPartitionsWithIndex { (i, it) =>
              if (i != pStar) Iterator.empty
              else {
                var hits = 0L
                it.flatMap { r =>
                  if (!r.getBoolean(0)) None
                  else { hits += 1; if (hits == allowance + 1) Some(r.getLong(1)) else None }
                }
              }
            }.collect().head) // one job; take(1) would probe partitions incrementally
            pathBudget = pathBudget.updated(k, 0L)
            cur = matches.filter(!col("__m") || col("__grank") < lit(cutoff)).drop("__m")
          }
        }
        alive = cur.drop("__prefixes")
        ledger = ledger.copy(pathBudget = pathBudget)
      }
      val admitted =
        if (smExempt) alive.drop("__grank").unionByName(polAdmitted.filter(exemptCond))
        else alive.drop("__grank")
      (admitted, budgetLeftover, ledger)
    }

    /** Fetch: the admitted rows through the fetch exchange, fetched and
      * parsed into a page delta in ONE job; the ride-along admit stats
      * drained; the throttle fed.
      */
    private def fetch(admitted: RDD[InternalRow], candCount: Long,
        ledger: Sequential.Ledger): CrawlEngine.Fetched = {
      // 6. mark admitted as seen (insert at admission, `insert_link`
      //    `website.rs:1718-1749`): the bloom/count/hot-host stats ride the
      //    fetch exchange's map side (admitStats) — no dedicated job at
      //    all. Bloom sizing uses the candidate-count upper bound so shards
      //    stay merge-compatible without a pre-count.
      val admitAcc = spark.sparkContext.collectionAccumulator[CrawlEngine.AdmitStat]("graft.admitStats")
      val bloomSize = math.max(1024L, candCount)
      val withStats = admitted.mapPartitions(it => CrawlEngine.admitStats(it, bloomSize, admitAcc))
      // 7+9. fetch + parse — priority-queue emission (north rule D5): an
      //    RDD exchange on the (host, salt) partitioner, each reduce task
      //    sorted by (__rr, priority desc, depth, discovery_seq, url), then
      //    the one-pass span parse, PIPELINED in the reduce task and
      //    written once. The plan the Fetcher gets has no exchange, so the
      //    page-delta write is one job. (Epoch 0 splits it because the C6
      //    scope re-anchor must read the seed fetch result before link
      //    extraction — `modify_selectors` `page.rs:4736-4747`.)
      // The salt (north rule D4): a hot host that dominates the frontier
      // would otherwise pin one task; the salt width scales with the host's
      // admitted share (see admitStats) — cold hosts keep a 16-way spread
      // (affinity), hot hosts fan out toward 4P.
      // Politeness quotas were already enforced upstream, so fetch order
      // within a partition is pure priority emission — unless `roundRobin`
      // (D5, reference `UrlFrontier::pop` frontier.rs:78-121): then hosts
      // interleave (every host's k-th URL precedes any host's (k+1)-th
      // within a partition), by a per-host rank `__rr`.
      val toFetch = timed("fetch_plan") {
        val (keys, rrIdx) =
          if (!config.roundRobin) (withStats, -1)
          else {
            val rrW = Window.partitionBy(col("host"))
              .orderBy(col("priority").desc, col("depth"), col("discovery_seq"), col("url"))
            (GraftSqlBridge.internalRdd(GraftSqlBridge.internalCreateDataFrame(spark, withStats, frontierSchema)
              .withColumn("__rr", row_number().over(rrW))).map(_.copy()), frontierSchema.size)
          }
        val sorted = new ShuffledRDD[InternalRow, Null, Null](keys.map(r => (r, null)),
            new CrawlEngine.HostSaltPartitioner(P, state.saltWidths))
          .setKeyOrdering(new CrawlEngine.FetchOrder(rrIdx)).keys
        GraftSqlBridge.internalCreateDataFrame(spark,
          if (rrIdx < 0) sorted else sorted.mapPartitions(CrawlEngine.unsafeRows), frontierSchema)
          .as(CrawlEngine.frontierEncoder)
      }
      // Pages SINK to parquet per epoch (A7, north rule: parsed documents
      // land in tables, never in executor memory): every downstream
      // consumer (retry filter, signature dedup, link explode, pages view)
      // is a COLUMN-PRUNED scan of the delta file. The write counts the
      // status-200 pages without a signature on the side.
      val ep = epoch
      val lrw = onLinkFind.orNull
      val unsigned = Observation("unsigned_pages")
      val (parsedDir, scope) = timed("fetch_parse") {
        val (fetched, scope) =
          if (ep != 0L) (fetcher.fetch(spark, toFetch), ledger.scope)
          else {
            val seedPages = fetcher.fetch(spark, toFetch).localCheckpoint(true) // seeds: tiny
            val ph = ledger.scope.parentHost
            // canonical-min winner — identical on the distributed path, the
            // fast path, and the oracle (partition order would not be)
            val redirHosts = seedPages
              .filter(f => f.f_status == 200 && UrlOps.host(f.f_final_url) != ph)
              .orderBy(col("depth"), col("discovery_seq"), col("host"), col("url"))
              .map(_.f_final_url)(Encoders.STRING).take(1)
            (seedPages, redirHosts.headOption
              .fold(ledger.scope)(u => ledger.scope.copy(redirectHost = UrlOps.host(u))))
          }
        val parsed = fetched.mapPartitions(it => it.map(f => CrawlEngine.parsePage(f, scope, ep, lrw)))(
          CrawlEngine.parsedEncoder)
        val dir = pages.write(parsed.toDF().observe(unsigned,
          count(when(col("status") === 200 && col("signature") === 0L, 1)).as("n")), s"epoch=$ep")
        if (ep == 0L) CrawlEngine.releaseCheckpoint(fetched.toDF())
        (dir, scope)
      }
      val parsed = timed("parsed_read")(
        spark.read.schema(CrawlEngine.parsedSchema).parquet(parsedDir).as(CrawlEngine.parsedEncoder))
      // the fetch job has materialized — collect the ride-along stats
      // (delta count, bloom shards, next epoch's hot-host salt widths)
      val (admittedCount, saltWidths) = timed("admit_drain")(drainAdmitStats(admitAcc, admitted, bloomSize))
      if (politenessPossible) timed("throttle")(throttle(parsed))
      CrawlEngine.Fetched(parsed, admittedCount, saltWidths, unsigned.get("n").asInstanceOf[Long],
        ledger.copy(scope = scope))
    }

    // The admit stats ride the fetch exchange's map side: each map task
    // adds one (count, bloom shard, locally-hot hosts) accumulator entry.
    // Tasks may re-execute (speculation, retries): entries carry their
    // partition id and the driver keeps ONE per partition; fewer partitions
    // than the admitted set has DETECTS a Fetcher that broke the
    // full-consumption contract (Fetcher trait doc). Keys are the
    // UTF8String lowercase — bit-identical to the gate's probe key.
    // D4 skew: a host holding share s of the epoch's admitted rows gets a
    // salt width ~4sP for the NEXT epoch (min 16 keeps cold-host affinity);
    // hosts are reported only when locally hot (>= 1/8 of the partition),
    // so the map stays tiny at any host cardinality.
    private def drainAdmitStats(acc: org.apache.spark.util.CollectionAccumulator[CrawlEngine.AdmitStat],
        admitted: RDD[InternalRow], bloomSize: Long): (Long, Map[String, Int]) = {
      import scala.jdk.CollectionConverters._
      def uniq(a: org.apache.spark.util.CollectionAccumulator[CrawlEngine.AdmitStat]) = {
        val pids = new java.util.HashSet[Int]()
        a.value.asScala.filter(e => pids.add(e._1)).toVector
      }
      var uniqParts = uniq(acc)
      if (uniqParts.size < admitted.getNumPartitions) {
        // Fetcher contract violation (the fetch never ran the exchange's
        // map side — served from a detached plan): the ride-along stats
        // are incomplete, and a missing bloom shard would silently
        // re-admit already-seen URLs next epoch. Self-heal with a
        // dedicated scan of the PERSISTED admitted set (one extra job, only
        // on violating epochs) and use its shards/counts exclusively.
        log.warn(s"epoch $epoch: admit stats incomplete (${uniqParts.size}/${admitted.getNumPartitions} " +
          "partitions reported) — the Fetcher did not fully consume the admitted set; rebuilding " +
          "bloom/count/salt stats with a dedicated scan")
        val rebuilt = spark.sparkContext.collectionAccumulator[CrawlEngine.AdmitStat]("graft.admitStats")
        admitted.mapPartitions(it => CrawlEngine.admitStats(it, bloomSize, rebuilt)).count()
        uniqParts = uniq(rebuilt)
      }
      seen.addBloom(uniqParts.iterator.map(_._3).filter(_ != null).toVector)
      val total = uniqParts.iterator.map(_._2).sum
      (total, saltWidths(uniqParts.iterator.flatMap(_._4).toSeq.groupBy(_._1)
        .map { case (h, cs) => (h, cs.map(_._2).sum) }, total))
    }

    /** Reactive throttling (B9): 429 Retry-After reduces the host's rate
      * (reference `DomainRateLimiter::throttle` rate_limiter.rs:121-137 —
      * delay := Retry-After, bucket drained); latency EMA feeds the
      * auto-throttle (auto_throttle.rs: delay ≈ ema/target_concurrency).
      */
    private def throttle(parsed: Dataset[ParsedPage]): Unit = {
      // ONE per-host aggregate feeds both reactive signals. Collected
      // rows are BOUNDED: with auto-throttle off,
      // only hosts that actually returned a 429 reach the driver; with
      // it on, the collect caps at the ledger's LRU capacity by
      // per-epoch traffic (hosts beyond it would be evicted anyway)
      def sigAgg(base: DataFrame) = base.groupBy(col("host")).agg(
        max(when(col("status") === 429, col("retry_after_ms")).otherwise(lit(0L))).as("__ra"),
        avg(when(col("latency_ms") > 0, col("latency_ms").cast("double"))).as("__l"),
        count(lit(1)).as("__n"))
      val throttled = parsed.toDF().filter(col("status") === 429 && col("retry_after_ms") > 0)
      // EMA rows capped by top traffic; 429 overrides NEVER capped (a
      // throttling host must be honored regardless of rank). A host
      // past the cap contributes ONLY its Retry-After override: its
      // available aggregate averages latency over 429 rows alone,
      // which diverges from the all-rows average in-cap hosts and the
      // oracle use — so beyond-cap hosts skip the EMA update entirely
      // rather than feed it a biased sample.
      val emaRows: Array[Row] =
        if (!config.autoThrottle) Array.empty
        else sigAgg(parsed.toDF())
          .orderBy(col("__n").desc, col("host")).limit(CrawlEngine.lruHostCap).collect()
      val haveEma = emaRows.iterator.map(_.getString(0)).toSet
      val signals = emaRows ++ sigAgg(throttled).collect()
        .filterNot(r => haveEma.contains(r.getString(0)))
      // the bucket drains
      signals.filter(_.getLong(1) > 0)
        .foreach(r => hosts.update(r.getString(0), _.copy(throttleMs = r.getLong(1), tokensMilli = 0L)))
      if (config.autoThrottle) {
        val alpha = config.autoThrottleAlpha
        emaRows.filter(!_.isNullAt(2)).foreach { r =>
          val l = r.getDouble(2)
          hosts.update(r.getString(0),
            x => x.copy(latencyEma = Some(x.latencyEma.fold(l)(prev => prev + alpha * (l - prev)))))
        }
      }
    }

    /** Seen append: the epoch's seen delta goes in CO-PARTITIONED, BEFORE
      * link processing: the link pipeline's seen-filter must observe
      * the COMPLETE seen set including this epoch's admissions (minus
      * retried), exactly like the next epoch's gate would. Map side runs
      * once (shuffle files reused by every later probe), union is
      * partitioner-aware (no data movement of the base).
      */
    private def appendSeen(admitted: RDD[InternalRow], admittedCount: Long, retryDf: DataFrame): Unit = {
      val newSeen = admitted.map { r => val u = r.getUTF8String(0); (u.toLowerCase.toString, u.toString) }
      if (retry.maxAttempts > 0) {
        // the retried URLs leave the delta: on the store's partitioner,
        // checkpointed and counted in one job
        val retried = GraftSqlBridge.internalRdd(retryDf.select(col("url")))
          .map(r => (r.getUTF8String(0).toLowerCase.toString, ()))
        val delta = newSeen.subtractByKey(retried, partitioner).localCheckpoint()
        seen.count += timed("seen_ckpt")(delta.count())
        // every consumer of the admitted set (fetch exchange, seen delta)
        // has materialized — release it NOW (leaving one cached set per
        // epoch alive OOMs the driver on multi-hundred-epoch crawls)
        admitted.unpersist(false)
        seen.append(delta, Some(() => delta.unpersist(false)))
      } else {
        // with retries disabled, nothing is ever removed from seen: a
        // lazy delta over the persisted admitted set — zero extra jobs
        seen.count += admittedCount
        seen.append(newSeen, Some(() => admitted.unpersist(false)))
      }
    }

    /** 10. Which pages expand their links: vetoed pages never (B11); in the
      * chain phase only sitemap docs; else, with C5 signature dedup, only
      * the canonical-first page per NEW signature (`website.rs:8671-8683`,
      * in [[links]]) and every page without a signature.
      */
    private def expandingPages(parsed: Dataset[ParsedPage],
        ledger0: Sequential.Ledger): (DataFrame, Long, Sequential.Ledger) = {
      var ledger = ledger0
      var expanding = onShouldCrawl.fold(parsed)(veto => parsed.filter(veto)).toDF() // B11
      val vetoedCount =
        if (config.trackBlocked && onShouldCrawl.isDefined) timed("blocked") {
          // rows over NON-retried pages only, matching the fast path
          // (a retried page re-parses on its retry epoch); written as a
          // parquet delta, counted from the delta
          val live = !(retry.isRetryable(col("status")) && col("attempt") < retry.maxAttempts)
          val veto = onShouldCrawl.get
          blocked.writeCounted(parsed.filter(live).filter(p => !veto(p))
            .toDF().select(col("url"), lit("veto").as("reason"), lit(epoch).as("epoch")), "veto")
        } else 0L
      if (sitemapChain && !ledger.chainStarted) timed("sitemaps") {
        // rel=sitemap auto-discovery (one tiny extra job per epoch,
        // only when the caller requested the chain; ads are distinct
        // sitemap DOCS, so the collect is bounded by the cap).
        // Case-insensitive keep-first (min = UTF-8-first variant per
        // lowercase key) BEFORE the cap, so the truncation applies the
        // same rule as accumulateDiscoveredSitemaps and the small path.
        val ads = parsed.toDF()
          .select(explode(col("sitemap_links")).as("__u"))
          .groupBy(lower(col("__u")).as("__k")).agg(min(col("__u")).as("__u"))
          .orderBy(col("__u")).limit(CrawlEngine.maxDiscoveredSitemaps)
          .select(col("__u")).collect().map(_.getString(0))
        ledger = ledger.copy(discoveredSitemaps = CrawlEngine.accumulateDiscoveredSitemaps(
          ledger.discoveredSitemaps, ads.toSeq))
      }
      if (ledger.chainStarted) timed("sitemaps") {
        // chain phase: ONLY sitemap docs expand — their <loc> entries
        // plus recursive <sitemapindex> locs; entry pages are recorded
        // but never expanded ("does not re-crawl the links of the pages
        // found on the sitemap", `website.rs:11601`). The sitemap XML
        // bypasses BOTH signature dedup AND the B11 veto (the reference
        // parses sitemaps outside the page channel — the veto governs
        // page-link expansion only), so expansion derives from `parsed`,
        // not the veto-filtered stream — mirroring the oracle.
        val isSm = lower(col("url")).isInCollection(ledger.chainSitemaps.toSeq)
        val nested = parsed.toDF().filter(isSm)
          .select(explode(col("sitemap_links")).as("u")).collect().map(_.getString(0))
        expanding = parsed.toDF().filter(isSm)
          .withColumn("links", concat(col("links"), col("sitemap_links")))
        ledger = ledger.copy(chainSitemaps = ledger.chainSitemaps ++ nested.map(UrlOps.lowerUtf8))
      }
      (expanding, vetoedCount, ledger)
    }

    /** 11. The epoch's new links, in ONE job over two exchanges, each on the
      * stores' own partitioning, so each store probe runs in the reduce
      * task of its exchange (the reference does this as one pass over one
      * hash set, `links_visited.extend_links`):
      *   - signatures: pages keyed by signature, map-side combined to the
      *     canonical-min page (depth, discovery_seq, host, url), probed
      *     against the signature store; the winners of new signatures
      *     carry their links on;
      *   - links: exploded, keyed by lower(url), map-side combined to the
      *     canonical-min (p_depth, p_seq, pos, url) — url in UTF-8 byte
      *     order, `Sequential.linkOrder` — and probed against the seen
      *     store, whose delta already holds this epoch's admissions, so the
      *     survivors are exactly the links the next epoch's gate would
      *     pass.
      * The survivors then get discovery_seq in link order: on the driver
      * (a driver-held frontier table) when they fit the threshold, else
      * range-sorted.
      */
    private def links(expanding: DataFrame, unsignedPages: Long, ledger: Sequential.Ledger,
        caches: Caches): (Long, DataFrame, Boolean, Sequential.Ledger) = {
      val dedupSigs = !ledger.chainStarted && config.normalize
      // (signature or 0, depth, discovery_seq, host, url, links) of every
      // fetched page that may expand. A scan of the page delta, no job
      val pageRows = GraftSqlBridge.internalRdd(expanding
        .filter(col("status") === 200)
        .select(if (dedupSigs) col("signature") else lit(0L), col("depth"),
          col("discovery_seq"), col("host"), col("url"), col("links")))
      val (expandingRows, sigDelta) = if (!dedupSigs) (pageRows, None) else {
        val winners = sigs.probe(pageRows.filter(_.getLong(0) != 0L)
          .map(r => (r.getLong(0), r.copy()))
          .reduceByKey(partitioner, CrawlEngine.minPage _), keepPresent = false)
        // the store's delta: the winners' signatures, persisted (a later
        // read must not recompute it against the grown store), written
        // by the links job from the signature exchange it already holds
        val delta = winners.mapPartitions(_.map(kv => (kv._1, true)), preservesPartitioning = true)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sigs.append(delta, Some(() => delta.unpersist(false)))
        // pages without a signature expand too: a second scan of the page
        // delta, skipped when its write counted none; the union is read in
        // P tasks
        (if (unsignedPages == 0) winners.values
         else pageRows.filter(_.getLong(0) == 0L).union(winners.values).coalesce(P), Some(delta))
      }
      val survivors = seen.probe(expandingRows.flatMap(CrawlEngine.linkRefs)
        .reduceByKey(partitioner, CrawlEngine.minLink _), keepPresent = false).values
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      caches += (() => survivors.unpersist(false))
      val newLinkCount = timed("links") {
        val counts = sigDelta.fold(survivors.mapPartitions(it => Iterator.single(it.size.toLong))) {
          // both sides have the store's partition count
          _.zipPartitions(survivors) { (d, it) => d.foreach(_ => ()); Iterator.single(it.size.toLong) }
        }
        counts.collect().sum
      }
      // the new links as frontier rows: a driver-held table when they fit
      // the threshold (no driver collect past it), else distributed
      val (newFrontier, held) =
        if (newLinkCount == 0) (frontierFrame(Nil), true)
        else if (smallFits(newLinkCount)) {
          val rows = timed("links_seq")(survivors.collect()).sorted(Sequential.linkOrder)
          (frontierFrame(rows.iterator.zipWithIndex.map { case ((pd, _, _, u), i) =>
            FrontierEntry(u, UrlOps.host(u), pd + 1, ledger.seqCounter + i,
              UrlOps.scoreUrl(u, pd + 1), 0, 0L)
          }.toSeq), true)
        } else timed("links_seq") {
          // past the threshold: range-sorted in link order, and the ranges'
          // offsets stamped in place; the frontier's checkpoint reads them
          val (rows, _, release) = CrawlEngine.globalSeq(survivors.map(t => (t, ())), Sequential.linkOrder,
            seqParts, ledger.seqCounter) { case ((pd, _, _, u), _, k) => CrawlEngine.frontierRow(u, pd + 1, k) }
          caches += release
          (GraftSqlBridge.internalCreateDataFrame(spark, rows, Checkpointer.schemas("frontier")), false)
        }
      (newLinkCount, newFrontier, held, ledger.copy(seqCounter = ledger.seqCounter + newLinkCount))
    }

    /** 12. Roll: next frontier = politeness-deferred ∪ retries ∪ new links,
      * case-insensitive-deduped (D1) as a map-side-combining hash aggregate
      * keeping the canonical-min row (struct-min over the
      * canonical-order-prefixed struct — a window would shuffle and sort
      * every row; the aggregate combines duplicates before the exchange).
      * New links are already seen-filtered, so the next epoch's gate
      * probes only carryover entries and bloom false positives. Without
      * carryover streams the new-link set IS the next frontier (already
      * unique): no dedup, no count job, and no job at all when the driver
      * holds it. Returns the frontier's size.
      */
    private def roll(prev: Frontier, carried: DataFrame, newFrontier: DataFrame, newFrontierHeld: Boolean,
        newLinkCount: Long, caches: Caches): Frontier.Distributed = {
      val next =
        if (carryover)
          timed("frontier_ckpt")(CrawlEngine.dedupCanonicalMin(carried.unionByName(newFrontier))
            .localCheckpoint(true))
        else if (newFrontierHeld) newFrontier
        else timed("frontier_ckpt")(newFrontier.localCheckpoint(true))
      // the frontier has materialized: nothing reads this epoch's caches
      prev match {
        case Frontier.Distributed(t, _) => CrawlEngine.releaseCheckpoint(t)
        case _: Frontier.Local =>
      }
      caches.foreach(_())
      Frontier.Distributed(next, if (carryover) histOf(epoch, next) else Map(0L -> newLinkCount))
    }

    /** The call's result. The seen table reads the store's chain lazily,
      * so the chain stays; the caches no result table reads are released.
      */
    def result(): CrawlResult = {
      sigs.release(all = true)
      seen.release(all = false)
      val all = pages.pages
      val sms = state.ledger.chainSitemaps
      val finalPages = // the sitemap XML itself is parsed, never emitted as a page
        if (sms.isEmpty) all else all.filter(!lower(col("url")).isInCollection(sms.toSeq))
      CrawlResult(finalPages, seen.rows, tableOf(state.frontier), metrics.toSeq, epoch, blocked.table)
    }
  }
}

object CrawlEngine {

  /** Partition count for the engine's explicit exchanges and the stores'
    * partitioner — follows the session's `spark.sql.shuffle.partitions`
    * (the knob a cluster operator already sizes), and at least the
    * cluster's cores: oversized tasks build multi-million-key aggregation
    * hash maps whose working set thrashes the shared cache; more, smaller
    * partitions keep per-task state cache-resident and let AQE coalesce
    * where they're too fine.
    */
  private[engine] def partitions(spark: SparkSession): Int =
    math.max(spark.sessionState.conf.numShufflePartitions, spark.sparkContext.defaultParallelism)

  /** A crawl's frontier: entries the driver holds (the small path), or a
    * table with its `not_before` histogram (the distributed path), which
    * answers size and readiness with no job.
    */
  private[engine] sealed trait Frontier {
    def size: Long
    /** Entries whose hold has passed at `epoch`. */
    def ready(epoch: Long): Long
  }

  private[engine] object Frontier {
    final case class Local(entries: Vector[FrontierEntry]) extends Frontier {
      def size: Long = entries.size.toLong
      def ready(epoch: Long): Long = entries.count(_.not_before <= epoch).toLong
    }
    final case class Distributed(table: DataFrame, hist: Map[Long, Long]) extends Frontier {
      def size: Long = hist.values.sum
      def ready(epoch: Long): Long = hist.iterator.collect { case (nb, n) if nb <= epoch => n }.sum
    }
  }

  /** The loop state of a crawl call at the start of epoch `epoch`: the
    * ledger, the frontier, and the hot-host salt widths of the next fetch
    * exchange. Each epoch maps it to the next one; a snapshot writes it
    * (with the stores, the host ledger and the pages) and a restore returns
    * it, without salt widths.
    */
  private[engine] final case class EpochState(epoch: Long, ledger: Sequential.Ledger,
      frontier: Frontier, saltWidths: Map[String, Int])

  /** What a distributed epoch's fetch stage hands on: the parsed page
    * delta, the admitted count, the next epoch's hot-host salt widths, the
    * count of written status-200 pages without a signature, and the ledger.
    */
  private[engine] final case class Fetched(parsed: Dataset[ParsedPage], admittedCount: Long,
      saltWidths: Map[String, Int], unsignedPages: Long, ledger: Sequential.Ledger)

  /** Cap on the driver-side seen/signature mirrors of the small-epoch fast
    * path; past it the mirrors drop and the gate falls back to tiny probe
    * jobs against the distributed stores. A var so the fallback is testable
    * at toy scale.
    */
  @volatile private[engine] var mirrorCap: Int = 1 << 20

  /** Generation blooms: per-epoch delta blooms keep serving across
    * compactions; the full O(|seen|) bloom rebuild runs only when the
    * generation count exceeds this bound. Each generation is sized for its
    * epoch at 1% FPP, so the group false-positive estimate just before a
    * rebuild is ~1-(1-0.01)^k (~28% at 32) — a false positive only sends
    * the URL to the exact probe (extra residue shuffle, never a correctness
    * miss), so compaction stays O(delta) for k-1 of every k rebuild windows.
    */
  private[engine] val bloomMaxGenerations = 32

  /** Capacity of the driver-side host ledger (token bucket, 429 override
    * and latency EMA per host) AND the cap on each of its per-epoch
    * feeding collects: rows beyond it (ranked by per-epoch traffic) would
    * be evicted on insert anyway, so capping the collect bounds driver
    * traffic at any host cardinality without changing ledger contents.
    * A var so the cap + eviction path is testable at toy scale.
    */
  @volatile private[engine] var lruHostCap: Int = 100000

  /** Cap on sitemap auto-discovery (bounds the per-epoch distributed
    * collect and the driver-side set; distinct sitemap DOCUMENTS, never
    * pages, so 10k covers any real site fleet).
    */
  private[engine] val maxDiscoveredSitemaps = 10000

  /** A6 — sitemap auto-discovery accumulation (reference `link[rel=
    * sitemap]`, `website.rs:12512`): page-advertised sitemap URLs join the
    * chain. ONE deterministic rule shared verbatim by both engine paths
    * and the oracle — per epoch the advertised set is UTF-8-sorted before
    * case-insensitive keep-first insertion, so injection order (and hence
    * the sitemap docs' discovery_seq) never depends on fetch iteration
    * order.
    */
  private[graft] def accumulateDiscoveredSitemaps(
      acc: scala.collection.immutable.VectorMap[String, String],
      epochLinks: Seq[String]): scala.collection.immutable.VectorMap[String, String] =
    epochLinks.distinct.sorted(Sequential.utf8Ordering).foldLeft(acc) { (m, u) =>
      val k = graft.url.UrlOps.lowerUtf8(u)
      if (m.size < maxDiscoveredSitemaps && !m.contains(k)) m.updated(k, u) else m
    }

  /** D4 — deterministic hot-host salt selection: keep the 64 WIDEST hints
    * (width desc, host asc tiebreak). A bare `.take(64)` on the unordered
    * Map kept a hash-iteration-arbitrary 64 whenever more qualified, so
    * which hosts got salted was stable per run but not the hottest
    * (round-4 verdict #6 — perf skew, never correctness).
    */
  private[engine] def topHotHosts(widths: Iterable[(String, Int)]): Map[String, Int] =
    widths.toSeq.sortBy { case (h, w) => (-w, h) }.take(64).toMap

  /** Driver-side mirror of [[dedupCanonicalMin]]: case-insensitive frontier
    * dedup keeping the canonical-min entry, keyed by the same
    * UTF8String-lowercase mapping the distributed aggregate's `lower()`
    * applies.
    */
  def dedupCanonicalMinLocal(frontier: Vector[graft.model.FrontierEntry]): Vector[graft.model.FrontierEntry] =
    frontier.groupBy(e => graft.url.UrlOps.lowerUtf8(e.url)).values
      .map(_.min(Sequential.canonical)).toVector

  /** One link occurrence: (p_depth, p_seq, pos, url) — its page's depth
    * and discovery_seq and its position in the page's links.
    */
  type LinkRef = (Int, Long, Int, String)

  /** The link occurrences of one expanding page row (signature, depth,
    * discovery_seq, host, url, links), keyed by lower(url) with Spark's
    * `lower()` mapping.
    */
  private[engine] def linkRefs(r: InternalRow): Iterator[(String, LinkRef)] =
    if (r.isNullAt(5)) Iterator.empty
    else {
      val links = r.getArray(5)
      val pd = r.getInt(1)
      val ps = r.getLong(2)
      Iterator.range(0, links.numElements()).filterNot(links.isNullAt).map { i =>
        val u = links.getUTF8String(i)
        (u.toLowerCase.toString, (pd, ps, i, u.toString))
      }
    }

  /** Canonical-min link occurrence, url in UTF-8 byte order. */
  private[engine] def minLink(a: LinkRef, b: LinkRef): LinkRef =
    if (Sequential.linkOrder.lteq(a, b)) a else b

  /** Canonical-min page row (depth, discovery_seq, host, url), strings in
    * UTF-8 byte order: the first page of a signature.
    */
  private[engine] def minPage(a: InternalRow, b: InternalRow): InternalRow = {
    var c = Integer.compare(a.getInt(1), b.getInt(1))
    if (c == 0) c = java.lang.Long.compare(a.getLong(2), b.getLong(2))
    if (c == 0) c = a.getUTF8String(3).compareTo(b.getUTF8String(3))
    if (c == 0) c = a.getUTF8String(4).compareTo(b.getUTF8String(4))
    if (c <= 0) a else b
  }

  /** A new link's frontier row, in the `frontier` table's columns. */
  private[engine] def frontierRow(url: String, depth: Int, seq: Long): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      UTF8String.fromString(url), UTF8String.fromString(UrlOps.host(url)), depth, seq,
      UrlOps.scoreUrl(url, depth), 0, 0L))

  /** The encoders of the distributed epoch's typed frames, built once per
    * JVM, on first use: deriving one walks the case class by reflection.
    */
  private[engine] lazy val frontierEncoder: Encoder[FrontierEntry] = Encoders.product[FrontierEntry]
  private[engine] lazy val fetchResultEncoder: Encoder[FetchResult] = Encoders.product[FetchResult]
  private[engine] val parsedEncoder: Encoder[ParsedPage] = Encoders.product[ParsedPage]

  /** The frontier table's columns, in [[FrontierEntry]] order. */
  private[engine] val frontierSchema: StructType = Checkpointer.schemas("frontier")

  /** Static ParsedPage schema — handed to every delta read so no per-epoch
    * footer-inference job runs.
    */
  val parsedSchema: StructType = parsedEncoder.schema

  /** Frontier entries as frontier-table UnsafeRows, one copy each. */
  private[engine] def entryRows(it: Iterator[FrontierEntry]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(frontierSchema)
    it.map(e => proj(new GenericInternalRow(Array[Any](UTF8String.fromString(e.url),
      UTF8String.fromString(e.host), e.depth, e.discovery_seq, e.priority, e.attempt, e.not_before))).copy())
  }

  /** Rows whose leading columns are the frontier table's, as frontier
    * UnsafeRows (the round-robin rank dropped), one copy each.
    */
  private[engine] def unsafeRows(it: Iterator[InternalRow]): Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(frontierSchema)
    it.map(r => proj(r).copy())
  }

  /** `a`'s and `b`'s partitions side by side, partition i of the result
    * holding both partition i's; the one with more partitions is first
    * coalesced (narrow) to the other's count.
    */
  private[engine] def zipAligned(a: RDD[InternalRow], b: RDD[InternalRow]): RDD[InternalRow] = {
    val n = math.min(a.getNumPartitions, b.getNumPartitions)
    def to(r: RDD[InternalRow]) = if (r.getNumPartitions > n) r.coalesce(n) else r
    to(a).zipPartitions(to(b))(_ ++ _)
  }

  /** The fetch exchange's partitioner over frontier rows: by host and a
    * salt, the url's hash modulo the host's salt width (16 for a host
    * without a hot-host width).
    */
  private[engine] final class HostSaltPartitioner(parts: Int, widths: Map[String, Int]) extends Partitioner {
    def numPartitions: Int = parts
    def getPartition(key: Any): Int = {
      val r = key.asInstanceOf[InternalRow]
      val host = r.getUTF8String(1)
      val width = if (widths.isEmpty) 16 else widths.getOrElse(host.toString, 16)
      val salt = Math.floorMod(r.getUTF8String(0).hashCode, width)
      Math.floorMod(Murmur3_x86_32.hashInt(salt, host.hashCode), parts)
    }
  }

  /** Fetch emission order of frontier rows within a fetch partition:
    * (`__rr` at `rrIdx` when it is not -1, priority desc, depth,
    * discovery_seq, url in UTF-8 byte order).
    */
  private[engine] final class FetchOrder(rrIdx: Int) extends Ordering[InternalRow] {
    def compare(a: InternalRow, b: InternalRow): Int = {
      var c = if (rrIdx < 0) 0 else Integer.compare(a.getInt(rrIdx), b.getInt(rrIdx))
      if (c == 0) c = Integer.compare(b.getInt(4), a.getInt(4))
      if (c == 0) c = Integer.compare(a.getInt(2), b.getInt(2))
      if (c == 0) c = java.lang.Long.compare(a.getLong(3), b.getLong(3))
      if (c == 0) c = a.getUTF8String(0).compareTo(b.getUTF8String(0))
      c
    }
  }


  /** A driver-held table: its plan is a LocalRelation, which a snapshot
    * commit writes on the driver with no Spark job.
    */
  private[engine] def localFrame(spark: SparkSession, rows: Iterable[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** One global sequence: `rdd` range-partitioned on its key in `ord`
    * (the partitioner's sample job), each range sorted, persisted and
    * counted (one job), and every element stamped in key order with its
    * dense number from `start`. Partition i of the result holds the i-th
    * key range, so a pass over the partitions in order walks the sequence
    * in order. Returns the stamped rows, their count, and the release of
    * the persisted ranges.
    */
  private[engine] def globalSeq[K: ClassTag, V: ClassTag](rdd: org.apache.spark.rdd.RDD[(K, V)],
      ord: Ordering[K], parts: Int, start: Long)(stamp: (K, V, Long) => InternalRow)
      : (org.apache.spark.rdd.RDD[InternalRow], Long, () => Unit) = {
    val sorted = new org.apache.spark.rdd.ShuffledRDD[K, V, V](rdd,
        new org.apache.spark.RangePartitioner(parts, rdd)(ord, implicitly[ClassTag[K]]))
      .setKeyOrdering(ord).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val offsets = sorted.mapPartitions(it => Iterator.single(it.size.toLong)).collect().scanLeft(start)(_ + _)
    (sorted.mapPartitionsWithIndex { (i, it) =>
      var k = offsets(i) - 1
      it.map { case (key, v) => k += 1; stamp(key, v, k) }
    }, offsets.last - start, () => sorted.unpersist(false))
  }

  private[engine] def histLocal(v: Vector[FrontierEntry]): Map[Long, Long] =
    v.groupBy(_.not_before).map { case (nb, es) => (nb, es.size.toLong) }

  /** Releases the RDD a `localCheckpoint`ed table reads, if it is one. */
  private[engine] def releaseCheckpoint(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlBridge.checkpointRdd(df)
      .foreach(r => try r.unpersist(false) catch { case _: Throwable => })

  /** (partition, rows, bloom shard or null, locally-hot hosts) of one
    * partition of an epoch's admitted set.
    */
  private[engine] type AdmitStat = (Int, Long, Array[Byte], Array[(String, Long)])

  private def hotHosts(hostCounts: java.util.HashMap[String, Long], n: Long): Array[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    hostCounts.asScala.filter { case (_, c) => c * 8 >= n && c >= 32 }.toArray
  }

  /** The admit stats of frontier rows: rows pass through, and an exhausted
    * partition adds its [[AdmitStat]] to `acc`.
    */
  private[engine] def admitStats(it: Iterator[InternalRow], bloomSize: Long,
      acc: org.apache.spark.util.CollectionAccumulator[AdmitStat]): Iterator[InternalRow] = {
    val pid = org.apache.spark.TaskContext.getPartitionId()
    new Iterator[InternalRow] {
      private var bloom: BloomFilter = null
      private val hostCounts = new java.util.HashMap[String, Long]()
      private var n = 0L
      private var flushed = false
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !flushed) {
          flushed = true
          // empty partitions flush too (null shard): the drain counts
          // flushed pids against the stage's partition count to detect
          // partial consumption, so every EXHAUSTED partition must
          // report — a partition abandoned mid-iteration never gets
          // here, which is exactly the signal
          acc.add((pid, n, if (n == 0) null else KeyStore.bloomBytes(bloom), hotHosts(hostCounts, n)))
        }
        h
      }
      override def next(): InternalRow = {
        val r = it.next()
        if (bloom == null) bloom = BloomFilter.create(bloomSize, 0.01)
        bloom.putBinary(r.getUTF8String(0).toLowerCase.getBytes)
        hostCounts.merge(r.getUTF8String(1).toString, 1L, (x, y) => x + y)
        n += 1
        r
      }
    }
  }

  /** A crawl-scoped temp directory for a parquet sink (a real deployment
    * points the sink at the output table's location), deleted on JVM exit.
    */
  private[engine] def tempSink(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }))
    dir.toString
  }

  /** Schema of the politeness stage's per-host state join. */
  private val hostDelaySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("host", StringType), StructField("override_ms", LongType),
      StructField("tokens_milli", LongType)))
  }

  /** Schema of the blocked side-output table (B11 parity). */
  val blockedSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("url", StringType), StructField("reason", StringType),
      StructField("epoch", LongType)))
  }

  /** Small-path blocked rows buffer driver-side up to this many rows, then
    * spill to the parquet sink (keeps the fast path at its usual job count
    * while bounding driver memory on long trackBlocked crawls).
    */
  private[engine] val blockedBufCap = 65536

  /** Small-path parsed pages buffer driver-side up to this many rows before
    * flushing one parquet delta: tiny epochs pay no write job each.
    */
  private[engine] val pageBufCap = 16384

  /** ... and up to this many bytes of span strings (text and link/media
    * refs, counted as UTF-16 heap bytes): pages with large bodies flush
    * long before the row cap, so the buffer's driver memory is bounded in
    * bytes, not only in rows.
    */
  private[engine] val pageBufBytes = 16L << 20

  /** Case-insensitive frontier dedup keeping the canonical-min row
    * (depth, discovery_seq, host, url) — a map-side-combining hash
    * aggregate: struct comparison is lexicographic field-by-field and
    * discovery_seq is globally unique, so the min struct IS the
    * canonical-min entry with its own remaining fields attached.
    */
  def dedupCanonicalMin(frontier: DataFrame): DataFrame =
    frontier
      .groupBy(lower(col("url")).as("__lu"))
      .agg(min(struct(col("depth"), col("discovery_seq"), col("host"), col("url"),
        col("priority"), col("attempt"), col("not_before"))).as("__m"))
      .select(col("__m.url").as("url"), col("__m.host").as("host"),
        col("__m.depth").as("depth"), col("__m.discovery_seq").as("discovery_seq"),
        col("__m.priority").as("priority"), col("__m.attempt").as("attempt"),
        col("__m.not_before").as("not_before"))

  /** Resume a checkpointed crawl: restores frontier/seen/signatures/host
    * state/pages + driver ledger from the latest committed snapshot and
    * continues the epoch loop (kill-and-restart produces tables identical
    * to an uninterrupted run — ResumeSpec).
    */
  def resume(spark: SparkSession, config: CrawlConfig, fetcher: Fetcher,
      robots: RobotsProvider, ck: Checkpointer, seedUrls: Seq[String],
      expectedUrls: Long = 4L * 1000 * 1000,
      sitemapChain: Boolean = false, sitemapOnly: Boolean = false): CrawlResult =
    new CrawlEngine(spark, config, fetcher, robots, expectedUrls, Some(ck))
      .crawl(seedUrls, Some(ck), sitemapChain = sitemapChain, sitemapOnly = sitemapOnly)

  /** Normalized-content signature — the reference hashes `normalize_html`
    * output (markup minus volatile attrs/links, `utils/mod.rs:9221-9300`);
    * the span-native analogue hashes the ordered text content (links and
    * media refs excluded, matching the href-stripping). Exact function is
    * ours to define (SURVEY C4); FNV-1a 64 over the joined text.
    */
  def signatureOf(spans: Array[Span]): Long = {
    if (spans == null || spans.isEmpty) return 0L
    signatureOfSorted(spans.sortBy(_.offset))
  }

  /** [[signatureOf]] over an already offset-sorted span array — parsePage
    * sorts once and shares the array (sortBy is stable, so the hash is
    * identical to sorting again).
    */
  private def signatureOfSorted(sorted: Array[Span]): Long = {
    if (sorted == null || sorted.isEmpty) return 0L
    val textKinds = Set("text", "title", "meta_description")
    var h = 0xcbf29ce484222325L
    var any = false
    var i = 0
    while (i < sorted.length) {
      val s = sorted(i)
      if (s.text != null && textKinds.contains(s.kind)) {
        any = true
        val bytes = s.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var j = 0
        while (j < bytes.length) { h ^= (bytes(j) & 0xffL); h *= 0x100000001b3L; j += 1 }
        h ^= 0x1eL; h *= 0x100000001b3L // span separator
      }
      i += 1
    }
    if (any) h else 0L
  }

  /** Media/script span kinds that become frontier candidates only with
    * `full_resources` (reference adds `script[src],link[href]`
    * `page.rs:4276-4311`; media srcs stay out of the frontier by the
    * asset-extension filter anyway).
    */
  private val ResourceKinds = Set("image", "video", "audio", "script", "stylesheet", "og_image")

  /** One-pass parse of a fetched document: metadata + signature + validated
    * links (C1/C2/C3/C4 fused, like the reference's single rewriter pass).
    */
  def parsePage(f: FetchResult, scope: ScopeState, epoch: Long,
      linkRewrite: String => String = null): ParsedPage = {
    val spans = if (f.f_spans == null) Array.empty[Span] else f.f_spans
    var title: String = null
    var desc: String = null
    var og: String = null
    var baseHref: String = null
    val sorted = spans.sortBy(_.offset)
    var i = 0
    while (i < sorted.length) {
      val s = sorted(i)
      s.kind match {
        case "title" => if (title == null) title = s.text
        case "meta_description" => if (desc == null) desc = s.text
        case "og_image" => if (og == null) og = s.media_ref
        case "base" => if (baseHref == null) baseHref = s.media_ref
        case _ =>
      }
      i += 1
    }
    val links = scala.collection.mutable.ArrayBuffer.empty[String]
    val smLinks = scala.collection.mutable.ArrayBuffer.empty[String]
    if (f.f_status == 200) {
      // "/"-rooted hrefs resolve against the PAGE's own root (the reference
      // resolves against `domain_parsed`, its single crawl root — identical
      // for single-host crawls; for multi-host/external-domain crawls the
      // per-page root is the only correct generalization).
      val pageRoot = {
        val p = UrlOps.parseCrawlBase(f.f_final_url)
        if (p == null) scope.crawlBase else p.serialize
      }
      i = 0
      while (i < sorted.length) {
        val s = sorted(i)
        val isLink = s.kind == "link" || (scope.fullResources && ResourceKinds.contains(s.kind))
        val isSitemap = s.kind == "sitemap"
        if ((isLink || isSitemap) && s.media_ref != null) {
          val v = UrlOps.validateLink(
            pageUrl = f.f_final_url, crawlBase = pageRoot, baseHref = baseHref,
            href = s.media_ref, subMatcher = scope.subMatcher, parentHost = scope.parentHost,
            parentScheme = scope.parentScheme, redirectHost = scope.redirectHost,
            externalDomains = scope.externalDomains, fullResources = scope.fullResources)
          if (v != null) {
            if (isSitemap) smLinks += v
            else links += (if (linkRewrite == null) v else linkRewrite(v))
          }
        }
        i += 1
      }
    }
    val sig = signatureOfSorted(sorted)
    ParsedPage(f.url, f.f_final_url, f.host, f.depth, f.discovery_seq, f.priority,
      f.attempt, epoch, f.f_status, sig, title, desc, og, f.f_charset, f.f_etag,
      spans, links.distinct.toArray,
      f.f_retry_after_ms, f.f_latency_ms, smLinks.distinct.toArray)
  }
}
