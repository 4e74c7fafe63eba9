package graft.engine

import graft.model._
import graft.url.UrlOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.catalyst.InternalRow
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

  import spark.implicits._

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
  // Deterministic global sequence: range-partition on the sort key, sort
  // within partitions, then zipWithIndex (per-partition imperative logic —
  // the one place an RDD is genuinely needed; a global window would funnel
  // everything through a single partition).
  // ---------------------------------------------------------------------
  private def withGlobalSeq(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column],
      outName: String, offset: Long): DataFrame = {
    if (df.isEmpty) return df.withColumn(outName, lit(0L))
    val parts = math.max(1, math.min(P, 200))
    val sorted = df.repartitionByRange(parts, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val schema = sorted.schema.add(outName, LongType, nullable = false)
    // InternalRow end-to-end: count + JoinedRow stamp touch zero row bytes,
    // and the two jobs share the sort shuffle via the stable RDD instance
    val sortedRdd = org.apache.spark.sql.GraftSqlBridge.internalRdd(sorted)
    val offsets = CrawlEngine.offsets(sortedRdd, offset)
    val withSeq = sortedRdd.mapPartitionsWithIndex { (i, it) =>
      var k = offsets(i)
      val cell = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      it.map { r =>
        cell.update(0, k); k += 1
        joined(r, cell): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(spark, withSeq, schema)
  }

  // ---------------------------------------------------------------------
  // Gate terms (SURVEY §2.B)
  // ---------------------------------------------------------------------

  /** B2/B3 — whitelist/blacklist as codegen'd column predicates. Non-regex semantics:
    * EXACT string match (`lib.rs:433-449` — `Vec<CompactString>::contains`);
    * `listsAreRegex` switches to the reference's `regex` feature build
    * (RegexSet::is_match — unanchored search, `lib.rs:433-440`).
    */
  private def listsGate(df: Dataset[FrontierEntry]): Dataset[FrontierEntry] = {
    val wl = config.whitelist
    val bl = config.blacklist
    if (wl.isEmpty && bl.isEmpty) return df
    def matches(patterns: Seq[String]): org.apache.spark.sql.Column =
      if (config.listsAreRegex) patterns.map(p => col("url").rlike(p)).reduce(_ || _)
      else col("url").isInCollection(patterns)
    var cond: org.apache.spark.sql.Column = lit(true)
    if (wl.nonEmpty) cond = cond && matches(wl)
    if (bl.nonEmpty) cond = cond && !matches(bl)
    df.filter(cond)
  }

  /** B4 — robots gate as a codegen expression
    * (`is_allowed_robots` `website.rs:1992-2006`).
    */
  private def robotsGate(df: Dataset[FrontierEntry]): Dataset[FrontierEntry] = {
    if (!config.respectRobotsTxt) return df
    df.filter(enginefns.robots_can_fetch(col("host"), col("url"), robots, config.userAgent))
  }

  /** B6 — depth gate: URL path depth vs depth_distance
    * (`is_over_depth` `website.rs:2124-2126`; distance derivation
    * `determine_limits` `website.rs:14076-14089`: max(depth, seed segments)).
    */
  private def depthGate(df: Dataset[FrontierEntry], depthDistance: Int): Dataset[FrontierEntry] = {
    if (config.depth <= 0) return df
    import graft.url.urlfns._
    df.filter(path_depth(col("url")) <= lit(depthDistance)).as[FrontierEntry]
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
    crawl(seedUrls).pages.as[graft.model.PageRow].collect()

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
  private val canonicalOrder = Seq(col("depth"), col("discovery_seq"), col("host"), col("url"))

  /** The path rule, one for a fresh start, every epoch and a restore: the
    * frontier stays on the driver while the threshold is on and the rows at
    * hand (seeds, an epoch's candidates, a restored frontier) fit under it.
    */
  private def smallFits(rows: Long): Boolean =
    config.smallEpochThreshold > 0 && rows <= config.smallEpochThreshold

  private def noRows: DataFrame = spark.emptyDataset[FrontierEntry].toDF()

  private def frontierFrame(v: Seq[FrontierEntry]): DataFrame =
    CrawlEngine.localFrame(spark, v.map(e => Row(e.url, e.host, e.depth, e.discovery_seq,
      e.priority, e.attempt, e.not_before)), Checkpointer.schemas("frontier"))

  def crawl(seedUrls0: Seq[String], resumeFrom: Option[Checkpointer] = None,
      sitemapChain: Boolean = false, sitemapOnly: Boolean = false): CrawlResult = {
    // set-up shared with the oracle: glob seeds, scope, depth distance,
    // budget, and the seed (or sitemap-only) frontier
    val start = Sequential.start(config, seedUrls0, sitemapOnly)
    val run = new Run(start, sitemapChain)
    // a fresh crawl starts a new snapshot chain; a restore continues the
    // restored one
    checkpoint.foreach(_.startChain(-1))
    resumeFrom.foreach(run.restore)

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
        else if (run.frontierLocal.isDefined && smallFits(candCount))
          phase(run.epoch, "epoch_total")(run.smallEpoch(candCount, epochT0))
        else phase(run.epoch, "epoch_total")(run.distributedEpoch(candCount, epochT0))
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
      if (sitemapChain && !run.ledger.chainStarted && !run.ledger.budgetStopped &&
          !shutdownRequested && System.nanoTime() < run.deadline && run.epoch < config.maxEpochs) {
        val (sms, chainLedger) = Sequential.startChain(config, start.seedUrls, run.ledger)
        run.ledger = chainLedger
        if (sms.nonEmpty) {
          sms.foreach(inbox.add)
          run.done = false
        } else crawling = false
      } else crawling = false
    }
    run.result()
  }

  /** One crawl call: its driver state — the ledger, the frontier, the two
    * stores, the sinks and the per-host ledgers — and the epoch stages that
    * move it. Holds the SparkSession through the engine: task closures
    * capture local vals only.
    */
  private final class Run(start: Sequential.Start, sitemapChain: Boolean) {
    // the driver ledger: seq counter, budget, scope, chain state
    var ledger: Sequential.Ledger = start.ledger
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

    // per-host token buckets, driver-held in an access-ordered LRU map
    // capped at 100k hosts — the reference holds its per-domain limiter
    // buckets exactly this way (`rate_limiter.rs` MAX_ENTRIES); an evicted
    // host re-creates a fresh full bucket, like an evicted DashMap entry.
    // The reactive politeness state (429/Retry-After delay overrides,
    // latency EMAs) is LRU-capped the same way.
    private val hostTokens = lruMap[Long]()
    private val throttleOverrideMs = lruMap[Long]()
    private val latencyEma = lruMap[Double]()

    var epoch = 0L
    private val metrics = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
    // D4 salt widths for the next epoch's fetch exchange (see withAdmitStats)
    private var hotHostWidths: Map[String, Int] = Map.empty
    // caches one distributed epoch holds until its next frontier is taken
    private var epochCaches = List.empty[() => Unit]

    // Small-epoch fast path: while every epoch stays under
    // `smallEpochThreshold` candidates, the WHOLE epoch runs as the
    // Sequential step — the code the differential oracle runs — on the
    // frontier the driver holds (`frontierLocal`), with the stores' mirrors
    // for a job-free gate; only the stores, the sinks and a non-local fetch
    // touch Spark. The first distributed epoch drops the mirrors for the
    // rest of the call; a resumed call picks its path afresh (`smallFits`).
    var frontierLocal: Option[Vector[FrontierEntry]] = None
    private val gate = new Sequential.Gate(config, robots)
    // seeds are gated by is_allowed_default only (lists + robots, no budget)
    private val seeds = start.frontier.filter(gate.default)
    private var frontier: DataFrame = frontierFrame(Nil) // unused while local
    if (smallFits(start.frontier.size)) frontierLocal = Some(seeds)
    else {
      seen.dropMirror()
      frontier = frontierFrame(seeds)
    }
    private def frontierDf: DataFrame = frontierLocal.fold(frontier)(frontierFrame)
    // driver-side not_before histogram of a distributed frontier, refreshed
    // by the SAME job that counts it: per-epoch readiness then needs NO job
    // at all — a politeness-paced crawl's empty ticks (hosts banking
    // fractional tokens) advance logical time for free
    private var readyHist: Map[Long, Long] =
      if (frontierLocal.nonEmpty) Map.empty else CrawlEngine.histLocal(seeds)
    var done: Boolean = frontierLocal.map(_.size.toLong).getOrElse(readyHist.values.sum) == 0

    // fetch through the seam: driver-local when the fetcher offers it
    // (identical per-row semantics by the Fetcher contract), else one job
    private val step = new Sequential.Step(config, robots, gate, start.depthDistance, retry, sitemapChain,
      onShouldCrawl, onLinkFind, seen, sigs,
      es => fetcher.fetchLocal(es)
        .getOrElse(fetcher.fetch(spark, spark.createDataset(es)).collect().toSeq),
      Sequential.HostState(hostTokens, throttleOverrideMs, latencyEma))

    // a phase of the current epoch
    private def timed[T](label: String)(f: => T): T = phase(epoch, label)(f)

    /** Candidates whose politeness/retry holdoff has passed. */
    def readyCount: Long = frontierLocal match {
      case Some(v) => if (holdsPossible) v.count(_.not_before <= epoch).toLong else v.size.toLong
      case None =>
        if (holdsPossible) readyHist.iterator.filter(_._1 <= epoch).map(_._2).sum
        else readyHist.values.sum
    }

    private def histOf(df: DataFrame): Map[Long, Long] = timed("frontier_hist")(
      df.groupBy(col("not_before")).agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap)

    private def endEpoch(frontierCount: => Long): Unit = {
      epoch += 1
      onEpoch.foreach(f => f(epoch - 1))
      done = ledger.budgetStopped || frontierCount == 0 || epoch >= config.maxEpochs ||
        shutdownRequested || System.nanoTime() > deadline
    }

    /** Nothing ready this tick — advance logical time only (no job: the
      * histogram sizes a distributed frontier).
      */
    def idle(): Unit = endEpoch(frontierLocal.fold(readyHist.values.sum)(_.size.toLong))

    /** Resume: restores all loop state from the latest committed snapshot
      * (north rule: resumable from checkpoint with per-partition lineage).
      * The manifest's lineage sizes every table, so choosing the path runs
      * no job; the snapshot is immutable, so the stores are read lazily, and
      * the tables kept on the driver are read there.
      */
    def restore(ck: Checkpointer): Unit = {
      val e = ck.latestEpoch()
      if (e < 0) return
      val m = ck.readManifest(e)
      val rowsOf = Checkpointer.lineageRows(m)
      // same path rule as a fresh start: a small frontier comes back to the
      // driver, and with it the mirrors and the bloom when the seen set fits
      // them
      if (smallFits(rowsOf("frontier")))
        frontierLocal = Some(ck.readLocal(e, "frontier").map(r => FrontierEntry(r.getString(0),
          r.getString(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6))))
      else {
        frontierLocal = None
        frontier = ck.readTable(e, "frontier")
      }
      val local = frontierLocal.isDefined && rowsOf("seen") <= CrawlEngine.mirrorCap
      def restoreStore[K: ClassTag, V: ClassTag](store: KeyStore[K, V], name: String)(f: Row => (K, V)) =
        store.restore(rowsOf.getOrElse(name, 0L), if (local) Some(ck.readLocal(e, name).map(f)) else None,
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
      ck.readLocal(e, "host_tokens").foreach(r => hostTokens(r.getString(0)) = r.getLong(1))
      // chain lineage: a kill during the sitemap chain resumes mid-chain
      // (chain rules re-arm from the manifest's sitemap-doc set; parsed
      // as JSON quoted strings — URLs may contain ',' and ']')
      val (ckChainStarted, ckChainSms) = Checkpointer.chainState(m)
      ledger = ledger.copy(
        seqCounter = Checkpointer.longField(m, "seq_counter").getOrElse(ledger.seqCounter),
        wildcardRemaining =
          Checkpointer.longField(m, "wildcard_remaining").getOrElse(ledger.wildcardRemaining),
        pathBudget = Checkpointer.pathBudget(m),
        scope = Checkpointer.strField(m, "redirect_host").filter(_.nonEmpty)
          .fold(ledger.scope)(rh => ledger.scope.copy(redirectHost = rh)),
        chainStarted = ledger.chainStarted || ckChainStarted,
        chainSitemaps = if (ckChainStarted) ledger.chainSitemaps ++ ckChainSms else ledger.chainSitemaps,
        // pre-chain rel=sitemap discoveries: restore in manifest order
        // (insertion order) so the chain seeds' injection order — and the
        // sitemap docs' discovery_seq — match the unkilled run exactly
        discoveredSitemaps = Checkpointer.discoveredSitemaps(m)
          .foldLeft(ledger.discoveredSitemaps) { (acc, u) =>
            val k = UrlOps.lowerUtf8(u)
            if (acc.contains(k)) acc else acc.updated(k, u)
          })
      epoch = e + 1
      // a distributed frontier read from a snapshot is sized by a histogram job
      readyHist = if (frontierLocal.nonEmpty) Map.empty else histOf(frontier)
      done = frontierLocal.map(_.size.toLong).getOrElse(readyHist.values.sum) == 0
    }

    /** Injected URLs join the frontier, keeping its unique-by-lower(url)
      * invariant.
      */
    def inject(urls: Vector[String]): Unit = {
      val (injectedV, injectedLedger) = Sequential.inject(urls, ledger)
      ledger = injectedLedger
      if (injectedV.nonEmpty) frontierLocal match {
        case Some(v) => frontierLocal = Some(CrawlEngine.dedupCanonicalMinLocal(v ++ injectedV))
        case None =>
          val prev = frontier
          frontier = timed("inject")(CrawlEngine.dedupCanonicalMin(
            frontier.unionByName(frontierFrame(injectedV))).localCheckpoint(true))
          CrawlEngine.releaseCheckpoint(prev)
          readyHist = histOf(frontier)
      }
    }

    // snapshot commit, only on the epochs it is due. The pages go in as the
    // delta since the last commit; afterwards the view reads them from the
    // committed chain, and later sink deltas start a new generation
    private def commitIfDue(): Unit = checkpoint.filter(_.due(epoch)).foreach { ck =>
      ck.commit(epoch, frontierDf, seen.table, sigs.table, CrawlEngine.localFrame(spark,
          hostTokens.map { case (h, t) => Row(h, t) }, Checkpointer.schemas("host_tokens")),
        pages.delta, ledger.seqCounter, ledger.wildcardRemaining, ledger.pathBudget, ledger.scope,
        metrics.toSeq, ledger.chainStarted, ledger.chainSitemaps.toSeq.sorted,
        ledger.discoveredSitemaps.values.toSeq)
      pages.committedTo(ck, epoch)
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
    def smallEpoch(candCount: Long, epochT0: Long): Unit = {
      val out = step(frontierLocal.get, epoch, ledger)
      ledger = out.ledger
      val admittedCount = out.admitted.size.toLong
      // bloom delta — keeps the broadcast group valid for a later
      // distributed epoch (same 1% FPP sizing rule as the fused builder)
      seen.bloomFromLocal(out.admitted.map(e => UrlOps.lowerUtf8(e.url)), candCount)
      // D4 salt hints for the NEXT epoch — free here, and crucial at the
      // small->distributed handoff: the first big epoch of a hot-host
      // crawl would otherwise fetch 50% of its rows through the default
      // 16-way spread (the distributed stats ride the fetch scan and so
      // always lag one epoch)
      hotHostWidths = saltWidths(
        out.admitted.groupBy(_.host).map { case (h, es) => (h, es.size.toLong) }, admittedCount)
      // A7 page-sink delta, buffered; a commit takes the buffer into its
      // pages delta
      pages.put(out.pages)
      if (config.trackBlocked)
        blocked.put(out.robotsBlocked.map(e => BlockedRow(e.url, "robots", epoch)) ++
          out.vetoed.map(p => BlockedRow(p.url, "veto", epoch)))
      frontierLocal = Some(out.frontier)
      val frontierCount = out.frontier.size.toLong
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
        out.newLinks, frontierCount, seen.count, ledger.budgetStopped,
        (System.nanoTime() - epochT0) / 1000000L, out.robotsBlocked.size.toLong,
        out.vetoed.size.toLong)
      // the driver holds the frontier and, while the mirrors live, the seen
      // and signature tables too: the snapshot writes them with no job
      commitIfDue()
      endEpoch(frontierCount)
    }

    /** The distributed epoch: hand-off → gate → politeness → budget → fetch
      * → seen append → links → roll → compaction and commit.
      */
    def distributedEpoch(candCount: Long, epochT0: Long): Unit = {
      if (frontierLocal.isDefined) handOff()
      val ready = if (holdsPossible) frontier.filter(col("not_before") <= lit(epoch)) else frontier
      val deferredHold = if (holdsPossible) frontier.filter(col("not_before") > lit(epoch)) else noRows
      val (gated, robotsBlockedCount) = gateStage(ready)
      val (polAdmitted, deferred) = if (politenessPossible) politeness(gated) else (gated, noRows)
      val (admitted, budgetLeftover) = budget(polAdmitted)
      val (admittedDs, parsed, admittedCount) = fetch(admitted, candCount)
      // 8. C7 retry ladder (pluggable RetryPolicy; default = the
      //    reference's 5xx/429/408 + capped exponential backoff ladder,
      //    `website.rs:8388-8392`): retryable statuses re-queue with
      //    backoff and are REMOVED from seen (`website.rs:8663-8666`)
      val isRetried = retry.isRetryable(col("status")) && col("attempt") < retry.maxAttempts
      val retryDf = parsed.toDF().filter(isRetried)
        .select(col("url"), col("host"), col("depth"), col("discovery_seq"),
          col("priority"), (col("attempt") + 1).as("attempt"),
          (lit(epoch) + retry.backoffEpochs(col("attempt"))).as("not_before"))
      appendSeen(admittedDs, admittedCount, retryDf)
      val (expanding, vetoedCount) = expandingPages(parsed)
      val (newLinkCount, newFrontier, newFrontierHeld) = links(expanding)
      val frontierCount = roll(deferredHold.unionByName(deferred).unionByName(budgetLeftover)
        .unionByName(retryDf), newFrontier, newFrontierHeld, newLinkCount)
      if (seen.appends >= math.max(2, config.stateCompactionEpochs)) compactStores()
      metrics += EpochMetrics(epoch, candCount, admittedCount, admittedCount,
        newLinkCount, frontierCount, seen.count, ledger.budgetStopped,
        (System.nanoTime() - epochT0) / 1000000L, robotsBlockedCount, vetoedCount)
      timed("commit")(commitIfDue())
      endEpoch(frontierCount)
    }

    /** Hand-off: the frontier the driver holds becomes a driver-held table
      * (no job); the mirrors drop for the rest of the call.
      */
    private def handOff(): Unit = {
      frontier = frontierDf
      readyHist = CrawlEngine.histLocal(frontierLocal.get)
      frontierLocal = None
      seen.dropMirror()
    }

    /** Gate: the bloom, the seen probe, lists/robots/depth; returns the
      * gated candidates and the robots-blocked count.
      */
    private def gateStage(ready: DataFrame): (DataFrame, Long) = {
      // 1. B1 visited: bloom fast-negative (codegen expression over the
      //    broadcast filter group — no UDF on the hot path); the
      //    maybe-seen residue shuffles to the seen store's partitions
      //    where a per-partition exact set answers membership. The seen
      //    side is scanned in place — never re-shuffled, never broadcast.
      val withLower = ready.withColumn("url_lower", lower(col("url")))
      val bloomGroup = timed("bloom_bcast")(new BloomGroup(spark.sparkContext.broadcast(seen.blooms)))
      val mightContain = enginefns.bloom_might_contain(col("url_lower"), bloomGroup)
      val lowerIdx = withLower.schema.fieldIndex("url_lower")
      // co-partitioned exact probe, InternalRow through the shuffle:
      // UnsafeRow.copy ships compact row bytes
      val unseenMaybe = GraftSqlBridge.internalCreateDataFrame(spark,
        seen.probe(GraftSqlBridge.internalRdd(withLower.filter(mightContain))
          .map(r => (r.getUTF8String(lowerIdx).toString, r.copy())), keepPresent = false).values,
        withLower.schema)
      val unseen = withLower.filter(!mightContain).unionByName(unseenMaybe)
      // 2. B8 batch dedup (case-insensitive keep canonical-min, the
      //    frontier HashSet semantics `website.rs:7810`) is STRUCTURAL:
      //    the frontier is unique by lower(url) by construction (seeds
      //    ci-deduped, link agg keyed by lower(url), carryover union
      //    window), so no per-epoch dedup window runs here.
      // 3. stateless gates: lists, robots, depth. The robots-blocked side
      // output (reference on_robots_blocked) is opt-in here: the blocked
      // complement re-executes the lazy gate prefix once more, writing
      // its rows as a parquet delta (never a driver collect — blocked
      // URLs are data-scale on a robots-heavy crawl), counted on the write
      val listsPass = listsGate(unseen.drop("url_lower").as[FrontierEntry])
      val robotsBlockedCount =
        if (config.trackBlocked && config.respectRobotsTxt)
          blocked.writeCounted(listsPass
            .filter(!enginefns.robots_can_fetch(col("host"), col("url"), robots, config.userAgent))
            .select(col("url"), lit("robots").as("reason"), lit(epoch).as("epoch")), "robots")
        else 0L
      (depthGate(robotsGate(listsPass), start.depthDistance).toDF(), robotsBlockedCount)
    }

    /** 4. B9 politeness FIRST: per-host token-bucket quota, highest
      * priority first (D5 top-k per host); non-admitted stay in the
      * frontier. (The reference sleeps AFTER gating; a distributed deferral
      * must re-gate, so politeness runs before the stateful budget to avoid
      * double-charging deferred candidates.) Returns the admitted and the
      * deferred candidates.
      */
    private def politeness(gated: DataFrame): (DataFrame, DataFrame) = {
      // per-host effective delay (all codegen'd, no UDF):
      //   static config delay
      //   ∨ robots Crawl-delay ∨ Request-rate (expression; B9 + missing #4)
      //   ∨ reactive override (429 Retry-After throttle ∨ auto-throttle
      //     EMA; reference rate_limiter.rs:121-153 + auto_throttle.rs)
      val delayCol =
        if (!config.respectRobotsTxt) lit(config.delayMs)
        else greatest(lit(config.delayMs), enginefns.robots_delay_ms(col("host"), robots, config.userAgent))
      // ONE broadcast row per host carrying ALL driver-ledger politeness
      // state (reactive delay override ∨ auto-throttle EMA delay, and the
      // banked token bucket) — a single join instead of two
      val state = (throttleOverrideMs.keySet ++ latencyEma.keySet ++ hostTokens.keySet).toSeq.map { h =>
        (h, Sequential.reactiveOverrideMs(config, throttleOverrideMs.getOrElse(h, 0L), latencyEma.get(h)),
          hostTokens.getOrElse(h, 1000L))
      }
      val tick = config.tickMs
      val withDelay = gated
        .join(broadcast(spark.createDataset(state).toDF("host", "override_ms", "tokens_milli")),
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
      // cache the ranked gate+politeness output: hostTokens, admitted,
      // and deferred all derive from it — without the cache the whole
      // gate DAG (bloom + seen joins + windows) recomputes 3-4x/epoch
      val rankedH = avail.withColumn("__hrn", row_number().over(hw))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      epochCaches ::= (() => rankedH.unpersist(false))
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
        .foreach(r => hostTokens(r.getString(0)) = r.getLong(1) - r.getLong(2) * 1000L))
      (adm.select(col("url"), col("host"), col("depth"), col("discovery_seq"),
        col("priority"), col("attempt"), col("not_before")), deferred)
    }

    /** 5. B7 budget admission in canonical order (deterministic — the
      * reference decrements counters sequentially; we replay that order
      * exactly; see SURVEY D6/B7). Returns the admitted candidates and the
      * leftovers a wildcard stop preserves.
      */
    private def budget(polAdmitted: DataFrame): (DataFrame, DataFrame) = {
      var budgetLeftover = noRows
      if (!config.wildCardBudgeting && ledger.pathBudget.isEmpty) return (polAdmitted, budgetLeftover)
      // chain phase: the sitemap DOCUMENTS are admitted budgetless
      // (`is_allowed_budgetless`, `website.rs:11716-11722`); their
      // entries consume budget normally
      val smExempt = ledger.chainStarted && ledger.chainSitemaps.nonEmpty
      val exemptCond =
        if (smExempt) lower(col("url")).isInCollection(ledger.chainSitemaps.toSeq) else lit(false)
      val budgeted = if (smExempt) polAdmitted.filter(!exemptCond) else polAdmitted
      val ranked = timed("grank_count")(
        withGlobalSeq(budgeted, canonicalOrder, "__grank", 0L).localCheckpoint(true))
      epochCaches ::= (() => CrawlEngine.releaseCheckpoint(ranked))
      var alive = ranked
      if (config.wildCardBudgeting) {
        // wildcard passes links while budget > 1, then EXCEEDS at ==1
        // (`abs_diff(0)==1` check `website.rs:2060-2070`) — exhaustion
        // stops the whole crawl (`website.rs:7904-7907`), leftovers
        // preserved as extra_links.
        val n = timed("budget")(ranked.count())
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
        // courtesy of withGlobalSeq's range partitioning) plus one
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
      (admitted, budgetLeftover)
    }

    /** Fetch: the admitted set persisted, fetched and parsed into a page
      * delta; the ride-along admit stats drained; the throttle fed.
      */
    private def fetch(admitted: DataFrame,
        candCount: Long): (Dataset[FrontierEntry], Dataset[ParsedPage], Long) = {
      // 6. mark admitted as seen (insert at admission, `insert_link`
      //    `website.rs:1718-1749`). The persisted admitted set doubles as
      //    the seen-delta backing store; the bloom/count/hot-host stats
      //    ride the fetch job's own scan (withAdmitStats) — no dedicated
      //    job at all.
      val admittedDs = admitted.as[FrontierEntry]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val admitAcc = spark.sparkContext.collectionAccumulator[CrawlEngine.AdmitStat]("graft.admitStats")
      // 7+9. fetch + parse — priority-queue emission (repartition by host,
      //    secondary sort desc priority/depth/seq/url, north rule D5) then
      //    one-pass span parse, PIPELINED in a single stage and
      //    materialized once. (Epoch 0 splits the stage because the C6
      //    scope re-anchor must read the seed fetch result before link
      //    extraction — `modify_selectors` `page.rs:4736-4747`.)
      // host-hash partitioning WITH salt (north rule D4): a hot host that
      // dominates the frontier would otherwise pin one task; the salt
      // width scales with the host's admitted share (see withAdmitStats) —
      // cold hosts keep a 16-way spread (affinity), hot hosts fan out
      // toward 4P.
      // Politeness quotas were already enforced upstream, so fetch order
      // within a salt shard is pure priority emission — unless
      // `roundRobin` (D5, reference `UrlFrontier::pop` frontier.rs:78-121):
      // then hosts interleave (every host's k-th URL precedes any host's
      // (k+1)-th within a shard).
      val (fetchReady, statsParts) = timed("fetch_plan") {
        val base =
          if (config.roundRobin) {
            val rrW = Window.partitionBy(col("host"))
              .orderBy(col("priority").desc, col("depth"), col("discovery_seq"), col("url"))
            admittedDs.withColumn("__rr", row_number().over(rrW))
          } else admittedDs.toDF().withColumn("__rr", lit(0))
        val saltWidth: org.apache.spark.sql.Column =
          if (hotHostWidths.isEmpty) lit(16L)
          else hotHostWidths.foldLeft(`when`(lit(false), lit(16L))) {
            case (acc, (h, w)) => acc.when(col("host") === lit(h), lit(w.toLong))
          }.otherwise(lit(16L))
        val (withStats, parts) = withAdmitStats(base, candCount, admitAcc)
        (withStats
          .repartition(math.max(1, P), col("host"), pmod(xxhash64(col("url")), saltWidth))
          .sortWithinPartitions(col("__rr"), col("priority").desc, col("depth"),
            col("discovery_seq"), col("url"))
          .drop("__rr")
          .as[FrontierEntry], parts)
      }
      // Pages SINK to parquet per epoch (A7, north rule: parsed documents
      // land in tables, never in executor memory): every downstream
      // consumer (retry filter, signature dedup, link explode, pages view)
      // is a COLUMN-PRUNED scan of the delta file.
      val ep = epoch
      val lrw = onLinkFind.orNull
      val parsedDir = timed("fetch_parse") {
        val fetched =
          if (epoch != 0L) fetcher.fetch(spark, fetchReady)
          else {
            val seedPages = fetcher.fetch(spark, fetchReady).localCheckpoint(true) // seeds: tiny
            epochCaches ::= (() => CrawlEngine.releaseCheckpoint(seedPages.toDF()))
            val ph = ledger.scope.parentHost
            // canonical-min winner — identical on the distributed path, the
            // fast path, and the oracle (partition order would not be)
            val redirHosts = seedPages
              .filter(f => f.f_status == 200 && UrlOps.host(f.f_final_url) != ph)
              .orderBy(col("depth"), col("discovery_seq"), col("host"), col("url"))
              .map(_.f_final_url).take(1)
            if (redirHosts.nonEmpty)
              ledger = ledger.copy(scope = ledger.scope.copy(redirectHost = UrlOps.host(redirHosts.head)))
            seedPages
          }
        val scope = ledger.scope
        pages.write(fetched.mapPartitions(it => it.map(f => CrawlEngine.parsePage(f, scope, ep, lrw)))
          .toDF(), s"epoch=$epoch")
      }
      val parsed: Dataset[ParsedPage] = timed("parsed_read")(
        spark.read.schema(CrawlEngine.parsedSchema).parquet(parsedDir).as[ParsedPage])
      // the fetch job has materialized — collect the ride-along stats
      // (delta count, bloom shards, next epoch's hot-host salt widths)
      val admittedCount =
        timed("admit_drain")(drainAdmitStats(admitAcc, statsParts, admittedDs, candCount))
      if (politenessPossible) timed("throttle")(throttle(parsed))
      (admittedDs, parsed, admittedCount)
    }

    // Fused admit statistics: the fetch exchange's OWN map-side scan feeds
    // a per-task (count, bloom shard, locally-hot hosts) accumulator entry
    // — no dedicated scan of the admitted set. Tasks may re-execute
    // (speculation, AQE): entries carry their partition id and the driver
    // keeps ONE per partition. Bloom sizing uses the candidate-count upper
    // bound so shards stay merge-compatible without a pre-count; keys are
    // UTF8String lowercase — bit-identical to the probe side's `lower()`.
    // D4 skew: a host holding share s of the epoch's admitted rows gets a
    // salt width ~4sP for the NEXT epoch (min 16 keeps cold-host affinity);
    // hosts are reported only when locally hot (>= 1/8 of the partition),
    // so the map stays tiny at any host cardinality. Also returns the
    // stage's partition count, against which drainAdmitStats DETECTS a
    // Fetcher that broke the full-consumption contract (Fetcher trait doc).
    private def withAdmitStats(df: DataFrame, expectedUpper: Long,
        acc: org.apache.spark.util.CollectionAccumulator[CrawlEngine.AdmitStat]): (DataFrame, Int) = {
      val size = math.max(1024L, expectedUpper)
      val urlIdx = df.schema.fieldIndex("url")
      val hostIdx = df.schema.fieldIndex("host")
      // same lazy toRdd the mapInternal below wraps — no extra planning
      val parts = GraftSqlBridge.internalRdd(df).getNumPartitions
      (GraftSqlBridge.mapInternal(df, df.schema) { (_, it) =>
        CrawlEngine.admitStats(it, size, urlIdx, hostIdx, acc)
      }, parts)
    }

    private def drainAdmitStats(acc: org.apache.spark.util.CollectionAccumulator[CrawlEngine.AdmitStat],
        statsParts: Int, admittedDs: Dataset[FrontierEntry], expectedUpper: Long): Long = {
      import scala.jdk.CollectionConverters._
      def uniq(a: org.apache.spark.util.CollectionAccumulator[CrawlEngine.AdmitStat]) = {
        val pids = new java.util.HashSet[Int]()
        a.value.asScala.filter(e => pids.add(e._1)).toVector
      }
      var uniqParts = uniq(acc)
      if (uniqParts.size < statsParts) {
        // Fetcher contract violation (the fetch never fully executed the
        // admitted scan — sampled, limited, or served from a detached
        // plan): the ride-along stats are incomplete, and a missing bloom
        // shard would silently re-admit already-seen URLs next epoch.
        // Self-heal with a dedicated scan of the PERSISTED admitted set
        // (one extra job, only on violating epochs) and use its
        // shards/counts exclusively.
        log.warn(s"epoch $epoch: admit stats incomplete (${uniqParts.size}/$statsParts partitions " +
          "reported) — the Fetcher did not fully consume the admitted set; rebuilding " +
          "bloom/count/salt stats with a dedicated scan")
        val rebuilt = spark.sparkContext.collectionAccumulator[CrawlEngine.AdmitStat]("graft.admitStats")
        GraftSqlBridge.internalRdd(withAdmitStats(admittedDs.toDF(), expectedUpper, rebuilt)._1).count()
        uniqParts = uniq(rebuilt)
      }
      seen.addBloom(uniqParts.iterator.map(_._3).filter(_ != null).toVector)
      val total = uniqParts.iterator.map(_._2).sum
      hotHostWidths = saltWidths(uniqParts.iterator.flatMap(_._4).toSeq.groupBy(_._1)
        .map { case (h, cs) => (h, cs.map(_._2).sum) }, total)
      total
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
      signals.filter(_.getLong(1) > 0).foreach { r =>
        throttleOverrideMs(r.getString(0)) = r.getLong(1)
        hostTokens(r.getString(0)) = 0L // bucket drained
      }
      if (config.autoThrottle) {
        val alpha = config.autoThrottleAlpha
        emaRows.filter(!_.isNullAt(2)).foreach { r =>
          val h = r.getString(0); val l = r.getDouble(2)
          latencyEma(h) = latencyEma.get(h).fold(l)(prev => prev + alpha * (l - prev))
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
    private def appendSeen(admittedDs: Dataset[FrontierEntry], admittedCount: Long,
        retryDf: DataFrame): Unit = {
      val newSeen = admittedDs.select(lower(col("url")).as("url_lower"), col("url"))
      val (delta, release) = (
        if (retry.maxAttempts > 0) {
          val seenDeltaCk = timed("seen_ckpt")(newSeen.join(
            retryDf.select(lower(col("url")).as("url_lower")), Seq("url_lower"), "left_anti")
            .localCheckpoint(true))
          seen.count += timed("seen_ckpt")(seenDeltaCk.count())
          // every consumer of the admitted cache (bloom, fetch, seen delta)
          // has materialized — release it NOW (leaving one cached plan per
          // epoch alive OOMs the driver on multi-hundred-epoch crawls)
          admittedDs.unpersist(false)
          (seenDeltaCk.rdd, () => CrawlEngine.releaseCheckpoint(seenDeltaCk))
        } else {
          // with retries disabled, nothing is ever removed from seen: a
          // lazy delta over the persisted admitted set — zero extra jobs
          seen.count += admittedCount
          (timed("seen_reroot")(newSeen.rdd), () => admittedDs.unpersist(false))
        }): (org.apache.spark.rdd.RDD[Row], () => Unit)
      seen.append(delta.map(r => (r.getString(0), r.getString(1))), Some(release))
    }

    /** 10. Which pages expand their links: vetoed pages never (B11); in the
      * chain phase only sitemap docs; else, with C5 signature dedup, only
      * the canonical-first page per NEW signature (`website.rs:8671-8683`,
      * in [[links]]) and every page without a signature.
      */
    private def expandingPages(parsed: Dataset[ParsedPage]): (DataFrame, Long) = {
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
          .select(col("__u")).as[String].collect()
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
          .select(explode(col("sitemap_links")).as("u")).as[String].collect()
        expanding = parsed.toDF().filter(isSm)
          .withColumn("links", concat(col("links"), col("sitemap_links")))
        ledger = ledger.copy(chainSitemaps = ledger.chainSitemaps ++ nested.map(UrlOps.lowerUtf8))
      }
      (expanding, vetoedCount)
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
    private def links(expanding: DataFrame): (Long, DataFrame, Boolean) = {
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
        (pageRows.filter(_.getLong(0) == 0L).union(winners.values), Some(delta))
      }
      val survivors = seen.probe(expandingRows.flatMap(CrawlEngine.linkRefs)
        .reduceByKey(partitioner, CrawlEngine.minLink _), keepPresent = false).values
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      epochCaches ::= (() => survivors.unpersist(false))
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
        } else (timed("links_seq")(rangeSeq(survivors, ledger.seqCounter)), false)
      ledger = ledger.copy(seqCounter = ledger.seqCounter + newLinkCount)
      (newLinkCount, newFrontier, held)
    }

    // discovery_seq for new links past the threshold: range-partitioned in
    // link order (the partitioner's sample job), each range counted over the
    // sorted ranges, persisted (one job), and the offsets stamped in place;
    // the frontier's checkpoint reads the ranges back
    private def rangeSeq(links: org.apache.spark.rdd.RDD[CrawlEngine.LinkRef], offset: Long): DataFrame = {
      val keyed = links.map(t => (t, ()))
      val ord = Sequential.linkOrder
      val sorted = new org.apache.spark.rdd.ShuffledRDD[CrawlEngine.LinkRef, Unit, Unit](keyed,
          new org.apache.spark.RangePartitioner(math.max(1, math.min(P, 200)), keyed)(ord,
            implicitly[scala.reflect.ClassTag[CrawlEngine.LinkRef]]))
        .setKeyOrdering(ord).keys
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      epochCaches ::= (() => sorted.unpersist(false))
      val offsets = CrawlEngine.offsets(sorted, offset)
      GraftSqlBridge.internalCreateDataFrame(spark,
        sorted.mapPartitionsWithIndex { (i, it) =>
          var k = offsets(i) - 1
          it.map { case (pd, _, _, u) => k += 1; CrawlEngine.frontierRow(u, pd + 1, k) }
        }, Checkpointer.schemas("frontier"))
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
    private def roll(carried: DataFrame, newFrontier: DataFrame, newFrontierHeld: Boolean,
        newLinkCount: Long): Long = {
      val prev = frontier
      frontier =
        if (carryover)
          timed("frontier_ckpt")(CrawlEngine.dedupCanonicalMin(carried.unionByName(newFrontier))
            .localCheckpoint(true))
        else if (newFrontierHeld) newFrontier
        else timed("frontier_ckpt")(newFrontier.localCheckpoint(true))
      // the frontier has materialized: nothing reads this epoch's caches
      CrawlEngine.releaseCheckpoint(prev)
      epochCaches.foreach(_())
      epochCaches = Nil
      readyHist = if (carryover) histOf(frontier) else Map(0L -> newLinkCount)
      readyHist.values.sum
    }

    /** The call's result. The seen table reads the store's chain lazily,
      * so the chain stays; the caches no result table reads are released.
      */
    def result(): CrawlResult = {
      sigs.release(all = true)
      seen.release(all = false)
      val all = pages.pages
      val finalPages = // the sitemap XML itself is parsed, never emitted as a page
        if (ledger.chainSitemaps.isEmpty) all
        else all.filter(!lower(col("url")).isInCollection(ledger.chainSitemaps.toSeq))
      CrawlResult(finalPages, seen.rows, frontierDf, metrics.toSeq, epoch, blocked.table)
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

  /** Capacity of every driver-side per-host ledger (token buckets, 429
    * overrides, latency EMAs) AND the cap on each ledger's per-epoch
    * feeding collect: rows beyond it (ranked by per-epoch traffic) would
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

  /** Static ParsedPage schema — handed to every delta read so no per-epoch
    * footer-inference job runs.
    */
  val parsedSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ParsedPage].schema

  /** A driver-held table: its plan is a LocalRelation, which a snapshot
    * commit writes on the driver with no Spark job.
    */
  private[engine] def localFrame(spark: SparkSession, rows: Iterable[Row],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Each partition's first sequence number, counting from `start` (one
    * job).
    */
  private[engine] def offsets(rdd: org.apache.spark.rdd.RDD[_], start: Long): Array[Long] =
    rdd.mapPartitions(it => Iterator.single(it.size.toLong)).collect().scanLeft(start)(_ + _)

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

  /** The fetch scan's ride-along admit stats over InternalRows: rows pass
    * through, and an exhausted partition adds its [[AdmitStat]] to `acc`.
    */
  private[engine] def admitStats(it: Iterator[InternalRow], bloomSize: Long, urlIdx: Int, hostIdx: Int,
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
        bloom.putBinary(r.getUTF8String(urlIdx).toLowerCase.getBytes)
        hostCounts.merge(r.getUTF8String(hostIdx).toString, 1L, (x, y) => x + y)
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
