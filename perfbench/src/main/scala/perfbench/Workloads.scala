package perfbench

import graft.corpus.CorpusParams
import graft.engine._
import graft.model.{CrawlConfig, EpochMetrics}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer

/** One crawl workload: corpus, config, seeds, and whether the leg is
  * stopped part-way and resumed from its checkpoint.
  */
final case class CrawlSpec(
    name: String,
    params: CorpusParams,
    config: CrawlConfig,
    robots: Boolean,
    resumeLeg: Boolean) {
  val seeds: Seq[String] = (0 until params.hosts).map(i => s"${params.scheme}://www.site$i.com/")
  def robotsProvider: RobotsProvider = if (robots) new CorpusRobots(params) else NoRobots
  def expectedUrls: Long = math.max(10000L, params.totalPages * 2)
}

object Workloads {
  /** The workloads `run.py` accepts. `skew_crawl` runs by hand; it is not
    * in BENCHMARK.json (see README.md, "Time budget").
    */
  val all: Seq[String] = Seq("wide_crawl", "skew_crawl", "polite_crawl", "query_suite")

  /** Pages per host of `wide_crawl`; `skew_crawl` has the same total. */
  val WidePagesPerHost = 400

  def crawlSpec(name: String, seed: Long, scale: Double = 1.0): CrawlSpec = {
    def sc(n: Int): Int = math.max(2, math.round(n * scale).toInt)
    val wideConfig = CrawlConfig(maxEpochs = 30, normalize = true, externalDomains = Set("*"))
    name match {
      case "wide_crawl" =>
        CrawlSpec(name, CorpusParams(seed = seed, hosts = 16, pagesPerHost = sc(WidePagesPerHost),
          fanout = 48, textWords = 150), wideConfig, robots = false, resumeLeg = false)
      case "skew_crawl" =>
        CrawlSpec(name, CorpusParams(seed = seed, hosts = 33, pagesPerHost = sc(WidePagesPerHost / 4),
          fanout = 48, hotHostFactor = 32, textWords = 150), wideConfig, robots = false, resumeLeg = false)
      case "polite_crawl" =>
        // hosts 2 and 7 carry robots Crawl-delay 2 (half a page per epoch),
        // which sets the epoch count; the others are capped at 2 per epoch
        CrawlSpec(name,
          CorpusParams(seed = seed, hosts = PoliteHosts, pagesPerHost = sc(PolitePagesPerHost), fanout = 4,
            dupContentEvery = 9, redirectEvery = 11, errorEvery = 13, textWords = 40),
          CrawlConfig(respectRobotsTxt = true, externalDomains = Set("*"), normalize = true,
            maxPerHostPerEpoch = 2, budget = Map("docs" -> sc(PoliteDocsBudget)),
            checkpointEvery = PoliteCheckpointEvery, maxEpochs = PoliteEpochs),
          robots = true, resumeLeg = true)
    }
  }

  val PoliteHosts = 10
  val PolitePagesPerHost = 8
  val PoliteDocsBudget = 16
  val PoliteCheckpointEvery = 10
  /** Every seed fetches its 76 pages in 12 epochs; about a quarter of the
    * seeds then run a 13th epoch that fetches nothing. The cap gives every
    * seed the same epoch count.
    */
  val PoliteEpochs = 12

  /** Epochs the first call of a resumed leg runs: it stops right after the
    * last commit that leaves at least one epoch to the resumed call, so
    * the resume replays no lost work and its length is fixed by the
    * corpus shape.
    */
  def stopAfter(spec: CrawlSpec, oracleEpochs: Long): Int =
    if (!spec.resumeLeg) 0 else {
      val every = spec.config.checkpointEvery
      val lastCommit = ((oracleEpochs - 2) / every) * every
      (lastCommit + 1).toInt
    }

  /** Timed legs (suite passes) per window, at least. A wide leg takes a few
    * seconds: three of them, and the median outvotes the first, cold one.
    * A polite leg is longer than the window, but its step figures each rest
    * on one or two short epochs of the leg: three legs too. A suite pass is
    * about the window: one.
    */
  def minLegs(name: String): Int = if (name == "query_suite") 1 else 3
  /** Only the polite leg gets an untimed burn-in leg first: its commit,
    * restore and resumed-epoch paths are not warmed by the set-up crawl.
    */
  def burnIn(name: String): Boolean = name == "polite_crawl"
}

/** What one timed crawl leg measured, plus the results the check reads. */
final case class CrawlLeg(
    wallS: Double,
    cpuS: Double,
    fetched: Long,
    /** (epoch wall ms, pages fetched in it) for every epoch callback */
    epochs: Seq[(Double, Long)],
    /** resumed call → its first epoch callback (0 without a resume) */
    firstAfterResumeS: Double,
    result: CrawlResult,
    firstPart: Option[CrawlResult],
    stopEpochs: Int,
    metrics: Seq[EpochMetrics],
    startMs: Double,
    endMs: Double,
    /** (epoch, start ms, end ms) windows between callbacks */
    windows: Seq[(Long, Double, Double)],
    checkpointer: Option[Checkpointer])

object Cpu {
  private val bean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processS(): Double = bean.getProcessCpuTime / 1e9
}

/** Runs crawl legs of one spec; `tracer` wraps the seams when present. */
final class CrawlRunner(spark: SparkSession, spec: CrawlSpec, workDir: java.nio.file.Path,
    tracer: Option[Tracer]) {

  private var legNo = 0

  /** `stopAfter` > 0 stops the first call after that many epochs and
    * resumes from the checkpoint (polite_crawl).
    */
  def leg(stopAfter: Int = 0, legSpan: Long = 0L): CrawlLeg = {
    legNo += 1
    val fetcher0: Fetcher = new GenerativeFetcher(spec.params)
    val fetcher = if (tracer.isDefined) new TracedFetcher(fetcher0) else fetcher0
    val robots = if (tracer.isDefined) new TracedRobots(spec.robotsProvider) else spec.robotsProvider
    val windows = ArrayBuffer.empty[(Long, Double, Double)]
    var last = 0.0
    val hook: Long => Unit = { e =>
      val now = Clock.ms()
      windows += ((e, last, now))
      last = now
    }
    val ckDir = workDir.resolve(s"ckpt-$legNo")
    val t0 = Clock.ms()
    val cpu0 = Cpu.processS()
    last = t0
    var firstPart: Option[CrawlResult] = None
    var resumeS = 0.0
    var nFirst = 0
    val ck: Option[Checkpointer] =
      if (spec.config.checkpointEvery > 0) Some(tracer match {
        case Some(tr) =>
          val t = new TimedCheckpointer(spark, ckDir.toString, spec.config.checkpointEvery, tr.spans)
          t.parent = legSpan
          t
        case None => new Checkpointer(spark, ckDir.toString, spec.config.checkpointEvery)
      }) else None
    def engine(cfg: CrawlConfig) = new CrawlEngine(spark, cfg, fetcher, robots, spec.expectedUrls,
      checkpoint = ck, onEpoch = Some(hook))
    val result =
      if (stopAfter > 0) {
        val part = engine(spec.config.copy(maxEpochs = stopAfter)).crawl(spec.seeds)
        firstPart = Some(part)
        val r0 = Clock.ms()
        last = r0
        nFirst = windows.size
        val r = engine(spec.config).crawl(spec.seeds, resumeFrom = ck)
        if (windows.size > nFirst) resumeS = (windows(nFirst)._3 - r0) / 1000.0
        r
      } else engine(spec.config).crawl(spec.seeds)
    val cpu1 = Cpu.processS()
    val t1 = Clock.ms()
    val metrics = firstPart.map(_.metrics).getOrElse(Nil) ++ result.metrics
    val fetched = metrics.map(_.fetched).sum
    // callbacks of the two calls map onto their own call's metrics
    val firstMetrics = firstPart.map(_.metrics.map(m => m.epoch -> m.fetched).toMap).getOrElse(Map.empty)
    val secondMetrics = result.metrics.map(m => m.epoch -> m.fetched).toMap
    val epochSamples = windows.zipWithIndex.map { case ((e, a, b), i) =>
      val m = if (i < nFirst) firstMetrics else secondMetrics
      (b - a, m.getOrElse(e, 0L))
    }.toSeq
    CrawlLeg((t1 - t0) / 1000.0, cpu1 - cpu0, fetched, epochSamples, resumeS, result, firstPart,
      stopAfter, metrics, t0, t1, windows.toSeq, ck)
  }
}
