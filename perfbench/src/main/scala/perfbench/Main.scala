package perfbench

import graft.corpus.CorpusGen
import graft.engine.{CrawlEngine, FetchResult, ScopeState}
import graft.url.UrlOps
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Entry point of one benchmark run (see perfbench/README.md).
  *
  * `--workload W --seed N --seconds S --trace 0|1 --out DIR --cache DIR --data DIR`
  *
  * Writes `DIR/jvm.json` with the op counts, failures, end-to-end metrics
  * and (traced runs) per-layer metrics; `run.py` adds the DuckDB check of
  * `query_suite` and prints the final line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: Path, cache: Path, data: String)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("out")).toAbsolutePath, Paths.get(m("cache")).toAbsolutePath, m("data"))
    require(Workloads.all.contains(a.workload), s"unknown workload ${a.workload}")
    val bench = new Bench(a)
    val code =
      try { bench.run(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally bench.stopSession()
    sys.exit(code)
  }
}

final class Bench(a: Main.Args) {
  import Bench._

  private var spark: SparkSession = _
  private var attempted = 0
  /** Failed ops by id (a crawl leg, or a query); each op counts once. */
  private val failedOps = mutable.LinkedHashSet.empty[String]
  private val failures = ArrayBuffer.empty[String]
  private val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val spans = new Spans(s"${a.workload}-s${a.seed}-${System.currentTimeMillis()}")
  private val workDir = a.out.resolve("work")
  /** (span id, start, end) of every traced epoch, to parent job spans. */
  private val epochSpans = ArrayBuffer.empty[(Long, Double, Double)]
  /** Time spent loading or computing the oracle reference (check work). */
  private var oracleMs = 0.0
  /** URLs of the first traced leg, for the kernel timings. */
  private var kernelUrls = Array.empty[String]

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def run(): Unit = {
    Files.createDirectories(workDir)
    spark = session(Cores)
    val t1 = Clock.ms()
    if (a.workload == "query_suite") QuerySuite.rep(spark, a.data, QuerySuite.names.take(WarmQueries))
    else {
      // a small crawl of the same shape, without snapshots (the burn-in
      // leg warms the commit and resume paths)
      val small = Workloads.crawlSpec(a.workload, a.seed, WarmScale)
      new CrawlRunner(spark, small.copy(config = small.config.copy(checkpointEvery = 0)), workDir, None).leg()
    }
    cleanup()
    log(f"set-up: session ${(t1 - jvmStartMs) / 1000}%.2f s from JVM start, warm-up ${(Clock.ms() - t1) / 1000}%.2f s")
    if (a.workload == "query_suite") runQueries() else runCrawl()
    if (a.trace) {
      layers("host.peak_rss_mb") = (vmHwmMb(), "MB")
      layers("trace.spans") = (spans.size.toDouble, "count")
    }
    writeResult()
  }

  private def jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Records `setup_s` right before the first timed call: JVM start to
    * now (session, warm-up, burn-in), less the oracle's share, which is
    * check work and is fast or slow with the state of the oracle cache.
    */
  private def setupDone(): Unit = {
    val s = (Clock.ms() - jvmStartMs - oracleMs) / 1000.0
    log(f"setup_s $s%.3f (oracle ${oracleMs / 1000}%.2f s left out)")
    endToEnd("setup_s") = (s, "s")
  }

  /** Releases everything a finished leg left cached or on disk. */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(r => r.unpersist(blocking = true))
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft-pages-") || n.startsWith("graft-blocked-")
      }.toSeq.foreach(Files2.deleteTree)
    } finally s.close()
    Files2.deleteTree(workDir)
    Files.createDirectories(workDir)
  }

  private def fail(op: String, what: String): Unit = {
    failedOps += op
    failures += s"$op: $what"
    log(s"FAILED $op: $what")
  }

  // ------------------------------------------------------------------
  // crawl workloads
  // ------------------------------------------------------------------

  private def runCrawl(): Unit = {
    val spec = Workloads.crawlSpec(a.workload, a.seed)
    val t0 = Clock.ms()
    val ref = Checks.oracle(spec, a.seed, a.cache, keepSets = spec.resumeLeg)
    oracleMs = Clock.ms() - t0
    log(f"oracle: ${ref.pages.n} pages, ${ref.epochs} epochs (${oracleMs / 1000}%.1f s)")
    val stop = Workloads.stopAfter(spec, ref.epochs)
    if (Workloads.burnIn(a.workload)) {
      // one full, untimed leg so the JIT has compiled what the timed leg runs
      new CrawlRunner(spark, spec, workDir, None).leg(stop)
      cleanup()
    }
    System.gc()
    setupDone()
    val legs = crawlWindow(spec, ref, stop)
    // every figure is taken per leg, then the median over the legs
    endToEnd("items_per_s") = (Stats.median(legs.map(l => l.fetched / l.wallS)), "1/s")
    endToEnd("cpu_ms_per_item") = (Stats.median(legs.map(l => l.cpuS * 1000 / l.fetched)), "ms")
    endToEnd("step_ms_p50") = (Stats.median(legs.map(l => Stats.weightedQuantile(l.epochs, 0.5))), "ms")
    endToEnd("step_ms_p90") = (Stats.median(legs.map(l => Stats.weightedQuantile(l.epochs, 0.9))), "ms")
    log(f"${legs.size} legs; pages/leg ${legs.map(_.fetched).mkString(",")}; " +
      f"rates ${legs.map(l => f"${l.fetched / l.wallS}%.0f").mkString(",")}")
    // without a burn-in the first leg ran cold: leave it out of the base
    // of engine.scaling_1to4
    val warmLegs = if (Workloads.burnIn(a.workload)) legs else legs.drop(1)
    val rate = Stats.median(warmLegs.map(l => l.fetched / l.wallS))
    if (a.trace) {
      val tracer = new Tracer(spark, spans)
      val plain = new CrawlRunner(spark, spec, workDir, None)
      val traced = new CrawlRunner(spark, spec, workDir, Some(tracer))
      val pairs = tracePairs { t =>
        if (t) checkedLeg(traced, ref, stop, Some(tracer)) else checkedLeg(plain, ref, stop, None)
      }
      val tlegs = pairs.flatMap(_._2)
      require(tlegs.nonEmpty, "no traced crawl leg completed")
      crawlLayers(spec, tlegs, tracer)
      overhead(pairs.collect { case (Some(u), Some(t)) => t.wallS / t.fetched / (u.wallS / u.fetched) - 1 })
      kernels(spec, kernelUrls)
      if (a.workload == "wide_crawl") {
        stopSession()
        spark = session(1)
        val one = new CrawlRunner(spark, spec, workDir, None).leg()
        checkLeg(one, ref)
        cleanup()
        layers("engine.scaling_1to4") = (rate / (4 * one.fetched / one.wallS), "ratio")
      }
    }
  }

  private def checkLeg(leg: CrawlLeg, ref: OracleRef): Unit = {
    attempted += 1
    val errs = try Checks.crawlLeg(leg, ref) catch { case e: Throwable => Seq(s"check threw $e") }
    errs.foreach(fail(s"leg$attempted", _))
  }

  /** Runs checked legs until their summed wall time reaches `--seconds`
    * (and at least `Workloads.minLegs` were attempted).
    */
  private def crawlWindow(spec: CrawlSpec, ref: OracleRef, stop: Int): Seq[CrawlLeg] = {
    val runner = new CrawlRunner(spark, spec, workDir, None)
    val legs = ArrayBuffer.empty[CrawlLeg]
    var measured = 0.0
    var tries = 0
    while (measured < a.seconds || tries < Workloads.minLegs(a.workload)) {
      tries += 1
      val t0 = Clock.ms()
      val leg = checkedLeg(runner, ref, stop, None)
      measured += leg.fold((Clock.ms() - t0) / 1000.0)(_.wallS)
      legs ++= leg
    }
    require(legs.nonEmpty, "no crawl leg completed")
    legs.toSeq
  }

  /** One checked leg, or None when the crawl threw (a failed op). A traced
    * leg runs with the tracer's listener attached and records its spans.
    */
  private def checkedLeg(runner: CrawlRunner, ref: OracleRef, stop: Int,
      tracer: Option[Tracer]): Option[CrawlLeg] = {
    val legId = spans.reserve()
    val out = try {
      val leg = tracer.fold(runner.leg(stop, legId))(_.traced(runner.leg(stop, legId)))
      log(f"leg${if (tracer.isDefined) " (traced)" else ""}: ${leg.fetched} pages in ${leg.wallS}%.2f s, " +
        f"cpu ${leg.cpuS}%.1f s, epochs " + leg.epochs.map { case (ms, n) => f"$n@${ms / 1000}%.2f" }.mkString(" "))
      if (tracer.isDefined) {
        if (kernelUrls.isEmpty)
          kernelUrls = leg.result.pages.select("url").limit(KernelUrls).collect().map(_.getString(0))
        spans.add("crawl.leg", leg.startMs, leg.endMs, 0L, legId)
        leg.windows.foreach { case (e, s, t) =>
          epochSpans += ((spans.add(s"engine.epoch.$e", s, t, legId), s, t))
        }
      }
      checkLeg(leg, ref)
      Some(leg)
    } catch { case e: Throwable =>
      attempted += 1
      fail(s"leg$attempted", s"crawl threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
    cleanup()
    out
  }

  /** Runs untraced and traced legs (suite passes) in pairs, AB, BA, AB, …,
    * so JIT warming and host drift fall on both sides alike; at least
    * `TracePairs` pairs, and more until the traced side took `--seconds`.
    * Returns (untraced, traced) per pair.
    */
  private def tracePairs[T](run: Boolean => Option[T]): Seq[(Option[T], Option[T])] = {
    val pairs = ArrayBuffer.empty[(Option[T], Option[T])]
    var tracedMs = 0.0
    while (pairs.size < TracePairs || tracedMs < a.seconds * 1000) {
      val tracedFirst = pairs.size % 2 == 1
      val t0 = Clock.ms()
      val first = run(tracedFirst)
      val t1 = Clock.ms()
      val second = run(!tracedFirst)
      tracedMs += (if (tracedFirst) t1 - t0 else Clock.ms() - t1)
      pairs += (if (tracedFirst) (second, first) else (first, second))
    }
    pairs.toSeq
  }

  /** `trace.overhead_share`: the median over pairs of traced ÷ untraced
    * time per item − 1.
    */
  private def overhead(paired: Seq[Double]): Unit = {
    log(f"tracing overhead per pair: ${paired.map(d => f"$d%+.3f").mkString(" ")}")
    if (paired.nonEmpty) layers("trace.overhead_share") = (Stats.median(paired), "ratio")
  }

  private def crawlLayers(spec: CrawlSpec, legs: Seq[CrawlLeg], tracer: Tracer): Unit = {
    val n = legs.size.toDouble
    val l = tracer.listener
    val perLeg = legs.map { leg =>
      val tasks = l.tasksIn(leg.startMs, leg.endMs)
      val jobs = l.jobsIn(leg.startMs, leg.endMs)
      // job spans, parented to the epoch window they started in
      jobs.foreach { j =>
        val parent = epochSpans.find { case (_, s, t) => j.startMs >= s - 1 && j.startMs <= t }
        spans.add("spark.job", j.startMs, j.endMs, parent.map(_._1).getOrElse(0L))
      }
      val gaps = leg.windows.map { case (_, s, t) =>
        val inside = jobs.filter(j => j.startMs >= s - 1 && j.startMs <= t)
          .map(j => (math.max(j.startMs.toDouble, s), math.min(j.endMs.toDouble, t)))
        (t - s - unionLength(inside), inside.isEmpty, inside.size)
      }
      (tasks, jobs, gaps)
    }
    val allTasks = perLeg.flatMap(_._1)
    val epochs = legs.map(_.windows.size).sum.toDouble
    val wallMs = legs.map(l => l.endMs - l.startMs).sum
    val fetched = legs.map(_.fetched).sum.toDouble
    val ms = legs.flatMap(_.metrics)
    layers("engine.epochs") = (epochs / n, "count")
    layers("engine.zero_job_epochs") = (perLeg.map(_._3.count(_._2)).sum / n, "count")
    layers("engine.jobs_per_epoch") = (perLeg.map(_._3.map(_._3).sum).sum / epochs, "count")
    layers("engine.tasks") = (allTasks.size / n, "count")
    layers("engine.task_run_s") = (allTasks.map(_.runMs).sum / 1000.0 / n, "s")
    layers("engine.task_cpu_s") = (allTasks.map(_.cpuNs).sum / 1e9 / n, "s")
    layers("engine.gc_s") = (allTasks.map(_.gcMs).sum / 1000.0 / n, "s")
    layers("engine.core_busy_share") = (allTasks.map(_.runMs).sum / (wallMs * Cores), "ratio")
    layers("engine.driver_gap_s") = (perLeg.map(_._3.map(_._1).sum).sum / 1000.0 / n, "s")
    layers("engine.admit_ratio") = (ms.map(_.admitted).sum.toDouble / math.max(1L, ms.map(_.candidates).sum), "ratio")
    layers("engine.new_link_ratio") = (ms.map(_.new_links).sum / math.max(1.0, fetched), "ratio")
    val shW = allTasks.map(_.shuffleWrite).sum.toDouble
    layers("exchange.shuffle_write_mb") = (shW / 1e6 / n, "MB")
    layers("exchange.shuffle_read_mb") = (allTasks.map(_.shuffleRead).sum / 1e6 / n, "MB")
    layers("exchange.spill_mb") = (allTasks.map(_.spill).sum / 1e6 / n, "MB")
    layers("exchange.shuffle_bytes_per_page") = (shW / math.max(1.0, fetched), "B")
    layers("exchange.task_skew") = (Stats.median(perLeg.map { case (tasks, _, _) =>
      val byStage = tasks.groupBy(_.stage)
      if (byStage.isEmpty) 1.0 else {
        val (_, st) = byStage.maxBy(_._2.map(_.durMs).sum)
        val d = st.map(_.durMs.toDouble)
        d.max / math.max(1.0, Stats.median(d))
      }
    }), "ratio")
    val fp = SeamCounters.fetchPages.sum().toDouble
    val fns = SeamCounters.fetchNs.sum().toDouble
    layers("fetch.pages") = (fp / n, "count")
    layers("fetch.task_s") = (fns / 1e9 / n, "s")
    layers("fetch.ns_per_page") = (fns / math.max(1.0, fp), "ns")
    val rc = SeamCounters.robotsCalls.sum().toDouble
    layers("robots.fetch_calls") = (rc / n, "count")
    layers("robots.calls_per_host") = (rc / n / math.max(1, SeamCounters.robotsHosts.size), "count")
    layers("robots.s") = (SeamCounters.robotsNs.sum() / 1e9 / n, "s")
    val cks = legs.flatMap(_.checkpointer.collect { case t: TimedCheckpointer => t })
    if (cks.nonEmpty) {
      val all = cks.flatMap(_.commitMs)
      layers("checkpoint.commits") = (all.size / n, "count")
      layers("checkpoint.commit_s") = (all.sum / 1000.0 / n, "s")
      layers("checkpoint.commit_ms_p50") = (Stats.median(all), "ms")
      layers("checkpoint.commit_growth") = (Stats.median(cks.map { c =>
        val k = math.max(1, c.commitMs.size / 10)
        Stats.mean(c.commitMs.takeRight(k).toSeq) / Stats.mean(c.commitMs.take(k).toSeq)
      }), "ratio")
      layers("checkpoint.mb_written") = (cks.map(_.bytesWritten).sum / 1e6 / n, "MB")
      layers("checkpoint.restore_s") = (cks.map(_.restoreMs).sum / 1000.0 / n, "s")
      layers("checkpoint.resume_s") = (legs.map(_.firstAfterResumeS).sum / n, "s")
    }
  }

  /** Single-thread generate/parse kernels on the workload's own URLs, and
    * raw-thread scaling of generate+parse from 1 to 4 threads.
    */
  private def kernels(spec: CrawlSpec, urls: Array[String]): Unit = {
    if (urls.isEmpty) return
    val p = spec.params
    val seed = UrlOps.parse(spec.seeds.head)
    val scope = ScopeState("", seed.host, seed.scheme, "",
      UrlOps.parseCrawlBase(spec.seeds.head).serialize,
      spec.config.externalDomains.map(UrlOps.lowerUtf8(_)), false)
    def fetched(u: String): FetchResult = {
      val d = CorpusGen.docFor(p, u)
      if (d == null) FetchResult(u, UrlOps.host(u), 0, 0L, 0, 0, 404, u, Array.empty)
      else FetchResult(u, UrlOps.host(u), 0, 0L, 0, 0, d.status, u, d.spans)
    }
    def genParse(): Long = {
      var links = 0L
      urls.foreach(u => links += CrawlEngine.parsePage(fetched(u), scope, 0L).links.length)
      links
    }
    def timeNs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t).toDouble }
    genParse()
    val genNs = Stats.median((1 to 3).map(_ => timeNs(urls.foreach(CorpusGen.docFor(p, _)))))
    val docs = urls.map(fetched)
    var links = 0L
    val parseNs = Stats.median((1 to 3).map(_ => timeNs {
      links = 0L
      docs.foreach(d => links += CrawlEngine.parsePage(d, scope, 0L).links.length)
    }))
    layers("corpus.gen_ns_per_page") = (genNs / urls.length, "ns")
    layers("parse.ns_per_page") = (parseNs / urls.length, "ns")
    layers("parse.links_per_page") = (links.toDouble / urls.length, "count")
    if (a.workload != "wide_crawl") return
    val one = Stats.median((1 to 3).map(_ => timeNs(genParse())))
    val four = Stats.median((1 to 3).map { _ =>
      val pool = (1 to 4).map(_ => new Thread(() => genParse()))
      timeNs { pool.foreach(_.start()); pool.foreach(_.join()) }
    })
    layers("host.raw_scaling_1to4") = (one / four, "ratio")
  }

  // ------------------------------------------------------------------
  // query suite
  // ------------------------------------------------------------------

  private def runQueries(): Unit = {
    setupDone()
    val reps = suiteWindow()
    val n = QuerySuite.names.size
    endToEnd("items_per_s") = (Stats.median(reps.map(r => n / r.totalS)), "1/s")
    endToEnd("cpu_ms_per_item") = (Stats.median(reps.map(_.cpuS * 1000 / n)), "ms")
    endToEnd("step_ms_p50") = (Stats.median(reps.map(r => Stats.quantile(r.times.map(_._2 * 1000), 0.5))), "ms")
    endToEnd("step_ms_p90") = (Stats.median(reps.map(r => Stats.quantile(r.times.map(_._2 * 1000), 0.9))), "ms")
    log(f"${reps.size} suite passes, totals ${reps.map(r => f"${r.totalS}%.2f").mkString(",")} s")
    log("query times: " + QuerySuite.names.map(q => f"$q=${Stats.median(reps.map(_.times.toMap.apply(q)))}%.2f").mkString(" "))
    checkReps(reps, "rep")
    if (a.trace) {
      val tracer = new Tracer(spark, spans)
      val pairs = tracePairs { t =>
        val r = if (t) tracer.traced(QuerySuite.rep(spark, a.data)) else QuerySuite.rep(spark, a.data)
        cleanup()
        Some(r)
      }
      val treps = pairs.flatMap(_._2)
      checkReps(pairs.flatMap(_._1), "plain")
      checkReps(treps, "traced")
      val n = treps.size.toDouble
      QuerySuite.names.foreach { q =>
        layers(s"query.${q}_s") = (Stats.median(treps.map(_.times.toMap.apply(q))), "s")
      }
      val tasks = treps.flatMap(r => tracer.listener.tasksIn(r.startMs, r.endMs))
      layers("queries.total_s") = (Stats.median(treps.map(_.totalS)), "s")
      layers("queries.task_cpu_s") = (tasks.map(_.cpuNs).sum / 1e9 / n, "s")
      layers("queries.shuffle_mb") = (tasks.map(_.shuffleWrite).sum / 1e6 / n, "MB")
      layers("queries.spill_mb") = (tasks.map(_.spill).sum / 1e6 / n, "MB")
      overhead(pairs.collect { case (Some(u), Some(t)) => t.totalS / u.totalS - 1 })
      treps.foreach { r =>
        val id = spans.add("queries.rep", r.startMs, r.endMs, 0L)
        r.windows.foreach { case (q, s, t) => spans.add(s"query.$q", s, t, id) }
      }
      tracer.listener.jobs.forEach(j => spans.add("spark.job", j.startMs, j.endMs, 0L))
    }
  }

  /** Counts each pass's queries as ops; the JVM fails a query that threw,
    * run.py fails one whose rows differ from DuckDB.
    */
  private def checkReps(reps: Seq[SuiteRep], tag: String): Unit =
    reps.zipWithIndex.foreach { case (r, i) =>
      QuerySuite.dumpForCheck(r, a.out.resolve("check").resolve(s"$tag$i"))
      QuerySuite.names.foreach { q =>
        attempted += 1
        r.errors.get(q).foreach(e => fail(s"$tag$i/$q", s"threw: $e"))
      }
    }

  private def suiteWindow(): Seq[SuiteRep] = {
    val reps = ArrayBuffer.empty[SuiteRep]
    var measured = 0.0
    while (measured < a.seconds || reps.size < Workloads.minLegs(a.workload)) {
      val r = QuerySuite.rep(spark, a.data)
      measured += r.totalS
      reps += r
      cleanup()
    }
    reps.toSeq
  }

  // ------------------------------------------------------------------

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def writeResult(): Unit = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${Json.str(k)}:${Json.metric(v, u)}" }.mkString("{", ",", "}")
    val json =
      s"""{"attempted":$attempted,"failed_ops":${failedOps.map(Json.str).mkString("[", ",", "]")},""" +
        s""""failures":${failures.take(50).map(Json.str).mkString("[", ",", "]")},""" +
        s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(layers)}}"""
    Files.writeString(a.out.resolve("jvm.json"), json)
    if (a.trace) spans.write(a.out.resolve("spans.jsonl"))
  }
}

object Bench {
  /** Task threads (`local[Cores]`) and shuffle partitions; the host has 4 cores. */
  val Cores = 4
  /** Untraced/traced pairs of a traced run, at least (a polite leg or a
    * suite pass takes 8-15 s).
    */
  val TracePairs = 2
  /** Size of the set-up warm-up crawl relative to the workload. */
  val WarmScale = 0.05
  /** Queries the set-up warm-up of `query_suite` runs. */
  val WarmQueries = 3
  /** URLs sampled from the workload for the kernel timings. */
  val KernelUrls = 4000
}
