package graft.engine

import graft.corpus.CorpusParams
import graft.model.CrawlConfig
import graft.oracle.OracleCrawler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Checkpoint/resume: snapshots commit atomically with lineage + metrics;
  * a crawl killed after epoch k and resumed from the snapshot produces the
  * same final tables as an uninterrupted run (FIXTURES §5 `resume`).
  */
class ResumeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("snapshots commit atomically with manifest lineage + metrics") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_ckpt").toString
    val params = CorpusParams(hosts = 2, pagesPerHost = 30)
    val ck = new Checkpointer(spark, dir, every = 1)
    val engine = new CrawlEngine(spark, CrawlConfig(maxEpochs = 20),
      new GenerativeFetcher(params), new CorpusRobots(params),
      expectedUrls = 10000, checkpoint = Some(ck))
    val res = engine.crawl(Seq("https://www.site0.com/"))
    val last = ck.latestEpoch()
    assert(last >= 0 && last == res.epochs - 1)
    val manifest = ck.readManifest(last)
    assert(manifest.contains("\"lineage\"") && manifest.contains("\"metrics\""))
    assert(manifest.contains("\"seq_counter\""))
    // committed tables equal the in-memory result
    val snapPages = ck.readTable(last, "pages").count()
    assert(snapPages == res.pages.count())
    val snapSeen = ck.readTable(last, "seen").count()
    assert(snapSeen == res.seen.count())
  }

  test("resume from epoch-k snapshot reproduces the uninterrupted crawl") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val cfg = CrawlConfig(maxEpochs = 20)
    // uninterrupted run
    val full = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000)
      .crawl(Seq("https://www.site0.com/"))
    // interrupted run: checkpoint every epoch, stop after 2 epochs
    val dir = Files.createTempDirectory("graft_ckpt2").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    new CrawlEngine(spark, cfg.copy(maxEpochs = 2), new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000, checkpoint = Some(ck))
      .crawl(Seq("https://www.site0.com/"))
    assert(ck.latestEpoch() == 1)
    // resume and finish
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"), expectedUrls = 10000)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature")
        .collect().map(_.toSeq).toSet
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    val fullSeen = full.seen.select("url_lower").collect().map(_.getString(0)).toSet
    val resSeen = resumed.seen.select("url_lower").collect().map(_.getString(0)).toSet
    assert(fullSeen == resSeen)
  }

  test("kill DURING the sitemap chain resumes mid-chain (chain lineage in the manifest)") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5)
    val cfg = CrawlConfig(maxEpochs = 60)
    def eng(c: CrawlConfig, ck: Option[Checkpointer] = None) =
      new CrawlEngine(spark, c, new GenerativeFetcher(params), new CorpusRobots(params),
        expectedUrls = 10000, checkpoint = ck)
    // main-phase length = epochs of the SAME crawl without the chain
    val mainEpochs = eng(cfg).crawl(Seq("https://www.site0.com/")).epochs
    val full = eng(cfg).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    assert(full.epochs > mainEpochs + 1, "chain phase too short to interrupt")
    // interrupt two epochs INTO the chain phase
    val dir = Files.createTempDirectory("graft_ckpt4").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    eng(cfg.copy(maxEpochs = mainEpochs.toInt + 2), Some(ck))
      .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    val manifest = ck.readManifest(ck.latestEpoch())
    assert(manifest.contains("\"chain_started\":true"),
      "interrupted run never entered the chain phase")
    assert(manifest.contains("sitemap"), "chain sitemap set missing from manifest")
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"),
      expectedUrls = 10000, sitemapChain = true)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature")
        .collect().map(_.toSeq).toSet
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    val fullSeen = full.seen.select("url_lower").collect().map(_.getString(0)).toSet
    val resSeen = resumed.seen.select("url_lower").collect().map(_.getString(0)).toSet
    assert(fullSeen == resSeen)
  }

  test("kill BEFORE the chain keeps rel=sitemap discoveries (discovered_sitemaps lineage)") {
    spark.sparkContext.setLogLevel("ERROR")
    // sitemap at an UNCONFIGURED path, advertised only by the root page's
    // rel=sitemap span: killing after discovery but before the chain must
    // preserve the discovery in the manifest, or the resumed chain walks
    // only the (404ing) default /sitemap.xml and loses the orphan pages
    val params = CorpusParams(hosts = 2, pagesPerHost = 90, fanout = 2, orphanEvery = 5,
      sitemapPath = "/wp-sitemap.xml", advertiseSitemap = true)
    val cfg = CrawlConfig(maxEpochs = 60)
    def eng(c: CrawlConfig, ck: Option[Checkpointer] = None) =
      new CrawlEngine(spark, c, new GenerativeFetcher(params), new CorpusRobots(params),
        expectedUrls = 10000, checkpoint = ck)
    val full = eng(cfg).crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    assert(full.pages.collect().exists(_.getString(0).endsWith(graft.corpus.CorpusGen.pagePath(12L))),
      "orphan page unreached even uninterrupted — corpus shape broken")
    // interrupt two epochs in: root page (epoch 0) already advertised the
    // sitemap, the chain has NOT started yet
    val dir = Files.createTempDirectory("graft_ckpt5").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    eng(cfg.copy(maxEpochs = 2), Some(ck))
      .crawl(Seq("https://www.site0.com/"), sitemapChain = true)
    val manifest = ck.readManifest(ck.latestEpoch())
    assert(!manifest.contains("\"chain_started\":true"), "chain started too early to test")
    assert(Checkpointer.discoveredSitemaps(manifest).exists(_.endsWith("/wp-sitemap.xml")),
      "rel=sitemap discovery missing from the manifest")
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"),
      expectedUrls = 10000, sitemapChain = true)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature")
        .collect().map(_.toSeq).toSet
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
  }

  test("resume ACROSS a compaction boundary of the co-partitioned stores") {
    spark.sparkContext.setLogLevel("ERROR")
    // compaction every 2 epochs + politeness pacing (~8+ epochs): the
    // interrupted run snapshots AFTER a seen/signature fold, so resume
    // restores compacted stores and then compacts again before finishing
    val params = CorpusParams(hosts = 2, pagesPerHost = 25, dupContentEvery = 3)
    val cfg = CrawlConfig(delayMs = 300, tickMs = 1000, maxEpochs = 60,
      stateCompactionEpochs = 2)
    val full = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000)
      .crawl(Seq("https://www.site0.com/"))
    val dir = Files.createTempDirectory("graft_ckpt3").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    new CrawlEngine(spark, cfg.copy(maxEpochs = 5), new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 10000, checkpoint = Some(ck))
      .crawl(Seq("https://www.site0.com/"))
    assert(ck.latestEpoch() >= 2, "interrupted run must span a compaction")
    val resumed = CrawlEngine.resume(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), ck, Seq("https://www.site0.com/"), expectedUrls = 10000)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature")
        .collect().map(_.toSeq).toSet
    assert(key(resumed.pages) == key(full.pages),
      s"resumed=${resumed.pages.count()} full=${full.pages.count()}")
    val fullSeen = full.seen.select("url_lower").collect().map(_.getString(0)).toSet
    val resSeen = resumed.seen.select("url_lower").collect().map(_.getString(0)).toSet
    assert(fullSeen == resSeen)
  }

  test("a distributed snapshot resumes under a different partition count") {
    spark.sparkContext.setLogLevel("ERROR")
    // the stores follow the session's partition count: a snapshot taken at
    // one count restores into stores on another (both ways), with
    // signature dedup and a frontier still left at maxEpochs
    val params = CorpusParams(hosts = 3, pagesPerHost = 300, fanout = 3, dupContentEvery = 4)
    val cfg = CrawlConfig(maxEpochs = 6, smallEpochThreshold = 0)
    val seeds = Seq("https://www.site0.com/", "https://www.site1.com/")
    def engine(ck: Option[Checkpointer], maxEpochs: Int = cfg.maxEpochs) =
      new CrawlEngine(spark, cfg.copy(maxEpochs = maxEpochs), new GenerativeFetcher(params),
        new CorpusRobots(params), expectedUrls = 10000, checkpoint = ck)
    def pagesOf(df: DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature").collect().map(_.toSeq).toSet
    def seenOf(df: DataFrame) = df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    def frontierOf(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val full = engine(None).crawl(seeds)
    assert(full.frontierRemainder.count() > 0,
      s"the uninterrupted crawl left no frontier: ${full.metrics.map(_.frontier_size)}")
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    for ((at, resumeAt) <- Seq(("8", "4"), ("4", "8"))) {
      val dir = Files.createTempDirectory("graft_ckpt_parts").toString
      val ck = new Checkpointer(spark, dir, every = 1)
      val resumed =
        try {
          spark.conf.set(key, at)
          val p0 = CrawlEngine.partitions(spark)
          engine(Some(ck), maxEpochs = 3).crawl(seeds)
          spark.conf.set(key, resumeAt)
          assert(CrawlEngine.partitions(spark) != p0, s"$at -> $resumeAt keeps the partition count")
          engine(None).crawl(seeds, resumeFrom = Some(ck))
        } finally spark.conf.set(key, prev)
      assert(ck.latestEpoch() == 2)
      assert(pagesOf(resumed.pages) == pagesOf(full.pages), s"$at -> $resumeAt: pages")
      assert(seenOf(resumed.seen) == seenOf(full.seen), s"$at -> $resumeAt: seen")
      assert(frontierOf(resumed.frontierRemainder) == frontierOf(full.frontierRemainder),
        s"$at -> $resumeAt: frontier")
    }
  }

  test("manifest chain_sitemaps survives URLs with commas, brackets and quotes") {
    // URLs may legally contain ',' and ']' (and the writer escapes quotes);
    // the parser must walk JSON quoted strings, never split on ','
    val gnarly = Seq(
      "https://site.com/sitemaps/products,2024.xml",
      "https://site.com/s[1].xml",
      "https://site.com/a\"b.xml",
      "https://site.com/plain.xml")
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val manifest = s"""{"epoch":3,"chain_started":true,"chain_sitemaps":[${gnarly.map(q).mkString(",")}],"x":1}"""
    val (started, sms) = Checkpointer.chainState(manifest)
    assert(started)
    assert(sms == gnarly, s"parsed $sms")
    val (off, none) = Checkpointer.chainState("""{"epoch":1,"chain_started":false,"chain_sitemaps":[]}""")
    assert(!off && none.isEmpty)
  }

  test("manifest path_budget round-trips keys with ':', ',', '}', quotes and backslashes") {
    spark.sparkContext.setLogLevel("ERROR")
    // budget keys are accumulated path segments: any character may occur
    val budget = Map("wikiSpecial:Random" -> 3L, "a,b" -> 1L, "x}y" -> 0L,
      "q\"uote" -> 7L, "back\\slash" -> 2L, "docs" -> 16L)
    val ck = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt6").toString, every = 1)
    val one = spark.range(1).toDF()
    ck.commit(0, one, one, one, one, one, 5L, 9L, budget,
      ScopeState("", "h", "https", "", "https://h/", Set.empty, fullResources = false), Nil)
    val m = ck.readManifest(0)
    assert(Checkpointer.pathBudget(m) == budget, s"parsed ${Checkpointer.pathBudget(m)}")
    assert(Checkpointer.lineageRows(m) ==
      Seq("frontier", "seen", "signatures", "host_tokens", "pages").map(_ -> 1L).toMap)
    assert(Checkpointer.pathBudget("""{"epoch":1,"path_budget":{}}""").isEmpty)
  }

  test("checkpointed small-path crawl runs no Spark job on non-commit epochs") {
    spark.sparkContext.setLogLevel("ERROR")
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    // every 2nd epoch commits: the crawl holds several commits with quiet
    // epochs between them
    val ck = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt7").toString, every = 2)
    val jobs = new EpochJobs(spark)
    jobs.window("0")
    val res = new CrawlEngine(spark, CrawlConfig(maxEpochs = 20, checkpointEvery = 2),
      new GenerativeFetcher(params), new CorpusRobots(params), expectedUrls = 10000,
      checkpoint = Some(ck), onEpoch = Some(jobs.hook))
      .crawl(Seq("https://www.site0.com/"))
    val perEpoch = jobs.counts()
    val quiet = res.metrics.filter(m => m.epoch % 2 != 0)
    assert(quiet.exists(_.fetched > 0), "no non-commit epoch fetched a page")
    // commit epochs too: the snapshot tables are driver-held, so the commit
    // writes them on the driver
    assert(res.metrics.count(m => m.epoch % 2 == 0 && m.fetched > 0) >= 2,
      "fewer than two commit epochs fetched pages")
    res.metrics.foreach { m =>
      val ran = perEpoch.getOrElse(m.epoch.toString, Nil)
      assert(ran.isEmpty, s"epoch ${m.epoch} (fetched ${m.fetched}) ran Spark jobs: $ran")
    }
    assert(ck.latestEpoch() >= 2 && ck.latestEpoch() % 2 == 0)
    // nor does the rest of the call: the pages buffered since the last
    // commit are served as a driver-held table, not flushed by a write
    val end = perEpoch.getOrElse(res.epochs.toString, Nil)
    assert(end.isEmpty, s"the call ran Spark jobs after its last epoch: $end")
    val got = res.pages.select("url", "depth", "discovery_seq", "status", "signature").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(got.length > ck.readTable(ck.latestEpoch(), "pages").count(),
      "no page was buffered after the last commit")
    val oracle = OracleCrawler.crawl(params, CrawlConfig(maxEpochs = 20, checkpointEvery = 2),
      new CorpusRobots(params), Seq("https://www.site0.com/"))
    assert(got.length == oracle.pages.size)
    assert(got.toSet == oracle.pages.map(p => (p.url, p.depth, p.seq, p.status, p.signature)).toSet)
  }

  test("resume parity on the polite_crawl shape: small-path, distributed and mirrorless restores") {
    spark.sparkContext.setLogLevel("ERROR")
    // robots with Crawl-delay, a per-host cap and a path budget over a
    // corpus with duplicate content, redirects and errors
    val params = CorpusParams(seed = 7L, hosts = 10, pagesPerHost = 8, fanout = 4,
      dupContentEvery = 9, redirectEvery = 11, errorEvery = 13, textWords = 40)
    val seeds = (0 until params.hosts).map(i => s"https://www.site$i.com/")
    val every = 3
    val base = CrawlConfig(respectRobotsTxt = true, externalDomains = Set("*"), normalize = true,
      maxPerHostPerEpoch = 2, budget = Map("docs" -> 16), checkpointEvery = every, maxEpochs = 30)
    val robots = new CorpusRobots(params)
    def keys(df: DataFrame) =
      df.select("url", "depth", "discovery_seq", "status", "signature", "final_url").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4),
          Option(r.getString(5)).getOrElse(""))).toSet
    def seenOf(df: DataFrame) = df.select("url_lower").collect().map(_.getString(0)).toSet
    val oracle = OracleCrawler.crawl(params, base, robots, seeds)
    val oraclePages = oracle.pages
      .map(p => (p.url, p.depth, p.seq, p.status, p.signature, Option(p.finalUrl).getOrElse(""))).toSet
    def engine(cfg: CrawlConfig, ck: Option[Checkpointer], hook: Option[Long => Unit] = None) =
      new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
        expectedUrls = 10000, checkpoint = ck, onEpoch = hook)
    // the snapshot's lineage counts what its tables hold
    def assertLineage(ck: Checkpointer, dir: String): Unit =
      (0L to ck.latestEpoch() by every.toLong)
        .filter(e => Files.exists(Paths.get(dir, s"epoch_$e", "manifest.json"))).foreach { e =>
          Checkpointer.lineageRows(ck.readManifest(e)).foreach { case (t, rows) =>
            assert(rows == ck.readTable(e, t).count(), s"epoch $e table $t")
          }
        }

    for ((label, threshold, cap) <- Seq(("small-path", 4096, -1), ("distributed", 0, -1),
        ("mirrorless", 4096, 5))) {
      val cfg = base.copy(smallEpochThreshold = threshold)
      val full = engine(cfg, None).crawl(seeds)
      assert(keys(full.pages) == oraclePages, s"$label: uninterrupted crawl != oracle")
      val dir = Files.createTempDirectory("graft_ckpt8").toString
      val ck = new Checkpointer(spark, dir, every = every)
      // stop two epochs past a commit: the resume replays the lost epoch
      engine(cfg.copy(maxEpochs = 2 * every + 2), Some(ck)).crawl(seeds)
      assert(ck.latestEpoch() == 2 * every, s"$label: no commit at epoch ${2 * every}")
      val jobs = new EpochJobs(spark)
      jobs.window("restore")
      val prevCap = CrawlEngine.mirrorCap
      val resumed =
        try {
          if (cap >= 0) CrawlEngine.mirrorCap = cap
          engine(cfg, Some(ck), Some(jobs.hook)).crawl(seeds, resumeFrom = Some(ck))
        } finally CrawlEngine.mirrorCap = prevCap
      val perEpoch = jobs.counts()
      assert(resumed.epochs == full.epochs, s"$label: epochs")
      assert(keys(resumed.pages) == keys(full.pages), s"$label: resumed pages != uninterrupted")
      assert(keys(resumed.pages) == oraclePages, s"$label: resumed pages != oracle")
      assert(seenOf(resumed.seen) == seenOf(full.seen), s"$label: resumed seen != uninterrupted")
      assert(seenOf(resumed.seen) == oracle.seen, s"$label: resumed seen != oracle")
      // the restore took the intended path: with the mirrors back, the
      // epochs after the first resumed one run no job unless they commit;
      // without them every epoch probes the stores
      val later = resumed.metrics.drop(1).filter(m => m.epoch % every != 0)
        .map(m => m.epoch -> perEpoch.getOrElse(m.epoch.toString, Nil))
      assert(later.nonEmpty)
      if (label == "small-path") {
        // the restore reads its tables on the driver, and commits write
        // driver-held tables: the restore window (restore plus the first
        // resumed epoch) and every later epoch, commits included, run no job
        val restore = perEpoch.getOrElse("restore", Nil)
        assert(restore.isEmpty, s"small-path restore ran Spark jobs: $restore")
        assert(resumed.metrics.drop(1).exists(_.epoch % every == 0), "no resumed commit")
        resumed.metrics.drop(1).foreach { m =>
          val ran = perEpoch.getOrElse(m.epoch.toString, Nil)
          assert(ran.isEmpty, s"resumed epoch ${m.epoch} ran Spark jobs: $ran")
        }
        val end = perEpoch.getOrElse(resumed.epochs.toString, Nil)
        assert(end.isEmpty, s"the resumed call ran Spark jobs after its last epoch: $end")
      } else
        later.foreach { case (e, ran) => assert(ran.nonEmpty, s"$label: resumed epoch $e ran no job") }
      assertLineage(ck, dir)
    }
  }

  test("pages snapshots form a chain of deltas; a resume from every snapshot matches") {
    spark.sparkContext.setLogLevel("ERROR")
    // a per-host cap spreads the crawl over enough epochs for >= 3 commits
    val params = CorpusParams(seed = 5L, hosts = 3, pagesPerHost = 10, fanout = 3,
      dupContentEvery = 7, errorEvery = 11)
    val seeds = (0 until params.hosts).map(i => s"https://www.site$i.com/")
    val every = 2
    val base = CrawlConfig(externalDomains = Set("*"), normalize = true, maxPerHostPerEpoch = 2,
      checkpointEvery = every, maxEpochs = 40)
    val robots = new CorpusRobots(params)
    type Key = (String, Int, Long, Int, Long, String)
    def withEpoch(df: DataFrame): Set[(Key, Long)] =
      df.select("url", "depth", "discovery_seq", "status", "signature", "final_url", "epoch")
        .collect().map(r => ((r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4),
          Option(r.getString(5)).getOrElse("")), r.getLong(6))).toSet
    def keys(df: DataFrame): Set[Key] = withEpoch(df).map(_._1)
    val oraclePages = OracleCrawler.crawl(params, base, robots, seeds).pages
      .map(p => (p.url, p.depth, p.seq, p.status, p.signature, Option(p.finalUrl).getOrElse(""))).toSet
    def engine(cfg: CrawlConfig, ck: Option[Checkpointer]) =
      new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
        expectedUrls = 10000, checkpoint = ck)
    for (threshold <- Seq(4096, 0)) {
      val cfg = base.copy(smallEpochThreshold = threshold)
      val full = engine(cfg, None).crawl(seeds)
      val fullPages = withEpoch(full.pages)
      assert(keys(full.pages) == oraclePages, s"threshold $threshold: uninterrupted != oracle")
      val dir = Files.createTempDirectory("graft_ckpt9")
      val ck = new Checkpointer(spark, dir.toString, every = every)
      val checkpointed = engine(cfg, Some(ck)).crawl(seeds)
      assert(keys(checkpointed.pages) == oraclePages, s"threshold $threshold: checkpointed != oracle")
      val snaps = (0L to ck.latestEpoch() by every.toLong)
        .filter(e => Files.exists(dir.resolve(s"epoch_$e").resolve("manifest.json")))
      assert(snaps.size >= 3 && snaps.head == 0L, s"threshold $threshold: snapshots $snaps")
      snaps.zipWithIndex.foreach { case (e, i) =>
        val m = ck.readManifest(e)
        val parent = if (i == 0) -1L else snaps(i - 1)
        assert(Checkpointer.longField(m, "parent").contains(parent), s"epoch $e parent")
        assert(Checkpointer.pagesChain(m, e) == snaps.take(i + 1), s"epoch $e chain")
        // the snapshot's own directory holds only the pages since its parent
        val delta = withEpoch(spark.read.parquet(dir.resolve(s"epoch_$e").resolve("pages").toString))
        assert(delta == fullPages.filter { case (_, pe) => pe > parent && pe <= e },
          s"threshold $threshold: epoch $e pages delta")
        assert(withEpoch(ck.readTable(e, "pages")) == fullPages.filter(_._2 <= e),
          s"threshold $threshold: epoch $e pages chain != uninterrupted through $e")
        Checkpointer.lineageRows(m).foreach { case (t, rows) =>
          assert(rows == ck.readTable(e, t).count(), s"epoch $e table $t lineage")
        }
      }
      // resume from each snapshot: a copy of the directory cut back to it;
      // snapshots of the distributed path also resume on the small path
      for (e <- snaps; resumeThreshold <- Seq(threshold, 4096).distinct) {
        val cut = upTo(dir, e)
        val ckCut = new Checkpointer(spark, cut.toString, every = every)
        assert(ckCut.latestEpoch() == e)
        val label = s"threshold $threshold, resumed at $resumeThreshold from epoch $e"
        val resumed = engine(cfg.copy(smallEpochThreshold = resumeThreshold), Some(ckCut))
          .crawl(seeds, resumeFrom = Some(ckCut))
        assert(keys(resumed.pages) == keys(full.pages), s"$label: pages != uninterrupted")
        assert(keys(resumed.pages) == oraclePages, s"$label: pages != oracle")
        assert(resumed.seen.select("url_lower").collect().map(_.getString(0)).toSet ==
          full.seen.select("url_lower").collect().map(_.getString(0)).toSet, s"$label: seen")
        // the resumed crawl's first commit follows the restored snapshot
        val next = e + every
        if (Files.exists(cut.resolve(s"epoch_$next").resolve("manifest.json")))
          assert(Checkpointer.longField(ckCut.readManifest(next), "parent").contains(e),
            s"$label: parent of the first resumed commit")
      }
      // a resume that commits to another directory starts a new chain there,
      // whose first delta carries the restored pages
      val other = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt12").toString,
        every = every)
      new CrawlEngine(spark, cfg.copy(maxEpochs = (snaps(1) + every + 1).toInt),
        new GenerativeFetcher(params), robots, expectedUrls = 10000, checkpoint = Some(other))
        .crawl(seeds, resumeFrom = Some(new Checkpointer(spark, upTo(dir, snaps(1)).toString, every = every)))
      val otherLast = other.latestEpoch()
      assert(otherLast == snaps(1) + every, s"threshold $threshold: other directory's snapshot")
      assert(Checkpointer.longField(other.readManifest(otherLast), "parent").contains(-1L))
      assert(withEpoch(other.readTable(otherLast, "pages")) == fullPages.filter(_._2 <= otherLast),
        s"threshold $threshold: carried pages chain")
    }
  }

  test("manifest fields round-trip through the Checkpointer readers; driver tables read back") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = Files.createTempDirectory("graft_ckpt11").toString
    val ck = new Checkpointer(spark, dir, every = 1)
    import spark.implicits._
    val frontier = Seq(graft.model.FrontierEntry("https://h/a\"b", "h", 1, 7L, 3, 0, 2L),
      graft.model.FrontierEntry("https://h/c", "h", 2, 8L, 1, 1, 0L)).toDS().toDF()
    val seen = Seq(("https://h/a\"b", "https://h/a\"b"), ("https://h/c", "https://h/C")).toDF("url_lower", "url")
    val sigs = spark.range(3).selectExpr("id as sig") // not driver-held: Spark writes it
    val tokens = Seq(("h", 1500L)).toDF("host", "tokens_milli")
    val pages = spark.emptyDataset[graft.model.PageRow].toDF()
    val scope = ScopeState("", "h", "https", "r\"e\\dir.host", "https://h/", Set.empty,
      fullResources = false)
    ck.commit(0, frontier, seen, sigs, tokens, pages, 42L, -1L, Map.empty, scope, Nil)
    ck.commit(1, frontier, seen, sigs, tokens, pages, 43L, 5L, Map.empty, scope, Nil)
    val m0 = ck.readManifest(0)
    val m1 = ck.readManifest(1)
    assert(Checkpointer.longField(m0, "seq_counter").contains(42L))
    assert(Checkpointer.longField(m0, "wildcard_remaining").contains(-1L))
    assert(Checkpointer.longField(m1, "seq_counter").contains(43L))
    assert(Checkpointer.strField(m0, "redirect_host").contains("r\"e\\dir.host"))
    assert(Checkpointer.strField(m0, "crawl_base").contains("https://h/"))
    assert(Checkpointer.strField(m0, "no_such_key").isEmpty)
    assert(Checkpointer.longField(m0, "parent").contains(-1L))
    assert(Checkpointer.longField(m1, "parent").contains(0L))
    assert(Checkpointer.pagesChain(m1, 1) == Seq(0L, 1L))
    // driver-written and Spark-written tables read back alike, on the
    // driver and through Spark
    assert(ck.readLocal(0, "frontier").map(r => r.getString(0) -> r.getLong(3)) ==
      Vector("https://h/a\"b" -> 7L, "https://h/c" -> 8L))
    assert(ck.readLocal(0, "seen").map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("https://h/a\"b", "https://h/a\"b"), ("https://h/c", "https://h/C")))
    assert(ck.readLocal(0, "signatures").map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    assert(ck.readLocal(1, "host_tokens").map(r => (r.getString(0), r.getLong(1))) == Vector(("h", 1500L)))
    assert(ck.readTable(0, "frontier").as[graft.model.FrontierEntry].collect().toSet ==
      frontier.as[graft.model.FrontierEntry].collect().toSet)
    assert(Files.exists(Paths.get(dir, "epoch_0", "frontier", "part-00000.parquet")))
  }

  /** A copy of checkpoint directory `dir` without its snapshots past
    * `epoch`: a resume from it restores snapshot `epoch`.
    */
  private def upTo(dir: java.nio.file.Path, epoch: Long): java.nio.file.Path = {
    val cut = Files.createTempDirectory("graft_ckpt_cut")
    val snapshot = "epoch_(\\d+)".r
    val s = Files.walk(dir)
    try s.iterator().asScala.foreach { p =>
      val rel = dir.relativize(p)
      val past = rel.getName(0).toString match {
        case snapshot(k) => k.toLong > epoch
        case _ => false
      }
      if (!past) {
        val t = cut.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      }
    } finally s.close()
    cut
  }

  /** A resume source: snapshot `epoch` of checkpoint directory `dir`. */
  private def snapshotAt(dir: java.nio.file.Path, epoch: Long): Checkpointer =
    new Checkpointer(spark, upTo(dir, epoch).toString, every = 1)

  private def snapshots(dir: java.nio.file.Path, last: Long): Seq[Long] =
    (0L to last).filter(e => Files.exists(dir.resolve(s"epoch_$e").resolve("manifest.json")))

  test("a resume from the budget-stop snapshot stops where the uninterrupted crawl stopped") {
    spark.sparkContext.setLogLevel("ERROR")
    // a wildcard budget stops the crawl with a frontier left; the restored
    // stop must hold: no further epoch and no further snapshot
    val params = CorpusParams(hosts = 2, pagesPerHost = 40)
    val seeds = Seq("https://www.site0.com/")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    def pagesOf(df: DataFrame) =
      rows(df.select("url", "depth", "discovery_seq", "status", "signature", "epoch"))
    for (threshold <- Seq(4096, 0)) {
      val cfg = CrawlConfig(budget = Map("*" -> 12), maxEpochs = 20, smallEpochThreshold = threshold)
      def engine(ck: Option[Checkpointer]) = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
        new CorpusRobots(params), expectedUrls = 10000, checkpoint = ck)
      val label = s"threshold $threshold"
      val full = engine(None).crawl(seeds)
      assert(full.metrics.last.budget_stopped && full.frontierRemainder.count() > 0,
        s"$label: the budget did not stop the crawl with a frontier left")
      val ck = new Checkpointer(spark, Files.createTempDirectory("graft_ckpt_budget").toString, every = 1)
      engine(Some(ck)).crawl(seeds)
      val last = ck.latestEpoch()
      assert(last == full.epochs - 1, s"$label: last snapshot $last of ${full.epochs} epochs")
      val resumed = engine(Some(ck)).crawl(seeds, resumeFrom = Some(ck))
      assert(resumed.epochs == full.epochs, s"$label: ${resumed.epochs} epochs against ${full.epochs}")
      assert(ck.latestEpoch() == last, s"$label: the resume wrote epoch_${ck.latestEpoch()}")
      assert(rows(resumed.frontierRemainder) == rows(full.frontierRemainder), s"$label: frontier")
      assert(pagesOf(resumed.pages) == pagesOf(full.pages), s"$label: pages")
    }
  }

  test("a resume keeps the reactive politeness state: 429 Retry-After and latency EMA") {
    spark.sparkContext.setLogLevel("ERROR")
    // the uninterrupted crawl (snapshotting every epoch), the oracle and a
    // resume after 3, 6 and 10 epochs (6 and 10 on the distributed path)
    // must pace alike: the same epochs, every page in the same epoch
    val shapes = Seq(
      ("429", CorpusParams(hosts = 1, pagesPerHost = 10, rateLimitEvery = 4, retryAfterMs = 2000L),
        CrawlConfig(delayMs = 100, tickMs = 1000, retryLimit = 1, maxEpochs = 120)),
      ("EMA", CorpusParams(hosts = 3, pagesPerHost = 60, fanout = 2),
        CrawlConfig(delayMs = 1, tickMs = 1000, maxEpochs = 120, autoThrottle = true,
          autoThrottleTargetConcurrency = 0.1, autoThrottleMaxDelayMs = 1000L)))
    def pagesOf(df: DataFrame) = df.select("url", "depth", "discovery_seq", "status", "epoch").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4))).toSet
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((name, params, base) <- shapes) {
      val seeds = (0 until params.hosts).map(i => s"https://www.site$i.com/")
      val robots = new CorpusRobots(params)
      val oracle = OracleCrawler.crawl(params, base, robots, seeds)
      val oraclePages = oracle.pages.map(p => (p.url, p.depth, p.seq, p.status, p.epoch)).toSet
      for (threshold <- Seq(4096, 0)) {
        val cfg = base.copy(smallEpochThreshold = threshold)
        def engine(ck: Checkpointer) = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), robots,
          expectedUrls = 10000, checkpoint = Some(ck))
        val dir = Files.createTempDirectory("graft_ckpt_react")
        val ck = new Checkpointer(spark, dir.toString, every = 1)
        val full = engine(ck).crawl(seeds)
        val fullPages = pagesOf(full.pages)
        assert(full.epochs == oracle.epochs && fullPages == oraclePages,
          s"$name, threshold $threshold: uninterrupted crawl != oracle")
        // killed after `stop` epochs: resumed from the snapshots up to then
        for (stop <- if (threshold > 0) Seq(3, 6, 10) else Seq(6, 10)) {
          val cut = snapshotAt(dir, stop - 1)
          val snap = cut.latestEpoch()
          val resumed = engine(cut).crawl(seeds, resumeFrom = Some(cut))
          val resumedPages = pagesOf(resumed.pages)
          val differ = ((fullPages -- resumedPages) ++ (resumedPages -- fullPages)).size
          if (resumed.epochs != full.epochs || differ != 0)
            failures += s"$name, threshold $threshold, resumed after $stop epochs (snapshot $snap): " +
              s"${resumed.epochs} epochs against ${full.epochs}, $differ page rows differ"
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("each snapshot's state round-trips: a one-epoch resume writes the next snapshot exactly") {
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    // 429s, the latency-EMA auto-throttle and a wildcard budget that stops
    // the crawl: every piece of loop state moves between snapshots
    val params = CorpusParams(hosts = 2, pagesPerHost = 20, rateLimitEvery = 5, retryAfterMs = 2000L)
    val seeds = Seq("https://www.site0.com/", "https://www.site1.com/")
    val base = CrawlConfig(delayMs = 100, tickMs = 1000, retryLimit = 1, autoThrottle = true,
      autoThrottleTargetConcurrency = 0.1, autoThrottleMaxDelayMs = 1000L, budget = Map("*" -> 24),
      maxEpochs = 120)
    val robots = new CorpusRobots(params)
    val tableNames = Seq("frontier", "seen", "signatures", "host_tokens", "pages")
    def tables(ck: Checkpointer, e: Long) =
      tableNames.map(t => t -> ck.readTable(e, t).collect().map(_.toSeq).toSet).toMap
    // the manifest's ledger fields, snapshot e's own metrics entry, the
    // whole metrics series (a resumed call writes the restored entries
    // ahead of its own; no wall times) and the lineage row counts
    def ledger(m: String, e: Long) = (
      Seq("seq_counter", "wildcard_remaining").map(Checkpointer.longField(m, _)),
      Checkpointer.pathBudget(m),
      Seq("sub_matcher", "parent_host", "parent_scheme", "redirect_host", "crawl_base")
        .map(Checkpointer.strField(m, _)),
      Checkpointer.chainState(m), Checkpointer.discoveredSitemaps(m),
      ("\\{\"epoch\":" + e + ",[^}]*\\}").r.findFirstIn(m.substring(m.indexOf("\"metrics\""))),
      Checkpointer.metrics(m).map(_.copy(wall_ms = 0L)),
      Checkpointer.lineageRows(m))
    for (threshold <- Seq(4096, 0)) {
      val cfg = base.copy(smallEpochThreshold = threshold)
      def engine(c: CrawlConfig, ck: Checkpointer) = new CrawlEngine(spark, c,
        new GenerativeFetcher(params), robots, expectedUrls = 10000, checkpoint = Some(ck))
      val dirA = Files.createTempDirectory("graft_ckpt_a")
      val ckA = new Checkpointer(spark, dirA.toString, every = 1)
      val full = engine(cfg, ckA).crawl(seeds)
      assert(full.metrics.last.budget_stopped, s"threshold $threshold: the budget did not stop the crawl")
      assert(full.pages.filter("status = 429").count() > 0, s"threshold $threshold: no 429 page")
      val snaps = snapshots(dirA, ckA.latestEpoch())
      assert(snaps.last == full.epochs - 1, s"threshold $threshold: snapshots $snaps")
      val checked =
        if (threshold > 0) snaps
        else snaps.zipWithIndex.collect { case (e, i) if i % 3 == 0 || e == snaps.last => e }
      for (e <- checked) {
        val label = s"threshold $threshold, resumed from epoch $e"
        val dirB = Files.createTempDirectory("graft_ckpt_b")
        val ckB = new Checkpointer(spark, dirB.toString, every = 1)
        engine(cfg.copy(maxEpochs = (e + 2).toInt), ckB)
          .crawl(seeds, resumeFrom = Some(snapshotAt(dirA, e)))
        if (!snaps.contains(e + 1))
          assert(ckB.latestEpoch() == -1, s"$label: wrote epoch_${ckB.latestEpoch()}")
        else {
          assert(ckB.latestEpoch() == e + 1, s"$label: latest snapshot ${ckB.latestEpoch()}")
          val (ta, tb) = (tables(ckA, e + 1), tables(ckB, e + 1))
          tableNames.foreach(t => assert(tb(t) == ta(t), s"$label: table $t"))
          assert(ledger(ckB.readManifest(e + 1), e + 1) == ledger(ckA.readManifest(e + 1), e + 1),
            s"$label: manifest")
          val series = Checkpointer.metrics(ckB.readManifest(e + 1)).map(_.epoch)
          assert(series.size > 1 && series.last == e + 1, s"$label: metrics series $series")
        }
      }
    }
    info(f"round trips took ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("the small-path page buffer flushes by span bytes before its row cap") {
    spark.sparkContext.setLogLevel("ERROR")
    // pages of ~100 KB of span text: the byte cap is reached after a few
    // hundred pages, far below the 16,384-row cap
    val params = CorpusParams(hosts = 2, pagesPerHost = 150, textWords = 3000)
    val cfg = CrawlConfig(maxEpochs = 40)
    val seeds = Seq("https://www.site0.com/", "https://www.site1.com/")
    val jobs = new EpochJobs(spark)
    jobs.window("0")
    val res = new CrawlEngine(spark, cfg, new GenerativeFetcher(params), new CorpusRobots(params),
      expectedUrls = 10000, onEpoch = Some(jobs.hook)).crawl(seeds)
    val perEpoch = jobs.counts()
    val fetched = res.metrics.map(_.fetched).sum
    assert(fetched < CrawlEngine.pageBufCap, s"$fetched pages reach the row cap")
    // with no checkpoint and the mirrors live, a small-path epoch runs a
    // job only to flush the buffer
    val flushed = res.metrics.filter(m => perEpoch.getOrElse(m.epoch.toString, Nil).nonEmpty)
    assert(flushed.nonEmpty, s"no epoch flushed the buffer ($fetched pages)")
    val oracle = OracleCrawler.crawl(params, cfg, new CorpusRobots(params), seeds)
    val got = res.pages.select("url", "depth", "discovery_seq", "status", "signature").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(got.length == oracle.pages.size)
    assert(got.toSet == oracle.pages.map(p => (p.url, p.depth, p.seq, p.status, p.signature)).toSet)
  }
}
