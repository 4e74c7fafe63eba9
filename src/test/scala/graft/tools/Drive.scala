package graft.tools

import org.apache.spark.sql.SparkSession

/** Manual driving harness: exercises the library through its public surface
  * (a real SparkSession) with codegen forced on, so `sbt "Test/runMain
  * graft.tools.Drive"` observes the expressions executing inside
  * whole-stage codegen. A test-source tool, not part of the engine.
  */
object Drive {
  def session(cores: Int = 4): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("oracledump")) {
      // dump the sequential OracleCrawler's page rows as SQL VALUES lists —
      // source for the pinned crawl_basic/crawl_budget oracle entries in
      // SparkEntry (independently re-asserted by CrawlPinSpec)
      import graft.corpus.CorpusParams
      import graft.engine.CorpusRobots
      import graft.model.CrawlConfig
      import graft.oracle.OracleCrawler
      def esc(s: String) = "'" + s.replace("'", "''") + "'"
      val basic = OracleCrawler.crawl(CorpusParams(hosts = 2, pagesPerHost = 40),
        CrawlConfig(maxEpochs = 20), new CorpusRobots(CorpusParams(hosts = 2, pagesPerHost = 40)),
        Seq("https://www.site0.com/"))
      println("BASIC_ROWS " + basic.pages.map(p =>
        s"(${esc(p.url)},${p.depth},${p.status},CAST(${p.signature} AS BIGINT))").mkString("|"))
      val pb = CorpusParams(hosts = 2, pagesPerHost = 60)
      val budget = OracleCrawler.crawl(pb,
        CrawlConfig(budget = Map("*" -> 12, "en" -> 3), maxEpochs = 20),
        new CorpusRobots(pb), Seq("https://www.site0.com/"))
      println("BUDGET_ROWS " + budget.pages.map(p =>
        s"(${esc(p.url)},${p.depth},${p.status})").mkString("|"))
      val ts = graft.queries.Queries.ThrottleScenario
      val throttle = OracleCrawler.crawl(ts.params, ts.config,
        new CorpusRobots(ts.params), ts.seeds)
      println("THROTTLE_ROWS " + throttle.pages.map(p =>
        s"(${esc(p.url)},${p.depth},${p.status},CAST(${p.epoch} AS BIGINT))").mkString("|"))
      val ss = graft.queries.Queries.SitemapScenario
      val sitemap = OracleCrawler.crawl(ss.params, ss.config,
        new CorpusRobots(ss.params), ss.seeds, sitemapChain = true)
      println("SITEMAP_ROWS " + sitemap.pages.map(p =>
        s"(${esc(p.url)},${p.depth},${p.status})").mkString("|"))
      val smOnly = OracleCrawler.crawl(ss.params, ss.config,
        new CorpusRobots(ss.params), ss.seeds, sitemapOnly = true)
      println("SITEMAP_ONLY_ROWS " + smOnly.pages.map(p =>
        s"(${esc(p.url)},${p.depth},${p.status})").mkString("|"))
      val bs = graft.queries.Queries.BlockedScenario
      val blockedRes = OracleCrawler.crawl(bs.params, bs.config,
        new CorpusRobots(bs.params), bs.seeds, onShouldCrawl = Some(bs.veto))
      println("BLOCKED_ROWS " + blockedRes.blocked.map { case (u, r, e) =>
        s"(${esc(u)},${esc(r)},CAST($e AS BIGINT))" }.mkString("|"))
      return
    }
    if (args.headOption.contains("crawl")) { crawlDemo(); return }
    if (args.headOption.contains("q")) {
      // run one SparkEntry query by name: Drive q <name> [sfDir]
      val spark = session(8)
      val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
      val df = graft.SparkEntry.queries(args(1))(spark, dir)
      df.show(20, 80)
      println("ROWS=" + df.count())
      spark.stop(); return
    }
    val spark = session()
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.url.urlfns._
    val df = Seq(
      ("https://example.com/path/", "/subpage"),
      ("https://example.com/a/b/page.html", "../up"),
      ("https://example.com", "mailto:x@y.z"),
      ("https://example.com", "HTTP://Other.COM/X#frag"),
      ("https://example.com", "/big.zip"),
      ("https://example.com", "ab:éé"),
      (null, "/x")
    ).toDF("base", "href")
    val out = df.select($"base", $"href",
      canonicalize_url($"base", $"href").as("canon"),
      url_host(canonicalize_url($"base", $"href")).as("host"),
      path_depth(canonicalize_url($"base", $"href")).as("depth"),
      score_url(canonicalize_url($"base", $"href"), lit(2)).as("score"),
      is_ignored_asset(canonicalize_url($"base", $"href")).as("asset"))
    out.show(false)
    out.explain("formatted")
    println("ROWS=" + out.count())

    // Drive through a non-local source so the expressions must survive
    // WholeStageCodegen (LocalTableScan constant-folds them at plan time).
    val gen = spark.range(0, 100000)
      .select(
        concat(lit("https://h"), $"id" % 50, lit(".example.com/d")).as("base"),
        concat(lit("p/"), $"id", lit(".html#x")).as("href"))
      .select(canonicalize_url($"base", $"href").as("url"))
      .select($"url", url_host($"url").as("host"), path_depth($"url").as("d"),
        score_url($"url", lit(1)).as("s"), is_media_asset($"url").as("m"))
    gen.explain("formatted")
    val agg = gen.groupBy($"host").count().orderBy($"host").limit(3)
    agg.show(false)
    println("DISTINCT_HOSTS=" + gen.select($"host").distinct().count())
    spark.stop()
  }

  /** End-to-end crawl through the public engine API. */
  def crawlDemo(): Unit = {
    import graft.corpus.CorpusParams
    import graft.engine.{CorpusRobots, CrawlEngine, GenerativeFetcher}
    import graft.model.CrawlConfig
    val spark = session()
    import org.apache.spark.sql.functions._
    val params = CorpusParams(hosts = 4, pagesPerHost = 120, dupContentEvery = 7,
      redirectEvery = 11, errorEvery = 13)
    val cfg = CrawlConfig(respectRobotsTxt = true, retryLimit = 1, maxEpochs = 40)
    val engine = new CrawlEngine(spark, cfg, new GenerativeFetcher(params),
      new CorpusRobots(params), expectedUrls = 100000)
    val t0 = System.nanoTime()
    val res = engine.crawl(Seq("https://www.site1.com/"))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"CRAWL done: epochs=${res.epochs} pages=${res.pages.count()} seen=${res.seen.count()} in $secs%.1fs")
    res.pages.groupBy(col("status")).count().orderBy(col("status")).show()
    res.pages.orderBy(col("depth"), col("discovery_seq")).select(
      col("url"), col("final_url"), col("depth"), col("status"), col("title")).show(8, 60)
    println("metrics=" + res.metrics.map(m => (m.epoch, m.admitted, m.new_links)).mkString(" "))
    spark.stop()
  }
}
